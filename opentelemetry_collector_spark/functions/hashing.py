"""Hashing: FNV-1a (sampler parity), portable buckets, token digests.

Collector parity target: the probabilistic sampler hashes the trace id with
FNV-1a 32 and keeps a record iff ``hash & 0x3FFF < pct * 0x4000 / 100``
(processor/probabilisticsamplerprocessor/hash.go ~approx, computeHash).
Spark has no FNV built-in, so ``fnv1a32_udf`` is a numpy-vectorized pandas
UDF: per-byte-position loop over a padded uint8 matrix — ~max_len numpy ops
per Arrow batch, never per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import LongType

FNV_OFFSET32 = np.uint32(2166136261)
FNV_PRIME32 = np.uint32(16777619)

NUM_SAMPLER_BUCKETS = 1 << 14  # collector: numHashBuckets = 0x4000


def fnv1a32(data: list[bytes], seed: int = 0) -> np.ndarray:
    """Vectorized FNV-1a 32 over a batch of byte strings.

    Matches the collector's computeHash: the 4 big-endian bytes of
    ``hash_seed`` are prepended to the key bytes, then standard FNV-1a.
    uint32 wraparound is exact (numpy uint32 arithmetic).
    """
    seed_bytes = int(seed).to_bytes(4, "big")
    if not data:
        return np.empty(0, dtype=np.uint32)
    keys = [seed_bytes + (d or b"") for d in data]
    max_len = max(len(k) for k in keys)
    mat = np.zeros((len(keys), max_len), dtype=np.uint8)
    lens = np.empty(len(keys), dtype=np.int64)
    for r, k in enumerate(keys):  # batch assembly only; the hash loop below is vectorized
        mat[r, : len(k)] = np.frombuffer(k, dtype=np.uint8)
        lens[r] = len(k)
    h = np.full(len(keys), FNV_OFFSET32, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for pos in range(max_len):
            active = lens > pos
            hx = h[active] ^ mat[active, pos].astype(np.uint32)
            h[active] = hx * FNV_PRIME32
    return h


@F.pandas_udf(LongType())
def fnv1a32_udf(ids: pd.Series, seed: pd.Series) -> pd.Series:
    """Arrow-batched FNV-1a over a string id column (seed column is constant)."""
    s = int(seed.iloc[0]) if len(seed) else 0
    out = fnv1a32([x.encode() if isinstance(x, str) else x for x in ids.fillna("")], s)
    return pd.Series(out.astype(np.int64))


def portable_bucket(col: Column, n_buckets: int, prime: int = 100003, mult: int = 2654435761) -> Column:
    """Deterministic bucket computable identically in Spark SQL and DuckDB.

    ``((col mod prime) * mult) mod n_buckets`` over int64 — overflow-safe
    (prime*mult < 2^63) so it survives ANSI mode and matches any engine with
    64-bit integer semantics.  Used for oracle-checkable sampling; the
    engine-native fast path uses ``xxhash64`` instead.  Non-numeric string
    ids fall back to crc32 (still deterministic, not oracle-portable).
    """
    key = F.coalesce(col.try_cast("long"), F.crc32(col.cast("string")).cast("long"))
    return F.pmod(F.pmod(key, F.lit(prime)) * F.lit(mult), F.lit(n_buckets))


def token_digest(tokens: Column) -> Column:
    """Order-sensitive 64-bit digest of an ``array<int32>`` token column.

    Used for the per-row token-array-equality invariant at bench scale
    (FIXTURES.md §1): xxhash64 over the array value hashes structure, not a
    string rendering, so no int32→string lossiness.
    """
    return F.xxhash64(tokens)


def salted_key(source: Column, doc_id: Column, n_salt: int) -> list[Column]:
    """Composite shuffle key ``(source, pmod(xxhash64(doc_id), n_salt))``.

    The explicit skew treatment mandated by the north_rule: the zipf-heavy
    head source (src0 ≈ 34 % of rows) is spread over ``n_salt`` distinct
    keys instead of hashing to one reducer.  ``n_salt`` is the salt width,
    not a partition count: the shuffle the key feeds (a ``repartition`` or
    an AQE ``rebalance``) decides how many partitions the keys land in.
    """
    return [source, F.pmod(F.xxhash64(doc_id), F.lit(n_salt)).alias("_salt")]
