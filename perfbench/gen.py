"""Seeded input generators for the benchmark workloads.

Inputs are made here with NumPy + PyArrow, outside the Spark JVM, so the
engine only ever sees finished parquet files and the cold pass is not warmed
by generation.  The same ``seed`` always yields byte-identical inputs.

- ``write_telemetry``: the flagship pipeline input, in the schema and by the
  row rules of ``sources.synthetic.gen_telemetry`` (doc_id, tokens, n_tok,
  source, raw): row ``i`` has timestamp 2024-01-01 + ``i`` seconds, level
  ``LEVELS[i % 4]`` (so no TRACE and no malformed lines), ``svc=api-{i % 7}``,
  the three words ``i``, ``i + 1``, ``i + 2`` of the 16-word vocabulary and
  ``k={i % 100}``.  The seeded parts are drawn here with NumPy where
  ``gen_telemetry`` hashes them: the source (same Zipf-like 1/(k+1) weights,
  src0 about 34 % of rows), the token list (8–128 ids) and the 32-hex trace
  id (one 16-hex half written twice).
- ``write_testdata``: the ``events`` and ``documents`` tables the operator
  sweep's keys read, in the column names and types of the repository's ``sfN``
  test data, one parquet file per table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LEVELS = np.array(["DEBUG", "INFO", "WARN", "ERROR"])
VOCAB16 = np.array(
    "scan parse route merge batch spill shuffle probe "
    "flush drain retry defer split salt prune emit".split()
)
_SRC_W = np.array([1.0 / (k + 1) for k in range(10)])
SOURCES = np.array([f"src{k}" for k in range(10)])


def _join(*parts: pa.Array | str) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _str(ints: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(ints), pa.string())


def telemetry_table(n_rows: int, seed: int) -> pa.Table:
    """The pipeline input as an Arrow table (see module docstring)."""
    rng = np.random.default_rng([seed, 1])
    i = np.arange(n_rows, dtype=np.int64)
    lengths = rng.integers(8, 129, n_rows).astype(np.int32)
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(0, 50257, int(offsets[-1]), dtype=np.int32))
    )
    source = SOURCES[rng.choice(10, n_rows, p=_SRC_W / _SRC_W.sum())]

    ts = np.datetime_as_string(np.datetime64("2024-01-01T00:00:00") + i.astype("m8[s]"), unit="s")
    half = pa.array(np.frombuffer(rng.bytes(8 * n_rows).hex().encode(), dtype="S16"), pa.binary(16))
    half = half.cast(pa.string())
    raw = _join(
        pa.array(ts), "Z ", pa.array(LEVELS[i % 4]), " svc=api-", _str(i % 7), " trace=", half, half,
        ' msg="', pa.array(VOCAB16[i % 16]), " ", pa.array(VOCAB16[(i + 1) % 16]), " ",
        pa.array(VOCAB16[(i + 2) % 16]), '" k=', _str(i % 100),
    )

    return pa.table(
        {
            "doc_id": _join("doc", pc.utf8_lpad(_str(i), 10, "0")),
            "tokens": tokens,
            "n_tok": pa.array(lengths),
            "source": pa.array(source),
            "raw": raw,
        }
    )


def write_telemetry(path: str, n_rows: int, seed: int, files: int) -> None:
    """Write the pipeline input as ``files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = telemetry_table(n_rows, seed)
    step = -(-n_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:05d}.parquet"))


# --------------------------------------------------------------------------
# operator-sweep test data (the sfN test-data schema, TESTDATA.md)
# --------------------------------------------------------------------------

DOC_VOCAB = np.array(
    "a the row query stream fast spark line small customer group value hash batch "
    "sort data big filter dup key agg scan slow table part merge window order "
    "column join vector".split()
)


def _ts(base: str, micros: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + micros.astype("m8[us]"), pa.timestamp("us"))


def testdata_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The test-data tables the sweep keys read, at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 2])
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))),
        "user_id": pa.array(rng.integers(0, 150, n_ev)),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n_ev), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    })
    # documents: Zipf-ish word choice; one doc in ten is a near-duplicate of
    # an earlier doc (two words replaced)
    word_p = 1.0 / np.arange(1, len(DOC_VOCAB) + 1)
    texts: list[str] = []
    for d in range(n_doc):
        if d >= 20 and rng.random() < 0.1:
            w = texts[int(rng.integers(0, d))].split(" ")
            for j in rng.integers(0, len(w), 2):
                w[j] = DOC_VOCAB[rng.integers(0, len(DOC_VOCAB))]
        else:
            w = list(DOC_VOCAB[rng.choice(len(DOC_VOCAB), int(rng.integers(10, 100)), p=word_p / word_p.sum())])
        texts.append(" ".join(w))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.integers(0, len(langs), n_doc)]),
        "source": [f"src{d % 20}" for d in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return {"events": events, "documents": documents}


def write_testdata(path: str, sf: float, seed: int) -> int:
    """Write the sweep tables as ``<path>/<table>.parquet``; returns total rows."""
    os.makedirs(path, exist_ok=True)
    rows = 0
    for name, table in testdata_tables(sf, seed).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        rows += table.num_rows
    return rows
