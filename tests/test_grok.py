"""Grok planner: alias expansion, name→index mapping, first-match semantics."""

import re

import pyspark.sql.functions as F
import pytest

from opentelemetry_collector_spark.functions.grok import (
    GrokPattern,
    grok_extract,
    grok_first_match,
    grok_to_regex,
)


def test_alias_expansion():
    rx = grok_to_regex("%{LOGLEVEL:level} k=%{INT:k}")
    assert "(?P<level>" in rx and "(?P<k>" in rx
    m = re.match(rx, "ERROR k=-3")
    assert m.group("level") == "ERROR" and m.group("k") == "-3"


def test_unknown_alias_raises():
    with pytest.raises(KeyError):
        grok_to_regex("%{NOPE:x}")


def test_group_index_mapping_matches_python_re():
    p = GrokPattern(r"(?P<a>\w+)-(?:skip)-(?P<b>\d+)")
    assert p.group_index == {"a": 1, "b": 2}


def test_extract_on_dataframe(spark):
    df = spark.createDataFrame(
        [("2024-01-01T00:00:05Z WARN svc=api-3 k=42",), ("garbage",)], "raw string"
    )
    p = GrokPattern(
        r"^%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} svc=(?P<svc>[\w-]+) k=%{INT:k}$",
        types={"k": "int", "ts": "timestamp"},
    )
    rows = df.select("raw", *p.columns(F.col("raw")).values()).orderBy("raw").collect()
    ok = [r for r in rows if r.raw != "garbage"][0]
    bad = [r for r in rows if r.raw == "garbage"][0]
    assert ok.level == "WARN" and ok.svc == "api-3" and ok.k == 42
    assert ok.ts is not None
    assert bad.level is None and bad.k is None  # no-match → NULL, not ''


def test_grok_extract_helper(spark):
    df = spark.createDataFrame([("a=1 b=two",)], "raw string")
    out = grok_extract(df, "raw", r"a=(?P<a>\d+) b=(?P<b>\w+)", {"a": "int"}).collect()[0]
    assert out.a == 1 and out.b == "two"


def test_first_match_wins(spark):
    """span processor to_attributes with break_after_match."""
    df = spark.createDataFrame([("GET /user/42",), ("POST /cart/7/add",)], "name string")
    pats = [
        GrokPattern(r"^GET /user/(?P<id>\d+)$"),
        GrokPattern(r"^POST /cart/(?P<id>\d+)/add$"),
    ]
    out = df.select("name", grok_first_match(F.col("name"), pats, "id").alias("id"))
    got = {r.name: r.id for r in out.collect()}
    assert got == {"GET /user/42": "42", "POST /cart/7/add": "7"}


def test_escaped_dollar_is_not_an_anchor(spark):
    """'\\$' at pattern end is a literal dollar, not an anchor: the pattern
    must take the per-group regexp_extract slow path, and trailing text
    after the match must not leak into the last field (ADVICE r1)."""
    from opentelemetry_collector_spark.functions.grok import GrokPattern

    p = GrokPattern(r"^price=(?P<n>\d+) cur=(?P<c>\w+)\$")
    assert not p.anchored  # ≥2 groups, so only the anchor check keeps it out
    df = spark.createDataFrame(
        [("price=42 cur=usd$ trailing junk",), ("price=7 cur=eur$",)], "raw string"
    )
    out = df.select(*p.columns(F.col("raw")).values()).collect()
    assert [(r.n, r.c) for r in out] == [("42", "usd"), ("7", "eur")]


def test_doubly_escaped_dollar_is_an_anchor(spark):
    r"""'\\\\$' is literal-backslash + anchor — fast path stays eligible."""
    from opentelemetry_collector_spark.functions.grok import GrokPattern

    p = GrokPattern("^a=(?P<a>\\d+) b=(?P<b>\\w+)\\\\$")
    assert p.anchored


def test_top_level_alternation_disables_fast_path(spark):
    """'^a|b$' anchors bind per-alternative — must take the slow path and
    still extract correctly mid-line (code-review finding r2)."""
    from opentelemetry_collector_spark.functions.grok import GrokPattern

    p = GrokPattern(r"^err=(?P<a>\d+)|(?P<b>\w+) done$")
    assert not p.anchored
    df = spark.createDataFrame([("prefix text foo done",), ("err=42",)], "raw string")
    out = df.select(*p.columns(F.col("raw")).values()).collect()
    assert (out[0].a, out[0].b) == (None, "foo")
    assert (out[1].a, out[1].b) == ("42", None)
    # alternation INSIDE a group stays fast-path eligible
    p2 = GrokPattern(r"^lvl=(?P<lvl>INFO|WARN) k=(?P<k>\d+)$")
    assert p2.anchored
