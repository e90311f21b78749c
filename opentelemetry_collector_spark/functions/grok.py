"""Grok/regex parse planner (SURVEY.md §2.4 P6/P9).

Collector parity target: the attraction engine's ``extract`` action runs a
regex with named capture groups over an attribute value and fans the groups
out into new attributes (internal/processor/attraction/attraction.go ~approx,
extractAttributes; config Regex + SubexpNames).  Spark's ``regexp_extract``
has no named groups, so the planner compiles the pattern **once at plan
time** with Python ``re``, maps group-name → group-index, and emits one
``regexp_extract(col, java_pattern, idx)`` column per group — all JVM-side,
inside whole-stage codegen.

Multi-pattern grok (first-match-wins across a pattern list) compiles to a
``coalesce`` of ``nullif(regexp_extract(...), '')`` chains.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Minimal grok alias library (the classic logstash names users expect).
GROK_LIB = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "LOGLEVEL": r"TRACE|DEBUG|INFO|WARN|WARNING|ERROR|FATAL",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "HEX": r"[0-9a-fA-F]+",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "IP": r"\d{1,3}(?:\.\d{1,3}){3}",
    "GREEDYDATA": r".*",
    "DATA": r".*?",
    "QUOTEDSTRING": r'"[^"]*"',
}

_GROK_TOKEN = re.compile(r"%\{(\w+)(?::(\w+))?\}")
_NAMED_GROUP = re.compile(r"\(\?P<(\w+)>")


def grok_to_regex(pattern: str) -> str:
    """Expand ``%{ALIAS:field}`` tokens into ``(?P<field>...)`` regex groups."""

    def sub(m: re.Match) -> str:
        alias, name = m.group(1), m.group(2)
        frag = GROK_LIB.get(alias)
        if frag is None:
            raise KeyError(f"unknown grok alias %{{{alias}}}")
        return f"(?P<{name}>{frag})" if name else f"(?:{frag})"

    return _GROK_TOKEN.sub(sub, pattern)


def _ends_with_unescaped_dollar(regex: str) -> bool:
    if not regex.endswith("$"):
        return False
    n = 0
    i = len(regex) - 2
    while i >= 0 and regex[i] == "\\":
        n += 1
        i -= 1
    return n % 2 == 0


def _has_top_level_alternation(regex: str) -> bool:
    """'^a|b$' is NOT fully anchored: the anchors bind per-alternative, so
    a top-level (depth-0, unescaped, outside char classes) '|' disqualifies
    the replace-then-split fast path."""
    depth = 0
    in_class = False
    i = 0
    while i < len(regex):
        ch = regex[i]
        if ch == "\\":
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
        elif ch == "[":
            in_class = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "|" and depth == 0:
            return True
        i += 1
    return False


@dataclass
class GrokPattern:
    """A compiled parse plan: group name → regexp_extract index.

    ``pattern`` may use grok aliases (``%{LOGLEVEL:level}``) and/or Python
    named groups.  ``types`` optionally casts extracted strings.
    """

    pattern: str
    types: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.regex = grok_to_regex(self.pattern)
        compiled = re.compile(self.regex)
        self.group_index: dict[str, int] = dict(compiled.groupindex)
        self.n_groups = compiled.groups
        if not self.group_index:
            raise ValueError(f"pattern has no named groups: {self.pattern!r}")
        # Java regex uses (?<name>...); Python's (?P<name>...) — emit plain
        # unnamed groups for the JVM and rely on the index map instead.
        self.java_regex = _NAMED_GROUP.sub("(", self.regex)
        # Fully-anchored patterns qualify for the single-pass fast path.
        # A trailing literal '\$' (escaped dollar) is NOT an anchor: count
        # the backslashes before the final '$' — odd means it's escaped and
        # the replace-then-split rewrite would silently corrupt tail text.
        self.anchored = (
            self.regex.startswith("^")
            and _ends_with_unescaped_dollar(self.regex)
            and not _has_top_level_alternation(self.regex)
        )

    _SEP = "\x01"  # never appears in log text; documented limitation

    def columns(self, col: Column) -> dict[str, Column]:
        """All named groups, JVM-side, '' / no-match → NULL.

        Fast path (anchored pattern, ≥2 groups): ONE regex evaluation per row
        — ``regexp_replace`` rewrites the whole line into a \\x01-delimited
        group list, ``split`` + ``element_at`` fan the fields out (cheap
        substring ops).  ``regexp_extract`` per group would re-run the same
        pattern N times per row — measured 2-3× slower at 6 groups.  The
        slow path keeps per-group ``regexp_extract`` for unanchored patterns
        (where replace-then-split would corrupt surrounding text).
        """
        out: dict[str, Column] = {}
        if self.anchored and len(self.group_index) >= 2:
            # Replacement = "\x02␁$1␁$2…": the leading marker shifts every
            # field to index ≥2, so a non-matching line (left unchanged by
            # regexp_replace ⇒ split yields ONE element) makes every
            # try_element_at out-of-bounds ⇒ NULL — no conditional needed.
            # A when()-guard here would defeat codegen common-subexpression
            # elimination and re-run the regex per column (measured 8×).
            repl = self._SEP.join(["\x02"] + [f"${i}" for i in range(1, self.n_groups + 1)])
            parts = F.split(F.regexp_replace(col, self.java_regex, repl), self._SEP)
            for name, idx in self.group_index.items():
                c = F.nullif(F.try_element_at(parts, F.lit(idx + 1)), F.lit(""))
                if name in self.types:
                    c = c.cast(self.types[name])
                out[name] = c.alias(name)
            return out
        for name, idx in self.group_index.items():
            c = F.nullif(F.regexp_extract(col, self.java_regex, idx), F.lit(""))
            if name in self.types:
                c = c.cast(self.types[name])
            out[name] = c.alias(name)
        return out

    def apply(self, df: DataFrame, col: str, keep: list[str] | None = None) -> DataFrame:
        cols = [F.col(c) for c in (keep if keep is not None else df.columns)]
        return df.select(*cols, *self.columns(F.col(col)).values())


def grok_extract(df: DataFrame, col: str, pattern: str, types: dict[str, str] | None = None) -> DataFrame:
    """One-shot helper: parse ``col`` with a grok/regex pattern."""
    return GrokPattern(pattern, types or {}).apply(df, col)


def grok_first_match(col: Column, patterns: list[GrokPattern], group: str) -> Column:
    """First-match-wins across patterns for one output field (span processor
    ``to_attributes`` with break_after_match — spanprocessor/span.go ~approx):
    ``coalesce`` over per-pattern extracts, still fully JVM-side."""
    candidates = [p.columns(col)[group] for p in patterns if group in p.group_index]
    if not candidates:
        raise KeyError(f"group {group!r} not present in any pattern")
    return F.coalesce(*candidates)
