"""P3-P9 line-operator semantics incl. the SURVEY §2.8 edge cases.

The oracle here is ``PyLines`` — a pure-Python mirror of the documented
semantics (Java ``split(sep, 0)`` trailing-empty drop as implemented by
``line_fields``: strip the trailing separator run, then split).
Reference behaviors pinned: out-of-range extract -> 'ERROR'
(src/DesenPross.scala:59-63), non-44-field projection -> ''
(src/DesenPross.scala:167-176), masking = md5 hex of the field
(src/MD5.java:24-33).
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions import lines as L
from tests.conftest import lines_df


class PyLines:
    @staticmethod
    def fields(line: str, sep: str = "|") -> list[str]:
        while line.endswith(sep):
            line = line[: -len(sep)]
        return line.split(sep)

    @staticmethod
    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    @classmethod
    def extract(cls, line: str, i: int, sep: str = "|") -> str:
        f = cls.fields(line, sep)
        return f[i] if i < len(f) else "ERROR"

    @classmethod
    def mask(cls, line: str, idx: list[int], sep: str = "|") -> str:
        f = cls.fields(line, sep)
        return sep.join(cls.md5(x) if i in idx else x for i, x in enumerate(f))

    @classmethod
    def drop(cls, line: str, idx: list[int], sep: str = "|") -> str:
        f = cls.fields(line, sep)
        return sep.join(x for i, x in enumerate(f) if i not in idx)

    @classmethod
    def project(cls, line: str, idx: list[int], n: int) -> str:
        f = cls.fields(line)
        return "|".join(f[i] for i in idx) if len(f) == n else ""


EDGE_LINES = [
    "a|b|c",
    "a|b|c|",  # trailing delimiter — still 3 fields (Java split(sep,0))
    "a||c",  # embedded empty field preserved
    "a|b|c||",  # trailing empty run
    "x",
    "",
    "|".join(f"f{i}" for i in range(44)),  # clean GPRS width
    "|".join(f"f{i}" for i in range(44)) + "|",  # 44 + trailing sep
    "|".join(f"f{i}" for i in range(7)),  # short/dirty
    "a|b|\r",  # CR-terminated: \r is its own field, | before it stays
    "a|b|\r\n",  # CRLF-terminated
    "|\r",  # minimal hypothesis counterexample from round 3
    "a|b\r",  # CR glued to last field (no trailing sep to strip)
]


def _run(spark, col) -> list:
    return [r[0] for r in lines_df(spark, EDGE_LINES).select(col).collect()]


def test_field_extract_edges(spark):
    got = _run(spark, L.field_extract("value", 2))
    assert got == [PyLines.extract(ln, 2) for ln in EDGE_LINES]


def test_field_extract_out_of_range_is_error(spark):
    got = _run(spark, L.field_extract("value", 50))
    assert got == ["ERROR"] * len(EDGE_LINES)


def test_mask_fields(spark):
    got = _run(spark, L.mask_fields("value", [0, 2]))
    assert got == [PyLines.mask(ln, [0, 2]) for ln in EDGE_LINES]


def test_drop_fields(spark):
    got = _run(spark, L.drop_fields("value", [1]))
    assert got == [PyLines.drop(ln, [1]) for ln in EDGE_LINES]


def test_mask_drop_unsorted_duplicate_and_empty_indices(spark):
    """Index lists are sets: order and repeats do not matter, an index
    past a line's width adds nothing, and an empty list re-joins the
    line unchanged (minus its trailing separators)."""
    for idx in ([5, 0, 2, 0, 50], [43, 3, 3], []):
        got = _run(spark, L.mask_fields("value", idx))
        assert got == [PyLines.mask(ln, idx) for ln in EDGE_LINES], idx
        got = _run(spark, L.drop_fields("value", idx))
        assert got == [PyLines.drop(ln, idx) for ln in EDGE_LINES], idx


def test_project_44to10_total(spark):
    from sparkstreamingflume_spark.schemas import GPRS_PROJECTION

    idx = list(GPRS_PROJECTION)
    got = _run(spark, L.project_fields("value", idx, n_fields=44))
    assert got == [PyLines.project(ln, idx, 44) for ln in EDGE_LINES]
    # the two 44-field lines project, everything else maps to ''
    assert got[6] != "" and got[7] != "" and got[0] == ""


def test_dirty_filter(spark):
    got = _run(spark, L.dirty_filter("value", 44))
    assert got == [len(PyLines.fields(ln)) == 44 for ln in EDGE_LINES]


# Fields may be empty and may hold CR/LF; neither separator appears
# inside a field, so one generated row serves both separators.
_FIELD = st.text(
    alphabet=st.characters(blacklist_characters="|,", blacklist_categories=("Cs",)),
    max_size=8,
)
# (fields, number of trailing separators appended to the joined line)
_ROW = st.tuples(st.lists(_FIELD, min_size=1, max_size=12), st.integers(0, 2))
# unsorted, duplicated, empty, and past the width of most rows
_IDX = st.lists(st.integers(0, 14), max_size=4)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_ROW, min_size=1, max_size=30), st.integers(0, 12), _IDX)
def test_property_extract_mask_roundtrip(spark, rows, idx, idxs):
    for sep in (",", "|"):
        batch = [sep.join(fs) + sep * k for fs, k in rows]
        df = lines_df(spark, batch).select(
            L.field_extract("value", idx, sep).alias("x"),
            L.mask_fields("value", [idx], sep).alias("m"),
            L.drop_fields("value", [idx], sep).alias("d"),
            L.mask_fields("value", idxs, sep).alias("ms"),
            L.drop_fields("value", idxs, sep).alias("ds"),
        )
        got = df.collect()
        for ln, row in zip(batch, got):
            assert row.x == PyLines.extract(ln, idx, sep)
            assert row.m == PyLines.mask(ln, [idx], sep)
            assert row.d == PyLines.drop(ln, [idx], sep)
            assert row.ms == PyLines.mask(ln, idxs, sep), (sep, ln, idxs)
            assert row.ds == PyLines.drop(ln, idxs, sep), (sep, ln, idxs)


def test_multichar_separator_strips_whole_runs(spark):
    """A separator longer than one character takes the regex strip,
    which removes whole trailing separators, not a character run."""
    batch = ["a::b::::", "a::b:", "a::::c::"]
    df = lines_df(spark, batch).select(L.mask_fields("value", [1], "::"))
    got = [r[0] for r in df.collect()]
    assert got == [PyLines.mask(ln, [1], "::") for ln in batch]


def test_negative_index_is_rejected(spark):
    with pytest.raises(ValueError, match=">= 0"):
        L.mask_fields_arr(F.col("_arr"), [2, -1])


def test_md5_parity_with_reference_digest(spark):
    """Spark md5() == hashlib == the reference's RFC-1321 MD5 (src/MD5.java)."""
    got = _run(spark, F.md5(F.col("value")))
    assert got == [hashlib.md5(ln.encode()).hexdigest() for ln in EDGE_LINES]


# The line family against its DuckDB oracles at sf0.001, in the default
# profile: the same comparison as tests/test_oracle_extras.py (row count,
# sorted schema, type-tagged order-insensitive value hash). The corpus
# has trailing-'|' and CR-terminated lines (plans/core_queries.py).
LINE_FAMILY = (
    "q_md5_mask",
    "q_md5_mask_multi",
    "q_field_drop",
    "q_field_extract",
    "q_dirty_filter",
    "q_project_44to10",
    "q_gprs_pipeline",
)


def test_line_family_matches_duckdb_oracle(spark):
    import duckdb

    from sparkstreamingflume_spark.oracle import compare, duck_fetch, register_views
    from sparkstreamingflume_spark.plans import REGISTRY
    from tests.test_oracle_extras import SF_DIR

    con = duckdb.connect()
    register_views(con, SF_DIR)
    try:
        for name in LINE_FAMILY:
            q = REGISTRY[name]
            sdf = q.build(spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            ocols, orows = duck_fetch(con, q.oracle)
            problems = compare(sdf.columns, srows, ocols, orows)
            assert not problems, f"{name}: {problems}"
    finally:
        con.close()
