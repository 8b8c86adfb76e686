"""The paper's CDR pipeline (route -> conform -> MD5 mask -> enrich) in
the default profile, against rows computed in pure Python.

``tests/test_streaming.py`` pins stream == batch and the one-pass router
against the branch-per-type reference, but it is a slow file. Here the
one-pass router (``routed_pipeline``, ``inner`` and ``left``) and its
two-partner form (``routed_pipeline_dual``) run on a small hand-built
fixture, and the expected rows come from ``hashlib.md5`` and dict
lookups: every socket type, wrong widths, junk and archive prefixes,
trailing-separator runs, CR/CRLF-terminated lines, empty phone fields
and keys missing from a lookup.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from sparkstreamingflume_spark.schemas import RECORD_TYPES
from sparkstreamingflume_spark.streaming import pipeline
from tests.conftest import lines_df


def _line(prefix: str, i: int, width_delta: int = 0, tail: str = "") -> str:
    rt = RECORD_TYPES[prefix]
    f = [f"f{i}_{j}" for j in range(rt.n_fields + width_delta)]
    f[0] = f"{prefix}r{i}"
    f[rt.start_time_idx] = f"2024-01-0{1 + i % 9} 10:00:00"
    for k, p in enumerate(rt.phone_idx):
        if p < len(f):
            f[p] = "" if i % 4 == 3 and k == 0 else f"138{i:08d}"
    if rt.ci_idx < len(f):
        f[rt.lac_idx], f[rt.ci_idx] = f"L{i % 3}", f"C{i % 2}"
    return rt.sep.join(f) + tail


def _fixture() -> list[str]:
    out = []
    for prefix, rt in sorted(RECORD_TYPES.items()):
        out += [_line(prefix, i) for i in range(4)]
        out += [
            _line(prefix, 10, tail=","),  # trailing separator: still conforms
            _line(prefix, 11, tail=",,,"),  # trailing run
            _line(prefix, 12, width_delta=-1, tail=",\r"),  # CR is the last field
            _line(prefix, 13, tail="\r\n"),  # CRLF glued to the last field
            _line(prefix, 14, tail=",\r\n"),  # one field too many
            _line(prefix, 15, width_delta=-1),  # too narrow
            _line(prefix, 16, width_delta=2),  # too wide
            _line(prefix, 17, width_delta=rt.lac_idx - rt.n_fields),  # cut before lac/ci
        ]
    out += ["60raw,1,2", "67raw", "70", "99junk,1", "AB", "", "6"]
    return out


LOOKUPS = {
    "yaxin": {"L0,C0": "ya00", "L1,C0": "ya10", "L1,C1": "ya11", "L2,C1": "ya21"},
    "yiyang": {"L0,C0": "yi00", "L0,C1": "yi01", "L2,C0": "yi20"},
}


def _fields(line: str, sep: str) -> list[str]:
    while line.endswith(sep):
        line = line[: -len(sep)]
    return line.split(sep)


def expected(lines: list[str], lookup: dict[str, str], how: str) -> Counter:
    out: Counter = Counter()
    for line in lines:
        rt = RECORD_TYPES.get(line[:2])
        if rt is None:
            continue
        f = _fields(line, rt.sep)
        if len(f) != rt.n_fields:
            continue
        key = f"{f[rt.lac_idx]},{f[rt.ci_idx]}"
        if key not in lookup and how == "inner":
            continue
        masked = [
            hashlib.md5(x.encode()).hexdigest() if i in rt.phone_idx else x
            for i, x in enumerate(f)
        ]
        out[(rt.sep.join(masked), f[rt.start_time_idx], lookup.get(key, ""), rt.tag)] += 1
    return out


def _lookup_df(spark, rows: dict[str, str]):
    return spark.createDataFrame(sorted(rows.items()), "map_key string, map_value string")


@pytest.fixture(scope="module")
def cdr(spark):
    lines = _fixture()
    return lines, lines_df(spark, lines)


def test_fixture_covers_every_type_and_outcome(cdr):
    lines, _ = cdr
    inner = expected(lines, LOOKUPS["yaxin"], "inner")
    left = expected(lines, LOOKUPS["yaxin"], "left")
    tags = {rt.tag for rt in RECORD_TYPES.values()}
    assert {k[3] for k in inner} == tags
    assert sum(left.values()) > sum(inner.values()) > 0
    assert any(k[0].endswith("\r") for k in left)  # the CR field survives
    assert any(hashlib.md5(b"").hexdigest() in k[0] for k in left)  # empty phone


@pytest.mark.parametrize("how", ["inner", "left"])
def test_routed_pipeline_matches_python(spark, cdr, how):
    lines, df = cdr
    lookup = LOOKUPS["yaxin"]
    rows = pipeline.routed_pipeline(df, _lookup_df(spark, lookup), how=how).collect()
    assert Counter(tuple(r) for r in rows) == expected(lines, lookup, how)


@pytest.mark.parametrize("how", ["inner", "left"])
def test_routed_pipeline_dual_matches_python(spark, cdr, how):
    lines, df = cdr
    lookups = {p: _lookup_df(spark, rows) for p, rows in LOOKUPS.items()}
    out = pipeline.routed_pipeline_dual(df, lookups, how=how)
    assert out.columns == ["value", "start_time", "flag", "tag", "partner"]
    want: Counter = Counter()
    for p, rows in LOOKUPS.items():
        for k, n in expected(lines, rows, how).items():
            want[(*k, p)] += n
    assert Counter(tuple(r) for r in out.collect()) == want


def test_router_preconditions_are_checked():
    """The one-pass router splits every line with one separator and reads
    lac/ci/start time from the unmasked array; a registry that breaks
    either assumption is refused instead of producing wrong rows."""
    from dataclasses import replace

    from sparkstreamingflume_spark.streaming.pipeline import _check_router_types

    types = sorted(RECORD_TYPES.items())
    _check_router_types(types)  # the shipped registry passes
    rt = RECORD_TYPES["63"]
    bad = {
        "one separator": replace(rt, sep="|"),
        "is a masked phone field": replace(rt, start_time_idx=rt.phone_idx[0]),
        "outside its 50 fields": replace(rt, ci_idx=50),
    }
    for msg, broken in bad.items():
        with pytest.raises(ValueError, match=msg):
            _check_router_types([*types[:2], ("63", broken)])
