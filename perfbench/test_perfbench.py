"""Tests of the benchmark's own code (no Spark session needed).

Run: python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import stats  # noqa: E402


# -- generator ---------------------------------------------------------------


def test_generator_same_seed_same_files(tmp_path):
    a, b = gen.CdrGen(7), gen.CdrGen(7)
    assert a.lines(500, 3) == b.lines(500, 3)
    pa, pb = a.write_lookups(str(tmp_path / "a")), b.write_lookups(str(tmp_path / "b"))
    for p in gen.PARTNERS:
        assert open(pa[p]).read() == open(pb[p]).read()
    assert gen.events_rows(7, 300, 2) == gen.events_rows(7, 300, 2)
    ea, eb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    gen.write_events_parquet(ea, gen.events_rows(7, 300, 2))
    gen.write_events_parquet(eb, gen.events_rows(7, 300, 2))
    import pyarrow.parquet as pq

    assert pq.read_table(ea).equals(pq.read_table(eb))


def test_generator_other_seed_other_files():
    assert gen.CdrGen(7).lines(200, 0)[0] != gen.CdrGen(8).lines(200, 0)[0]
    assert gen.CdrGen(7).lines(200, 0)[0] != gen.CdrGen(7).lines(200, 1)[0]
    assert gen.events_rows(7, 50, 0) != gen.events_rows(8, 50, 0)


def test_generator_counts_match_the_lines():
    """The expected counts are recomputed here from the lines alone, by
    the FIXTURES.md B2 rules, independently of the generator's tally."""
    from sparkstreamingflume_spark.schemas import ARCHIVE_PREFIXES, RECORD_TYPES

    g = gen.CdrGen(3)
    lines, exp = g.lines(3000, 0)
    assert exp.lines == len(lines) == 3000
    junk = archive = wrong = 0
    conformed, matched = {}, {}
    keys = {p: {f"L{a},C{c}" for a, c in g.partner_keys[p]} for p in gen.PARTNERS}
    for ln in lines:
        prefix = ln[:2]
        if prefix in ARCHIVE_PREFIXES:
            archive += 1
            continue
        if prefix not in RECORD_TYPES:
            junk += 1
            continue
        rt = RECORD_TYPES[prefix]
        f = ln.split(",")
        if len(f) != rt.n_fields:
            wrong += 1
            continue
        conformed[rt.tag] = conformed.get(rt.tag, 0) + 1
        for p in gen.PARTNERS:
            if f"{f[rt.lac_idx]},{f[rt.ci_idx]}" in keys[p]:
                matched[(rt.tag, p)] = matched.get((rt.tag, p), 0) + 1
    assert (junk, archive, wrong) == (exp.junk, exp.archive, exp.wrong_width)
    assert conformed == dict(exp.conformed)
    assert matched == dict(exp.matched)
    # the mix the workloads rely on: about 5% wrong-width lines, and
    # every partner covering about 80% of the conformed lines' keys
    assert 0.03 < wrong / len(lines) < 0.07
    for p in gen.PARTNERS:
        share = sum(v for (t, q), v in matched.items() if q == p) / sum(conformed.values())
        assert 0.75 < share < 0.85


# -- spans -------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    tr = stats.Tracer()
    root = tr.add("batch", 0.0, 10.0, 1)
    tr.add("a", 1.0, 3.0, 1, parent=root)
    tr.add("b", 2.0, 5.0, 1, parent=root)  # overlaps a: union 1..5
    tr.add("c", 8.0, 12.0, 1, parent=root)  # runs past the parent: 8..10
    leaf = tr.add("d", 3.0, 4.0, 1, parent=2)  # a grandchild, under b only
    st = tr.self_times()
    assert st[root] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(3 - 1)
    assert st[leaf] == pytest.approx(1)


def test_disabled_tracer_records_nothing():
    tr = stats.Tracer(enabled=False)
    assert tr.call("x", 0, lambda: 42) == 42
    assert tr.begin("y", 0) == -1
    assert tr.spans == []


def test_union_length():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 1), (2, 3)]) == 2
    assert stats.union_length([(0, 5), (1, 2), (4, 7)]) == 7


# -- event log ---------------------------------------------------------------


def test_event_log_parser_on_recorded_log():
    log = stats.parse_event_log(os.path.join(HERE, "testdata", "tiny_eventlog.json"))
    assert sorted(log.jobs) == [4, 5, 14, 15]
    batch0 = log.jobs_where("streaming.sql.batchId", "0")
    assert sorted(j.job_id for j in batch0) == [4, 5]
    job4 = log.job_totals([log.jobs[4]])
    # stages 4 and 5 were skipped (their shuffle output was reused)
    assert job4["stages"] == 1 and job4["tasks"] == 1
    assert job4["cpu_ns"] == 124304883
    assert job4["shuffle_read"] == 19997
    main = log.job_totals(log.jobs_where("perfbench.span", "main"))
    assert main["tasks"] == 5 and main["stages"] == 2
    assert main["shuffle_write"] == 236
    # batch 0 spans 1792205802696..1792205804504; jobs 4 and 5 cover
    # 230 ms and 963 ms of it
    gap = stats.driver_gap(1792205802696, 1792205804504, batch0)
    assert gap == pytest.approx(1808 - 230 - 963)


# -- checkpoint --------------------------------------------------------------


def _write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def test_checkpoint_file_to_batch_mapping(tmp_path):
    ck = tmp_path / "ck"
    src = ck / "sources" / "0"
    src.mkdir(parents=True)
    e = lambda p, b: {"path": f"file://{p}", "timestamp": 1, "batchId": b}  # noqa: E731
    # batches 0-1 folded into a compacted log, then plain batch logs
    _write_log(src / "1.compact", [e("/l/a.txt", 0), e("/l/b.txt", 1), e("/l/c.txt", 1)])
    _write_log(src / "2", [e("/l/d.txt", 2)])
    _write_log(src / "3", [{"path": "file:/l/e.txt", "timestamp": 1, "batchId": 3}])
    (src / ".4.tmp").write_text("partial")
    (ck / "commits").mkdir()
    for b in ("0", "1", "2"):
        (ck / "commits" / b).write_text("v1\n{}\n")
    assert stats.file_batches(str(ck)) == {
        "/l/a.txt": 0, "/l/b.txt": 1, "/l/c.txt": 1, "/l/d.txt": 2, "/l/e.txt": 3,
    }
    assert stats.committed_batches(str(ck)) == {0, 1, 2}
