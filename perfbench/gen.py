"""Seeded input generators for the benchmark.

Everything here is pure Python (no Spark), so the expected counts the
generator returns are ground truth that does not come from the engine
under test.

CDR lines follow FIXTURES.md B2: ``<tt>`` + comma-delimited payload with
the per-type widths of ``schemas.RECORD_TYPES`` (61/62 -> 97/91 fields,
63/64 -> 50, 65/66 -> 61), plus archive prefixes (60, 67-70), junk
prefixes and about 5% wrong-width lines. The two partner lookups
(FIXTURES.md B3 ``yaxin.tsv``/``yiyang.tsv``) each cover about 80% of the
``lac,ci`` keys the lines use.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from sparkstreamingflume_spark.schemas import ARCHIVE_PREFIXES, RECORD_TYPES

SOCKET_TYPES = sorted(RECORD_TYPES)
JUNK_PREFIXES = ("99", "AB", "0x", "7Z")
N_LAC, N_CI = 40, 25  # 1000 distinct lac,ci keys
KEY_COVERAGE = 0.8
PARTNERS = ("yaxin", "yiyang")
_FIELD_POOL = [str(i) for i in range(1000)]

# Line mix, as shares of all lines.
SHARE_ARCHIVE = 0.06
SHARE_JUNK = 0.02
SHARE_WRONG_WIDTH = 0.05


@dataclass
class CdrExpect:
    """Ground-truth counts for a set of generated CDR lines."""

    lines: int = 0
    conformed: Counter = field(default_factory=Counter)  # tag -> rows
    matched: Counter = field(default_factory=Counter)  # (tag, partner) -> rows
    junk: int = 0
    archive: int = 0
    wrong_width: int = 0

    def add(self, other: "CdrExpect") -> None:
        self.lines += other.lines
        self.conformed.update(other.conformed)
        self.matched.update(other.matched)
        self.junk += other.junk
        self.archive += other.archive
        self.wrong_width += other.wrong_width

    def out_rows(self) -> int:
        return sum(self.matched.values())


class CdrGen:
    """Seeded CDR line and lookup generator.

    The partner key sets are fixed by the seed; ``lines(n, stream)``
    yields a deterministic block of lines for each ``stream`` index, so
    files can be generated in any order and still be identical for one
    seed.
    """

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(f"cdr-keys-{seed}")
        keys = [(a, c) for a in range(N_LAC) for c in range(N_CI)]
        self.partner_keys = {
            p: frozenset(rng.sample(keys, int(len(keys) * KEY_COVERAGE)))
            for p in PARTNERS
        }

    def lookup_rows(self, partner: str) -> list[list[str]]:
        """TSV rows for one partner, in the FIXTURES.md B3 column layout,
        plus a few short noise lines the loaders must skip."""
        rng = random.Random(f"cdr-lookup-{self.seed}-{partner}")
        rows = []
        for a, c in sorted(self.partner_keys[partner]):
            label = f"{partner[:2]}{a:02d}{c:02d}"
            if partner == "yaxin":
                rows.append([f"L{a}", f"C{c}", label])
            else:
                rows.append(["x", f"L{a}", f"C{c}", "y", "z", label, "w"])
        rng.shuffle(rows)
        if partner == "yaxin":
            rows += [["L0"], ["L1", ""]]
        else:
            rows += [["x", "L0", "C0", "y", "z"]]
        return rows

    def write_lookups(self, directory: str) -> dict[str, str]:
        os.makedirs(directory, exist_ok=True)
        paths = {}
        for p in PARTNERS:
            paths[p] = os.path.join(directory, f"{p}.tsv")
            with open(paths[p], "w") as f:
                f.write("".join("\t".join(r) + "\n" for r in self.lookup_rows(p)))
        return paths

    def lines(self, n: int, stream: int) -> tuple[list[str], CdrExpect]:
        rng = random.Random(f"cdr-lines-{self.seed}-{stream}")
        pool = _FIELD_POOL
        exp = CdrExpect(lines=n)
        out = []
        for i in range(n):
            u = rng.random()
            if u < SHARE_JUNK:
                out.append(f"{rng.choice(JUNK_PREFIXES)}junk{stream}_{i}")
                exp.junk += 1
                continue
            if u < SHARE_JUNK + SHARE_ARCHIVE:
                out.append(f"{rng.choice(ARCHIVE_PREFIXES)}raw,{stream},{i}")
                exp.archive += 1
                continue
            prefix = rng.choice(SOCKET_TYPES)
            rt = RECORD_TYPES[prefix]
            width = rt.n_fields
            wrong = rng.random() < SHARE_WRONG_WIDTH / (1 - SHARE_JUNK - SHARE_ARCHIVE)
            if wrong:
                width += rng.choice((-3, -1, 1, 2))
            fields = rng.choices(pool, k=width)
            fields[0] = f"{prefix}r{stream}_{i}"
            fields[rt.start_time_idx] = (
                f"2024-01-{1 + rng.randrange(28):02d} "
                f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:00"
            )
            for p in rt.phone_idx:
                if p < width:
                    fields[p] = f"138{rng.randrange(10**8):08d}"
            a, c = rng.randrange(N_LAC), rng.randrange(N_CI)
            if rt.ci_idx < width:
                fields[rt.lac_idx] = f"L{a}"
                fields[rt.ci_idx] = f"C{c}"
            out.append(",".join(fields))
            if wrong:
                exp.wrong_width += 1
                continue
            exp.conformed[rt.tag] += 1
            for partner in PARTNERS:
                if (a, c) in self.partner_keys[partner]:
                    exp.matched[(rt.tag, partner)] += 1
        return out, exp


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def events_rows(seed: int, n: int, stream: int, n_users: int = 5000) -> dict[str, list]:
    """Seeded ``events`` rows (TESTDATA schema) as pyarrow-ready columns.

    About 1% of ``ts``, ``user_id`` and ``value`` are NULL, so the sketch
    builders' NULL filters do work.
    """
    rng = random.Random(f"events-{seed}-{stream}")
    cols: dict[str, list] = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    base_id = stream * 10_000_000
    for i in range(n):
        cols["event_id"].append(base_id + i)
        cols["ts"].append(
            None if rng.random() < 0.01
            else _T0 + timedelta(seconds=rng.randrange(31 * 86400), microseconds=rng.randrange(10**6))
        )
        cols["user_id"].append(None if rng.random() < 0.01 else rng.randrange(n_users))
        cols["event_type"].append(rng.choice(EVENT_TYPES))
        cols["value"].append(
            None if rng.random() < 0.01 else round(rng.lognormvariate(2.5, 1.2), 2)
        )
        cols["props"].append(f'{{"k": {rng.randrange(100)}}}')
    return cols


def write_events_parquet(path: str, cols: dict[str, list]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )
    pq.write_table(table, path)
