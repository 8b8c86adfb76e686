#!/usr/bin/env python3
"""The repository benchmark: the CDR ingest stream and the sketch index.

Usage, from the repository root::

    python3 perfbench/run.py --workload cdr_bulk --seed 1 --seconds 15 --trace 0

Workloads (``perfbench/LAYERS.md`` maps each layer metric to the end-to-end
metric it should move):

* ``cdr_bulk`` -- closed loop. A seeded backlog of CDR files drains through
  ``sources.file_drop`` -> ``pipeline.routed_pipeline_dual`` (two partner
  lookups) -> ``sinks.write_batch_parquet_idempotent`` (availableNow, fixed
  ``maxFilesPerTrigger``).
* ``sketch_index`` -- closed loop. Seeded ``events`` parquet files drain
  through a foreachBatch that appends to the HLL and HDR state indexes,
  folds both every ``SKETCH_FOLD_EVERY`` batches and reads both estimates
  in the other batches.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the window
traced (Spark event log on, spans recorded around every call into the
program), then isolated replays of the layers, then the window untraced,
and prints the per-layer metrics. Every run checks its outputs against a batch
computation and the generator's own counts, outside the timed region. The
last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from collections import Counter
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# cdr_bulk: 34 files x 3000 lines = 102k lines per batch, picked for run
# time: a batch takes about 2 s on 4 cores, the trigger interval of the
# repo's dual-partner soak (BASELINE.md, routed_pipeline_dual at 100k
# rows/s), and its fixed cost outside Spark jobs (spark.driver_gap_ms,
# about 0.55 s) stays a minority share. The generated files are
# hard-linked under many names, so the backlog outlasts the window
# without generating it all.
BULK_LINES_PER_FILE = 3000
BULK_FILES_PER_TRIGGER = 34
BULK_UNIQUE_FILES = 17
BULK_BACKLOG_FILES = 34 * 16
# sketch_index: 50 files x 1000 events rows per batch, a fold every 3rd
# batch, the COMPACT_EVERY=3 of the repo's fold-in-the-loop soaks of the
# register sketches (BASELINE.md, cms_compact and hdr_compact).
SKETCH_ROWS_PER_FILE = 1000
SKETCH_FILES_PER_TRIGGER = 50
SKETCH_UNIQUE_FILES = 50
SKETCH_BACKLOG_FILES = 50 * 16
SKETCH_FOLD_EVERY = 3
# A window leaves its first batches out of the metrics: they carry the
# query's first planning and the JIT warm-up of its plan. The sketch warms
# two whole fold cycles (in six runs its second cycle was still 11-42%
# slower than later ones) and is measured in whole cycles. An
# untraced window measures at least MEASURED_BATCHES, so one batch slowed
# by the host moves the throughput little. The traced run's windows warm
# one cycle and measure one: they are compared only with each other, and
# the traced run must end within the run's time limit on a slow host too.
WARM_BATCHES = {"cdr_bulk": 2, "sketch_index": 2 * SKETCH_FOLD_EVERY}
MEASURED_BATCHES = {"cdr_bulk": 8, "sketch_index": 3 * SKETCH_FOLD_EVERY}
TRACED_WARM_BATCHES = {"cdr_bulk": 2, "sketch_index": SKETCH_FOLD_EVERY}
# isolated replays in the traced run
REPLAY_FILES = 16  # of the bulk files
REPLAY_SKETCH_BATCHES = 3
REPLAY_SKETCH_ROWS = 10_000
PLAN_QUERIES = ("q_distinct_hll", "q_quantile_hdr")
PLAN_REPEATS = 2
CANARY_REPEATS = 3

SETUP_REPEATS = 3
HARD_CAP_S = 100  # no window runs longer, whatever its batch count
DRIVER_MEM = "2g"


def _ts(iso: str) -> float:
    """Progress timestamps are UTC ISO-8601 with a trailing Z."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
    return n_bytes, n_files


def _mean(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("no samples")
    return sum(xs) / len(xs)


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


class Bench:
    """One benchmark process: its Spark session, tracer and check tally."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        from stats import Tracer

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.tracer = Tracer(enabled=False)
        self.session_starts: list[float] = []

    def start_session(self, master: str | None = None, event_log: str | None = None) -> None:
        """(Re)start the SparkSession through ``session.get_session``,
        recording how long ``get_session`` took."""
        from sparkstreamingflume_spark.session import get_session

        self.stop()
        conf = [
            "spark.sql.streaming.numRecentProgressUpdates=100000",
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={self.work}/warehouse",
        ]
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf += [
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file://{event_log}",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ]
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
        t0 = time.perf_counter()
        self.spark = get_session("perfbench", master=master)
        self.session_starts.append(time.perf_counter() - t0)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then end the JVM and wait until it has exited
        (the gateway JVM exits when its stdin pipe closes)."""
        import subprocess

        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None or gw.proc is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()

    def window_batches(self) -> tuple[int, int]:
        """(warm-up, measured) batches of one window."""
        if self.trace:
            return TRACED_WARM_BATCHES[self.workload], 1
        return WARM_BATCHES[self.workload], MEASURED_BATCHES[self.workload]

    def peak_rss_mb(self) -> float:
        from stats import vm_hwm_kb

        jvm = self.spark.sparkContext._gateway.proc.pid
        return (vm_hwm_kb() + vm_hwm_kb(jvm)) / 1024

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record one correctness check; a failure counts as a failed
        operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {name}: {detail}", file=sys.stderr)

    def canary(self) -> float:
        """bench.py's host-speed microbench: md5-aggregate 10M generated
        rows, written to the noop sink."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        (
            self.spark.range(10_000_000)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .agg(F.count(F.when(F.col("h") > "f0", 1)))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# One streaming query, measured
# ---------------------------------------------------------------------------


class Window:
    """One closed-loop streaming query over a pre-staged backlog.

    The sink wrapper records when each batch's sink call started and
    returned. The window lasts ``seconds`` and at least ``min_batches``
    batches, ending on a multiple of ``cycle`` batches after the warm-up;
    once it is over the wrapper skips the program's sink for any later
    batch, so the checks see only batches whose sink ran to completion."""

    def __init__(self, bench: Bench, tag: str, rows_of, warm: int = 0, cycle: int = 1):
        self.bench = bench
        self.tag = tag
        self.rows_of = rows_of  # input file -> rows, from the generator
        self.warm = warm
        self.cycle = cycle
        self.dir = f"{bench.work}/{tag}"
        self.landing = f"{self.dir}/landing"
        self.ckpt = f"{self.dir}/ckpt"
        self.out = f"{self.dir}/out"
        self.sink_t: dict[int, tuple[float, float]] = {}
        self.over = threading.Event()
        self.min_batches = 0
        self.deadline = float("inf")
        self.progress: list[dict] = []
        self.query_id = ""
        os.makedirs(self.landing)

    def wrap(self, body):
        tracer = self.bench.tracer

        def sink(batch, batch_id):
            if self.over.is_set():
                return
            span = tracer.begin("sink", batch_id)
            t0 = time.time()
            body(batch, batch_id, span)
            t1 = time.time()
            tracer.end(span)
            self.sink_t[batch_id] = (t0, t1)
            n = len(self.sink_t)
            if t1 >= self.deadline and n >= self.min_batches and (n - self.warm) % self.cycle == 0:
                self.over.set()

        return sink

    def run(self, start_query, seconds: float, min_batches: int = 0) -> None:
        """Start the query and wait until the window is over or the
        availableNow drain has run out of input."""
        t_start = time.time()
        self.deadline = t_start + seconds
        self.min_batches = min_batches
        q = start_query()
        self.query_id = q.id
        cap = t_start + HARD_CAP_S
        try:
            while q.isActive and time.time() < cap:
                if self.over.wait(0.05):
                    break
            self.over.set()
            # let the last completed batch commit before stopping
            last = max(self.sink_t, default=-1)
            t_wait = time.time() + 30
            while q.isActive and time.time() < t_wait:
                lp = q.lastProgress
                if lp is not None and lp["batchId"] >= last:
                    break
                time.sleep(0.02)
        finally:
            self.progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            q.stop()
        err = q.exception()
        if err is not None:
            raise RuntimeError(f"streaming query {self.tag} failed: {err}")
        if time.time() >= cap:
            raise RuntimeError(f"window {self.tag} hit the {HARD_CAP_S} s cap")

    def done_batches(self) -> list[int]:
        """Batches whose sink call ran to completion."""
        return sorted(self.sink_t)

    def measured(self) -> list[dict]:
        """Progress of the completed, committed batches after the warm-up."""
        from stats import committed_batches

        ok = committed_batches(self.ckpt)
        seen = {
            p["batchId"]: p
            for p in self.progress
            if p["batchId"] in ok and p["batchId"] in self.sink_t and p["batchId"] >= self.warm
        }
        return [seen[b] for b in sorted(seen)]

    def file_batch(self) -> dict[str, int]:
        from stats import file_batches

        return file_batches(self.ckpt)

    def files(self, batches) -> list[str]:
        want = set(batches)
        return sorted(f for f, b in self.file_batch().items() if b in want)

    def rows(self, batches) -> int:
        """Input rows of ``batches``, counted by the generator (Spark's
        numInputRows counts a batch once per scan of it)."""
        return sum(self.rows_of(f) for f in self.files(batches))

    def trigger_ms(self) -> float:
        return _mean(p["durationMs"]["triggerExecution"] for p in self.measured())


def window_metrics(win: Window) -> dict:
    """``rows_per_s`` of one window: the input rows of its measured batches
    over the span from the first one's start to the last one's end.

    No latency is reported. In a closed loop a file's latency is the time
    of the batch that held it, so it repeats the batch time; and a window
    holds too few batches for a batch-time percentile with ten samples
    beyond it."""
    batches = win.measured()
    if not batches:
        raise RuntimeError(f"no batch committed in window {win.tag}")
    start = _ts(batches[0]["timestamp"])
    end = _ts(batches[-1]["timestamp"]) + batches[-1]["durationMs"]["triggerExecution"] / 1000
    win.bench.attempted += len(batches)
    return {"rows_per_s": win.rows(p["batchId"] for p in batches) / (end - start)}


def min_window_batches(warm: int, cycle: int, measured: int) -> int:
    """Batches a window needs: the warm-up, then at least ``measured``
    batches in whole cycles."""
    return warm + -(-measured // cycle) * cycle


# ---------------------------------------------------------------------------
# cdr_bulk
# ---------------------------------------------------------------------------


class CdrBulk:
    """Generator, lookups, pipeline, sink and checks of the CDR stream."""

    def __init__(self, bench: Bench):
        from gen import CdrGen

        self.bench = bench
        self.gen = CdrGen(bench.seed)
        self.lookup_paths = self.gen.write_lookups(f"{bench.work}/lookups")
        # staged path -> (CdrExpect of its lines, generator stream number,
        # path of the generated file it is a link of)
        self.meta: dict[str, tuple] = {}
        self.lookups = None
        self.n_windows = 0
        os.makedirs(f"{bench.work}/unique")
        self.unique = []
        for k in range(BULK_UNIQUE_FILES):
            lines, exp = self.gen.lines(BULK_LINES_PER_FILE, k)
            path = f"{bench.work}/unique/u{k:06d}.txt"
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            self.meta[path] = (exp, k, path)
            self.unique.append(path)

    def rows_of(self, path: str) -> int:
        return self.meta[path][0].lines

    def load_lookups(self) -> None:
        from sparkstreamingflume_spark.streaming import sources

        spark = self.bench.spark
        self.lookups = {
            "yaxin": sources.load_lookup_yaxin(spark, self.lookup_paths["yaxin"]),
            "yiyang": sources.load_lookup_yiyang(spark, self.lookup_paths["yiyang"]),
        }

    def start(self, win: Window, max_files: int | None):
        from sparkstreamingflume_spark.streaming import pipeline, sinks, sources

        tracer = self.bench.tracer
        spark = self.bench.spark

        def body(batch, batch_id, parent):
            tracer.call(
                "sinks.write_batch_parquet_idempotent", batch_id,
                sinks.write_batch_parquet_idempotent, batch, batch_id, win.out,
                parent=parent,
            )

        def start_query():
            stream = tracer.call("sources.file_drop", win.tag, sources.file_drop, spark, win.landing, max_files)
            out = tracer.call(
                "pipeline.routed_pipeline_dual", win.tag, pipeline.routed_pipeline_dual, stream, self.lookups
            )
            return sinks.start_pipeline(
                out, win.wrap(body), win.ckpt, available_now=True, query_name=f"perfbench_{win.tag}"
            )

        return start_query

    def setup(self, rep) -> None:
        """Load the lookups and start the pipeline on an empty landing dir
        with a fresh checkpoint; availableNow returns once it finds no
        input."""
        self.load_lookups()
        win = Window(self.bench, f"setup{rep}", self.rows_of)
        win.run(self.start(win, None), 0)

    def drain(self, tag: str, n_files: int, per_trigger: int, seconds: float, min_batches: int, warm: int) -> Window:
        win = Window(self.bench, tag, self.rows_of, warm=warm)
        for i in range(n_files):
            src = self.unique[i % len(self.unique)]
            dst = f"{win.landing}/b{i:06d}.txt"
            os.link(src, dst)
            self.meta[dst] = self.meta[src]
        win.run(self.start(win, per_trigger), seconds, min_batches)
        return win

    def window(self) -> tuple[Window, dict]:
        self.n_windows += 1
        warm, measured = self.bench.window_batches()
        win = self.drain(
            f"bulk{self.n_windows}", BULK_BACKLOG_FILES, BULK_FILES_PER_TRIGGER, self.bench.seconds,
            min_window_batches(warm, 1, measured), warm,
        )
        return win, window_metrics(win)

    def verify(self, win: Window) -> None:
        """Streamed output of the completed batches == batch
        ``routed_pipeline_dual`` over the same files == generator counts.

        Outputs are compared as per-(tag, partner) multiset digests (row
        count and two sums of row hashes). A digest is a sum over lines,
        so the batch side runs once over each distinct generated file and
        is weighted by how many staged links of it the stream took; the
        generator stream number in field 0 of every line tells the files
        apart."""
        from gen import CdrExpect
        from pyspark.sql import functions as F

        from sparkstreamingflume_spark.streaming import pipeline

        spark = self.bench.spark
        done = win.done_batches()
        files = win.files(done)
        exp = CdrExpect()
        uses: Counter = Counter()
        for f in files:
            e, k, _ = self.meta[f]
            exp.add(e)
            uses[k] += 1
        sources = sorted({self.meta[f][2] for f in files})
        cols = ["value", "start_time", "flag", "tag", "partner"]

        def digest(df, keys):
            return {
                tuple(r[k] for k in keys): (r["n"], r["h1"], r["h2"])
                for r in df.groupBy(*keys)
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31))).alias("h1"),
                    F.sum(F.pmod(F.hash(*cols), F.lit(1 << 31))).alias("h2"),
                )
                .collect()
            }

        streamed = spark.read.parquet(*[f"{win.out}/batch_id={b}" for b in done]).select(*cols)
        got = digest(streamed, ("tag", "partner"))
        batch = pipeline.routed_pipeline_dual(spark.read.text(sources), self.lookups).select(*cols)
        batch = batch.withColumn("k", F.regexp_extract("value", r"^\d\dr(\d+)_", 1).cast("int"))
        ref: dict = {}
        for (tag, partner, k), (n, h1, h2) in digest(batch, ("tag", "partner", "k")).items():
            w = uses[k]
            a = ref.get((tag, partner), (0, 0, 0))
            ref[(tag, partner)] = (a[0] + w * n, a[1] + w * h1, a[2] + w * h2)
        ref = {key: v for key, v in ref.items() if v[0]}
        self.bench.check(f"{win.tag}.stream_equals_batch", got == ref, f"{got} != {ref}")
        counts = {key: v[0] for key, v in got.items()}
        self.bench.check(
            f"{win.tag}.generator_counts", counts == dict(exp.matched), f"{counts} != {dict(exp.matched)}"
        )


# ---------------------------------------------------------------------------
# sketch_index
# ---------------------------------------------------------------------------


class SketchBody:
    """The foreachBatch body of ``sketch_index``: append to both indexes,
    then fold both every ``SKETCH_FOLD_EVERY``-th batch and read both
    estimates otherwise, so appends, folds and reads all sit on the
    batch's critical path.

    The repo documents no read rate. A read after each batch is a consumer
    of live estimates; a fold batch skips it, because there the index holds
    the fresh base alone, and a read is meant to merge a base with unfolded
    deltas."""

    def __init__(self, bench: Bench, index_dir: str):
        self.bench = bench
        self.hll_dir = f"{index_dir}/hll"
        self.hdr_dir = f"{index_dir}/hdr"
        self.folds: list[dict] = []

    def __call__(self, batch, batch_id, parent=None):
        from sparkstreamingflume_spark.streaming import hll, quantile

        tr = self.bench.tracer
        spark = batch.sparkSession
        tr.call("hll.update", batch_id, hll.hll_update_batch, batch, batch_id, self.hll_dir, parent=parent)
        tr.call("quantile.update", batch_id, quantile.hdr_update_batch, batch, batch_id, self.hdr_dir, parent=parent)
        if batch_id % SKETCH_FOLD_EVERY == SKETCH_FOLD_EVERY - 1:
            self.folds.append(tr.call("hll.compact", batch_id, hll.compact_registers, spark, self.hll_dir, parent=parent))
            self.folds.append(
                tr.call("quantile.compact", batch_id, quantile.compact_registers, spark, self.hdr_dir, parent=parent)
            )
        else:
            tr.call("hll.read", batch_id, lambda: hll.distinct_estimates(spark, self.hll_dir).collect(), parent=parent)
            tr.call("quantile.read", batch_id, lambda: quantile.quantiles(spark, self.hdr_dir).collect(), parent=parent)
            self.bench.attempted += 2


class EventsInput:
    """Seeded ``events`` parquet files plus the generator's own count of
    valued rows (``floor(value * 100) >= 1``) per event type."""

    def __init__(self, seed: int, directory: str, n_files: int, rows: int, first_stream: int = 0):
        from gen import events_rows, write_events_parquet

        os.makedirs(directory, exist_ok=True)
        self.files: list[str] = []
        self.n_vals: dict[str, Counter] = {}
        for k in range(first_stream, first_stream + n_files):
            cols = events_rows(seed, rows, k)
            path = f"{directory}/e{k:05d}.parquet"
            write_events_parquet(path, cols)
            self.files.append(path)
            self.n_vals[path] = Counter(
                t for t, v in zip(cols["event_type"], cols["value"]) if v is not None and math.floor(v * 100) >= 1
            )


class SketchIndex:
    def __init__(self, bench: Bench):
        self.bench = bench
        self.inp = EventsInput(bench.seed, f"{bench.work}/events_src", SKETCH_UNIQUE_FILES, SKETCH_ROWS_PER_FILE)
        self.n_vals = dict(self.inp.n_vals)
        self.n_windows = 0
        self.bodies: dict[str, SketchBody] = {}
        self.schema = None
        self.check_sf = None

    @staticmethod
    def rows_of(path: str) -> int:
        return SKETCH_ROWS_PER_FILE

    def start(self, win: Window, per_trigger: int):
        from sparkstreamingflume_spark.streaming import sinks

        spark = self.bench.spark
        body = self.bodies[win.tag] = SketchBody(self.bench, f"{win.dir}/index")

        def start_query():
            stream = (
                spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", per_trigger)
                .parquet(win.landing)
            )
            return sinks.start_pipeline(
                stream, win.wrap(body), win.ckpt, available_now=True, query_name=f"perfbench_{win.tag}"
            )

        return start_query

    def setup(self, rep) -> None:
        """Resolve the events schema through ``load_table`` and start the
        stream on an empty landing dir with a fresh checkpoint."""
        from sparkstreamingflume_spark.session import load_table

        sf = f"{self.bench.work}/events_sf"
        if not os.path.exists(f"{sf}/events.parquet"):
            os.makedirs(f"{sf}/events.parquet")
            os.link(self.inp.files[0], f"{sf}/events.parquet/e.parquet")
        self.schema = load_table(self.bench.spark, sf, "events").schema
        win = Window(self.bench, f"setup{rep}", self.rows_of)
        win.run(self.start(win, SKETCH_FILES_PER_TRIGGER), 0)

    def window(self) -> tuple[Window, dict]:
        self.n_windows += 1
        warm, measured = self.bench.window_batches()
        win = Window(self.bench, f"sketch{self.n_windows}", self.rows_of, warm=warm, cycle=SKETCH_FOLD_EVERY)
        for i in range(SKETCH_BACKLOG_FILES):
            src = self.inp.files[i % len(self.inp.files)]
            dst = f"{win.landing}/b{i:06d}.parquet"
            os.link(src, dst)
            self.n_vals[dst] = self.inp.n_vals[src]
        need = min_window_batches(warm, SKETCH_FOLD_EVERY, measured)
        win.run(self.start(win, SKETCH_FILES_PER_TRIGGER), self.bench.seconds, need)
        return win, window_metrics(win)

    def verify(self, win: Window) -> None:
        """Final stream estimates == the certified batch queries
        (q_distinct_hll, q_quantile_hdr) over the same rows, and the
        per-type valued-row counts == the generator's."""
        from sparkstreamingflume_spark.plans import REGISTRY
        from sparkstreamingflume_spark.streaming import hll, quantile

        spark = self.bench.spark
        body = self.bodies[win.tag]
        files = win.files(win.done_batches())
        sf = f"{win.dir}/check"
        os.makedirs(f"{sf}/events.parquet")
        for i, f in enumerate(files):
            os.link(f, f"{sf}/events.parquet/c{i:06d}.parquet")
        self.check_sf = sf
        est_s = {r["event_type"]: r["est_hll"] for r in hll.distinct_estimates(spark, body.hll_dir).collect()}
        est_b = {r["event_type"]: r["est_hll"] for r in REGISTRY["q_distinct_hll"].build(spark, sf).collect()}
        self.bench.check(f"{win.tag}.hll_equals_batch", est_s == est_b, f"{est_s} != {est_b}")
        qcols = ("n_vals", "p50_est_cents", "p95_est_cents", "p99_est_cents")
        q_s = {r["g"]: tuple(r[c] for c in qcols) for r in quantile.quantiles(spark, body.hdr_dir).collect()}
        q_b = {r["event_type"]: tuple(r[c] for c in qcols) for r in REGISTRY["q_quantile_hdr"].build(spark, sf).collect()}
        self.bench.check(f"{win.tag}.quantiles_equal_batch", q_s == q_b, f"{q_s} != {q_b}")
        want: Counter = Counter()
        for f in files:
            want.update(self.n_vals[f])
        got = {g: v[0] for g, v in q_s.items()}
        self.bench.check(f"{win.tag}.generator_counts", got == dict(want), f"{got} != {dict(want)}")


# ---------------------------------------------------------------------------
# Traced run: per-layer metrics
# ---------------------------------------------------------------------------


def _event_log_file(directory: str) -> str:
    found = [p for p in glob.glob(f"{directory}/*") if not p.endswith(".inprogress")]
    if len(found) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {found}")
    return found[0]


def stream_layers(bench: Bench, win: Window, log, sink_dirs: list[str]) -> dict:
    """Per-layer metrics of one traced window: progress phases, sink
    spans and their self time, Spark jobs per batch."""
    from stats import driver_gap

    batches = win.measured()
    n = len(batches)
    ids = [p["batchId"] for p in batches]
    dm = lambda k: _mean(p["durationMs"].get(k, 0) for p in batches)  # noqa: E731
    jobs_of = {
        b: [
            j for j in log.jobs.values()
            if j.props.get("streaming.sql.batchId") == str(b) and j.props.get("sql.streaming.queryId") == win.query_id
        ]
        for b in ids
    }
    # Each Spark job of a batch becomes a child span of the program call
    # (a child of the sink span) it overlaps most, so a call's self time
    # is its driver-side time outside any Spark job.
    tr = bench.tracer
    calls: dict[str, list] = {}
    for s in tr.spans:
        if s.parent is not None and s.parent >= 0 and tr.spans[s.parent].name == "sink":
            calls.setdefault(s.trace, []).append(s)
    for b in ids:
        mine = calls.get(str(b), [])
        for j in jobs_of[b]:
            if j.end_ms is None:
                continue
            js, je = j.start_ms / 1000, j.end_ms / 1000
            best = max(mine, key=lambda c: min(c.end, je) - max(c.start, js), default=None)
            if best is not None and min(best.end, je) > max(best.start, js):
                tr.add("spark.job", js, je, b, parent=best.idx)
    self_t = tr.self_times()
    gaps = []
    for p in batches:
        t0 = _ts(p["timestamp"]) * 1000
        gaps.append(driver_gap(t0, t0 + p["durationMs"]["triggerExecution"], jobs_of[p["batchId"]]))
    out_bytes = out_files = 0
    for d in sink_dirs:
        nb, nf = _du(d)
        out_bytes, out_files = out_bytes + nb, out_files + nf
    done = win.done_batches()
    return {
        "stream.trigger_ms": dm("triggerExecution"),
        "stream.rows_per_batch": win.rows(ids) / n,
        "pipeline.query_planning_ms": dm("queryPlanning"),
        "sources.latest_offset_ms": dm("latestOffset"),
        "sources.get_batch_ms": dm("getBatch"),
        "sources.files_per_batch": len(win.files(ids)) / n,
        "sinks.add_batch_ms": dm("addBatch"),
        "sinks.write_s": _mean(win.sink_t[b][1] - win.sink_t[b][0] for b in ids),
        "sinks.driver_s": _mean(sum(self_t[c.idx] for c in calls.get(str(b), [])) for b in ids),
        "sinks.wal_commit_ms": dm("walCommit"),
        "sinks.commit_offsets_ms": dm("commitOffsets"),
        "sinks.bytes_per_row": out_bytes / win.rows(done),
        "sinks.files_per_batch": out_files / len(done),
        "spark.jobs_per_batch": sum(len(v) for v in jobs_of.values()) / n,
        "spark.tasks_per_batch": sum(j.n_tasks for v in jobs_of.values() for j in v) / n,
        "spark.driver_gap_ms": _mean(gaps),
        # the closed loop's turnaround: commit, listing and planning between
        # one sink call's return and the next one's start
        "harness.gen_lag_s_max": max(win.sink_t[b][0] - win.sink_t[a][1] for a, b in zip(ids, ids[1:])),
    }


def sketch_layers(bench: Bench, body: SketchBody) -> dict:
    tr = bench.tracer
    m = {}
    for name in ("hll.update", "quantile.update", "hll.compact", "quantile.compact", "hll.read", "quantile.read"):
        m[f"{name}_s"] = _mean(s.dur for s in tr.by_name(name))
    folds = [f for f in body.folds if f]
    m["state.delta_files_before_fold"] = _mean(f["n_files"] for f in folds)
    m["state.fold_rows_ratio"] = _mean(f["rows_after"] / f["rows_before"] for f in folds)
    m["state.index_bytes"] = float(_du(body.hll_dir)[0] + _du(body.hdr_dir)[0])
    return m


def pipeline_replay(bench: Bench, cdr: CdrBulk, files: list[str]) -> dict:
    """``routed_pipeline_dual`` over a static frame of the same lines,
    written to the noop sink (median of 3), and its output rows per
    input line."""
    from sparkstreamingflume_spark.streaming import pipeline

    spark = bench.spark
    lines = sum(cdr.meta[f][0].lines for f in files)
    times = []
    for _ in range(3):
        df = pipeline.routed_pipeline_dual(spark.read.text(files), cdr.lookups)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    n_out = pipeline.routed_pipeline_dual(spark.read.text(files), cdr.lookups).count()
    expected = sum(cdr.meta[f][0].out_rows() for f in files)
    bench.check("replay.generator_counts", n_out == expected, f"{n_out} != {expected}")
    return {
        "pipeline.us_per_line": statistics.median(times) / lines * 1e6,
        "pipeline.out_per_in": n_out / lines,
    }


def plan_queries(bench: Bench, sf_dir: str) -> dict:
    """Time the certified batch twins of the sketch indexes (noop sink,
    median of ``PLAN_REPEATS``), tagging their Spark jobs so the event
    log can be split per query."""
    from sparkstreamingflume_spark.plans import REGISTRY

    sc = bench.spark.sparkContext
    m = {}
    for q in PLAN_QUERIES:
        times = []
        for i in range(PLAN_REPEATS):
            sc.setLocalProperty("perfbench.span", f"{q}#{i}")
            t0 = time.time()
            REGISTRY[q].build(bench.spark, sf_dir).write.mode("overwrite").format("noop").save()
            t1 = time.time()
            bench.tracer.add(f"plans.{q}", t0, t1, f"{q}#{i}")
            times.append(t1 - t0)
            bench.attempted += 1
        sc.setLocalProperty("perfbench.span", None)
        m[f"query_s.{q}"] = statistics.median(times)
    return m


def plan_layers(bench: Bench, log) -> dict:
    from stats import driver_gap

    m = {}
    for q in PLAN_QUERIES:
        cpu = shuffle = spill = stages = 0.0
        gaps = []
        for s in bench.tracer.by_name(f"plans.{q}"):
            jobs = log.jobs_where("perfbench.span", s.trace)
            tot = log.job_totals(jobs)
            cpu += tot.get("cpu_ns", 0) / 1e9
            shuffle += tot.get("shuffle_write", 0) / 1e6
            spill += tot.get("spill", 0) / 1e6
            stages += tot["stages"]
            gaps.append(driver_gap(s.start * 1000, s.end * 1000, jobs) / 1000)
        m[f"plans.{q}.cpu_s"] = cpu / PLAN_REPEATS
        m[f"plans.{q}.shuffle_mb"] = shuffle / PLAN_REPEATS
        m[f"plans.{q}.spill_mb"] = spill / PLAN_REPEATS
        m[f"plans.{q}.stages"] = stages / PLAN_REPEATS
        m[f"plans.{q}.driver_gap_s"] = statistics.median(gaps)
    return m


def scaling_vs_1core(bench: Bench, cdr: CdrBulk, n_files: int) -> float:
    """cdr_bulk-shaped drain throughput at local[nproc] over local[1]: two
    batches of ``n_files`` files each; the first is the warm-up."""
    rates = {}
    for cores in (1, bench.cpus):
        bench.start_session(master=f"local[{cores}]")
        cdr.setup(f"scale_setup{cores}")
        win = cdr.drain(f"scale{cores}", 2 * n_files, n_files, 0, 2, 1)
        batches = win.measured()
        rates[cores] = win.rows(p["batchId"] for p in batches) / sum(
            p["durationMs"]["triggerExecution"] / 1000 for p in batches
        )
    return rates[bench.cpus] / rates[1]


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def run(bench: Bench) -> dict:
    """Every metric of this run: the end-to-end ones, or with tracing on
    the per-layer ones."""
    _log("generating inputs")
    wl = {"cdr_bulk": CdrBulk, "sketch_index": SketchIndex}[bench.workload](bench)
    if bench.trace:
        return traced(bench, wl)
    setup_s = []
    # the first set-up launches the JVM, the later ones reuse it
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        bench.start_session()
        wl.setup(rep)
        setup_s.append(time.perf_counter() - t0)
        _log(f"setup {rep}: {setup_s[-1]:.2f} s")
    win, m = wl.window()
    _log(f"window: trigger ms {[p['durationMs']['triggerExecution'] for p in win.measured()]}, {m}")
    wl.verify(win)
    # a slow host shows here, outside every metric
    _log(f"host.canary_s {bench.canary():.3f}")
    return {"setup_s": statistics.median(setup_s), **m}


def traced(bench: Bench, wl) -> dict:
    """The per-layer metrics: a traced window, isolated replays, and last
    an untraced window to compare the traced one with. The untraced window
    runs on a JVM warmed longer, so ``harness.trace_overhead_frac`` leans
    high, the safe side for an overhead."""
    from stats import Tracer, parse_event_log

    ev_dir = f"{bench.work}/eventlog"
    bench.start_session(event_log=ev_dir)
    wl.setup("traced")
    bench.tracer = Tracer(enabled=True)
    twin, _ = wl.window()
    layers = {"harness.peak_rss_mb": bench.peak_rss_mb()}
    wl.verify(twin)
    _log("traced window verified; replays")
    if isinstance(wl, CdrBulk):
        cdr = wl
        sink_dirs = [twin.out]
        # the sketch layers from an isolated replay of the same body
        ev = EventsInput(
            bench.seed, f"{bench.work}/replay_events/events.parquet", REPLAY_SKETCH_BATCHES,
            REPLAY_SKETCH_ROWS, first_stream=1000,
        )
        body = SketchBody(bench, f"{bench.work}/replay_index")
        for b, f in enumerate(ev.files):
            body(bench.spark.read.parquet(f), b)
        plan_sf = f"{bench.work}/replay_events"
    else:
        cdr = CdrBulk(bench)
        cdr.load_lookups()
        body = wl.bodies[twin.tag]
        sink_dirs = [body.hll_dir, body.hdr_dir]
        plan_sf = wl.check_sf
    layers.update(pipeline_replay(bench, cdr, cdr.unique[:REPLAY_FILES]))
    layers.update(plan_queries(bench, plan_sf))
    bench.stop()  # finishes the event log

    ev_file = _event_log_file(ev_dir)
    log = parse_event_log(ev_file)
    layers.update(stream_layers(bench, twin, log, sink_dirs))
    layers.update(sketch_layers(bench, body))
    layers.update(plan_layers(bench, log))
    # the spans and the event log outlive the run, for a reader
    keep = os.path.join(os.path.dirname(bench.work), f"trace-{bench.workload}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    bench.tracer.dump(f"{keep}/spans.jsonl")
    shutil.copy(ev_file, f"{keep}/eventlog.json")
    bench.tracer = Tracer(enabled=False)
    _log("scaling")
    layers["harness.scaling_vs_1core"] = scaling_vs_1core(bench, cdr, BULK_FILES_PER_TRIGGER)

    bench.start_session()
    wl.setup("untraced")
    win, _ = wl.window()
    layers["harness.trace_overhead_frac"] = twin.trigger_ms() / win.trigger_ms() - 1
    layers["host.canary_s"] = statistics.median(bench.canary() for _ in range(CANARY_REPEATS))
    # the first start launches the JVM, as every deployed job's start does
    layers["session.cold_get_session_s"] = bench.session_starts[0]
    layers["session.get_session_s"] = statistics.median(bench.session_starts[1:])
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("cdr_bulk", "sketch_index"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import sparkstreamingflume_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEM} --driver-java-options -Djava.io.tmpdir={work}/tmp pyspark-shell"
    )
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = run(bench)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    _log(f"metrics: {metrics}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
