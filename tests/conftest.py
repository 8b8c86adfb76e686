from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    import os

    # keep shuffle/state-store partition counts aligned with the tiny test
    # cluster (otherwise stateful streaming pays 32 state partitions/batch)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from sparkstreamingflume_spark.session import get_session

    s = get_session("tests", master="local[4]")
    yield s


def lines_df(spark, lines: list[str]):
    from pyspark.sql import types as T

    return spark.createDataFrame(
        [(ln,) for ln in lines],
        T.StructType([T.StructField("value", T.StringType())]),
    )


def events_file_stream(spark, tmp_path, sf_dir: str):
    """The ``sf_dir`` events fixture in (ts, event_id) order, dropped as two
    json-lines files and read back one file per micro-batch — the
    in-order live feed for the foreachBatch twins' ``attach_*`` helpers.
    The file source takes files in mtime order, so the mtimes are set
    ascending."""
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ev = pq.read_table(f"{sf_dir}/events.parquet").to_pylist()
    rows = [
        {
            "user_id": r["user_id"],
            "ts": None if r["ts"] is None else r["ts"].isoformat(sep=" "),
            "event_id": r["event_id"],
            "event_type": r["event_type"],
        }
        for r in ev
    ]
    rows.sort(key=lambda r: (r["ts"] is None, r["ts"] or "", r["event_id"]))
    landing = tmp_path / "landing"
    landing.mkdir()
    half = (len(rows) + 1) // 2
    for i in range(2):
        path = landing / f"p{i}.json"
        path.write_text(
            "\n".join(json.dumps(r) for r in rows[i * half : (i + 1) * half])
            + "\n"
        )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return (
        spark.readStream.schema(
            "user_id LONG, ts STRING, event_id LONG, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .withColumn("ts", F.to_timestamp("ts"))
    )
