"""The route → conform → mask → enrich transformation graph.

Mirrors the reference's socket pipeline
(src/StreamingSocketProcess.scala:138-266): 11-way prefix routing, per-type
dirty-record filtering, phone-field MD5 masking, and broadcast-map
enrichment keyed on ``lac + ',' + ci``
(probe/filter/project: processTable, src/ProcessSums.scala:422-450).

Everything is a pure ``DataFrame -> DataFrame`` function of built-in
expressions, so the SAME code path serves batch frames and streaming
micro-batches — batch≡stream equivalence is a unit test, not a hope.
At scale: routing is a single derived column (one scan, no 11 filters),
enrichment is a broadcast hash join — no shuffle anywhere in the
per-record path. In the one-pass router (``routed_pipeline`` and
``routed_pipeline_dual``) the split, the mask and the key extraction are
expressions that whole-stage codegen compiles: the mask is a constant
splice of the split array (functions/lines.py), not an indexed
``transform`` lambda, which runs interpreted per array element.
``process_type`` and ``routed_pipeline_unioned`` keep the lambda form on
purpose: they are the independent reference the router is tested
against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions import lines as L
from sparkstreamingflume_spark.functions.barrier import anchor, stage_columns
from sparkstreamingflume_spark.schemas import ARCHIVE_PREFIXES, RECORD_TYPES, RecordType


def route(df: DataFrame, value_col: str = "value") -> DataFrame:
    """P2 — derive the 2-char routing prefix once (replaces the reference's
    11 independent ``filter(_.startsWith(...))`` passes over a cached
    stream, src/StreamingSocketProcess.scala:138-159). Unknown prefixes get
    rec_type='??' and flow to the dead-letter path."""
    prefix = F.substring(F.col(value_col), 1, 2)
    known = sorted(RECORD_TYPES) + list(ARCHIVE_PREFIXES)
    return df.withColumn(
        "rec_type", F.when(prefix.isin(known), prefix).otherwise(F.lit("??"))
    )


def conform(df: DataFrame, rt: RecordType, value_col: str = "value") -> DataFrame:
    """P9 — keep records whose split width matches the schema
    (src/ProcessSums.scala:435)."""
    return df.filter(L.dirty_filter(F.col(value_col), rt.n_fields, sep=rt.sep))


def mask(df: DataFrame, rt: RecordType, value_col: str = "value") -> DataFrame:
    """P4/P5 — MD5-mask the type's phone fields in place
    (src/DesenPross.scala:94-115; applied per type as in
    src/StreamingFlumeProcess.scala:146-149)."""
    return df.withColumn(
        value_col, L.mask_fields(F.col(value_col), rt.phone_idx, sep=rt.sep)
    )


def enrich(
    df: DataFrame,
    rt: RecordType,
    lookup: DataFrame,
    how: str = "inner",
    value_col: str = "value",
) -> DataFrame:
    """J1/J2 — broadcast enrichment join on ``lac + ',' + ci``.

    ``inner`` reproduces the reference's getOrElse + non-empty filter
    (drop non-matches, src/ProcessSums.scala:441-446); ``left`` keeps all
    records with flag='' for misses (J2). Output mirrors processTable's
    projection: (value, start_time, flag, tag).
    """
    key = F.concat_ws(
        ",",
        L.field_extract(F.col(value_col), rt.lac_idx, sep=rt.sep),
        L.field_extract(F.col(value_col), rt.ci_idx, sep=rt.sep),
    )
    joined = df.withColumn("lookup_key", key).join(
        F.broadcast(lookup), F.col("lookup_key") == F.col("map_key"), how
    )
    flag = F.col("map_value") if how == "inner" else F.coalesce("map_value", F.lit(""))
    return joined.select(
        F.col(value_col),
        L.field_extract(F.col(value_col), rt.start_time_idx, sep=rt.sep).alias(
            "start_time"
        ),
        flag.alias("flag"),
        F.lit(rt.tag).alias("tag"),
    )


def process_type(
    df: DataFrame, rt: RecordType, lookup: DataFrame, how: str = "inner"
) -> DataFrame:
    """Full per-type pipeline: conform → mask → enrich (the body of each
    of the reference's six per-type FTP pipelines,
    src/StreamingSocketProcess.scala:178-266).

    Fused single-split implementation: the composable conform/mask/enrich
    functions each re-split the line (fine for one-op use; 4 splits of a
    97-field string per record chained — measured ~35% of soak CPU), so
    the full pipeline splits ONCE into an array column and every stage
    reads that. Semantics are identical to the chained ops
    (tests/test_streaming.py pins batch == chain == stream).
    """
    import re as _re

    sep_re = _re.escape(rt.sep)
    # \z (end-of-input), not $: Java $ matches before a final \r, which
    # would swallow the separator on CRLF-terminated records (lines.py).
    arr0 = F.split(
        F.regexp_replace(F.col("value"), f"{sep_re}+\\z", ""), sep_re
    )
    with_arr = df.withColumn("_arr", arr0)
    conformed = with_arr.filter(F.size("_arr") == rt.n_fields)
    masked = conformed.withColumn(
        "_arr",
        F.transform(
            "_arr",
            lambda x, i: F.when(i.isin(list(rt.phone_idx)), F.md5(x)).otherwise(x),
        ),
    )
    key = F.concat_ws(
        ",", F.get(F.col("_arr"), rt.lac_idx), F.get(F.col("_arr"), rt.ci_idx)
    )
    joined = masked.withColumn("lookup_key", key).join(
        F.broadcast(lookup), F.col("lookup_key") == F.col("map_key"), how
    )
    flag = F.col("map_value") if how == "inner" else F.coalesce("map_value", F.lit(""))
    return joined.select(
        F.array_join("_arr", rt.sep).alias("value"),
        F.get(F.col("_arr"), rt.start_time_idx).alias("start_time"),
        flag.alias("flag"),
        F.lit(rt.tag).alias("tag"),
    )


def _check_router_types(types: list[tuple[str, RecordType]]) -> None:
    """Preconditions of the one-pass router over ``types``: one separator
    for all of them (the line is split once, before the type is known),
    and lac/ci/start-time positions that are inside the type's width and
    not masked (they are read from the unmasked array)."""
    seps = {rt.sep for _, rt in types}
    if len(seps) != 1:
        raise ValueError(f"one-pass router needs one separator for all types, got {sorted(seps)}")
    for p, rt in types:
        for name in ("lac_idx", "ci_idx", "start_time_idx"):
            i = getattr(rt, name)
            if not 0 <= i < rt.n_fields:
                raise ValueError(f"type {p}: {name}={i} is outside its {rt.n_fields} fields")
            if i in rt.phone_idx:
                raise ValueError(f"type {p}: {name}={i} is a masked phone field")


def _routed_masked(df: DataFrame) -> DataFrame:
    """Shared pre-join stage of the one-pass router: route → conform →
    mask → derive lookup_key, all as a single projection over literal
    map columns (rec_type → n_fields / lac / ci / start / tag).

    Returns one row per conformed input line with (value, start_time,
    tag, lookup_key): ``value`` is the masked, re-joined line, built
    before any fan-out so the masking runs once per input line. The mask
    is a CASE over the distinct phone-index sets, each branch a
    codegen'd splice (functions/lines.py); lookup_key and start_time
    read the unmasked array, which :func:`_check_router_types` makes
    equivalent.
    """
    types = sorted(RECORD_TYPES.items())
    _check_router_types(types)
    m_nf = F.create_map(*[x for p, rt in types for x in (F.lit(p), F.lit(rt.n_fields))])
    m_lac = F.create_map(*[x for p, rt in types for x in (F.lit(p), F.lit(rt.lac_idx))])
    m_ci = F.create_map(*[x for p, rt in types for x in (F.lit(p), F.lit(rt.ci_idx))])
    m_st = F.create_map(
        *[x for p, rt in types for x in (F.lit(p), F.lit(rt.start_time_idx))]
    )
    m_tag = F.create_map(*[x for p, rt in types for x in (F.lit(p), F.lit(rt.tag))])

    sep = types[0][1].sep
    routed = route(df).filter(F.col("rec_type").isin(*[p for p, _ in types]))
    rt_col = F.col("rec_type")
    # The split is staged behind the optimizer barrier so the width
    # filter and the projection below read one array: pushed through a
    # plain projection, the filter re-evaluated the split (0.93-1.02 ->
    # 0.76-0.81 s on 102k lines, 4 cores; functions/barrier.py).
    staged = stage_columns(routed, ["rec_type"], _arr=L.line_fields(F.col("value"), sep))
    with_arr = staged.filter(anchor(F.size("_arr") == F.element_at(m_nf, rt_col)))
    arr = F.col("_arr")
    by_mask: dict[tuple[int, ...], list[str]] = {}
    for p, rt in types:
        by_mask.setdefault(tuple(sorted(set(rt.phone_idx))), []).append(p)
    value = None
    for idx, prefixes in by_mask.items():
        cond, masked = rt_col.isin(*prefixes), L.mask_fields_arr(arr, idx, sep)
        value = F.when(cond, masked) if value is None else value.when(cond, masked)
    key = F.concat_ws(
        ",",
        F.element_at(arr, F.element_at(m_lac, rt_col) + 1),
        F.element_at(arr, F.element_at(m_ci, rt_col) + 1),
    )
    return with_arr.select(
        value.alias("value"),
        F.element_at(arr, F.element_at(m_st, rt_col) + 1).alias("start_time"),
        F.element_at(m_tag, rt_col).alias("tag"),
        key.alias("lookup_key"),
    )


def routed_pipeline(df: DataFrame, lookup: DataFrame, how: str = "inner") -> DataFrame:
    """The whole 6-type graph in ONE pass over the stream.

    The schema registry becomes literal map columns (rec_type →
    n_fields / lac / ci / start / tag) and one CASE over the phone-index
    sets, so routing, conforming, masking, and key extraction are a
    single projection — one scan, one broadcast join, no per-type
    branch-and-union (the reference re-filtered its cached stream once
    per type, src/StreamingSocketProcess.scala:138-159; a naive port
    unions 6 filtered branches = 6 passes per micro-batch).
    ``routed_pipeline_unioned`` keeps the branch-per-type shape as the
    equivalence reference; ``routed_pipeline_dual`` is the two-partner
    form the reference actually deploys.
    """
    joined = _routed_masked(df).join(
        F.broadcast(lookup), F.col("lookup_key") == F.col("map_key"), how
    )
    flag = F.col("map_value") if how == "inner" else F.coalesce("map_value", F.lit(""))
    return joined.select("value", "start_time", flag.alias("flag"), "tag")


def routed_pipeline_dual(
    df: DataFrame, lookups: dict[str, DataFrame], how: str = "inner"
) -> DataFrame:
    """Per-partner enrichment fan-out — the reference's deployed shape:
    it loads TWO broadcast maps (yaxin + yiyang,
    src/StreamingSocketProcess.scala:110-119) and passes both into every
    per-type writer (src/ProcessSums.scala:334; the intended per-partner
    ``processTable(record, mapN)`` calls are at :371-372), each partner's
    enrichment feeding its own sink tree (/yaxin vs /yiyang).

    Here: one pre-join pass (route → conform → mask → key) that builds
    the output line once per input line, then each record fans out to
    every partner (J3) and is enriched against THAT partner's map in a
    single broadcast join on (partner, lookup_key) — the per-partner
    maps union into one partner-tagged broadcast, so N partners still
    cost one scan + one join. Output adds a ``partner`` column for
    partner-routed sinks (K9). Row-equivalence with running
    ``routed_pipeline`` once per partner is pinned by
    tests/test_streaming.py (batch and streamed).
    """
    pre = _routed_masked(df)
    partners = sorted(lookups)
    fan = pre.withColumn(
        "partner", F.explode(F.array(*[F.lit(p) for p in partners]))
    )
    tagged = None
    for p in partners:
        t = lookups[p].select(
            F.lit(p).alias("_lk_partner"), "map_key", "map_value"
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    joined = fan.join(
        F.broadcast(tagged),
        (F.col("partner") == F.col("_lk_partner"))
        & (F.col("lookup_key") == F.col("map_key")),
        how,
    )
    flag = F.col("map_value") if how == "inner" else F.coalesce("map_value", F.lit(""))
    return joined.select("value", "start_time", flag.alias("flag"), "tag", "partner")


def routed_pipeline_unioned(
    df: DataFrame, lookup: DataFrame, how: str = "inner"
) -> DataFrame:
    """Branch-per-type reference implementation (6 filtered branches +
    union — the naive port of the reference's per-type fan-out). Kept as
    the equivalence oracle for routed_pipeline."""
    routed = route(df)
    parts = [
        process_type(routed.filter(F.col("rec_type") == p), rt, lookup, how=how)
        for p, rt in sorted(RECORD_TYPES.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def archive_frame(df: DataFrame) -> DataFrame:
    """The raw archive path (types 60/67-70,
    src/StreamingSocketProcess60.scala:134-202): pass-through with routing
    + ingest-time bucketing columns for partitioned sinks (P13)."""
    routed = route(df)
    return routed.filter(F.col("rec_type").isin(*ARCHIVE_PREFIXES)).select(
        "value",
        "rec_type",
        F.date_format(F.current_timestamp(), "yyyyMMdd").alias("dt"),
        F.hour(F.current_timestamp()).alias("hr"),
    )


def flume_pipeline(df: DataFrame, value_col: str = "value") -> DataFrame:
    """The Flume entry-point graph (src/StreamingFlumeProcess.scala:117-155):
    (filename, body) pairs from event headers, GPRS phone fields 0,1,2,7
    MD5-masked (:146-149), day-bucketed for the per-filename text sink
    (saveAsTextFile per filename/day, replaced by partitionBy(filename, dt)).

    Input must have (filename, value) columns — the file-drop JSON landing
    schema; the masked frame is sink-ready for write_partitioned_text with
    partition_cols=('filename', 'dt') (K7: one dir per key)."""
    from sparkstreamingflume_spark.schemas import GPRS

    masked = df.withColumn(
        value_col, L.mask_fields(F.col(value_col), GPRS.phone_idx, sep=GPRS.sep)
    )
    return masked.withColumn(
        "dt", F.date_format(F.current_timestamp(), "yyyyMMdd")
    )
