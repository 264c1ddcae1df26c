"""Physical-plan assertions (SURVEY §4/§6 scale discipline): the
optimizations the engine relies on at 100 TB must actually appear in the
executed plans — pushdown reaching the scan, broadcast for small dims,
partial aggregation, top-k without a global sort, partition pruning, and
no accidental cartesian products anywhere in the registered surface."""

from __future__ import annotations

import pytest

from rastercube_spark import registry

_QS = registry.queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = _QS[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q02_project_filter")
    assert "PushedFilters: [" in plan
    # and the scan doesn't read every column (projection pruning)
    assert "ReadSchema" in plan


def test_broadcast_join_for_small_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q11_broadcast_join")
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q20_tpch_q1_agg")
    # map-side partial + final hash aggregate
    assert plan.count("HashAggregate") >= 2


def test_topk_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q40_global_topk")
    assert "TakeOrderedAndProject" in plan


def test_cube_scan_partition_pruned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "qr06_cube_window_agg")
    assert "PartitionFilters" in plan and "frac_num" in plan


def test_theta_join_is_broadcast_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q16_theta_join")
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name",
    sorted(n for n in _QS if n not in {
        # intentional products: generated-frame cross joins (zero-IO
        # range sources) and the bounded all-pairs oracle formulation
        "qr01_windowed_read_fill",
        "q98_cosine_pairs_topk",
    }),
)
def test_no_cartesian_product(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_lsh_knn_is_bucketed_equi_join(spark, sf_dir):
    """The ANN candidate join must be a broadcast HASH join on
    (tbl, bucket) — never an all-pairs product — and the probe fan-out
    happens on the (small) query side only."""
    plan = _plan(spark, sf_dir, "q97_lsh_knn")
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_ivf_knn_is_equi_join_on_cid(spark, sf_dir):
    plan = _plan(spark, sf_dir, "qa2_ivf_knn")
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """qb1: the benchmark shingle set must BROADCAST (it is tiny by
    definition); the corpus side must never shuffle before the flagging
    join — contamination checks run over the full 100 TB corpus, so a
    corpus shuffle here would dominate the whole pipeline."""
    plan = _plan(spark, sf_dir, "qb1_decontaminate")
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_lsh_pairs_no_nested_loop(spark, sf_dir):
    """qb0 is the registered scale path for q98: its candidate join must
    be an equi-join on (tbl, bucket) and its rescore joins equi-joins on
    pair ids — NO nested-loop/cartesian anywhere in the plan (that was
    q98's whole problem at 100 TB)."""
    plan = _plan(spark, sf_dir, "qb0_cosine_pairs_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q98_left_side_parallelized(spark, sf_dir):
    """The inequality self-join's task count equals the left side's
    partition count — the repartition must survive into the plan (a
    single-file corpus would otherwise run the O(n²) stage in 1 task)."""
    df = _QS["q98_cosine_pairs_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan


@pytest.mark.parametrize(
    "name,table",
    [
        ("q20_tpch_q1_agg", "lineitem"),
        ("qd3_knn_label_consistency", "embeddings"),
        ("q96_knn_bruteforce", "embeddings"),
    ],
)
def test_rebalance_scan_survives_into_plan(spark, sf_dir, name, table):
    """The r9 under-partitioned-scan sweep placed ``rebalance_scan`` on
    these queries BY MEASUREMENT (q20 1.52→1.09 s, qd3 1.56→0.68 s at
    sf0.1); this pins the decision mechanically so a refactor can't
    silently drop the exchange (VERDICT r9 "Next round" #5). r15: the
    spread WIDTH is byte-derived (guide §2.2 — repartitioning a
    kilobyte scan to cluster width was pure scheduling overhead,
    PERF_r14's inverted 8-vs-32-core scaling), so the exchange appears
    exactly when the input is big enough to spread: ONE round-robin
    when ceil(bytes / _REBALANCE_BYTES_PER_TASK) > 1, NONE otherwise —
    and the count still fails if a second, unmeasured rebalance sneaks
    in."""
    import math
    import os as _os

    from rastercube_spark.sources.tables import _REBALANCE_BYTES_PER_TASK

    size = _os.path.getsize(f"{sf_dir}/{table}.parquet")
    target = min(
        spark.sparkContext.defaultParallelism,
        max(1, math.ceil(size / _REBALANCE_BYTES_PER_TASK)),
    )
    plan = _plan(spark, sf_dir, name)
    assert plan.count("RoundRobinPartitioning") == (1 if target > 1 else 0)


def test_rebalance_scan_width_tracks_bytes(spark):
    """r15 unit pin for the byte-derived spread: on a single-file scan,
    rebalance_scan's output partition count is
    min(cores, ceil(bytes / _REBALANCE_BYTES_PER_TASK)) when that
    exceeds 1, and the scan is returned UNTOUCHED (no exchange) when
    the byte math says one task owns it all — partition counts track
    data size, not the core count (guide §2.2; VERDICT r14 #1)."""
    import math
    import os as _os

    from rastercube_spark.sources.tables import (
        _REBALANCE_BYTES_PER_TASK,
        rebalance_scan,
    )

    cores = spark.sparkContext.defaultParallelism
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        path = f"{sf}/documents.parquet"
        if not _os.path.exists(path):
            continue
        size = _os.path.getsize(path)
        expect = min(cores, max(1, math.ceil(size / _REBALANCE_BYTES_PER_TASK)))
        df = spark.read.parquet(path)
        out = rebalance_scan(df)
        if expect <= 1:
            assert out is df, f"{sf}: tiny scan must not be repartitioned"
        else:
            assert out.rdd.getNumPartitions() == expect, f"{sf}"


def test_lsh_hash_pass_not_rebalanced(spark, sf_dir):
    """The r9 A/B measured a rebalance BEFORE qb0's Arrow hash pass
    strictly harmful at fixture scale (2.13/1.90 s without vs 2.57/2.29 s
    with) and a no-op on many-file production scans — it was reverted
    (docs/PERF_NOTES.md r9). r14: the post-DISTINCT candidate re-spread
    (the one RoundRobin this test used to pin) moved onto the over-gate
    fetch-join branch only — the LUT rescore has no vector fan-out, so
    AQE's byte-sized coalescing of the narrow pair rows is correct and
    qb0's gated plan carries NO round-robin exchange at all. A re-added
    hash-pass rebalance (or a re-spread on the LUT branch) would show
    up here, so neither negative result can silently flip back."""
    plan = _plan(spark, sf_dir, "qb0_cosine_pairs_lsh")
    assert plan.count("RoundRobinPartitioning") == 0


def test_sampled_anchor_filter_below_distinct(spark, sf_dir):
    """corpus_overlap(anchor='sampled') applies the key-space sampling
    predicate in code AFTER .distinct(), but the whole point at scale
    is that Catalyst pushes the deterministic filter-on-the-grouping-key
    BELOW the distinct so the anchor's keyed shuffle itself shrinks by
    the rate. Pin the pushdown: each side's xxhash64 Filter must sit
    UNDER (deeper than) its distinct HashAggregate in the executed
    plan, not above it."""
    from pyspark.sql import functions as F

    from rastercube_spark.operators.dedup import corpus_overlap

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = corpus_overlap(
        d.where(F.col("doc_id") % 3 != 0),
        d.where(F.col("doc_id") % 2 == 0),
        anchor="sampled",
        anchor_rate=0.05,
    )
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    filt = [i for i, l in enumerate(lines) if "Filter" in l and "xxhash64" in l]
    aggs = [
        i for i, l in enumerate(lines) if "HashAggregate" in l and "shingle" in l
    ]
    assert len(filt) == 2, "expected one pushed sampling filter per side"
    # plan text indents children BELOW parents: pushed-down means every
    # sampling filter appears after (deeper than) some distinct aggregate
    assert all(any(a < f for a in aggs) for f in filt)
    # and not hoisted above every aggregate
    assert min(aggs) < min(filt)


def test_cross_srs_gather_is_equi_join(spark, sf_dir, tmp_path):
    """gather_nearest_crs: projection math stays in the plan as column
    expressions; the source lookup is an equi-join on computed (x, y)."""
    from pyspark.sql import functions as F

    from rastercube_spark.functions.grids import glcf_to_modis_px
    from rastercube_spark.operators.resample import gather_nearest_crs

    src = spark.range(100).select(
        (F.col("id") % 10).cast("int").alias("x"),
        (F.col("id") / 10).cast("int").alias("y"),
        F.col("id").cast("int").alias("value"),
    )
    out = gather_nearest_crs(spark, src, glcf_to_modis_px, (0, 8), (0, 8))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_bucketed_hash_join(spark, sf_dir):
    """The interval join must compile to a broadcast HASH equi-join on
    the bucket id — not the nested loop a raw BETWEEN predicate plans
    (q16 shows that shape)."""
    plan = _plan(spark, sf_dir, "q19_range_join")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_range_join_matches_naive(spark, sf_dir):
    """Operator property: bucketed result ≡ the naive BETWEEN join,
    including intervals shorter/longer than the bucket width and points
    on interval endpoints (inclusive both ends)."""
    from pyspark.sql import functions as F

    from rastercube_spark.operators.rangejoin import range_join

    pts = spark.range(0, 500).select((F.col("id") * 0.7).alias("p"), "id")
    iv = spark.createDataFrame(
        [(0, 0.0, 0.7), (1, 10.0, 250.0), (2, 340.9, 341.0), (3, 349.3, 349.3)],
        "iv_id int, lo double, hi double",
    )
    got = (
        range_join(pts, iv, "p", "lo", "hi", bucket_width=5.0)
        .select("id", "iv_id")
        .collect()
    )
    naive = (
        pts.join(iv, F.col("p").between(F.col("lo"), F.col("hi")))
        .select("id", "iv_id")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, naive))
    assert len(naive) > 300  # the fixture actually exercises overlaps


def test_mixture_sample_broadcasts_rates(spark, sf_dir):
    """qb3: the mixture-spec join must broadcast (one row per source)
    and the corpus must reach the filter without a shuffle — mixture
    sampling runs over the full corpus, so any corpus exchange before
    the keep/drop filter would dominate the pass."""
    plan = _plan(spark, sf_dir, "qb3_mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_passage_dedup_joins_on_hash(spark, sf_dir):
    """qb4: passage-count join must be an equi-join on the md5 key —
    never a product — and both aggregates must have map-side partials
    (HashAggregate pairs), the shape that survives a 100 TB corpus."""
    plan = _plan(spark, sf_dir, "qb4_passage_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_quality_rules_zero_shuffle(spark, sf_dir):
    """qb5 is pure per-row column expressions: the only Exchange allowed
    in the plan is the final presentation sort's range partitioning."""
    plan = _plan(spark, sf_dir, "qb5_quality_rules")
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan
    assert plan.count("Exchange") <= 2  # rangepartitioning for orderBy


def test_stream_static_join_broadcasts_dim(spark, sf_dir):
    """q75: the enrichment dimension must broadcast — in the streaming
    form Spark re-broadcasts it per microbatch and the stream is never
    shuffled for the join (the canonical 100 TB/day enrichment shape)."""
    plan = _plan(spark, sf_dir, "q75_stream_static_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_group_sample_two_level_map_side_limit(spark, sf_dir):
    """qb7: both top-k levels must carry Spark's WindowGroupLimit
    map-side (Partial) pushdown — rows beyond k die before each
    exchange — and the first level must partition on (source, hex
    digit), never on source alone first (that is the single-task-per-
    group funnel the operator exists to avoid)."""
    plan = _plan(spark, sf_dir, "qb7_group_sample")
    assert plan.count("WindowGroupLimit") >= 4  # Partial+Final × 2 levels
    assert "Partial" in plan


def test_mixture_upsample_broadcast_explode(spark, sf_dir):
    """qb8: weights broadcast, fan-out is a map-side Generate explode,
    and the corpus scan reads only the two columns the query needs."""
    plan = _plan(spark, sf_dir, "qb8_mixture_upsample")
    assert "BroadcastHashJoin" in plan
    assert "Generate explode" in plan
    assert "SortMergeJoin" not in plan


def test_stream_stream_join_is_keyed(spark, sf_dir):
    """q76: the interval join must key on user_id with the time bound
    as a residual predicate — a keyed join (sort-merge or hash), never
    a nested-loop/cartesian over two event sets."""
    plan = _plan(spark, sf_dir, "q76_stream_stream_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_temperature_mixture_broadcasts_rates(spark, sf_dir):
    """qd2: the computed rate relation (one row per source, derived
    engine-side from counts) must broadcast exactly like qb3's
    hand-written spec — the corpus reaches the keep/drop filter without
    a sort-merge shuffle."""
    plan = _plan(spark, sf_dir, "qd2_temperature_mixture")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_anti_join_on_hash(spark, sf_dir):
    """qd1: the store lookup must be a LEFT ANTI equi-join on the
    fingerprint — never a product — and the keeper aggregate must have
    map-side partials. No text column may survive past the fingerprint
    projection (only 16-byte hashes shuffle)."""
    plan = _plan(spark, sf_dir, "qd1_incremental_dedup")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_knn_label_consistency_broadcasts_probes(spark, sf_dir):
    """qd3: the probe set must broadcast into the scoring join (the
    corpus is never shuffled for it — same shape as q96); the label
    report must aggregate with map-side partials."""
    plan = _plan(spark, sf_dir, "qd3_knn_label_consistency")
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_neardup_decontaminate_broadcasts_eval_bands(spark, sf_dir):
    """qd4: the benchmark band keys must broadcast into the candidate
    join (the corpus never self-joins — no train×train candidates can
    exist by construction) and nothing may plan a product."""
    plan = _plan(spark, sf_dir, "qd4_neardup_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_novelty_no_pairs_no_product(spark, sf_dir):
    """qd6: novelty is df-counting on the shingle key — keyed hash
    joins/aggregates only, never a pair join or product, and the
    document-frequency aggregate must be map-side partial."""
    plan = _plan(spark, sf_dir, "qd6_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_split_assign_zero_shuffle_map_side(spark, sf_dir):
    """qd7: the split decision is a pure column expression — the ONLY
    exchange in the plan is the presentation ORDER BY's range exchange;
    no join, no aggregate, no hash exchange of the corpus."""
    plan = _plan(spark, sf_dir, "qd7_split_assign")
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "hashpartitioning" not in plan


def test_neardup_decontaminate_reuses_banding_exchange(spark, sf_dir):
    """qd4's candidate relation feeds BOTH the train semi-join and the
    pair list with no checkpoint/persist (a localCheckpoint here
    executed the corpus banding at plan-CONSTRUCTION time under AQE,
    mis-metering every bench) — Catalyst's exchange reuse must dedupe
    the shared subtree in the executed plan instead."""
    df = _QS["qd4_neardup_decontaminate"](spark, sf_dir)
    df.collect()  # reuse nodes appear in the FINAL adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_lsh_rescore_fetch_broadcast_gate(spark, sf_dir):
    """r9 gate, r14 form: when corpus_rows says the vectors fit the
    32 MB gate, the exact rescore now runs as the broadcast-LUT
    ``mapInPandas`` (NO vector-fetch joins at all — candidates ship two
    ids per pair and the matrix rides one sc.broadcast); when it says
    they don't (the 100 TB side), the rescore fails CLOSED to keyed
    fetch joins with NO broadcast. The optimizer's own size-estimate
    broadcast is disabled for the check so the plan shape isolates the
    gate — at fixture scale Catalyst would broadcast tiny parquet
    regardless, which is exactly what a 100 TB corpus cannot rely on."""
    from rastercube_spark.operators.similarity import lsh_cosine_pairs
    from rastercube_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings")

    def plan(corpus_rows):
        df = lsh_cosine_pairs(
            e, dim=64, threshold=0.35, k=None, corpus_rows=corpus_rows
        )
        return df._jdf.queryExecution().executedPlan().toString()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = plan(corpus_rows=500)
        # under the gate: LUT rescore — one MapInPandas; the only join
        # left is the (tbl, bucket) candidate join (no fetch joins)
        assert "MapInPandas" in small, small
        assert "BroadcastHashJoin" not in small, small
        assert (
            small.count("SortMergeJoin") + small.count("ShuffledHashJoin") == 1
        ), small
        big = plan(corpus_rows=10_000_000)  # ~5 GB of vectors: over gate
        assert "MapInPandas" not in big, big
        assert "BroadcastHashJoin" not in big, big
        # candidate join + two keyed vector-fetch joins
        assert big.count("SortMergeJoin") + big.count("ShuffledHashJoin") == 3, big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_embedding_drift_single_pass_no_explode(spark, sf_dir):
    """qe0's scale claim is mechanical: the corpus is read ONCE and never
    inflated dim-fold — no Generate (explode) anywhere, ONE
    hash-partitioned exchange (the label groupBy; the only other
    exchange is the n_labels-row output sort), and the Summarizer
    aggregate runs partial+final (map-side combinable)."""
    plan = _plan(spark, sf_dir, "qe0_embedding_drift")
    assert "Generate" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("ObjectHashAggregate") >= 2  # partial + final


def test_containment_audit_topk_no_pairs(spark, sf_dir):
    """qe1: shingle-keyed groupBy + equi-join back — never a doc×doc
    pair relation (no cartesian/BNLJ) — and the top-20 is TakeOrdered,
    not a global sort."""
    plan = _plan(spark, sf_dir, "qe1_containment_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pq_knn_broadcast_query_side_no_corpus_shuffle(spark, sf_dir):
    """qe2: the ADC pass broadcast-joins the tiny query-id side against
    the encoded corpus (no corpus-sized shuffle before the per-query
    window), the refine fetch is a keyed join, and nothing plans a
    cartesian over the full corpus pair space."""
    plan = _plan(spark, sf_dir, "qe2_pq_knn")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_source_overlap_keyed_self_join_broadcast_totals(spark, sf_dir):
    """qe3: the passage self-join is a hash-keyed equi-join (fan-out
    bounded by the source count — never a cartesian/BNLJ over passage
    space) and both per-source total joins ride broadcasts."""
    plan = _plan(spark, sf_dir, "qe3_source_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_embedding_outliers_one_pass_group_limit(spark, sf_dir):
    """qe4: no explode anywhere (the corpus is never inflated
    dim-fold), the label→sum map broadcasts, the Summarizer centroid
    aggregate runs partial+final, and the per-label bottom-k executes
    under map-side WindowGroupLimit (Partial + Final), never a
    whole-label sort in one task feeding a filter."""
    plan = _plan(spark, sf_dir, "qe4_embedding_outliers")
    assert "Generate" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("ObjectHashAggregate") >= 2
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_bm25_topk_takeordered_broadcast_stats(spark, sf_dir):
    """qe5: the global top-k is TakeOrdered (no full sort), df is a
    broadcast hash join, and the only nested-loop is the 1-row
    avgdl/N scalar broadcast (the sanctioned scalar cross-join
    shape)."""
    plan = _plan(spark, sf_dir, "qe5_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # scalar cross join: BNLJ build side is the single-row stats agg
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_bm25_topk_two_pass_lexical_leg(spark, sf_dir):
    """qe5 (r14 entry 9): the lexical leg tokenizes the corpus exactly
    TWICE — one base projection feeds both the avgdl/N stats and the
    pre-filtered tf explode — and dl rides the tf groupBy instead of a
    full-corpus join, so the plan has at most 3 corpus scans (stats,
    tf, and the oracle's own doc relation) and exactly one
    BroadcastHashJoin (df); the old 4-scan shape carried a second
    (doc-keyed) join for dl."""
    plan = _plan(spark, sf_dir, "qe5_bm25_topk")
    assert plan.count("Scan parquet") <= 3, plan.count("Scan parquet")
    assert plan.count("BroadcastHashJoin") == 1, plan.count(
        "BroadcastHashJoin"
    )
    assert "SortMergeJoin" not in plan


def test_dedup_within_watermark_distributed_prefix(spark, sf_dir):
    """q77: the prior-arrival max rides the distributed prefix scan —
    a bucketed window, NEVER a single-task global window — and the
    per-key chain is MapInPandas over key-repartitioned sorted
    partitions (one Python invocation per partition, not per key: the
    applyInPandas form spent ~12 ms of worker round-trip per tiny key
    group, 9 s at sf0.01)."""
    plan = _plan(spark, sf_dir, "q77_dedup_within_watermark")
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "hashpartitioning(user_id" in plan
    assert "CartesianProduct" not in plan
    # the prefix operator's window is bucket-partitioned — nothing in
    # the plan funnels the relation through one task
    assert "windowspecdefinition(__bkt" in plan
    assert "Exchange SinglePartition" not in plan


def test_ivfpq_knn_probe_broadcast_no_corpus_shuffle(spark, sf_dir):
    """qf0: the IVF×PQ composition keeps both parents' plan contracts —
    the exploded (q_id, cid) probe list broadcasts against the encoded
    corpus (BroadcastHashJoin; the corpus itself is never hash-
    exchanged before ADC), the refine fetch is a keyed broadcast join,
    nothing plans a cartesian or a sort-merge, and the only shuffle is
    the per-query window over the bounded candidate set. All three
    rank cuts run under map-side WindowGroupLimit."""
    plan = _plan(spark, sf_dir, "qf0_ivfpq_knn")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    # the single hash exchange belongs to the candidate window, which
    # sees <= nprobe/n_coarse of the corpus per query — never the
    # corpus itself
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("WindowGroupLimit") >= 2


def test_ivfpq_persisted_probe_dpp_no_corpus_exchange(spark, sf_dir, tmp_path):
    """VERDICT r12 #3, the persisted half of qf0's 100 TB contract: a
    probe over a build-ann-index output (codes parquet PARTITIONED BY
    cid) plans (a) NO shuffle of the encoded corpus — the probe list
    broadcasts (BroadcastHashJoin, no SortMergeJoin), the only hash
    exchange is the bounded candidate window — and (b) DYNAMIC
    PARTITION PRUNING on cid: the codes scan carries a dynamicpruning
    subquery fed by the broadcast probe side, so only the nprobe/
    n_coarse probed list partitions are ever READ."""
    from pyspark.sql import functions as F

    from rastercube_spark.operators.similarity import (
        ivfpq_probe,
        load_ann_index,
        save_ann_index,
    )
    from rastercube_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    idx = str(tmp_path / "ann_index")
    save_ann_index(e, idx, dim=64)
    enc, meta = load_ann_index(spark, idx)
    out = ivfpq_probe(
        qs, enc, e, meta["coarse_cents"],
        (meta["pq_sums"], meta["pq_cnts"]), dim=meta["dim"],
        k=10, nprobe=8, rerank=100,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "dynamicpruning" in plan.lower()


def test_embedding_dim_stats_no_corpus_explode(spark, sf_dir):
    """qf1: the corpus is never inflated dim-fold — the only Generate
    is the posexplode of the ONE aggregated row; both moment sums run
    as partial+final Summarizer ObjectHashAggregates; no join of any
    kind."""
    plan = _plan(spark, sf_dir, "qf1_embedding_dim_stats")
    assert plan.count("Generate") == 1
    assert plan.count("ObjectHashAggregate") >= 2
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_token_surprisal_vocab_keyed_takeordered(spark, sf_dir):
    """qf2: every shuffle is keyed on the bounded vocabulary or doc id
    (never pairs), the scalar total is the sanctioned 1-row broadcast
    nested loop, the N_total side is map-only (no third explode), and
    the bottom-k is TakeOrdered, not a full sort."""
    plan = _plan(spark, sf_dir, "qf2_token_surprisal")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert plan.count("Generate") <= 2


def test_length_histogram_map_only_tiny_shuffle(spark, sf_dir):
    """qf3: no explode anywhere (token counts from size(split())), no
    joins, exactly one exchange — the ~40-bucket groupBy with map-side
    partials."""
    plan = _plan(spark, sf_dir, "qf3_length_histogram")
    assert "Generate" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_hybrid_rrf_group_limits_and_no_pairs(spark, sf_dir):
    """qf4: both legs' per-query top-k and the fused top-k execute under
    WindowGroupLimit (map-side Partial + Final — never a whole-leg sort
    in one task); the only nested-loop joins are the sanctioned
    broadcasts (the 1-row avgdl/N scalar and the |queries|-row vector
    side); df/qterms/heavy lookups ride broadcast hash joins; nothing
    plans a cartesian."""
    plan = _plan(spark, sf_dir, "qf4_hybrid_rrf")
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 4
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "BroadcastHashJoin" in plan


def test_boilerplate_map_side_shingles_takeordered(spark, sf_dir):
    """qf5: the gram explode's generator child is the cheap int INDEX
    sequence (InferFiltersFromGenerate clones the child into a pushed
    filter — with the original array_distinct(transform) child that
    clone re-ran the whole gram build ~3x, twice on the single
    pre-shuffle task: 10 s at sf0.1 vs ~1 s now); per-doc dedup is the
    relational distinct (its exchange reused across the three
    consumers), the heavy-set join is an equi-join (AQE free to
    broadcast — never a nested loop), and the top-k is TakeOrdered,
    not a global sort."""
    plan = _plan(spark, sf_dir, "qf5_boilerplate_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the distinct (doc, gram) subtree feeds totals/heavy/boiler; the
    # explode appears once per unshared branch, never more
    assert plan.count("Generate") <= 6
    # and the expensive generator child must NOT be cloned into a
    # pushed filter: no array_distinct anywhere in the executed plan
    assert "array_distinct" not in plan


def test_ann_index_audit_no_joins_no_corpus_shuffle(spark, sf_dir):
    """qf6 (r14 single-pass shape): the audit reads the corpus EXACTLY
    ONCE — one scan, one Arrow projection evaluating both UDFs, one
    constant-fan-out Generate of (part, key, val) rows, two keyed
    aggregations over index-sized keys. NO join of any kind, no pair
    relation, no union of re-scanned branches (the r14 before-plan had
    three full corpus scans, one per union branch)."""
    plan = _plan(spark, sf_dir, "qf6_ann_index_audit")
    for op in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
        "Union",
    ):
        assert op not in plan, op
    assert plan.count("Scan parquet") == 1, "corpus must be read once"
    assert plan.count("ArrowEvalPython") == 1, "both UDFs in one stage"
    assert plan.count("Generate") <= 1
    assert "HashAggregate" in plan


def test_repeated_spans_hash_keyed_no_pairs(spark, sf_dir):
    """qf7: the positioned-gram relation shuffles only on the gram hash
    (map-side-combinable count + one equi-join — AQE may broadcast the
    pruned count side at test scale, SMJ at 100 TB, never a nested
    loop); the island window partitions by doc_id (no global sort of
    the gram relation); top-k is TakeOrdered. Cost per gram occurrence
    is linear — nothing pairwise anywhere."""
    plan = _plan(spark, sf_dir, "qf7_repeated_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Generate") <= 2  # gram explode, one per consumer branch


def test_token_budget_histogram_not_global_sort(spark, sf_dir):
    """qf8: the scale contract — the per-document running sum runs ONLY
    over each source's boundary score class, never the whole source.
    In the plan: the boundary relation is an explicit broadcast join
    (never a shuffle of the corpus against it), there is no Generate
    (hits/dl are size(filter(split)) map-side exprs), and no
    TakeOrdered/limit hides an all-docs sort."""
    plan = _plan(spark, sf_dir, "qf8_token_budget")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # boundary classes, F.broadcast pinned
    assert "Generate" not in plan


def test_dup_rate_estimate_bounded_scalar_broadcasts(spark, sf_dir):
    """qf9: every nested-loop join in the plan is a BROADCAST of a
    scalar/threshold relation (bucket count, n_pairs, 2-row threshold
    table — duplicated across unshared subtrees); the pair sample and
    the Jaccard verify ride equi-joins (bucket / doc / shingle keys);
    no cartesian anywhere."""
    plan = _plan(spark, sf_dir, "qf9_dup_rate_estimate")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 6
    assert "BroadcastHashJoin" in plan


def test_semantic_decontaminate_map_only(spark, sf_dir):
    """qg0: the decisive scale property — the corpus is NEVER joined or
    hash-shuffled. The whole audit is scan → one rebalance exchange →
    one Arrow scoring pass → TakeOrdered; the eval side enters as a
    collected matrix, not a relation."""
    plan = _plan(spark, sf_dir, "qg0_semantic_decontaminate")
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "TakeOrderedAndProject" in plan


def test_chunk_documents_map_only_cheap_generator(spark, sf_dir):
    """qg1: map-only — no joins, no hash exchange (the registered
    query's ORDER BY adds only a range exchange); exactly one Generate,
    and its generator child is the int position sequence, never the
    chunk string build (qf5's InferFiltersFromGenerate lesson)."""
    plan = _plan(spark, sf_dir, "qg1_chunk_documents")
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Generate") == 1
    assert "array_distinct" not in plan


def test_char_langid_broadcast_profile_no_corpus_join(spark, sf_dir):
    """qg2: the trigram relation shuffles only on (doc_id, gram) keys;
    the per-language profile joins back as a BROADCAST (never a
    sort-merge of corpus-sized sides), and the 'und' default comes from
    a weighted union — the corpus is never left-joined to its own
    predictions. Exactly three Generates: the trigram explode once per
    train/score pass plus the tiny 2-row weight explode."""
    plan = _plan(spark, sf_dir, "qg2_char_langid")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Generate") == 3


def test_template_prefixes_map_only_prefix_takeordered(spark, sf_dir):
    """qg3: NO explode at all (the prefix is a slice + array_join — a
    map-only projection); the per-source totals join back broadcast;
    the top-k is TakeOrdered, never a global sort."""
    plan = _plan(spark, sf_dir, "qg3_template_prefixes")
    assert "Generate" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_source_dup_matrix_candidates_only(spark, sf_dir):
    """qg4: the q92/q93 discipline holds through the source
    attribution — no cartesian product, no nested-loop join; the band
    bucket join, the Jaccard verify and the (doc_id, source) lookups
    are all keyed equi-joins."""
    plan = _plan(spark, sf_dir, "qg4_source_dup_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_score_percentiles_histogram_not_sort(spark, sf_dir):
    """qg5: the decisive scale property — the corpus is scanned ONCE
    and never sorted per source: the only windows and the final
    conditional aggregation run over the tiny (source, score)
    histogram. One hash exchange for the histogram groupBy, one for
    the per-source window; no joins, no per-document window, no
    sort-merge."""
    plan = _plan(spark, sf_dir, "qg5_source_score_percentiles")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # histogram groupBy + source-window + final agg: ≤3 hash exchanges,
    # all keyed on source/(source, score) — never doc_id
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "hashpartitioning(doc_id" not in plan


def test_code_detect_map_only_tiny_shuffle(spark, sf_dir):
    """qg6: all three signals are column expressions — no explode, no
    join; exactly one hash exchange (the |sources|-row count with
    map-side partials)."""
    plan = _plan(spark, sf_dir, "qg6_code_detect")
    assert "Generate" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2


def test_dup_cluster_histogram_fingerprint_only(spark, sf_dir):
    """qg7: q91's discipline carries through — the only corpus-wide
    shuffle key is the fixed-width fingerprint, the histogram is a
    second tiny keyed aggregate; no joins, no text on the wire beyond
    the md5 projection."""
    plan = _plan(spark, sf_dir, "qg7_dup_cluster_histogram")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan


def test_knn_graph_candidate_join_is_keyed(spark, sf_dir):
    """qg8: corpus-as-queries — the candidate pairing is a cid-keyed
    COGROUP (r14: FlatMapCoGroupsInPandas scores whole lists in one
    Arrow pass; both sides co-partition on cid at 100 TB), never a
    cartesian or nested-loop product; the per-source window cut runs
    under WindowGroupLimit."""
    plan = _plan(spark, sf_dir, "qg8_knn_graph_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    assert "WindowGroupLimit" in plan


def test_knn_graph_indexed_member_side_no_exchange(spark, sf_dir, tmp_path):
    """VERDICT r13 #2, qg8's persisted-index contract made executable
    (the test_plans.py:508 playbook applied to the corpus-as-queries
    topology), updated for the r14 cogrouped scorer: with the
    save_ann_index codes (store_vectors=True) re-written bucketed by
    cid, the MEMBER side feeds the FlatMapCoGroupsInPandas pairing
    straight off the bucketed scan — NO exchange, no per-row
    assignment UDF (cid comes from storage, so exactly one Arrow
    expression stage remains: the probe-list UDF; scoring now happens
    INSIDE the cogroup, so the per-pair cosine projection is gone) —
    and the ONLY corpus-sized shuffles in the whole edge derivation
    are the probe side aligning to the store's bucketing and the
    single per-source window exchange (which runs under a map-side
    partial WindowGroupLimit). The same edges over the plain
    (unbucketed) parquet codes shuffle BOTH cogroup inputs: one more
    exchange."""
    import shutil

    from rastercube_spark.operators.similarity import (
        knn_graph_edges,
        knn_graph_index_sides,
        load_ann_index,
        save_ann_index,
    )
    from rastercube_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ann_index_v")
    save_ann_index(e, idx, dim=64, store_vectors=True)
    enc, meta = load_ann_index(spark, idx)

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS b_codes")
    shutil.rmtree(f"{wh}/b_codes", ignore_errors=True)
    (
        enc.write.mode("overwrite")
        .bucketBy(8, "cid")
        .sortBy("cid")
        .format("parquet")
        .saveAsTable("b_codes")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cb, qb, _ = knn_graph_index_sides(
            spark.table("b_codes"), meta, nprobe=4
        )
        edges = knn_graph_edges(cb, qb, k=10)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan
        assert "CartesianProduct" not in plan
        assert "Bucketed: true" in plan, plan[:3000]
        # probe-side alignment + s_id window — the member side never
        # exchanges
        assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]
        assert "WindowGroupLimit" in plan and "Partial" in plan
        # cid comes from storage and scoring lives inside the cogroup:
        # the probe-list UDF is the only Arrow expression stage (inline
        # mode adds the assignment UDF)
        assert plan.count("ArrowEvalPython") == 1

        # contrast: the unbucketed parquet codes shuffle both inputs
        cb_u, qb_u, _ = knn_graph_index_sides(enc, meta, nprobe=4)
        plan_u = (
            knn_graph_edges(cb_u, qb_u, k=10)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan_u.count("Exchange hashpartitioning") == 3, plan_u[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_codes")


# --- scanline polygon mask: one pushed-down filter, no join/exchange -----

def _pushed_filters(df) -> str:
    """The parquet scan's full PushedFilters (the plan string abbreviates
    scan metadata)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.length())]
    scans = [s for s in scans if s.nodeName().startswith("Scan parquet")]
    assert len(scans) == 1
    return scans[0].metadata().get("PushedFilters").get()


# poly_4frac spans x ∈ [28.5, 52.5], y ∈ [30.5, 52.5] → pixel rows/cols
# whose centre lies in the bbox: x ∈ [28, 52], y ∈ [30, 52]
_POLY_4FRAC_BOUNDS = (
    "GreaterThanOrEqual(x,28)", "LessThanOrEqual(x,52)",
    "GreaterThanOrEqual(y,30)", "LessThanOrEqual(y,52)",
)


def test_polygon_mask_is_one_pushed_filter(spark, sf_dir):
    df = _QS["qr02_polygon_mask"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    # qr02's own GROUP BY and ORDER BY; the mask adds none
    assert plan.count("Exchange") == 2, plan
    pushed = _pushed_filters(df)
    assert all(b in pushed for b in _POLY_4FRAC_BOUNDS), pushed


def test_polygon_mask_on_cube_slice(spark):
    from rastercube_spark.operators.polygon import points_in_polygon
    from rastercube_spark.queries.raster import _ndvi_cube
    from rastercube_spark.sources.tables import load

    cube = _ndvi_cube(spark)
    pts = cube.load_slice_xy(spark, (20, 20), (60, 60), 0, 5)
    df = points_in_polygon(pts, load(spark, "", "region_polygons"), "poly_4frac")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan
    pushed = _pushed_filters(df)
    assert all(b in pushed for b in _POLY_4FRAC_BOUNDS), pushed
