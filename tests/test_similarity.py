"""ANN quality gates: the approximate paths (LSH, IVF) are graded for
recall against the exact brute-force baseline — the measurement the
builder brief requires next to the plumbing. Candidate-set reduction is
also asserted: an 'approximate' method that scans everything is broken.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rastercube_spark.operators.similarity import (
    _FETCH_BROADCAST_BYTES,
    blocked_cosine_pairs,
    brute_force_knn,
    ivf_knn,
    lsh_cosine_pairs,
    lsh_knn,
    quantized_knn,
    semantic_dedup,
)
from rastercube_spark.sources.tables import load

K = 10


def _topk_sets(df):
    rows = df.collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["q_id"], set()).add(r["vec_id"])
    return out


def _recall(approx, exact):
    hits = sum(len(approx.get(q, set()) & s) for q, s in exact.items())
    total = sum(len(s) for s in exact.values())
    return hits / total


def test_ann_recall_and_candidate_reduction(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = _topk_sets(brute_force_knn(qs, e, k=K))
    n_corpus = e.count()

    from rastercube_spark.operators.similarity import train_ivf_centroids

    cents = train_ivf_centroids(e, dim=64, n_cents=16, n_iters=3)
    # Tuned production budgets (r6 VERDICT "what's wrong" #1 — the old
    # 0.5 floors at the smoke budget were not a production claim).
    # Measured recall@10 on the fixture corpora at THESE budgets:
    #   LSH 8 tables × Hamming-2 probing: 0.91 (sf0.001) / 0.98 (sf0.01)
    #   IVF trained Lloyd's, nprobe=8/16: 0.91 (sf0.001) / 0.85 (sf0.01)
    # (vs 0.55/0.59 LSH and 0.78/0.69 IVF at the old smoke budgets).
    lsh = lsh_knn(qs, e, dim=64, k=K, n_planes=8, n_tables=8, probe_hamming=2)
    ivf = ivf_knn(qs, e, dim=64, k=K, n_cents=16, nprobe=8, cents=cents)

    # candidate reduction: each query scores a strict subset of the corpus
    # (10 queries × full corpus would be 10*n rows pre-window)
    lsh_cands = lsh.count()
    ivf_cands = ivf.count()
    assert lsh_cands <= 10 * K and ivf_cands <= 10 * K

    r_lsh = _recall(_topk_sets(lsh), exact)
    r_ivf = _recall(_topk_sets(ivf), exact)
    assert r_lsh >= 0.8, f"LSH recall below tuned floor: {r_lsh}"
    assert r_ivf >= 0.8, f"trained-IVF recall below tuned floor: {r_ivf}"


def test_ivf_lists_balanced(spark, sf_dir):
    """The coarse quantizer must not collapse (all vectors in one list) —
    that would silently turn IVF into brute force. Checked for the
    trained quantizer qa2 ships (also ivf_knn's default)."""
    from rastercube_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )

    e = load(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(e, dim=64, n_cents=16, n_iters=3)
    sizes = (
        e.select(ivf_assign(F.col("embedding"), cents).alias("cid"))
        .groupBy("cid")
        .count()
        .collect()
    )
    n = sum(r["count"] for r in sizes)
    assert len(sizes) >= 8, "fewer than half the inverted lists are used"
    assert max(r["count"] for r in sizes) < 0.5 * n, "one list dominates"


def test_lsh_pairs_recall_vs_exact(spark, sf_dir):
    """qb0's LSH-candidate pair search must recover the TRUE most-similar
    pairs (exact half-matrix top-20): collision probability rises with
    cosine, so the top pairs are precisely the ones LSH is best at
    keeping — low recall here means broken hashing, not an unlucky
    corpus. Budget = qb2/qc0's registered config (sized planes,
    Hamming-2); measured 1.0 on the top-20 at both small SFs."""
    from rastercube_spark.operators.similarity import (
        lsh_cosine_pairs,
        planes_for_corpus,
    )
    from rastercube_spark.registry import queries

    exact_top = {
        (r["vec_a"], r["vec_b"])
        for r in queries()["q98_cosine_pairs_topk"](spark, sf_dir).collect()
        if r["cosine"] >= 0.35
    }
    e = load(spark, sf_dir, "embeddings")
    got = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_cosine_pairs(
            e,
            dim=64,
            threshold=0.35,
            k=50,
            n_planes=planes_for_corpus(e.count()),
            probe_hamming=2,
        ).collect()
    }
    assert exact_top, "fixture corpus has no pairs above threshold"
    recall = len(got & exact_top) / len(exact_top)
    assert recall >= 0.9, f"pair recall below tuned floor: {recall}"


def test_semantic_dedup_cluster_parity(spark, sf_dir):
    """The independent check the algorithm-mirroring LSH oracles cannot
    provide (r6 VERDICT "what's wrong" #1): qb2's registered keep-list
    must agree with the EXACT pipeline — all-pairs half-matrix cosine
    edges (no LSH) → the same min-label CC → keeper = cluster min — at
    small n. A conceptual bug in candidate generation passes the SQL
    oracle (it re-expresses the same bucketing) but cannot pass this.
    Keep-set = cluster keepers + every doc in no pair. Measured Jaccard
    0.95 (sf0.001) / 0.915 (sf0.01) at the registered budget."""
    from rastercube_spark.operators.graph import min_label_clusters
    from rastercube_spark.operators.similarity import cosine
    from rastercube_spark.registry import queries

    e = load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("_va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("_vb"))
    exact_edges = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.35)
    )
    exact_pairs = {(r["vec_a"], r["vec_b"]) for r in exact_edges.collect()}
    assert exact_pairs, "fixture corpus has no pairs above threshold"
    cl = min_label_clusters(
        exact_edges.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    keep_exact = {
        r["doc_id"]
        for r in cl.where(F.col("doc_id") == F.col("cluster_id")).collect()
    }
    all_ids = {r["vec_id"] for r in e.select("vec_id").collect()}
    paired_exact = {v for p in exact_pairs for v in p}
    keep_exact |= all_ids - paired_exact

    qb2 = queries()["qb2_semantic_dedup"](spark, sf_dir).collect()
    keep_lsh = {r["vec_id"] for r in qb2 if r["keeper"]}
    keep_lsh |= all_ids - {r["vec_id"] for r in qb2}

    jac = len(keep_exact & keep_lsh) / len(keep_exact | keep_lsh)
    assert jac >= 0.9, f"keep-set Jaccard vs exact CC below floor: {jac}"


def test_hyperplanes_span_orthants():
    """LSH bucket uniformity depends on the hyperplanes NOT sharing an
    orthant: the pre-r6 generator mapped every component to [−1, 0)
    (pairwise plane cosine ≈ 0.76), which funnelled a third of all
    vectors into the two all-same-sign buckets and made the candidate
    equi-join quasi-quadratic at n=80k (caught by tools/scaling.py).
    Guard both the generator's sign balance and the resulting bucket
    occupancy on neutral gaussian vectors."""
    import numpy as np

    from rastercube_spark.operators.similarity import _hyperplanes

    planes = np.array(_hyperplanes(64, 18, seed=7))
    assert (planes > 0).any(axis=1).all(), "a plane has no positive component"
    normed = planes / np.linalg.norm(planes, axis=1, keepdims=True)
    cos = normed @ normed.T
    off = cos[~np.eye(len(planes), dtype=bool)]
    assert abs(off.mean()) < 0.15, f"planes correlated: mean cos {off.mean():.3f}"

    rng = np.random.RandomState(7)
    vecs = rng.randn(20_000, 64)
    bits = (vecs @ planes.T) >= 0
    degenerate = (bits.all(axis=1) | (~bits).all(axis=1)).mean()
    assert degenerate < 0.01, (
        f"{degenerate:.1%} of vectors hash to an all-same-sign bucket"
    )


def test_planes_for_corpus_sizing():
    """The deployment-parameter rule measured by the r6 ablation: bucket
    count tracks the corpus (2^planes ≈ n), floored at 8 for tiny
    corpora and capped at 30 so bucket ids stay signed-int32."""
    from rastercube_spark.operators.similarity import planes_for_corpus

    assert planes_for_corpus(0) == 8
    assert planes_for_corpus(100) == 8
    assert planes_for_corpus(80_000) == 17
    assert planes_for_corpus(80_000, target_occupancy=0.3) == 19
    assert planes_for_corpus(10**12) == 30  # int32 cap
    # monotone in n: a bigger corpus never gets fewer buckets
    vals = [planes_for_corpus(n) for n in (10**3, 10**5, 10**7, 10**9)]
    assert vals == sorted(vals)


def test_lsh_pairs_unique_output(spark):
    """On a densely self-similar corpus a pair collides in MANY tables
    and probes; the operator must still emit each pair at most once
    (the narrow-row DISTINCT — kept deliberately over first-collision
    predicates, see the negative result in lsh_cosine_pairs)."""
    import numpy as np

    from rastercube_spark.operators.similarity import lsh_cosine_pairs

    rng = np.random.RandomState(7)
    cents = rng.randn(5, 64)
    vecs = (cents[rng.randint(0, 5, 300)] + 0.3 * rng.randn(300, 64)).astype(
        "float32"
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id int, embedding array<float>",
    )
    out = lsh_cosine_pairs(df, dim=64, threshold=0.5, k=10_000)
    rows = [(r["vec_a"], r["vec_b"]) for r in out.collect()]
    assert rows, "self-similar corpus must produce pairs"
    assert len(rows) == len(set(rows)), "duplicate pair emission"


def test_quantized_knn_recall_and_exact_scores(spark, sf_dir):
    """SQ8+ADC kNN (qb6's operator): int8 corpus codes scored
    asymmetrically against float queries must preserve the cosine
    ordering — recall@10 >= 0.9 vs the float-exact baseline (measured
    1.0 on the fixture corpus; the symmetric int8×int8 variant measured
    0.78, which is why the operator scores asymmetrically)."""
    from rastercube_spark.operators.similarity import quantized_knn

    e = load(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = _topk_sets(brute_force_knn(qs, e, k=K))
    q = quantized_knn(qs, e, k=K)
    assert dict(q.dtypes)["score"] == "double"
    r = _recall(_topk_sets(q), exact)
    assert r >= 0.9, f"SQ8+ADC recall {r} < 0.9"


def test_quantize_int8_bounds(spark, sf_dir):
    """SQ8 codes stay in [-127, 127] and the max-|x̂| element maps to
    ±127 exactly (symmetric scaling invariant); the dequantization step
    is strictly positive for nonzero vectors."""
    from rastercube_spark.operators.similarity import _sq8_pd

    e = load(spark, sf_dir, "embeddings")
    q = e.select(_sq8_pd(F.col("embedding")).alias("enc")).select(
        F.col("enc.q").alias("q"), F.col("enc.s").alias("s")
    )
    smin = q.agg(F.min("s").alias("m")).collect()[0]["m"]
    assert smin > 0.0
    q = q.select(
        F.array_max("q").alias("hi"),
        F.array_min("q").alias("lo"),
        F.greatest(F.array_max("q"), -F.array_min("q")).alias("amax"),
    )
    agg = q.agg(
        F.max("hi").alias("max_hi"),
        F.min("lo").alias("min_lo"),
        F.min("amax").alias("min_amax"),
    ).collect()[0]
    assert agg["max_hi"] <= 127 and agg["min_lo"] >= -127
    # every vector's largest-magnitude component hits full scale
    assert agg["min_amax"] == 127


def test_sq8_persisted_bytes_shrink(spark, sf_dir, tmp_path):
    """The qb6 scale story is 'encode once at ingest, persist the codes,
    scan 4× fewer bytes'. Make it measurable: the SQ8-encoded corpus
    (int8-valued codes + one float step) written as parquet must be
    well under half the float-embedding parquet — Spark has no 1-byte
    array element type (codes are int32 in memory), but parquet's
    bit-packing + byte-stream-split encodings recover the compression
    on disk, which is what a 100 TB scan reads."""
    import os

    from rastercube_spark.operators.similarity import _sq8_pd

    e = load(spark, sf_dir, "embeddings")
    fdir = str(tmp_path / "float")
    qdir = str(tmp_path / "sq8")
    e.select("vec_id", "embedding").write.parquet(fdir)
    e.select(
        "vec_id", _sq8_pd(F.col("embedding")).alias("enc")
    ).select("vec_id", F.col("enc.q").alias("q"), F.col("enc.s").alias("s")
    ).write.parquet(qdir)

    def nbytes(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    nf, nq = nbytes(fdir), nbytes(qdir)
    assert nq < 0.5 * nf, f"sq8 parquet {nq}B vs float {nf}B"


def test_semantic_dedup_crossover_parity(spark, sf_dir):
    """The exact↔LSH crossover knob (VERDICT r7 "next round" #3): below
    ``exact_below`` the operator runs the exact half-matrix (recall 1.0
    by construction), above it the registered LSH budget. The two plans
    must agree on the keep-set at small n (Jaccard ≥ 0.9 — the same
    floor the registered query is pinned to), and the exact path must
    agree with the exact-CC pipeline EXACTLY."""
    from rastercube_spark.operators.similarity import semantic_dedup

    e = load(spark, sf_dir, "embeddings")
    n = e.count()
    # force each path deliberately, independent of fixture size
    exact = semantic_dedup(e, dim=64, threshold=0.35, exact_below=n + 1, n_rows=n)
    lsh = semantic_dedup(e, dim=64, threshold=0.35, exact_below=0, n_rows=n)
    keep_exact = {r["vec_id"] for r in exact.collect() if r["keeper"]}
    keep_lsh = {r["vec_id"] for r in lsh.collect() if r["keeper"]}
    assert keep_exact and keep_lsh
    jac = len(keep_exact & keep_lsh) / len(keep_exact | keep_lsh)
    assert jac >= 0.9, f"crossover keep-set Jaccard below floor: {jac}"
    # every row is labeled on both paths
    assert exact.count() == n and lsh.count() == n


def test_cluster_balanced_sample_operator(spark, sf_dir):
    """cluster_balanced_sample caps every semantic cluster at k rows and
    keeps singletons; the exact path at fixture n (below the crossover
    it IS the default)."""
    from rastercube_spark.operators.similarity import cluster_balanced_sample

    e = load(spark, sf_dir, "embeddings")
    got = cluster_balanced_sample(e, dim=64, threshold=0.35, k=2).collect()
    per_cluster = {}
    for r in got:
        per_cluster.setdefault(r["cluster_id"], []).append(r["sample_rank"])
    assert per_cluster
    for ranks in per_cluster.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 2


def test_embedding_drift_invariants(spark):
    """qe0's centroid-cosine drift: identical snapshots read EXACTLY 1.0
    (quantized integer sums are exact, so A==B collapses to u·u/|u||u|),
    a label present on one side only is dropped (inner-join semantics),
    and an orthogonal flip reads -1.0."""
    from rastercube_spark.queries.datapipe import qe0

    rows = []
    # label 0: identical vector content on both parities
    for i in range(8):
        v = [0.1 * ((i % 4) + 1)] * 64
        rows.append((i, v, 0))
    # label 1: B is the exact negation of A (pairwise by parity)
    for i in range(8, 16):
        v = [0.25, -0.5] * 32
        rows.append((i, v if i % 2 == 0 else [-x for x in v], 1))
    # label 2: only even (snapshot A) members -> must not appear
    rows.append((16, [1.0] * 64, 2))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(os.path.join(d, "embeddings.parquet"))
        out = {r["label"]: r for r in qe0(spark, d).collect()}
    assert sorted(out) == [0, 1]
    assert out[0]["centroid_cosine"] == 1.0
    assert out[0]["n_a"] == 4 and out[0]["n_b"] == 4
    assert out[1]["centroid_cosine"] == -1.0


def test_pq_knn_refined_recall(spark, sf_dir):
    """qe2's shortlist/refine contract: the 100-candidate ADC shortlist
    plus exact re-rank must recover >= 0.8 of the exact raw-dot top-10
    (measured 0.9+ on the fixture; direct ADC alone reads ~0.3-0.4 on
    these near-isotropic vectors, which is WHY the refine stage exists),
    and the refined scores must EQUAL the exact quantized dots."""
    import numpy as np

    from rastercube_spark.operators.similarity import pq_knn

    e = load(spark, sf_dir, "embeddings")
    rows = e.orderBy("vec_id").collect()
    V = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    qs = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = pq_knn(qs, e, dim=64, k=10).collect()
    got: dict[int, dict[int, float]] = {}
    for r in out:
        got.setdefault(r["q_id"], {})[r["vec_id"]] = r["score"]
    Qv = np.floor(V * 10000.0)
    recalls = []
    for q in range(10):
        d = Qv @ Qv[q]
        d[ids == q] = -np.inf
        exact10 = ids[np.argsort(-d, kind="stable")[:10]].tolist()
        hits = set(exact10) & set(got[q])
        recalls.append(len(hits) / 10)
        for v in hits:  # refined score == exact quantized dot, descaled
            # (<=1e-6: Spark rounds half-up, Python half-even)
            expect = float(Qv[ids == v][0] @ Qv[q]) / 1e8
            assert abs(got[q][v] - expect) <= 1e-6
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_label_centroid_outliers_flags_planted_vector(spark):
    """A planted vector pointing AWAY from its label's centroid must be
    that label's rank-1 outlier; a tight label has no outlier below
    cosine ~1; result invariant under repartition."""
    import math

    from rastercube_spark.operators.similarity import label_centroid_outliers

    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    rows = []
    vid = 0
    for _ in range(20):  # tight cluster on +x for label 'a'
        rows.append((vid, [v + 0.001 * (vid % 3) for v in base], "a"))
        vid += 1
    rows.append((vid, [-v for v in base], "a"))  # the planted outlier
    planted = vid
    vid += 1
    for _ in range(10):  # label 'b', orthogonal axis
        rows.append((vid, [0.0, 1.0] + [0.0] * (dim - 2), "b"))
        vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = label_centroid_outliers(emb, dim=dim, k=3)
    got = {(r["label"], r["rank"]): r for r in out.collect()}
    assert got[("a", 1)]["vec_id"] == planted
    assert got[("a", 1)]["cos_centroid"] < 0  # anti-aligned
    assert got[("a", 2)]["cos_centroid"] > 0.99  # the rest are tight
    assert math.isclose(got[("b", 1)]["cos_centroid"], 1.0, abs_tol=1e-5)

    again = {
        (r["label"], r["rank"]): r["vec_id"]
        for r in label_centroid_outliers(
            emb.repartition(7), dim=dim, k=3
        ).collect()
    }
    assert again == {k: v["vec_id"] for k, v in got.items()}


def test_ivfpq_knn_refined_recall_and_exact_scores(spark, sf_dir):
    """qf0's composition contract: probing 8/16 lists and ADC-
    shortlisting 100 candidates before the exact refine must track the
    pure-IVF recall bound at the same nprobe (measured: IVFPQ 0.89 at
    sf0.001 / 0.81 at sf0.01 vs qa2's IVF 0.91 / 0.85 — the coarse
    quantizer, not the PQ codes, bounds refined recall), and every
    returned score must EQUAL the exact quantized dot — the refine
    stage's whole point."""
    import numpy as np

    from rastercube_spark.operators.similarity import ivfpq_knn

    e = load(spark, sf_dir, "embeddings")
    rows = e.orderBy("vec_id").collect()
    V = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    qs = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivfpq_knn(qs, e, dim=64, k=10, nprobe=8, rerank=100).collect()
    got: dict[int, dict[int, float]] = {}
    for r in out:
        got.setdefault(r["q_id"], {})[r["vec_id"]] = r["score"]
    # candidate reduction held: at most k rows per query survive
    assert len(out) <= 10 * 10
    Qv = np.floor(V * 10000.0)
    recalls = []
    for q in range(10):
        d = Qv @ Qv[q]
        d[ids == q] = -np.inf
        exact10 = ids[np.argsort(-d, kind="stable")[:10]].tolist()
        hits = set(exact10) & set(got[q])
        recalls.append(len(hits) / 10)
        for v in hits:  # refined score == exact quantized dot, descaled
            expect = float(Qv[ids == v][0] @ Qv[q]) / 1e8
            assert abs(got[q][v] - expect) <= 1e-6
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivfpq_persisted_index_bit_identical(spark, sf_dir, tmp_path):
    """VERDICT r12 #3: the persisted path — save_ann_index (train once,
    encode once, write codes partitioned by cid + quantizers JSON) →
    load_ann_index → ivfpq_probe — returns BIT-identical rows to the
    inline ivfpq_knn on the same corpus and queries. Training is
    deterministic and the probe is the same code, so any divergence is
    a serialization bug (quantizer round-trip, parquet code types, cid
    partition-column typing)."""
    from rastercube_spark.operators.similarity import (
        ivfpq_knn,
        ivfpq_probe,
        load_ann_index,
        save_ann_index,
    )

    e = load(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    inline = ivfpq_knn(qs, e, dim=64, k=10, nprobe=8, rerank=100).collect()

    idx = str(tmp_path / "ann_index")
    meta = save_ann_index(e, idx, dim=64)
    assert meta["n_coarse"] == 16 and len(meta["coarse_cents"]) == 16
    enc, meta2 = load_ann_index(spark, idx)
    persisted = ivfpq_probe(
        qs, enc, e, meta2["coarse_cents"],
        (meta2["pq_sums"], meta2["pq_cnts"]), dim=meta2["dim"],
        k=10, nprobe=8, rerank=100,
    ).collect()

    def keyed(rows):
        return sorted(
            (r["q_id"], r["rank"], r["vec_id"], r["score"]) for r in rows
        )

    assert keyed(persisted) == keyed(inline)
    assert len(persisted) > 0


def test_ivfpq_probe_rejects_mismatched_codebooks():
    """The probe's LUT shape comes from the codebooks, so parameters
    that disagree with them are refused before any work is planned."""
    from rastercube_spark.operators.similarity import ivfpq_probe

    codebooks = (np.zeros((16, 32, 4)), np.ones((16, 32)))
    for kw in ({"n_cents": 16}, {"m": 8}):
        with pytest.raises(ValueError, match="do not match"):
            ivfpq_probe(None, None, None, [], codebooks, dim=64, **kw)


def test_embedding_dim_stats_flags_planted_dead_dim(spark):
    """qf1's operator contract: a planted constant dimension must flag
    low_variance (and only it); mean_q is exact for a constructed
    column; result invariant under repartition."""
    from rastercube_spark.operators.similarity import embedding_dim_stats

    rows = [
        (i, [0.5] + [((i * 7 + d) % 11 - 5) / 10.0 for d in range(3)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {r["dim_idx"]: r for r in
           embedding_dim_stats(emb, dim=4).collect()}
    assert out[0]["low_variance"] and out[0]["var_q"] == 0.0
    assert out[0]["mean_q"] == 5000.0  # floor(0.5 * 10^4)
    assert not any(out[d]["low_variance"] for d in (1, 2, 3))
    out2 = {r["dim_idx"]: r for r in
            embedding_dim_stats(emb.repartition(7), dim=4).collect()}
    assert {d: (v["mean_q"], v["var_q"]) for d, v in out.items()} == {
        d: (v["mean_q"], v["var_q"]) for d, v in out2.items()
    }


def test_driver_and_distributed_training_bit_identical(spark, sf_dir):
    """The driver-side Lloyd's path (default for bounded samples, r12)
    must return BIT-identical centroids/codebooks to the distributed
    posexplode/groupBy path (forced via driver_train_below=0) — same
    exact-integer arithmetic, so any difference is a bug, not noise."""
    import numpy as np

    from rastercube_spark.operators.similarity import (
        train_ivf_centroids,
        train_pq_codebooks,
    )

    e = load(spark, sf_dir, "embeddings")
    drv = train_ivf_centroids(e, dim=64, n_cents=16, n_iters=3)
    dist = train_ivf_centroids(
        e, dim=64, n_cents=16, n_iters=3, driver_train_below=0
    )
    assert drv == dist  # exact float equality, not approx
    s_drv, c_drv = train_pq_codebooks(e, dim=64, m=16, n_cents=32)
    s_dist, c_dist = train_pq_codebooks(
        e, dim=64, m=16, n_cents=32, driver_train_below=0
    )
    assert np.array_equal(s_drv, s_dist)
    assert np.array_equal(c_drv, c_dist)


# --- semantic_decontaminate (qg0) ---------------------------------------

def test_semantic_decontaminate_planted_leak(spark):
    """A corpus vector equal to an eval vector scores max_sim 1.0 and
    flags; an orthogonal one scores 0 and does not; n_eval_hits counts
    every eval over threshold, not just the max."""
    from rastercube_spark.operators.similarity import semantic_decontaminate

    dim = 4
    evals = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (100, [2.0, 0.0, 0.0, 0.0]),   # colinear with eval 0, close to 1
            (101, [0.0, 0.0, 3.0, 0.0]),   # orthogonal to both
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in semantic_decontaminate(
        corpus, evals, threshold=0.8, k_out=10).collect()}
    assert out[100]["max_sim"] == 1.0
    assert out[100]["contaminated"] is True
    assert out[100]["n_eval_hits"] == 2   # eval 1 is also >= 0.8 away
    assert out[101]["max_sim"] == 0.0
    assert out[101]["contaminated"] is False
    assert out[101]["n_eval_hits"] == 0


def test_semantic_decontaminate_zero_norm(spark, tmp_path):
    """Zero-norm embeddings on either side score similarity 0.0 by
    definition (never NaN/inf), and the engine/oracle agree on a
    crafted embeddings table containing zero vectors on BOTH sides —
    the edge the sf fixtures can't exercise (ADVICE r12: bare division
    made this a latent engine/oracle divergence)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rastercube_spark import registry
    from rastercube_spark.operators.similarity import semantic_decontaminate
    from rastercube_spark.testing import compare, duck_connection

    # operator-level: zero corpus vector and zero eval vector → 0.0
    evals = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(100, [0.0, 0.0]), (101, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in semantic_decontaminate(
        corpus, evals, threshold=0.8, k_out=10).collect()}
    assert out[100]["max_sim"] == 0.0          # zero corpus vs anything
    assert out[100]["contaminated"] is False
    assert out[101]["max_sim"] == 0.0          # nonzero vs {orthogonal, zero}
    assert out[101]["n_eval_hits"] == 0

    # oracle parity on a crafted embeddings table (qg0's vec_id<20 split)
    base = "/root/testdata/sf0.001"
    d = tmp_path / "edge_emb"
    d.mkdir()
    for f in os.listdir(base):
        if f != "embeddings.parquet":
            os.symlink(os.path.join(base, f), str(d / f))
    rows = [
        (0, [1.0, 0.0, 0.0], 0),     # eval, unit
        (1, [0.0, 0.0, 0.0], 0),     # eval, ZERO
        (20, [0.0, 0.0, 0.0], 1),    # corpus, ZERO
        (21, [2.0, 0.0, 0.0], 1),    # corpus, colinear with eval 0
        (22, [0.0, 3.0, 0.0], 1),    # corpus, orthogonal
    ]
    tbl = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    })
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    duck = duck_connection(str(d))
    try:
        df = registry.queries()["qg0_semantic_decontaminate"](spark, str(d))
        report = compare(
            df, duck, registry.oracle_sql()["qg0_semantic_decontaminate"]
        )
        assert report["ok"], report
        got = {r["vec_id"]: r["max_sim"] for r in df.collect()}
        assert got[20] == 0.0 and got[21] == 1.0 and got[22] == 0.0
    finally:
        duck.close()


def test_semantic_decontaminate_gates(spark):
    """Empty eval set and an eval side over the broadcast bound both
    refuse loudly — the fail-closed contract of every collected side."""
    import pytest as _pytest
    from rastercube_spark.operators.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    empty = corpus.where("vec_id < 0")
    with _pytest.raises(ValueError, match="empty"):
        semantic_decontaminate(corpus, empty)
    big = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="broadcast bound"):
        semantic_decontaminate(corpus, big, eval_rows_max=3)


# --- knn_graph_stats (qg8) ----------------------------------------------

def test_knn_graph_stats_invariants(spark, sf_dir):
    """qg8 conservation laws on the fixture: every vector appears in
    exactly one in-degree bucket; Σ degree·n equals the directed edge
    total recovered from the pair multiplicities (1·n₁ + 2·n₂); pair
    multiplicity never exceeds 2."""
    from rastercube_spark.operators.similarity import knn_graph_stats

    emb = load(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    rows = knn_graph_stats(emb, dim=64, k=10, n_coarse=16, nprobe=4).collect()
    deg = {r["key"]: r["n"] for r in rows if r["part"] == "in_degree"}
    pm = {r["key"]: r["n"] for r in rows if r["part"] == "pair_mult"}
    assert sum(deg.values()) == n_vec
    assert set(pm) <= {1, 2}
    directed = pm.get(1, 0) + 2 * pm.get(2, 0)
    assert sum(k * n for k, n in deg.items()) == directed
    assert directed > 0


def test_knn_graph_stats_planted_hub(spark):
    """A vector every other vector is closest to (all others are small
    perturbations around it, mutually less similar) must collect the
    maximal in-degree at k=1 — the hubness signal the audit exists to
    surface."""
    from rastercube_spark.operators.similarity import knn_graph_stats

    dim, n = 16, 10
    rows = [(0, [1.0] + [0.0] * (dim - 1))]
    for i in range(1, n):
        # each ring vector perturbs a DISTINCT coordinate: ring-ring
        # cosine 0.8 < ring-hub cosine 0.894, so every ring vector's
        # top-1 is the hub (a shared slot would make two ring vectors
        # identical, cosine 1.0, and steal the edge)
        v = [1.0] + [0.0] * (dim - 1)
        v[i] = 0.5
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_graph_stats(emb, dim=dim, k=1, n_coarse=2, nprobe=2).collect()
    deg = {r["key"]: r["n"] for r in out if r["part"] == "in_degree"}
    # the hub absorbs an in-degree of n-1 (every other vector's top-1);
    # ties inside the perturbed ring can't reach that
    assert deg.get(n - 1) == 1


def test_knn_graph_stats_persisted_index_bit_identical(spark, sf_dir, tmp_path):
    """VERDICT r13 #2: qg8 over a persisted build-ann-index layout
    (store_vectors=True) — coarse quantizer from the index metadata,
    member-side cid from storage, probe lists re-derived from the
    stored vectors — returns BIT-identical rows to the inline path
    that trains and assigns per invocation (training is deterministic
    and the index records the same n_coarse/coarse_iters recipe), and
    refuses loudly when the index was built without vectors."""
    import pytest

    from rastercube_spark.operators.similarity import (
        knn_graph_stats,
        load_ann_index,
        save_ann_index,
    )

    e = load(spark, sf_dir, "embeddings")
    inline = knn_graph_stats(e, dim=64).collect()

    idx = str(tmp_path / "ann_index_vecs")
    meta = save_ann_index(e, idx, dim=64, store_vectors=True)
    assert meta["store_vectors"] is True
    enc, meta2 = load_ann_index(spark, idx)
    assert meta2["c_vec"] in enc.columns
    indexed = knn_graph_stats(e, dim=64, index=(enc, meta2)).collect()

    def keyed(rows):
        return sorted((r["part"], r["key"], r["n"]) for r in rows)

    assert keyed(indexed) == keyed(inline)
    assert len(indexed) > 0

    # slim index (no vectors) → loud refusal, not a silent wrong answer
    slim = str(tmp_path / "ann_index_slim")
    save_ann_index(e, slim, dim=64)
    enc_s, meta_s = load_ann_index(spark, slim)
    with pytest.raises(ValueError, match="store_vectors"):
        knn_graph_stats(e, dim=64, index=(enc_s, meta_s))


# --- degenerate inputs across the ANN family -----------------------------

_DIM = 8
_CENTS = np.random.RandomState(5).randn(4, _DIM).tolist()
# above-gate corpus_rows: the keyed vector-fetch join side of the rescore
_BIG = _FETCH_BROADCAST_BYTES // (_DIM * 8) + 1
_KNN = {
    "brute_force_knn": lambda q, c: brute_force_knn(q, c, k=3),
    "ivf_knn": lambda q, c: ivf_knn(
        q, c, _DIM, k=3, n_cents=4, nprobe=2, cents=_CENTS
    ),
    "ivf_knn_trained": lambda q, c: ivf_knn(q, c, _DIM, k=3, n_cents=4, nprobe=2),
    "lsh_knn": lambda q, c: lsh_knn(q, c, _DIM, k=3),
    "quantized_knn": lambda q, c: quantized_knn(q, c, k=3),
}
_PAIRS = {
    "lsh_cosine_pairs_lut": lambda c, n: lsh_cosine_pairs(
        c, _DIM, 0.5, k=None, corpus_rows=n
    ),
    "lsh_cosine_pairs_join": lambda c, n: lsh_cosine_pairs(
        c, _DIM, 0.5, k=None, corpus_rows=_BIG
    ),
    "blocked_cosine_pairs": lambda c, n: blocked_cosine_pairs(c),
    "semantic_dedup_exact": lambda c, n: semantic_dedup(
        c, _DIM, 0.5, exact_below=n + 1, n_rows=n
    ),
    "semantic_dedup_lsh": lambda c, n: semantic_dedup(
        c, _DIM, 0.5, exact_below=0, n_rows=n
    ),
}
# (corpus rows, query rows), ids 0..n-1: a one-row corpus is queried by
# its own row, whose self-match every kNN path excludes
_SHAPES = {
    "empty_corpus": (0, 2),
    "one_row_corpus": (1, 1),
    "empty_queries": (6, 0),
}


def _vectors(spark, n, id_col, vec_col):
    return spark.range(n).select(
        F.col("id").alias(id_col),
        F.array(
            *[F.sin(F.col("id") * 7 + j).cast("float") for j in range(_DIM)]
        ).alias(vec_col),
    )


@pytest.mark.parametrize(
    "fn,shape",
    [(f, s) for f in _KNN for s in _SHAPES]
    + [(f, s) for f in _PAIRS for s in ("empty_corpus", "one_row_corpus")],
)
def test_ann_degenerate_inputs(spark, fn, shape):
    """Empty corpus, one-row corpus and empty query set give empty
    results (semantic_dedup: every corpus row is its own keeper) on both
    sides of the LUT-rescore and exact↔LSH gates; the one refusal is a
    trainer sampled below ``n_cents``. The empty corpus on the
    LUT-gated rescore checks that its driver-side norms accept a 0-row
    collect."""
    n_corpus, n_queries = _SHAPES[shape]
    corpus = _vectors(spark, n_corpus, "vec_id", "embedding")
    if fn in _PAIRS:
        rows = _PAIRS[fn](corpus, n_corpus).collect()
        if fn.startswith("semantic_dedup"):
            assert sorted(r["vec_id"] for r in rows) == list(range(n_corpus))
            assert all(r["keeper"] for r in rows)
        else:
            assert rows == []
        return
    queries = _vectors(spark, n_queries, "q_id", "q_vec")
    if fn == "ivf_knn_trained" and n_corpus < 4:
        with pytest.raises(ValueError, match="n_cents"):
            _KNN[fn](queries, corpus)
        return
    assert _KNN[fn](queries, corpus).collect() == []
