"""Similarity search over embedding columns (array<float>).

Layering — one kernel layer, one candidate generator per method, one
refine/top-k:

- kernels (numpy, inside Arrow UDFs / mapInPandas / cogroups):
  ``_mat`` (vectors → empty-safe (n, dim) float64 matrix), ``_fold`` (the
  ordered fold below), the row-pair cosine ``_row_cos`` and its chunked
  cross-block form ``_cross_cosine``, the margin-guarded prune
  ``_prune``, and one PQ codec (``_pq_assign``, ``_pq_encode_udf``,
  ``_pq_luts``, the ADC inside ``_pq_refine``); training is one
  exact-integer Lloyd's (:func:`train_pq_codebooks`; IVF is its m=1
  case);
- candidate generators: brute force (broadcast cross join), IVF (cid
  equi-join), LSH (bucket equi-join), SQ8 / PQ / IVF×PQ (quantized
  scoring), and for corpus-vs-corpus search the blocked half-matrix,
  the LSH pair join and the kNN-graph cogroup;
- refine/top-k: ``_top_k`` (``row_number() ≤ k`` by score desc, id asc —
  Spark runs it with a map-side WindowGroupLimit) and, for PQ,
  ``_pq_refine`` (ADC shortlist → exact integer dot → top-k).

Bit-identity rule (every DuckDB oracle replays these scores exactly):

- float scores: elementwise float64 products (exact IEEE ops) summed by
  an ORDERED left-to-right fold — ``np.cumsum(...)[..., -1]`` is
  sequential by definition, so it equals Spark's ``aggregate`` fold and
  DuckDB's ``list_dot_product`` bit-for-bit (no BLAS, no pairwise
  summation); norms are ``sqrt`` of the same fold and a cosine is ONE
  IEEE division;
- 6-dp rounding is done ENGINE-side (``F.round`` is HALF_UP like the
  oracle's ROUND; ``np.round`` is banker's), and ranks use the rounded
  score with id tie-breaks;
- quantized paths (k-means, PQ codes, ADC, refine) run on
  ``floor(v·QUANT)`` integers: every intermediate is an integer below
  2⁵³, so any summation order (BLAS included) is exact and each
  quotient is one correctly-rounded division.

At 100 TB: broadcast the (small) query set, never the corpus; the LSH
variant shuffles corpus rows once on the bucket key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from rastercube_spark.session import shuffle_partitions
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

QUANT = 10000.0  # quantization scale for exact k-means arithmetic

# Lossless pruning margin for the Python-side score cuts (``_prune``): a
# candidate may enter a rounded top-k / threshold result only if its raw
# cosine is within 2·(6-dp rounding half-width) of the cut — |round6(x) −
# x| ≤ 5e-7 (+1 ulp), so 2e-6 strictly dominates (proof in
# :func:`knn_graph_edges`).
_EDGE_PRUNE_MARGIN = 2e-6


# --- kernels -------------------------------------------------------------

def _mat(vs) -> np.ndarray:
    """Vectors → (n, dim) float64 matrix; (0, 0) when there are none."""
    rows = [np.asarray(v, dtype=np.float64) for v in vs]
    return np.array(rows) if rows else np.empty((0, 0))


def _fold(x: np.ndarray) -> np.ndarray:
    """The ordered fold over the last axis (module docstring)."""
    if x.shape[-1] == 0:
        return np.zeros(x.shape[:-1])
    return np.cumsum(x, axis=-1)[..., -1]


def _norms(m: np.ndarray) -> np.ndarray:
    return np.sqrt(_fold(m * m))


def _row_cos(a, b, na, nb) -> np.ndarray:
    """Row-pair cosine a[i]·b[i] / (na[i]·nb[i])."""
    return _fold(a * b) / (na * nb)


def _cross_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(a), len(b)) ordered-fold dots of every a row with every b row."""
    return _fold(a[:, None, :] * b[None, :, :])


def _cross_cosine(lv: np.ndarray, rv: np.ndarray):
    """Cross-block cosine of every ``lv`` row with every ``rv`` row,
    yielded as (lv row slice, cosine block) chunks of ≤ ~16 MB of
    products each, so task memory is bounded regardless of block size.
    A zero-norm side yields NaN/inf (IEEE)."""
    ln, rn = _norms(lv), _norms(rv)
    chunk = max(1, 2_000_000 // max(1, rv.size))
    for i0 in range(0, len(lv), chunk):
        sl = slice(i0, i0 + chunk)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _cross_dots(lv[sl], rv) / (ln[sl, None] * rn[None, :])
        yield sl, cos


def _prune(cos, keep, threshold=None, k=None) -> np.ndarray:
    """Lossless cut of the boolean mask ``keep`` (updated in place):
    raw ≥ threshold − margin (a superset of round6(raw) ≥ threshold), and
    raw ≥ (k-th largest kept raw) − margin (a pair below it has ≥ k kept
    pairs whose ROUNDED score is strictly higher, so it cannot enter a
    rounded top-k). Skipped when any kept score is non-finite, so engine
    NaN ordering stays authoritative."""
    if not np.isfinite(cos[keep]).all():
        return keep
    if threshold is not None:
        keep &= cos >= threshold - _EDGE_PRUNE_MARGIN
    if k is not None and keep.sum() > k:
        keep &= cos >= np.partition(cos[keep], -k)[-k] - _EDGE_PRUNE_MARGIN
    return keep


def _fold_dot(u: Column, v: Column) -> Column:
    """JVM-side ordered dot of two double arrays (≡ ``_fold``)."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _top_k(df: DataFrame, part: str, k: int, *order: Column, rank="rank"):
    """Rows with ``row_number() <= k`` within each ``part`` under ``order``."""
    w = Window.partitionBy(part).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


@F.pandas_udf(DoubleType())
def _cosine_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    va, vb = _mat(a), _mat(b)
    return pd.Series(_row_cos(va, vb, _norms(va), _norms(vb)))


# The scoring UDFs are marked NON-DETERMINISTIC (they are pure — this
# is an optimizer annotation, guide §4.4): a filter referencing a UDF
# output column (threshold cuts, the join's injected isnotnull on a
# UDF-derived key) is pushed below the projection and the current
# optimizer DUPLICATES the Python evaluation — measured in the r14
# before-plans as 2× _cosine_pd in qb0, 2× _assign in qa2/qf0 (4× in
# qg8), 4× _buckets in q97/qb0. The annotation forbids the
# reorder/copy, yielding exactly one ArrowEvalPython per logical call;
# the filters still apply ABOVE the evaluation, so emitted values are
# bit-identical (full 131-query oracle sweep re-run green after the
# change). Cost: filters no longer push below these projections to the
# scan (the fixture loses an IsNotNull(vec_id) PushedFilter — zero
# selective rows on any of our tables).
_cosine_pd = _cosine_pd.asNondeterministic()


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns.

    Arrow-batched numpy under the module's bit-identity rule — the same
    doubles as a ``zip_with``+``aggregate`` column-expression fold, but
    those HOFs evaluate interpreted with per-element boxing, which made
    cosine the dominant cost of every kNN scoring stage (~100× more per
    row)."""
    return _cosine_pd(a, b)


# NOTE (negative result worth keeping): unrolling the dot product into
# dim explicit multiply-adds was measured ~3× SLOWER than the F.aggregate
# fold at dim=64 — the giant expression tree blows past codegen limits
# and falls back to interpreted eval. The fold is the right form.


def _cosine_scored(joined, q_id, q_vec, c_id, c_vec) -> DataFrame:
    """(q_id, c_id, cosine) for every joined pair except self-matches."""
    return joined.where(F.col(q_id) != F.col(c_id)).select(
        F.col(q_id),
        F.col(c_id),
        F.round(cosine(F.col(q_vec), F.col(c_vec)), 6).alias("cosine"),
    )


def _ranked(scored, k, q_id, c_id, score="cosine") -> DataFrame:
    """Per-query top-k on the rounded score, ties broken by corpus id."""
    return _top_k(
        scored, q_id, k, F.col(score).desc(), F.col(c_id)
    ).select(q_id, c_id, score, "rank")


def brute_force_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    The corpus is rebalanced to cluster width when its scan is
    under-partitioned (single-file fixtures — a production many-file
    corpus makes it a no-op): the probe join is broadcast, so nothing
    downstream re-partitions, and the Arrow cosine stage would otherwise
    run at the scan's task count regardless of cores."""
    from rastercube_spark.sources.tables import rebalance_scan

    joined = rebalance_scan(corpus).join(F.broadcast(queries))
    return _ranked(
        _cosine_scored(joined, q_id, q_vec, c_id, c_vec), k, q_id, c_id
    )


# --- IVF (coarse quantizer) --------------------------------------------

def quantize_vec(col: Column) -> Column:
    """floor(v * 10000) per component, as integer-valued doubles.

    Training arithmetic must be BIT-IDENTICAL between Spark and the SQL
    oracle, in any summation order — so everything downstream operates
    on integers: with |v| < 1 the quantized components stay ≤ 10⁴, a
    256-vector cluster's component sums ≤ 2.56×10⁶, and the assignment
    dot products ≤ 64·10⁴·2.56×10⁶ ≈ 1.6×10¹² — every intermediate is
    an integer below 2⁵³, hence EXACT in float64 no matter how numpy,
    Spark, or DuckDB associate the additions. floor() (not round/cast)
    because floor is defined identically in all three engines; cast
    double→bigint truncates in Spark but rounds in DuckDB."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(QUANT)).cast("double")
    )


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    n_cents: int = 16,
    n_iters: int = 3,
    sample_below: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_train_below: int = 65_536,
) -> list[list[float]]:
    """Coarse IVF centroids: :func:`train_pq_codebooks` with a single
    subspace (m=1) — the same deterministic exact-integer Lloyd's, which
    the SQL oracle replays (queries/datapipe.py _ivf_trained_oracle) —
    returned as float64 centroids sum/cnt: one correctly-rounded
    division of exact integers each, canonical in every engine."""
    sums, cnts = train_pq_codebooks(
        df, dim, m=1, n_cents=n_cents, n_iters=n_iters,
        sample_below=sample_below, id_col=id_col, vec_col=vec_col,
        driver_train_below=driver_train_below,
    )
    return (sums[0] / cnts[0][:, None]).tolist()


def _broadcast_cents(cents: list[list[float]]):
    """Ship the centroid matrix as a broadcast variable: the UDF closure
    captures only the handle, so its size is constant in n_cents."""
    return SparkSession.active().sparkContext.broadcast(
        np.array(cents, dtype=np.float64)
    )


def ivf_assign(vec: Column, cents: list[list[float]]) -> Column:
    """Nearest-centroid id by max inner product (ties → lowest id):
    ordered-fold dots, and ``argmax`` returns the FIRST maximum, which IS
    the lowest-id tie-break."""
    b_cents = _broadcast_cents(cents)

    @F.pandas_udf(IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        dots = _cross_dots(_mat(vecs), b_cents.value)
        return pd.Series(np.argmax(dots, axis=1).astype(np.int32))

    # non-deterministic: the cid-keyed join's isnotnull(cid) pushdown
    # duplicated the assignment below the filter (see _cosine_pd note)
    return _assign.asNondeterministic()(vec).alias("cid")


def ivf_probe_lists(
    vec: Column,
    cents: list[list[float]],
    nprobe: int,
    deterministic: bool = True,
) -> Column:
    """Top-``nprobe`` centroid ids for a query vector (dot desc, id asc):
    stable argsort on the negated exact dots — ties keep ascending id
    order, matching the struct-sort (dot desc, priority desc) it
    replaces."""
    b_cents = _broadcast_cents(cents)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probe(vecs: pd.Series) -> pd.Series:
        dots = _cross_dots(_mat(vecs), b_cents.value)
        order = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    # DETERMINISTIC by default (unlike _assign/_cosine_pd/_buckets):
    # dynamic partition pruning on the persisted cid-partitioned index
    # keys its pruning subquery on this expression, and DPP refuses
    # non-deterministic keys (measured: marking it nondet silently
    # dropped the dynamicpruning subquery from the ivfpq_probe plan —
    # a 100 TB-scale regression, the probe would read EVERY list
    # partition). The ivf_knn/ivfpq_probe join sites evaluate it once
    # (their injected isnotnull lands on the exploded cid, not the
    # list). The knn_graph cogroup path DOES re-evaluate it (×2 in the
    # r14 before-plans — the cogroup's child re-projection); those call
    # sites pass deterministic=False (no DPP there: the member side is
    # bucketed, not partitioned). Nondet callers must project the
    # array into a named column BEFORE exploding — Generate is not on
    # the analyzer's allow-list for non-deterministic expressions.
    if not deterministic:
        return _probe.asNondeterministic()(vec)
    return _probe(vec)


def ivf_knn(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_cents: int = 16,
    nprobe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate kNN: corpus rows live in their nearest-centroid
    inverted list; each query scores only the lists it probes.

    ``cents`` takes pre-trained coarse centroids; when omitted they are
    trained here with :func:`train_ivf_centroids` (``n_cents`` lists,
    its default iterations and sample). The join topology is identical
    either way.

    Scale shape: assignment is a per-row column expression (one pass, no
    shuffle); the probe join is an equi-join on the centroid id whose
    fan-out is nprobe/n_cents of the corpus — the standard IVF cost
    model. The corpus shuffles once on cid (or is bucketed by it on
    disk, making repeat queries shuffle-free).
    """
    if cents is None:
        cents = train_ivf_centroids(
            corpus, dim, n_cents=n_cents, id_col=c_id, vec_col=c_vec
        )
    cb = corpus.withColumn("cid", ivf_assign(F.col(c_vec), cents))
    qb = queries.select(
        F.col(q_id),
        F.col(q_vec),
        ivf_probe_lists(F.col(q_vec), cents, nprobe).alias("_pl"),
    ).select(q_id, q_vec, F.explode("_pl").alias("cid"))
    joined = cb.join(F.broadcast(qb), "cid")
    return _ranked(
        _cosine_scored(joined, q_id, q_vec, c_id, c_vec), k, q_id, c_id
    )


# --- LSH (random hyperplanes) ------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no numpy at runtime
    on executors — these are driver-side literals baked into the plan).

    The component map must span BOTH signs: ``state >> 32`` keeps 32
    bits, /2^31 → [0, 2), −1 → [−1, 1). An earlier ``>> 33`` kept only
    31 bits ([0,1) − 1 → [−1, 0)): every component negative, so all
    planes shared an orthant (pairwise cosine ≈ 0.76) and sign bits
    were ~enslaved to one direction — at n=80k, 19% of vectors landed
    in bucket 0 and 14% in the all-ones bucket, turning the LSH
    candidate equi-join quasi-quadratic (~2.9e9 identity-join pairs,
    482 s) while small fixtures hid it. Caught by the r6 scaling
    rehearsal (tools/scaling.py); guarded by the orthant test in
    tests/test_similarity.py."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 32) / float(1 << 31)) - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def planes_for_corpus(n_rows: int, target_occupancy: float = 1.0) -> int:
    """Signature length (bits per LSH table) sized to the corpus.

    ``n_planes`` is a DEPLOYMENT parameter that must track corpus size,
    exactly like IVF's nlist: bucket count is 2^n_planes per table, so
    holding it fixed while the corpus grows means expected within-bucket
    candidate pairs grow as n²/2^n_planes. Measured on the r6 scaling
    rehearsal at n=80k: planes=16 → 37.9 s, planes=18 → 15.1 s for the
    same pair search — MORE planes is FASTER at large n, because bucket
    dilution (fewer false candidates) dominates the extra probe fan-out.
    At fixed adequate planes the operator scales linearly in n
    (tools/scaling.py, SCALING.json qb0_ablation).

    Sizing 2^n_planes ≈ n/target_occupancy keeps expected bucket
    occupancy ~constant as the corpus grows; recall is then governed by
    n_tables × probe_hamming (the OR-construction), not by the bucket
    width. Callers at real scale should pass
    ``n_planes=planes_for_corpus(corpus_count)`` to lsh_cosine_pairs /
    lsh_knn rather than leaning on the fixture-sized default of 8.
    Floor of 8 keeps tiny corpora off degenerate 1-bucket tables; cap of
    30 keeps the bucket id in a signed int32.
    """
    import math

    if n_rows < 1:
        return 8
    return max(8, min(30, math.ceil(math.log2(max(1.0, n_rows / target_occupancy)))))


def lsh_buckets_udf(dim: int, n_planes: int = 8, n_tables: int = 1, seed: int = 7):
    """Arrow-batched pandas UDF: vector → array of ``n_tables`` sign-pattern
    bucket ids (0 .. 2^n_planes−1), one per hyperplane table.

    Why a UDF when a column-expression fold exists: hashing into
    ``n_tables × n_planes`` planes is 4096 multiply-adds/row at
    dim=64·8·8. As ``zip_with``+``aggregate`` HOFs that runs interpreted
    with per-element boxing (measured ~11 ms/row — 56 s for a 5000-row
    corpus); unrolled into explicit expressions it exceeds whole-stage
    codegen's 64 KB method limit (one 4096-term Add chain cannot be
    split) and falls back to interpreted tree-walking. numpy does it in
    ~1 µs/row over Arrow batches. The plane sums follow the module's
    bit-identity rule, so signs match the DuckDB oracle's unrolled SQL
    sum (0.0 + p0 == p0).
    """
    coef = [
        np.array(_hyperplanes(dim, n_planes, seed + t), dtype=np.float64)
        for t in range(n_tables)
    ]
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("array<int>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        v = _mat(vecs)
        per_table = [((_cross_dots(v, c) >= 0) * weights).sum(axis=1) for c in coef]
        b = np.stack(per_table, axis=1).astype(np.int32)  # (n, tables)
        return pd.Series(list(b))

    # non-deterministic: see the _cosine_pd annotation note — the
    # (tbl, bucket) join's isnotnull pushdown was duplicating this, the
    # single most expensive per-row hash in the LSH family, 4× per plan
    # (2 sides × 2 evals) in q97/qb0 and inside qb2/qc0's construction.
    return _buckets.asNondeterministic()


#: Size gate for broadcasting the vector-fetch sides of the exact
#: rescore (rows × dim × 8 bytes): the same adaptive move as Spark's
#: own broadcast-join threshold, but decided at PLAN time from catalog/
#: footer statistics so the two fetch joins never plan an exchange at
#: all when the corpus fits — AQE's runtime conversion still pays the
#: map-side shuffle write before it can switch strategies.
_FETCH_BROADCAST_BYTES = 32 << 20


def lsh_cosine_pairs(
    df: DataFrame,
    dim: int,
    threshold: float,
    k: int | None = 50,
    n_planes: int = 8,
    n_tables: int = 8,
    probe_hamming: int = 1,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_rows: int | None = None,
    dedup_pairs: bool = True,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via LSH candidates — the 100 TB
    formulation of q98's near-dup pair search (VERDICT r04 "Next round"
    #4). The O(n²) half-matrix join never happens: candidates are pairs
    sharing an LSH bucket in ANY of ``n_tables`` hyperplane tables, with
    Hamming-``probe_hamming`` probing on the LEFT side of each pair
    (XOR is symmetric, so one-sided probing covers the pair either way).

    Scale shape: one Arrow hash pass over the corpus, a self EQUI-join
    on (table, bucket) — never a nested loop (plan-asserted in
    tests/test_plans.py) — narrow-row DISTINCT pair dedup, then
    candidate-driven re-joins to fetch vectors for exact rescoring.
    Every shuffle is keyed (bucket, then pair ids); the final top-k is
    a global TakeOrdered, not a full sort.

    NEGATIVE RESULT worth keeping: a pair colliding in several tables/
    probes is emitted once per hit and deduped by the DISTINCT — and
    that is the RIGHT plan, not a flaw. Two "exactly-once emission"
    rewrites (first-collision rule: keep a pair at table t only if no
    t' < t also collides) were measured strictly worse at every scale
    tried — HOF formulation 14.9s and unrolled-codegen CASE chain
    13-45s vs 5.4s for DISTINCT at n=4000 (13.1M raw join rows → 3.4M
    pairs). The predicate must run per RAW joined row and forces the
    8-int bucket arrays of both sides through the join, while DISTINCT
    ships two ints per row and map-side partial aggregation collapses
    duplicates before the shuffle. Dedup-by-aggregation beats
    dedup-by-predicate whenever the dup factor is what hurts.

    ``corpus_rows`` (optional catalog/parquet-footer statistic) gates a
    plan-time broadcast of the two vector-fetch sides of the exact
    rescore: when the whole vector relation is ≤
    ``_FETCH_BROADCAST_BYTES`` (rows × dim × 8), ``va``/``vb`` broadcast
    and the candidate relation never shuffles again after its DISTINCT —
    at 100 TB the corpus exceeds the gate and the joins key-shuffle as
    before. Values are identical either way; only the exchange count
    changes.
    """
    if not dedup_pairs and k is not None:
        raise ValueError(
            "dedup_pairs=False is only valid for k=None edge-set "
            "consumers (a top-k over duplicated rows would emit "
            "duplicate pairs)"
        )
    masks = probe_masks(n_planes, probe_hamming)
    hash_all = lsh_buckets_udf(dim, n_planes, n_tables, seed)
    par = shuffle_partitions(df.sparkSession)
    # Spread the bucket relation across the cluster before the self-join:
    # the hash pass inherits the scan's partitioning (a small parquet =
    # one input split), and without this the (tbl, bucket) self-join and
    # everything after it runs single-task. The shuffle ships three ints
    # per row — measured 2.7s → 2.2s on the sf0.1 fixture, and at real
    # scale it is exactly the join's own exchange, done once.
    # NO rebalance before the hash pass, by measurement (r9 A/B at
    # sf0.1, interleaved same-session medians: 2.13/1.90 s without vs
    # 2.57/2.29 s with): at fixture scale the per-row hash is
    # overhead-dominated and the extra exchange + stage costs more than
    # the parallelism buys; at a scale where hashing is real compute the
    # corpus is many-file and rebalance_scan would no-op regardless. The
    # (tbl, b) repartition below is the pipeline's own spread point.
    hb = (
        df.select(F.col(id_col), hash_all(F.col(vec_col)).alias("_bs"))
        .select(id_col, F.posexplode("_bs").alias("tbl", "b"))
        .repartition(par, "tbl", "b")
    )
    probes = hb.select(
        F.col(id_col).alias("vec_a"),
        "tbl",
        F.explode(F.array(*[F.lit(m) for m in masks])).alias("m"),
        F.col("b"),
    ).select(
        "vec_a", "tbl", F.col("b").bitwiseXOR(F.col("m")).alias("bucket")
    )
    exact = hb.select(
        F.col(id_col).alias("vec_b"), "tbl", F.col("b").alias("bucket")
    )
    cand = (
        probes.join(exact, ["tbl", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    lut_gated = (
        corpus_rows is not None
        and corpus_rows * dim * 8 <= _FETCH_BROADCAST_BYTES
    )
    # ``dedup_pairs=False`` (r15, guide §2.4) is for DUPLICATE-INSENSITIVE
    # consumers ONLY — k=None edge sets feeding connected components,
    # where a pair emitted once per colliding (table, probe) changes
    # nothing: it skips the full-shuffle DISTINCT and lets the LUT score
    # the raw collision rows (two ids each; the GEMM is indifferent to
    # the dup factor). The vector-fetch JOIN path always dedups — there
    # the dup factor would fan the two dim-wide fetch joins directly,
    # the exact cost DISTINCT exists to cut.
    if dedup_pairs or not lut_gated:
        cand = cand.distinct()
    if lut_gated:
        # r14 (guide §8, §2.3): under the same 32 MB gate that used to
        # broadcast the two vector-fetch sides, skip the fetch JOINS
        # entirely — collect (id, vec) once (bounded by the gate, the
        # sc.broadcast LUT pattern of the PQ codebooks), ship it to each
        # task as a broadcast matrix, and score candidates in one numpy
        # pass. The old path moved 2·dim doubles PER CANDIDATE PAIR
        # through two joins and the Arrow boundary (~520 MB at the
        # sf0.1 fixture's 506k candidates); this ships two ids per pair
        # (~8 MB) and each vector crosses once per task inside the
        # broadcast. Values are bit-identical (module rule; norms are
        # precomputed per vector — the same doubles _cosine_pd derives
        # per pair), and the EXACT filter on the engine-side rounding
        # below is unchanged. Above the gate the keyed fetch joins
        # remain the 100 TB path. The LUT path has no fan-out, so AQE's
        # byte-sized coalescing of the narrow (id, id) pair rows is
        # exactly right — no re-spread.
        scored = _lut_rescore(df, cand, threshold, id_col, vec_col)
    else:
        # AQE coalesces the narrow (id, id) pair rows toward its
        # post-shuffle byte target, blind to the ~32× fan-out the
        # vector-fetch joins are about to apply (two dim-wide float
        # arrays per row) — on the fixture that serialized the whole
        # rescore into one Arrow batch on one core. Re-spread the
        # candidates BEFORE attaching vectors; rows here are two ids.
        cand = cand.repartition(par)
        va = df.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"))
        vb = df.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"))
        scored = (
            cand.join(va, "vec_a")
            .join(vb, "vec_b")
            .select(
                "vec_a",
                "vec_b",
                F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
            )
        )
    scored = scored.where(F.col("cosine") >= threshold)
    if k is None:
        # full above-threshold pair set (e.g. as the edge relation for
        # semantic-dedup clustering); caller orders if it needs order
        return scored
    return scored.orderBy(F.col("cosine").desc(), "vec_a", "vec_b").limit(k)


def _pair_schema(a: str, b: str, id_t) -> StructType:
    return StructType(
        [
            StructField(a, id_t),
            StructField(b, id_t),
            StructField("cos_raw", DoubleType()),
        ]
    )


def _lut_rescore(
    df: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine for an (vec_a, vec_b) candidate relation via a
    broadcast (id → vector) lookup matrix: one bounded driver collect
    (callers gate on ``_FETCH_BROADCAST_BYTES``), one ``sc.broadcast``,
    one ``mapInPandas`` whose Arrow traffic is two ids per pair.
    Returns (vec_a, vec_b, cosine) with the engine-side 6-dp rounding;
    ``_prune`` pre-cuts rows below ``threshold`` losslessly for the exact
    ``cosine >= threshold`` filter the caller applies."""
    lut_pdf = df.select(F.col(id_col), F.col(vec_col)).toPandas()
    mat = _mat(lut_pdf[vec_col])
    bc = df.sparkSession.sparkContext.broadcast(
        (lut_pdf[id_col].to_numpy(), mat, _norms(mat))
    )

    def score(batches):
        ids_, mat_, nrm_ = bc.value
        # dict .map measured FASTER than argsort+searchsorted at LUT
        # sizes the gate admits (14.6 vs 46 ms per 506k lookups at a
        # 2000-id LUT, r15 microbench) — pandas' dict fast path wins
        # until the LUT itself is large, and the gate caps it at 32 MB
        index = {i: r for r, i in enumerate(ids_)}  # once per task
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ra = pdf["vec_a"].map(index).to_numpy()
            rb = pdf["vec_b"].map(index).to_numpy()
            cos = _row_cos(mat_[ra], mat_[rb], nrm_[ra], nrm_[rb])
            keep = _prune(cos, np.ones(len(cos), dtype=bool), threshold)
            if keep.any():
                yield pd.DataFrame(
                    {
                        "vec_a": pdf["vec_a"].to_numpy()[keep],
                        "vec_b": pdf["vec_b"].to_numpy()[keep],
                        "cos_raw": cos[keep],
                    }
                )

    out_schema = _pair_schema("vec_a", "vec_b", df.schema[id_col].dataType)
    return cand.mapInPandas(score, out_schema).select(
        "vec_a", "vec_b", F.round(F.col("cos_raw"), 6).alias("cosine")
    )


def probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks for multi-probe: the identity bucket plus every bucket
    within the given Hamming distance of the sign pattern."""
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return masks


def lsh_knn(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    probe_hamming: int = 1,
    seed: int = 7,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table, multi-probe hyperplane LSH.

    OR-construction: ``n_tables`` independent hyperplane sets (seeds
    ``seed .. seed+n_tables-1``); a corpus row is a candidate if it shares
    a bucket with the query in ANY table. Multi-probe widens each query's
    lookup to buckets within Hamming distance ``probe_hamming`` of its
    sign pattern — probing neighboring buckets recovers neighbors that
    fall just across one hyperplane, the standard recall lever that costs
    query fan-out instead of another corpus pass.

    Scale shape: the corpus is hashed once per table (column expressions,
    no shuffle) and equi-joined on (table, bucket) against the broadcast
    probe set — n_tables × (1 + n_planes·[h≥1] + ...) rows per query. The
    single-table single-probe formulation (n_tables=1, probe_hamming=0)
    had recall ~0.05 on the fixture corpus; 8 tables × Hamming-1 probing
    reaches >0.5 while scoring a small fraction of the corpus per query.
    """
    masks = probe_masks(n_planes, probe_hamming)
    # All n_tables buckets are hashed in ONE Arrow batch pass per row,
    # then fanned out by cheap explodes: corpus → one (tbl, bucket) row
    # per table; queries → additionally one row per probe mask, XORed
    # onto the base bucket AFTER the explode so the expensive hash is
    # never recomputed per probe.
    hash_all = lsh_buckets_udf(dim, n_planes, n_tables, seed)
    cb = (
        corpus.select(F.col(c_id), F.col(c_vec), hash_all(F.col(c_vec)).alias("_bs"))
        .select(c_id, c_vec, F.posexplode("_bs").alias("tbl", "bucket"))
    )
    qb = (
        queries.select(F.col(q_id), F.col(q_vec), hash_all(F.col(q_vec)).alias("_bs"))
        .select(q_id, q_vec, F.posexplode("_bs").alias("tbl", "base"))
        .select(
            q_id,
            q_vec,
            "tbl",
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("m"),
            F.col("base"),
        )
        .select(
            q_id,
            q_vec,
            "tbl",
            F.col("base").bitwiseXOR(F.col("m")).alias("bucket"),
        )
    )
    joined = cb.join(F.broadcast(qb), ["tbl", "bucket"])
    # a pair found in several tables/probes yields identical rows —
    # collapse before the top-k window so ranks count distinct docs
    scored = _cosine_scored(joined, q_id, q_vec, c_id, c_vec).distinct()
    return _ranked(scored, k, q_id, c_id)


_SQ8_TYPE = StructType(
    [
        StructField("q", ArrayType(IntegerType())),
        StructField("s", DoubleType()),
    ]
)


def _unit(a: np.ndarray) -> np.ndarray:
    """Rows scaled to unit ordered-fold norm; zero rows stay zero."""
    nrm = _norms(a)[:, None]
    return np.divide(a, nrm, out=np.zeros_like(a), where=nrm != 0.0)


@F.pandas_udf(_SQ8_TYPE)
def _sq8_pd(v: pd.Series) -> pd.DataFrame:
    """SQ8 encode: L2-normalize (ordered fold, ≡ DuckDB
    list_dot_product), then per-vector symmetric int8 — codes
    q_j = floor(x̂_j·(127/max|x̂|) + 0.5) plus the dequantization step
    s = max|x̂|/127, so x̂_j ≈ q_j·s. "Round half toward +inf" is spelled
    as floor so Spark and the SQL oracle agree at exact .5 boundaries
    (ROUND() half-up vs banker's varies by engine; floor(x+0.5)
    doesn't). Elementwise float64 throughout — float32 inputs widen
    exactly, no accumulation except the ordered norm fold. An all-zero
    vector encodes as (zeros, s=0)."""
    a = _unit(_mat(v))
    mx = np.abs(a).max(axis=1, initial=0.0)
    scale = np.where(mx == 0.0, 0.0, np.divide(127.0, mx, where=mx != 0.0))
    q = np.floor(a * scale[:, None] + 0.5).astype(np.int32)
    return pd.DataFrame({"q": list(q), "s": mx / 127.0})


@F.pandas_udf(ArrayType(DoubleType()))
def _l2_normalize_pd(v: pd.Series) -> pd.Series:
    """Unit-normalize float vectors (ordered-fold norm; zeros stay
    zeros) — the query-side preparation for asymmetric SQ8 scoring."""
    return pd.Series(list(_unit(_mat(v))))


@F.pandas_udf(DoubleType())
def _adc_dot_pd(qv: pd.Series, cq: pd.Series, s: pd.Series) -> pd.Series:
    """Asymmetric distance computation: ordered dot of the FLOAT query
    against the DEQUANTIZED int8 corpus code, Σ_j qv_j·(cq_j·s).
    Grouping and order mirror DuckDB's
    list_dot_product(qv, list_transform(cq, x -> x*s)) exactly
    (elementwise scale first, then the ordered fold)."""
    return pd.Series(_fold(_mat(qv) * (_mat(cq) * s.to_numpy()[:, None])))


def quantized_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Top-k by ASYMMETRIC scalar-quantized scoring (FAISS's SQ8+ADC,
    expressed relationally): the CORPUS is int8-encoded per vector (a
    map), queries stay float and score against dequantized codes. The
    4× corpus payload shrink is the production point — the exhaustive
    scan is memory-bandwidth-bound over the 100 TB side, and the query
    side is tiny, so keeping it float costs nothing and buys the recall
    back: symmetric int8×int8 scoring measured recall@10 = 0.78 on the
    fixture corpus (quantization noise ~ the top-k boundary gaps);
    asymmetric scoring measures 1.0 (tests/test_similarity.py gates at
    ≥ 0.9). Ranked on the 6-dp rounded score with id tie-breaks, like
    every ANN path here.

    At 100 TB: encode once at ingest and persist (q int8[dim], s
    float64) next to — or instead of — the float column; per-query scan
    bytes drop ~4×, and the top-k window is unchanged.
    """
    qq = queries.select(
        F.col(q_id), _l2_normalize_pd(F.col(q_vec)).alias("qn")
    )
    cq = corpus.select(
        F.col(c_id), _sq8_pd(F.col(c_vec)).alias("sq")
    ).select(
        c_id, F.col("sq.q").alias("cq"), F.col("sq.s").alias("cs")
    )
    scored = (
        cq.join(F.broadcast(qq))
        .where(F.col(q_id) != F.col(c_id))
        .select(
            F.col(q_id),
            F.col(c_id),
            F.round(
                _adc_dot_pd(F.col("qn"), F.col("cq"), F.col("cs")), 6
            ).alias("score"),
        )
    )
    return _ranked(scored, k, q_id, c_id, score="score")


def blocked_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
    top_k: int | None = None,
    block_rows: int = 128,
) -> DataFrame:
    """Exact half-matrix cosine scoring in BLOCKS (r14, guide §2.3/§8
    "move heavy bytes once, pair inside native code"): rows hash into
    ``B = ceil(n/block_rows)``-ish blocks (``pmod(xxhash64(id), B)`` —
    deterministic, uniform regardless of id distribution, guide §2.5),
    blocks pack into single rows via collect_list, the triangle of
    block pairs (bl ≤ br) is a tiny equi-free join of B-row relations,
    and ONE Arrow pass scores each block pair in numpy
    (``_cross_cosine`` — the module's bit-identity rule; the 6-dp
    rounding stays engine-side in the caller). The previous row×row
    broadcast-nested-loop shipped BOTH vectors across the Python
    boundary once per PAIR (n²/2 × 2·dim doubles ≈ 1 GB at the 2000-row
    fixture); the blocked form ships each vector ~B times (a few MB) and
    forms pairs in memory.

    Lossless pruning (both optional, see ``_prune``): ``threshold``
    keeps raw ≥ threshold − margin; ``top_k`` keeps each block pair's
    top-k by raw with the margin. A block pair with any non-finite
    score (zero-norm vector) skips pruning. Returns (vec_a, vec_b,
    cos_raw) with vec_a < vec_b; callers apply F.round(cos_raw, 6) and
    their exact filter/order.

    Quadratic by construction — callers above the measured exact↔LSH
    crossover use :func:`lsh_cosine_pairs` (what :func:`semantic_dedup`
    automates); B(B+1)/2 block pairs of ≤ block_rows² scores bound
    per-task memory regardless of n."""
    par = shuffle_partitions(df.sparkSession)
    n_blocks = max(par, 8)
    # without a row-count statistic the caller can't size B; par-based
    # blocks keep the fixture fine-grained and at larger n the caller
    # should pass the LSH path instead (crossover gate)
    rows = df.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
        F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v")).alias("r"),
    )
    blocks = rows.groupBy("blk").agg(F.collect_list("r").alias("rs"))
    bl = blocks.select(F.col("blk").alias("_bl"), F.col("rs").alias("_ls"))
    br = blocks.select(F.col("blk").alias("_br"), F.col("rs").alias("_rs"))
    pairs = bl.join(br, F.col("_bl") <= F.col("_br")).repartition(par)

    def score(batches):
        for pdf in batches:
            for same, ls, rs in zip(
                (pdf["_bl"] == pdf["_br"]).to_numpy(), pdf["_ls"], pdf["_rs"]
            ):
                li = np.array([d["i"] for d in ls])
                ri = np.array([d["i"] for d in rs])
                lv, rv = _mat(d["v"] for d in ls), _mat(d["v"] for d in rs)
                for sl, cos in _cross_cosine(lv, rv):
                    lic = li[sl]
                    # same-block pairs appear twice in the cross (i,j)/
                    # (j,i): keep i<j; distinct blocks partition the ids,
                    # so every cross pair is kept once and normalized to
                    # (min, max) at emission
                    if same:
                        keep = lic[:, None] < ri[None, :]
                    else:
                        keep = np.ones_like(cos, dtype=bool)
                    a_idx, b_idx = np.nonzero(_prune(cos, keep, threshold, top_k))
                    if len(a_idx) == 0:
                        continue
                    ia, ib = lic[a_idx], ri[b_idx]
                    yield pd.DataFrame(
                        {
                            "vec_a": np.minimum(ia, ib),
                            "vec_b": np.maximum(ia, ib),
                            "cos_raw": cos[a_idx, b_idx],
                        }
                    )

    out_schema = _pair_schema("vec_a", "vec_b", df.schema[id_col].dataType)
    return pairs.mapInPandas(score, out_schema)


def semantic_dedup(
    df: DataFrame,
    dim: int,
    threshold: float,
    exact_below: int = 4000,
    n_rows: int | None = None,
    n_planes: int | None = None,
    probe_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup keep-list: (vec_id, cluster_id, keeper) for EVERY
    corpus row — cosine-pair edges ≥ threshold → connected components →
    keeper = cluster minimum; unpaired rows are their own keepers.

    The pair search switches plans at the MEASURED crossover
    (docs/PERF_NOTES.md; VERDICT r7 "what's wrong" #2): below
    ``exact_below`` rows the exact half-matrix
    (:func:`blocked_cosine_pairs`, threshold margin-prefiltered in the
    scorer and applied EXACTLY on the engine-side 6-dp rounding) is both
    cheaper and recall-1.0, above it the LSH-bucketed candidates with
    corpus-sized planes are the scale path — the same adaptive move as
    Spark's broadcast-join size gate, decided from ``n_rows`` (pass
    catalog/footer statistics; falls back to one count). The registered
    qb2 query pins the LSH plan unconditionally so its oracle hash
    stays algorithm-stable; this operator is the deployment surface.
    """
    from rastercube_spark.operators.graph import min_label_clusters

    n = n_rows if n_rows is not None else df.count()
    if n < exact_below:
        pairs = (
            blocked_cosine_pairs(
                df, id_col=id_col, vec_col=vec_col, threshold=threshold
            )
            .select(
                "vec_a",
                "vec_b",
                F.round(F.col("cos_raw"), 6).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )
    else:
        pairs = lsh_cosine_pairs(
            df,
            dim=dim,
            threshold=threshold,
            k=None,
            n_planes=n_planes or planes_for_corpus(n),
            probe_hamming=probe_hamming,
            id_col=id_col,
            vec_col=vec_col,
            corpus_rows=n,
        )
    clusters = min_label_clusters(
        pairs.select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    return (
        df.select(F.col(id_col).alias("vec_id"))
        .join(clusters.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        )
        .withColumn("keeper", F.col("vec_id") == F.col("cluster_id"))
    )


def cluster_balanced_sample(
    df: DataFrame,
    dim: int,
    threshold: float,
    k: int = 2,
    exact_below: int = 4000,
    n_rows: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style cluster-balanced sampling (qc0's deployment
    surface): ≤ ``k`` rows per semantic cluster, clusters from
    :func:`semantic_dedup`'s edge pipeline with the same exact↔LSH
    crossover gate. Returns (vec_id, cluster_id, sample_rank)."""
    from rastercube_spark.operators.sampling import group_sample

    u = semantic_dedup(
        df,
        dim=dim,
        threshold=threshold,
        exact_below=exact_below,
        n_rows=n_rows,
        id_col=id_col,
        vec_col=vec_col,
    ).select("vec_id", "cluster_id")
    return group_sample(u, k=k, on="cluster_id", key="vec_id", salt="bal:").select(
        "vec_id", "cluster_id", "sample_rank"
    )


def _vec_cosine(u: Column, v: Column) -> Column:
    """JVM-side 6-dp cosine of two double arrays (ordered fold)."""
    return F.round(
        _fold_dot(u, v) / (F.sqrt(_fold_dot(u, u)) * F.sqrt(_fold_dot(v, v))),
        6,
    )


def embedding_drift(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid drift between two snapshots of an embedding
    table (snapshot A = even ids, B = odd ids): the representation-shift
    audit qe0 registers. Returns (label, n_a, n_b, centroid_cosine)
    with inner-join semantics (labels present in both snapshots only).

    Determinism + scale shape (see qe0's docstring): components are
    quantized to exact integers (:func:`quantize_vec` — sums become
    order-independent), lifted to ml vectors, and BOTH snapshots' sums
    ride ONE map-side-combinable groupBy via conditional
    ``Summarizer.sum`` with a zero-vector otherwise-branch (``pivot``
    would plan the same CASE but Summarizer rejects its NULL branch).
    Cosine on the sum vectors (scale-invariant, so /n is unnecessary)
    with a fixed-order zip_with/aggregate fold. One scan, one shuffle
    of n_labels × 2 partial summaries — the corpus is never exploded
    dim-fold."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    q = emb.select(
        (F.col(id_col) % 2).alias("tag"),
        F.col(label_col).alias("label"),
        array_to_vector(quantize_vec(F.col(vec_col))).alias("qv"),
    )
    zero = array_to_vector(F.array_repeat(F.lit(0.0), dim))

    def side_sum(tag: int):
        return Summarizer.sum(
            F.when(F.col("tag") == tag, F.col("qv")).otherwise(zero)
        )

    def side_n(tag: int):
        return (
            F.sum(F.when(F.col("tag") == tag, 1).otherwise(0))
            .cast("bigint")
        )

    agg = q.groupBy("label").agg(
        side_sum(0).alias("sa"),
        side_sum(1).alias("sb"),
        side_n(0).alias("n_a"),
        side_n(1).alias("n_b"),
    )
    return (
        agg.where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "label",
            "n_a",
            "n_b",
            _vec_cosine(
                vector_to_array(F.col("sa")), vector_to_array(F.col("sb"))
            ).alias("centroid_cosine"),
        )
        .orderBy("label")
    )


def _pq_assign(qv: np.ndarray, sums: np.ndarray, cnts: np.ndarray) -> np.ndarray:
    """Quantized (n, dim) vectors → (n, m) int32 PQ codes: per subspace,
    the argmax over codewords of exact-integer dot / count (the argmax
    FIRST max is the lowest-code tie-break)."""
    m, _, sub_d = sums.shape
    vsub = qv.reshape(len(qv), m, sub_d)
    codes = np.empty((len(qv), m), dtype=np.int32)
    for s in range(m):
        quot = (vsub[:, s, :] @ sums[s].T) / cnts[s][None, :]
        codes[:, s] = np.argmax(quot, axis=1)
    return codes


def _pq_encode_udf(b_cb):
    """Arrow UDF: float vector → its m-long PQ code array under the
    broadcast codebooks ``(sums, cnts)``."""

    @F.pandas_udf(ArrayType(IntegerType()))
    def _encode(vs: pd.Series) -> pd.Series:
        codes = _pq_assign(np.floor(_mat(vs) * QUANT), *b_cb.value)
        return pd.Series(list(codes))

    return _encode


def train_pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_cents: int = 16,
    n_iters: int = 2,
    sample_below: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_train_below: int = 65_536,
) -> tuple["np.ndarray", "np.ndarray"]:
    """Product-quantization codebooks: ``m`` independent spherical
    k-means codebooks, one per ``dim/m``-wide subspace, by a
    deterministic exact-integer Lloyd's (m=1 is the IVF coarse
    quantizer, :func:`train_ivf_centroids`), so a SQL oracle replays
    training bit-for-bit per subspace:

    - sample    = rows with ``id < sample_below`` (bounded, id-pruned
                  scan — O(1) regardless of corpus size), quantized by
                  :func:`quantize_vec`;
    - init      = the ``n_cents`` lowest-id sample vectors;
    - assign    = per subspace, argmax over codewords of
                  dot(qv_s, sum_c)/cnt_c (the spherical update uses the
                  running integer sums directly — one IEEE division of
                  exact integers; ties → lowest codeword);
    - update    = per-codeword elementwise INTEGER sums + counts;
    - empty     = a codeword keeps its previous (sum, cnt).

    Returns RAW ``(sums, cnts)`` — shapes (m, n_cents, dim/m) and
    (m, n_cents) — NOT the divided centroids: downstream ADC scoring
    needs the exact integer sums so every score is one integer dot and
    one IEEE division (order-independent in both engines).

    When ``sample_below <= driver_train_below`` the iterations run
    DRIVER-SIDE on the collected sample (≤32 MB at 65 536 rows) instead
    of as per-iteration Spark jobs — the same exact-integer operations,
    so both paths return BIT-identical codebooks (asserted in
    tests/test_similarity.py) while the driver path skips n_iters job
    round-trips. Past that bound the distributed update runs: one
    assignment UDF emits the m-long code array against broadcast
    codebooks, and one map-side-combinable groupBy(subspace, code,
    component) integer-sum update per iteration collects only
    m×n_cents×dim/m partial-sum rows."""
    sub_d, rem = divmod(dim, m)
    if rem:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sample = df.where(F.col(id_col) < sample_below).select(
        F.col(id_col).alias("sid"),
        F.col(vec_col).alias("v"),
        quantize_vec(F.col(vec_col)).alias("qv"),
    )
    on_driver = sample_below <= driver_train_below
    init = sample.orderBy("sid").select("qv")
    qv = _mat(r["qv"] for r in (init if on_driver else init.limit(n_cents)).collect())
    if len(qv) < n_cents:
        raise ValueError(f"sample has {len(qv)} rows < n_cents={n_cents}")
    sums = np.ascontiguousarray(
        qv[:n_cents].reshape(n_cents, m, sub_d).transpose(1, 0, 2)
    )
    cnts = np.ones((m, n_cents), dtype=np.float64)

    sc = df.sparkSession.sparkContext
    s_expr = (F.col("i") / sub_d).cast("int")
    for _ in range(n_iters):
        new_sums, new_cnts = sums.copy(), cnts.copy()
        if on_driver:
            # assignment reads the PREVIOUS iteration's (sums, cnts) for
            # every subspace, exactly like the distributed UDF
            codes = _pq_assign(qv, sums, cnts)
            for s in range(m):
                for c in range(n_cents):
                    mask = codes[:, s] == c
                    if mask.any():  # empty codeword carries over
                        new_sums[s, c] = qv[mask, s * sub_d:(s + 1) * sub_d].sum(axis=0)
                        new_cnts[s, c] = float(mask.sum())
        else:
            # the codebooks ride a broadcast variable, not the UDF
            # closure: constant closure size in n_cents
            b = sc.broadcast((sums, cnts))
            rows = (
                sample.select(
                    _pq_encode_udf(b)(F.col("v")).alias("codes"),
                    F.posexplode("qv").alias("i", "val"),
                )
                .select(
                    s_expr.alias("s"),
                    F.element_at("codes", s_expr + 1).alias("cid"),
                    F.pmod(F.col("i"), F.lit(sub_d)).alias("j"),
                    "val",
                )
                .groupBy("s", "cid", "j")
                .agg(F.sum("val").alias("sv"), F.count("*").alias("n"))
                .collect()
            )
            b.destroy()  # iteration's tasks are done (collect() above)
            for r in rows:
                new_sums[r["s"], r["cid"], r["j"]] = r["sv"]
                new_cnts[r["s"], r["cid"]] = float(r["n"])
        sums, cnts = new_sums, new_cnts
    return sums, cnts


def _pq_luts(queries, q_id, q_vec, sums, cnts) -> dict:
    """Query id → (m × n_cents) int64 ADC table: floor(1024·dot(q_s,
    sum_k)/cnt_k) — floor of one IEEE division of exact integers per
    cell (the 1024 scale keeps sub-integer rank granularity while the
    product stays exactly representable)."""
    rows = queries.select(q_id, q_vec).collect()
    m, _, sub_d = sums.shape
    qv = np.floor(_mat(r[q_vec] for r in rows) * QUANT).reshape(len(rows), m, sub_d)
    t = np.stack(
        [np.floor((1024.0 * (qv[:, s, :] @ sums[s].T)) / cnts[s]) for s in range(m)],
        axis=1,
    ).astype(np.int64)
    return {r[q_id]: t[i] for i, r in enumerate(rows)}


def _pq_refine(joined, queries, corpus, codebooks, k, rerank, q_id, q_vec, c_id, c_vec):
    """The PQ search shared by :func:`pq_knn` and :func:`ivfpq_probe`:
    ``joined`` pairs each query id with its candidate (c_id, codes)
    rows. Score them by ADC against broadcast per-query LUTs (m integer
    lookups, summed — order-free), shortlist the top-``rerank`` per
    query (id tie-break), re-score the shortlist by exact integer dot
    over the quantized full vectors (corpus side by a keyed join —
    ``rerank`` rows per query regardless of corpus size; query side
    broadcast) and keep the top-``k``. ``score`` divides QUANT² back
    out."""
    b_lut = corpus.sparkSession.sparkContext.broadcast(
        _pq_luts(queries, q_id, q_vec, *codebooks)
    )

    @F.pandas_udf(LongType())
    def _adc(qids: pd.Series, codes: pd.Series) -> pd.Series:
        lut = b_lut.value
        c = _mat(codes).astype(np.int64)
        out = np.empty(len(qids), dtype=np.int64)
        srange = np.arange(c.shape[1])
        for qid, grp in pd.Series(range(len(qids)), dtype="int64").groupby(
            qids.to_numpy()
        ):
            idx = grp.to_numpy()
            out[idx] = lut[qid][srange[None, :], c[idx]].sum(axis=1)
        return pd.Series(out)

    scored = joined.where(F.col(q_id) != F.col(c_id)).select(
        F.col(q_id),
        F.col(c_id),
        _adc(F.col(q_id), F.col("codes")).alias("iscore"),
    )
    cand = _top_k(
        scored, q_id, rerank, F.col("iscore").desc(), F.col(c_id), rank="crank"
    ).select(q_id, c_id)
    cqv = corpus.select(F.col(c_id), quantize_vec(F.col(c_vec)).alias("cv"))
    qqv = queries.select(F.col(q_id), quantize_vec(F.col(q_vec)).alias("qv"))
    xdot = _fold_dot(F.col("qv"), F.col("cv")).alias("xdot")
    refined = (
        cand.join(cqv, c_id)
        .join(F.broadcast(qqv), q_id)
        .select(F.col(q_id), F.col(c_id), xdot)
    )
    return _top_k(refined, q_id, k, F.col("xdot").desc(), F.col(c_id)).select(
        q_id,
        c_id,
        F.round(F.col("xdot") / 100000000.0, 6).alias("score"),
        "rank",
    )


def pq_knn(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 16,
    n_cents: int = 32,
    n_iters: int = 2,
    sample_below: int = 256,
    rerank: int = 100,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Top-k by PRODUCT-quantized candidate generation + exact re-rank
    (FAISS's PQ+ADC with a refinement pass, expressed relationally):
    the corpus collapses to ``m`` codes over ``n_cents`` codewords per
    vector (m=16, K=32 -> 16×5 bits = 10 bytes vs the 256-byte float
    column — the memory-bound regime PQ exists for), each query becomes
    an (m × K) lookup table, and the exhaustive pass scores a corpus
    row with m integer table lookups — no float dot ever touches the
    full corpus. The top-``rerank`` ADC candidates per query are then
    EXACTLY re-scored and the final top-k ranks on the exact score
    (``_pq_refine``) — the standard shortlist/refine split: on the
    fixture corpus direct ADC recall@10 measures only ~0.3-0.4
    (near-isotropic 64-dim embeddings are PQ's hard case; parameter
    ablation in docs/PERF_NOTES.md r11), while the 100-candidate
    refined recall measures 0.9+ (gated in tests/test_similarity.py).

    Every step is replayable in SQL: codebooks from
    :func:`train_pq_codebooks`, encoding by argmax of exact integer dot
    / count per subspace, ADC terms floor(1024·dot/cnt), and the refine
    an exact integer dot (JVM-side fold ≡ DuckDB list_dot_product on the
    same integers) — the module's quantized bit-identity rule.

    At 100 TB: train on the bounded sample, encode once at ingest and
    persist the code column — the exhaustive pass reads ~25× fewer
    bytes than float32, and the refine pass touches ``rerank`` rows
    per query via a keyed join, independent of corpus size (compose
    with qa2's IVF lists when the code scan itself becomes the bound).
    The query side is collected and broadcast as LUTs — bounded by
    contract, like every broadcast query side here."""
    codebooks = train_pq_codebooks(
        corpus, dim, m=m, n_cents=n_cents, n_iters=n_iters,
        sample_below=sample_below, id_col=c_id, vec_col=c_vec,
    )
    b_cb = corpus.sparkSession.sparkContext.broadcast(codebooks)
    enc = corpus.select(F.col(c_id), _pq_encode_udf(b_cb)(F.col(c_vec)).alias("codes"))
    joined = enc.join(F.broadcast(queries.select(F.col(q_id))))
    return _pq_refine(
        joined, queries, corpus, codebooks, k, rerank, q_id, q_vec, c_id, c_vec
    )


def label_centroid_outliers(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding outliers: the k vectors of each label whose
    cosine to their OWN label's centroid is lowest — the mislabel/noise
    audit (cleanlab-style) a pipeline runs before trusting a label
    column for stratified sampling (qb7), mixture weighting (qd2) or
    label-consistency probes (qd3). A vector far from its label's
    centroid is either mislabeled, an outlier worth manual review, or
    evidence the label is not one cluster. Returns
    (label, rank, vec_id, cos_centroid), rank 1 = most anomalous.

    Determinism is qe0's recipe (embedding_drift): components quantized
    to exact integers (:func:`quantize_vec`), per-label centroid SUM via
    ONE map-side-combinable ``Summarizer.sum`` groupBy (cosine is
    scale-invariant, so the /n division is unnecessary and the sum
    vector IS the centroid), per-vector cosine against the label sum
    with a fixed-order zip_with/aggregate fold matching DuckDB's
    list_dot_product, ROUND(6) BEFORE ranking, id tie-break.

    Scale shape: one scan for the sums (shuffle of n_labels partial
    summaries), the label→sum map broadcasts (n_labels rows), the
    per-vector score is map-side, and the per-label bottom-k runs as a
    rank window that Spark 3.5+ executes with map-side WindowGroupLimit
    — no task ever sorts more than its partition's slice of one label.
    The corpus is never exploded dim-fold and never self-joined."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    # ``dim`` is enforced, not decorative (ADVICE r11: it used to be
    # accepted and ignored — a caller passing the wrong dim deserves an
    # error, not a silent pass): assert_true returns NULL on success and
    # fails the job naming the offending row otherwise, evaluated inside
    # the same JVM-side projection.
    dim_ok = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        F.concat(
            F.lit(f"{vec_col} length != dim={dim} for {id_col}="),
            F.col(id_col).cast("string"),
        ),
    )
    q = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.when(dim_ok.isNull(), quantize_vec(F.col(vec_col))).alias("qv"),
    )
    sums = (
        q.select("label", array_to_vector(F.col("qv")).alias("v"))
        .groupBy("label")
        .agg(Summarizer.sum(F.col("v")).alias("sv"))
        .select("label", vector_to_array(F.col("sv")).alias("sumv"))
    )
    scored = q.join(F.broadcast(sums), "label").select(
        "label",
        "vec_id",
        _vec_cosine(F.col("qv"), F.col("sumv")).alias("cos_centroid"),
    )
    return _top_k(
        scored, "label", k, F.col("cos_centroid"), F.col("vec_id")
    ).select("label", "rank", "vec_id", "cos_centroid")


def ivfpq_encode(
    corpus: DataFrame,
    dim: int,
    n_coarse: int = 16,
    coarse_iters: int = 3,
    m: int = 16,
    n_cents: int = 32,
    n_iters: int = 2,
    sample_below: int = 256,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    coarse_cents: list[list[float]] | None = None,
    codebooks: tuple["np.ndarray", "np.ndarray"] | None = None,
    extra_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, list[list[float]], tuple["np.ndarray", "np.ndarray"]]:
    """The encode-at-ingest half of :func:`ivfpq_knn` (VERDICT r12
    "Next round" #3): train (or accept) the coarse and fine quantizers
    and compute the (c_id, cid, codes) relation in ONE map-only corpus
    projection — no shuffle. Returns (encoded, coarse_cents,
    (sums, cnts)) so the quantizers can be persisted alongside the
    codes and reused by every later probe; re-invoking with the saved
    quantizers is bit-identical to training in-line because training is
    deterministic (exact-integer Lloyd's; tests/test_similarity.py
    test_driver_and_distributed_training_bit_identical).

    At 100 TB this runs ONCE at ingest: the codes are ~25× smaller
    than float32 vectors and, written ``partitionBy("cid")``, a later
    probe's broadcast join touches only the nprobe/n_coarse probed
    partitions (dynamic partition pruning — asserted on the persisted
    path in tests/test_similarity.py)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if coarse_cents is None:
        coarse_cents = train_ivf_centroids(
            corpus, dim, n_cents=n_coarse, n_iters=coarse_iters,
            sample_below=sample_below, id_col=c_id, vec_col=c_vec,
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, dim, m=m, n_cents=n_cents, n_iters=n_iters,
            sample_below=sample_below, id_col=c_id, vec_col=c_vec,
        )
    b_cb = corpus.sparkSession.sparkContext.broadcast(codebooks)
    # one corpus pass: coarse list id + fine codes, both from the same
    # scan (encode-at-ingest shape)
    enc = corpus.select(
        F.col(c_id),
        ivf_assign(F.col(c_vec), coarse_cents).alias("cid"),
        _pq_encode_udf(b_cb)(F.col(c_vec)).alias("codes"),
        *[F.col(c) for c in extra_cols],
    )
    return enc, coarse_cents, codebooks


def ivfpq_probe(
    queries: DataFrame,
    encoded: DataFrame,
    corpus: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: tuple["np.ndarray", "np.ndarray"],
    dim: int,
    k: int = 10,
    nprobe: int = 8,
    m: int = 16,
    n_cents: int = 32,
    rerank: int = 100,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """The query half of :func:`ivfpq_knn`, over an ALREADY-ENCODED
    (c_id, cid, codes) relation — the path a persisted index serves
    (VERDICT r12 "Next round" #3): probe-list selection, then the shared
    PQ shortlist/refine (``_pq_refine``) over a broadcast equi-join on
    cid (the encoded corpus never shuffles; a cid-partitioned on-disk
    index adds dynamic partition pruning so only probed lists are READ),
    refining against the base ``corpus`` vectors. Bit-identical to the
    inline :func:`ivfpq_knn` given the same quantizers (golden-equality
    test in tests/test_similarity.py)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if codebooks[0].shape != (m, n_cents, dim // m):
        raise ValueError(
            f"codebooks of shape {codebooks[0].shape} do not match "
            f"m={m}, n_cents={n_cents}, dim={dim}"
        )
    qprobe = queries.select(
        F.col(q_id),
        ivf_probe_lists(F.col(q_vec), coarse_cents, nprobe).alias("_pl"),
    ).select(q_id, F.explode("_pl").alias("cid"))
    joined = encoded.join(F.broadcast(qprobe), "cid")
    return _pq_refine(
        joined, queries, corpus, codebooks, k, rerank, q_id, q_vec, c_id, c_vec
    )


def save_ann_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_coarse: int = 16,
    coarse_iters: int = 3,
    m: int = 16,
    n_cents: int = 32,
    n_iters: int = 2,
    sample_below: int = 256,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    store_vectors: bool = False,
) -> dict:
    """Materialize an IVF×PQ index: train both quantizers, encode the
    corpus (:func:`ivfpq_encode`), write the codes parquet PARTITIONED
    BY cid (so a probe's broadcast join dynamic-partition-prunes to its
    nprobe lists), and save the quantizers + parameters as JSON next to
    it. The CLI verb ``build-ann-index`` wraps this. Returns the
    metadata dict.

    ``store_vectors=True`` additionally carries the raw vector column
    into the codes relation (still one map-only corpus pass — an extra
    projected column, no join): the layout consumers that score with
    EXACT vectors (corpus-as-queries audits like
    :func:`knn_graph_stats`) then read everything they need from the
    ONE cid-partitioned relation instead of re-assigning lists per
    invocation. Costs the float payload next to the ~25× smaller codes
    — build the default slim index when only ADC probes will read it.
    """
    import json
    import os

    enc, cents, (sums, cnts) = ivfpq_encode(
        corpus, dim, n_coarse=n_coarse, coarse_iters=coarse_iters, m=m,
        n_cents=n_cents, n_iters=n_iters, sample_below=sample_below,
        c_id=c_id, c_vec=c_vec,
        extra_cols=(c_vec,) if store_vectors else (),
    )
    codes_path = os.path.join(path, "codes")
    enc.write.partitionBy("cid").mode("overwrite").parquet(codes_path)
    meta = {
        "dim": dim, "n_coarse": n_coarse, "m": m, "n_cents": n_cents,
        "c_id": c_id, "c_vec": c_vec,
        "store_vectors": store_vectors,
        "coarse_cents": cents,
        "pq_sums": [s.tolist() for s in sums],
        "pq_cnts": [c.tolist() for c in cnts],
    }
    with open(os.path.join(path, "index.json"), "w") as f:
        json.dump(meta, f)
    return meta


def load_ann_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Load a :func:`save_ann_index` index: the cid-partitioned codes
    relation plus the metadata dict (quantizers as numpy arrays under
    'pq_sums'/'pq_cnts', coarse centroids under 'coarse_cents')."""
    import json
    import os

    with open(os.path.join(path, "index.json")) as f:
        meta = json.load(f)
    meta["pq_sums"] = np.array(meta["pq_sums"])
    meta["pq_cnts"] = np.array(meta["pq_cnts"])
    enc = spark.read.parquet(os.path.join(path, "codes"))
    return enc, meta


def ivfpq_knn(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_coarse: int = 16,
    nprobe: int = 8,
    coarse_iters: int = 3,
    m: int = 16,
    n_cents: int = 32,
    n_iters: int = 2,
    sample_below: int = 256,
    rerank: int = 100,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    coarse_cents: list[list[float]] | None = None,
    codebooks: tuple["np.ndarray", "np.ndarray"] | None = None,
) -> DataFrame:
    """IVF×PQ composed ANN — the production 100 TB path both qa2's and
    qe2's docstrings point at ("compose with qa2's IVF lists when the
    code scan itself becomes the bound"): the corpus lives in
    ``n_coarse`` trained inverted lists (qa2's coarse quantizer) AND
    collapses to ``m`` PQ codes per vector (qe2's fine quantizer); a
    query ADC-scans only the ``nprobe`` lists it probes — the FAISS
    IVFPQ cost model, ~(nprobe/n_coarse)·(m lookups)·corpus instead of
    either full-corpus scan. Codes encode the RAW vectors, not the
    coarse residual (FAISS ``by_residual=False``): residual encoding
    would couple every code to float centroid subtraction and break the
    exact-integer determinism contract that lets the SQL oracle replay
    training, encoding, probing, ADC and refine bit-for-bit. The recall
    cost of skipping residuals is measured and gated in
    tests/test_similarity.py (refined recall tracks qa2's IVF recall at
    the same nprobe — the coarse quantizer, not the code, is the
    recall bound once the refine pass runs).

    Stages (every one the deterministic recipe of its parent):

    - coarse train: :func:`train_ivf_centroids` (exact-integer Lloyd's
      on the id-pruned bounded sample);
    - fine train: :func:`train_pq_codebooks` (m independent subspace
      k-means, same recipe);
    - corpus pass: ONE projection computes the coarse list id
      (:func:`ivf_assign`) and the m-code array (argmax of exact
      integer dot / count per subspace) — no shuffle, encode-at-ingest
      at scale with both columns persisted;
    - queries: top-``nprobe`` lists (:func:`ivf_probe_lists`) +
      integer ADC LUTs (floor(1024·dot/cnt)), broadcast — bounded by
      the same contract as every ANN query side here;
    - shortlist: broadcast-hash equi-join on the list id (corpus never
      shuffles), m integer LUT lookups per touched row, per-query
      top-``rerank`` on the exact-integer ADC sum (id tie-break);
    - refine: exact integer dot over the quantized full vectors for
      the shortlist only (keyed join, ``rerank`` rows per query
      regardless of corpus size), final top-``k`` on it.

    At 100 TB: train once on the bounded sample; encode (cid, codes) at
    ingest and persist partitioned by cid (:func:`save_ann_index` /
    the ``build-ann-index`` CLI verb) — the probe join is then
    shuffle-free, dynamic-partition-prunes to the probed lists, AND
    reads ~25× fewer bytes than float32. This function is the INLINE
    composition :func:`ivfpq_encode` → :func:`ivfpq_probe`; the
    persisted path runs the same probe over the loaded codes and is
    bit-identical (golden-equality test in tests/test_similarity.py).
    The reference has no ANN surface; this composes the repo's own
    qa2/qe2 primitives.
    """
    enc, coarse_cents, codebooks = ivfpq_encode(
        corpus, dim, n_coarse=n_coarse, coarse_iters=coarse_iters, m=m,
        n_cents=n_cents, n_iters=n_iters, sample_below=sample_below,
        c_id=c_id, c_vec=c_vec,
        coarse_cents=coarse_cents, codebooks=codebooks,
    )
    return ivfpq_probe(
        queries, enc, corpus, coarse_cents, codebooks, dim, k=k,
        nprobe=nprobe, m=m, n_cents=n_cents, rerank=rerank,
        q_id=q_id, q_vec=q_vec, c_id=c_id, c_vec=c_vec,
    )


def embedding_dim_stats(
    emb: DataFrame,
    dim: int,
    var_floor: float = 1e-4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension embedding diagnostics: quantized mean and variance
    for each of the ``dim`` components, plus a ``low_variance`` flag —
    the collapsed-dimension audit run before trusting an embedding
    column for ANN (q96/q97/qa2/qe2/qf0) or semantic dedup (qb2). A
    dimension whose variance is ~0 carries no information (dead
    encoder unit, truncation bug, wrong slice) and silently degrades
    every cosine downstream; a mean far from 0 signals an uncentered
    encoder. Returns (dim_idx, mean_q, var_q, low_variance), one row
    per dimension, ordered by dim_idx.

    Determinism is qe0's recipe extended to second moments: components
    quantize to exact integers (floor(x·10⁴)), and ONE
    ``Summarizer.sum`` groupBy over the vectorized (qv, qv⊙qv) pair
    yields Σx and Σx² per dimension as exact integer-valued doubles
    (every partial < 2⁵³ on fixture scales: |q| ≤ 10⁴, q² ≤ 10⁸, so
    Σx² stays exact up to ~10⁷ rows — at larger n the sums remain
    deterministic per partitioning only if kept exact, which is why
    the quantization scale, not the row count, is the knob to turn
    down at extreme scale). mean = Σx/n and
    var = (n·Σx² − (Σx)²)/n² are single IEEE divisions of exact
    integers — engine-identical — rounded to 6 dp. Values are in
    QUANTIZED units (mean_q ≈ 10⁴·mean; var_q ≈ 10⁸·var): exact
    cross-engine hashability is the point, absolute units are not.

    Scale shape: one corpus scan, one shuffle of TWO dim-length
    partial summaries per task (map-side combinable ObjectHashAggregate
    — the corpus is never exploded dim-fold); the posexplode that
    emits per-dimension rows runs on the single aggregated row. Result
    is dim rows regardless of corpus size.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    q = emb.select(quantize_vec(F.col(vec_col)).alias("qv"))
    agg = (
        q.select(
            array_to_vector(F.col("qv")).alias("v"),
            array_to_vector(
                F.transform("qv", lambda x: x * x)
            ).alias("v2"),
        )
        .agg(
            Summarizer.sum(F.col("v")).alias("s"),
            Summarizer.sum(F.col("v2")).alias("q2"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
    )
    z = agg.select(
        "n",
        F.posexplode(
            F.arrays_zip(
                vector_to_array(F.col("s")).alias("s_i"),
                vector_to_array(F.col("q2")).alias("q2_i"),
            )
        ).alias("i", "z"),
    ).select(
        F.col("i").cast("bigint").alias("dim_idx"),
        F.round(F.col("z.s_i") / F.col("n"), 6).alias("mean_q"),
        F.round(
            (F.col("n") * F.col("z.q2_i") - F.col("z.s_i") * F.col("z.s_i"))
            / (F.col("n") * F.col("n")),
            6,
        ).alias("var_q"),
    )
    # var_floor is in RAW units; quantized variance scales by QUANT²
    return z.select(
        "dim_idx",
        "mean_q",
        "var_q",
        (F.col("var_q") < F.lit(var_floor * QUANT * QUANT)).alias(
            "low_variance"
        ),
    ).orderBy("dim_idx")


def ann_index_audit(
    emb: DataFrame,
    dim: int,
    ivf_cents: int = 16,
    ivf_iters: int = 3,
    m: int = 16,
    pq_cents: int = 32,
    pq_iters: int = 2,
    sample_below: int = 256,
    err_bin: float = 5_000_000.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-build health audit for the ANN family (qa2's IVF lists +
    qe2/qf0's PQ codebooks): the three structural statistics an operator
    reads BEFORE trusting an index at scale, as one relational result
    (part, key, n) ordered by (part, key):

    - ``ivf_list``  — corpus count per IVF list (key = centroid id).
      Skewed lists mean skewed probe fan-out: one hot list turns
      nprobe-bounded queries back into scans. Empty lists simply don't
      appear (same GROUP BY semantics in both engines).
    - ``pq_codes``  — DISTINCT codewords actually used per subspace
      (key = subspace). Dead codewords (n << n_cents) mean the
      codebook wastes bits and ADC resolution.
    - ``pq_err``    — histogram of per-vector PQ reconstruction error
      (key = floor(err / err_bin) in the ×10⁸ quantized-squared
      domain). A heavy right tail predicts exactly where ADC recall
      dies (the measured ~0.3-0.4 direct-ADC recall on these
      near-isotropic fixtures — docs/PERF_NOTES.md r11).

    Training replays qa2's/qe2's recipes exactly (same defaults, same
    deterministic exact-integer Lloyd's via train_ivf_centroids /
    train_pq_codebooks), so one SQL oracle replays the whole audit
    bit-for-bit. The reconstruction error is engine-identical by
    construction: per (vector, subspace), num = Σ_j (qv_j·cnt −
    sum_j)² is an EXACT integer (< 2⁵³), err_s = num / cnt² is one
    correctly-rounded IEEE division, and the per-vector total
    accumulates err_s in FIXED subspace order (s = 0..m-1) — the same
    chain the oracle's CASE pivot evaluates. The histogram bin is
    floor of one further IEEE division of that identical double.

    Scale shape (r14, guide §1.2/§2.3 — was THREE full corpus passes:
    one scan per union branch, the ×3 `_enc_err` in the r14 before-plan
    sweep): both trainings read a bounded id-pruned sample (O(1) in
    corpus size); the audit proper is ONE pass over the corpus — a
    single projection evaluates both Arrow UDFs (IVF assignment + PQ
    encode/error), every per-row statistic rides one explode of a
    constant-size (1 + m + 1)-element (part, key, val) array, and the
    three histograms fall out of one two-level keyed aggregation
    (groupBy (part, key, val) → groupBy (part, key); the distinct-
    codeword count is the row count of the first level, so no Expand).
    Both aggregation keys are index-sized (n_lists + m·pq_cents + a few
    dozen bins), not corpus-sized; the values are provably identical to
    the old three-branch union (same count / count-distinct semantics
    per part). No joins, no pairs, no corpus shuffle, exactly one scan
    — asserted in tests/test_plans.py."""
    cents = train_ivf_centroids(
        emb, dim, n_cents=ivf_cents, n_iters=ivf_iters,
        sample_below=sample_below, id_col=id_col, vec_col=vec_col,
    )
    codebooks = train_pq_codebooks(
        emb, dim, m=m, n_cents=pq_cents, n_iters=pq_iters,
        sample_below=sample_below, id_col=id_col, vec_col=vec_col,
    )
    b_cb = emb.sparkSession.sparkContext.broadcast(codebooks)

    @F.pandas_udf(
        StructType(
            [
                StructField("codes", ArrayType(IntegerType())),
                StructField("err", DoubleType()),
            ]
        )
    )
    def _enc_err(vs: pd.Series) -> pd.DataFrame:
        cs, cc = b_cb.value  # (m, K, sub_d) exact integer sums, (m, K)
        v = np.floor(_mat(vs) * QUANT)
        codes = _pq_assign(v, cs, cc)
        vsub = v.reshape(len(v), m, dim // m)
        err = np.zeros(len(v), dtype=np.float64)
        for s in range(m):  # fixed subspace order = the oracle's chain
            code = codes[:, s]
            diff = vsub[:, s, :] * cc[s][code][:, None] - cs[s][code]
            num = (diff * diff).sum(axis=1)  # exact integers < 2^53
            err = err + num / (cc[s][code] ** 2)
        return pd.DataFrame({"codes": list(codes), "err": err})

    # ONE corpus pass: both Arrow UDFs in a single projection, then a
    # constant-fan-out explode of (part, key, val) rows — the ivf_list
    # row (key=cid), the m pq_codes rows (key=subspace, val=codeword)
    # and the pq_err row (key=error bin) per vector.
    enc = emb.select(
        _enc_err(F.col(vec_col)).alias("e"),
        ivf_assign(F.col(vec_col), cents),
    )
    rows = enc.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.lit("ivf_list").alias("part"),
                        F.col("cid").cast("int").alias("key"),
                        F.lit(None).cast("int").alias("val"),
                    )
                ),
                F.transform(
                    F.col("e.codes"),
                    lambda c, s: F.struct(
                        F.lit("pq_codes").alias("part"),
                        s.cast("int").alias("key"),
                        c.cast("int").alias("val"),
                    ),
                ),
                F.array(
                    F.struct(
                        F.lit("pq_err").alias("part"),
                        F.floor(F.col("e.err") / F.lit(err_bin))
                        .cast("int")
                        .alias("key"),
                        F.lit(None).cast("int").alias("val"),
                    )
                ),
            )
        ).alias("r")
    ).select("r.part", "r.key", "r.val")
    # Two-level keyed aggregation, identical values to the old
    # three-branch union: level 1 collapses duplicate (part, key, val)
    # triples with their row count; level 2 takes the row count of
    # level 1 for pq_codes (= COUNT(DISTINCT codeword) per subspace —
    # val is unique within the group) and the summed count for the two
    # NULL-val parts (= plain COUNT(*) per key). No Expand, map-side
    # combinable at both levels, index-sized results.
    per_val = rows.groupBy("part", "key", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        per_val.groupBy("part", "key")
        .agg(
            F.sum(
                F.when(F.col("part") == "pq_codes", F.lit(1)).otherwise(
                    F.col("c")
                )
            )
            .cast("bigint")
            .alias("n")
        )
        .orderBy("part", "key")
    )


# --- semantic (embedding-space) decontamination -------------------------

def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.8,
    k_out: int = 100,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    e_vec: str = "embedding",
    eval_rows_max: int = 65536,
) -> DataFrame:
    """Embedding-space eval-set decontamination: for every training
    vector, its maximum cosine against the ENTIRE eval/benchmark set —
    the paraphrase- and translation-robust leak check that n-gram
    decontamination (qb1 exact, qd4 banded Jaccard) cannot give, since
    a reworded or translated eval item shares no shingles with its
    leaked source but sits next to it in embedding space.

    Output: the ``k_out`` corpus vectors closest to the eval set —
    (vec_id, max_sim, n_eval_hits, contaminated) — ordered by max_sim
    DESC with id tie-break. Per-eval similarities follow the module's
    bit-identity rule (6-dp rounded JVM-side BEFORE the max / threshold
    compare), so the DuckDB oracle replays the scores bit-for-bit. A
    zero-norm embedding on EITHER side scores similarity 0.0 by
    definition (never NaN/inf), identically in the operator and the
    qg0 oracle's CASE.

    100 TB shape — the distinguishing topology of this operator: the
    eval set is SMALL by contract (a benchmark suite, not a corpus —
    gated at ``eval_rows_max``, failing loudly like every broadcast
    gate here) and rides into one Arrow pass as a collected numpy
    matrix; the corpus is scanned ONCE, map-only, never shuffled,
    never joined — scan → vectorized scoring → TakeOrdered. Cost is
    |corpus|·|eval| multiply-adds spread across every core with zero
    exchanges before the final top-k. Compare qd4 (candidate banding +
    keyed joins) and qb2 (intra-corpus LSH): this is the third, purely
    map-side decontamination topology. No reference analog —
    LLM-pipeline surface (builder brief).
    """
    from rastercube_spark.sources.tables import rebalance_scan

    # Gate BEFORE paying the memory (ADVICE r12): limit(max+1) bounds
    # what the driver ever materializes, so a corpus-sized relation
    # passed as eval_set raises instead of OOMing the driver first.
    ev = _mat(
        r[0] for r in eval_set.select(e_vec).limit(eval_rows_max + 1).collect()
    )
    if not len(ev):
        raise ValueError("semantic_decontaminate: eval_set is empty")
    if len(ev) > eval_rows_max:
        raise ValueError(
            f"semantic_decontaminate: eval_set has over {eval_rows_max} "
            "rows (the broadcast bound) — a relation this large is a "
            "corpus, not an eval set; use the LSH/banded pipelines "
            "(qd4/qb2) instead"
        )
    en = _norms(ev)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _eval_sims(v: pd.Series) -> pd.Series:
        va = _mat(v)
        na = _norms(va)
        sims = np.empty((len(va), len(ev)))
        # A zero-norm vector on either side is DEFINED as similarity 0.0
        # (ADVICE r12: bare division made it NaN/inf with an
        # engine/oracle divergence; the oracle's CASE matches).
        for sl, cos in _cross_cosine(va, ev):
            sims[sl] = np.where(na[sl, None] * en[None, :] > 0.0, cos, 0.0)
        return pd.Series(list(sims))

    sims6 = F.transform(_eval_sims(F.col(c_vec)), lambda x: F.round(x, 6))
    return (
        rebalance_scan(corpus)
        .select(F.col(c_id).alias("vec_id"), sims6.alias("__sims"))
        .select(
            "vec_id",
            F.array_max("__sims").alias("max_sim"),
            F.size(
                F.filter("__sims", lambda x: x >= F.lit(threshold))
            ).cast("bigint").alias("n_eval_hits"),
        )
        .withColumn("contaminated", F.col("max_sim") >= F.lit(threshold))
        .orderBy(F.desc("max_sim"), "vec_id")
        .limit(k_out)
    )


# --- kNN graph (qg8) -------------------------------------------------------

def knn_graph_edges(cb: DataFrame, qb: DataFrame, k: int) -> DataFrame:
    """The candidate pairing + per-source top-``k`` at the core of
    :func:`knn_graph_stats`: ``cb`` is the list-member side
    (t_id, t_v, cid), ``qb`` the corpus-as-queries probe side
    (s_id, s_v, cid — one row per probed list), and the result is the
    directed edge relation (s_id, t_id), n·k rows.

    Plan shape (r14 rewrite — guide §2.3/§4.1 "shuffle keys and
    metadata, hand whole batches to vectorized native code"): the
    within-list pairing is a cid-keyed COGROUP
    (``FlatMapCoGroupsInPandas``) instead of an equi-join feeding a
    per-pair Arrow cosine. The join form shipped BOTH full vectors
    across the Python boundary once per candidate PAIR —
    (nprobe/n_coarse)·n² × 2·dim doubles (≈1 GB at the sf0.1 fixture's
    1M pairs) — while the cogroup ships each vector once per LIST
    (n + n·nprobe rows, ~5 MB): the pairing happens inside numpy
    (``_cross_cosine``, the module's bit-identity rule), so every
    emitted raw cosine is bit-identical to the join+_cosine_pd value,
    and the 6-dp rounding still happens engine-side (F.round).

    The scorer also cuts each probe row to its WITHIN-LIST top-``k``
    with a provably lossless margin (``_prune``): ranks are taken on
    round6(cos) DESC (t_id tiebreak), and round6 is monotone with
    |round6(x) − x| ≤ u (u = 5e-7 + 1 ulp), so any candidate t with
    raw(t) < kth_raw − 2u has round6(t) strictly below the rounded
    scores of ≥ k same-list candidates and can never enter the global
    top-k; the scorer keeps raw ≥ kth_raw − ``_EDGE_PRUNE_MARGIN``
    (2e-6 > 2u), ties and all. Rows with any non-finite cosine
    (zero-norm vectors) skip pruning entirely — engine NaN ordering
    stays authoritative. The global per-s_id rank cut then runs as
    before (map-side partial WindowGroupLimit before the single s_id
    exchange) over ~n·nprobe·k rows instead of the full candidate-pair
    relation.

    When ``cb`` scans a bucketed-by-cid table (:func:`save_ann_index`
    with ``store_vectors=True``, re-written ``bucketBy(cid)`` at
    ingest), the member side feeds the cogroup with NO exchange at all
    — the only corpus-sized shuffles left are the probe side aligning
    to the store's bucketing and the bounded edge window
    (tests/test_plans.py asserts both counts)."""
    out_schema = _pair_schema("s_id", "t_id", cb.schema["t_id"].dataType)

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left: members (t_id, t_v, cid); right: probes (s_id, s_v, cid)
        empty = pd.DataFrame(
            {"s_id": left["t_id"][:0], "t_id": left["t_id"][:0],
             "cos_raw": pd.Series([], dtype="float64")}
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        t_id = left["t_id"].to_numpy()
        s_id = right["s_id"].to_numpy()
        out_s, out_t, out_c = [], [], []
        for sl, cos in _cross_cosine(_mat(right["s_v"]), _mat(left["t_v"])):
            for r, row in zip(range(sl.start, len(s_id)), cos):
                idx = np.nonzero(_prune(row, t_id != s_id[r], k=k))[0]
                out_s.append(np.full(len(idx), s_id[r]))
                out_t.append(t_id[idx])
                out_c.append(row[idx])
        return pd.DataFrame(
            {
                "s_id": np.concatenate(out_s),
                "t_id": np.concatenate(out_t),
                "cos_raw": np.concatenate(out_c),
            }
        )

    scored = (
        cb.groupby("cid")
        .cogroup(qb.groupby("cid"))
        .applyInPandas(score, out_schema)
        .select("s_id", "t_id", F.round(F.col("cos_raw"), 6).alias("cos"))
    )
    return _top_k(
        scored, "s_id", k, F.col("cos").desc(), F.col("t_id")
    ).select("s_id", "t_id")


def _graph_probe_side(df: DataFrame, id_col, vec_col, cents, nprobe):
    """Corpus-as-queries probe rows (s_id, s_v, cid), one per probed list."""
    return df.select(
        F.col(id_col).alias("s_id"),
        F.col(vec_col).alias("s_v"),
        ivf_probe_lists(
            F.col(vec_col), cents, nprobe, deterministic=False
        ).alias("_pl"),
    ).select("s_id", "s_v", F.explode("_pl").alias("cid"))


def knn_graph_index_sides(
    enc: DataFrame, meta: dict, nprobe: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Both sides of the corpus-as-queries candidate join, read off a
    persisted :func:`save_ann_index` layout built with
    ``store_vectors=True``: the member side (t_id, t_v, cid) is a PURE
    PROJECTION of the codes relation — cid comes from storage, no
    assignment UDF, so a bucketed-by-cid re-write of the codes feeds
    the join exchange-free — and the probe side re-derives its nprobe
    list ids from the stored vectors with the index's own coarse
    quantizer (the one Arrow stage left in the plan). Returns
    (cb, qb, ids)."""
    icol = meta.get("c_id", "vec_id")
    vcol = meta.get("c_vec", "embedding")
    if vcol not in enc.columns:
        raise ValueError(
            "knn_graph_stats(index=...) needs the raw vectors in the "
            f"codes relation (column {vcol!r} absent) — build the "
            "index with save_ann_index(..., store_vectors=True)"
        )
    ids = enc.select(F.col(icol).alias("vec_id"))
    cb = enc.select(
        F.col(icol).alias("t_id"),
        F.col(vcol).alias("t_v"),
        "cid",
    )
    qb = _graph_probe_side(enc, icol, vcol, meta["coarse_cents"], nprobe)
    return cb, qb, ids


def knn_graph_stats(
    emb: DataFrame,
    dim: int,
    k: int = 10,
    n_coarse: int = 16,
    nprobe: int = 4,
    coarse_iters: int = 3,
    sample_below: int = 256,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    index: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """kNN-graph structure audit — hubness and reciprocity of the
    corpus's own approximate nearest-neighbour graph: EVERY vector is a
    query against the IVF lists (qa2's quantizer and probe semantics),
    keeping its top-``k`` neighbours, and the audit reports

    - ``part='in_degree'``: the in-degree histogram (key = in-degree,
      n = vectors with it, zero-degree vectors included) — a heavy
      high-degree tail is HUBNESS, the classic embedding pathology
      where a few points appear in everyone's top-k and ANN recall,
      semantic dedup (qb2) and retrieval all quietly degrade;
    - ``part='pair_mult'``: undirected pair multiplicities (key 2 =
      reciprocated pairs, key 1 = one-way edges) — low reciprocity is
      the same pathology seen edge-wise, and 1·n₁ + 2·n₂ recovers the
      directed edge total.

    Both statistics are standard embedding-quality reads (Radovanović
    et al.'s hubness literature) computed here as pure relational
    passes with qa2's exact arithmetic, so the SQL oracle replays
    training, assignment, probing, scoring and both aggregates
    bit-for-bit.

    100 TB shape — the one topology the ANN family did not yet have:
    corpus-as-queries means NOTHING broadcasts; the probe side explodes
    each vector to its ``nprobe`` list ids and the candidate join is a
    cid-keyed EQUI-JOIN of two corpus-sized relations (co-partitioned
    on cid; bucketed-by-cid storage — build-ann-index — makes it
    zero-exchange). Within-list pair count is Σ|list|·|probes into it|
    ≈ (nprobe/n_coarse)·n² — the FAISS bulk-kNN-graph cost model, which
    is why ``n_coarse`` must SCALE with the corpus (nlist ~ √n keeps
    per-list work flat; tools/scaling.py's legs do exactly that, the
    qb0 n_planes discipline). The edge relation (n·k rows) is consumed
    exactly twice: once for the in-degree aggregate, once for the
    single LEAST/GREATEST pair aggregate that yields both multiplicity
    counts — reciprocity needs no self-join.

    ``index=(enc, meta)`` — the output of :func:`load_ann_index` (or
    ``spark.table`` over the same codes re-written bucketed) for an
    index built with ``store_vectors=True`` — swaps both sides onto
    the PERSISTED layout (VERDICT r13 "Next round" #2): the coarse
    quantizer comes from the index metadata (no per-invocation
    training collect), the member side's cid comes from STORAGE
    instead of a per-row assignment UDF (the plan keeps exactly one
    Arrow stage — the probe-list explode), and with the codes kept
    bucketed by cid the member side feeds the candidate join with no
    exchange at all. Training is deterministic, so the output is
    BIT-identical to the inline path given the same n_coarse /
    coarse_iters / sample_below (tests/test_similarity.py).
    """
    if index is not None:
        cb, qb, base_ids = knn_graph_index_sides(*index, nprobe=nprobe)
    else:
        cents = train_ivf_centroids(
            emb, dim, n_cents=n_coarse, n_iters=coarse_iters,
            sample_below=sample_below, id_col=c_id, vec_col=c_vec,
        )
        base_ids = emb.select(F.col(c_id).alias("vec_id"))
        cb = emb.select(
            F.col(c_id).alias("t_id"),
            F.col(c_vec).alias("t_v"),
            ivf_assign(F.col(c_vec), cents).alias("cid"),
        )
        qb = _graph_probe_side(emb, c_id, c_vec, cents, nprobe)
    edges = knn_graph_edges(cb, qb, k)
    ind = edges.groupBy(F.col("t_id").alias("vec_id")).agg(
        F.count("*").alias("d")
    )
    deg = (
        base_ids
        .join(ind, "vec_id", "left")
        .select(F.coalesce("d", F.lit(0)).alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.lit("in_degree").alias("part"),
            F.col("d").cast("bigint").alias("key"),
            "n",
        )
    )
    pair = (
        edges.select(
            F.least("s_id", "t_id").alias("a"),
            F.greatest("s_id", "t_id").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("m"))
        .groupBy("m")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.lit("pair_mult").alias("part"),
            F.col("m").cast("bigint").alias("key"),
            "n",
        )
    )
    return deg.unionByName(pair).orderBy("part", "key")
