"""End-to-end corpus curation: the composition a training-data pipeline
actually runs — exact dedup → MinHash-LSH near-dup clusters → keeper
selection → quality filtering → (optional) benchmark decontamination →
(optional) deterministic split assignment → (optional) training-sequence
chunking.

Each stage is one of the engine's verified operators; this module only
composes them. It decides on one per-document relation: every input row
gets its drop reason (exact duplicate, near duplicate, low quality,
contaminated) or its split. One group-by over that relation yields every
report count, and the output is its surviving rows. Topology at 100 TB:
exact dedup is one shuffle of the corpus keyed on its 16-byte
fingerprint (a window min of the id, no join back); the LSH stages
shuffle signatures/bands (never text pairs); decontamination broadcasts
the eval shingle set, and the flagged ids it finds (bounded by the eval
set) are broadcast back, so the corpus is never re-shuffled
(plan-asserted in tests/test_pipeline.py); split assignment and chunking
are column expressions and a generator (zero exchanges — plan-asserted).
Nothing here materializes on the driver except the flagged ids and the
report counts. Every job runs on the caller's thread, under its job
group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StructField, StructType

from rastercube_spark.operators.dedup import (
    content_fingerprint,
    decontaminate,
    lsh_bucket_star_edges,
    minhash_signatures,
    shingles_df,
)
from rastercube_spark.operators.graph import min_label_clusters
from rastercube_spark.operators.sampling import split_assign
from rastercube_spark.operators.text import chunk_documents, quality_score


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    eval_docs: DataFrame | None = None,
    decontaminate_k: int = 5,
    splits: list[tuple[str, float]] | None = None,
    chunk_tokens: int | None = None,
    chunk_stride: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Returns (cleaned docs DataFrame, per-stage report).

    Keep rules, applied in this order: first copy (min id) of each exact
    fingerprint, keeper (min id) of each near-dup cluster, quality score
    ≥ ``min_quality``; then, when ``eval_docs`` is given, every document
    sharing any word ``decontaminate_k``-gram with the benchmark set is
    dropped (qd4/qb1's operator, run over the quality survivors only).
    When ``splits`` is given, the survivors get a leakage-safe
    deterministic ``split`` column (qd7's operator) and the report
    carries per-split counts; a split with no survivors is absent. When
    ``chunk_tokens`` is given, the output rows are TRAINING SEQUENCES
    instead of documents — each survivor chunked into fixed-size
    overlapping token windows (qg1's operator, stride defaulting to ¾ of
    the window), carrying doc_id/chunk_idx/n_tokens/chunk plus the split
    column when both are requested — and the report gains ``chunks`` and
    ``chunk_tokens`` totals.

    The decision is one per-document relation: the corpus with its
    exact-keeper and quality flags, persisted once, joined to the
    near-dup drop ids and the flagged ids. One group-by over it by
    (drop reason, split) gives every report count; the output is its
    surviving rows. The clusters and the flagged ids are materialized
    before this returns, so an action on the document output re-reads
    the corpus (one shuffle on the fingerprint) but never re-runs the
    clustering or the decontamination; the chunked output is persisted
    and already materialized by its totals. ``cleaned.unpersist()``
    after consuming it leaves nothing ``clean_corpus`` cached.
    """
    exact = F.coalesce(
        F.col(id_col) == F.min(id_col).over(Window.partitionBy("_fp")),
        F.lit(False),
    )
    decided = (
        docs.withColumn("_fp", content_fingerprint(F.col(text_col)))
        .withColumn("_exact", exact)
        .withColumn(
            "_quality",
            F.coalesce(quality_score(F.col(text_col)) >= min_quality, F.lit(False)),
        )
        .drop("_fp")
        .persist()
    )

    # near-dup clusters over the exact keepers: every member but the
    # cluster's min id is dropped. min_label_clusters is driver-iterative
    # and returns a materialized relation, so the clustering runs once.
    clusters = min_label_clusters(
        lsh_bucket_star_edges(
            minhash_signatures(
                shingles_df(decided.where("_exact"), id_col, text_col, k=3, distinct=False)
            )
        )
    )
    near = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("_near")
    )
    rel = decided.join(near, decided[id_col] == near["_near"], "left")
    drop = (
        F.when(~F.col("_exact"), "dropped_exact_dup")
        .when(F.col("_near").isNotNull(), "dropped_near_dup")
        .when(~F.col("_quality"), "dropped_low_quality")
    )
    reasons = ["dropped_exact_dup", "dropped_near_dup", "dropped_low_quality"]
    kept = rel.where(drop.isNull()).select(*docs.columns)

    if eval_docs is not None:
        # the flagged ids are bounded by the eval set (leaks, never
        # corpus-scale): collect them and broadcast them back, so the
        # corpus is joined without a shuffle and the shingle pass runs once
        flag_ids = decontaminate(
            kept, eval_docs, id_col=id_col, text_col=text_col, k=decontaminate_k
        ).select("doc_id").collect()
        flagged = F.broadcast(
            docs.sparkSession.createDataFrame(
                flag_ids,
                StructType([StructField("_flag", docs.schema[id_col].dataType)]),
            )
        )
        rel = rel.join(flagged, rel[id_col] == flagged["_flag"], "left")
        drop = drop.when(F.col("_flag").isNotNull(), "dropped_contaminated")
        reasons.append("dropped_contaminated")
        kept = kept.join(flagged, kept[id_col] == flagged["_flag"], "left_anti")

    split = F.lit(None).cast("string")
    if splits:
        # a pure column expression of the id: zero exchanges, and the
        # report's split counts and the output rows agree by construction
        rel = split_assign(rel, splits, key=id_col)
        kept = split_assign(kept, splits, key=id_col)
        split = F.col("split")

    counts = (
        rel.groupBy(drop.alias("_drop"), F.when(drop.isNull(), split).alias("split"))
        .count()
        .collect()
    )
    n = {(r["_drop"], r["split"]): r["count"] for r in counts}
    report = {"input": sum(n.values())}
    report.update({k: n.get((k, None), 0) for k in reasons})
    report["kept"] = sum(c for (d, _), c in n.items() if d is None)
    if splits:
        report["split_counts"] = {s: n[None, s] for s, _ in splits if (None, s) in n}

    if chunk_tokens is not None:
        # runs LAST so sequences inherit the document's split — chunking
        # before splitting would let one document's windows straddle
        # train/test. split_assign is a pure function of the doc id, so
        # re-applying it to the chunk rows reproduces each document's
        # split exactly, with no join back to the corpus.
        kept = chunk_documents(
            kept,
            max_tokens=chunk_tokens,
            stride=chunk_stride or max(1, (chunk_tokens * 3) // 4),
            id_col=id_col,
            text_col=text_col,
        )
        if splits:
            kept = split_assign(kept, splits, key="doc_id")
        kept = kept.persist()
        tot = kept.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t"),
        ).first()
        report["chunks"] = tot["n"]
        report["chunk_tokens"] = tot["t"]
    decided.unpersist()
    return kept, report
