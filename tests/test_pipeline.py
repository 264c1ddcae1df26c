"""End-to-end corpus cleaning: stage arithmetic, keeper invariants, and
that the pipeline actually removes planted duplicates."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from rastercube_spark.operators.pipeline import clean_corpus
from rastercube_spark.sources.tables import load


def test_clean_corpus_stages(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    cleaned, report = clean_corpus(docs)
    assert report["input"] == docs.count()
    assert (
        report["kept"]
        == report["input"]
        - report["dropped_exact_dup"]
        - report["dropped_near_dup"]
        - report["dropped_low_quality"]
    )
    assert report["dropped_near_dup"] > 0  # the corpus has near-dups
    assert 0 < report["kept"] <= report["input"]
    # cleaned ids are unique and a subset of the input
    assert cleaned.count() == cleaned.select("doc_id").distinct().count()


def test_clean_corpus_removes_planted_dups(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(50)
    # plant an exact dup (new id) and a whitespace variant
    base = docs.where(F.col("doc_id") == docs.first()["doc_id"])
    dup = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    planted = docs.unionByName(dup)
    cleaned, report = clean_corpus(planted)
    assert report["dropped_exact_dup"] >= 1
    kept_ids = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    assert base.first()["doc_id"] in kept_ids or report["dropped_low_quality"] > 0
    assert base.first()["doc_id"] + 100000 not in kept_ids


def test_clean_corpus_full_curation_flow(spark, sf_dir):
    """Decontamination and split assignment run after the quality gate
    (the order a real pipeline runs): the stage arithmetic extends,
    planted eval leaks are dropped, every survivor carries a split, and
    splits are deterministic."""
    docs = load(spark, sf_dir, "documents")
    # the benchmark set: 10 real docs (their near-copies in the corpus
    # are the planted leaks the decontamination stage must catch)
    eval_docs = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    cleaned, report = clean_corpus(
        docs,
        eval_docs=eval_docs,
        splits=[("train", 0.8), ("val", 0.1), ("test", 0.1)],
    )
    assert report["dropped_contaminated"] > 0  # the sources ARE in docs
    assert (
        report["kept"]
        == report["input"]
        - report["dropped_exact_dup"]
        - report["dropped_near_dup"]
        - report["dropped_low_quality"]
        - report["dropped_contaminated"]
    )
    assert sum(report["split_counts"].values()) == report["kept"]
    assert set(report["split_counts"]) <= {"train", "val", "test"}
    assert report["split_counts"].get("train", 0) > report["split_counts"].get(
        "test", 0
    )
    # split column present on every surviving row and deterministic
    rows = cleaned.select("doc_id", "split").collect()
    assert all(r["split"] in ("train", "val", "test") for r in rows)
    again, _ = clean_corpus(
        docs,
        eval_docs=eval_docs,
        splits=[("train", 0.8), ("val", 0.1), ("test", 0.1)],
    )
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, again.select("doc_id", "split").collect())
    )


def test_clean_corpus_extension_adds_no_corpus_shuffle(spark, sf_dir):
    """Relative to the 3-stage pipeline, decontamination joins the
    corpus via BROADCAST (never a corpus-side sort-merge/shuffled-hash
    anti-join) and split assignment adds ZERO exchanges: the extended
    flow introduces no corpus-wide shuffle beyond its components."""
    docs = load(spark, sf_dir, "documents").limit(120)
    eval_docs = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    base, _ = clean_corpus(docs)
    with_decon, _ = clean_corpus(docs, eval_docs=eval_docs)
    with_all, _ = clean_corpus(
        docs, eval_docs=eval_docs, splits=[("train", 0.9), ("test", 0.1)]
    )
    plan_decon = with_decon._jdf.queryExecution().executedPlan().toString()
    # the anti-join of flagged ids builds a broadcast side
    assert "LeftAnti, BuildRight" in plan_decon or (
        "BroadcastHashJoin" in plan_decon and "LeftAnti" in plan_decon
    ), plan_decon
    assert "SortMergeJoin LeftAnti" not in plan_decon
    # split assignment: identical exchange count to the non-split plan
    n_ex = lambda df: df._jdf.queryExecution().executedPlan().toString().count(
        "Exchange"
    )
    assert n_ex(with_all) == n_ex(with_decon)
    for df in (base, with_decon, with_all):
        df.unpersist()


# --- chunk_documents (qg1) ------------------------------------------------

def test_chunk_documents_window_arithmetic(spark):
    """10 tokens at max=4/stride=3 → starts 1,4,7 only: the window at
    s=7 covers tokens 7–10, so the contained s=10 start is suppressed;
    11 tokens gets the genuine short tail. stride==max
    partitions with no overlap."""
    from rastercube_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")], "doc_id long, text string"
    )
    out = sorted(
        chunk_documents(docs, max_tokens=4, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["n_tokens"] for r in out] == [4, 4, 4]
    assert out[0]["chunk"] == "t1 t2 t3 t4"
    assert out[1]["chunk"] == "t4 t5 t6 t7"   # 1-token overlap
    assert out[2]["chunk"] == "t7 t8 t9 t10"  # covers the end: no s=10
    docs11 = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(1, 12)))],
        "doc_id long, text string",
    )
    out11 = sorted(
        chunk_documents(docs11, max_tokens=4, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["n_tokens"] for r in out11] == [4, 4, 4, 2]
    assert out11[3]["chunk"] == "t10 t11"     # genuine (uncovered) tail
    flat = sorted(
        chunk_documents(docs, max_tokens=5, stride=5).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["n_tokens"] for r in flat] == [5, 5]
    assert " ".join(r["chunk"] for r in flat) == "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    gap = sorted(
        chunk_documents(docs, max_tokens=2, stride=5).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # gap chunking (stride > max) keeps starting while tokens remain
    assert [(r["n_tokens"], r["chunk"]) for r in gap] == [
        (2, "t1 t2"), (2, "t6 t7")
    ]


def test_chunk_documents_edges(spark):
    """Single-token and whitespace-heavy docs chunk by contract; NULL
    text emits nothing; bad parameters refuse."""
    import pytest as _pytest

    from rastercube_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "only"), (2, "tab\tand\nnewline words"), (3, None)],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, max_tokens=8, stride=8).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r)
    assert [r["chunk"] for r in by_id[1]] == ["only"]
    # whitespace runs normalize to single spaces on re-join
    assert by_id[2][0]["chunk"] == "tab and newline words"
    assert 3 not in by_id
    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, max_tokens=4, stride=0)
    with _pytest.raises(ValueError, match="max_tokens"):
        chunk_documents(docs, max_tokens=0, stride=4)


# --- char_langid (qg2) -----------------------------------------------------

def test_char_langid_planted_mislabel(spark):
    """Two synthetic 'languages' with disjoint trigram inventories: a
    mislabeled document lands in the off-diagonal confusion cell; NULL
    text predicts 'und'; ties in the profile and argmax are broken
    deterministically."""
    from rastercube_spark.operators.text import char_langid

    aa = "aaa aab aba baa " * 8           # language A's trigram world
    zz = "zzz zzy zyz yzz " * 8           # language B's
    docs = spark.createDataFrame(
        [
            (1, aa, "la"), (2, aa + "aab ", "la"), (3, aa, "la"),
            (4, zz, "lz"), (5, zz + "zzy ", "lz"),
            (6, zz, "la"),                # MISLABELED: B text, A label
            (7, None, "la"),              # NULL text -> und
            (8, zz, None),                # NULL label: scored, no profile
        ],
        "doc_id long, text string, lang string",
    )
    out = {(r["lang"], r["pred"]): r["n_docs"]
           for r in char_langid(docs, profile_size=10).collect()}
    assert out[("la", "la")] == 3          # the three true-A docs
    assert out[("la", "lz")] == 1          # the planted mislabel
    assert out[("la", "und")] == 1         # the NULL-text doc
    assert out[("lz", "lz")] == 2
    assert ("lz", "la") not in out
    # the NULL-label doc contributes no profile language but is still
    # predicted against the labeled profiles
    assert out[(None, "lz")] == 1
    assert sum(out.values()) == 8          # every doc in exactly one cell


# --- template_prefixes (qg3) -----------------------------------------------

def test_template_prefixes_planted_scaffold(spark):
    """A crawler banner shared by 3 of 4 docs in one source surfaces as
    the top row with the exact share; singletons are dropped by
    min_docs; prefixes never cross sources."""
    from rastercube_spark.operators.text import template_prefixes

    banner = "SITE NAV Home About Contact Login Search Cart"
    docs = spark.createDataFrame(
        [
            (1, banner + " page one body", "srcA"),
            (2, banner + " totally different text", "srcA"),
            (3, banner + " third page here", "srcA"),
            (4, "organic document with no banner", "srcA"),
            (5, banner + " page in another source", "srcB"),  # alone in B
            (6, "unique text in b", "srcB"),
            (7, None, "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    rows = template_prefixes(docs, k_tokens=8, min_docs=2, k_out=10).collect()
    assert len(rows) == 1                  # only the srcA banner repeats
    r = rows[0]
    assert r["source"] == "srcA"
    assert r["prefix"] == banner.lower()
    assert r["n_docs"] == 3 and r["frac"] == 0.75


# --- source_dup_matrix (qg4) -----------------------------------------------

def test_source_dup_matrix_planted_mirror(spark):
    """A document mirrored across two sources lands in the off-diagonal
    cell; an intra-source re-crawl lands on the diagonal; unrelated
    text produces no cell."""
    from rastercube_spark.operators.dedup import source_dup_matrix

    body = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet forest all day long ") * 3
    other = ("completely unrelated content about spark plans and "
             "shuffle boundaries nothing shared here at all ") * 3
    docs = spark.createDataFrame(
        [
            (1, body, "srcA"),
            (2, body + "tail", "srcB"),        # near-dup mirror A<->B
            (3, body + "extra tail", "srcA"),  # near-dup re-crawl in A
            (4, other, "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["src_a"], r["src_b"]): r["n_pairs"]
           for r in source_dup_matrix(docs, threshold=0.5).collect()}
    assert out[("srcA", "srcB")] >= 1      # the mirror
    assert out[("srcA", "srcA")] >= 1      # the re-crawl
    assert ("srcB", "srcB") not in out     # unrelated doc pairs with no one


# --- code_detect (qg6) -----------------------------------------------------

def test_code_detect_planted_code(spark):
    """A planted source file (symbols + indentation + keywords) flags as
    code; prose does not; NULL text is excluded; each trigger path
    (symbol∧indent, keyword-only) fires independently."""
    from rastercube_spark.operators.text import code_detect

    code = (
        "def main():\n  x = compute(1);\n  return {x: [1, 2]}\n"
        "  # comment\n  if x > 0:\n    print(x)\n"
    )
    kw_only = "the import and return of the class def was a function var"
    prose = ("it was a bright cold day in april and the clocks were "
             "striking thirteen about the town all day")
    docs = spark.createDataFrame(
        [
            (1, code, "sA"), (2, prose, "sA"), (3, None, "sA"),
            (4, kw_only, "sB"), (5, prose, "sB"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in code_detect(docs).collect()}
    assert out["sA"]["n_docs"] == 2          # NULL excluded
    assert out["sA"]["n_code"] == 1 and out["sA"]["code_frac"] == 0.5
    assert out["sB"]["n_code"] == 1          # keyword-only path


# --- dup_cluster_histogram (qg7) -------------------------------------------

def test_dup_cluster_histogram_planted_clusters(spark):
    """A 3-copy cluster, a pair, and two uniques produce the exact
    histogram rows; whitespace variants land in the same cluster
    (content_fingerprint normalization); doc counts sum to the corpus."""
    from rastercube_spark.operators.dedup import dup_cluster_histogram

    docs = spark.createDataFrame(
        [
            (1, "aaa bbb"), (2, " aaa  bbb "), (3, "AAA BBB"),  # 3-copy
            (4, "ccc"), (5, "ccc"),                             # pair
            (6, "unique one"), (7, "unique two"),
        ],
        "doc_id long, text string",
    )
    rows = {r["cluster_size"]: r for r in
            dup_cluster_histogram(docs).collect()}
    assert rows[1]["n_clusters"] == 2 and rows[1]["n_docs"] == 2
    assert rows[2]["n_clusters"] == 1 and rows[2]["n_docs"] == 2
    assert rows[3]["n_clusters"] == 1 and rows[3]["n_docs"] == 3
    assert sum(r["n_docs"] for r in rows.values()) == 7


def test_clean_corpus_emits_training_sequences(spark, sf_dir):
    """The make-sequences stage — chunk_tokens turns the pipeline
    output into training sequences: every chunk's parent survived the
    gates, token totals are consistent, each sequence inherits its
    document's split EXACTLY (split_assign re-applied to chunk rows —
    no join), and chunking adds zero shuffles beyond the document
    pipeline (plan check: no new exchange operators vs the unchunked
    flow's count, one extra Generate)."""
    docs = load(spark, sf_dir, "documents").limit(150)
    base, base_rep = clean_corpus(
        docs, splits=[("train", 0.9), ("test", 0.1)]
    )
    chunks, rep = clean_corpus(
        docs, splits=[("train", 0.9), ("test", 0.1)], chunk_tokens=32
    )
    assert rep["chunks"] == chunks.count() > 0
    rows = chunks.collect()
    assert rep["chunk_tokens"] == sum(r["n_tokens"] for r in rows)
    assert all(1 <= r["n_tokens"] <= 32 for r in rows)
    # every chunk's parent is a surviving doc, and splits match exactly
    parents = {r["doc_id"]: r["split"] for r in
               base.select("doc_id", "split").collect()}
    for r in rows:
        assert r["doc_id"] in parents
        assert r["split"] == parents[r["doc_id"]]
    # survivors with non-empty text all produced at least one chunk
    assert len({r["doc_id"] for r in rows}) == len(parents)
    # chunking adds no exchange: stack the chunk stage (chunker +
    # re-applied split expression, exactly what clean_corpus composes)
    # on the document-level output and compare UNEXECUTED plans — one
    # extra Generate (the position explode), zero extra Exchanges.
    # Unexecuted plans, because nested cached relations move the
    # "== Initial Plan ==" marker of an executed plan around depending
    # on what ran first.
    from rastercube_spark.operators.sampling import split_assign
    from rastercube_spark.operators.text import chunk_documents

    # stride differs from the chunked run above ONLY so the cache
    # manager doesn't swap this plan for the persisted chunks relation
    # (an InMemoryTableScan would hide the shape being asserted)
    ch2 = split_assign(
        chunk_documents(base, max_tokens=32, stride=25),
        [("train", 0.9), ("test", 0.1)],
        key="doc_id",
    )
    p_base = base._jdf.queryExecution().executedPlan().toString()
    p_ch2 = ch2._jdf.queryExecution().executedPlan().toString()
    assert p_ch2.count("Exchange") == p_base.count("Exchange")
    assert p_ch2.count("Generate") == p_base.count("Generate") + 1
    for df in (base, chunks):
        df.unpersist()


def test_clean_corpus_report_deterministic_under_concurrent_actions(
    spark, sf_dir
):
    """The report is a pure function of the input: two full runs with
    every optional stage enabled in one session, the second planned
    while the first one's output is still live, produce the IDENTICAL
    report dict (values and key order)."""
    docs = load(spark, sf_dir, "documents")
    eval_docs = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    kw = dict(
        eval_docs=eval_docs,
        splits=[("train", 0.8), ("val", 0.1), ("test", 0.1)],
        chunk_tokens=128,
    )
    out1, rep1 = clean_corpus(docs, **kw)
    out2, rep2 = clean_corpus(docs, **kw)
    assert rep1 == rep2
    assert list(rep1) == list(rep2)
    # key order is part of the report contract (split_counts before
    # the chunk totals, though the totals come from a second aggregate)
    assert list(rep1) == [
        "input",
        "dropped_exact_dup",
        "dropped_near_dup",
        "dropped_low_quality",
        "dropped_contaminated",
        "kept",
        "split_counts",
        "chunks",
        "chunk_tokens",
    ]
    for df in (out1, out2):
        df.unpersist()


# --- pinned reports, cache and job-group contract ----------------------------

_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
_OPTION_SETS = ("default", "eval", "eval_splits", "all")


def _options(docs, name):
    """The four option sets: each adds one optional stage to the last."""
    eval_docs = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    return {
        "default": {},
        "eval": dict(eval_docs=eval_docs),
        "eval_splits": dict(eval_docs=eval_docs, splits=_SPLITS),
        "all": dict(eval_docs=eval_docs, splits=_SPLITS, chunk_tokens=128),
    }[name]


def _planted(docs):
    """The first 60 documents plus a whitespace variant of doc 3 under a
    new id: one exact duplicate."""
    dup = docs.where(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    return docs.where(F.col("doc_id") < 60).unionByName(dup)


def _digest(df):
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16], len(rows)


def _report(dropped_near, dropped_quality, contaminated=None, splits=None,
            chunks=None, n_input=500, dropped_exact=0):
    rep = {
        "input": n_input,
        "dropped_exact_dup": dropped_exact,
        "dropped_near_dup": dropped_near,
        "dropped_low_quality": dropped_quality,
    }
    kept = n_input - dropped_exact - dropped_near - dropped_quality
    if contaminated is not None:
        rep["dropped_contaminated"] = contaminated
        kept -= contaminated
    rep["kept"] = kept
    if splits is not None:
        rep["split_counts"] = splits
    if chunks is not None:
        rep["chunks"], rep["chunk_tokens"] = chunks
    return rep


# report and (sorted-row digest, rows) of every option set, per fixture
# scale; recorded before clean_corpus was rebuilt on one decision relation
_PINNED = {
    "sf0.001": {
        "default": (_report(24, 13), ("7631a6570d338933", 463)),
        "eval": (_report(24, 13, 10), ("1b5f4271b01f3da7", 453)),
        "eval_splits": (
            _report(24, 13, 10, {"train": 369, "val": 42, "test": 42}),
            ("944d7ec86d4fa303", 453),
        ),
        "all": (
            _report(24, 13, 10, {"train": 369, "val": 42, "test": 42}, (453, 25781)),
            ("5fe78557aac63956", 453),
        ),
        "planted": (
            _report(2, 3, n_input=61, dropped_exact=1), ("f2142af9d80508b7", 55)
        ),
    },
    "sf0.01": {
        "default": (_report(24, 18), ("b7d7586c32768edb", 458)),
        "eval": (_report(24, 18, 10), ("01093f1afd559d8b", 448)),
        "eval_splits": (
            _report(24, 18, 10, {"train": 366, "val": 41, "test": 41}),
            ("10418ab0b619acc6", 448),
        ),
        "all": (
            _report(24, 18, 10, {"train": 366, "val": 41, "test": 41}, (448, 25134)),
            ("149488708424ed0b", 448),
        ),
        "planted": (
            _report(0, 3, n_input=61, dropped_exact=1), ("dbfa4cbdd6326a02", 57)
        ),
    },
}


@pytest.mark.parametrize("name", _OPTION_SETS + ("planted",))
def test_clean_corpus_pinned_report_and_rows(spark, sf_dir, name):
    """Every option set reproduces its recorded report (values, key
    order, and split_counts in the order ``splits`` names them) and its
    exact output rows."""
    pinned = _PINNED.get(os.path.basename(os.path.normpath(sf_dir)))
    if pinned is None:
        pytest.skip(f"no pinned clean_corpus record for {sf_dir}")
    docs = load(spark, sf_dir, "documents")
    if name == "planted":
        out, report = clean_corpus(_planted(docs))
    else:
        out, report = clean_corpus(docs, **_options(docs, name))
    want_report, want_rows = pinned[name]
    assert report == want_report
    assert list(report) == list(want_report)
    if "split_counts" in report:
        assert list(report["split_counts"]) == list(want_report["split_counts"])
    assert _digest(out) == want_rows
    out.unpersist()


def test_clean_corpus_absent_split_stays_absent(spark, sf_dir):
    """A split no survivor draws is left out of split_counts, never
    reported as 0."""
    docs = load(spark, sf_dir, "documents").limit(40)
    out, report = clean_corpus(docs, splits=[("train", 1.0), ("never", 0.0)])
    assert report["split_counts"] == {"train": report["kept"]}
    out.unpersist()


@pytest.mark.parametrize("name", _OPTION_SETS)
def test_clean_corpus_leaves_no_cache_and_keeps_job_group(spark, sf_dir, name):
    """Run three times in one session: after the caller unpersists the
    returned relation, the cache manager is empty again, and every job
    clean_corpus (and the caller's action on its output) started carries
    the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cache = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, sf_dir, "documents")
    spark.catalog.clearCache()
    group = f"clean-corpus-{name}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    try:
        sc.setJobGroup(group, "clean_corpus contract test")
        for _ in range(3):
            out, report = clean_corpus(docs, **_options(docs, name))
            assert out.count() == report.get("chunks", report["kept"])
            out.unpersist()
            assert cache.isEmpty()
    finally:
        sc._jsc.clearJobGroup()
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup(group)
