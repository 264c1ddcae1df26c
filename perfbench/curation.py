"""Workload ``curation``: the LLM training-data pillar — corpus cleaning,
incremental exact dedup, near-duplicate clusters (MinHash LSH into
connected components), embedding similarity search and lexical
retrieval, on a generated corpus with planted duplicates.

Expected results come from plain-Python re-implementations of each
operator's documented definition (md5 fingerprints, the MinHash
permutations and banding, the quality score, BM25 with linear idf),
computed outside the timed window.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import defaultdict

import numpy as np

import gen
from core import Op
from spans import Tracer


# --- reference implementations ----------------------------------------------

def fingerprint(text: str) -> str:
    return hashlib.md5(re.sub(r"\s+", " ", text.lower().strip(" ")).encode()).hexdigest()


def shingles(text: str, k: int = 3) -> list[str]:
    toks = re.split(r"\s+", text.lower())
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def minhash(texts: dict[int, str]) -> dict[int, tuple[int, ...]]:
    from rastercube_spark.operators.dedup import MINHASH_PERMS, P

    a = np.array([p[0] for p in MINHASH_PERMS], dtype=np.int64)
    b = np.array([p[1] for p in MINHASH_PERMS], dtype=np.int64)
    out = {}
    for doc, text in texts.items():
        sh = shingles(text)
        if not sh:
            continue
        h = np.array([int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % P for s in sh], dtype=np.int64)
        out[doc] = tuple(int(v) for v in ((a[None, :] * h[:, None] + b[None, :]) % P).min(axis=0))
    return out


def band_keys(sig: tuple[int, ...]) -> list[tuple[int, str]]:
    from rastercube_spark.operators.dedup import N_BANDS, ROWS_PER_BAND

    return [(bd, "-".join(str(v) for v in sig[bd * ROWS_PER_BAND : (bd + 1) * ROWS_PER_BAND])) for bd in range(N_BANDS)]


def star_clusters(texts: dict[int, str]) -> dict[int, int]:
    """doc -> min reachable doc over LSH bucket-star edges; docs in no
    shared bucket are absent, as in the operator."""
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for doc, sig in minhash(texts).items():
        for key in band_keys(sig):
            buckets[key].append(doc)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        if len(members) < 2:
            continue
        for m in members:
            parent.setdefault(m, m)
        root = find(min(members))
        for m in members:
            r = find(m)
            if r != root:
                lo, hi = min(r, root), max(r, root)
                parent[hi] = lo
                root = lo
    return {d: find(d) for d in parent}


def quality(text: str) -> float:
    from rastercube_spark.operators.text import LANG_MARKERS

    n = len(text)
    toks = re.split(r"\s+", text.lower())
    stop = sum(t in LANG_MARKERS["en"] for t in toks) / max(len(toks), 1)
    punct = len(re.sub(r"[^\.,;:!\?]", "", text)) / max(n, 1)
    return round(0.2 + (0.4 if 100 <= n <= 20000 else 0.0) + (0.4 if stop > 0.01 else 0.0) + (-0.2 if punct > 0.1 else 0.0), 6)


def clean_report(texts: dict[int, str], min_quality: float = 0.3) -> dict:
    keep: dict[str, int] = {}
    for doc in sorted(texts):
        keep.setdefault(fingerprint(texts[doc]), doc)
    exact = {d: texts[d] for d in keep.values()}
    cl = star_clusters(exact)
    near = {d: t for d, t in exact.items() if cl.get(d, d) == d}
    kept = sum(quality(t) >= min_quality for t in near.values())
    return {
        "input": len(texts),
        "dropped_exact_dup": len(texts) - len(exact),
        "dropped_near_dup": len(exact) - len(near),
        "dropped_low_quality": len(near) - kept,
        "kept": kept,
    }


def bm25(texts: dict[int, str], terms: tuple[str, ...], k: int, k1: float = 1.2, b: float = 0.75) -> dict[int, tuple[int, float]]:
    """doc -> (n_terms, score) for every doc matching a term."""
    toks = {d: re.split(r"\s+", t.strip(" ").lower()) for d, t in texts.items()}
    n_docs = float(len(toks))
    avgdl = float(sum(len(v) for v in toks.values())) / n_docs
    tf = {d: {t: float(v.count(t)) for t in terms if t in v} for d, v in toks.items()}
    df = {t: float(sum(t in m for m in tf.values())) for t in terms}
    out = {}
    for d, m in tf.items():
        if not m:
            continue
        dl = float(len(toks[d]))
        total = 0.0
        for t in terms:
            if t in m:
                rar = (n_docs - df[t] + 0.5) / (df[t] + 0.5)
                total = total + rar * (m[t] * (k1 + 1.0)) / (m[t] + k1 * (1.0 - b + b * (dl / avgdl)))
            else:
                total = total + 0.0
        out[d] = (len(m), total)
    return out


def cosine(u: np.ndarray, v: np.ndarray) -> float:
    return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))


# --- workload ---------------------------------------------------------------

class Curation:
    name = "curation"

    def __init__(self, spark, work: str, seed: int, size: gen.CorpusSize):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self._expect: dict = {}

    def generate(self) -> dict:
        self.docs = gen.corpus(self.seed, self.size)
        self.texts = dict(zip(self.docs.doc_id.tolist(), self.docs.text.tolist()))
        e = gen.embeddings(self.seed, self.size)
        self.vectors, self.queries = e["vectors"], e["queries"]
        self.p_docs = os.path.join(self.work, "docs.parquet")
        self.p_vec = os.path.join(self.work, "vectors.parquet")
        self.p_q = os.path.join(self.work, "queries.parquet")
        self.p_store = os.path.join(self.work, "fp_store.parquet")
        gen.write_parquet(self.docs, self.p_docs)
        gen.write_parquet(gen.vectors_frame(self.vectors, "vec_id", "embedding"), self.p_vec)
        gen.write_parquet(gen.vectors_frame(self.queries, "q_id", "q_vec"), self.p_q)
        return {
            "docs": len(self.docs),
            "docs_mb": round(self.docs.text.str.len().sum() / 2**20, 2),
            "vectors": len(self.vectors),
            "vectors_mb": round(self.vectors.nbytes / 2**20, 2),
        }

    def build(self, tracer: Tracer) -> None:
        """The incremental-dedup fingerprint store of the first half of
        the corpus, in exact_dedup's output layout."""
        import pandas as pd

        half = len(self.docs) // 2
        fps: dict[str, list[int]] = {}
        for d in sorted(self.texts):
            if d < half:
                fps.setdefault(fingerprint(self.texts[d]), []).append(d)
        gen.write_parquet(
            pd.DataFrame(
                {
                    "fingerprint": list(fps),
                    "keeper_doc_id": [min(v) for v in fps.values()],
                    "n_copies": [len(v) for v in fps.values()],
                }
            ),
            self.p_store,
        )

    def _cached(self, key, fn):
        if key not in self._expect:
            self._expect[key] = fn()
        return self._expect[key]

    def make_pass(self, k: int) -> list[Op]:
        """Pass ``k`` of the loop; pass 0 is the warm-up's source and
        holds every op type."""
        rng = np.random.default_rng([self.seed, 8, k])
        # terms of similar document frequency, so bm25 calls cost alike
        vocab_terms = [f"w{i}" for i in range(20, 80)]
        # Every pass holds the same five op types, so passes cost alike.
        # Latency blocks: incremental_dedup and bm25_topk below,
        # near_dup_clusters in the middle, so the median falls on it;
        # lsh_knn and clean_corpus above, clean_corpus the slowest, so
        # the tail percentile (run.TAIL_PCT) falls on it.
        ops = [
            self._clean(),
            self._lsh_knn(),
            self._clusters(int(rng.integers(0, 2))),
            self._incremental(k % 3),
            self._bm25(tuple(str(t) for t in rng.choice(vocab_terms, 3, replace=False))),
        ]
        rng.shuffle(ops)
        return ops

    def _docs(self):
        return self.spark.read.parquet(self.p_docs)

    def _storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def _clean(self) -> Op:
        def run(tr: Tracer):
            from rastercube_spark.operators.pipeline import clean_corpus

            with tr.span("pipeline.construct"):
                cleaned, report = clean_corpus(self._docs())
            with tr.span("pipeline.execute"):
                n = cleaned.count()
            cleaned.unpersist()
            if tr.enabled:
                op.meta["cached_mb_after"] = self._storage_mb()
            return report, n

        def check(out) -> bool:
            exp = self._cached("clean", lambda: clean_report(self.texts))
            report, n = out
            return dict(report) == exp and n == exp["kept"]

        op = Op("clean_corpus", run, check)
        return op

    def _incremental(self, part: int) -> Op:
        from pyspark.sql import functions as F

        half = len(self.docs) // 2

        def run(tr: Tracer):
            from rastercube_spark.operators.dedup import incremental_dedup

            with tr.span("dedup.construct"):
                batch = self._docs().where((F.col("doc_id") >= half) & (F.col("doc_id") % 3 == part))
                df = incremental_dedup(batch, self.spark.read.parquet(self.p_store))
            with tr.span("dedup.execute"):
                return sorted((r["fingerprint"], r["keeper_doc_id"], r["n_batch_copies"]) for r in df.collect())

        def expected():
            store = {fingerprint(t) for d, t in self.texts.items() if d < half}
            out: dict[str, list[int]] = {}
            for d in sorted(self.texts):
                if d >= half and d % 3 == part:
                    fp = fingerprint(self.texts[d])
                    if fp not in store:
                        out.setdefault(fp, []).append(d)
            return sorted((fp, min(ds), len(ds)) for fp, ds in out.items())

        return Op("incremental_dedup", run, lambda out: out == self._cached(("incr", part), expected))

    def _clusters(self, parity: int) -> Op:
        from pyspark.sql import functions as F

        def run(tr: Tracer):
            from rastercube_spark.operators.dedup import lsh_bucket_star_edges, minhash_signatures, shingles_df
            from rastercube_spark.operators.graph import min_label_clusters

            with tr.span("dedup.construct"):
                docs = self._docs().where(F.col("doc_id") % 2 == parity)
                edges = lsh_bucket_star_edges(minhash_signatures(shingles_df(docs, "doc_id", "text", distinct=False)))
            with tr.span("graph.cc"):
                df = min_label_clusters(edges)
            with tr.span("graph.execute"):
                return {r["doc_id"]: r["cluster_id"] for r in df.collect()}

        def expected():
            return star_clusters({d: t for d, t in self.texts.items() if d % 2 == parity})

        return Op("near_dup_clusters", run, lambda out: out == self._cached(("cc", parity), expected))

    def _vectors(self):
        return self.spark.read.parquet(self.p_vec)

    def _lsh_knn(self) -> Op:
        k = 10
        src = gen.embeddings(self.seed, self.size)["query_src"]

        def run(tr: Tracer):
            from rastercube_spark.operators.similarity import lsh_knn

            with tr.span("similarity.construct"):
                df = lsh_knn(self.spark.read.parquet(self.p_q), self._vectors(), self.size.dim, k=k)
            with tr.span("similarity.execute"):
                return [(r["q_id"], r["vec_id"], r["cosine"], r["rank"]) for r in df.collect()]

        def check(out) -> bool:
            by_q: dict[int, list] = defaultdict(list)
            for q, v, c, r in out:
                if abs(c - cosine(self.queries[q], self.vectors[v])) > 1.5e-6:
                    return False
                by_q[q].append((r, c, v))
            for rows in by_q.values():
                rows.sort()
                if [r for r, _, _ in rows] != list(range(1, len(rows) + 1)) or len(rows) > k:
                    return False
                if [c for _, c, _ in rows] != sorted((c for _, c, _ in rows), reverse=True):
                    return False
            # the seeded source vector is the near-certain nearest neighbour
            top1 = {q: rows[0][2] for q, rows in by_q.items()}
            found = sum(top1.get(q) == int(s) for q, s in enumerate(src))
            return found >= 0.9 * len(src)

        op = Op("lsh_knn", run, check)
        op.meta["results"] = k * len(src)
        return op

    def _bm25(self, terms: tuple[str, ...]) -> Op:
        k = 20

        def run(tr: Tracer):
            from rastercube_spark.operators.text import bm25_topk

            with tr.span("text.construct"):
                df = bm25_topk(self._docs(), terms, k=k)
            with tr.span("text.execute"):
                return [(r["doc_id"], r["n_terms"], r["score"]) for r in df.collect()]

        def check(out) -> bool:
            exp = bm25(self.texts, terms, k)
            ranked = sorted(exp.items(), key=lambda kv: (-round(kv[1][1], 6), kv[0]))
            if len(out) != min(k, len(ranked)):
                return False
            floor = round(ranked[len(out) - 1][1][1], 6) if out else 0.0
            return all(
                d in exp and n == exp[d][0] and abs(s - exp[d][1]) <= 1e-6 and s >= floor - 1e-6
                for d, n, s in out
            ) and [s for _, _, s in out] == sorted((s for _, _, s in out), reverse=True)

        return Op("bm25_topk", run, check)
