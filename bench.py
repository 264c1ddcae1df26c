"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The printed line is deliberately COMPACT and kept under ~1.9 KB: the
driver's per-round artifact records only the last 2000 characters of
stdout, and round 9's full line outgrew that window (BENCH_r09.json
carries parsed=null and a tail that starts mid-JSON — the round's
per-query numbers survived only by hand-reading the truncated tail).
The full artifact — env note, per-query wall-clock intervals, CPU
accounting — is written to BENCH_DETAIL.json next to this script on
every run, so the driver's own run leaves the complete record in the
worktree; the compact line carries the queries dict plus two booleans
(env.idle_ok, env.clean_end) that summarize the run's admissibility.

Methodology (VERDICT r05 "Next round" #1 — the r05 single-sample run on
a loaded box produced +30-64% ghost regressions on provably-unchanged
code):

- each query: 1 warm run (JIT, shuffle files, broadcast warmup), then
  the MEDIAN of 3 timed runs — robust to a single noisy sample;
- load average is checked at start; if the 1-minute load exceeds
  LOAD_IDLE_MAX the JSON carries a "load_warning" so a contended run
  can never again masquerade as a regression;
- the artifact also records END-of-run loadavg, a per-query wall-clock
  interval ("query_clock"), and whole-box vs own-process-tree CPU
  accounting ("external_load") — r9's start-only loadavg left a
  mid-run external 32-core burst invisible post-hoc (VERDICT r9
  "what's wrong" #1: the driver artifact read qc0 at 2.1× two clean
  records and nothing in the artifact could adjudicate it). The CPU
  accounting is the strong signal: /proc/stat busy jiffies minus this
  process tree's own CPU = CPU burned by OTHER processes during the
  run, attributable to specific queries via query_clock;
- queries execute via the noop sink — full plan execution (scan →
  shuffle → agg/join/window/UDF) without driver-side collection, so
  timings measure the engine, not result transfer;
- LOOP_INCLUSIVE queries (qb2: driver-iterative connected-components,
  where plan CONSTRUCTION runs the localCheckpoint'd loop) are timed
  end-to-end per sample — query-function call + noop sink — because the
  noop sink alone would only measure the final labels plan (the r05
  exclusion, now metered correctly instead of excluded);
- CONTAMINATED-WINDOW RETRY (VERDICT r12 "Next round" #2): a query
  whose own wall-clock window absorbed significant external+steal CPU
  (r12: q98's window alone took 158.7 ext + 218.1 steal CPU-s and the
  round burned three adjudications arguing the resulting medians) is
  RE-QUEUED at the end of the run for a fresh median; the detail row
  carries both windows under "contaminated_retry" and the reported
  timing comes from the cleaner window. The instrument acts on
  contamination in-run instead of merely recording it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

N_SAMPLES = 3
# Variance escalation (VERDICT r11 "what's wrong" #2: two clean-flagged
# records from the same session differed 13% on the common-57 sum and
# ~30% on individual sub-second queries — single-shot-per-query medians
# of 3 are below the instrument's noise floor). When the 3 base samples
# disagree by more than SPREAD_MAX of their median, take extra samples
# (up to N_SAMPLES_MAX total) and median over all of them; the per-query
# reps/spread land in BENCH_DETAIL.json so a wobble's adjudication can
# read the dispersion instead of arguing from cross-record bounds.
N_SAMPLES_MAX = 7
SPREAD_MAX = 0.15
# Idle gate (VERDICT r8 "what's wrong" #2): the r8 run started at 1-min
# loadavg 0.84 but 5-min 6.25 — the box was heavily busy MINUTES before,
# and frozen-code queries ghosted +30-67%. The 1-min average alone
# cannot see a just-ended burst (cache/page eviction, cgroup throttle
# decay), so the gate requires BOTH a calm last minute and a calm last
# five.
LOAD_IDLE_MAX = 1.0
LOAD_IDLE_MAX_5 = 1.5

# A representative slice of the surface: scans, sort-merge + broadcast
# joins, hash agg, windows, top-k, QA decode, grouped-map UDF, raster
# window read, minhash-LSH dedup, brute-force + LSH kNN, text metrics.
HEADLINE = [
    "q01_scan_count",
    "q02_project_filter",
    "q12_sort_merge_join",
    "q20_tpch_q1_agg",
    "q21_count_distinct",
    "q18_copartitioned_zip",
    "q30_ranking",
    "q33_running_total",
    "q40_global_topk",
    "q63_qa_bitops",
    "q81_grouped_map_udf",
    "qr01_windowed_read_fill",
    "q70_tumbling_window",
    "qr06_cube_window_agg",
    "qr07_resample_downsample",
    "q90_text_metrics",
    "q92_minhash_lsh_pairs",
    "q93_lsh_jaccard",
    "q95_simhash",
    "q96_knn_bruteforce",
    "q97_lsh_knn",
    "q99_winnow_fingerprint",
    # round 4 additions: bucketed range join, all-pairs cosine, IVF kNN,
    # multimodal frame fan-out + media-features kNN (headline_total is
    # therefore not directly comparable to rounds <= 3, which ran 22
    # queries; per-query timings are)
    "q19_range_join",
    "q98_cosine_pairs_topk",
    "qa2_ivf_knn",
    "qa8_frame_sample",
    "qa9_media_knn",
    # round 5 additions: LSH-bucketed cosine pair search (the registered
    # scale path for q98's all-pairs formulation) and the broadcast
    # n-gram decontamination pass
    "qb0_cosine_pairs_lsh",
    "qb1_decontaminate",
    # round 6: semantic dedup, metered loop-inclusively (see module
    # docstring) — the r05 exclusion resolved with the right meter
    "qb2_semantic_dedup",
    # round 6 additions: deterministic mixture sampling, passage-level
    # dedup, quality-rule gate, SQ8+ADC quantized kNN, stream-static
    # enrichment join, stream-stream interval join (batch forms)
    "q75_stream_static_join",
    "q76_stream_stream_join",
    "qb3_mixture_sample",
    "qb4_passage_dedup",
    "qb5_quality_rules",
    "qb6_quantized_knn",
    # fixed-size per-group sample (two-level top-k) and fractional
    # upsampling (broadcast + map-side explode)
    "qb7_group_sample",
    "qb8_mixture_upsample",
    # dataset-card rollup report; cluster-balanced sampling (the qb0 →
    # CC → group-sample composition; loop-inclusive like qb2)
    "qb9_dataset_report",
    "qc0_balanced_sample",
    # round 7 additions: incremental fingerprint-store dedup (anti-join)
    # and temperature-flattened mixture sampling (rates computed from
    # corpus counts, engine-side)
    "qd1_incremental_dedup",
    "qd2_temperature_mixture",
    # kNN label-consistency probe (embedding-quality report)
    "qd3_knn_label_consistency",
    # near-dup decontamination (minhash-banded, eval bands broadcast)
    "qd4_neardup_decontaminate",
    # corpus-snapshot token-drift report (one-pass conditional sums)
    "qd5_token_drift",
    "qd6_ngram_novelty",
    "qd7_split_assign",
    # round 9 additions: the rest of the raster pillar (the reference's
    # core surface) so its per-round trajectory is recorded like the
    # relational/datapipe families — polygon mask, availability/
    # incremental/date-coverage catalog joins, nearest-gather
    # reprojection, chunk checksum, and the zonal-stats family
    # (headline_total therefore grows vs rounds ≤ 8; per-query timings
    # stay comparable, and tools/bench_compare.py diffs on the common
    # subset)
    # snapshot-overlap audit (MinHash corpus sketches + exact anchor)
    "qd8_snapshot_overlap",
    # round 11 additions: quality-aware dedup keeper selection (landed
    # late in r10 after that round's clean records were committed —
    # docs/PERF_NOTES.md r10 addendum) and the per-label embedding-
    # centroid drift monitor (Summarizer vector aggregation)
    "qd9_dedup_keep_best",
    "qe0_embedding_drift",
    # doc-level cross-snapshot containment (qd6's topology, qd8's
    # drill-down)
    "qe1_containment_audit",
    # PQ+ADC shortlist / exact-refine ANN (loop-inclusive below:
    # codebook training runs at construction)
    "qe2_pq_knn",
    "qr02_polygon_mask",
    "qr03_availability_semi_join",
    "qr04_incremental_anti_join",
    "qr05_date_coverage",
    "qr08_reproject_nearest",
    "qr09_chunk_checksum",
    "q26_zonal_stats",
    "q27_argmax_gather",
    "q28_zonal_percentile",
    # this session's additions: cross-source passage overlap, per-label
    # embedding outliers, BM25 lexical top-k, time-bounded streaming
    # dedup (batch form)
    "qe3_source_overlap",
    "qe4_embedding_outliers",
    "qe5_bm25_topk",
    "q77_dedup_within_watermark",
    # round 12 additions: IVF×PQ composed ANN (loop-inclusive below:
    # both quantizers train at construction), per-dimension embedding
    # diagnostics, corpus-relative unigram typicality, and the
    # sequence-length histogram
    "qf0_ivfpq_knn",
    "qf1_embedding_dim_stats",
    "qf2_token_surprisal",
    "qf3_length_histogram",
    # r12 session 2: hybrid BM25+cosine RRF, boilerplate n-gram share,
    # and the ANN index-build audit (loop-inclusive below: both
    # quantizers train at construction)
    "qf4_hybrid_rrf",
    "qf5_boilerplate_ngrams",
    "qf6_ann_index_audit",
    # r12 session 3: suffix-array-style repeated-substring audit,
    # per-source histogram-threshold token-budget selection, and the
    # sampled-pair corpus duplicate-rate estimator
    "qf7_repeated_spans",
    "qf8_token_budget",
    "qf9_dup_rate_estimate",
    # embedding-space eval-set decontamination (map-only; eval matrix
    # collected at construction, so the timed sample includes it)
    "qg0_semantic_decontaminate",
    # fixed-window document chunking (map-only position explode)
    "qg1_chunk_documents",
    # round 13 additions: corpus-learned char-trigram language ID
    # (train/score double pass + broadcast profile), per-source template
    # prefixes (map-only + TakeOrdered), and the near-dup source-pair
    # matrix (q92/q93 machinery + keyed source attribution)
    "qg2_char_langid",
    "qg3_template_prefixes",
    "qg4_source_dup_matrix",
    # exact per-source score quartiles via the qf8 histogram plan
    "qg5_source_score_percentiles",
    # code-vs-prose share (map-only signals) and the duplicate-cluster
    # size histogram (q91's fingerprint shuffle + tiny histogram)
    "qg6_code_detect",
    "qg7_dup_cluster_histogram",
    # kNN-graph hubness/reciprocity audit (corpus-as-queries cid
    # equi-join; loop-inclusive below: the coarse quantizer trains at
    # construction)
    "qg8_knn_graph_stats",
    # round 14: the end-to-end curation pipeline as ONE benched artifact
    # (VERDICT r13 "Next round" #7) — exact dedup → LSH near-dup →
    # quality gate → decontaminate → split → chunk, the composition a
    # real curation run executes (each stage is oracle-gated on its own
    # registry query; the composite is bench-only). Loop-inclusive: the
    # per-stage report counts execute at construction.
    "pipeline_clean_corpus",
]


def _pipeline_clean_corpus(spark, sf_dir):
    """The clean_corpus composite over the documents table: eval set =
    10 corpus docs re-keyed (their in-corpus near-copies are the leaks
    the decontamination stage must catch — the test_pipeline fixture
    convention), 80/10/10 split, 128-token chunking. Returns the
    training-sequence DataFrame; stage counts run during construction."""
    from pyspark.sql import functions as F

    from rastercube_spark.operators.pipeline import clean_corpus
    from rastercube_spark.sources.tables import load

    # drop persisted intermediates left by the previous timed sample of
    # THIS composite (clean_corpus persists two stage boundaries)
    spark.catalog.clearCache()
    docs = load(spark, sf_dir, "documents")
    eval_docs = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    cleaned, _report = clean_corpus(
        docs,
        eval_docs=eval_docs,
        splits=[("train", 0.8), ("val", 0.1), ("test", 0.1)],
        chunk_tokens=128,
    )
    return cleaned


COMPOSITES = {"pipeline_clean_corpus": _pipeline_clean_corpus}

# Driver-iterative queries: the query function itself executes work
# (eager localCheckpoint loop), so each timed sample must include the
# function call, not just the noop sink of the returned plan.
LOOP_INCLUSIVE = {"qb2_semantic_dedup", "qc0_balanced_sample",
                  "qe2_pq_knn", "qf0_ivfpq_knn", "qf6_ann_index_audit",
                  "qg8_knn_graph_stats", "pipeline_clean_corpus",
                  # r14: qb0's gated LUT rescore collects the (id, vec)
                  # matrix at plan-construction time (bounded by the
                  # 32 MB fetch-broadcast gate) — time the construction
                  # too so that collect stays inside the measured
                  # window (strictly MORE inclusive than the r13
                  # methodology for this query).
                  "qb0_cosine_pairs_lsh"}

# Contaminated-window retry thresholds (VERDICT r12 #2): a query window
# is contaminated when OTHER processes (ext) plus the hypervisor (steal)
# burned more than CONTAM_FRAC of the window's box CPU capacity AND more
# than CONTAM_MIN_CPU_S absolute — the absolute floor keeps sub-second
# windows from retrying on scheduler noise, the fraction keeps long
# windows honest (r12's q98 window: 377 CPU-s over ~60 s on 32 cores =
# 20% of capacity; the r12 threshold debate would have auto-settled).
CONTAM_FRAC = 0.05
CONTAM_MIN_CPU_S = 5.0
RETRY_MAX = 8  # bound the tail pass so a busy co-tenant can't double the run


def _env_note() -> dict:
    """Record the run conditions next to the numbers so cross-round
    deltas inside the documented ±30% local-noise band stop consuming
    review attention (VERDICT r04 'Bench hygiene'): load average at
    start is the strongest confounder on a shared 32-core box."""
    import platform

    from rastercube_spark.session import local_cores

    note = {
        "python": platform.python_version(),
        "cpus": str(local_cores()),
    }
    try:
        import pyspark

        note["pyspark"] = pyspark.__version__
    except ImportError:
        pass
    try:
        la = [round(x, 2) for x in os.getloadavg()]
        note["loadavg_start"] = la
        note["idle_gate"] = {
            "1min": {"value": la[0], "max": LOAD_IDLE_MAX, "ok": la[0] < LOAD_IDLE_MAX},
            "5min": {"value": la[1], "max": LOAD_IDLE_MAX_5, "ok": la[1] < LOAD_IDLE_MAX_5},
            "15min": {"value": la[2], "max": None, "ok": None},  # recorded, not gated
        }
        if la[0] >= LOAD_IDLE_MAX or la[1] >= LOAD_IDLE_MAX_5:
            note["load_warning"] = (
                f"loadavg {la} at start fails the idle gate "
                f"(1-min < {LOAD_IDLE_MAX} AND 5-min < {LOAD_IDLE_MAX_5}): "
                "box is not provably idle; treat deltas vs prior rounds "
                "as unreliable"
            )
    except OSError:
        pass
    note["samples"] = N_SAMPLES
    note["samples_max"] = N_SAMPLES_MAX
    note["spread_max"] = SPREAD_MAX
    note["stat"] = "median"
    return note


def _rel_spread(samples: list[float]) -> float:
    """(max - min) / median — the per-query dispersion statistic the
    detail artifact records. Relative, so a 30 ms wobble on a 100 ms
    query reads as 0.3 while the same wobble on a 3 s query reads as
    0.01."""
    med = statistics.median(samples)
    if med <= 0:
        return 0.0
    return (max(samples) - min(samples)) / med


def _sample_until_stable(run_once) -> list[float]:
    """N_SAMPLES timed runs, escalating one at a time (to N_SAMPLES_MAX)
    while the relative spread exceeds SPREAD_MAX. The caller medians the
    full list: with 7 samples the median is robust to 3 contaminated
    ones, vs 1 of 3 before."""
    samples: list[float] = []
    for _ in range(N_SAMPLES):
        t0 = time.perf_counter()
        run_once()
        samples.append(time.perf_counter() - t0)
    while len(samples) < N_SAMPLES_MAX and _rel_spread(samples) > SPREAD_MAX:
        t0 = time.perf_counter()
        run_once()
        samples.append(time.perf_counter() - t0)
    return samples


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


LINE_BUDGET = 1900  # the driver keeps the LAST 2000 chars of stdout
# Full record lands here (module constant so tests can redirect it
# instead of clobbering the round's committed record)
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)


def _short_keys(queries: dict) -> dict | None:
    """Map each query name to its unique id prefix (the part before the
    first underscore: q01_scan_count → q01). Returns None if two names
    share a prefix — the caller must then keep full names."""
    out = {}
    for k, v in queries.items():
        p = k.split("_", 1)[0]
        if p in out:
            return None
        out[p] = v
    return out


def _compact_line(full: dict) -> str:
    """The one stdout line, bounded under LINE_BUDGET: metric, value,
    queries, sf, plus two admissibility booleans and the detail-file
    pointer. Over budget it sheds the summary fields — never the
    queries dict, which is what the driver's artifact exists to carry
    (a too-long line is truncated from the FRONT, losing metric/value
    first — the r9 failure mode)."""
    env = full.get("env", {})
    idle_ok = bool(
        env.get("idle_gate", {}).get("1min", {}).get("ok")
        and env.get("idle_gate", {}).get("5min", {}).get("ok")
    )
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": full["queries"],
        "sf": full["sf"],
        "env": {
            "idle_ok": idle_ok,
            "clean_end": env.get("external_load", {}).get("clean_end"),
        },
        "detail": "BENCH_DETAIL.json",
    }
    if env.get("contaminated_retries"):
        compact["env"]["retried"] = env["contaminated_retries"]
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > LINE_BUDGET:
        # Degrade order (r12 — at 69 queries even 2-dp full names
        # saturate the window, and the OLD order shed the env
        # admissibility booleans first while keeping a third decimal
        # nobody adjudicates on): (1) coarser per-query precision,
        # (2) shorten query keys to their unique id prefix
        # (q01_scan_count → q01; marked with "keys":"id" so the loss
        # is loud — full names live in BENCH_DETAIL.json, and
        # tools/bench_compare.py normalizes both sides), (3) shed the
        # detail pointer and env booleans, (4) drop whole query entries
        # from the END, recording how many were elided (ADVICE r10 —
        # without this the line would truncate from the FRONT again,
        # the exact r9 failure).
        compact["queries"] = {
            k: round(v, 2) for k, v in compact["queries"].items()
        }
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > LINE_BUDGET:
        short = _short_keys(compact["queries"])
        if short is not None:
            compact["queries"] = short
            compact["keys"] = "id"
            line = json.dumps(compact, separators=(",", ":"))
    if len(line) > LINE_BUDGET:
        compact.pop("detail", None)
        compact.pop("env", None)
        line = json.dumps(compact, separators=(",", ":"))
        while len(line) > LINE_BUDGET and compact["queries"]:
            dropped = list(compact["queries"])[-1]
            del compact["queries"][dropped]
            compact["queries_elided"] = (
                compact.get("queries_elided", 0) + 1
            )
            compact["detail"] = "BENCH_DETAIL.json"
            line = json.dumps(compact, separators=(",", ":"))
    return line


def _box_busy_cpu_s() -> float | None:
    """Whole-box busy CPU seconds since boot (/proc/stat first line:
    user+nice+system+irq+softirq+steal), all processes included.
    Fields 9-10 (guest, guest_nice) are EXCLUDED: the kernel already
    folds guest time into user/nice, so summing them double-counts VM
    CPU and would falsely taint ``clean_end`` on a box hosting VMs
    (ADVICE r10)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        busy = sum(vals[:8]) - vals[3] - (vals[4] if len(vals) > 4 else 0)
        return busy / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


def _steal_cpu_s() -> float | None:
    """Hypervisor steal seconds since boot (/proc/stat cpu field 8) —
    co-tenant VM load, the one external-CPU class the process-tree
    accounting cannot attribute to an in-guest process."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


def _cpu_mhz() -> float | None:
    """Mean current core frequency (/proc/cpuinfo) — cross-session
    throughput drift on unchanged code tracks frequency/thermal state,
    which neither loadavg nor CPU accounting can see."""
    try:
        freqs = []
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("cpu MHz"):
                    freqs.append(float(line.split(":")[1]))
        return round(sum(freqs) / len(freqs), 0) if freqs else None
    except (OSError, ValueError, ZeroDivisionError):
        return None


def _ignores_sigchld(pid: int) -> bool:
    """True when ``pid`` ignores SIGCHLD, so the kernel reaps its children
    and their CPU never reaches its cutime."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("SigIgn:"):
                    return bool(int(line.split()[1], 16) >> 16 & 1)
    except (OSError, ValueError, IndexError):
        pass
    return False


# PySpark's daemon.py ignores SIGCHLD, and Spark kills a Python worker
# after a minute idle, so a dead worker's CPU would drop out of the tree
# total. Children of SIGCHLD-ignoring parents are remembered at their
# last-seen CPU, keyed by (pid, start time) so a reused pid is a new
# entry; once one is gone its ticks move to _autoreaped_gone_ticks.
_autoreaped_live: dict[tuple[int, str], int] = {}
_autoreaped_gone_ticks = 0


def _proc_tree_cpu_s() -> float | None:
    """CPU seconds consumed by THIS process and every live descendant
    (the Spark JVM and its Python workers), plus each one's already-
    reaped children (cutime/cstime — dead workers roll up into their
    parent, so nothing is double-counted: cutime covers only waited-on
    children, live ones report their own utime), plus the last-seen CPU
    of dead children whose parent ignored SIGCHLD."""
    global _autoreaped_live, _autoreaped_gone_ticks
    tck = os.sysconf("SC_CLK_TCK")
    seen: set[int] = set()
    autoreaped: dict[tuple[int, str], int] = {}
    queue = [os.getpid()]
    total = 0
    try:
        while queue:
            pid = queue.pop()
            if pid in seen:
                continue
            seen.add(pid)
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                # fields[11..14] = utime stime cutime cstime, fields[1] =
                # ppid, fields[19] = start time (1-indexed 14-17, 4 and
                # 22 of the full line; the comm field may contain spaces,
                # hence the rsplit on ')')
                ticks = sum(int(x) for x in fields[11:15])
                total += ticks
                if _ignores_sigchld(int(fields[1])):
                    autoreaped[(pid, fields[19])] = ticks
                for task in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{task}/children") as f:
                        queue.extend(int(c) for c in f.read().split())
            except (OSError, ValueError, IndexError):
                continue  # pid raced away mid-walk
        _autoreaped_gone_ticks += sum(
            t for k, t in _autoreaped_live.items() if k not in autoreaped
        )
        _autoreaped_live = autoreaped
        return (total + _autoreaped_gone_ticks) / tck
    except OSError:
        return None


def _timed_window(name, fn, spark, sf_dir) -> tuple[float, dict]:
    """One warm run + median-of-samples measurement for a single query,
    with its own counter-delta window (box/tree/steal CPU sampled at
    entry and exit, so external CPU is attributed to exactly this
    query's wall-clock)."""
    w_box, w_tree, w_steal = (
        _box_busy_cpu_s(), _proc_tree_cpu_s(), _steal_cpu_s(),
    )
    q_t0 = time.time()
    if name in LOOP_INCLUSIVE:
        _noop(fn(spark, sf_dir))  # warm (JIT, shuffle files)
        # construction runs the loop, so time the call too
        samples = _sample_until_stable(lambda: _noop(fn(spark, sf_dir)))
    else:
        df = fn(spark, sf_dir)
        _noop(df)  # warm
        samples = _sample_until_stable(lambda: _noop(df))
    clock = {
        "t0": round(q_t0, 2),
        "t1": round(time.time(), 2),
        "reps": len(samples),
        "samples": [round(s, 3) for s in samples],
        "spread": round(_rel_spread(samples), 3),
    }
    q_box, q_tree, q_steal = (
        _box_busy_cpu_s(), _proc_tree_cpu_s(), _steal_cpu_s(),
    )
    if None not in (w_box, q_box, w_tree, q_tree):
        clock["ext_cpu_s"] = round(
            max(0.0, (q_box - w_box) - (q_tree - w_tree)), 1
        )
    if None not in (w_steal, q_steal):
        clock["steal_s"] = round(max(0.0, q_steal - w_steal), 1)
    return statistics.median(samples), clock


def _window_foreign_cpu_s(clock: dict) -> float:
    return clock.get("ext_cpu_s", 0.0) + max(0.0, clock.get("steal_s", 0.0))


def _window_contaminated(clock: dict) -> bool:
    """True when the window absorbed enough foreign CPU (other
    processes + hypervisor steal) that its median can't be trusted:
    over CONTAM_MIN_CPU_S absolute AND over CONTAM_FRAC of the
    window's whole-box CPU capacity."""
    foreign = _window_foreign_cpu_s(clock)
    wall = max(clock.get("t1", 0.0) - clock.get("t0", 0.0), 1e-9)
    capacity = wall * (os.cpu_count() or 1)
    return foreign > CONTAM_MIN_CPU_S and foreign > CONTAM_FRAC * capacity


def _wait_for_idle(max_wait_s: float = 900.0) -> float:
    """Bounded wait for BOTH the 1-minute loadavg to decay below
    LOAD_IDLE_MAX and the 5-minute below LOAD_IDLE_MAX_5 before timing
    anything — the r5 bench ran seconds after other 32-core work and
    recorded +30-64% ghost regressions on unchanged code; the r8 bench
    passed a 1-min-only gate minutes after sustained load (5-min 6.25)
    and ghosted again. The bound is longer than r8's (a 5-min average
    of 6 needs ~7 minutes to decay under 1.5 on an idle box) but still
    bounded so a driver schedule can never hang; if it expires the
    load_warning in the env note flags the run."""
    t0 = time.time()
    streak = 0
    while time.time() - t0 < max_wait_s:
        try:
            la = os.getloadavg()
            if la[0] < LOAD_IDLE_MAX and la[1] < LOAD_IDLE_MAX_5:
                # debounce: require the gate to hold on two consecutive
                # reads 15 s apart — a burst arriving in the instant
                # after a single passing read otherwise starts a run
                # whose own env note must immediately disclaim it
                # (observed r9: gate passed, loadavg 2.59 ten ms later)
                streak += 1
                if streak >= 2:
                    break
            else:
                streak = 0
        except OSError:
            break
        time.sleep(15)
    return round(time.time() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    waited = _wait_for_idle()
    env = _env_note()
    if waited:
        env["idle_wait_s"] = waited

    from rastercube_spark import registry
    from rastercube_spark.session import get_spark

    spark = get_spark("rastercube-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    run_t0 = time.time()
    box_cpu0 = _box_busy_cpu_s()
    tree_cpu0 = _proc_tree_cpu_s()
    steal0 = _steal_cpu_s()
    env["cpu_mhz_start"] = _cpu_mhz()

    timings: dict[str, float] = {}
    query_clock: dict[str, dict] = {}
    # Per-query external-CPU attribution (r10's run-LEVEL accounting
    # could say "28 CPU-s went elsewhere" but not WHERE — the q12
    # adjudication in docs/PERF_NOTES.md r11 had to argue from bounds.
    # Sampling the same three counters at every query window's entry and
    # exit turns that class of question into a direct read: ext_cpu_s is
    # the CPU other processes burned INSIDE this query's wall-clock
    # window).
    for name in HEADLINE:
        fn = qs.get(name) or COMPOSITES.get(name)
        if fn is None:
            continue
        med, clock = _timed_window(name, fn, spark, sf_dir)
        timings[name] = round(med, 3)
        query_clock[name] = clock

    # Contaminated-window retry (VERDICT r12 #2): queries whose window
    # absorbed foreign CPU above the threshold get a fresh median at the
    # end of the run, worst-first; the reported timing comes from the
    # CLEANER window (lower foreign-CPU-per-wall-second), and the detail
    # row records both so the adjudication is in-artifact.
    contaminated = sorted(
        (n for n in timings if _window_contaminated(query_clock[n])),
        key=lambda n: -_window_foreign_cpu_s(query_clock[n]),
    )
    def _foreign_rate(c: dict) -> float:
        wall = max(c.get("t1", 0.0) - c.get("t0", 0.0), 1e-9)
        return _window_foreign_cpu_s(c) / wall

    retried = 0
    for name in contaminated[:RETRY_MAX]:
        first = query_clock[name]
        med2, clock2 = _timed_window(
            name, qs.get(name) or COMPOSITES[name], spark, sf_dir
        )
        use_retry = _foreign_rate(clock2) <= _foreign_rate(first)
        query_clock[name] = clock2 if use_retry else first
        query_clock[name]["contaminated_retry"] = {
            "first_median": timings[name],
            "retry_median": round(med2, 3),
            "first_foreign_cpu_s": round(_window_foreign_cpu_s(first), 1),
            "retry_foreign_cpu_s": round(_window_foreign_cpu_s(clock2), 1),
            "used": "retry" if use_retry else "first",
            "retry_clean": not _window_contaminated(clock2),
        }
        if use_retry:
            timings[name] = round(med2, 3)
        retried += 1
    if retried:
        env["contaminated_retries"] = retried
    if len(contaminated) > RETRY_MAX:
        env["contaminated_unretried"] = contaminated[RETRY_MAX:]

    # End-of-run accounting BEFORE spark.stop() so the JVM's CPU is
    # still readable live from /proc (rusage-of-children would need the
    # JVM reaped first — racy).
    box_cpu1 = _box_busy_cpu_s()
    tree_cpu1 = _proc_tree_cpu_s()
    steal1 = _steal_cpu_s()
    elapsed = time.time() - run_t0
    env["cpu_mhz_end"] = _cpu_mhz()
    try:
        la_end = [round(x, 2) for x in os.getloadavg()]
        # the raw end loadavg is self-polluted by the bench's own
        # 32-thread bursts; it is recorded for cross-referencing, while
        # the CLEAN-END verdict comes from the CPU accounting below
        env["loadavg_end"] = la_end
    except OSError:
        pass
    if None not in (box_cpu0, box_cpu1, tree_cpu0, tree_cpu1):
        own = tree_cpu1 - tree_cpu0
        external = max(0.0, (box_cpu1 - box_cpu0) - own)
        ncpu = os.cpu_count() or 1
        frac = external / (elapsed * ncpu)
        env["external_load"] = {
            "elapsed_s": round(elapsed, 1),
            "own_cpu_s": round(own, 1),
            "external_cpu_s": round(external, 1),
            "external_frac_of_box": round(frac, 4),
            # <5% of box-seconds went to other processes ⇒ no external
            # burst can explain a multi-second per-query delta
            "clean_end": frac < 0.05,
        }
        if None not in (steal0, steal1):
            env["external_load"]["steal_cpu_s"] = round(steal1 - steal0, 1)
        if frac >= 0.05:
            env["load_warning_end"] = (
                f"{external:.0f} CPU-seconds ({frac:.1%} of the box) went "
                "to processes OUTSIDE this bench during the run; locate "
                "the burst against query_clock before reading any "
                "per-query delta as a regression"
            )

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "env": env,
        "query_clock": query_clock,
    }
    detail_path = DETAIL_PATH
    try:
        with open(detail_path, "w") as f:
            json.dump(full, f, indent=1)
    except OSError as e:
        print(f"could not write {detail_path}: {e}", file=sys.stderr)
    print(_compact_line(full))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
