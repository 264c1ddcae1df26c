"""Per-layer metrics of a traced run, from the benchmark's own spans and
Spark's event log. Every metric is emitted for every workload; a layer
the workload never calls reads 0."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from core import OpRecord, median_or_zero
from spans import OpEngine, Tracer, attribute, idle_s, read_event_log, sql_sum

SLICE_OPS = ("window_agg", "pixel_series")
LAYERS = (
    "raster", "polygon", "resample", "qa", "zonal", "geotiff",
    "pipeline", "dedup", "graph", "similarity", "text",
)

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": "s",
    "geotiff.ingest_s": "s",
    "geotiff.decode_task_s": "s",
    "raster.append_s": "s",
    "raster.rewrite_px_per_px": "ratio",
    "raster.files_written": "count",
    "raster.bytes_per_px": "B",
    "raster.slice_s": "s",
    "raster.files_read_per_op": "count",
    "raster.files_useful_frac": "ratio",
    "raster.scan_mb_per_op": "MB",
    "raster.rows_scanned_per_row_out": "ratio",
    "polygon.construct_s": "s",
    "polygon.execute_s": "s",
    "polygon.shuffle_mb": "MB",
    "polygon.join_rows_per_px_inside": "ratio",
    "resample.execute_s": "s",
    "resample.shuffle_mb": "MB",
    "pipeline.construct_s": "s",
    "pipeline.execute_s": "s",
    "pipeline.jobs": "count",
    "pipeline.cached_mb_after": "MB",
    "dedup.construct_s": "s",
    "dedup.execute_s": "s",
    "graph.cc_s": "s",
    "graph.cc_jobs": "count",
    "similarity.construct_s": "s",
    "similarity.execute_s": "s",
    "similarity.candidates_per_result": "ratio",
    "text.execute_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_only_s": "s",
    "spark.busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.result_mb": "MB",
    "spark.task_failures": "count",
    "spark.peak_heap_mb": "MB",
    "proc.peak_rss_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "self.bench_s": "s",
    "trace.pass_s": "s",
}


def _span_median(tracer: Tracer, measured: set[int], name: str) -> float:
    return median_or_zero(s.end - s.start for s in tracer.spans if s.name == name and s.op_id in measured)


def _jobs_in(events: list[dict], start: float, end: float) -> int:
    return sum(
        1
        for e in events
        if e["Event"] == "SparkListenerJobStart" and start <= e["Submission Time"] / 1000.0 <= end
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def per_layer(
    workload,
    tracer: Tracer,
    records: list[OpRecord],
    passes: list[dict],
    session_s: float,
    event_dir: str,
    cores: int,
) -> dict[str, float]:
    events = read_event_log(event_dir)
    roots = {s.op_id: (s.start, s.end) for s in tracer.spans if s.parent is None}
    eng: dict[int, OpEngine] = attribute(events, roots)
    measured = {r.op_id for r in records}
    by_name: dict[str, list[OpRecord]] = defaultdict(list)
    for r in records:
        by_name[r.name].append(r)
    n_pass = max(len(passes), 1)
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    def e(r: OpRecord) -> OpEngine:
        return eng.get(r.op_id, OpEngine())

    def lat(name: str) -> float:
        return median_or_zero(r.latency_s for r in by_name.get(name, ()))

    m["session.start_s"] = session_s
    for s in tracer.spans:
        if s.name == "geotiff.ingest" and s.parent is None:
            m["geotiff.ingest_s"] = s.end - s.start
            m["geotiff.decode_task_s"] = eng.get(s.op_id, OpEngine()).input_task_s

    # --- sources.raster: writes
    appends = by_name.get("append_date", [])
    m["raster.append_s"] = lat("append_date")
    written = sum(sql_sum(e(r), "Execute InsertIntoHadoopFsRelationCommand", "number of output rows") for r in appends)
    appended = sum(r.meta.get("appended_px", 0) for r in appends)
    m["raster.rewrite_px_per_px"] = written / appended if appended else 0.0
    m["raster.files_written"] = median_or_zero(
        sql_sum(e(r), "Execute InsertIntoHadoopFsRelationCommand", "number of written files") for r in appends
    )
    if hasattr(workload, "cube"):
        stored = int(workload.present.sum()) * workload.size.ndates + sum(a.size for a in workload.appended)
        m["raster.bytes_per_px"] = _dir_bytes(workload.cube.data_path) / stored

    # --- sources.raster: reads
    slices = [r for n in SLICE_OPS for r in by_name.get(n, ())]
    m["raster.slice_s"] = median_or_zero(r.latency_s for r in slices)
    if slices:
        files = [sql_sum(e(r), "Scan parquet", "number of files read") for r in slices]
        m["raster.files_read_per_op"] = statistics.median(files)
        useful = [workload.rows_and_parts(*r.meta["window"]) for r in slices]
        m["raster.files_useful_frac"] = sum(p for _, p in useful) / max(sum(files), 1)
        m["raster.scan_mb_per_op"] = statistics.median(e(r).input_mb for r in slices)
        scanned = sum(sql_sum(e(r), "Scan parquet", "number of output rows") for r in slices)
        m["raster.rows_scanned_per_row_out"] = scanned / max(sum(n for n, _ in useful), 1)

    # --- operators
    polys = by_name.get("polygon_mean", [])
    m["polygon.construct_s"] = _span_median(tracer, measured, "polygon.construct")
    m["polygon.execute_s"] = _span_median(tracer, measured, "polygon.execute")
    m["polygon.shuffle_mb"] = median_or_zero(e(r).shuffle_write_mb for r in polys)
    inside = sum(r.meta.get("inside_px", 0) for r in polys)
    if inside:
        m["polygon.join_rows_per_px_inside"] = sum(_join_rows(e(r)) for r in polys) / inside
    resamples = by_name.get("resample_down", [])
    m["resample.execute_s"] = median_or_zero(
        s.end - s.start for s in tracer.spans
        if s.name == "resample.execute" and s.op_id in {r.op_id for r in resamples}
    )
    m["resample.shuffle_mb"] = median_or_zero(e(r).shuffle_write_mb for r in resamples)

    cleans = by_name.get("clean_corpus", [])
    m["pipeline.construct_s"] = _span_median(tracer, measured, "pipeline.construct")
    m["pipeline.execute_s"] = _span_median(tracer, measured, "pipeline.execute")
    m["pipeline.jobs"] = median_or_zero(e(r).jobs for r in cleans)
    m["pipeline.cached_mb_after"] = median_or_zero(r.meta["cached_mb_after"] for r in cleans if "cached_mb_after" in r.meta)
    m["dedup.construct_s"] = _span_median(tracer, measured, "dedup.construct")
    m["dedup.execute_s"] = _span_median(tracer, measured, "dedup.execute")
    cc = [s for s in tracer.spans if s.name == "graph.cc" and s.op_id in measured]
    m["graph.cc_s"] = median_or_zero(s.end - s.start for s in cc)
    m["graph.cc_jobs"] = median_or_zero(_jobs_in(events, s.start, s.end) for s in cc)
    m["similarity.construct_s"] = _span_median(tracer, measured, "similarity.construct")
    m["similarity.execute_s"] = _span_median(tracer, measured, "similarity.execute")
    sims = by_name.get("lsh_knn", [])
    results = sum(r.meta.get("results", 0) for r in sims)
    if results:
        m["similarity.candidates_per_result"] = sum(_join_rows(e(r)) for r in sims) / results
    m["text.execute_s"] = _span_median(tracer, measured, "text.execute")

    # --- engine
    m["spark.jobs_per_op"] = median_or_zero(e(r).jobs for r in records)
    m["spark.stages_per_op"] = median_or_zero(len(e(r).stages) for r in records)
    m["spark.tasks_per_op"] = median_or_zero(e(r).tasks for r in records)
    m["spark.driver_only_s"] = median_or_zero(idle_s(*roots[r.op_id], e(r).intervals) for r in records)
    wall = sum(p["pass_s"] for p in passes)
    m["spark.busy_frac"] = sum(e(r).task_s for r in records) / (wall * cores) if wall else 0.0
    m["spark.shuffle_write_mb"] = sum(e(r).shuffle_write_mb for r in records) / n_pass
    m["spark.spill_mb"] = sum(e(r).spill_mb for r in records) / n_pass
    m["spark.gc_s"] = sum(e(r).gc_s for r in records) / n_pass
    m["spark.result_mb"] = sum(e(r).result_mb for r in records) / n_pass
    m["spark.task_failures"] = sum(e(r).task_failures for r in records)
    m["spark.peak_heap_mb"] = max((e(r).peak_heap_mb for r in records), default=0.0)
    m["proc.peak_rss_mb"] = max(p["peak_rss_mb"] for p in passes)

    # --- self time per layer, per pass
    child: dict[int, float] = defaultdict(float)
    for s in tracer.spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    for s in tracer.spans:
        if s.op_id not in measured:
            continue
        own = (s.end - s.start) - child[s.sid]
        key = "self.bench_s" if s.parent is None else f"self.{s.name.split('.')[0]}_s"
        if key in m:
            m[key] += own / n_pass
    m["trace.pass_s"] = statistics.median(p["pass_s"] for p in passes)
    return m


def _join_rows(o: OpEngine) -> int:
    return sum(v for (node, metric), v in o.sql_metrics.items() if "Join" in node and metric == "number of output rows")
