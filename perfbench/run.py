"""Benchmark entry point.

    python3 perfbench/run.py --workload cube_query --seed 1 --seconds 20 --trace 0

Runs one seeded workload against the checkout's ``rastercube_spark`` as a
closed loop with one client, checks every op's output, and prints as the
last stdout line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Everything it writes lives under
``.perfbench_work/`` in the checkout, which is emptied at the start of
every run. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cube_query", "curation")
# op_tail_s percentile, fixed per workload so every run reports the same
# one. Each lands in the middle of the block of the slowest op type for
# three or four passes: polygon_mean is 2 of 11 ops per cube pass,
# clean_corpus 1 of 5 per curation pass. The rule of
# core.tail_percentile (>= 10 ops beyond) would land on a boundary
# between op types here; the summary line reports what it gives.
TAIL_PCT = {"cube_query": 92, "curation": 93}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default",
                    help="tiny inputs for the benchmark's own smoke test")
    return ap.parse_args(argv)


def import_program():
    """The program under test is the checkout's package, never an
    installed copy; without it the benchmark cannot run."""
    sys.path.insert(0, ROOT)
    try:
        import rastercube_spark
    except ImportError as exc:
        raise SystemExit(f"perfbench: cannot import rastercube_spark from {ROOT}: {exc}")
    where = os.path.dirname(os.path.abspath(rastercube_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise SystemExit(f"perfbench: rastercube_spark resolved to {where}, not this checkout")


def start_spark(work: str, cores: int, trace: bool):
    """Session through the program's own factory, with every scratch
    directory under the work directory."""
    from rastercube_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata files in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
                # per-stage peaks of the JVM's memory metrics
                "spark.eventLog.logStageExecutorMetrics": "true",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(cores * 4).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    # set before the program is imported: its session module reads
    # SPARK_GRAFT_CPUS at import time for the shuffle-partition default
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    import_program()
    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)
    import gen
    from core import check_records, end_to_end, run_passes, tail_percentile
    from procstat import host_state
    from spans import Tracer

    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d))
    host_before = host_state()

    t0 = time.perf_counter()
    spark = start_spark(work, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(bool(args.trace), spark)
        if args.workload == "cube_query":
            from cube import CubeQuery

            wl = CubeQuery(spark, work, args.seed, gen.TINY_CUBE if args.size == "tiny" else gen.CubeSize())
        else:
            from curation import Curation

            wl = Curation(spark, work, args.seed, gen.TINY_CORPUS if args.size == "tiny" else gen.CorpusSize())
        phases = {"session_s": session_s}
        t = time.perf_counter()
        sizes = wl.generate()
        phases["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.build(tracer)
        phases["build_s"] = time.perf_counter() - t
        # fixed warm-up: one op of each type (pass 0 holds them all),
        # untimed and unchecked, so first-call costs (Python-worker
        # start-up, class loading, codegen) stay out of the measured passes
        t = time.perf_counter()
        seen: set[str] = set()
        warm_ops = [op for op in wl.make_pass(0) if not (op.name in seen or seen.add(op.name))]
        warm, _ = run_passes(lambda p: warm_ops, tracer, 0.0, min_passes=1)
        phases["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t0
        records, passes = run_passes(
            lambda p: wl.make_pass(p + 1), tracer, args.seconds, first_op_id=len(warm)
        )
    finally:
        stop_spark(spark)
    host_after = host_state()

    check_records(records)
    with open(os.path.join(work, "ops.jsonl"), "w") as f:
        for r in records:
            f.write(json.dumps({"op_id": r.op_id, "name": r.name, "pass": r.pass_no,
                                "latency_s": r.latency_s, "ok": r.ok, "error": r.error}) + "\n")
    failed = [r for r in records if not r.ok]
    for r in failed:
        print(f"perfbench: op {r.op_id} {r.name} failed: {r.error}", file=sys.stderr)
    tail_pct = TAIL_PCT[args.workload]
    e2e = end_to_end(records, passes, setup_s, tail_pct)

    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r.name, []).append(r.latency_s)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "loop": "closed, 1 client",
        "ops": len(records),
        "passes": len(passes),
        "pass_s": [round(p["pass_s"], 2) for p in passes],
        "pass_steal_s": [round(p["steal_s"], 2) for p in passes],
        "tail_percentile": tail_pct,
        "tail_rule_percentile": tail_percentile(len(records)),
        "ops_failed_frac": len(failed) / len(records),
        "sizes": sizes,
        "setup_phases_s": {k: round(v, 2) for k, v in phases.items()},
        "warmup_op_s": {r.name: round(r.latency_s, 2) for r in warm},
        "cores": cores,
        "host_before": host_before,
        "host_after": host_after,
        "op_median_s": {k: round(sorted(v)[len(v) // 2], 4) for k, v in sorted(by_op.items())},
    }
    print("perfbench: " + json.dumps(info))
    for name, (value, unit) in e2e.items():
        print(f"perfbench: {args.workload} {name} = {value:.4f} {unit}")
    # reported but not gated: it follows the JVM's adaptive heap growth
    # (see README), so it is the per-layer proc.peak_rss_mb of a traced run
    print(f"perfbench: {args.workload} peak_rss_mb = {max(p['peak_rss_mb'] for p in passes):.1f} MB")
    print(f"perfbench: {args.workload} ops_failed_frac = {info['ops_failed_frac']:.4f} ratio")

    if args.trace:
        from layers import PER_LAYER, per_layer

        tracer.write(os.path.join(work, "spans.jsonl"))
        values = per_layer(wl, tracer, records, passes, session_s, os.path.join(work, "events"), cores)
        metrics = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(records),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
