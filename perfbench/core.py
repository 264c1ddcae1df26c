"""Shared pieces of the benchmark: the op record, the closed-loop runner
and the statistics every workload reports."""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from procstat import RssSampler, steal_s, tree_cpu_s
from spans import Tracer

TAIL_MIN_BEYOND = 10
# A run measures at least this many passes, so pass_s and cpu_s are
# medians and the percentiles pool several samples of every op type.
MIN_PASSES = 3


@dataclass
class Op:
    """One client request. ``run`` performs it (construct + execute,
    each under its own layer span) and returns the collected result;
    ``check`` compares that result with the expectation computed from
    the generated inputs and runs outside the timed window."""

    name: str
    run: Callable[[Tracer], Any]
    check: Callable[[Any], bool]
    meta: dict = field(default_factory=dict)  # facts the per-layer metrics need


@dataclass
class OpRecord:
    op_id: int
    name: str
    pass_no: int
    latency_s: float
    ok: bool = False
    error: str | None = None
    result: Any = field(default=None, repr=False)
    op: Op | None = field(default=None, repr=False)
    meta: dict = field(default_factory=dict)


def tail_percentile(n_ops: int) -> int | None:
    """The highest whole percentile (at most 99) with at least
    ``TAIL_MIN_BEYOND`` ops strictly beyond it under :func:`percentile`'s
    (numpy's linear) interpolation, or None when ``n_ops`` is too small
    for any. With
    k = (n-1)p/100, the ops beyond number n-1-floor(k), so p is the
    largest whole number with (n-1)p/100 < n-TAIL_MIN_BEYOND."""
    if n_ops <= TAIL_MIN_BEYOND:
        return None
    num, den = 100 * (n_ops - TAIL_MIN_BEYOND), n_ops - 1
    return min(99, -(-num // den) - 1)


def percentile(values: list[float], p: float) -> float:
    return float(np.percentile(values, p))


def run_passes(
    make_pass: Callable[[int], list[Op]],
    tracer: Tracer,
    seconds: float,
    first_op_id: int = 0,
    min_passes: int = MIN_PASSES,
) -> tuple[list[OpRecord], list[dict]]:
    """Closed loop, one client: each op is issued after the previous one
    returned. Whole passes run until ``seconds`` have elapsed and at
    least ``min_passes`` have run. Returns the op records and one stats
    dict per pass (wall, CPU, peak RSS, the host's steal time)."""
    records: list[OpRecord] = []
    passes: list[dict] = []
    op_id = first_op_id
    t_begin = time.perf_counter()
    with RssSampler() as rss:
        p = 0
        while p < min_passes or time.perf_counter() - t_begin < seconds:
            ops = make_pass(p)
            rss.take_peak()
            cpu0, steal0, w0 = tree_cpu_s() - rss.cpu_s, steal_s(), time.perf_counter()
            for op in ops:
                rec = OpRecord(op_id, op.name, p, 0.0, op=op, meta=op.meta)
                t0 = time.perf_counter()
                try:
                    with tracer.span(op.name, op_id=op_id):
                        rec.result = op.run(tracer)
                except Exception as exc:  # an op failure is a measured outcome
                    rec.error = f"{type(exc).__name__}: {exc}"
                    traceback.print_exc()
                rec.latency_s = time.perf_counter() - t0
                records.append(rec)
                op_id += 1
            passes.append(
                {
                    "pass_s": time.perf_counter() - w0,
                    "cpu_s": tree_cpu_s() - rss.cpu_s - cpu0,
                    "steal_s": steal_s() - steal0,
                    "peak_rss_mb": rss.take_peak(),
                }
            )
            p += 1
    return records, passes


def check_records(records: list[OpRecord]) -> None:
    """Run every op's output check (outside any timed window)."""
    for rec in records:
        if rec.error is not None:
            continue
        try:
            rec.ok = bool(rec.op.check(rec.result))
            if not rec.ok:
                rec.error = "wrong result"
        except Exception as exc:
            rec.ok = False
            rec.error = f"check raised {type(exc).__name__}: {exc}"
        rec.result = rec.op = None


def end_to_end(records: list[OpRecord], passes: list[dict], setup_s: float, tail_pct: int) -> dict:
    lat = [r.latency_s for r in records]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["pass_s"] for p in passes), "s"),
        "op_p50_s": (percentile(lat, 50), "s"),
        "op_tail_s": (percentile(lat, tail_pct), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
    }


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
