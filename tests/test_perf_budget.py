"""Per-query perf-budget gate (VERDICT r7 "Next round" #5): a silent
plan regression — a lost broadcast, a pushdown that stopped firing, an
accidental cartesian — fails CI against the committed PERF_BUDGET.json
instead of waiting for a judge to diff BENCH files.

The gate runs bench.py itself (same meter, same session confs, median
of 3) at the budget file's recorded sf_dir, so numbers are compared
like-for-like with how the budgets were generated
(tools/make_perf_budget.py; regeneration rule in README).

Timing inside a test suite is noise-prone by construction, so the gate
is OPT-IN (ADVICE r8: keyed on ambient loadavg it made suite wall time
nondeterministic by minutes): marked ``perf`` and deselected by
pyproject's default ``-m 'not perf'`` — run it deliberately with

    pytest -m perf tests/test_perf_budget.py

It stays permissive where permissiveness is safe and skips where it is
not: budgets carry a ×1.5 + 0.25 s band, and if the box never decays to
idle within the bounded wait the test SKIPS with the loadavg in the
reason — a contended box can produce false regressions, and a red gate
nobody trusts is worse than none. bench.py's own bounded idle-wait then
runs inside the subprocess as the second line of defense.

The RATCHET tests below run always (pure logic, no timing): a
regeneration that would raise a committed budget must refuse unless the
raise carries an explicit per-query acceptance reason (VERDICT r8 #3).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), os.pardir))
BUDGET_PATH = os.path.join(ROOT, "PERF_BUDGET.json")

LOAD_IDLE_MAX = 1.25  # slightly looser than bench's 1.0: we gate, not record
# Short wait: the gate only runs under an explicit `-m perf` invocation
# (deselected by default via pyproject addopts), so a long ambient wait
# buys nothing — the invoker chose the moment; if the box still isn't
# idle we skip with the loadavg in the reason.
IDLE_WAIT_S = 60


@pytest.mark.perf
@pytest.mark.skipif(
    not os.path.exists(BUDGET_PATH), reason="no PERF_BUDGET.json committed"
)
def test_perf_budget_gate():
    with open(BUDGET_PATH) as f:
        budget = json.load(f)
    if not os.path.isdir(budget["sf_dir"]):
        pytest.skip(f"budget sf_dir {budget['sf_dir']} not present")

    t0 = time.time()
    while time.time() - t0 < IDLE_WAIT_S:
        if os.getloadavg()[0] < LOAD_IDLE_MAX:
            break
        time.sleep(10)
    else:
        pytest.skip(
            f"box not idle after {IDLE_WAIT_S}s (loadavg "
            f"{os.getloadavg()[0]:.2f}); timing gate would be noise"
        )

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=budget["sf_dir"])
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=3600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # full names + full precision live in the detail artifact; the
    # compact stdout line may have degraded to id-prefix keys (r12)
    with open(os.path.join(ROOT, "BENCH_DETAIL.json")) as f:
        parsed = json.load(f)
    got = parsed["queries"]

    # a budgeted query must still exist — a rename/retire must be a
    # deliberate budget regeneration, not a silently dropped gate
    missing = sorted(set(budget["budgets"]) - set(got))
    assert not missing, f"budgeted queries missing from bench: {missing}"

    # session calibration (r11): the gate hunts RELATIVE outliers (a
    # lost broadcast, a dropped pushdown — single-query faults), not
    # uniform whole-box drift; same factor rule as the regen tool
    factor = _tool().session_factor(budget.get("medians", {}), got)

    over = {
        q: (got[q], cap)
        for q, cap in budget["budgets"].items()
        if got[q] > cap * factor
    }
    assert not over, (
        f"per-query budget exceeded (plan regression?) at session factor "
        f"{factor}: "
        + ", ".join(f"{q}: {t:.2f}s > {cap:.2f}s" for q, (t, cap) in over.items())
        + " — if the slowdown is intentional, regenerate PERF_BUDGET.json "
        "deliberately (tools/make_perf_budget.py, idle box, same commit)"
    )
    assert parsed["value"] <= budget["total_budget"] * factor, (
        f"headline total {parsed['value']}s exceeds committed total budget "
        f"{budget['total_budget']}s x factor {factor}"
    )


# --- budget ratchet (pure logic, always runs) ---------------------------


def _tool():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_perf_budget", os.path.join(ROOT, "tools", "make_perf_budget.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _ratchet():
    return _tool().apply_ratchet


def test_ratchet_refuses_contract_break_without_acceptance():
    """A fresh median EXCEEDING the committed budget means the CI gate
    itself would fail on honest numbers — refuse unless accepted."""
    old = {"budgets": {"q1": 1.5, "q2": 3.0}, "medians": {"q1": 1.0, "q2": 2.0}}
    final, regs, violations = _ratchet()(
        old, {"q1": 3.0, "q2": 2.85}, {"q1": 2.0, "q2": 1.9}, {}
    )
    assert regs == {}
    # q1's median 2.0 > committed budget 1.5 -> violation;
    # q2's median 1.9 <= budget 3.0 -> contract intact (budget kept:
    # tightening to 2.85 would not clear 1.9 * 1.3 = 2.47? it would —
    # but 2.85 >= 2.47 so q2 tightens)
    assert violations and "q1" in violations[0]
    assert final["q2"] == 2.85


def test_ratchet_keeps_contract_on_in_budget_wiggle():
    """A fresh median above the committed MEDIAN but under the
    committed BUDGET is absorbed by the gate's own headroom: the
    committed budget stays, nothing refuses, nothing loosens."""
    old = {"budgets": {"q1": 1.5}, "medians": {"q1": 1.0}}
    final, regs, violations = _ratchet()(old, {"q1": 2.1}, {"q1": 1.4}, {})
    assert violations == [] and regs == {}
    assert final["q1"] == 1.5


def test_ratchet_accepts_with_reason_and_records_provenance():
    old = {"budgets": {"q1": 1.5}, "medians": {"q1": 1.0}}
    final, regs, violations = _ratchet()(
        old, {"q1": 3.0}, {"q1": 2.0}, {"q1": "meter fix"}
    )
    assert violations == []
    assert regs == {"q1": {"reason": "meter fix", "old": 1.5, "new": 3.0}}
    assert final["q1"] == 3.0


def test_ratchet_allows_tightening_and_new_queries():
    old = {"budgets": {"q1": 1.0}, "medians": {"q1": 0.5}}
    final, regs, violations = _ratchet()(
        old, {"q1": 0.8, "q_new": 9.9}, {"q1": 0.37, "q_new": 6.6}, {}
    )
    assert regs == {} and violations == []
    # 0.8 clears max(0.5, 0.37) * 1.3 = 0.65 -> decisive tightening
    assert final == {"q1": 0.8, "q_new": 9.9}
    # and from-scratch generation (no committed file) never refuses
    final, regs, violations = _ratchet()(None, {"q1": 5.0}, {"q1": 3.2}, {})
    assert regs == {} and violations == []


def test_ratchet_damps_lucky_low_rebasing():
    """A tighter budget that would NOT clear the committed median by
    the damping margin keeps the old budget — one lucky-low session
    cannot re-base the gate below what honest sessions measure."""
    old = {"budgets": {"q1": 1.2}, "medians": {"q1": 0.78}}
    # new median 0.5 -> new budget 0.75; 0.75 < 0.78 * 1.3 = 1.014
    final, regs, violations = _ratchet()(old, {"q1": 0.75}, {"q1": 0.5}, {})
    assert violations == [] and regs == {}
    assert final["q1"] == 1.2


def test_ratchet_flags_stale_acceptance():
    """An acceptance flag for a query whose committed budget still
    covers the fresh median must refuse — otherwise a pasted-forward
    flag silently pre-authorizes a future raise."""
    old = {"budgets": {"q1": 1.5}, "medians": {"q1": 1.0}}
    final, regs, violations = _ratchet()(
        old, {"q1": 1.4}, {"q1": 0.93}, {"q1": "left over"}
    )
    assert regs == {}
    assert violations and "stale" in violations[0]


def test_ratchet_reconstructs_median_when_old_file_lacks_it():
    """Backward compatibility: a pre-r9 budget file has no medians
    field; the committed median is reconstructed from the budget
    formula so damping still applies."""
    old = {"budgets": {"q1": 1.5}}  # implies median 1.0
    final, regs, violations = _ratchet()(old, {"q1": 1.8}, {"q1": 1.2}, {})
    assert violations == [] and final["q1"] == 1.5  # under budget: kept
    final, regs, violations = _ratchet()(old, {"q1": 3.0}, {"q1": 2.0}, {})
    assert violations  # median 2.0 > budget 1.5: refuse


def test_committed_budget_file_carries_ratchet_provenance():
    """The committed PERF_BUDGET.json must have the accepted_regressions
    field (possibly empty) — proof it was generated by the ratcheting
    tool, not hand-edited around it."""
    if not os.path.exists(BUDGET_PATH):
        pytest.skip("no PERF_BUDGET.json committed")
    with open(BUDGET_PATH) as f:
        budget = json.load(f)
    assert "accepted_regressions" in budget
    assert isinstance(budget["accepted_regressions"], dict)


def test_bench_cpu_accounting_sees_children_and_reaped():
    """The external-load verdict subtracts THIS process tree's CPU from
    the box total; missing a descendant would misattribute our own work
    as external and falsely taint clean runs. Pin both halves of the
    tree walk: a LIVE child's burn is counted (via /proc children
    traversal) and stays counted after the child is reaped (via the
    parent's cutime rollup)."""
    import subprocess
    import sys as _sys
    import time as _time

    import bench

    t0 = bench._proc_tree_cpu_s()
    assert t0 is not None
    p = subprocess.Popen(
        [_sys.executable, "-c",
         "import time;[sum(range(2_000_000)) for _ in range(40)]"]
    )
    _time.sleep(1.0)
    live = bench._proc_tree_cpu_s() - t0
    assert live >= 0.5, f"live child CPU not seen in tree walk ({live:.2f}s)"
    p.wait()
    reaped = bench._proc_tree_cpu_s() - t0
    assert reaped >= live - 0.1, "reaped child's CPU vanished from the tree"
    # the box-level meter must tick at least as fast as our own tree
    b0 = bench._box_busy_cpu_s()
    assert b0 is not None and b0 > 0


def test_bench_cpu_accounting_keeps_autoreaped_grandchild():
    """PySpark's worker daemon ignores SIGCHLD, so its dead workers never
    reach its cutime. A grandchild under such a parent must keep counting
    after it exits (Spark kills idle workers mid-session)."""
    import subprocess
    import sys as _sys
    import time as _time

    import bench

    parent = subprocess.Popen(
        [_sys.executable, "-c",
         "import os, signal, sys\n"
         "signal.signal(signal.SIGCHLD, signal.SIG_IGN)\n"
         "if os.fork() == 0:\n"
         "    [sum(range(2_000_000)) for _ in range(40)]\n"
         "    os._exit(0)\n"
         "sys.stdin.read()\n"],
        stdin=subprocess.PIPE,
    )
    try:
        t0 = bench._proc_tree_cpu_s()
        _time.sleep(1.0)
        live = bench._proc_tree_cpu_s() - t0
        assert live >= 0.5, f"live grandchild CPU not seen ({live:.2f}s)"
        children = f"/proc/{parent.pid}/task/{parent.pid}/children"
        deadline = _time.time() + 60
        while _time.time() < deadline:
            with open(children) as f:
                if not f.read().strip():
                    break
            _time.sleep(0.1)
        gone = bench._proc_tree_cpu_s() - t0
        assert gone >= live - 0.1, "auto-reaped grandchild's CPU vanished"
    finally:
        parent.stdin.close()
        parent.wait()


def test_bench_compact_line_fits_driver_window():
    """The driver's artifact keeps only the LAST 2000 chars of bench
    stdout; r9's full line outgrew it and the round's BENCH artifact
    lost its front (parsed=null). The compact line must stay under the
    budget for the CURRENT headline set and keep the queries dict when
    shedding."""
    import bench

    queries = {name: 12.345 for name in bench.HEADLINE}
    full = {
        "metric": "headline_total",
        "value": 123.456,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "env": {
            "idle_gate": {"1min": {"ok": True}, "5min": {"ok": True}},
            "external_load": {"clean_end": True},
        },
        "query_clock": {n: {"t0": 1.0, "t1": 2.0} for n in queries},
    }
    line = bench._compact_line(full)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    # Every query must survive at 2-dp-or-better precision — the 69-query
    # headline (r12) saturated even 2-dp full names, so the first TWO
    # degrade steps (coarser precision, then unique-id-prefix keys
    # marked "keys":"id") are allowed here; dropping queries is not
    # ("queries_elided" marks that stronger shed — ADVICE r11: the old
    # "elided" spelling checked a key nothing sets).
    if parsed.get("keys") == "id":
        expect = {k.split("_", 1)[0]: v for k, v in queries.items()}
    else:
        expect = queries
    assert set(parsed["queries"]) == set(expect)
    assert "queries_elided" not in parsed
    for name, v in parsed["queries"].items():
        assert abs(v - expect[name]) <= 0.005
    # the id-prefix step must preserve the env admissibility booleans
    # (that is its whole point versus the old shed-env-first order)
    assert parsed["env"] == {"idle_ok": True, "clean_end": True}
    # long names with unique prefixes: the id-prefix step rescues the
    # full dict AND the env booleans
    big = dict(full, queries={f"q{i}_" + "x" * 60: 1.0 for i in range(40)})
    parsed_big = json.loads(bench._compact_line(big))
    assert parsed_big["keys"] == "id"
    assert set(parsed_big["queries"]) == {f"q{i}" for i in range(40)}
    assert parsed_big["env"] == {"idle_ok": True, "clean_end": True}
    # final guard (ADVICE r10): COLLIDING prefixes disable the key
    # shortening, so when the queries dict alone outgrows the budget the
    # line still fits — env shed, then whole entries elided LOUDLY from
    # the end, never a silent front-truncation
    huge = dict(
        full, queries={"qx_" + "x" * 60 + f"_{i}": 1.2345 for i in range(60)}
    )
    line_huge = bench._compact_line(huge)
    assert len(line_huge) <= bench.LINE_BUDGET
    parsed_huge = json.loads(line_huge)
    assert "keys" not in parsed_huge  # collision -> full names kept
    assert parsed_huge["queries_elided"] >= 1
    assert parsed_huge["detail"] == "BENCH_DETAIL.json"
    kept = list(parsed_huge["queries"])
    assert kept == ["qx_" + "x" * 60 + f"_{i}" for i in range(len(kept))]
    assert all(v == 1.23 for v in parsed_huge["queries"].values())


def test_bench_sample_escalation(monkeypatch):
    """_sample_until_stable takes N_SAMPLES base reps and escalates one
    at a time toward N_SAMPLES_MAX while relative spread > SPREAD_MAX
    (VERDICT r11 #2: 3 single-shot samples sat below the noise floor —
    a contaminated sample must trigger more reps, a quiet query must
    not pay for them)."""
    import bench

    def fake_clock(durations):
        ticks = []
        t = 0.0
        for d in durations:
            ticks.extend([t, t + d])
            t += d + 10.0
        it = iter(ticks)
        return lambda: next(it)

    # stable: 3 samples within spread -> no escalation
    monkeypatch.setattr(bench.time, "perf_counter",
                        fake_clock([1.0, 1.02, 0.99]))
    s = bench._sample_until_stable(lambda: None)
    assert len(s) == bench.N_SAMPLES
    # one contaminated sample: spread 1.0 > SPREAD_MAX -> escalate to max
    monkeypatch.setattr(bench.time, "perf_counter",
                        fake_clock([1.0, 1.0, 2.0, 1.0, 1.0, 1.0, 1.0]))
    s = bench._sample_until_stable(lambda: None)
    assert len(s) == bench.N_SAMPLES_MAX
    # the median over 7 shrugs off the outlier
    import statistics
    assert statistics.median(s) == 1.0
    assert bench._rel_spread([1.0, 1.0, 2.0]) == 1.0
    assert bench._rel_spread([0.0, 0.0]) == 0.0


def test_bench_idle_gate_debounce(monkeypatch):
    """bench._wait_for_idle must require TWO consecutive passing reads
    (r9: an external 32-core burst arriving right after a single
    passing read started a run whose own env note disclaimed it)."""
    import bench

    reads = iter(
        [
            (0.5, 1.0, 2.0),   # pass #1
            (6.0, 2.5, 2.0),   # burst arrives -> streak resets
            (0.9, 1.4, 2.0),   # pass #1 again
            (0.8, 1.3, 2.0),   # pass #2 -> break
            (9.9, 9.9, 9.9),   # must never be read
        ]
    )
    monkeypatch.setattr(bench.os, "getloadavg", lambda: next(reads))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    bench._wait_for_idle(max_wait_s=60.0)
    # exactly the four reads consumed: the gate broke on the second
    # consecutive pass, not the first
    assert next(reads) == (9.9, 9.9, 9.9)


def test_bench_per_query_external_attribution(monkeypatch, tmp_path, capsys):
    """bench.main() records ext_cpu_s / steal_s per query-boundary in
    query_clock (r11: the q12 adjudication had to argue from run-level
    bounds; the boundary samples make the next one a direct read).
    Functional: run the real loop on two cheap queries at sf0.001."""
    import bench

    from pyspark.sql import SparkSession

    monkeypatch.setattr(bench, "HEADLINE", ["q01_scan_count",
                                            "q40_global_topk"])
    monkeypatch.setattr(bench, "N_SAMPLES", 1)
    monkeypatch.setattr(bench, "_wait_for_idle", lambda *a, **k: 0.0)
    monkeypatch.setattr(bench, "DETAIL_PATH", str(tmp_path / "detail.json"))
    # bench.main() ends with spark.stop() — running it in-process would
    # kill the suite's shared session-scoped SparkContext and fail every
    # test after this module (observed: 192 cascade failures). Neuter
    # stop for the test's duration; getOrCreate hands main() the shared
    # session, which must survive.
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    bench.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    compact = json.loads(out)
    assert set(compact["queries"]) == {"q01_scan_count", "q40_global_topk"}
    with open(tmp_path / "detail.json") as f:
        full = json.load(f)
    for name in ("q01_scan_count", "q40_global_topk"):
        clk = full["query_clock"][name]
        assert clk["t1"] >= clk["t0"]
        # repeat-median dispersion record (VERDICT r11 #2): reps,
        # raw samples, and relative spread per query
        assert clk["reps"] == len(clk["samples"]) >= 1
        assert clk["spread"] >= 0.0
        # counters are monotonic, deltas clamped at >= 0
        assert clk["ext_cpu_s"] >= 0.0
        assert clk["steal_s"] >= 0.0
        # the external share of a window can't exceed the whole box
        ncpu = __import__("os").cpu_count() or 1
        assert clk["ext_cpu_s"] <= (clk["t1"] - clk["t0"] + 1.0) * ncpu


def test_session_factor_uniform_drift_and_cap():
    """session_factor: median of fresh/committed ratios, clamped to
    [1.0, CAL_MAX]; fewer than CAL_MIN_POINTS common queries -> strict
    1.0 (no basis to call drift uniform)."""
    sf = _tool().session_factor
    old = {f"q{i}": 1.0 for i in range(20)}
    # uniform 1.33x slow session
    assert sf(old, {q: 1.33 for q in old}) == pytest.approx(1.33)
    # fast session never calibrates below 1.0
    assert sf(old, {q: 0.7 for q in old}) == 1.0
    # cap: a uniform 2x reads as CAL_MAX, not 2.0 — beyond the cap the
    # gate fails, deliberately (a true whole-engine regression)
    assert sf(old, {q: 2.0 for q in old}) == _tool().CAL_MAX
    # outliers don't drag the median: 18 at 1.0, 2 at 3x -> factor 1.0
    fresh = {q: 1.0 for q in old}
    fresh["q0"] = 3.0
    fresh["q1"] = 3.0
    assert sf(old, fresh) == 1.0
    # too few common points -> strict
    assert sf({"q0": 1.0, "q1": 1.0}, {"q0": 1.4, "q1": 1.4}) == 1.0


def test_ratchet_with_session_factor_keeps_contract_not_loosens():
    """A fresh median over the committed budget but within budget x
    factor is the session's uniform drift: the regeneration SUCCEEDS
    and the committed (tight) budget is KEPT — never replaced by the
    drifted number. An overrun beyond the factor still refuses."""
    ratchet = _ratchet()
    old = {"budgets": {"q1": 1.5, "q2": 1.5}, "medians": {"q1": 1.0, "q2": 1.0}}
    # q1 drifted within factor; q2 is a genuine outlier
    final, regs, violations = ratchet(
        old, {"q1": 2.7, "q2": 3.75}, {"q1": 1.8, "q2": 2.5}, {}, factor=1.33
    )
    assert violations and "q2" in violations[0]
    # with only the in-factor drift, regen succeeds and keeps the budget
    final, regs, violations = ratchet(
        old, {"q1": 2.7, "q2": 1.5}, {"q1": 1.8, "q2": 1.0}, {}, factor=1.33
    )
    assert violations == [] and regs == {}
    assert final["q1"] == 1.5  # kept, not loosened to 2.7


def test_bench_compare_spread_gating(tmp_path, capsys):
    """tools/bench_compare.py: when both records carry per-query repeat
    spreads (r12), a delta inside the larger measured spread is
    reported as not-adjudicable instead of REGRESSION — and a delta
    well outside a tight spread still flags."""
    import importlib.util
    import json as _json

    spec = importlib.util.spec_from_file_location(
        "bench_compare", os.path.join(ROOT, "tools", "bench_compare.py")
    )
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)

    a = {"queries": {"q1": 1.0, "q2": 0.5},
         "query_clock": {"q1": {"spread": 0.5}, "q2": {"spread": 0.02}},
         "env": {}}
    b = {"queries": {"q1": 1.4, "q2": 0.8},
         "query_clock": {"q1": {"spread": 0.1}, "q2": {"spread": 0.03}},
         "env": {}}
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(_json.dumps(a))
    pb.write_text(_json.dumps(b))
    import sys as _sys
    old = _sys.argv
    _sys.argv = ["bench_compare", str(pa), str(pb)]
    try:
        assert bc.main() == 0
    finally:
        _sys.argv = old
    out = capsys.readouterr().out
    assert "within-instrument  q1" in out
    assert "REGRESSION  q2" in out


def test_bench_compare_normalizes_id_prefix_records(tmp_path, capsys):
    """A record whose compact line degraded to id-prefix keys
    ("keys":"id") still diffs against a full-name record: both sides
    normalize to prefixes and the common subset survives."""
    import importlib.util
    import json as _json

    spec = importlib.util.spec_from_file_location(
        "bench_compare", os.path.join(ROOT, "tools", "bench_compare.py")
    )
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)

    a = {"queries": {"q01_scan_count": 1.0, "q40_global_topk": 0.5},
         "env": {}}
    b = {"queries": {"q01": 1.05, "q40": 0.52}, "keys": "id", "env": {}}
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(_json.dumps(a))
    pb.write_text(_json.dumps(b))
    import sys as _sys
    old = _sys.argv
    _sys.argv = ["bench_compare", str(pa), str(pb)]
    try:
        assert bc.main() == 0
    finally:
        _sys.argv = old
    out = capsys.readouterr().out
    assert "common-2 total" in out


def test_bench_contamination_window_logic():
    """_window_contaminated requires BOTH the absolute floor and the
    capacity fraction (VERDICT r12 #2): a 0.5 CPU-s wobble in a short
    window never retries, a 377-CPU-s burst in a 60 s window (r12's
    q98) always does; the foreign-CPU sum treats missing counters as
    zero and never lets a negative steal delta cancel ext."""
    import bench

    ncpu = os.cpu_count() or 1
    # r12's q98 shape: 60 s window, 158.7 ext + 218.1 steal
    q98 = {"t0": 0.0, "t1": 60.0, "ext_cpu_s": 158.7, "steal_s": 218.1}
    assert bench._window_foreign_cpu_s(q98) == pytest.approx(376.8)
    assert bench._window_contaminated(q98)
    # sub-threshold absolute: scheduler noise in a 2 s window
    small = {"t0": 0.0, "t1": 2.0, "ext_cpu_s": 0.5, "steal_s": 0.0}
    assert not bench._window_contaminated(small)
    # over the absolute floor but a trivial fraction of a LONG window's
    # capacity: 6 CPU-s across 300 s on ncpu cores is noise, not a burst
    long_w = {"t0": 0.0, "t1": 300.0, "ext_cpu_s": 6.0, "steal_s": 0.0}
    assert bench._window_contaminated(long_w) == (
        6.0 > bench.CONTAM_FRAC * 300.0 * ncpu and 6.0 > bench.CONTAM_MIN_CPU_S
    )
    # missing counters -> zero foreign, never contaminated
    assert not bench._window_contaminated({"t0": 0.0, "t1": 10.0})


def test_bench_compact_line_carries_retry_count():
    """When the run retried contaminated windows, the compact stdout
    line says so (env.retried) — the driver's 2000-char artifact must
    show that a timing is a retried median without opening the detail
    file."""
    import bench

    full = {
        "metric": "headline_total", "value": 1.0, "unit": "sec",
        "queries": {"q01_scan_count": 1.0}, "sf": 0.1,
        "env": {
            "idle_gate": {"1min": {"ok": True}, "5min": {"ok": True}},
            "external_load": {"clean_end": True},
            "contaminated_retries": 2,
        },
    }
    parsed = json.loads(bench._compact_line(full))
    assert parsed["env"]["retried"] == 2
    full["env"].pop("contaminated_retries")
    parsed = json.loads(bench._compact_line(full))
    assert "retried" not in parsed["env"]
