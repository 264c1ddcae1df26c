"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start a Spark session per workload on tiny inputs and
take about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import core  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_inputs(out: str, seed: int) -> None:
    size, csize = gen.TINY_CUBE, gen.TINY_CORPUS
    a = gen.cube_arrays(seed, size)
    gen.write_tiles(os.path.join(out, "tiles"), a["ndvi"], size, a["absent"])
    gen.write_parquet(gen.long_frame(a["qa"], size, a["absent"], "qa"), os.path.join(out, "qa.parquet"))
    gen.write_parquet(gen.polygons(seed, size), os.path.join(out, "poly.parquet"))
    with open(os.path.join(out, "arrays.bin"), "wb") as f:
        f.write(gen.zone_grid(seed, size).tobytes())
        f.write(gen.append_array(seed, size, 0).tobytes())
    gen.write_parquet(gen.corpus(seed, csize), os.path.join(out, "docs.parquet"))
    e = gen.embeddings(seed, csize)
    gen.write_parquet(gen.vectors_frame(e["vectors"], "vec_id", "embedding"), os.path.join(out, "vec.parquet"))


def test_same_seed_gives_identical_inputs(tmp_path):
    _write_inputs(str(tmp_path / "a"), 7)
    _write_inputs(str(tmp_path / "b"), 7)
    _write_inputs(str(tmp_path / "c"), 8)
    a, b, c = (_tree_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_planted_corpus_shape():
    docs = gen.corpus(3, gen.TINY_CORPUS)
    s = gen.TINY_CORPUS
    assert len(docs) == s.n_base + s.n_exact + s.n_near + s.n_short
    assert docs.text.is_unique  # exact copies differ in case/whitespace only


@pytest.mark.parametrize("n", [11, 12, 19, 20, 40, 100, 1000])
def test_tail_percentile_leaves_ten_ops_beyond(n):
    p = core.tail_percentile(n)
    values = [float(i) for i in range(n)]
    beyond = lambda q: sum(v > core.percentile(values, q) for v in values)  # noqa: E731
    assert beyond(p) >= core.TAIL_MIN_BEYOND
    assert p == 99 or beyond(p + 1) < core.TAIL_MIN_BEYOND


def test_tail_percentile_none_when_too_few_ops():
    assert core.tail_percentile(10) is None
    assert core.tail_percentile(3) is None


def test_percentile_matches_linear_definition():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert core.percentile(xs, 50) == 3.0
    assert core.percentile(xs, 100) == 5.0
    assert math.isclose(core.percentile(xs, 95), 4.8)


def test_metric_names_match_benchmark_json():
    e2e = core.end_to_end(
        [core.OpRecord(0, "x", 0, 1.0)], [{"pass_s": 1.0, "cpu_s": 1.0, "peak_rss_mb": 1.0}], 1.0, 50
    )
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == ["cube_query", "curation"]


def _check_result_line(line: str, names: set[str]) -> dict:
    d = json.loads(line)
    assert set(d) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(d["attempted"], int) and d["attempted"] >= 1
    assert isinstance(d["failed"], int)
    assert set(d["metrics"]) == names
    for m in d["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], (int, float))
    return d


@pytest.mark.parametrize("workload,trace", [("cube_query", 1), ("curation", 1)])
def test_tiny_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    key = "per_layer" if trace else "end_to_end"
    d = _check_result_line(lines[-1], {m["name"] for m in BENCH[key]})
    assert d["correct"] and d["failed"] == 0
    assert f"perfbench: {workload} ops_failed_frac = 0.0000 ratio" in lines
    for name in [m["name"] for m in BENCH["end_to_end"]] + ["peak_rss_mb"]:
        assert any(l.startswith(f"perfbench: {workload} {name} = ") for l in lines)


def test_refuses_to_run_without_the_program(tmp_path):
    """Copied alone (no rastercube_spark beside it) the benchmark exits
    non-zero without printing a result line."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
