"""Cluster-shipping proof (SURVEY §2.7 D5): the reference ships an egg
to workers via sc.addPyFile (hadoop/spark.py:54-102); the Spark-native
analog is ``spark-submit --py-files rastercube_spark.zip``, where
executors import the package through zipimport. These tests build that
zip and prove the package imports and computes from INSIDE it in a
clean interpreter — which fails if any module grows an import-time
``__file__``-relative data load or other zip-hostile behavior."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "rastercube_spark")


def _build_pyfiles_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for root, _dirs, files in os.walk(PKG):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))


def test_package_is_zip_importable(tmp_path):
    zpath = str(tmp_path / "rastercube_spark.zip")
    _build_pyfiles_zip(zpath)
    # clean interpreter, package resolvable ONLY through the zip — the
    # executor-side situation under --py-files
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import rastercube_spark.operators.sampling as s; "
        "import rastercube_spark.functions.geo; "
        "import rastercube_spark.sources.catalog; "
        "assert s.rate_to_hex_threshold(0.5) == '80000000'; "
        "assert s.__file__.startswith(sys.argv[1]); "
        "print('ZIPOK')"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = ""
    out = subprocess.run(
        [sys.executable, "-c", code, zpath],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ZIPOK" in out.stdout


def test_no_import_time_file_access():
    """Every module must import without touching __file__-relative data
    (zipimport provides no real files). Import the whole package tree in
    one clean subprocess from the zip — any offender raises there."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        zpath = os.path.join(d, "pkg.zip")
        _build_pyfiles_zip(zpath)
        mods = []
        for root, _dirs, files in os.walk(PKG):
            for f in files:
                if f.endswith(".py") and f != "__main__.py":
                    rel = os.path.relpath(os.path.join(root, f), REPO)
                    mod = rel[:-3].replace(os.sep, ".")
                    mods.append(mod.removesuffix(".__init__"))
        assert len(mods) > 25
        code = (
            "import sys; sys.path.insert(0, sys.argv[1]);\n"
            "import importlib\n"
            "for m in sys.argv[2].split(','):\n"
            "    importlib.import_module(m)\n"
            "print('ALLOK')"
        )
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["PYTHONPATH"] = ""
        out = subprocess.run(
            [sys.executable, "-c", code, zpath, ",".join(sorted(mods))],
            capture_output=True, text=True, env=env, cwd=d,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "ALLOK" in out.stdout


def test_spark_submit_pyfiles_smoke(tmp_path):
    """The D5 walkthrough end-to-end (r6 VERDICT "Next round" #8): build
    the --py-files zip, then run a REAL ``spark-submit`` whose driver
    script imports the package ONLY through the shipped zip (cwd and
    PYTHONPATH are clean) and executes a shuffle query on the sf0.001
    tables. This is the reference's egg-shipping flow
    (hadoop/spark.py:54-102) in its Spark-native form; a wheel is the
    image-baking alternative (docs/SPARK_SUBMIT.md — this container
    lacks the `wheel` package and an index to fetch it, recorded there).
    """
    import shutil

    import pyspark

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(submit):  # pragma: no cover
        submit = shutil.which("spark-submit")
    assert submit, "no spark-submit available"

    zpath = str(tmp_path / "rastercube_spark.zip")
    _build_pyfiles_zip(zpath)
    driver = tmp_path / "driver.py"
    driver.write_text(
        "import sys\n"
        "import rastercube_spark  # resolved from --py-files\n"
        "assert 'rastercube_spark.zip' in rastercube_spark.__file__, \\\n"
        "    rastercube_spark.__file__\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.getOrCreate()\n"
        "from rastercube_spark.registry import queries\n"
        "rows = queries()['q20_tpch_q1_agg'](spark, sys.argv[1]).collect()\n"
        "assert len(rows) > 0\n"
        "print('SUBMITOK', len(rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = ""
    out = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            str(driver),
            os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001"),
        ],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=300,
    )
    assert out.returncode == 0, (out.stdout + out.stderr)[-3000:]
    assert "SUBMITOK" in out.stdout, out.stdout[-2000:]


def test_out_of_package_imports_resolve():
    """The scripts around the package — the benchmark (``perfbench/``,
    ``bench.py``), ``tools/*.py`` and the driver entry point — import
    package names, many of them inside functions where nothing imports
    them until that code path runs. Every ``from rastercube_spark…
    import name`` there must resolve, so a rename inside the package
    breaks this test instead of silently breaking a benchmark leg."""
    import ast
    import glob
    import importlib

    paths = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for d in ("tools", "perfbench"):
        paths += sorted(glob.glob(os.path.join(REPO, d, "*.py")))
    resolved, missing = 0, []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == "rastercube_spark"
            ):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if hasattr(mod, alias.name):
                    resolved += 1
                    continue
                try:  # a submodule not yet imported by its package
                    importlib.import_module(f"{node.module}.{alias.name}")
                    resolved += 1
                except ImportError:
                    rel = os.path.relpath(path, REPO)
                    missing.append(f"{rel}:{node.lineno} {node.module}.{alias.name}")
    assert not missing, missing
    assert resolved > 50, resolved


def test_no_driver_threads_in_package():
    """No module in the package imports ``concurrent.futures`` or
    ``threading``. A Spark job started from a plain Python thread loses
    the caller's job group and local properties, so Spark's status store
    can no longer attribute it to the query that ran it."""
    import ast
    import glob

    banned = ("concurrent.futures", "threading")
    found = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                mod = node.module or ""
                names = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                continue
            if any(n == b or n.startswith(b + ".") for n in names for b in banned):
                found.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    assert not found, (
        f"driver-side threads in {found}: run Spark actions on the caller's "
        "thread, or start the thread as pyspark.InheritableThread so it "
        "keeps the caller's job group and local properties"
    )
