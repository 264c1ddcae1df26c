"""Session factory defaults."""

from __future__ import annotations

import os

from rastercube_spark.session import local_cores


def test_local_cores_defaults_to_usable_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3
