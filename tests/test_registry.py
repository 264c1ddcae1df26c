"""Registry guards: the driver zips queries() with oracle_sql(), every
oracle belongs to a registered query, and a name registers only once."""

from __future__ import annotations

import pytest

from rastercube_spark import registry


def test_oracle_order_consistent():
    # oracle_sql() must present the same relative order (driver zips them)
    q = [n for n in registry.queries() if n in registry.oracle_sql()]
    assert q == list(registry.oracle_sql())


def test_every_oracle_has_a_query():
    orphans = set(registry.oracle_sql()) - set(registry.queries())
    assert not orphans, f"oracle SQL without a registered query: {orphans}"


def test_duplicate_name_raises():
    name = "zz_test_duplicate_registration"
    registry.queries()  # load the real surface first
    try:
        registry.query(name)(lambda spark, sf_dir: None)
        with pytest.raises(ValueError, match=name):
            registry.query(name)(lambda spark, sf_dir: None)
    finally:
        registry._QUERIES.pop(name, None)
    assert name not in registry.queries()
