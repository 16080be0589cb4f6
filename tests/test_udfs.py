"""Guard-rail tests for the pandas-UDF demo tiers (the per-row-frame
window UDAF) — the fast production twins live in the same module and
are oracle-checked via the registry."""

from __future__ import annotations

import pytest


def test_udf_window_agg_refuses_production_volume(spark, monkeypatch):
    """The per-row-frame demo tier must fail fast past 1e6 rows with
    the fast twin named — same policy as the all-pairs cosine guard."""
    from census_postgres_py_spark import stats
    from census_postgres_py_spark.operators import udfs as mod

    class FakeCount:
        def count(self):
            return 1_000_001

        def select(self, *a, **k):
            return self

    monkeypatch.setattr(mod, "t", lambda *a, **k: FakeCount())
    # the guard reads the shared stats.rows footer count — fake it past
    # the threshold
    monkeypatch.setattr(stats, "rows", lambda *a, **k: 1_000_001)
    with pytest.raises(ValueError, match="udf_window_agg_fast"):
        mod.udf_window_agg(spark, "/nonexistent_sf_dir")
