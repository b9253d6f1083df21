"""SPARK_GRAFT_CPUS rejects invalid values with a ValueError that names
the knob, instead of a bare int() error or a silently odd setting
(local[0] with 0 shuffle partitions)."""

from __future__ import annotations

import pytest

from unilever_scraping_etl_spark import session


def test_cpus_knob_rejects_invalid_values(monkeypatch):
    for bad in ("0", "-2", "four", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            session.default_parallelism()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.default_parallelism() >= 1
