"""session.get_spark checks SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM
before it builds a session: a bad value fails with a ValueError naming
the variable, not later inside Spark or the JVM launcher. Only invalid
values reach get_spark here, so the shared test session is untouched."""

from __future__ import annotations

import pytest

from neural_search_spark import session


@pytest.mark.parametrize("cpus", ["0", "-2", "four", "2.5", ""])
def test_bad_cpu_count_is_rejected(monkeypatch, cpus):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark("env-check")


@pytest.mark.parametrize("mem", ["8", "2gb", "lots", "100m", "-1g", ""])
def test_bad_driver_memory_is_rejected(monkeypatch, mem):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", mem)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session.get_spark("env-check")


def test_valid_settings_pass_through(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "512M")
    assert session._settings() == (6, "512M")
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session._settings() == (32, "8g")
