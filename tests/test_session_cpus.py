"""``SPARK_GRAFT_CPUS`` parsing: unset means one core, a malformed value
raises instead of silently meaning every core. No session is started:
the builder only records its options."""

from __future__ import annotations

import pytest

from forklift_spark.session import _cpus, session_builder


def _master_and_shuffle(monkeypatch) -> tuple[str, str]:
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    opts = session_builder()._options
    return opts["spark.master"], opts["spark.sql.shuffle.partitions"]


@pytest.mark.parametrize("raw", [None, ""])
def test_unset_means_one_core(monkeypatch, raw):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert _cpus() == 1
    assert _master_and_shuffle(monkeypatch) == ("local[1]", "8")


def test_set_value_sizes_master_and_shuffle(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert _cpus() == 12
    assert _master_and_shuffle(monkeypatch) == ("local[12]", "12")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    assert _cpus() == 1


@pytest.mark.parametrize("raw", ["four", "2.5", "4 cores"])
def test_malformed_value_raises(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _cpus()
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session_builder()
