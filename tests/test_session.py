"""The session's heap default follows the host, with no JVM started:
a share of physical memory, or of the cgroup limit when that is
lower, and ``SPARK_DRIVER_MEMORY`` still wins."""

from __future__ import annotations

import pytest

from ecommerce_data_engineering_spark import session as S

GiB = 1 << 30


def _mib(total: int) -> str:
    return f"{int(total * S.HEAP_SHARE) >> 20}m"


def test_heap_is_a_share_of_host_memory():
    assert S.HEAP_SHARE <= 0.6
    for total in (GiB, 15 * GiB, 250 * GiB):
        assert S.heap_for(total) == _mib(total)
        assert 0 < int(S.heap_for(total)[:-1]) << 20 <= total * 0.6


def test_lower_cgroup_limit_wins():
    assert S.heap_for(64 * GiB, 8 * GiB) == _mib(8 * GiB)
    assert S.heap_for(8 * GiB, 64 * GiB) == _mib(8 * GiB)
    assert S.heap_for(8 * GiB, None) == _mib(8 * GiB)


def test_env_override_wins(monkeypatch):
    captured = {}

    class Builder:
        def __getattr__(self, name):
            return lambda *a: self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("no JVM in this test")

    monkeypatch.setattr(S.SparkSession, "builder", Builder())
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    with pytest.raises(RuntimeError, match="no JVM"):
        S.get_spark()
    assert captured["spark.driver.memory"] == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    with pytest.raises(RuntimeError, match="no JVM"):
        S.get_spark()
    assert captured["spark.driver.memory"] == S._host_heap()
