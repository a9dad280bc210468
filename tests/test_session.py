"""Host sizing of the session defaults (no JVM is started)."""

from __future__ import annotations

import warnings

import pytest

from casf_spark.session import host_sizing

GIB = 1024


def test_defaults_follow_the_host():
    # 15.7 GiB host: half of physical memory, every usable CPU
    assert host_sizing({}, 4, 16070) == (4, "8035m")
    # large host: the heap default stops at 16g
    assert host_sizing({}, 64, 256 * GIB) == (64, "16384m")


def test_overrides_take_precedence():
    env = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "6g"}
    assert host_sizing(env, 32, 64 * GIB) == (2, "6g")
    assert host_sizing({"SPARK_GRAFT_CPUS": "8"}, 4, 16 * GIB) == (8, "8192m")
    assert host_sizing({"SPARK_GRAFT_DRIVER_MEM": "3072m"}, 4,
                       16 * GIB) == (4, "3072m")


def test_warns_when_heap_and_code_cache_exceed_memory():
    with pytest.warns(RuntimeWarning, match="exceeds"):
        host_sizing({"SPARK_GRAFT_DRIVER_MEM": "16g"}, 4, 16070)
    # heap + 1 GiB code cache still fits: no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        host_sizing({"SPARK_GRAFT_DRIVER_MEM": "14g"}, 4, 16070)
        host_sizing({}, 4, 16070)
