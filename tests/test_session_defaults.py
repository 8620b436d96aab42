"""get_spark's default sizing comes from the host, not a fixed box."""

from __future__ import annotations

import os

from zensearch_spark.session import default_sizing


def test_default_sizing_follows_host():
    cores, mem = default_sizing({})
    assert cores == len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= max(1, phys_gb / 4 + 0.5)


def test_default_sizing_env_overrides():
    env = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    assert default_sizing(env) == (3, "2g")
