"""Host-sized session defaults (session.session_defaults): pure, so no
second Spark session is started."""

from __future__ import annotations

import os

from osm_history_splitter_spark.session import session_defaults

GIB = 2**30


def test_defaults_follow_the_host():
    cores, mem = session_defaults(env={}, cpus=4, ram_bytes=int(15.7 * GIB))
    assert cores == 4
    assert mem == f"{int(15.7 * GIB) // 2 // 2**20}m"  # half of RAM
    # the heap is capped at 16 g on big hosts
    assert session_defaults(env={}, cpus=96, ram_bytes=512 * GIB) == (96, "16384m")


def test_defaults_probe_this_process():
    cores, mem = session_defaults(env={})
    assert cores == len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem == f"{min(16 * 1024, ram // 2 // 2**20)}m"


def test_environment_wins():
    env = {"SPARK_GRAFT_CPUS": "32", "SPARK_DRIVER_MEM": "3g"}
    assert session_defaults(env=env, cpus=4, ram_bytes=8 * GIB) == (32, "3g")
    # an empty variable counts as unset
    env = {"SPARK_GRAFT_CPUS": "", "SPARK_DRIVER_MEM": ""}
    assert session_defaults(env=env, cpus=4, ram_bytes=8 * GIB) == (4, "4096m")


def test_run_concurrent_threads_inherit_own_property_copies(spark):
    """Each thunk sees the caller's job group, and a group one thread
    sets is invisible to the others and to the caller (no shared
    mutable property set between threads)."""
    import sys
    import time

    from osm_history_splitter_spark.session import run_concurrent

    sc = spark.sparkContext

    def thunk(i):
        inherited = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"t{i}", "")
        time.sleep(0.01)
        n = spark.range(i + 1).count()
        return inherited, sc.getLocalProperty("spark.jobGroup.id"), n

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    sc.setJobGroup("caller", "")
    try:
        got = run_concurrent(lambda i=i: thunk(i) for i in range(12))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sys.setswitchinterval(old)
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert got == [("caller", f"t{i}", i + 1) for i in range(12)]
