"""SparkSession factory tuned for the sandbox (local[N]) but written so the
same settings are what you would ship to a 1000-executor cluster:

- AQE on (adaptive shuffle partitions, broadcast conversion, skew-join split)
- Arrow on (all custom operators are pandas-UDF / Arrow batched)
- shuffle partitions sized to the parallelism level, not the 200 default
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to cluster parallelism — scale-adaptive.

    A single-file, single-row-group parquet plans as ONE scan task no
    matter the split config (a row group is the smallest readable unit),
    so every per-row computation downstream of such a scan runs on one
    core until the first exchange. When the planned scan partition count
    is below the session's default parallelism, round-robin repartition
    to it: the shuffle moves the (small, by construction) table once and
    unlocks N-way downstream compute. At scale the guard disables this —
    a big corpus scan already plans >= cores partitions, and the
    repartition would be a pure-overhead full shuffle of the corpus
    (guide §2.5 input skew / §6 input split sizing).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def run_concurrent(thunks):
    """Run independent Spark actions from a small thread pool so each
    job's tail back-fills executors freed by the others (the scheduler
    runs concurrent jobs FIFO, so their tails overlap). Results in
    submission order; the first failure re-raises.

    Each thunk runs with its own copy of the caller's Spark local
    properties (job group, description), so its jobs are tagged like
    the caller's would be."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    thunks = list(thunks)
    if len(thunks) <= 1:
        return [t() for t in thunks]
    spark = SparkSession.getActiveSession()
    if spark is not None:
        # one wrap per thunk: each clones the properties, so threads never
        # share (and race on) one mutable property set
        thunks = [inheritable_thread_target(spark)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        return [f.result() for f in futures]


#: driver heap ceiling when ``SPARK_DRIVER_MEM`` is unset
_MAX_DRIVER_MB = 16 * 1024


def session_defaults(
    env=None, cpus: int | None = None, ram_bytes: int | None = None
) -> tuple[int, str]:
    """Host-sized ``(cores, driver_memory)`` defaults of :func:`get_spark`.

    ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` in ``env`` win; otherwise
    cores are the CPUs this process may run on and the heap is half the
    physical RAM, capped at 16 g. ``cpus``/``ram_bytes`` override the
    host probe (pure: nothing here starts a session)."""
    env = os.environ if env is None else env
    if env.get("SPARK_GRAFT_CPUS"):
        cores = int(env["SPARK_GRAFT_CPUS"])
    else:
        cores = cpus if cpus is not None else len(os.sched_getaffinity(0))
    mem = env.get("SPARK_DRIVER_MEM")
    if not mem:
        if ram_bytes is None:
            ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{min(_MAX_DRIVER_MB, ram_bytes // 2 // 2**20)}m"
    return cores, mem


def get_spark(
    app_name: str = "splitter-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with host-sized defaults (:func:`session_defaults`);
    ``cores`` and ``extra_conf`` entries (e.g. ``spark.driver.memory``)
    override them."""
    default_cores, driver_mem = session_defaults()
    if cores is None:
        cores = default_cores
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.executor.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
