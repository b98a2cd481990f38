"""Splitter benchmark: one named workload, one process, closed loop.

    python3 splitbench/run.py --workload split_pbf_softcut --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The process builds a Spark session with
explicit cores, heap, scratch and event-log settings, writes the seeded
inputs, runs untimed warm-up iterations, then times job iterations until
``--seconds`` have passed (whole iterations only). The output of the
last timed iteration is checked against :mod:`oracle`. The last line of standard output is one JSON object::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see README.md). Scratch lives under
``.splitbench/`` in the current directory and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# untimed job iterations before the timed ones: the first call in a
# process costs about twice a later one (JIT, PySpark worker start)
WARMUP = 1


def process_start() -> float:
    """Wall-clock start of this process, from /proc (clock-tick precision)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def make_session(work: Path, app: str):
    from osm_history_splitter_spark.session import get_spark

    cores = max(1, min(2, len(os.sched_getaffinity(0)) - 1))
    for d in ("events", "local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # workers import the package from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    spark = get_spark(app, cores=cores, shuffle_partitions=cores, extra_conf={
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(work / "events"),
        "spark.eventLog.compress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, tree) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort, then reap
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    while len(tree.pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree.pids()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def one_iteration(wl, spark, out: Path, tree) -> dict:
    c0, t0 = tree.cpu_s(), time.time()
    wl.run(spark, out)
    t1 = time.time()
    c1 = tree.cpu_s()
    files = wl.outputs(out)
    return {"t0": t0, "t1": t1, "job_s": t1 - t0, "cpu_s": c1 - c0,
            "output_mb": sum(p.stat().st_size for p in files) / 1e6}


def check(wl, out: Path, label: str) -> bool:
    errs = wl.check(wl.read(out))
    for e in errs:
        print(f"[{wl.name}] {label}: {e}", file=sys.stderr)
    return not errs


def measure(wl, spark, work: Path, seconds: float, traced: bool, start: float):
    from tracing import ProcTree, Tracer

    tree = ProcTree()
    wl.setup(spark, work, wl.seed)
    for k in range(WARMUP):
        wl.run(spark, work / f"warm{k}")
        shutil.rmtree(work / f"warm{k}", ignore_errors=True)

    tracer = None
    if traced:
        import layers

        tracer = Tracer(spark, tree)
        tracer.install(layers.TARGETS)
    setup_s = time.time() - start
    iters = []
    begin = time.time()
    prev = None
    while True:
        out = work / f"it{len(iters)}"
        iters.append(one_iteration(wl, spark, out, tree))
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        prev = out
        if time.time() - begin >= seconds:
            break
    print("iterations:", " ".join(f"{it['job_s']:.2f}/{it['cpu_s']:.1f}" for it in iters),
          file=sys.stderr)
    correct = check(wl, prev, "last timed output")
    scans = []
    if traced:
        import layers

        scans = layers.standalone_scans(wl, spark, tracer)
        tracer.uninstall()
    return {"setup_s": setup_s, "iters": iters, "correct": correct, "tracer": tracer, "scans": scans,
            "last_out": prev}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = process_start()

    sys.path.insert(0, str(ROOT))
    try:
        import osm_history_splitter_spark  # noqa: F401
    except ImportError as e:
        print(f"splitbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads
    from tracing import read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"splitbench: unknown workload {args.workload!r} "
              f"(one of {', '.join(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    wl.seed = args.seed
    work = Path.cwd() / ".splitbench" / f"{wl.name}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        spark = make_session(work, f"splitbench-{wl.name}")
        from tracing import ProcTree

        try:
            res = measure(wl, spark, work, args.seconds, bool(args.trace), start)
        finally:
            stop_session(spark, ProcTree())
        jobs = read_event_log(work / "events")
        if args.trace:
            import layers

            metrics = layers.per_layer(wl, res, jobs)
        else:
            metrics = end_to_end(res, jobs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (Path.cwd() / ".splitbench").rmdir()
        except OSError:
            pass
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": len(res["iters"]),
        "failed": 0,
        "metrics": metrics,
    }))
    return 0


UNITS = {"setup_s": "s", "job_s": "s", "cpu_s": "s", "shuffle_mb": "MB",
         "output_mb": "MB"}


def end_to_end(res: dict, jobs) -> dict:
    from tracing import fold_jobs, jobs_between

    iters = res["iters"]
    for it in iters:
        it["shuffle_mb"] = fold_jobs(jobs_between(jobs, it["t0"], it["t1"]))[
            "shuffle_mb"]
    values = {
        "setup_s": res["setup_s"],
        "job_s": statistics.median(it["job_s"] for it in iters),
        "cpu_s": statistics.median(it["cpu_s"] for it in iters),
        "shuffle_mb": statistics.median(it["shuffle_mb"] for it in iters),
        "output_mb": statistics.median(it["output_mb"] for it in iters),
    }
    return {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
