"""Show that every output check fails on a perturbed output.

    python3 splitbench/selftest.py [--workload NAME] [--seed N]

Run from the repository root. For each workload the job runs once into a
fresh directory (the outputs are made anew, never kept in the repo); the
read-back output must pass its check, and each of three perturbed copies
(one dropped row, one moved node or changed payload, one extra version)
must fail it. Exits 1 if any check misses its fault.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

import numpy as np

import run
import workloads
from tracing import ProcTree


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(run.ROOT))
    names = args.workload or sorted(workloads.WORKLOADS)
    work = Path.cwd() / ".splitbench" / f"selftest-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ok = True
    try:
        spark = run.make_session(work, "splitbench-selftest")
        try:
            for name in names:
                wl = workloads.WORKLOADS[name]()
                wl.seed = args.seed
                wdir = work / name
                wdir.mkdir()
                wl.setup(spark, wdir, args.seed)
                wl.run(spark, wdir / "out")
                got = wl.read(wdir / "out")
                errs = wl.check(got)
                print(f"{name:18s} unperturbed      "
                      f"{'passes' if not errs else 'FAILS: ' + errs[0]}")
                ok &= not errs
                rng = np.random.default_rng(args.seed)
                for label, bad in workloads.perturbations(name, got, rng):
                    errs = wl.check(bad)
                    print(f"{name:18s} {label:16s} "
                          f"{'detected: ' + errs[0][:90] if errs else 'MISSED'}")
                    ok &= bool(errs)
        finally:
            run.stop_session(spark, ProcTree())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (Path.cwd() / ".splitbench").rmdir()
        except OSError:
            pass
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
