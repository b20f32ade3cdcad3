"""One benchmark run: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the root of a checkout.

A run generates its inputs from the seed, sets the engine up three
times (the first, which starts the JVM, is ``cold_setup_s``; the median
of the other two is ``setup_s``), runs the workload's bulk step and its
untimed warm-up repetitions, if any, then drives the workload in a
closed loop (one client, each operation starts when the previous one
ends) for ``--seconds`` and to the end of the current repetition,
checks every output outside the timed window and prints one JSON
object as the last line of standard output. ``--trace
1`` runs the window untraced and then with spans around every layer
call, and reports the per-layer metrics instead. Every file the run
writes lives under ``.perfbench_work/`` in the checkout and is removed
before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "personal_health_etl_pipeline_spark"
WORKLOADS = ("etl_daily", "analytics_mix", "corpus_curate")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="shrink every input (smoke tests); 1.0 is the benchmark")
    return p.parse_args(argv)


def _isolate(work: str) -> dict[str, str]:
    """Point every engine write under ``work`` and cap threads at nproc;
    returns the extra Spark conf. Must run before pyspark starts a JVM."""
    from perfbench.harness import nproc

    n = nproc()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = str(min(int(cpus), n)) if cpus.isdigit() and int(cpus) > 0 else str(n)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS", cpus),
    })
    # the engine's 8 GB driver default is far above what these inputs need
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "ERROR",
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tests"))  # the oracle compare, parity.py
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: no {PACKAGE}/ next to perfbench/ — nothing to measure",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        conf = _isolate(work)
        from perfbench import harness
        from perfbench.workloads import run_workload

        result, report = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace),
            args.scale, work, conf,
        )
        report["environment"] = harness.environment(ROOT, PACKAGE)
        print(json.dumps(report, sort_keys=True, default=str))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"run.py: {time.perf_counter() - t0:.1f}s wall", file=sys.stderr)
    sys.exit(code)
