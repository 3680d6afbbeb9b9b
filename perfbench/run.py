"""Round benchmark for the crawl and tracker engines.

    python3 perfbench/run.py --workload crawl_discovery --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One process drives one workload in a
closed loop on ``local[nproc]``: set-up (repeated, median reported),
untimed warm-up rounds, then timed rounds until ``--seconds`` have been
spent in them, then the untimed correctness checks. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` is a separate traced run
that prints the per-layer metrics. The last stdout line is the result
JSON; the line before it carries the run's diagnostics (VM steal, load
average, per-round figures). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()

#: per-workload sizes; ``tiny`` is the smoke-test scale
SIZES = {
    "crawl_discovery": {
        "full": {"pages": 60_000, "hosts": 3_000, "default_budget": 8, "buckets": 4},
        "tiny": {"pages": 400, "hosts": 20, "default_budget": 8, "buckets": 4},
    },
    "tracker_dashboard": {
        "full": {"jobs": 50_000, "hosts": 500, "open_frac": 0.5,
                 "workers": 500, "budget": 8, "buckets": 4},
        "tiny": {"jobs": 4_000, "hosts": 20, "open_frac": 0.5,
                 "workers": 100, "budget": 8, "buckets": 4},
    },
}
MIN_TIMED_ROUNDS = 1
MAX_TIMED_ROUNDS = 40


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def start_spark(work: str):
    """``local[nproc]`` session whose scratch space lives under ``work``."""
    from crawlingathome_server_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the pyspark daemon, and wait for them."""
    import proctree

    gateway = spark.sparkContext._gateway
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    procs = proctree.descendants(jvm_pid)
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(
        os.path.exists(f"/proc/{p}") for p in procs
    ):
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import crawlingathome_server_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    # the pyspark workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = start_spark(work)
    try:
        from bench_loop import run_workload

        result, diag = run_workload(
            spark, args, work, os.path.join(work_root, "ref"), SIZES[args.workload][args.scale],
            min_rounds=MIN_TIMED_ROUNDS, max_rounds=MAX_TIMED_ROUNDS,
        )
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
