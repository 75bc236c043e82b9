"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed``, runs it at ``local[nproc]`` from this one driver process,
checks the outputs, and prints one ``metric <name> = <value> <unit>``
line per metric followed, as the last line of standard output, by one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see perfbench/NOTES.md). Exits 1 when a correctness check
failed and 2 when the program under test is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _program_present() -> bool:
    return (os.path.isdir(os.path.join(REPO, "newscrawler_spark"))
            and os.path.isfile(os.path.join(REPO, "jobs", "curate_job.py")))


def _start_spark(master: str, nproc: int):
    from newscrawler_spark.session import get_spark

    return get_spark(
        master=master, app_name="perfbench", shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM and the Python workers it forked,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    from harness import process_tree

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program under test (newscrawler_spark/, "
              f"jobs/curate_job.py) is missing under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import workloads
    from harness import EnvRecord

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher too: temp files under the
        # run dir, and no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(nproc),
    })
    env = EnvRecord(master)
    digests = workloads.DigestBook(os.path.join(HERE, "digests.json"),
                                   os.path.join(WORK, "digests.json"))
    t0 = time.monotonic()
    spark = _start_spark(master, nproc)
    session_s = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx = workloads.Context(
        spark=spark, repo=REPO, work=run_dir, seed=args.seed,
        seconds=args.seconds, trace=bool(args.trace), session_s=session_s,
        jvm_pid=spark.sparkContext._gateway.proc.pid, digests=digests,
    )
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    except Exception:
        # print while the JVM is up: Py4J errors read their text from it
        traceback.print_exc()
        raise
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    digests.save()

    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    correct = res.failed == 0
    info = dict(res.info, env=env.finish(), session_s=session_s,
                failed_ratio=res.failed / res.attempted)
    print("info " + json.dumps(info, default=str))
    for name, unit in units.items():
        print(f"metric {name} = {res.metrics[name]:.6g} {unit}")
    print(f"metric failed_ratio = {info['failed_ratio']:.6g} ratio")
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {name: {"value": res.metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
