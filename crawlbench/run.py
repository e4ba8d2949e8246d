"""Same-host benchmark of the crawl engine.

    python3 crawlbench/run.py --workload crawl_rounds --seed 1 --seconds 15 --trace 0

Run from the repository root. One closed-loop client: this process runs
one crawl or query at a time on ``local[N]`` with
N = the CPUs available to it, and starts no threads of its own. Inputs
come from ``--seed``; answers are checked against independent references
outside the timed window.

Output: a detail line (host record, workload-specific metrics, failure
counts), then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric of
``spec.END_TO_END`` with ``--trace 0``, every per-layer metric of
``spec.PER_LAYER`` with ``--trace 1``. A traced run also writes its spans
to ``.bench_work/traces/``. Everything the run writes stays under
``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "tiny"), default="bench",
                   help="input sizes; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write under run_dir, and
    let the Python workers import the program."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM (the spark-submit launcher too): temp files under run_dir,
    # and no hsperfdata file, which HotSpot writes under /tmp regardless
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(run_dir: str, event_dir: str | None) -> dict[str, str]:
    from crawlbench.trace import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if event_dir:
        conf.update(event_log_conf(event_dir))
    return conf


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse(argv)
    for need in ("mr_crawly_spark", "oracle", "__spark_entry__.py", "tests/test_entry.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"crawlbench: {need} not found next to crawlbench/; run from "
                  "a checkout of the repository", file=sys.stderr)
            return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _isolate(run_dir)

    from crawlbench import hostinfo
    from crawlbench.spec import END_TO_END, PER_LAYER
    from crawlbench.workloads import WORKLOADS, Ctx, run_workload

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from mr_crawly_spark.session import get_spark

    n_cores = len(os.sched_getaffinity(0))
    master = f"local[{n_cores}]"
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
    conf = session_conf(run_dir, event_dir)

    ticks0 = hostinfo.cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(app_name="crawlbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t0
    ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
              size=args.size, work_dir=run_dir, event_dir=event_dir,
              get_spark_s=get_spark_s)
    try:
        res = run_workload(args.workload, ctx)
    finally:
        _stop(ctx.spark)
    (all1, stolen1), (all0, stolen0) = hostinfo.cpu_ticks(), ticks0
    host = {"nproc": os.cpu_count(), "cpus_available": n_cores, "master": master,
            "cpu_steal_frac": (stolen1 - stolen0) / max(all1 - all0, 1),
            "capacity": hostinfo.capacity_probe(n_cores)}
    if res.tracer is not None:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        res.tracer.write(os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    frac = res.failed / max(res.attempted, 1)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host,
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()},
        "failed_ops_frac": {"value": frac, "unit": "ratio",
                            "failed": res.failed, "attempted": res.attempted},
        "problems": res.problems[:10],
    }))
    if args.trace:
        metrics = {k: {"value": res.layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": max(res.attempted, 1),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
