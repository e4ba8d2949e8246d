"""Seen-prefilter route benchmark: exact anti-join vs the bucket-partitioned
Bloom SIDECAR probe, each over two seen-base layouts:

- ``checkpointed``: partitioned+sorted on the join keys and localCheckpoint'ed,
  as the engine holds its flush base;
- ``parquet``: the same rows read back from a parquet dir, with no layout.

Both routes must return the IDENTICAL fresh-set count (the prefilter
no-false-negative contract at bench scale). Build costs are reported
separately from probe costs: builds happen once per crawl, probes every
round. BENCH/sidecar_probe_4cpu.json also holds the deleted driver-dict
route's timings.

Writes BENCH/<out_name> (default sidecar_probe_run.json, so the recorded
sidecar_probe.json and sidecar_probe_4cpu.json stay as history). Usage:
    python scripts/bench_sidecar_probe.py [n_candidates] [out_name]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mr_crawly_spark import bench_jobs  # noqa: E402
from mr_crawly_spark.functions.urls import url_hash_col  # noqa: E402
from mr_crawly_spark.operators import seen as seen_ops  # noqa: E402
from mr_crawly_spark.session import get_spark  # noqa: E402

N_BUCKETS = 32
M_BITS = 1 << 21  # 256 KiB/bucket; ~17 bits/key at 4M keys over 32 buckets
K = 5


def build_inputs(spark, n_candidates: int, seen_dir: str):
    """Frontier-shaped workload: candidates half-seen, JVM-generated; the
    seen rows are written to ``seen_dir`` and served in both layouts."""
    n_hosts = 10_000
    host = bench_jobs._host_col(F.col("id"), n_hosts)
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("id").cast("string")
    )
    cand = (
        spark.range(n_candidates)
        .select(url.alias("url"))
        .withColumn("url_hash", url_hash_col(F.col("url")))
        .localCheckpoint()
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = (
        spark.range(n_candidates // 2)
        .select(url.alias("url"))
        .withColumn("url_hash", url_hash_col(F.col("url")))
    )
    rows.write.mode("overwrite").parquet(seen_dir)
    seen_plan = (
        spark.read.parquet(seen_dir)
        .repartition(n_parts, F.col("url_hash"), F.col("url"))
        .sortWithinPartitions("url_hash", "url")
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        seen_ck = seen_plan.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return cand, {"checkpointed": seen_ck, "parquet": spark.read.parquet(seen_dir)}


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, round(time.monotonic() - t0, 3)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    out_name = sys.argv[2] if len(sys.argv) > 2 else "sidecar_probe_run.json"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="sidecar-probe-bench", master=f"local[{cpus}]",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="sidecar_bench_")
    cand, layouts = build_inputs(spark, n, os.path.join(tmp, "seen"))

    warm_c = cand.limit(200_000).localCheckpoint()
    for seen in layouts.values():
        seen_ops.filter_unseen(warm_c, seen).count()
    warm_dir = os.path.join(tmp, "bloom_warm")
    seen_ops.build_bloom_sidecar(warm_c, warm_dir, N_BUCKETS, M_BITS, K, round_=0)
    seen_ops.filter_unseen(
        warm_c, layouts["checkpointed"], n_buckets=N_BUCKETS, m_bits=M_BITS,
        k=K, sidecar_path=warm_dir,
    ).count()

    out_layouts = {}
    counts = []
    for lname, seen in layouts.items():
        bloom_dir = os.path.join(tmp, f"bloom_{lname}")
        builds = {}
        _, builds["bloom_sidecar_build_sec"] = timed(
            lambda s=seen, d=bloom_dir: seen_ops.build_bloom_sidecar(
                s, d, N_BUCKETS, M_BITS, K, round_=0
            )
        )
        routes = {
            "exact_antijoin": lambda s=seen: seen_ops.filter_unseen(cand, s),
            "bloom_sidecar": lambda s=seen, d=bloom_dir: seen_ops.filter_unseen(
                cand, s, n_buckets=N_BUCKETS, m_bits=M_BITS, k=K,
                sidecar_path=d,
            ),
        }
        results = {}
        for name, route in routes.items():
            runs = []
            for _ in range(2):
                cnt, secs = timed(lambda r=route: r().count())
                counts.append(cnt)
                runs.append(secs)
            results[name] = {
                "fresh_count": cnt, "probe_sec": runs, "best_probe_sec": min(runs)
            }
        out_layouts[lname] = {"builds": builds, "routes": results}

    identical = len(set(counts)) == 1
    out = {
        "n_candidates": n,
        "n_seen": n // 2,
        "master": f"local[{cpus}]",
        "geometry": {"n_buckets": N_BUCKETS, "m_bits": M_BITS, "k": K},
        "layouts": out_layouts,
        "all_routes_identical_count": identical,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return 0 if identical else 1


if __name__ == "__main__":
    raise SystemExit(main())
