"""Sweep profiler: run EVERY bench HEADLINE query with the bench session
shape and record, per query: wall (min-of-N), job wall-clock on the last
run (the union of job intervals, so concurrent jobs count once), and job
count. Ranks by gap (wall - jobsum: time outside any job) and by jobsum so
optimization work targets the right term (guide §1.1: decide whether
time goes to compute or to scheduler/driver).

Usage: python3 scripts/profile_all.py [--n 2] [--out /tmp/profile_all.json]
"""
import json
import os
import sys
import time
import urllib.request
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import HEADLINE  # noqa: E402
from neomarket_clickhouse_indexer_spark.queries import REGISTRY  # noqa: E402
from neomarket_clickhouse_indexer_spark.session import get_spark  # noqa: E402

n_runs = 2
out_path = "/tmp/profile_all.json"
if "--n" in sys.argv:
    n_runs = int(sys.argv[sys.argv.index("--n") + 1])
if "--out" in sys.argv:
    out_path = sys.argv[sys.argv.index("--out") + 1]

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = get_spark(
    "profile_all",
    cores=cpus,
    shuffle_partitions=max(cpus, 32),
    extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4048"},
)
spark.sparkContext.setLogLevel("ERROR")

from neomarket_clickhouse_indexer_spark.sources.tables import (  # noqa: E402
    TABLE_NAMES,
    enable_normalized_tier,
    load_table,
)

# same warmups as bench.py
spark.range(1_000_000).selectExpr("sum(id)").collect()
import pandas as pd  # noqa: E402

spark.range(1000).withColumn("k", (F.col("id") % 8)).groupBy("k").applyInPandas(
    lambda pdf: pd.DataFrame({"k": [pdf["k"].iloc[0]], "n": [len(pdf)]}),
    "k bigint, n bigint",
).write.format("noop").mode("overwrite").save()
for t in TABLE_NAMES:
    load_table(spark, sf_dir, t).limit(1).collect()
enable_normalized_tier(True)
for t in TABLE_NAMES:
    load_table(spark, sf_dir, t).limit(1).collect()
nat = load_table(spark, sf_dir, "nation")
reg = load_table(spark, sf_dir, "region")
(
    nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    .groupBy("r_name")
    .agg(F.count(F.lit(1)).alias("n"))
    .write.format("noop")
    .mode("overwrite")
    .save()
)

ui = spark.sparkContext.uiWebUrl
app_id = spark.sparkContext.applicationId


def _jobs() -> list:
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
        return json.load(r)


def _clear_memos() -> None:
    from neomarket_clickhouse_indexer_spark.queries import (
        multimodal_q as _mq,
        vectors_q as _vq,
    )

    _vq._NSW_MEMO.clear()
    _mq._PHASH_MEMO.clear()


import glob  # noqa: E402
import shutil  # noqa: E402


def _cold(name: str) -> None:
    if name in ("docs_near_dup_pairs", "docs_jaccard_pairs"):
        for d in glob.glob("/tmp/nmci_doc_bands_*"):
            shutil.rmtree(d, ignore_errors=True)
    if name == "semdedup_prune":
        spark.catalog.clearCache()
    if name in ("knn_nsw_graph", "multimodal_frame_dedup", "multimodal_caption_audit"):
        _clear_memos()


def _p(s: str) -> datetime:
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")


def _busy_s(jobs: list) -> float:
    """Seconds in which at least one job ran: the union of the jobs'
    [submission, completion] intervals, so overlapping jobs count once."""
    spans = sorted(
        (_p(j["submissionTime"]), _p(j["completionTime"]))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    )
    busy, end = 0.0, None
    for t0, t1 in spans:
        if end is not None and t0 < end:
            t0 = end  # the overlap is already counted
        if t1 > t0:
            busy += (t1 - t0).total_seconds()
        end = t1 if end is None else max(end, t1)
    return busy


rows = {}
for name in HEADLINE:
    fn = REGISTRY[name].fn
    runs = []
    last_jobs: list = []
    for i in range(n_runs):
        _cold(name)
        before_ids = {j["jobId"] for j in _jobs()}
        spark.sparkContext.setJobDescription(f"{name} run{i}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        runs.append(round(dt, 3))
        last_jobs = [j for j in _jobs() if j["jobId"] not in before_ids]
    jobsum = _busy_s(last_jobs)
    ntasks = sum(j.get("numTasks", 0) for j in last_jobs)
    rows[name] = {
        "runs": runs,
        "wall_min": min(runs),
        "jobsum_last": round(jobsum, 3),
        "njobs": len(last_jobs),
        "ntasks": ntasks,
        "gap_last": round(runs[-1] - jobsum, 3),
    }
    print(
        f"{name:38s} wall_min {min(runs):6.2f} jobsum {jobsum:6.2f} "
        f"njobs {len(last_jobs):3d} tasks {ntasks:5d} gap {runs[-1]-jobsum:6.2f}",
        flush=True,
    )

with open(out_path, "w") as f:
    json.dump(rows, f, indent=1)
tot = sum(r["wall_min"] for r in rows.values())
print(f"\nTOTAL wall_min {tot:.2f}s over {len(rows)} queries -> {out_path}")
print("\nTop by gap (driver time, last run):")
for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["gap_last"])[:20]:
    print(f"  {name:38s} gap {r['gap_last']:6.2f} wall {r['wall_min']:6.2f} njobs {r['njobs']}")
print("\nTop by jobsum:")
for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["jobsum_last"])[:20]:
    print(f"  {name:38s} jobsum {r['jobsum_last']:6.2f} wall {r['wall_min']:6.2f} tasks {r['ntasks']}")
