"""Write sinks: append (S3) and idempotent partition replace (S4).

Reference patterns:
- S3 batch append: JSONEachRow inserts per table (src/main.ts:779-805) →
  plain partitioned parquet append.
- S4 idempotent replace: ``ALTER TABLE … DELETE WHERE wallet=… `` + INSERT
  rebuilds (src/build-ledger.ts:73-109, build-rollup-1d.ts:56-87) →
  dynamic partition overwrite: only the partitions present in the new data
  are replaced, everything else untouched. Same delete+insert atomicity
  class as the reference (per-partition), no table-wide rewrite.

At 100 TB the partition column IS the idempotence unit — pick it to match
the rebuild grain (wallet bucket for ledgers, date for rollups).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def prune_stale_staging(prefix: str, max_age_sec: float = 6 * 3600) -> None:
    """Remove ``/tmp/{prefix}*`` staging dirs/files left by DEAD processes.

    The pid-scoped staging discipline (concurrent pytest + driver_sim over
    one sf_dir must not race on a table) means every run mints a fresh
    ``..._{md5}_{pid}`` dir; without pruning, repeated rounds accumulate
    unbounded /tmp usage (r7 ADVICE). Called at staging time: any sibling
    whose trailing pid no longer exists is reclaimed; live pids (a
    concurrent run) are left alone.

    Pid liveness alone can pin a dead run forever if its pid was recycled
    by an unrelated long-lived process (r8 ADVICE), so entries whose pid is
    dead, recycled (process provably started AFTER the dir was staged), or
    absent (legacy bare-md5 tags) fall back to an age check. A pid that is
    alive AND predates its dir is the legitimate owner — never reclaimed,
    however old the dir (r9 ADVICE: a >6h soak run must keep its state).
    """
    import time

    now = time.time()
    for p in glob.glob(f"/tmp/{prefix}*"):
        pid_s = p.rsplit("_", 1)[-1]
        stale = False
        if pid_s.isdigit():
            if int(pid_s) == os.getpid():
                continue
            try:
                os.kill(int(pid_s), 0)
            except ProcessLookupError:
                stale = True
            except PermissionError:
                # live pid of ANOTHER user: /proc/<pid> stat is still
                # readable, so the same recycled-pid start-time test
                # below decides (r10 ADVICE: a blanket `continue` here
                # let a recycled pid grabbed by another user's daemon
                # pin the dir forever)
                pass
            if not stale:
                # alive: /proc/<pid> ctime is the process start time — a
                # process YOUNGER than the dir cannot have staged it, so
                # the pid was recycled and the age fallback may decide;
                # otherwise (or where /proc is unreadable) leave it alone
                try:
                    if os.stat(f"/proc/{pid_s}").st_ctime <= os.stat(
                        p
                    ).st_mtime:
                        continue
                except OSError:
                    continue
        # legacy pre-pid tags (bare md5) fall through to the age check
        if not stale:
            try:  # recycled-pid fallback: age decides
                stale = now - os.stat(p).st_mtime > max_age_sec
            except OSError:
                continue  # raced with a concurrent reclaim
        if stale:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:  # file checkpoints (rest_sync ckpt) stage flat files
                    os.remove(p)
                except OSError:
                    pass


def append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def replace_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Overwrite ONLY the partitions present in ``df`` (reference
    delete-where-then-insert, S4). Dynamic mode is a per-write option, so
    the session's conf, and every concurrent writer, is left alone."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
