"""Data-layout writer — the storage-side half of the reference's optimizer
story (SURVEY §4): partition pruning + primary-key locality + data skipping.

Reference: ``PARTITION BY toYYYYMM(ts)`` + ``ORDER BY (token_id, time)``
MergeTree keys (001:43-44,416) give ClickHouse partition pruning and
clustered scans. Parquet equivalents:

- hive partitioning on a coarse time/key column → partition pruning is a
  directory listing, before any I/O;
- ``sortWithinPartitions`` before write → row-group min/max statistics
  become selective (data skipping ≈ the reference's bloom/minmax skip
  indexes, P8), and scans of a key range touch few row groups;
- file sizing via ``repartition(n)`` so row groups are neither tiny
  (footer overhead) nor huge (no skipping granularity).

At 100 TB this layout decides whether a token-scoped candle query reads
megabytes or the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cluster_by: list[str],
    files_per_partition: int = 1,
) -> None:
    """Write hive-partitioned parquet with rows clustered (sorted) on
    ``cluster_by`` inside each file."""
    (
        df.repartition(files_per_partition, *[F.col(c) for c in partition_by])
        .sortWithinPartitions(*partition_by, *cluster_by)
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def clustered_events_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once/read-many clustered layout for the events table (hive
    partition by event_date, rows sorted by (event_type, ts) in-file) —
    the MergeTree-analog derived tier, built like the candle tier: ONCE
    per source version, then served read-only. A token file records the
    source parquet's (mtime_ns, size); any testdata re-encode invalidates
    the layout and triggers one rebuild. Queries against the layout
    (clustered_scan_skipping) therefore measure the READ path, not a
    per-call rewrite (r4 verdict design note)."""
    import os
    import shutil
    import tempfile

    from ..sources.tables import load_table, table_path

    src = table_path(sf_dir, "events")
    st = os.stat(src)
    token = f"{st.st_mtime_ns}:{st.st_size}"
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"clustered_scan_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    marker = os.path.join(out_dir, "_BUILD_TOKEN")
    try:
        with open(marker) as fh:
            if fh.read() == token:
                return out_dir
    except OSError:
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    write_clustered(ev, out_dir, partition_by=["event_date"],
                    cluster_by=["event_type", "ts"])
    with open(marker, "w") as fh:
        fh.write(token)
    return out_dir


# Per-table rows-per-file for the normalized tier. One file = one scan
# task (at fixture sizes Spark's split packing charges each file its
# 4 MB openCost, so files never coalesce into one split), and per-row
# DOWNSTREAM cost varies ~100x across tables: a documents row carries
# ~1 KB of text that fans out into ~200 tokenized/hashed bigrams, an
# embeddings row feeds 64-element vector folds, while a lineitem row is
# five narrow scalars. Sizing files by a per-table row weight keeps one
# file ≈ one good-sized unit of scan+compute at any SF; the 32-file cap
# keeps files large as SF grows (guide §6: at 100 TB you would size by
# bytes — write.target-file-size — and these weights become moot because
# every table exceeds the cap).
_TIER_ROWS_PER_FILE = {
    "documents": 256,    # tokenize/md5-per-bigram downstream
    "embeddings": 256,   # 64-dim fold scoring downstream
    "customer": 2_048,   # FastSS variant explosion downstream
}


def normalized_table_layout(
    spark: SparkSession, sf_dir: str, name: str, rows_per_file: int | None = None
) -> str:
    """Ingest-normalization tier: re-write a source table into multi-file
    parquet so scans parallelize. The driver testdata ships each table as
    ONE parquet row group, and a row group is an indivisible Spark split —
    every raw scan runs as a single task no matter how many cores exist.
    A real engine never queries raw uploads: ClickHouse rewrites inserts
    into MergeTree parts (reference clickhouse/init/001_create_tables.sql
    PARTITION BY/ORDER BY); this is the parquet analog, built ONCE per
    source version (mtime/size token, like clustered_events_layout) and
    read-only afterwards. Timestamp normalization (sources/tables.py ns
    dispatch) happens BEFORE the write, so tier files are always native
    timestamp[us]."""
    import math
    import os
    import shutil
    import tempfile

    from ..sources.tables import load_table, table_path

    if rows_per_file is None:
        rows_per_file = _TIER_ROWS_PER_FILE.get(name, 50_000)
    src = table_path(sf_dir, name)
    st = os.stat(src)
    # the sizing participates in the build token so a weight change
    # invalidates the shared /tmp layout instead of silently serving the
    # old file count
    token = f"{st.st_mtime_ns}:{st.st_size}:rpf{rows_per_file}"
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"nmci_tier_{os.path.basename(os.path.normpath(sf_dir))}",
        name,
    )
    marker = os.path.join(out_dir, "_BUILD_TOKEN")
    try:
        with open(marker) as fh:
            if fh.read() == token:
                return out_dir
    except OSError:
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    df = load_table(spark, sf_dir, name, raw=True)
    try:
        import pyarrow.parquet as pq

        n_rows = pq.read_metadata(src).num_rows
    except Exception:
        n_rows = df.count()
    n_files = max(1, min(32, math.ceil(n_rows / rows_per_file)))
    df.repartition(n_files).write.mode("overwrite").parquet(out_dir)
    with open(marker, "w") as fh:
        fh.write(token)
    return out_dir


def month_col(ts: str) -> F.Column:
    """toYYYYMM analog for partition columns (reference 001:44)."""
    return F.date_format(F.col(ts), "yyyyMM").alias("year_month")


def pruned_scan(spark: SparkSession, path: str, **partition_filters) -> DataFrame:
    """Read with partition-pruning filters applied immediately (the filters
    land in the file index, not in post-scan evaluation)."""
    df = spark.read.parquet(path)
    for col, val in partition_filters.items():
        df = df.filter(F.col(col) == val)
    return df


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_by: str,
    n_buckets: int = 8,
) -> None:
    """Write a bucket-partitioned table: rows are hash-distributed into
    ``n_buckets`` files by ``bucket_by`` and sorted within each bucket.

    This is the co-located-join layout (SURVEY §4 "primary-key locality"):
    two tables bucketed the same way join WITHOUT any Exchange — at 100 TB
    the fact-fact join (lineitem ⋈ orders, trades ⋈ transfers) is the
    single most expensive shuffle in the system, and bucketing removes it
    entirely for every downstream job that joins on the bucket key. The
    reference gets the same effect from MergeTree ORDER BY locality
    (001:43, ORDER BY (id)); Spark's form is bucketBy + sortBy.
    """
    (
        df.write.bucketBy(n_buckets, bucket_by)
        .sortBy(bucket_by)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


# --- Z-order (multi-dimension interleaved) layout ------------------------

ZORDER_FILES = 16


def _zvalue(type_code, user_bucket) -> F.Column:
    """Bit-interleave an 8-bit user bucket with a 3-bit type code into one
    sortable key: user bit i → position 2i, type bit i → position 2i+1.
    Sorting by this key gives RANGE LOCALITY ON BOTH DIMENSIONS at once —
    the property a single-column sort key cannot provide (a (type, user)
    sort prunes user predicates only within one type). The Delta/Iceberg
    ZORDER analog of ClickHouse's multi-column MergeTree ORDER BY."""
    # ((ub >> i) & 1) << 2i  |  ((tc >> i) & 1) << 2i+1 — pure integer ops
    z = F.lit(0).cast("long")
    for i in range(8):
        z = z + F.shiftleft(F.shiftright(F.col(user_bucket), i).bitwiseAND(F.lit(1)), 2 * i)
    for i in range(3):
        z = z + F.shiftleft(F.shiftright(F.col(type_code), i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def zorder_events_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once/read-many Z-ordered layout of the events table: rows
    range-partitioned and sorted by the interleaved (user_id, event_type)
    key, so parquet row-group min/max statistics are selective for
    predicates on EITHER OR BOTH dimensions. Same build-token discipline
    as clustered_events_layout (rebuilds only when the source parquet
    changes). The distinct event-type list is collected once — a bounded
    enum (S5 driver-side-catalog doctrine), embedded as a literal array so
    the type→code map is deterministic."""
    import os
    import shutil
    import tempfile

    from ..sources.tables import load_table, table_path

    src = table_path(sf_dir, "events")
    st = os.stat(src)
    token = f"{st.st_mtime_ns}:{st.st_size}"
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"zorder_scan_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    marker = os.path.join(out_dir, "_BUILD_TOKEN")
    try:
        with open(marker) as fh:
            if fh.read() == token:
                return out_dir
    except OSError:
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    tcode = (
        F.array_position(
            F.array(*[F.lit(t) for t in types]), F.col("event_type")
        ).cast("long")
        - 1
    )
    zed = (
        ev.withColumn("type_code", tcode)
        .withColumn("user_bucket", F.pmod(F.col("user_id"), F.lit(256)).cast("long"))
        .withColumn("zv", _zvalue("type_code", "user_bucket"))
        .drop("type_code", "user_bucket")
    )
    (
        zed.repartitionByRange(ZORDER_FILES, "zv")
        .sortWithinPartitions("zv")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    with open(marker, "w") as fh:
        fh.write(token)
    return out_dir
