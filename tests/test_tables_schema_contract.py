"""Schema-drift guard for the testdata boundary (``sources/tables.py``).

Round-3 postmortem: the driver re-encoded ``events.ts`` from INT64
TIMESTAMP(NANOS) to timestamp[us] between rounds and the loader's hard-coded
ns assumption killed 25 driver queries, ``entry()``, ``bench.py``, and 79
tests. These tests pin the contract: ``load_table`` must yield identical
instants for BOTH encodings, so a driver-side re-encode can never again
silently break the gate.

Reference analog: the indexer pins schemas at the boundary with typed column
maps (src/tables/index.ts:1-458); event timestamps are DateTime64 and
encoding-stable (clickhouse/init/001_create_tables.sql:16).
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from neomarket_clickhouse_indexer_spark.sources.tables import (
    TABLE_NAMES,
    load_table,
)

# A few instants spanning sub-ms precision and round values (µs precision —
# the common denominator of both encodings).
_INSTANTS_US = [
    1_700_000_000_000_000,  # 2023-11-14T22:13:20Z
    1_700_000_000_123_456,  # sub-ms fraction survives both paths
    1_750_000_000_000_001,
    0,  # epoch
]


def _events_batch():
    n = len(_INSTANTS_US)
    return {
        "event_id": list(range(1, n + 1)),
        "user_id": [7] * n,
        "event_type": ["trade"] * n,
        "value": [1.5] * n,
        "props": ["{}"] * n,
    }


def _write_events(path, ts_array: pa.Array) -> str:
    cols = _events_batch()
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )
    pq.write_table(table, str(path))
    return str(path)


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    """Two sf-dir lookalikes: events.parquet as int64-ns and as timestamp[us]."""
    ns_dir = tmp_path_factory.mktemp("enc_ns")
    us_dir = tmp_path_factory.mktemp("enc_us")
    _write_events(
        ns_dir / "events.parquet",
        pa.array([t * 1000 for t in _INSTANTS_US], pa.timestamp("ns")),
    )
    _write_events(
        us_dir / "events.parquet",
        pa.array(_INSTANTS_US, pa.timestamp("us")),
    )
    return str(ns_dir), str(us_dir)


def _collect_ts(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    rows = df.select("event_id", "ts").orderBy("event_id").collect()
    return [(r["event_id"], r["ts"]) for r in rows]


def test_both_encodings_yield_identical_instants(spark, encoded_dirs):
    ns_dir, us_dir = encoded_dirs
    assert _collect_ts(spark, ns_dir) == _collect_ts(spark, us_dir)


def test_us_encoding_exact_values(spark, encoded_dirs):
    _, us_dir = encoded_dirs
    got = dict(_collect_ts(spark, us_dir))
    want = datetime.datetime(2023, 11, 14, 22, 13, 20)
    # TIMESTAMP_NTZ / naive-timestamp equality on the known instant
    assert got[1].replace(tzinfo=None) == want
    assert got[2].microsecond == 123456


def test_ts_column_is_timestamp_type(spark, encoded_dirs):
    from pyspark.sql.types import TimestampNTZType, TimestampType

    for d in encoded_dirs:
        dt = load_table(spark, d, "events").schema["ts"].dataType
        assert isinstance(dt, (TimestampType, TimestampNTZType)), dt


def test_driver_testdata_loads_all_tables(spark):
    """The real driver testdata must load with a timestamp-typed events.ts."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    sf_dir = "/root/testdata/sf0.001"
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        assert len(df.schema.fields) > 0, name
    dt = load_table(spark, sf_dir, "events").schema["ts"].dataType
    assert isinstance(dt, (TimestampType, TimestampNTZType)), dt


# Column-name + type-family contract for every driver table, loosely typed
# the way the queries actually consume them: any integer width satisfies
# "int", either timestamp flavor satisfies "ts". This catches a driver-side
# schema change at test time (one clear failure here) instead of as 25
# opaque analysis errors in the external gate.
_TYPE_FAMILIES = {
    "int": ("ByteType", "ShortType", "IntegerType", "LongType"),
    "double": ("DoubleType", "FloatType"),
    "string": ("StringType",),
    "ts": ("TimestampType", "TimestampNTZType"),
    "array<float>": ("ArrayType",),  # element checked separately
}

EXPECTED_COLUMNS = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "int", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "string",
        "o_totalprice": "double", "o_orderdate": "ts",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double",
        "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string", "l_shipdate": "ts",
    },
    "events": {
        "event_id": "int", "ts": "ts", "user_id": "int",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "int", "text": "string", "lang": "string",
        "source": "string", "n_chars": "int",
    },
    "embeddings": {
        "vec_id": "int", "embedding": "array<float>", "label": "int",
    },
}


def test_driver_testdata_full_column_contract(spark):
    sf_dir = "/root/testdata/sf0.001"
    problems = []
    for name, want in EXPECTED_COLUMNS.items():
        schema = {f.name: f.dataType for f in load_table(spark, sf_dir, name).schema}
        for col, family in want.items():
            if col not in schema:
                problems.append(f"{name}.{col}: MISSING (have {sorted(schema)})")
                continue
            dt = schema[col]
            if type(dt).__name__ not in _TYPE_FAMILIES[family]:
                problems.append(f"{name}.{col}: {dt} not in family {family}")
            elif family == "array<float>":
                el = type(dt.elementType).__name__
                if el not in ("FloatType", "DoubleType"):
                    problems.append(f"{name}.{col}: array element {el}")
    assert not problems, "\n".join(problems)


def test_orders_lineitem_ns_encoding_also_dispatches(spark, tmp_path):
    """The same drift class that broke events.ts must not break the other
    timestamp-bearing tables: an int64-ns o_orderdate loads to the same
    instants as the native timestamp[us] encoding."""
    us = [1_700_000_000_000_000, 1_700_000_123_456_789]
    base = {
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_custkey": pa.array([1, 2], pa.int64()),
        "o_orderstatus": pa.array(["O", "F"], pa.string()),
        "o_totalprice": pa.array([1.0, 2.0], pa.float64()),
        "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"], pa.string()),
    }
    ns_dir = tmp_path / "ns"
    us_dir = tmp_path / "us"
    for d, arr in [
        (ns_dir, pa.array([t * 1000 for t in us], pa.timestamp("ns"))),
        (us_dir, pa.array(us, pa.timestamp("us"))),
    ]:
        d.mkdir()
        pq.write_table(
            pa.table({**base, "o_orderdate": arr}), str(d / "orders.parquet")
        )

    def dates(sf):
        rows = (
            load_table(spark, str(sf), "orders")
            .select("o_orderkey", "o_orderdate")
            .orderBy("o_orderkey")
            .collect()
        )
        return [(r["o_orderkey"], r["o_orderdate"]) for r in rows]

    assert dates(ns_dir) == dates(us_dir)


def test_memo_hit_repins_nanos_conf(spark, tmp_path):
    """After the session's ``nanosAsLong`` conf was reset, a memo hit must
    pin it again, as a first resolution does: the memoized plan still runs,
    and so does any fresh read of the int64-ns source in that session
    (schema inference of TIMESTAMP(NANOS) fails without the conf)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    sf = str(tmp_path)
    src = _write_events(
        tmp_path / "events.parquet",
        pa.array([t * 1000 for t in _INSTANTS_US], pa.timestamp("ns")),
    )
    load_table(spark, sf, "events")
    spark.conf.unset(key)
    try:
        assert load_table(spark, sf, "events").count() == len(_INSTANTS_US)
        assert spark.read.parquet(src).count() == len(_INSTANTS_US)
    finally:
        spark.conf.set(key, "true")


def test_microsecond_source_leaves_nanos_conf_unset(spark, tmp_path):
    """Only a source with a TIMESTAMP(NANOS) column needs ``nanosAsLong``:
    loading a timestamp[us] source, on a memo miss and on a hit, writes no
    session conf."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    sf = str(tmp_path)
    _write_events(tmp_path / "events.parquet",
                  pa.array(_INSTANTS_US, pa.timestamp("us")))
    before = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        load_table(spark, sf, "events")
        load_table(spark, sf, "events")
        assert spark.conf.get(key, None) is None
    finally:
        if before is not None:
            spark.conf.set(key, before)


def test_memo_is_per_session(spark, tmp_path):
    """A ``newSession()`` sibling shares the application but has its own
    conf and temp views: it must resolve its own plan, not be handed the
    first session's memoized DataFrame. Each session still hits its own
    memo entry."""
    sf = str(tmp_path)
    _write_events(tmp_path / "events.parquet",
                  pa.array(_INSTANTS_US, pa.timestamp("us")))
    sibling = spark.newSession()
    mine = load_table(spark, sf, "events")
    theirs = load_table(sibling, sf, "events")
    assert mine.sparkSession is spark
    assert theirs.sparkSession is sibling
    assert load_table(sibling, sf, "events") is theirs
    assert load_table(spark, sf, "events") is mine


def test_int64_non_ns_magnitude_fails_loudly(spark, tmp_path):
    """ADVICE r4: an int64 date column whose magnitude is NOT nanoseconds
    (epoch-millis here) must raise, not silently misconvert."""
    ms = [1_700_000_000_000, 1_700_000_123_456]  # epoch millis
    d = tmp_path / "ms"
    d.mkdir()
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_orderdate": pa.array(ms, pa.int64()),
        }),
        str(d / "orders.parquet"),
    )
    with pytest.raises(ValueError, match="nanosecond-epoch range"):
        load_table(spark, str(d), "orders").collect()


def test_normalized_tier_read_equals_raw(spark):
    """Ingest-normalization tier (bench path): multi-file layout must be a
    pure physical rewrite — same rows, same schema, same values."""
    from neomarket_clickhouse_indexer_spark.sources.tables import (
        enable_normalized_tier,
    )

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    raw_rows = sorted(
        tuple(r) for r in raw.select("event_id", "ts", "value").collect()
    )
    enable_normalized_tier(True)
    try:
        tier = load_table(spark, sf, "events")
        assert tier.schema == raw.schema
        tier_rows = sorted(
            tuple(r) for r in tier.select("event_id", "ts", "value").collect()
        )
    finally:
        enable_normalized_tier(False)
    assert tier_rows == raw_rows
    assert tier.rdd.getNumPartitions() >= 1


def test_tier_build_reads_raw_without_flipping_the_flag(spark, tmp_path,
                                                         monkeypatch):
    """The tier build reads its input with ``raw=True``; the tier flag stays
    set throughout, so a reader on another thread never sees it cleared."""
    import shutil

    from neomarket_clickhouse_indexer_spark.sources import tables

    shutil.copy("/root/testdata/sf0.001/events.parquet",
                tmp_path / "events.parquet")
    seen = []
    real = tables.load_table

    def watched(*args, **kwargs):
        seen.append((kwargs.get("raw", False), tables._TIER_ENABLED))
        return real(*args, **kwargs)

    monkeypatch.setattr(tables, "load_table", watched)
    tables.enable_normalized_tier(True)
    try:
        tier = tables.load_table(spark, str(tmp_path), "events")
    finally:
        tables.enable_normalized_tier(False)
    assert seen == [(False, True), (True, True)]
    raw = real(spark, str(tmp_path), "events")
    assert sorted(tier.collect()) == sorted(raw.collect())
