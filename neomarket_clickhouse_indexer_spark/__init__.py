"""neomarket_clickhouse_indexer_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query & data-processing capabilities of
the reference system ``NeomarketExplorer/neomarket-clickhouse-indexer`` (a
Polymarket → ClickHouse indexer + analytics API), built Spark-first:

- declarative DataFrame/SQL plans optimized by Catalyst (predicate pushdown,
  column pruning, broadcast joins, AQE),
- explicit derived/pre-aggregated tables instead of ClickHouse materialized
  views,
- window-function dedup views instead of ReplacingMergeTree ``FINAL``,
- a partition-wise (``mapInPandas``) FIFO-lot ledger as the one custom
  stateful operator,
- plus large-scale training-data pipeline operators (dedup, similarity
  search, text analysis, multimodal plumbing) designed for 100 TB scale.

Layout:
    session.py    tuned SparkSession builder
    sources/      table loaders (parquet star schema + event streams)
    operators/    reusable dataflow operators (dedup, as-of join, windows,
                  candles, FIFO ledger, minhash-LSH, ANN)
    functions/    column-level function libraries (text, vectors, json)
    queries/      the query surface: named DataFrame pipelines + DuckDB
                  oracle SQL for differential testing
    ledger/       domain FIFO-lot PnL engine (reference parity)
    streaming/    Structured Streaming incremental aggregation
    plans/        plan inspection / optimization helpers
"""

__version__ = "0.1.0"
