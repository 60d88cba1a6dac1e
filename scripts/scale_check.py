#!/usr/bin/env python3
"""Scale sanity: replicate the events table N× (shifted ids/users) and
check that the core event-stream operators scale ~linearly — the local
proxy for "would this plan survive a 100× scale-up" (partition counts and
shuffle structure stay constant; only data volume grows).

Usage: python3 scripts/scale_check.py [N=30]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark.domain import _fifo_input
from neomarket_clickhouse_indexer_spark.operators.candles import finalize, ohlcv
from neomarket_clickhouse_indexer_spark.operators.dedup import latest_by_key
from neomarket_clickhouse_indexer_spark.operators.fifo import fifo_allocate
from neomarket_clickhouse_indexer_spark.session import get_spark
from neomarket_clickhouse_indexer_spark.sources.tables import load_table


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    spark = get_spark("scale_check", cores=32, shuffle_partitions=64)
    base = load_table(spark, "/root/testdata/sf0.1", "events")

    scaled_path = f"/tmp/scale_check_events_x{n}.parquet"
    if not os.path.exists(scaled_path):
        reps = spark.range(n).withColumnRenamed("id", "rep")
        scaled = base.crossJoin(reps).select(
            (F.col("event_id") + F.col("rep") * 10_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * 1000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        scaled.repartition(64).write.mode("overwrite").parquet(scaled_path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    big = spark.read.parquet(scaled_path)
    print(f"rows: {big.count():,}")

    def timed(label, df):
        # run twice, report both: iter0 includes JVM JIT warm-up of the
        # codegen'd pipeline (measured 10×+ on cold JSON-parse paths);
        # iter1 is the steady state a long-running cluster job sees
        for it in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            print(f"{label} iter{it}: {time.perf_counter() - t0:.2f}s", flush=True)

    timed("candles_1m", finalize(
        ohlcv(big, key="event_type", ts="ts", price="value", ord_col="event_id")
    ))
    timed("latest_by_user", latest_by_key(big, ["user_id"], ["ts", "event_id"]))

    # r7: exact 24h sliding-window distinct at N× events — the user-
    # coverage interval sweep (per-user lag merge + calendar-bounded
    # per-type running sum); work ~linear in distinct user-hours,
    # per-task state O(1) (see scripts/skew_check.py for the planted
    # hot-type comparison against the r5 window-flatten form)
    from neomarket_clickhouse_indexer_spark.queries.timeseries_q import (
        rolling_distinct_frame,
    )

    timed(
        "rolling_distinct_24h",
        rolling_distinct_frame(
            big.select("event_type", F.col("ts").cast("timestamp").alias("ts"),
                       "user_id")
        ),
    )
    # r7: exact quantile selection at N× events — two domain-bounded
    # aggregation passes; the bucket axis does NOT grow with row count,
    # so work should be scan-dominated (~linear)
    from neomarket_clickhouse_indexer_spark.queries.timeseries_q import (
        quantile_select_frame,
    )

    timed(
        "quantile_select",
        # bounded_axis: event cents are domain-bounded — the production
        # call (events_quantile_select); the UNBOUNDED hierarchical path
        # is exercised by pareto_hier_selection below
        quantile_select_frame(
            big.select(
                "event_type",
                F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
            ),
            bounded_axis=True,
        ),
    )

    # r7 batch 2: q-digest sketch at N× events — the leaf histogram is
    # bounded by the 2^17 universe per type (NOT by row count), so the
    # compression kernel's input is scale-invariant; cost should be one
    # scan + one universe-bounded shuffle (~linear, scan-dominated)
    from neomarket_clickhouse_indexer_spark.queries.timeseries_q import (
        qdigest_frame,
    )

    timed(
        "qdigest_quantiles",
        qdigest_frame(
            big.select(
                "event_type",
                F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
            )
        ),
    )

    # r8: the Pareto concentration curve at N× USERS — selection over the
    # per-user monetary axis, the UNBOUNDED derived axis the hierarchical
    # bucket-ladder exists for (every window partition <= 2^17 rows at any
    # range; user count grows ×N here, so the old single per-type window
    # would sort a ×N axis in one task)
    from neomarket_clickhouse_indexer_spark.queries.timeseries_q import (
        volume_concentration_frame,
    )

    per_user = (
        big.groupBy("user_id")
        .agg(F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias(
            "monetary"
        ))
        .persist()
    )
    timed("pareto_hier_selection", volume_concentration_frame(per_user))
    per_user.unpersist()

    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    fifo_in = (
        big.filter(F.col("event_type").isin("purchase", "click"))
        .select(
            F.col("user_id").alias("key"),
            "ts",
            F.col("event_id").alias("ord"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(-1).alias("side"),
            ((k % 5) + 1).alias("qty"),
            F.col("value").alias("price"),
        )
        .filter(F.col("qty").isNotNull())
    )
    timed("fifo_allocate", fifo_allocate(fifo_in))

    # curation ops at N× docs: replicate the documents table the same way
    # and run the quality filter (pure per-row, shuffle-free) and the LSH
    # band build (the shuffle-heavy half of near-dedup)
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    docs_path = f"/tmp/scale_check_docs_x{n}.parquet"
    if not os.path.exists(docs_path):
        reps = spark.range(n).withColumnRenamed("id", "rep")
        (
            docs.crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
                # suffix the text so replicas are not exact duplicates
                F.concat_ws(" ", F.col("text"), F.col("rep")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(docs_path)
        )
    big_docs = spark.read.parquet(docs_path)
    print(f"docs: {big_docs.count():,}")

    from neomarket_clickhouse_indexer_spark.functions import text as TX

    # run quality rules directly over the scaled frame (same expressions as
    # the gate query, without the sf_dir loader indirection)
    toks = TX.tokens(F.col("text"))
    timed(
        "quality_rules",
        big_docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            TX.in_list_count(toks, TX.STOPWORDS).alias("stop_cnt"),
        ),
    )
    shingled = big_docs.select(
        "doc_id", TX.shingles(TX.tokens(F.col("text")), 3, distinct=False).alias("sh")
    )
    n_fam = 16 // TX.PERMS_PER_MD5
    hashed = shingled.select("doc_id", *TX.hash_families(F.col("sh"), n_fam))
    timed(
        "lsh_signature_build",
        hashed.select(
            "doc_id",
            *TX.minhash_from_families([F.col(f"hf{b}") for b in range(n_fam)], 16),
        ),
    )

    # duplicated-span detection at N× docs: the corpus-wide dup-gram index
    # (the heaviest bench query) — gram cardinality grows ~linearly, the
    # min/max dup test partial-aggregates map-side, and the span-merge
    # window is per-doc; work should scale ~linearly with the corpus
    from neomarket_clickhouse_indexer_spark.queries.documents import (
        dup_ngram_spans_frame,
    )

    timed("dup_ngram_spans", dup_ngram_spans_frame(big_docs))

    # r7: chunk-dedup corpus rewrite at N× docs — chunking is per-row,
    # the winner agg + join back shuffle on near-unique md5 keys, and
    # reassembly is bounded by each doc's own chunk count (~linear)
    from neomarket_clickhouse_indexer_spark.queries.documents import (
        chunk_dedup_frame,
    )

    timed("chunk_dedup_rewrite", chunk_dedup_frame(big_docs))

    # r6: bigram-LM conditional surprisal at N× docs — one corpus explode
    # into the bigram stream, vocabulary-sized left-context broadcast,
    # corpus-scale bigram hash join; should scale ~linearly with corpus
    from neomarket_clickhouse_indexer_spark.queries.documents import (
        bigram_surprisal_frame,
    )

    timed("bigram_surprisal", bigram_surprisal_frame(big_docs))

    # vector surface at N× embeddings: the broadcast-probe patterns must
    # stay corpus-linear (one scan, no corpus shuffle) as the corpus grows
    from neomarket_clickhouse_indexer_spark.functions import vectors as VX

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    emb_path = f"/tmp/scale_check_emb_x{n}.parquet"
    if not os.path.exists(emb_path):
        reps = spark.range(n).withColumnRenamed("id", "rep")
        (
            emb.crossJoin(reps)
            .select(
                (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
                "embedding",
                "label",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(emb_path)
        )
    big_emb = spark.read.parquet(emb_path)
    print(f"embeddings: {big_emb.count():,}")

    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("c_emb"),
    )
    scored = big_emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "cluster_id",
        F.round(
            VX._fold_sum(
                F.zip_with(
                    F.col("embedding"), F.col("c_emb"),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                )
            ),
            6,
        ).alias("d2"),
    )
    timed(
        "kmeans_assign_pass",
        scored.groupBy("vec_id").agg(
            F.min_by("cluster_id", F.struct("d2", "cluster_id")).alias("c")
        ),
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        VX.norm(F.col("embedding")).alias("q_norm"),
    )
    corpus = big_emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        VX.norm(F.col("embedding")).alias("c_norm"),
    )
    timed(
        "knn_bruteforce_scan",
        corpus.crossJoin(F.broadcast(queries)).select(
            "query_id",
            "neighbor_id",
            F.round(
                VX.dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        ),
    )

    # r5 time-series family over the scaled events frame: the Lindley
    # closed-form pair count (two window cumsums + one agg — the whole
    # point of avoiding the sequential automaton at scale), the WITH FILL
    # spine (agg → sequence explode → carry-forward window), and the LTTB
    # pre-agg + per-series kernel (series count fixed, per-series points
    # capped by the hourly agg, so the kernel stage is volume-invariant).
    from pyspark.sql import Window

    cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = big.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "view").cast("long").alias("is_v"),
        (F.col("event_type") == "purchase").cast("long").alias("is_p"),
    )
    exceed = flagged.select(
        "user_id",
        (F.sum("is_p").over(wcum) - F.sum("is_v").over(wcum)).alias("exceed"),
        "is_p",
    )
    timed(
        "sequence_pairs_closed_form",
        exceed.groupBy("user_id").agg(
            (F.sum("is_p") - F.greatest(F.lit(0), F.max("exceed")))
            .cast("long")
            .alias("n_pairs")
        ),
    )
    hourly = big.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "bucket"
            ),
        )
    )
    wfill = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    timed(
        "gap_fill",
        spine.join(hourly, ["event_type", "bucket"], "left").select(
            "event_type",
            "bucket",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.last("c", ignorenulls=True).over(wfill).cast("long").alias("carry"),
        ),
    )
    lttb_hourly = hourly.select(
        "event_type",
        (
            F.datediff("bucket", F.lit("2024-01-01").cast("date")) * 1440
            + F.hour("bucket") * 60
        ).cast("long").alias("x"),
        F.col("c").alias("y"),
    )
    # the LTTB kernel itself runs over <= #hourly-buckets rows per series
    # regardless of N (volume-invariant); the pre-agg is the scaling part
    timed("lttb_preagg", lttb_hourly)

    # KMV bottom-k sketch build over the scaled docs corpus
    kmv_hashed = (
        big_docs.select(
            "source",
            F.explode(TX.shingles(TX.tokens(F.col("text")), 3, distinct=True)).alias(
                "g"
            ),
        )
        .select(
            "source",
            F.conv(F.substring(F.md5("g"), 1, 12), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    wk = Window.partitionBy("source").orderBy("h")
    timed(
        "kmv_bottom_k",
        kmv_hashed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= 256)
        .groupBy("source")
        .agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("k_used")),
    )

    # r6: supplier_pagerank message passing at N× graph scale — the edge
    # table is replicated as N disjoint subgraph copies (shifted customer
    # and supplier ids), so rank values stay bounded while shuffle volume
    # grows ×N; each push round is one hash shuffle on the receiving key
    # and should scale ~linearly
    from neomarket_clickhouse_indexer_spark.queries.graph_q import (
        _CENTS_LI,
        pagerank_frame,
    )

    li = load_table(spark, "/root/testdata/sf0.1", "lineitem").select(
        "l_orderkey", "l_suppkey", F.expr(_CENTS_LI).alias("cents")
    )
    orders = load_table(spark, "/root/testdata/sf0.1", "orders").select(
        "o_orderkey", "o_custkey"
    )
    base_edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.sum("cents").alias("w"))
    )
    edges_path = f"/tmp/scale_check_edges_x{n}.parquet"
    if not os.path.exists(edges_path):
        reps = spark.range(n).withColumnRenamed("id", "rep")
        (
            base_edges.crossJoin(reps)
            .select(
                (F.col("c") + F.col("rep") * 10_000_000).alias("c"),
                (F.col("s") + F.col("rep") * 10_000_000).alias("s"),
                "w",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(edges_path)
        )
    big_edges = spark.read.parquet(edges_path)
    print(f"graph edges: {big_edges.count():,}")
    timed("pagerank_2rounds", pagerank_frame(big_edges, 64))

    # r8: fixed-round synchronous LPA at N× graph scale — per round one
    # shuffle join of the directed edges against the node-sized label
    # frame + one argmax agg; labels localCheckpoint per round, so cost
    # should be ~linear in the edge count across rounds
    from neomarket_clickhouse_indexer_spark.queries.graph_q import lpa_frame

    lpa_edges = (
        big_edges.select(F.col("c").alias("u"), F.col("s").alias("v"))
        .distinct()
        .persist()
    )
    lpa_edges.count()
    # lpa_frame localCheckpoints EAGERLY at build — the construction IS
    # the work, so time the build + write together (a bare timed() on
    # the returned frame would measure only the checkpoint read)
    for it in range(2):
        t0 = time.perf_counter()
        lpa_frame(lpa_edges, 64).write.format("noop").mode("overwrite").save()
        print(
            f"lpa_3rounds iter{it}: {time.perf_counter() - t0:.2f}s",
            flush=True,
        )
    lpa_edges.unpersist()

    # r6: layered-frontier BFS at N× graph scale — the N disjoint
    # subgraph copies grow every frontier ×N (seeds drawn from each
    # replica's id space); per level one equi-join + one anti-join,
    # node-sized state, should scale ~linearly
    from neomarket_clickhouse_indexer_spark.queries.graph_q import (
        reach_bfs_frame,
    )

    bfs_edges = big_edges.select("c", "s").distinct().persist()
    # seed = min-suppkey supplier of each replica's subgraph (id-space
    # stride recovers the replica), mirroring the gate's data-derived seed
    seeds = (
        bfs_edges.groupBy((F.col("s") / 10_000_000).cast("long").alias("rep"))
        .agg(F.min("s").alias("id"))
        .select("id")
    )
    timed("reach_bfs_3hop", reach_bfs_frame(bfs_edges, seeds))

    # r6: semdedup's salted within-cluster pair join at N× vectors. The
    # design claim under test is the PAIR JOIN stage (salt ×8 parallelism,
    # per-cluster work bounded): real deployments grow k with the corpus
    # so cluster populations stay ~constant (SemDeDup's k-means step, IVF
    # at assignment time) — modeled here by giving each replica its own
    # cluster id space (8 clusters per replica, hash-assigned), which
    # keeps per-cluster size fixed while total pair work grows ×N.
    from neomarket_clickhouse_indexer_spark.functions import vectors as VX2
    from neomarket_clickhouse_indexer_spark.queries.vectors_q import (
        _SEM_SALTS,
        SEM_TAU,
    )

    assigned = big_emb.select(
        "vec_id",
        "embedding",
        (
            F.expr("vec_id DIV 10000000") * 8
            + F.pmod(F.xxhash64("vec_id"), F.lit(8))
        ).alias("cluster"),
    )
    sa = assigned.select(
        F.col("cluster").alias("cl_a"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        VX2.norm(F.col("embedding")).alias("norm_a"),
        F.pmod(F.xxhash64("vec_id"), F.lit(_SEM_SALTS)).alias("salt_a"),
    )
    sb = assigned.select(
        F.col("cluster").alias("cl_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        VX2.norm(F.col("embedding")).alias("norm_b"),
        F.explode(F.sequence(F.lit(0), F.lit(_SEM_SALTS - 1))).alias("salt_b"),
    )
    sem_pairs = (
        sa.join(
            sb,
            (F.col("cl_a") == F.col("cl_b"))
            & (F.col("salt_a") == F.col("salt_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            F.col("cl_a").alias("cluster"),
            "vec_a",
            "vec_b",
            F.round(
                VX2.dot(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= SEM_TAU)
    )
    timed(
        "semdedup_pair_join",
        sem_pairs.groupBy("cluster", "vec_b").agg(
            F.min("vec_a").alias("dup_of"), F.max("sim").alias("max_sim")
        ),
    )

    # cross-media frame dedup over the scaled docs corpus (mapInPandas
    # fan-out + one hash-groupBy on the signature)
    from neomarket_clickhouse_indexer_spark.multimodal.media import binary_frames

    payloads = big_docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    frames = binary_frames(payloads, "doc_id", "payload", bytes_per_frame=64)
    timed(
        "frame_dedup",
        frames.groupBy("frame_sig")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2),
    )

    # r7: triangle counting at N× graph scale — N disjoint copies of the
    # co-order graph (orderkeys AND partkeys shifted per replica), so
    # edges and triangles both grow ~N×; the degree-ordered orientation
    # must keep wedge work ~linear in the copy count
    from neomarket_clickhouse_indexer_spark.queries.graph_q import (
        coorder_triangles_frame,
    )

    li = load_table(spark, "/root/testdata/sf0.1", "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    li_path = f"/tmp/scale_check_li_x{n}.parquet"
    if not os.path.exists(li_path):
        reps = spark.range(n).withColumnRenamed("id", "rep")
        (
            li.crossJoin(reps)
            .select(
                (F.col("l_orderkey") + F.col("rep") * 100_000_000).alias(
                    "l_orderkey"
                ),
                (F.col("l_partkey") + F.col("rep") * 10_000_000).alias(
                    "l_partkey"
                ),
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(li_path)
        )
    big_li = spark.read.parquet(li_path)
    print(f"lineitem: {big_li.count():,}")
    timed("coorder_triangles", coorder_triangles_frame(big_li, 64))

    # r15: the privacy triad / bloom pre-filter / DSIR selection at N×
    # docs. All three claim bounded-grain designs: k-anonymity's finest
    # grain is (QI, sens) — grouping structure, not doc count; the bloom
    # filter is broadcast state sized 6 bits/element; DSIR's
    # distributions live on a fixed 4096-bucket grain. Cost should be
    # scan-dominated (~linear). The gates take sf_dir, so expose the
    # scaled table through a directory with a documents.parquet symlink.
    from neomarket_clickhouse_indexer_spark.queries.documents import (
        docs_bloom_dedup,
    )
    from neomarket_clickhouse_indexer_spark.queries.pipeline import (
        docs_dsir_selection,
        docs_k_anonymity,
    )

    sf_docs = f"/tmp/scale_check_sfdocs_x{n}"
    os.makedirs(sf_docs, exist_ok=True)
    link = os.path.join(sf_docs, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(docs_path, link)
    # time construction + write together: these gates run eager actions
    # (sizing collects, persists, checkpoints) inside the call — the r8
    # eager-frame timer lesson
    for label, fn in [
        ("k_anonymity_triad", docs_k_anonymity),
        ("bloom_dedup", docs_bloom_dedup),
        ("dsir_selection", docs_dsir_selection),
    ]:
        for it in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_docs).write.format("noop").mode("overwrite").save()
            print(
                f"{label} iter{it}: {time.perf_counter() - t0:.2f}s",
                flush=True,
            )


if __name__ == "__main__":
    main()
