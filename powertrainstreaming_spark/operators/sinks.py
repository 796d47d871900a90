"""Sink operators — the engine's write path (SURVEY.md §2.1, §2.10).

The reference's sink is foreachRDD → Cassandra upserts [RECON,
SURVEY.md:85]; the Spark-first equivalents are:

- batch:      ``df.write.partitionBy(...).parquet(dir)``
- streaming:  ``writeStream.foreachBatch(fn)`` appending partitioned
              parquet per micro-batch (idempotent by batch id at scale)
- debug:      memory / console sinks

Each sink query WRITES to a scratch directory, re-reads what landed,
and returns that — so the oracle checks the full write+read round
trip, not just the in-memory result.

100 TB note: parquet written partitionBy(event_type/date) gives the
partition-pruned layout downstream scans need; a real deployment adds
a table format (Delta/Iceberg) on top for atomic commits, but the
write plan shape is identical.
"""

from __future__ import annotations

import os

from powertrainstreaming_spark.scratch import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import money_sum, o_money_sum
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load
from powertrainstreaming_spark.streaming.harness import (
    events_stream,
    run_available_now,
    run_bounded,
)

_AGG_ORACLE = f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {o_money_sum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """


@query("sink_parquet", oracle=_AGG_ORACLE, tier="P1")
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch write path: aggregate → write partitioned parquet →
    re-read → verify.  partitionBy(o_orderstatus) produces the
    directory layout that lets downstream scans prune partitions.
    """
    out = scratch_dir(prefix="pts_sink_parquet_")
    orders = load(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("total_price"),
    )
    agg.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # Re-read: partition column comes back last and typed from the
    # directory values; project to the declared order.
    return spark.read.parquet(out).select(
        "o_orderstatus", "o_orderpriority", "n_orders", "total_price"
    )


@query(
    "stream_foreachbatch_sink",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
    tier="P1",
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming write path: foreachBatch appends each micro-batch to
    partitioned parquet — the production sink for 100 TB streams
    (per-batch idempotency comes from overwriting by batch_id partition
    or a MERGE in a table format; plain append here since the bounded
    replay runs each batch once).
    """
    out = scratch_dir(prefix="pts_sink_febatch_")
    s = events_stream(spark, sf_dir)
    filtered = s.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id", "user_id", "event_type", "value"
    )

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").partitionBy("event_type").parquet(out)

    run_available_now(
        spark,
        filtered.writeStream.foreachBatch(_write_batch).option(
            "checkpointLocation", os.path.join(out, "_checkpoint")
        ),
    )
    return spark.read.parquet(out).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "sink_memory_console",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
    tier="P1",
)
def sink_memory_console(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debug sinks: the same aggregation goes to BOTH a console sink
    (rate-limited row dump to driver stdout) and a memory sink (the
    returned, verified result).  Both are debug-only: the memory sink
    materializes on the driver, the console sink prints — neither is a
    production path."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))

    run_available_now(
        spark,
        agg.writeStream.format("console").outputMode("complete").option("numRows", 5),
    )
    return run_bounded(agg, "complete")


_BUCKETS = 8


@query(
    "sink_bucketed_join",
    oracle=f"""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {o_money_sum('o_totalprice')} AS total_price,
           CAST(MAX(c_acctbal) AS DOUBLE) AS acctbal
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_custkey
    """,
    tier="P2",
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table write + co-located join — the pre-shuffle pattern
    for repeated joins on the same key.

    Both orders and customer are written bucketed by the join key
    (bucketBy + sortBy + saveAsTable, as external tables under a
    scratch dir); reading them back, the join and
    the per-key aggregation reuse the bucketing: no shuffle Exchange
    anywhere in the plan (asserted in tests/test_properties.py; the
    tiny dim side still broadcasts, which is replication, not a
    shuffle).  At 100 TB, bucketing
    fact tables on their primary join key turns every downstream
    join/agg on that key into a zero-shuffle stage — you pay the
    shuffle once at write time instead of per query.
    """
    # EXTERNAL tables under a scratch dir (``path`` option), reaped at
    # process exit; managed tables would land in the cwd's warehouse
    # dir and outlive the process.  uuid names keep each call's catalog
    # entries apart for the session's lifetime.
    import uuid

    n = uuid.uuid4().hex[:12]
    t_orders, t_cust = f"pts_b_orders_{n}", f"pts_b_cust_{n}"
    out = scratch_dir(prefix="pts_bucketed_")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    (
        orders.write.mode("overwrite")
        .bucketBy(_BUCKETS, "o_custkey")
        .sortBy("o_custkey")
        .option("path", os.path.join(out, "orders"))
        .saveAsTable(t_orders)
    )
    (
        customer.write.mode("overwrite")
        .bucketBy(_BUCKETS, "c_custkey")
        .sortBy("c_custkey")
        .option("path", os.path.join(out, "customer"))
        .saveAsTable(t_cust)
    )
    bo = spark.table(t_orders)
    bc = spark.table(t_cust)
    return (
        bo.join(bc, bo.o_custkey == bc.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
            F.max("c_acctbal").alias("acctbal"),
        )
    )
