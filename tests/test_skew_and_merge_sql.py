"""Iceberg MERGE SQL generation, table-provider detection and the AQE
skew-join split."""

from __future__ import annotations

import uuid

from analytics_data_platform_spark.tables.io import TableIO, merge_into_sql


def test_merge_into_sql_generation():
    sql = merge_into_sql("lake.ns.t", "src_view", ["id", "region"])
    assert sql == (
        "MERGE INTO `lake`.`ns`.`t` t USING src_view s "
        "ON t.`id` = s.`id` AND t.`region` = s.`region` "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def test_provider_detection_parquet_path(spark):
    ns = f"prov_{uuid.uuid4().hex[:6]}"
    io = TableIO(spark)
    io.ensure_namespace(ns)
    try:
        io.write_table(spark.range(3).select("id"), f"{ns}.t")
        assert io.table_provider(f"{ns}.t") == "parquet"
        assert not io.supports_row_level_ops(f"{ns}.t")
        # merge on parquet still works via the rewrite path
        io.write_table(spark.range(2, 6).select("id"), f"{ns}.t", mode="merge", merge_on=["id"])
        assert io.read(f"{ns}.t").count() == 6
    finally:
        io.drop_namespace(ns)


def test_aqe_splits_manufactured_skew_join(spark):
    """Prove the configured AQE skew-join path actually fires: a fact
    side with one hot key (2/3 of all rows) sort-merge-joined to a dim
    must re-plan with SortMergeJoin(skew=true) + a skewed AQEShuffleRead.
    Thresholds are lowered to make local-test row counts
    register as skew; production keeps the defaults."""
    import pyspark.sql.functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 3 != 0, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = fact.join(dim, "k")
        # collect j ITSELF (a count() adapts a different query's plan and
        # leaves j's own AdaptiveSparkPlan unfinalized)
        assert len(j.collect()) == 300_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
        assert "skewed" in plan  # AQEShuffleRead marks the skewed read
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
