"""Round-3 batch-36: lakehouse tier — file skipping, time travel,
compaction planning, pure-theta broadcast join."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    q_compaction_plan,
    q_file_stats_pruning,
    q_join_theta_bnl,
    q_snapshot_time_travel,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_file_stats_pruning_matches_plain_filter(spark, sf_dir):
    out = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in q_file_stats_pruning(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    truth = {
        r["event_type"]: r["n"]
        for r in ev.filter(F.col("ts") >= F.lit("2024-01-23 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {k: v[0] for k, v in out.items()} == truth


def test_file_stats_pruning_actually_skips_files(spark, sf_dir):
    from etl_pipeline_project_spark.queries import _SCRATCH, _fp_tag

    # the clustered layout exists after running the query; the fixture tag
    # is the content fingerprint the query derives, not md5(sf_dir)
    q_file_stats_pruning(spark, sf_dir).count()
    tag = _fp_tag(sf_dir, "events")
    back = spark.read.parquet(os.path.realpath(f"{_SCRATCH}/events_clustered_{tag}"))
    stats = back.groupBy(F.col("_metadata.file_path").alias("f")).agg(
        F.max("ts").alias("max_ts")
    )
    total = stats.count()
    surviving = stats.filter(
        F.col("max_ts") >= F.lit("2024-01-23 00:00:00").cast("timestamp")
    ).count()
    # range clustering on ts means most files' zone maps exclude the tail week
    assert surviving < total


def test_snapshot_versions_nest(spark, sf_dir):
    rows = {r["version"]: r for r in q_snapshot_time_travel(spark, sf_dir).collect()}
    assert set(rows) == {"v1", "v2"}
    assert rows["v1"]["n_rows"] < rows["v2"]["n_rows"]
    orders = load_table(spark, sf_dir, "orders")
    assert rows["v2"]["n_rows"] == orders.count()


def test_compaction_plan_conserves_rows_and_respects_target(spark, sf_dir):
    out = q_compaction_plan(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert sum(r["n_rows"] for r in out) == ev.count()
    n_days = ev.select(F.col("ts").cast("date")).distinct().count()
    assert sum(r["n_files"] for r in out) == n_days
    # group ids are the dense cum//target sequence
    ids = sorted(r["group_id"] for r in out)
    assert ids == list(range(ids[0], ids[0] + len(ids)))


def test_theta_join_uses_broadcast_nested_loop(spark, sf_dir):
    plan = q_join_theta_bnl(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # partition completeness: every order lands in exactly one band
    orders = load_table(spark, sf_dir, "orders")
    out = q_join_theta_bnl(spark, sf_dir)
    assert out.agg(F.sum("n_orders")).first()[0] == orders.count()
