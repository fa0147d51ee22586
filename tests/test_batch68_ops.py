"""Round-3 batch-68: watermark-bounded dedup, partitioned stream sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_project_spark.queries import (
    q_stream_dedup_watermarked,
    q_stream_sink_partitioned,
)
from etl_pipeline_project_spark.sources.readers import load_table


def test_watermarked_dedup_key_count(spark, sf_dir):
    r = q_stream_dedup_watermarked(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events")
    assert r["n_distinct_keys"] == ev.select("user_id", "event_type").distinct().count()
    assert r["n_input"] == ev.count()
    assert r["n_distinct_keys"] < r["n_input"]


def test_partitioned_stream_sink_prunes(spark, sf_dir):
    rows = {r["event_type"]: r["n_events"] for r in q_stream_sink_partitioned(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    direct = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert rows == direct
    # reading one partition applies a PartitionFilter, not a full scan
    from etl_pipeline_project_spark.queries import _SCRATCH, _fp_tag

    tag = _fp_tag(sf_dir, "events")
    sink = os.path.realpath(f"{_SCRATCH}/stream_part_{tag}") + "/sink"
    one = spark.read.parquet(sink).filter(F.col("event_type") == "click")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan or "PartitionFilters: [" in plan
    assert one.count() == direct["click"]
