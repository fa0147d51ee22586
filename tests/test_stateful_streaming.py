"""applyInPandasWithState custom stateful operator: the final running
totals must equal the batch groupBy aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_spark.streaming.ops import read_events_stream, run_to_memory
from etl_pipeline_project_spark.streaming.stateful import stream_running_totals
from etl_pipeline_project_spark.sources.readers import load_table


def test_running_totals_match_batch_aggregate(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_to_memory(stream_running_totals(stream), output_mode="update")
    # update mode may emit several rows per key (one per batch); the last
    # (= max n_events) is the final state
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_expected"))
    )
    joined = final.join(batch, "user_id")
    assert joined.count() == batch.count()
    assert joined.filter(F.col("n_events") != F.col("n_expected")).count() == 0


def test_stream_session_counts_cover_all_events(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_pipeline_project_spark.queries import REGISTRY
    from etl_pipeline_project_spark.sources.readers import load_table

    out = REGISTRY["q_stream_session"](spark, sf_dir)
    total = out.agg(F.sum("n_events")).first()[0]
    assert total == load_table(spark, sf_dir, "events").count()
    # every session has at least one event and a real start
    assert out.filter(F.col("n_events") < 1).count() == 0
    assert out.filter(F.col("session_start").isNull()).count() == 0
