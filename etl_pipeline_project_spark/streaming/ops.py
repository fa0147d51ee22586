"""Structured Streaming re-expression of the reference's incremental loads.

The reference is micro-batch-by-cron (SURVEY §2.H): a daily Airflow trigger
(`dags/tourism_finance_etl_dag.py:15-16`), files accumulating under a GCS
prefix (`data/utils.py:32`), and an incremental "only new keys" DB load
(`data/transformation_db.py:91-121`). That is exactly the Structured
Streaming model: a file source watching a prefix, stateful dropDuplicates
for the anti-join semantics, and watermarked windows for the daily rollups.

Local testing drives each stream to completion with
``trigger(availableNow=True)`` + a memory sink — deterministic final state,
which is why the streaming queries still get DuckDB oracles (key-level
projections only; survivor *rows* under streaming dedup are arrival-order
dependent, the same nondeterminism as the reference's keep-first, SURVEY
§1.4 Q3).

At scale the same plans run unchanged against a real prefix with a durable
checkpoint: the file-source log replaces the reference's "which files did I
already read" convention, and the dedup state store replaces the
driver-memory id set (Q7).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_spark.session import ensure_profile
from etl_pipeline_project_spark.sources.readers import normalize_timestamps

_mem_counter = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source micro-batch ingest of the events table
    (`q_stream_ingest`; reference GCS prefix polling `data/utils.py:28-45`).

    The schema is taken from the static footer (explicit, no inference —
    SURVEY §1.2), and the TIMESTAMP(NANOS) column is normalized exactly as
    the batch reader does (sources/readers.py).
    """
    ensure_profile(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .format("parquet")
        # glob form: the streaming source requires a directory/glob, and the
        # testdata table is a single file
        .load(f"{sf_dir}/events.*")
    )
    return normalize_timestamps(stream, ["ts"])


def stream_dedup_keys(stream: DataFrame, keys: list[str], watermark_col: str = "ts") -> DataFrame:
    """Stateful exactly-once keyed dedup (`q_stream_dedup`) — the streaming
    twin of the anti-join incremental load (`data/transformation_db.py:
    91-121`). The watermark bounds state: keys older than the horizon are
    dropped from the store, which is what makes this run forever at scale.

    Projects to the key columns: which full row survives is arrival-order
    dependent (same as the reference's keep-first), the key set is not.
    """
    return (
        stream.withWatermark(watermark_col, "1 day")
        .dropDuplicates(keys)
        .select(*keys)
    )


def stream_windowed_counts(stream: DataFrame, ts: str, group: str) -> DataFrame:
    """Watermarked tumbling daily aggregate (`q_stream_window`) — streaming
    twin of the reference's daily batch cadence."""
    return (
        stream.withWatermark(ts, "1 day")
        .groupBy(F.window(F.col(ts), "1 day"), group)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("day_start"), group, "n_events")
    )


def run_to_memory(df: DataFrame, *, output_mode: str = "append") -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into a
    memory sink and return the final table. Local-test harness only — real
    deployments use a durable sink + checkpoint."""
    name = f"stream_mem_{next(_mem_counter)}"
    (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(name)


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    ts: str = "ts",
) -> DataFrame:
    """Stream-static enrichment join (`q_stream_join`): each micro-batch
    joins against a static dimension — the streaming twin of the
    reference's per-batch lookup joins. The dim side broadcasts, so the
    unbounded side is never shuffled for the join; state is only held for
    the downstream watermarked aggregate, not the join itself (stream ⋈
    static is stateless in Structured Streaming).
    """
    return (
        stream.withWatermark(ts, "1 day")
        .join(F.broadcast(dim), on=on, how="inner")
    )


def stream_stream_attribution(
    views: DataFrame,
    purchases: DataFrame,
    *,
    horizon: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join (`q_stream_stream_join`): attribute each
    purchase to the views that preceded it within ``horizon``, both sides
    unbounded.

    This is the join shape batch systems cannot run incrementally and the
    reference cannot express at all: two live streams, each buffering
    state only inside the watermark × horizon band. The event-time range
    condition is what BOUNDS the state store — without it Spark would
    (rightly) refuse the join as unbounded-state. Inner stream-stream
    joins emit exactly the batch join's pairs once both sides arrive, so
    the availableNow final state is deterministic and carries a full
    DuckDB oracle.

    ``how="leftOuter"`` adds the outer semantics: a view with no purchase
    in the horizon is emitted null-padded only once the global watermark
    passes its last possible match time — the caller must therefore make
    sure the watermark advances past every real row (q_stream_stream_left_join
    does this with far-future sentinel rows on both sides) for the final
    state to equal the batch left join.
    """
    v = views.withWatermark("ts", "1 day").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.withWatermark("ts", "1 day").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return v.join(
        p,
        F.expr(
            f"v_user = p_user AND purchase_ts >= view_ts "
            f"AND purchase_ts <= view_ts + interval {horizon}"
        ),
        how,
    )
