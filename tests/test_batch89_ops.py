"""Round-4 batch-89: State Data Source introspection."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_project_spark import queries
from etl_pipeline_project_spark.queries import _fp_tag, q_state_store_read
from etl_pipeline_project_spark.sources.readers import load_table


def test_state_store_equals_batch_aggregate(spark, sf_dir):
    st = {r["event_type"]: r["n_events"] for r in q_state_store_read(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert st == want


def test_state_metadata_readable(spark, sf_dir):
    q_state_store_read(spark, sf_dir)
    fixture = f"{queries._SCRATCH}/state_read_{_fp_tag(sf_dir, 'events')}"
    ckpt = os.path.realpath(fixture) + "/ckpt"
    md = spark.read.format("state-metadata").load(ckpt)
    rows = md.collect()
    assert len(rows) == 1
    assert rows[0]["operatorName"] == "stateStoreSave"
