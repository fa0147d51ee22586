"""Round-4 batch-92: capacity-paced backfill."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from etl_pipeline_project_spark import queries
from etl_pipeline_project_spark.queries import _fp_tag, q_stream_backfill_paced
from etl_pipeline_project_spark.sources.readers import load_table


def test_backfill_drains_exactly_once(spark, sf_dir):
    out = q_stream_backfill_paced(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    assert out.agg(F.sum("n_events")).first()[0] == ev.count()


def test_backfill_ran_as_multiple_bounded_batches(spark, sf_dir):
    """8 stage files at 2 files/trigger -> at least 4 committed
    micro-batches in the checkpoint's commit log."""
    q_stream_backfill_paced(spark, sf_dir)
    fixture = f"{queries._SCRATCH}/backfill_{_fp_tag(sf_dir, 'events')}"
    commits_dir = os.path.realpath(fixture) + "/ckpt/commits"
    commits = [
        p for p in glob.glob(os.path.join(commits_dir, "*"))
        if os.path.basename(p).isdigit()
    ]
    assert len(commits) >= 4, commits
