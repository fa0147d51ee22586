"""Regression: the engine must work under a caller-supplied SparkSession
that has NONE of the engine's session configs (the round-1 driver harness
ran exactly that way and 11 queries died on PARQUET_TYPE_ILLEGAL for the
events table's TIMESTAMP(NANOS) column).

The readers give such a session the engine's execution profile through
`session.ensure_profile`: they set what is missing, refuse a conflicting
value, and on a local master size an unset `shuffle.partitions` to the
core count. These tests run on a fresh `spark.newSession()` with the
profile keys unset, so the shared test session is never touched.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import types as T

from etl_pipeline_project_spark.queries import REGISTRY
from etl_pipeline_project_spark.session import PROFILE, ensure_profile
from etl_pipeline_project_spark.sources.readers import load_table, read_csv_glob

SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture()
def bare_confs(spark):
    """A caller's config-less session: a new session on the
    shared context with the profile keys and the shuffle sizing unset."""
    s = spark.newSession()
    for key in (*PROFILE, SHUFFLE):
        s.conf.unset(key)
        assert s.conf.get(key, None) is None
    return s


def test_load_events_without_engine_confs(bare_confs, sf_dir):
    ev = load_table(bare_confs, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    assert ev.limit(5).count() == 5


def test_flagship_time_dimension_without_engine_confs(bare_confs, sf_dir):
    out = REGISTRY["q_time_dimension"](bare_confs, sf_dir)
    cols = set(out.columns)
    assert {"timestamp_datetime", "jam", "hari", "tanggal", "bulan", "tahun"} <= cols
    assert out.count() > 0


def test_stream_ingest_without_engine_confs(bare_confs, sf_dir):
    out = REGISTRY["q_stream_ingest"](bare_confs, sf_dir)
    assert out.count() > 0


def test_load_table_sets_profile_and_local_sizing(bare_confs, sf_dir):
    load_table(bare_confs, sf_dir, "orders")
    for key, want in PROFILE.items():
        assert bare_confs.conf.get(key, None) == want
    parallelism = bare_confs.sparkContext.defaultParallelism
    assert bare_confs.conf.get(SHUFFLE, None) == str(parallelism)


def test_conflicting_time_zone_raises_and_is_kept(bare_confs, tmp_path):
    (tmp_path / "day1.csv").write_text("k,ts\n1,2024-01-01 00:30:00\n")
    bare_confs.conf.set("spark.sql.session.timeZone", "Asia/Jakarta")
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("ts", T.TimestampType())]
    )
    with pytest.raises(ValueError, match="spark.sql.session.timeZone"):
        read_csv_glob(bare_confs, str(tmp_path), schema)
    assert bare_confs.conf.get("spark.sql.session.timeZone") == "Asia/Jakarta"
    # a refused session is left as the caller made it
    for key in ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.ansi.enabled", SHUFFLE):
        assert bare_confs.conf.get(key, None) is None


def test_explicit_shuffle_partitions_is_kept(bare_confs, sf_dir):
    bare_confs.conf.set(SHUFFLE, "3")
    load_table(bare_confs, sf_dir, "orders")
    assert bare_confs.conf.get(SHUFFLE) == "3"


def test_non_local_master_keeps_its_shuffle_sizing():
    confs: dict[str, str] = {}
    fake = SimpleNamespace(
        conf=SimpleNamespace(get=confs.get, set=confs.__setitem__),
        sparkContext=SimpleNamespace(master="spark://host:7077"),
    )
    ensure_profile(fake)
    assert confs == PROFILE
