"""Round-5 hardening tests (the ADVICE lows from round 4).

1. ``asof_join_grouped`` carries integral right values through pandas'
   nullable Int64 dtype, so int64 quotes above 2^53 survive bit-exact
   (the float64 path silently rounds them).
2. ``scd2_state`` takes the same key/attr kwargs as ``merge_scd2_batch``,
   so a store built with non-default column names reads back.
3. ``q_event_rate_alert`` buckets hours with FLOOR, matching the DuckDB
   twin on pre-1970 (negative-epoch) timestamps.
4. ``_fp_tag`` only collapses to the path-only 'absent' tag when the file
   is genuinely missing; an unreadable footer still fingerprints by
   size+mtime so regenerated testdata rotates the tag.
5. ``_staged_fixture`` is the one build-once protocol: a failed build
   publishes nothing, racing builders share one build, and a published
   stream checkpoint re-runs in place.
"""

from __future__ import annotations

import ast
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_spark.operators.joins import asof_join_grouped
from etl_pipeline_project_spark import queries
from etl_pipeline_project_spark.queries import (
    ORACLE,
    _fp_tag,
    _staged_fixture,
    q_event_rate_alert,
)
from etl_pipeline_project_spark.streaming.scd2 import merge_scd2_batch, scd2_state

BIG = 2**53 + 1  # not representable in float64 (rounds to 2**53)


def test_asof_grouped_integral_values_exact_above_2_53(spark):
    left = spark.createDataFrame(
        [("k", 10), ("k", 20), ("k", 30), ("z", 5)],
        "k string, t int",
    ).select("k", F.timestamp_seconds("t").alias("ts"), F.col("t").alias("lt"))
    right = spark.createDataFrame(
        [("k", 9, BIG), ("k", 25, 2**60 + 7), ("z", 99, 1)],
        "k string, t int, val long",
    ).select("k", F.timestamp_seconds("t").alias("ts"), "val")
    out = asof_join_grouped(
        left, right, key="k", left_ts="ts", right_ts="ts", right_value="val"
    )
    got = {r["lt"]: r["r_val"] for r in out.collect()}
    assert got == {10: BIG, 20: BIG, 30: 2**60 + 7, 5: None}
    assert dict(out.dtypes)["r_val"] == "bigint"


def test_asof_grouped_integral_state_carries_across_batches(spark):
    # tiny Arrow batches force the carried state_val through many batches;
    # a float64 state would come back as 9007199254740992 for every row.
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        left = spark.range(50).select(
            F.lit("k").alias("k"),
            F.timestamp_seconds(F.col("id") + 100).alias("ts"),
            F.col("id").alias("lt"),
        )
        right = spark.createDataFrame(
            [("k", 1, BIG)], "k string, t int, val long"
        ).select("k", F.timestamp_seconds("t").alias("ts"), "val")
        out = asof_join_grouped(
            left, right, key="k", left_ts="ts", right_ts="ts", right_value="val"
        )
        vals = {r["r_val"] for r in out.collect()}
        assert vals == {BIG}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_scd2_state_honors_custom_column_names(spark, tmp_path):
    store = str(tmp_path / "scd2_store")
    batch = spark.createDataFrame(
        [(1, 10, "bronze", 100), (1, 20, "gold", 101), (2, 10, "silver", 102)],
        "acct bigint, t int, tier string, chg bigint",
    ).select("acct", F.timestamp_seconds("t").alias("etime"), "tier", "chg")
    merge_scd2_batch(
        batch, store, key="acct", ts_col="etime", attr="tier", id_col="chg"
    )
    state = scd2_state(spark, store, key="acct", attr="tier")
    rows = {(r["acct"], r["tier"], r["is_current"]) for r in state.collect()}
    assert rows == {(1, "bronze", False), (1, "gold", True), (2, "silver", True)}


def test_event_rate_alert_floors_negative_epochs(spark, tmp_path):
    # 1969-12-31 23:30:00 has epoch -1800: FLOOR(-0.5) = -1, while a bare
    # cast-to-long truncates to 0 — build a tiny events table straddling
    # 1970 and diff Spark against the registered DuckDB twin.
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(
                pd.to_datetime(
                    [
                        "1969-12-31 23:30:00",
                        "1969-12-31 22:10:00",
                        "1970-01-01 00:30:00",
                        "1970-01-01 01:05:00",
                    ]
                ),
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1, 1, 2, 2], pa.int64()),
            "event_type": pa.array(["a", "a", "a", "b"]),
            "value": pa.array([1.0, 2.0, 3.0, 4.0]),
            "props": pa.array(["{}", "{}", "{}", "{}"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = {
        (r["event_type"], r["hr"], r["n"])
        for r in q_event_rate_alert(spark, str(tmp_path)).collect()
    }
    assert ("a", -1, 1) in got and ("a", -2, 1) in got  # floored, not truncated
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = {
        (t, h, n)
        for t, h, n, *_ in con.execute(ORACLE["q_event_rate_alert"]).fetchall()
    }
    assert got == oracle


def test_fp_tag_unreadable_footer_still_fingerprints(tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "events.parquet")
    # genuinely missing -> stable 'absent' tag
    t_missing = _fp_tag(sf, "events")
    assert t_missing == _fp_tag(sf, "events")
    # unreadable footer (not valid parquet) -> tag derived from size+mtime,
    # distinct from 'absent' and rotating when the file changes
    with open(path, "wb") as f:
        f.write(b"not a parquet file")
    t1 = _fp_tag(sf, "events")
    assert t1 != t_missing
    os.utime(path, ns=(1, 1))
    t2 = _fp_tag(sf, "events")
    with open(path, "wb") as f:
        f.write(b"not a parquet file, regenerated")
    t3 = _fp_tag(sf, "events")
    assert len({t1, t2, t3}) == 3


def test_staged_fixture_failed_build_publishes_nothing(tmp_path, monkeypatch):
    monkeypatch.setattr(queries, "_SCRATCH", str(tmp_path))

    def build(d):
        os.makedirs(d)
        with open(f"{d}/half_written", "w") as fh:
            fh.write("x")
        raise RuntimeError("interrupted build")

    with pytest.raises(RuntimeError, match="interrupted build"):
        _staged_fixture("fx", "tag", build)
    assert os.listdir(tmp_path) == []


def test_staged_fixture_racing_builders_share_one_build(tmp_path, monkeypatch):
    monkeypatch.setattr(queries, "_SCRATCH", str(tmp_path))
    both_building = threading.Barrier(2)

    def build(d):
        os.makedirs(d)
        with open(f"{d}/built_in", "w") as fh:
            fh.write(os.path.basename(d))
        both_building.wait(timeout=60)  # neither publishes before both built

    with ThreadPoolExecutor(2) as pool:
        paths = list(pool.map(lambda _: _staged_fixture("fx", "tag", build), range(2)))
    assert paths[0] == paths[1]
    builds = sorted(e for e in os.listdir(tmp_path) if e != "fx_tag")
    assert builds == [os.path.basename(paths[0])]
    with open(f"{paths[0]}/built_in") as fh:
        assert fh.read() == builds[0]
    # published: a later call reuses the build and creates nothing
    assert _staged_fixture("fx", "tag", build) == paths[0]
    assert sorted(os.listdir(tmp_path)) == sorted(["fx_tag", *builds])


def test_staged_fixture_stream_checkpoint_reruns_in_place(spark, tmp_path, monkeypatch):
    """Checkpoints and _spark_metadata record absolute paths: a stream
    staged by the fixture must re-run from the returned path with nothing
    new to process, and its sink must stay readable."""
    monkeypatch.setattr(queries, "_SCRATCH", str(tmp_path))
    src = spark.range(100).withColumnRenamed("id", "k")

    def run_stream(base):
        q = (
            spark.readStream.schema(src.schema)
            .parquet(f"{base}/stage")
            .writeStream.format("parquet")
            .option("path", f"{base}/sink")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    def build(d):
        src.write.parquet(f"{d}/stage")
        assert run_stream(d) == 100

    base = _staged_fixture("ckpt", "tag", build)
    assert run_stream(base) == 0
    assert spark.read.parquet(f"{base}/sink").count() == 100


def _qualname(node) -> str:
    if isinstance(node, ast.Attribute):
        return f"{_qualname(node.value)}.{node.attr}"
    return node.id if isinstance(node, ast.Name) else ""


def test_queries_build_fixtures_only_through_staged_fixture():
    """Shape check over queries.py: every registry function that keys a
    fixture on _fp_tag stages it through _staged_fixture (directly or via
    _bucketed_scratch_table); no function probes or deletes a _SCRATCH
    path by hand; no query pins spark.sql.shuffle.partitions."""
    with open(queries.__file__) as fh:
        tree = ast.parse(fh.read())
    problems = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
        called = {_qualname(c.func) for c in calls}
        is_registry = any(
            isinstance(d, ast.Call) and _qualname(d.func) == "_q"
            for d in fn.decorator_list
        )
        if (
            is_registry
            and "_fp_tag" in called
            and not called & {"_staged_fixture", "_bucketed_scratch_table"}
        ):
            problems.append(f"{fn.name}: _fp_tag without _staged_fixture")
        scratch = {"_SCRATCH"}  # names bound to a scratch path

        def on_scratch(expr) -> bool:
            return any(
                (isinstance(n, ast.Name) and n.id in scratch)
                or (isinstance(n, ast.Call) and _qualname(n.func) == "_staged_fixture")
                for n in ast.walk(expr)
            )

        assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
        for a in sorted(assigns, key=lambda n: n.lineno):
            if on_scratch(a.value):
                scratch |= {n.id for t in a.targets for n in ast.walk(t) if isinstance(n, ast.Name)}
        for c in calls:
            name = _qualname(c.func)
            if (
                fn.name != "_staged_fixture"
                and name in ("os.path.exists", "shutil.rmtree")
                and any(on_scratch(a) for a in c.args)
            ):
                problems.append(f"{fn.name}:{c.lineno}: {name} on a _SCRATCH path")
    for c in ast.walk(tree):
        if (
            isinstance(c, ast.Call)
            and _qualname(c.func).endswith("conf.set")
            and c.args
            and isinstance(c.args[0], ast.Constant)
            and c.args[0].value == "spark.sql.shuffle.partitions"
        ):
            problems.append(f"line {c.lineno}: spark.sql.shuffle.partitions pin")
    assert not problems, "\n".join(problems)


def test_grouped_map_pandas_guard_trips_on_mega_group(spark, sf_dir):
    from etl_pipeline_project_spark.queries import q_grouped_map_pandas

    out = q_grouped_map_pandas(spark, sf_dir, max_group_rows=10)
    with pytest.raises(Exception, match="max_group_rows"):
        out.collect()
    # within the bound the fold still reconciles to the plain aggregate
    ev_n = (
        q_grouped_map_pandas(spark, sf_dir)
        .agg(F.sum("n_events"))
        .first()[0]
    )
    from etl_pipeline_project_spark.sources.readers import load_table

    assert ev_n == load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).count()
