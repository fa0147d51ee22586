"""The workloads. Each stages its inputs from the seed, runs one untimed
warm-up pass whose outputs are checked against the DuckDB twins, and then
runs timed passes of operations from a single closed-loop client.

An operation is one DAG day or one registry key execution (a streaming key
drains its stream inside it). A pass is one walk over the workload's
operations.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from etl_pipeline_project_spark.plans.adapter import ADAPTER_CTE
from etl_pipeline_project_spark.plans.mart import build_mart
from etl_pipeline_project_spark.plans.operational import load_operational
from etl_pipeline_project_spark.queries import ORACLE, REGISTRY
from etl_pipeline_project_spark.schemas import (
    MART_SCHEMAS,
    OPERATIONAL_KEYS,
    OPERATIONAL_SCHEMAS,
)
from etl_pipeline_project_spark.sources.readers import read_csv_glob
from etl_pipeline_project_spark.sources.sinks import write_append, write_overwrite

from spans import cached_mb, catalyst_phases_ms

DAY1_SHARE = 60  # percent of each table's keys staged on day 1
REDELIVERED_SHARE = 5  # percent of a day's rows delivered twice

# Registry keys that take >= ~2 s at sf0.01 on 4 cores: q_dedup_groups
# (near-dup clustering; build-bound, 20+ eager localCheckpoint jobs),
# q_spearman_rho (statistics; eager build-time jobs plus a heavy executor
# half) and q_stream_dedup_watermarked (a stateful availableNow drain whose
# watermark drops late rows).
HEAVY_KEYS = ("q_dedup_groups", "q_spearman_rho", "q_stream_dedup_watermarked")

# Batch keys under ~0.13 s warm at sf0.01, one per operator family, that
# read only the input tables: no scratch fixtures, no Python UDFs, each
# with a DuckDB twin.
LIGHT_KEYS = (
    "q_agg_argmax", "q_agg_conditional", "q_array_ops", "q_date_suite",
    "q_distinct_values", "q_explode_collect", "q_filter_predicate",
    "q_join_anti_incremental", "q_join_left_equi", "q_regex_suite",
    "q_scan_table", "q_set_intersect", "q_sort_limit", "q_sql_q6",
    "q_string_suite", "q_window_first_last",
)
LIGHT_REPEATS = 4  # executions of each light key per pass


def is_stream_key(key: str) -> bool:
    return key.startswith("q_stream") or key == "q_state_store_read"


@dataclass
class Ctx:
    spark: object
    tracer: object
    duck: object  # duckdb connection with views over the input tables
    data_dir: str
    work_dir: str
    seed: int
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_parts: dict = field(default_factory=dict)  # seconds per set-up step

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:300])


@dataclass
class Pass:
    ops: list = field(default_factory=list)  # (op name, seconds)
    op_spans: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return sum(s for _, s in self.ops)


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def twin_mismatch(duck, key: str, cols: list[str], rows: list) -> str | None:
    """Row count, column set and order-insensitive full-precision values of a
    Spark result against the key's DuckDB twin, the rule of
    ``tools/oracle_check.py``; rows-only keys must be non-empty."""
    if key not in ORACLE:
        return None if rows else "no rows"
    res = duck.execute(ORACLE[key])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if len(rows) != len(d_rows):
        return f"rows spark={len(rows)} twin={len(d_rows)}"
    if sorted(cols) != sorted(d_cols):
        return f"columns spark={sorted(cols)} twin={sorted(d_cols)}"
    if _norm_rows(cols, rows) != _norm_rows(d_cols, d_rows):
        return "values differ"
    return None


def digest_files(root: str) -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        for name in files:
            if name.startswith("part-"):
                p = os.path.join(base, name)
                out[p] = os.path.getsize(p)
    return out


class KeysWorkload:
    """Registry keys with the ``noop`` sink, in a seeded order. A pass runs
    each heavy key once and each light key ``LIGHT_REPEATS`` times: light
    keys are short, so their latency needs more samples."""

    def __init__(self, heavy: tuple[str, ...], light: tuple[str, ...]):
        self.keys = heavy + light * LIGHT_REPEATS
        self.order: list[str] = []

    def setup(self, ctx: Ctx) -> str:
        self.order = list(self.keys)
        random.Random(ctx.seed).shuffle(self.order)
        t0 = time.perf_counter()
        for key in dict.fromkeys(self.order):  # warm-up: first execution and output check
            ctx.attempted += 1
            try:
                df = REGISTRY[key](ctx.spark, ctx.data_dir)
                problem = twin_mismatch(ctx.duck, key, df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001 - a failing key is a counted failure
                problem = f"{type(exc).__name__}: {exc}"
            if problem:
                ctx.fail(f"{key}: {problem}")
        ctx.setup_parts["warmup_s"] = time.perf_counter() - t0
        return hashlib.sha256(
            (",".join(self.order) + digest_files(ctx.data_dir)).encode()
        ).hexdigest()

    def run_pass(self, ctx: Ctx) -> Pass:
        tr, p = ctx.tracer, Pass()
        for key in self.order:
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("op", op=key) as op:
                    with tr.span("queries.build"):
                        df = REGISTRY[key](ctx.spark, ctx.data_dir)
                    if op is not None:
                        with tr.span("catalyst.plan") as cat:
                            cat["phases"] = catalyst_phases_ms(ctx.spark, df)
                    with tr.span("queries.exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                ctx.fail(f"{key}: {type(exc).__name__}: {exc}")
                continue
            p.ops.append((key, time.perf_counter() - t0))
            if op is not None:
                p.op_spans.append(op["id"])
        return p


class DagWorkload:
    """The reference DAG as one unit: staged CSVs → deduplicated incremental
    anti-join append into the operational store → 11-table mart refresh.
    One pass is three days into a fresh store: cold (day 1 into an empty
    store), delta (day 2) and rerun (day 2 again, which must append 0 rows)."""

    tables = tuple(OPERATIONAL_SCHEMAS)
    days = (("cold", "day1"), ("delta", "day2"), ("rerun", "day2"))

    def __init__(self):
        self.iteration = 0
        self.expected: dict[str, dict[str, int]] = {}
        self.staged_bytes: dict[str, int] = {}

    def _day_dir(self, ctx: Ctx, day: str) -> str:
        return os.path.join(ctx.work_dir, "staged", day)

    def _staged_rows(self, ctx: Ctx, day: str, t: str) -> str:
        """DuckDB read of one table's staged CSVs of a day, typed as the
        operational schema."""
        types = {"string": "VARCHAR", "double": "DOUBLE", "timestamp": "TIMESTAMP", "bigint": "BIGINT"}
        cols = ", ".join(
            f"'{f.name}': '{types[f.dataType.simpleString()]}'" for f in OPERATIONAL_SCHEMAS[t].fields
        )
        glob = os.path.join(self._day_dir(ctx, day), t, "*.csv")
        return f"read_csv('{glob}', header=true, escape='\\', columns={{{cols}}})"

    def setup(self, ctx: Ctx) -> str:
        """Stage day-1 (a salted-hash share of each table's keys) and day-2
        (every key) CSVs of the five adapter tables, each day with a share
        of its rows delivered twice. The adapter's DuckDB twin produces
        them, so the inputs do not depend on the engine under test."""
        duck, salt = ctx.duck, f"perfbench-{ctx.seed}"
        t0 = time.perf_counter()
        for t in self.tables:
            key = OPERATIONAL_KEYS[t]
            cols = ", ".join(f'"{c}"' for c in OPERATIONAL_SCHEMAS[t].fieldNames())
            duck.execute(f"CREATE TEMP TABLE adapter_{t} AS {ADAPTER_CTE} SELECT {cols} FROM {t}")
            bucket = lambda tag: f"abs(md5_number('{salt}{tag}' || {key}) % 100)"  # noqa: E731
            for day, where in (("day1", f"{bucket('')} < {DAY1_SHARE}"), ("day2", "true")):
                out = os.path.join(self._day_dir(ctx, day), t)
                os.makedirs(out)
                for name, extra in (("part-0", "true"), ("part-1", f"{bucket('/again')} < {REDELIVERED_SHARE}")):
                    duck.execute(
                        f"COPY (SELECT * FROM adapter_{t} WHERE {where} AND {extra} ORDER BY {key}) "
                        f"TO '{out}/{name}.csv' (HEADER, QUOTE '\"', ESCAPE '\\')"
                    )
            duck.execute(f"DROP TABLE adapter_{t}")
        for day in ("day1", "day2"):
            self.expected[day] = {}
            self.staged_bytes[day] = 0
            for t in self.tables:
                rows = self._staged_rows(ctx, day, t)
                self.expected[day][t + ".staged"], self.expected[day][t] = duck.execute(
                    f"SELECT count(*), count(DISTINCT {OPERATIONAL_KEYS[t]}) FROM {rows}"
                ).fetchone()
                d = os.path.join(self._day_dir(ctx, day), t)
                self.staged_bytes[day] += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        t1 = time.perf_counter()
        self._run_iteration(ctx, self.days[:1])  # warm-up: a checked cold day
        ctx.setup_parts.update(stage_s=t1 - t0, warmup_s=time.perf_counter() - t1)
        return digest_files(os.path.join(ctx.work_dir, "staged"))

    def run_pass(self, ctx: Ctx) -> Pass:
        return self._run_iteration(ctx, self.days)

    def _run_iteration(self, ctx: Ctx, days) -> Pass:
        self.iteration += 1
        base = os.path.join(ctx.work_dir, "dag", f"it{self.iteration}")
        store, mart = os.path.join(base, "store"), os.path.join(base, "mart")
        p = Pass(extra=defaultdict(float))
        rows = {t: 0 for t in self.tables}
        for i, (kind, day) in enumerate(days):
            ctx.attempted += 1
            before = _dir_files(store)
            t0 = time.perf_counter()
            try:
                op = self._day(ctx, self._day_dir(ctx, day), store, mart, kind)
            except Exception as exc:  # noqa: BLE001 - a failing day is a counted failure
                ctx.fail(f"{kind} day: {type(exc).__name__}: {exc}")
                ctx.attempted += len(days) - i - 1
                ctx.failed += len(days) - i - 1
                break
            p.ops.append((kind, time.perf_counter() - t0))
            if op is not None:
                p.op_spans.append(op["id"])
            problems = self._check_day(ctx, kind, day, store, mart, before, rows, p.extra)
            if problems:
                ctx.fail(f"{kind} day: " + "; ".join(problems))
        shutil.rmtree(base, ignore_errors=True)
        return p

    def _day(self, ctx: Ctx, day_dir: str, store: str, mart_dir: str, kind: str):
        spark, tr = ctx.spark, ctx.tracer
        with tr.span("op", op=kind) as op:
            with tr.span("readers.csv_glob_build"):
                staged = {
                    t: read_csv_glob(spark, os.path.join(day_dir, t, "*.csv"), OPERATIONAL_SCHEMAS[t])
                    for t in self.tables
                }
            for t in self.tables:
                key, path = OPERATIONAL_KEYS[t], os.path.join(store, t)
                with tr.span("operational.build"):
                    existing = spark.read.parquet(path) if os.path.isdir(path) else None
                    rest = [F.col(c).asc_nulls_first() for c in staged[t].columns if c != key]
                    new = load_operational(staged[t], existing, key=key, tiebreak=rest)
                with tr.span("sinks.ops_write", table=t):
                    write_append(new, path)
            with tr.span("mart.build"):
                ops = {t: spark.read.parquet(os.path.join(store, t)) for t in self.tables}
                tables = build_mart(ops)
            with tr.span("sinks.mart_write"):
                for name, df in tables.items():
                    write_overwrite(df, os.path.join(mart_dir, name))
            if op is not None:
                op["cached_mb"] = cached_mb(spark)
            spark.catalog.clearCache()
        return op

    def _check_day(self, ctx, kind, day, store, mart, before, rows, tally) -> list[str]:
        """Untimed: the operational store holds one staged row per distinct
        staged key and nothing else, the rerun appends 0 rows, and the 11 mart tables
        match their DuckDB twins over the store this day wrote. Also tallies
        what the sinks wrote and the operational counters."""
        duck, problems = ctx.duck, []
        written = {p: s for p, s in _dir_files(store).items() if p not in before}
        written.update(_dir_files(mart))
        tally["files_written"] += len(written)
        tally["bytes_written"] += sum(written.values())
        tally["bytes_staged"] += self.staged_bytes[day]
        for t in self.tables:
            key = OPERATIONAL_KEYS[t]
            src = f"read_parquet('{os.path.join(store, t)}/*.parquet')"
            n, distinct, stray = duck.execute(
                f"SELECT count(*), count(DISTINCT {key}), (SELECT count(*) FROM "
                f"(SELECT * FROM {src} EXCEPT ALL SELECT DISTINCT * FROM {self._staged_rows(ctx, day, t)})) "
                f"FROM {src}"
            ).fetchone()
            if n != self.expected[day][t] or distinct != n or stray:
                problems.append(
                    f"{t}: {n} rows, {distinct} keys, {stray} not staged; want {self.expected[day][t]}"
                )
            appended, rows[t] = n - rows[t], n
            if kind == "rerun" and appended:
                problems.append(f"{t}: rerun appended {appended} rows")
            staged = self.expected[day][t + ".staged"]
            tally["rows_staged"] += staged
            tally["rows_dedup_removed"] += staged - self.expected[day][t]
            tally["rows_appended"] += appended
            tally[f"{kind}_rows_appended"] += appended
            duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")
        for name in MART_SCHEMAS:
            problem = self._mart_mismatch(duck, name, os.path.join(mart, name))
            if problem:
                problems.append(f"{name}: {problem}")
        for t in self.tables:
            duck.execute(f"DROP VIEW {t}")
        return problems

    @staticmethod
    def _mart_mismatch(duck, name: str, path: str) -> str | None:
        twin = ORACLE[f"q_mart_{name}"]
        if not twin.startswith(ADAPTER_CTE):
            return "twin does not start with the adapter CTE"
        twin_sql = "WITH _perfbench AS (SELECT 1)" + twin[len(ADAPTER_CTE):]
        want = duck.execute(f"DESCRIBE {twin_sql}").fetchall()
        got = duck.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()
        cols = [c[0] for c in want]
        if sorted(cols) != sorted(c[0] for c in got):
            return f"columns {sorted(c[0] for c in got)} vs twin {sorted(cols)}"
        got_types = {c[0]: c[1] for c in got}
        sel = ", ".join(
            f'CAST("{c}" AS DOUBLE) AS "{c}"' if got_types[c].startswith("DECIMAL") else f'"{c}"'
            for c in cols
        )
        spark_sql = f"SELECT {sel} FROM read_parquet('{path}/*.parquet')"
        n_got = duck.execute(f"SELECT count(*) FROM ({spark_sql})").fetchone()[0]
        n_want = duck.execute(f"SELECT count(*) FROM ({twin_sql})").fetchone()[0]
        if n_got != n_want:
            return f"rows {n_got} vs twin {n_want}"
        diff = duck.execute(
            f"SELECT count(*) FROM (({spark_sql}) EXCEPT ALL ({twin_sql})) "
        ).fetchone()[0]
        return f"{diff} rows differ from the twin" if diff else None


# Why each workload was chosen is recorded in BENCHMARK.json.
WORKLOADS = {
    "dag_daily": DagWorkload,
    "keys_mix": lambda: KeysWorkload(HEAVY_KEYS, LIGHT_KEYS),
}
