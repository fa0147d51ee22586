"""Table scans and multi-file ingestion.

Reference behaviors re-expressed:

- Multi-file CSV scan + union (`data/utils.py:28-45`: list GCS blobs under a
  prefix, filter ``*.csv``, read each into pandas, ``pd.concat``) → a single
  glob scan. Spark's multi-file reader subsumes the loop-and-concat and
  parallelizes the read across executors; at 100 TB the file listing itself
  is distributed and the per-file work never touches the driver.
- Full table scan (`data/transformation_dw.py:130-133`: ``pd.read_sql_table``)
  → ``spark.read.parquet`` / ``spark.table`` — lazy, columnar, with column
  pruning and predicate pushdown handled by Catalyst.
- Single-column key scan (`data/transformation_db.py:109`:
  ``SELECT {id_column} FROM {table}``) → ``.select(key)``; the parquet scan
  reads exactly one column (check ``ReadSchema`` in the plan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_project_spark.schemas import TESTDATA_SCHEMAS
from etl_pipeline_project_spark.session import ensure_profile


def normalize_timestamps(df: DataFrame, names: list[str]) -> DataFrame:
    """Make the parquet TIMESTAMP(NANOS) columns ``names`` TimestampType.

    They arrive as long nanos under ``nanosAsLong``, or (Spark 4.1+)
    natively as TIMESTAMP_NTZ; the event-time operators (withWatermark,
    unix_micros, window) reject NTZ. Long path: integer µs division (floor,
    matching DuckDB's nanos→micros truncation; ``div`` keeps it in int64,
    a double division would lose precision above 2^53 ns). NTZ path: plain
    cast; the profile's UTC session time zone keeps the wall-clock, so it
    renders identically to the DuckDB oracles.
    """
    types = {f.name: f.dataType for f in df.schema.fields}
    fixes = {}
    for name in names:
        if isinstance(types[name], T.LongType):
            fixes[name] = F.timestamp_micros(F.expr(f"{name} div 1000"))
        elif isinstance(types[name], T.TimestampNTZType):
            fixes[name] = F.col(name).cast(T.TimestampType())
    return df.withColumns(fixes) if fixes else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-testdata parquet table with its declared schema.

    Parquet is self-describing, so no schema is forced — but we validate
    against the registry to fail fast on drift instead of mid-query.

    The constructed (lazy) DataFrame is memoized per (session, path,
    file-stat): ``spark.read.parquet`` re-lists the path and re-reads a
    footer for the schema on EVERY call — pure driver-side metadata work
    that repeated ~1,500× across a bench run (optimization guide §6: table
    formats exist largely to cache exactly this). The cache holds only the
    unexecuted plan; every action still scans the parquet files, and the
    stat key (mtime, size) invalidates the entry if anyone rewrites the
    table in place. Invalidation scope (r12 ADVICE): exact for
    SINGLE-FILE tables (the driver testdata); for a parquet *directory*
    the stat only changes on file add/remove — an in-place rewrite of an
    existing part file keeps the directory stat, so directory tables are
    assumed immutable-once-written (the standard lakehouse contract;
    rewriters create new files).
    """
    # callers (correctness harnesses, notebooks) hand us their own session
    ensure_profile(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        stat_key = (st.st_mtime_ns, st.st_size)
    except OSError:
        stat_key = None  # let spark.read raise its own (clearer) error
    cache = getattr(spark, "_sg_table_cache", None)
    if cache is None:
        cache = {}
        try:
            spark._sg_table_cache = cache
        except AttributeError:  # session type forbids attributes — skip memo
            cache = None
    if cache is not None:
        hit = cache.get(path)
        if hit is not None and hit[0] == stat_key:
            return hit[1]
    df = spark.read.parquet(path)
    expected = TESTDATA_SCHEMAS.get(name)
    if expected is not None:
        got = {f.name: f.dataType for f in df.schema.fields}
        missing = set(expected.fieldNames()) - set(got)
        if missing:
            raise ValueError(f"table {name!r} at {sf_dir} is missing columns {sorted(missing)}")
        df = normalize_timestamps(
            df, [f.name for f in expected.fields if isinstance(f.dataType, T.TimestampType)]
        )
    if cache is not None:
        cache[path] = (stat_key, df)
    return df


def read_csv_glob(
    spark: SparkSession,
    path_glob: str,
    schema: T.StructType,
    *,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """One logical table from many files (reference `data/utils.py:28-45`).

    The reference lists blobs, filters ``.csv``, reads each file eagerly and
    concatenates on the driver — O(dataset) driver memory. Here the glob is
    pushed to the source: Spark plans one distributed scan over all matched
    files, and the explicit schema avoids the reference's inference drift
    (SURVEY §1.4 Q2). ``infer=True`` restores inference for exploration only.
    """
    ensure_profile(spark)  # the CSV timestamps parse in the session time zone
    reader = spark.read.option("header", str(header).lower())
    if infer:
        reader = reader.option("inferSchema", "true")
    else:
        reader = reader.schema(schema)
    # pathGlobFilter mirrors the reference's `.csv`-suffix filter (utils.py:35)
    return reader.option("pathGlobFilter", "*.csv").csv(path_glob)


def scan_keys(df: DataFrame, key: str) -> DataFrame:
    """SELECT key FROM t — the reference's existing-ids scan
    (`data/transformation_db.py:109`). Column pruning reaches the parquet
    footer: the scan reads exactly one column.
    """
    return df.select(key)
