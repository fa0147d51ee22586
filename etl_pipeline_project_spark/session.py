"""SparkSession factory and the engine's one execution profile.

Every answer the engine gives depends on three SQL confs, :data:`PROFILE`:

- ``spark.sql.session.timeZone=UTC`` — the reference mixes tz-aware API
  timestamps with naive manual-entry timestamps (SURVEY §1.4 Q6); reading
  and rendering everything in UTC keeps results stable and
  DuckDB-comparable.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the engine's testdata
  stores some timestamps as parquet TIMESTAMP(NANOS), which vanilla
  sessions reject; the readers convert the long nanos at scan time.
- ``spark.sql.ansi.enabled=true`` — overflow and bad casts fail loudly
  (``operators.aggregates.weighted_exact_sum``'s domain guard relies on it).

:func:`get_spark` builds its session with the profile. Sessions handed in
by callers (correctness harnesses, notebooks) get it from
:func:`ensure_profile`, which the readers call before every scan. The
contract is set-if-missing, raise-on-conflict: a key the session has no
explicit value for is set; an explicit, different value raises
``ValueError`` naming the key and leaves the session unchanged. No other
module writes a session conf.

Sizing: on a local master an unset ``spark.sql.shuffle.partitions`` becomes
``defaultParallelism`` (the core count). Batch shuffles and every stream's
state store read that one value — Structured Streaming fixes a stream's
state partitions from it at start. Non-local masters keep their own sizing
(a cluster sizes this to ~2-3× total cores and relies on AQE coalescing).

Also on for :func:`get_spark` sessions: AQE (runtime shuffle coalescing and
skew-join handling, the 100 TB safety net for the star-schema joins) and
Arrow (vectorized pandas interchange for the Pandas-UDF operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PROFILE = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "true",
}


def ensure_profile(spark: SparkSession) -> None:
    """Give ``spark`` the engine's execution profile (module docstring).

    Checked once per session object: after the first call the profile can
    only change if the caller writes the session's conf, because no engine
    module does. Repeat calls therefore cost no py4j round trip.
    """
    if getattr(spark, "_sg_profile", False):
        return
    conf = spark.conf
    got = {key: conf.get(key, None) for key in PROFILE}
    for key, want in PROFILE.items():
        if got[key] is not None and got[key].lower() != want.lower():
            raise ValueError(f"session sets {key}={got[key]!r}; the engine needs {want!r}")
    for key, want in PROFILE.items():
        if got[key] is None:
            conf.set(key, want)
    sc = spark.sparkContext
    if sc.master.startswith("local") and conf.get("spark.sql.shuffle.partitions", None) is None:
        conf.set("spark.sql.shuffle.partitions", str(sc.defaultParallelism))
    try:
        spark._sg_profile = True
    except AttributeError:  # session type forbids attributes: check every call
        pass


def get_spark(
    app_name: str = "etl_pipeline_project_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession on
    ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]" if cpus else "local[*]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in {**PROFILE, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_profile(spark)
    return spark
