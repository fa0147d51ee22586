"""Registry keys run concurrently from threads on ONE session: every result
matches its DuckDB twin, and the session's profile and shuffle sizing read
the same afterwards. Stateful streams, batch aggregates, windows and the
mart share the session; none of them may write its conf, since a
temporary set/restore races with every other query on the session."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import duckdb

from etl_pipeline_project_spark.queries import ORACLE, REGISTRY
from etl_pipeline_project_spark.schemas import TESTDATA_TABLES
from etl_pipeline_project_spark.session import PROFILE, ensure_profile
from tools.oracle_check import _norm_rows

KEYS = [
    "q_stream_dedup",
    "q_stream_window",
    "q_stream_stream_join",
    "q_time_dimension",
    "q_quantiles",
    "q_mart_dim_waktu",
    "q_sql_q6",
    "q_window_rank",
]
WATCHED = (*PROFILE, "spark.sql.shuffle.partitions")


def _rows(cols, rows):
    return sorted(cols), _norm_rows(cols, rows)


def test_keys_run_concurrently_on_one_session(spark, sf_dir):
    # a batch sizing no stream would pin, so a set/restore around any
    # stream start would show in the after-read
    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "5")
    ensure_profile(session)
    before = {k: session.conf.get(k, None) for k in WATCHED}

    def run(key):
        df = REGISTRY[key](session, sf_dir)
        return _rows(df.columns, df.collect())

    with ThreadPoolExecutor(max_workers=len(KEYS)) as pool:
        got = dict(zip(KEYS, pool.map(run, KEYS)))

    assert {k: session.conf.get(k, None) for k in WATCHED} == before
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for key in KEYS:
        res = con.execute(ORACLE[key])
        want = _rows([d[0] for d in res.description], res.fetchall())
        assert got[key] == want, key
