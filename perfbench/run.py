"""The repo benchmark: one named workload, one seed, one closed-loop client
in a single process on local[4].

    python3 perfbench/run.py --workload dag_daily --seed 1 --seconds 10 --trace 0

Set-up (session start, seeded input staging, an untimed warm-up pass whose
outputs are checked against the DuckDB twins) is timed as ``setup_s``. Then
passes over the workload's operations run for ``--seconds``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json. ``--trace 1``
is the traced run: untraced passes for half the time, then passes with
spans around every call into the engine, Spark job tags per span, an
uncompressed event log and a streaming listener; it prints the per-layer
metrics, including the tracing overhead against the untraced passes.

Standard output ends with two JSON lines: a report (host context, the
workload's own metric names, input digest, failures) and the result line
``{"correct", "attempted", "failed", "metrics"}``. Every file the run
writes goes under ``.perfbench_work/`` in the checkout and is removed at
the end.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402
from collections import defaultdict  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
WORKLOAD_NAMES = ("dag_daily", "keys_mix")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file of the run inside ``work``, let Python workers import
    the engine, and pin the host shape."""
    for sub in ("tmp", "local", "eventlog", "warehouse", "engine_scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM this run starts (the spark-submit launcher and the driver)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path.insert(0, ROOT)


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def measure(ctx, workload, jvm, seconds: float) -> list:
    """Closed loop: passes back to back until the next one would overrun
    ``seconds``; at least one pass."""
    passes = []
    t_end = time.perf_counter() + seconds
    while True:
        gc0, t0 = jvm.gc_s(), time.perf_counter()
        p = workload.run_pass(ctx)
        wall = time.perf_counter() - t0
        p.extra["jvm_gc_s"] = jvm.gc_s() - gc0
        passes.append(p)
        if time.perf_counter() + wall > t_end:
            return passes


def end_to_end(passes, setup_s: float, live_heap_mb: float) -> dict[str, float]:
    ops = [s for p in passes for _, s in p.ops]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.seconds for p in passes),
        "op_p50_ms": 1000.0 * statistics.median(ops),
        "live_heap_mb": live_heap_mb,
    }


def workload_report(name: str, passes) -> dict[str, float]:
    """The workload's end-to-end figures under their own names."""
    from workloads import HEAVY_KEYS, LIGHT_KEYS, is_stream_key

    med = statistics.median
    if name == "dag_daily":
        by_kind = defaultdict(list)
        for p in passes:
            for kind, s in p.ops:
                by_kind[kind].append(s)
        return {f"dag_{k}_s": med(v) for k, v in by_kind.items()}
    light = [s for p in passes for k, s in p.ops if k in LIGHT_KEYS]
    return {
        "heavy_total_s": med(sum(s for k, s in p.ops if k in HEAVY_KEYS) for p in passes),
        "stream_total_s": med(sum(s for k, s in p.ops if is_stream_key(k)) for p in passes),
        "light_query_p50_ms": 1000.0 * med(light),
        "light_query_p95_ms": 1000.0 * statistics.quantiles(light, n=20, method="inclusive")[-1],
        "light_query_samples": len(light),
    }


def op_medians(passes) -> dict[str, float]:
    by_op = defaultdict(list)
    for p in passes:
        for name, s in p.ops:
            by_op[name].append(s)
    return {name: round(statistics.median(v), 4) for name, v in by_op.items()}


def per_layer(tracer, passes, untraced, events, progress, fixed) -> dict:
    """Median over the traced passes of each layer's per-pass figure."""
    from spans import attribute_jobs, stream_totals, task_totals
    from workloads import is_stream_key

    job_span, stage_span, untagged = attribute_jobs(events, tracer)
    by_id = {s["id"]: s for s in tracer.spans}
    self_time = tracer.self_times()
    rows = []
    for p in passes:
        ids = set().union(*(tracer.descendants(op) for op in p.op_spans)) if p.op_spans else set()
        dur = defaultdict(float)
        for i in ids:
            dur[by_id[i]["name"]] += by_id[i]["end"] - by_id[i]["start"]
        jobs = defaultdict(int)
        for sid in job_span.values():
            if sid in ids:
                jobs[by_id[sid]["name"]] += 1
        phases = defaultdict(float)
        cached = 0.0
        for i in ids:
            for k, v in by_id[i].get("phases", {}).items():
                phases[k] += v
            cached = max(cached, by_id[i].get("cached_mb", 0.0))
        t = task_totals(events, stage_span, ids)
        st = stream_totals(progress, tracer, ids)
        x = p.extra
        rows.append({
            "readers.csv_glob_build_s": dur["readers.csv_glob_build"],
            "operational.build_s": dur["operational.build"],
            "operational.rows_staged": x.get("rows_staged", 0),
            "operational.rows_dedup_removed": x.get("rows_dedup_removed", 0),
            "operational.rows_appended": x.get("rows_appended", 0),
            "operational.rerun_rows_appended": x.get("rerun_rows_appended", 0),
            "operational.append_ratio": (
                x["rows_appended"] / x["rows_staged"] if x.get("rows_staged") else 0.0
            ),
            "sinks.ops_write_s": dur["sinks.ops_write"],
            "sinks.mart_write_s": dur["sinks.mart_write"],
            "sinks.files_written": x.get("files_written", 0),
            "sinks.bytes_per_input_byte": (
                x["bytes_written"] / x["bytes_staged"] if x.get("bytes_staged") else 0.0
            ),
            "mart.build_s": dur["mart.build"],
            "mart.cached_mb": cached,
            "queries.build_s": dur["queries.build"],
            "queries.build_jobs": jobs["queries.build"],
            "queries.exec_s": dur["queries.exec"],
            "queries.exec_jobs": jobs["queries.exec"],
            "catalyst.analysis_ms": phases["analysis"],
            "catalyst.optimization_ms": phases["optimization"],
            "catalyst.planning_ms": phases["planning"],
            "scheduler.jobs": sum(1 for sid in job_span.values() if sid in ids),
            "scheduler.stages": t["stages"],
            "scheduler.tasks": t["tasks"],
            "scheduler.delay_s": t["delay_s"],
            "executor.run_s": t["run_s"],
            "executor.cpu_s": t["cpu_s"],
            "executor.gc_s": t["gc_s"],
            "scan.input_mb": t["input_mb"],
            "shuffle.write_mb": t["shuffle_write_mb"],
            "shuffle.read_mb": t["shuffle_read_mb"],
            "shuffle.fetch_wait_s": t["fetch_wait_s"],
            "spill.mb": t["spill_mb"],
            **{f"streaming.{k}": st[k] for k in (
                "batches", "trigger_ms", "add_batch_ms", "query_planning_ms",
                "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms", "input_rows",
                "state_rows", "state_mem_mb", "rows_dropped_by_watermark",
            )},
            "streaming.start_stop_s": (
                sum(s for k, s in p.ops if is_stream_key(k)) - st["trigger_ms"] / 1000.0
                if st["batches"] else 0.0
            ),
            "jvm.gc_s": x["jvm_gc_s"],
            "trace.pass_s": p.seconds,
            "trace.unattributed_share": sum(self_time[op] for op in p.op_spans) / p.seconds,
        })
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    untraced_s = statistics.median(p.seconds for p in untraced)
    out.update(fixed)
    out["trace.untraced_pass_s"] = untraced_s
    # every second of a traced pass is the self time of exactly one span
    # under its op spans; what the traced pass adds over an untraced pass
    # is what tracing costs
    out["trace.overhead_share"] = out["trace.pass_s"] / untraced_s - 1.0
    out["trace.untagged_jobs"] = untagged
    return out


def check_against_spec(metrics: dict, units: dict, kind: str) -> None:
    """Every metric BENCHMARK.json names for this mode is printed, with its
    unit, and nothing else; names use only [A-Za-z0-9_.-]."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    bad = [n for n in list(spec) + list(metrics) if not NAME_RE.match(n)]
    if set(spec) != set(metrics) or bad or any(units[n] != spec[n] for n in spec):
        raise SystemExit(
            f"perfbench: metrics do not match BENCHMARK.json {kind}: "
            f"missing {sorted(set(spec) - set(metrics))}, "
            f"extra {sorted(set(metrics) - set(spec))}, bad names {bad}"
        )


def unit_of(name: str) -> str:
    """Unit of a metric, read from the last token of its name."""
    last = re.split(r"[._]", name)[-1]
    return {"s": "s", "ms": "ms", "mb": "MB", "share": "ratio", "ratio": "ratio", "byte": "B/B"}.get(
        last, "count"
    )


def run(args, work: str) -> tuple[dict, dict]:
    prepare_env(work)
    import duckdb

    from bench import _cpu_sample, _host_noise
    from etl_pipeline_project_spark import queries
    from etl_pipeline_project_spark.schemas import TESTDATA_TABLES
    from etl_pipeline_project_spark.session import get_spark
    from spans import Jvm, ProgressRecorder, Tracer, read_event_log
    from workloads import WORKLOADS, Ctx

    # the engine stages its fixtures under a module-level scratch root
    queries._SCRATCH = os.path.join(work, "engine_scratch")
    cpu0 = _cpu_sample()
    traced = bool(args.trace)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=session_conf(work, traced))
    session_start_s = time.perf_counter() - t0
    try:
        jvm = Jvm(spark)
        tracer = Tracer(spark.sparkContext, uuid.uuid4().hex[:12], enabled=traced)
        progress = ProgressRecorder()
        if traced:
            spark.streams.addListener(progress)
        duck = duckdb.connect()
        duck.execute(f"SET temp_directory = '{work}/tmp'")
        for t in TESTDATA_TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        ctx = Ctx(spark, tracer, duck, DATA_DIR, work, args.seed)
        workload = WORKLOADS[args.workload]()

        inputs_sha256 = workload.setup(ctx)
        jvm.full_gc()  # every timed region starts from a collected heap
        ctx.setup_parts["jit_settle_s"] = jvm.settle()
        setup_s = time.perf_counter() - T_PROCESS
        scratch0 = dir_mb(queries._SCRATCH)
        if traced:
            # untraced, traced, untraced: the untraced passes bracket the
            # traced ones, so a pass-to-pass warming trend cancels out of
            # the overhead estimate
            tracer.enabled = False
            untraced = measure(ctx, workload, jvm, args.seconds / 3)
            tracer.enabled = True
            passes = measure(ctx, workload, jvm, args.seconds / 3)
            tracer.enabled = False
            untraced += measure(ctx, workload, jvm, args.seconds / 3)
        else:
            untraced = passes = measure(ctx, workload, jvm, args.seconds)
        scratch_growth_mb = dir_mb(queries._SCRATCH) - scratch0
        live_heap_mb = jvm.live_heap_mb()
        peak_rss_mb = jvm.peak_rss_mb()
        spark_version = spark.version
    finally:
        stop_spark(spark)

    if traced:
        time.sleep(0.5)  # let the listener bus hand over the last progress events
        tracer.dump(os.path.join(os.path.dirname(work), f"{args.workload}.spans.jsonl"))
        fixed = {
            "session.start_s": session_start_s,
            "scratch.growth_mb": scratch_growth_mb,
            "jvm.peak_rss_mb": peak_rss_mb,
        }
        events = read_event_log(os.path.join(work, "eventlog"))
        metrics = per_layer(tracer, passes, untraced, events, progress.events, fixed)
    else:
        metrics = end_to_end(passes, setup_s, live_heap_mb)
    units = {n: unit_of(n) for n in metrics}
    check_against_spec(metrics, units, "per_layer" if traced else "end_to_end")

    attempted, failed = ctx.attempted, ctx.failed
    named = {
        "setup_s": setup_s,
        "live_heap_mb": live_heap_mb,
        "failed_ops_ratio": failed / attempted,
        **workload_report(args.workload, passes),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs_sha256": inputs_sha256,
        "passes": len(passes),
        "ops_timed": sum(len(p.ops) for p in passes),
        "metrics": {n: {"value": v, "unit": unit_of(n)} for n, v in named.items()},
        "setup_parts": {"session_start_s": session_start_s, **ctx.setup_parts},
        "op_median_s": op_medians(passes),
        "errors": ctx.errors[:20],
        "host": {
            **_host_noise(cpu0, _cpu_sample()),
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark_version": spark_version,
        },
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_pipeline_project_spark", "__init__.py")):
        print("perfbench: the engine package is not next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
