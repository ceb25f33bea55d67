"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a checkout. One process, one Spark session
(``local[nproc]``), one fresh work directory under ``.perfbench_work/``
that is deleted at the end. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (layer wrappers installed, each span
its own Spark job group). The line before it is a diagnostics record:
the workload's named metrics, the host-noise witness (executor CPU,
jobs/stages/tasks, load average, calibration probe), per-op failures.
A traced run prints its span records before that, one JSON line each.

See NOTES.md for what each workload measures and why.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "biglake_iceberg_pipeline_spark"
WORKLOADS = ("medallion_ingest", "query_mix", "llm_curation")
DEFAULT_SEED = 1729
#: a second seed for held-out checks of claims made on DEFAULT_SEED
HELDOUT_SEED = 4104
#: input preparation is repeated this often per run; setup_s takes
#: the median (session start and warm-up happen once per process)
PREP_REPS = {"medallion_ingest": 2, "query_mix": 1, "llm_curation": 2}

E2E_UNITS = {
    "setup_s": "s",
    "op_latency_s": "s",
    "ops_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
}
SPANS = [
    "ingest.batch",
    "sources.read_auto",
    "operators.clean",
    "operators.quality_report",
    "lakehouse.write",
    "lakehouse.read",
    "lakehouse.meta",
    "lakehouse.maintain",
    "matview.refresh",
    "connector.lookup",
    "connector.scan",
    "plans.query",
    "llm.curate",
    "llm.ops",
    "llm.semantic_dedup",
]
NAMED_UNITS = {
    "freshness_p50_s": "s",
    "ingest_rows_per_s": "rows/s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "scan_p50_s": "s",
    "query_p50_s": "s",
    "curate_docs_per_s": "docs/s",
    "llm_ops_s": "s",
}
EXTRA_UNITS = {
    "session.start_s": "s",
    "host.peak_rss_mb": "MB",
    "connector.lookup.build_s": "s",
    "connector.lookup.exec_s": "s",
    "connector.tasks_per_lookup": "count",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.tasks_failed": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "lakehouse.metadata_bytes_written": "bytes",
    "lakehouse.data_bytes_written": "bytes",
    "lakehouse.data_files_live": "count",
    "lakehouse.delete_files_live": "count",
}
COUNTER_UNITS = {
    "calls": "count",
    "self_s": "s",
    "job_s": "s",
    "jobs": "count",
    "tasks": "count",
    "cpu_ms": "ms",
    "shuffle_bytes": "bytes",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {
        f"{span}.{c}": u for span in SPANS for c, u in COUNTER_UNITS.items()
    }
    units.update(EXTRA_UNITS)
    units.update({f"e2e.{k}": u for k, u in NAMED_UNITS.items()})
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-check knobs (selfcheck.py): tiny inputs, and one deliberately
    # wrong expected result that must surface as a failed operation
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--wrong-expectation", action="store_true")
    return ap.parse_args(argv)


def configure_env(work: str) -> str:
    """Keep every file the run writes inside ``work`` and enable the
    uncompressed Spark event log from outside the program."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--driver-java-options",
                    # -UsePerfData here and in SPARK_LAUNCHER_OPTS: no
                    # hsperfdata file, which HotSpot writes under /tmp
                    f"'-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData'",
                    "--conf spark.eventLog.enabled=true",
                    f"--conf spark.eventLog.dir=file://{events}",
                    "--conf spark.eventLog.compress=false",
                    "--conf spark.eventLog.rolling.enabled=false",
                    "pyspark-shell",
                ]
            ),
        }
    )
    time.tzset()
    return events


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _live_file_counts(spark, roots: list[str]) -> tuple[int, int]:
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable

    data = deletes = 0
    for root in roots:
        t = LakehouseTable(root)
        if t.current_snapshot_id() is None:
            continue
        data += t.inspect(spark, "files").count()
        deletes += t.inspect(spark, "delete_files").count()
    return data, deletes


def run(args) -> tuple[dict, dict, list[dict]]:
    import importlib

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        raise SystemExit(f"{PKG}/ not found next to perfbench/: run from a checkout")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        return _run_in(args, work, importlib.import_module(args.workload))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run_in(args, work: str, wl) -> tuple[dict, dict, list[dict]]:
    import bench
    from biglake_iceberg_pipeline_spark.session import get_spark
    from common import Ctx, Ops, median, vm_hwm_kb
    from spans import Tracer, read_event_log, window_totals

    events = configure_env(work)
    os.chdir(ROOT)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        untraced = Tracer(spark)
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(
            spark=spark,
            tracer=untraced,
            seed=args.seed,
            seconds=args.seconds,
            work=work,
            cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
            scale=args.scale,
            wrong_expectation=args.wrong_expectation,
        )
        # the first preparation doubles as the warm-up's input; the
        # last one is what the timed phase runs on
        prep_s, warmup_s, state = [], 0.0, None
        for i in range(PREP_REPS[args.workload]):
            t0 = time.perf_counter()
            new = wl.prepare(ctx, os.path.join(work, f"prep{i}"))
            prep_s.append(time.perf_counter() - t0)
            if state is None:
                t0 = time.perf_counter()
                wl.warmup(ctx, new)
                warmup_s = time.perf_counter() - t0
            else:
                shutil.rmtree(state["prep_dir"], ignore_errors=True)
            state = {**new, "prep_dir": os.path.join(work, f"prep{i}")}
        ctx.tracer = tracer
        if tracer.enabled:
            tracer.install_layer_wrappers()
        load_before = os.getloadavg()
        ops = Ops()
        try:
            out = wl.run(ctx, state, ops)
        finally:
            tracer.uninstall()
        load_after = os.getloadavg()
        ctx.tracer = untraced
        t0 = time.perf_counter()
        wl.verify(ctx, state, out, ops)
        verify_s = time.perf_counter() - t0
        defects = wl.known_defects(ctx, state) if hasattr(wl, "known_defects") else {}
        m = wl.metrics(ctx, state, out, ops)
        calibration_s = bench.calibration_op(spark, 1)
        live = _live_file_counts(spark, wl.lake_roots(state, out)) if tracer.enabled else (0, 0)
        rss_mb = (vm_hwm_kb() + vm_hwm_kb(jvm_pid)) / 1024.0
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0
    jobs = read_event_log(events)
    witness = window_totals(jobs, ops.epoch_start_ms, ops.epoch_end_ms)
    e2e = {
        "setup_s": session_s + warmup_s + median(prep_s),
        "op_latency_s": m["op_latency_s"],
        "ops_per_s": m["ops_per_s"],
        "stored_bytes_per_input_byte": m["stored_bytes_per_input_byte"],
    }
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": ctx.cpus,
        "scale": args.scale,
        "seconds": args.seconds,
        "timed_wall_s": ops.wall_s,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "failed_ops_frac": ops.failed / max(ops.attempted, 1),
        "failures": ops.failures()[:20],
        "known_defects": defects,
        "end_to_end": e2e,
        "named": m["named"],
        "setup": {"session_s": session_s, "warmup_s": warmup_s, "prep_s": prep_s},
        "after": {"verify_s": verify_s, "stop_s": stop_s},
        "witness": {
            **witness,
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "calibration_s": calibration_s,
            "peak_rss_mb": rss_mb,
        },
        "detail": m["detail"],
    }
    if args.trace:
        metrics = _per_layer(tracer, jobs, witness, session_s, rss_mb, live, m["named"])
        diagnostics["spans"] = tracer.span_table(jobs)
        span_ids = {r["id"] for r in tracer.records}
        diagnostics["unattributed_jobs"] = sum(
            1
            for j in jobs.values()
            if j["start_ms"]
            and ops.epoch_start_ms <= j["start_ms"] <= ops.epoch_end_ms
            and j["group"] not in span_ids
        )
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    return result, diagnostics, tracer.records


def _per_layer(tracer, jobs, witness, session_s, rss_mb, live, named) -> dict:
    spans = tracer.span_table(jobs)
    values: dict[str, float] = {}
    for span in SPANS:
        row = spans.get(span, {})
        for c in COUNTER_UNITS:
            values[f"{span}.{c}"] = row.get(c, 0)
    lookups = [r for r in tracer.records if r["name"] == "connector.lookup"]
    values["session.start_s"] = session_s
    values["host.peak_rss_mb"] = rss_mb
    values["connector.lookup.build_s"] = sum(r.get("build_s", 0.0) for r in lookups)
    values["connector.lookup.exec_s"] = sum(r.get("exec_s", 0.0) for r in lookups)
    values["connector.tasks_per_lookup"] = (
        spans["connector.lookup"]["tasks"] / len(lookups) if lookups else 0
    )
    values["spark.spill_bytes"] = witness["spill_bytes"]
    values["spark.gc_ms"] = witness["gc_ms"]
    values["spark.tasks_failed"] = witness["tasks_failed"]
    for phase, ms in tracer.catalyst_ms.items():
        values[f"catalyst.{phase}_ms"] = ms
    values["lakehouse.metadata_bytes_written"] = tracer.write_bytes["metadata"]
    values["lakehouse.data_bytes_written"] = tracer.write_bytes["data"]
    values["lakehouse.data_files_live"], values["lakehouse.delete_files_live"] = live
    for k in NAMED_UNITS:
        values[f"e2e.{k}"] = named.get(k, 0)
    units = per_layer_units()
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def _finite(obj):
    """JSON has no NaN/inf: report a missing figure as null."""
    if isinstance(obj, float) and not math.isfinite(obj):
        return None
    if isinstance(obj, dict):
        return {k: _finite(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_finite(v) for v in obj]
    return obj


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    result, diagnostics, span_records = run(args)
    # traced runs: one JSON line per span, kept in memory until now
    for rec in span_records:
        print(json.dumps(rec))
    print(json.dumps(_finite(diagnostics), default=str))
    print(json.dumps(_finite(result)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
