"""Spans, layer wrappers and Spark event-log attribution.

A ``Tracer`` is either off (every span is a no-op) or on. When on:

- each span records wall time and, for spans that may run Spark jobs,
  sets the thread's ``spark.jobGroup.id`` to a unique span id on entry
  and restores the enclosing span's group on exit, so every job in the
  event log belongs to exactly one span;
- ``install_layer_wrappers`` patches the program's public callables
  where their callers look them up (module attributes and class
  methods) so their calls become spans; ``uninstall`` restores them;
- span records are kept in memory and turned into per-layer counters
  at the end, joined with the event log that the run enabled from
  outside the program (``spark.eventLog.*`` in the submit arguments).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

# (module, attribute, span name, may run Spark jobs). Classes are
# patched on the class, so every instance and every internal caller
# goes through the wrapper; functions are patched on the module that
# CALLS them (medallion_flow imports read_auto/dedup_latest/... by
# name, so patching their home module would miss those calls).
_PKG = "biglake_iceberg_pipeline_spark"
LAYER_WRAPPERS = [
    (f"{_PKG}.plans.medallion_flow", "run_medallion_flow", "ingest.batch", True),
    (f"{_PKG}.plans.medallion_flow", "read_auto", "sources.read_auto", True),
    (f"{_PKG}.operators.cleaning", "normalize_column_names", "operators.clean", True),
    (f"{_PKG}.operators.cleaning", "clean_string", "operators.clean", True),
    (f"{_PKG}.operators.cleaning", "add_processed_at", "operators.clean", True),
    (f"{_PKG}.plans.medallion_flow", "flag_duplicates", "operators.clean", True),
    (f"{_PKG}.plans.medallion_flow", "dedup_latest", "operators.clean", True),
    (f"{_PKG}.operators.coercion", "recommend_types", "operators.clean", True),
    (f"{_PKG}.plans.medallion_flow", "quality_report", "operators.quality_report", True),
    (f"{_PKG}.plans.pipeline", "curate_documents", "llm.curate", True),
]
LAKEHOUSE_METHODS = [
    ("append", "lakehouse.write", True),
    ("merge", "lakehouse.write", True),
    ("overwrite", "lakehouse.write", True),
    ("add_files", "lakehouse.write", True),
    ("read", "lakehouse.read", True),
    ("incremental_scan", "lakehouse.read", True),
    ("current_snapshot_id", "lakehouse.meta", False),
    ("last_txn_version", "lakehouse.meta", False),
    ("row_count", "lakehouse.meta", False),
    ("maintain", "lakehouse.maintain", True),
]
MATVIEW_METHODS = [
    ("refresh", "matview.refresh", True),
    ("is_fresh", "matview.refresh", False),
]
#: spans whose outermost calls get a before/after file-size diff of
#: the table directory (bytes the commit wrote, measured from outside)
_DIFFED = {"lakehouse.write", "lakehouse.maintain"}

SPAN_COUNTERS = (
    "calls", "self_s", "job_s", "jobs", "tasks", "cpu_ms", "shuffle_bytes"
)


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.records: list[dict] = []
        self.write_bytes = {"data": 0, "metadata": 0}
        self.catalyst_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self._stack: list[dict] = []
        self._seq = 0
        self._patched: list[tuple] = []

    # ------------------------------------------------------------ spans

    def _set_group(self, gid: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", gid)

    def _group_of_stack(self) -> str | None:
        for rec in reversed(self._stack):
            if rec["jobs_on"]:
                return rec["id"]
        return None

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        rec = {
            "id": f"pb{self._seq}",
            "name": name,
            "jobs_on": jobs,
            "child_s": 0.0,
            "start_ms": time.time() * 1000.0,
        }
        parent = self._stack[-1] if self._stack else None
        rec["parent"] = parent["id"] if parent else None
        if jobs:
            self._set_group(rec["id"])
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            dur = time.perf_counter() - t0
            self._stack.pop()
            if jobs:
                self._set_group(self._group_of_stack())
            rec["end_ms"] = time.time() * 1000.0
            rec["dur_s"] = dur
            if parent is not None:
                parent["child_s"] += dur
            self.records.append(rec)

    def note_query(self, df) -> None:
        """Add the Catalyst phase times of the QueryExecution that just
        ran ``df``'s action (analysis / optimization / planning)."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in self.catalyst_ms:
            opt = phases.get(phase)
            if opt.isDefined():
                self.catalyst_ms[phase] += float(opt.get().durationMs())

    # --------------------------------------------------------- wrappers

    def _wrap(self, fn, name: str, jobs: bool, table_path=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name in _DIFFED and table_path is not None:
                outer = not any(r["name"] in _DIFFED for r in tracer._stack)
                before = _tree_sizes(table_path(args)) if outer else None
            else:
                before = None
            with tracer.span(name, jobs):
                out = fn(*args, **kwargs)
            if before is not None:
                tracer._account_writes(before, _tree_sizes(table_path(args)))
            return out

        return wrapper

    def install_layer_wrappers(self) -> None:
        import importlib

        from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable
        from biglake_iceberg_pipeline_spark.sinks.matview import MaterializedView

        for mod_name, attr, name, jobs in LAYER_WRAPPERS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name, jobs))
        for cls, methods in (
            (LakehouseTable, LAKEHOUSE_METHODS),
            (MaterializedView, MATVIEW_METHODS),
        ):
            for attr, name, jobs in methods:
                orig = cls.__dict__[attr]
                self._patched.append((cls, attr, orig))
                setattr(
                    cls,
                    attr,
                    self._wrap(orig, name, jobs, lambda a: a[0].path),
                )

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _account_writes(self, before: dict, after: dict) -> None:
        for path, size in after.items():
            if before.get(path) == size:
                continue
            grew = size - before.get(path, 0) if path in before else size
            kind = "data" if _is_data_file(path) else "metadata"
            self.write_bytes[kind] += max(grew, 0)

    # ---------------------------------------------------------- results

    def span_table(self, jobs: dict) -> dict[str, dict]:
        """Per span name: the SPAN_COUNTERS, joined with ``jobs`` (the
        event-log job index from ``read_event_log``)."""
        by_group: dict[str, list[dict]] = {}
        for job in jobs.values():
            if job.get("group"):
                by_group.setdefault(job["group"], []).append(job)
        out: dict[str, dict] = {}
        for rec in self.records:
            row = out.setdefault(rec["name"], dict.fromkeys(SPAN_COUNTERS, 0))
            row["calls"] += 1
            row["self_s"] += rec["dur_s"] - rec["child_s"]
            own = by_group.get(rec["id"], [])
            row["jobs"] += len(own)
            row["job_s"] += _union_s(
                (j["start_ms"], j["end_ms"]) for j in own if j.get("end_ms")
            )
            for j in own:
                row["tasks"] += j["tasks"]
                row["cpu_ms"] += j["cpu_ms"]
                row["shuffle_bytes"] += j["shuffle_bytes"]
        return out


def _is_data_file(path: str) -> bool:
    return path.endswith(".parquet") and "/_" not in path.replace(os.sep, "/")


def _tree_sizes(root: str) -> dict[str, int]:
    sizes: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                sizes[p] = os.path.getsize(p)
            except OSError:
                pass
    return sizes


def _union_s(intervals) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Job index from an uncompressed Spark event log: per job id its
    group, submit/end epoch ms, stage count, and the sums of its
    tasks' metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start_ms": ev.get("Submission Time"),
                        "end_ms": None,
                        "stages": len(ev.get("Stage IDs", [])),
                        "tasks": 0,
                        "tasks_failed": 0,
                        "cpu_ms": 0.0,
                        "gc_ms": 0.0,
                        "shuffle_bytes": 0,
                        "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        job["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return jobs


def window_totals(jobs: dict, lo_ms: float, hi_ms: float) -> dict:
    """Whole-program Spark totals over the jobs submitted in
    [lo_ms, hi_ms] (the timed phase): the host-noise witness."""
    sel = [j for j in jobs.values() if j["start_ms"] and lo_ms <= j["start_ms"] <= hi_ms]
    return {
        "jobs": len(sel),
        "stages": sum(j["stages"] for j in sel),
        "tasks": sum(j["tasks"] for j in sel),
        "tasks_failed": sum(j["tasks_failed"] for j in sel),
        "cpu_ms": sum(j["cpu_ms"] for j in sel),
        "gc_ms": sum(j["gc_ms"] for j in sel),
        "spill_bytes": sum(j["spill_bytes"] for j in sel),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in sel),
    }
