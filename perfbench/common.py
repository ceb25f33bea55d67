"""Shared pieces of the workloads: the run context, the closed-loop op
recorder, order statistics and host readings."""

from __future__ import annotations

import dataclasses
import os
import statistics
import time
import traceback

#: percentiles tried for a ``_tail`` figure, highest first; the tail is
#: the highest one with at least TAIL_MIN_BEYOND samples above it
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


@dataclasses.dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str  # fresh per-run directory, deleted at the end
    cpus: int
    scale: str = "full"  # "full" or "tiny" (self-check)
    #: self-check only: corrupt one expected result, which must then be
    #: reported as a failed operation
    wrong_expectation: bool = False


class Ops:
    """Closed-loop op log: one client, each op issued after the
    previous returned. An op fails when it raises or when its result
    check returns False; failures are counted, never dropped."""

    def __init__(self):
        self.rows: list[dict] = []
        self.t_start = self.t_end = None
        self.epoch_start_ms = self.epoch_end_ms = None

    def begin(self) -> None:
        self.t_start = time.perf_counter()
        self.epoch_start_ms = time.time() * 1000.0

    def finish(self) -> None:
        self.t_end = time.perf_counter()
        self.epoch_end_ms = time.time() * 1000.0

    @property
    def wall_s(self) -> float:
        return self.t_end - self.t_start

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def record(self, kind: str, latency_s: float, ok: bool, **extra) -> dict:
        row = {"kind": kind, "latency_s": latency_s, "ok": bool(ok), **extra}
        self.rows.append(row)
        return row

    def run(self, kind: str, fn, check=None, **extra):
        """Time ``fn()``; ``check(result)`` runs after the clock stops."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # a raising op is a failed op
            return None, self.record(
                kind, time.perf_counter() - t0, False, error=error_text(exc), **extra
            )
        dt = time.perf_counter() - t0
        ok, why = True, None
        if check is not None:
            try:
                ok = bool(check(out))
            except Exception as exc:
                ok, why = False, error_text(exc)
        row = self.record(kind, dt, ok, **extra)
        if why:
            row["error"] = why
        return out, row

    def latencies(self, *kinds: str) -> list[float]:
        return [
            r["latency_s"] for r in self.rows if not kinds or r["kind"] in kinds
        ]

    @property
    def attempted(self) -> int:
        return len(self.rows)

    @property
    def failed(self) -> int:
        return sum(not r["ok"] for r in self.rows)

    def failures(self) -> list[dict]:
        return [r for r in self.rows if not r["ok"]]


def error_text(exc: BaseException) -> str:
    tb = traceback.format_exception_only(type(exc), exc)
    return "".join(tb).strip()[-300:]


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count): the highest candidate
    percentile with at least TAIL_MIN_BEYOND samples beyond it, the
    median when there are too few samples for any."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (1.0 - p / 100.0) >= TAIL_MIN_BEYOND:
            return percentile(values, p), p, n
    return percentile(values, 50.0), 50.0, n


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values)


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
