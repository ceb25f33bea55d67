"""Self-check of the benchmark at tiny scale.

    python3 perfbench/selfcheck.py [workload ...]

For each workload (default: all three) it runs ``run.py`` twice at
``--scale tiny --seconds 0``, which is one round on sf0.001-sized
inputs:

1. a plain run, which must print every end-to-end metric of
   BENCHMARK.json with its unit, plus the diagnostics record, and
   report every operation correct;
2. a run with ``--wrong-expectation``, which corrupts one expected
   result; it must report more failed operations than the plain run.

A traced run of the first workload checks that every per-layer metric
is printed with its unit. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E_UNITS, WORKLOADS, per_layer_units  # noqa: E402


def _run(workload: str, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--scale", "tiny", "--seconds", "0", *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().split("\n")
    return json.loads(lines[-2]), json.loads(lines[-1])


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise SystemExit(f"selfcheck failed: {msg}")


def _check_metrics(result: dict, units: dict[str, str], what: str) -> None:
    _require(
        set(result) == {"correct", "attempted", "failed", "metrics"},
        f"{what}: result keys {sorted(result)}",
    )
    _require(result["attempted"] >= 1, f"{what}: nothing attempted")
    got = result["metrics"]
    _require(set(got) == set(units), f"{what}: metrics {sorted(set(got) ^ set(units))}")
    for k, u in units.items():
        _require(got[k]["unit"] == u, f"{what}: {k} unit {got[k]['unit']!r} != {u!r}")
        _require(
            isinstance(got[k]["value"], (int, float)), f"{what}: {k} is not a number"
        )


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    _require(e2e == E2E_UNITS, "BENCHMARK.json end_to_end differs from run.py")
    _require(layer == per_layer_units(), "BENCHMARK.json per_layer differs from run.py")
    workloads = argv or list(WORKLOADS)
    for i, w in enumerate(workloads):
        diag, plain = _run(w)
        _check_metrics(plain, e2e, f"{w} plain")
        _require(
            plain["correct"] and plain["failed"] == 0,
            f"{w}: plain run failed operations: {diag['failures'][:3]}",
        )
        _require(diag["workload"] == w and diag["cpus"] >= 1, f"{w}: diagnostics")
        for k in ("jobs", "stages", "tasks", "cpu_ms", "loadavg_before",
                  "loadavg_after", "calibration_s"):
            _require(k in diag["witness"], f"{w}: witness lacks {k}")
        _, wrong = _run(w, "--wrong-expectation")
        _require(
            wrong["failed"] > plain["failed"] and not wrong["correct"],
            f"{w}: a wrong expected result was not reported as a failed "
            f"operation ({wrong['failed']} vs {plain['failed']})",
        )
        if i == 0:
            _, traced = _run(w, "--trace", "1")
            _check_metrics(traced, layer, f"{w} traced")
        print(f"{w}: ok ({plain['attempted']} ops, {plain['failed']} failed; "
              f"wrong expectation -> {wrong['failed']} failed; "
              f"known defects {diag['known_defects']})", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
