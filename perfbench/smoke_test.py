"""Smoke test of the benchmark itself, at tiny input size.

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: all three) it runs

1. an untraced run, and checks that it is correct and that every
   end-to-end metric of BENCHMARK.json is printed with its unit, both in
   the result line and as a ``name = value unit`` report line;
2. a traced run with deliberately corrupted results, and checks that every
   per-layer metric is printed with its unit and that the corruption is
   caught (``failed`` > 0, ``failed_op_ratio`` > 0, ``correct`` false).

Exits 0 when every check passes. Each run starts its own Spark session,
so the whole test takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_index", "discovery_search", "curation_ingest")


def _run(workload: str, trace: int, perturb: bool) -> tuple[dict, list[str]]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
        "--seconds", "1", "--trace", str(trace), "--size", "tiny",
    ]
    if perturb:
        cmd.append("--perturb")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), lines[:-1]


def _check_metrics(result: dict, report: list[str], declared: list[dict], what: str) -> list[str]:
    errors = []
    got = result["metrics"]
    if set(got) != {m["name"] for m in declared}:
        errors.append(f"{what}: metric names differ from BENCHMARK.json: {sorted(set(got) ^ {m['name'] for m in declared})}")
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            continue
        if v.get("unit") != m["unit"]:
            errors.append(f"{what}: {m['name']} has unit {v.get('unit')!r}, declared {m['unit']!r}")
        if not any(line.startswith(f"{m['name']} = ") and line.endswith(f" {m['unit']}") for line in report):
            errors.append(f"{what}: no report line for {m['name']} in {m['unit']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    for wl in sys.argv[1:] or WORKLOADS:
        res, report = _run(wl, trace=0, perturb=False)
        errors += _check_metrics(res, report, bench["end_to_end"], f"{wl} untraced")
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            errors.append(f"{wl} untraced: not correct ({res['failed']}/{res['attempted']} failed)")
        res, report = _run(wl, trace=1, perturb=True)
        errors += _check_metrics(res, report, bench["per_layer"], f"{wl} traced")
        ratio = res["metrics"].get("failed_op_ratio", {}).get("value", 0)
        if res["correct"] or res["failed"] < 1 or not ratio > 0:
            errors.append(f"{wl} perturbed: corruption not caught (failed={res['failed']}, ratio={ratio})")
        print(f"{wl}: checked", flush=True)
    for e in errors:
        print("FAIL", e)
    print("smoke test", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
