"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Run from the root of a checkout. Runs every workload in
``workloads.py`` (``sql_analytics`` too) at tiny size (sf0.001,
50 PRs), untraced and traced, and fails unless each run
prints every metric ``BENCHMARK.json`` names, with its unit, and every
output check passes (``failed`` is 0, ``failed_share`` is 0).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        stdout=subprocess.PIPE, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for name in workloads.WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            out = run(name, trace)
            tag = f"{name} trace={trace}"
            before = len(problems)
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(out)}")
            if out["failed"] != 0 or not out["correct"] or out["attempted"] < 1:
                problems.append(f"{tag}: {out['failed']} of {out['attempted']} failed")
            for m in spec[group]:
                got = out["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing or wrong unit")
                elif not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} has no numeric value")
            if trace and out["metrics"]["failed_share"]["value"] != 0:
                problems.append(f"{tag}: failed_share is not 0")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAIL'}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
