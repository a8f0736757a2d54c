"""Tiny-scale smoke check of the benchmark.

    python3 perfbench/smoke.py

Runs every workload (the ones BENCHMARK.json lists, and crawl_polite) at
minimal input size, untraced and traced, and asserts that each run exits
0, prints every end-to-end (untraced) or per-layer (traced) metric of
BENCHMARK.json with its unit, prints the detail line with units, and
passes every correctness check. Exits 1 and lists the problems
otherwise. Takes about eight minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    tag = f"{workload} trace={trace}"
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return [f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    problems = []
    listed = spec["per_layer" if trace else "end_to_end"]
    for m in listed:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(
                got.get("value"), (int, float)):
            problems.append(f"{tag}: metric {m['name']} missing or unitless")
    extra = set(result["metrics"]) - {m["name"] for m in listed}
    if extra:
        problems.append(f"{tag}: unlisted metrics {sorted(extra)}")
    for name, m in detail["metrics"].items():
        if not m.get("unit"):
            problems.append(f"{tag}: detail metric {name} has no unit")
    if not (result["correct"] and result["failed"] == 0
            and result["attempted"] >= 1):
        problems.append(f"{tag}: checks failed: "
                        f"{json.dumps(detail['checks'])}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    # crawl_polite is not in BENCHMARK.json's list but runs the same way
    for name in [w["name"] for w in spec["workloads"]] + ["crawl_polite"]:
        for trace in (0, 1):
            got = check_run(spec, name, trace)
            print(f"{name} trace={trace}: {'ok' if not got else 'FAIL'}",
                  flush=True)
            problems += got
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
