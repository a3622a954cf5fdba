"""Self-test of the benchmark at tiny size (TPC-H sf0.001, a few
hundred vectors, a 400-node star graph).

    python3 perfbench/selftest.py [workload ...]

For each workload it runs ``run.py`` untraced and traced and checks
that every metric BENCHMARK.json names is printed, with its unit, both
in the summary lines and in the final JSON line, and that the run was
correct. It then runs once with ``--inject-fault`` and checks that the
corrupted output is counted as a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def run(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "3",
           "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"FAIL {' '.join(cmd)}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


def check_metrics(result: dict, summary: str, specs: list[dict], label: str) -> list[str]:
    errors = []
    got = result["metrics"]
    if set(got) != {m["name"] for m in specs}:
        errors.append(f"{label}: metric names {sorted(got)} != BENCHMARK.json")
    printed = {line.split()[0]: line.split() for line in summary.splitlines() if line and not line.startswith("#")}
    for m in specs:
        entry = got.get(m["name"])
        if entry is None or entry["unit"] != m["unit"] or not isinstance(entry["value"], (int, float)):
            errors.append(f"{label}: {m['name']} missing or wrong in JSON: {entry}")
        row = printed.get(m["name"])
        if row is None or row[2] != m["unit"]:
            errors.append(f"{label}: {m['name']} not printed with unit {m['unit']}: {row}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{label}: run not correct: attempted={result['attempted']} failed={result['failed']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    # every implemented workload, including any the gate does not run
    workloads = sys.argv[1:] or list(WORKLOADS)
    errors = []
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, summary = run(w, trace)
            found = check_metrics(result, summary, bench[key], f"{w} trace={trace}")
            errors += found
            print(f"{'FAIL' if found else 'ok'} {w} trace={trace}: {result['attempted']} ops", flush=True)
    result, _ = run(workloads[0], 0, "--inject-fault")
    if result["correct"] or result["failed"] < 1:
        errors.append(f"{workloads[0]}: injected fault not counted as a failed operation: {result}")
    else:
        print(f"ok {workloads[0]} --inject-fault: {result['failed']} failed of {result['attempted']}")
    for e in errors:
        print("FAIL", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
