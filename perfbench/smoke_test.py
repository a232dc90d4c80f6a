#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

Runs dbscan_skewed, board_rows and stream_rows on tiny inputs (20k
points, no warm-up, shortest loop), once untraced and once traced, and
checks each result line: exactly the keys correct/attempted/failed/
metrics, every answer right, and every metric named in BENCHMARK.json
printed with its unit (the DBSCAN workload prints its own per-layer
set). The traced runs must also write a non-empty span file. Takes a
few minutes on 4 cores.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics only the DBSCAN workloads print
DBSCAN_LAYERS = {
    "core.scale_factor": "ratio", "dbscan.fit_s": "s", "dbscan.assign_s": "s",
    "dbscan.fit_large_s": "s",
}


def expected_metrics(bench, workload, trace):
    if not trace:
        return {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if workload.startswith("dbscan"):
        layers = {k: u for k, u in layers.items() if not k.startswith("queries.")}
        layers.update(DBSCAN_LAYERS)
    return layers


def run(workload, trace, spans):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
    if trace:
        cmd += ["--spans", spans]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, [f"exit {p.returncode}, no result line"]
    return json.loads(lines[-1]), []


def check(bench, workload, trace, spans):
    result, errors = run(workload, trace, spans)
    if result is None:
        return errors
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errors.append(f"attempted={result.get('attempted')}")
    want = expected_metrics(bench, workload, trace)
    got = result.get("metrics", {})
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            errors.append(f"missing metric {name}")
        elif m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            errors.append(f"metric {name} = {m}, want unit {unit}")
    errors += [f"unexpected metric {n}" for n in got if n not in want]
    if trace:
        with open(spans) as fh:
            kinds = {json.loads(line)["kind"] for line in fh if line.strip()}
        if "op" not in kinds or "sql" not in kinds:
            errors.append(f"span file holds kinds {sorted(kinds)}")
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    scratch = os.path.join(ROOT, ".bench_out", "smoke")
    os.makedirs(scratch, exist_ok=True)
    runs = os.path.join(ROOT, ".bench_runs")
    before = set(os.listdir(runs)) if os.path.isdir(runs) else set()
    failures = 0
    try:
        for workload in ["dbscan_skewed", "board_rows", "stream_rows"]:
            for trace in (0, 1):
                errors = check(bench, workload, trace, os.path.join(scratch, f"{workload}.jsonl"))
                status = "ok" if not errors else "FAIL: " + "; ".join(errors)
                print(f"{workload} trace={trace}: {status}", flush=True)
                failures += bool(errors)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    left = (set(os.listdir(runs)) if os.path.isdir(runs) else set()) - before
    if left:
        print(f"FAIL: runs left their directories under .bench_runs/: {sorted(left)}")
        failures += 1
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
