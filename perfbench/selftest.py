#!/usr/bin/env python3
"""Fast self-test of the benchmark on reduced inputs (a tenth of the table
sizes, a two-slice stream). Run from the repository root:

    python3 perfbench/selftest.py

It checks that every metric named in BENCHMARK.json is printed with its
unit, in both modes, and that a deliberately wrong expected hash is counted
as a failed operation, for a batch query and for a stream drain.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, wrong_hash: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--small"]
    if wrong_hash:
        cmd += ["--wrong-hash", wrong_hash]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, wanted: list[dict], what: str) -> list[str]:
    errors = []
    got = result["metrics"]
    for m in wanted:
        entry = got.get(m["name"])
        if entry is None:
            errors.append(f"{what}: metric {m['name']} missing")
        elif entry.get("unit") != m["unit"] or not isinstance(entry.get("value"), (int, float)):
            errors.append(f"{what}: metric {m['name']} printed as {entry}, unit {m['unit']}")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        errors.append(f"{what}: unexpected metrics {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors: list[str] = []
    cases = [
        ("batch_small", 0, "zscore", spec["end_to_end"]),
        ("batch_small", 1, None, spec["per_layer"]),
        ("stream_replay", 0, "dedup", spec["end_to_end"]),
        ("stream_replay", 1, None, spec["per_layer"]),
    ]
    for workload, trace, wrong, wanted in cases:
        what = f"{workload} trace={trace}" + (f" wrong-hash={wrong}" if wrong else "")
        result = run(workload, trace, wrong)
        errors += check_metrics(result, wanted, what)
        if wrong and (result["failed"] < 1 or result["correct"]):
            errors.append(f"{what}: wrong expected hash not counted ({result['failed']} failed)")
        if not wrong and (result["failed"] or not result["correct"]):
            errors.append(f"{what}: {result['failed']} of {result['attempted']} operations failed")
        print(f"{what}: attempted {result['attempted']}, failed {result['failed']}", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
