"""Smoke test of the benchmark at tiny sizes (the sf0.001 corpus, 2k-record
JSON files, 6k-row parquet files, one set-up repetition).

Checks, for every workload in BENCHMARK.json, traced and untraced, that the
run is correct and that its result names exactly the declared metrics with
their declared units; then checks that a corrupted fingerprint fails the
correctness gate.

    python3 perfbench/smoke.py
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", "1",
           "--corrupt-fingerprint", str(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result


def check_metrics(result, declared):
    got = result["metrics"]
    assert set(got) == set(declared), f"metric names differ: {set(got) ^ set(declared)}"
    for name, unit in declared.items():
        m = got[name]
        assert m["unit"] == unit, f"{name}: unit {m['unit']}, declared {unit}"
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failures = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, result = run(w, trace)
            try:
                assert code == 0 and result is not None, f"exit {code}, result {result}"
                assert result["correct"] and result["failed"] == 0, result
                assert result["attempted"] >= 1, result
                check_metrics(result, declared[trace])
                print(f"ok   {w} trace={trace}")
            except AssertionError as e:
                failures.append(f"{w} trace={trace}: {e}")
                print(f"FAIL {w} trace={trace}: {e}")
    code, result = run("queries", 0, corrupt=1)
    if code != 0 and result is not None and not result["correct"] and result["failed"] > 0:
        print("ok   corrupted fingerprint fails the gate")
    else:
        failures.append(f"corrupted fingerprint passed: exit {code}, result {result}")
        print("FAIL corrupted fingerprint passed the gate")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
