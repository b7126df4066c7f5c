#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on a tiny corpus with short runs.

    python3 perfbench/smoke.py            # from the root of a checkout

For every workload of BENCHMARK.json, a run with
tracing off must print every end-to-end metric of BENCHMARK.json with its
unit, and a traced run every per-layer metric; both must check correct and
exit 0. Then a run whose expected answers are deliberately corrupted must
report correct=false and exit non-zero, for the HTTP tier and for the batch
tier. Takes about five minutes.
"""
import json
import os
import subprocess
import sys

TINY = ["--docs", "2000", "--tail-vocab", "1500", "--delta-docs", "40"]


def run(workload, trace, corrupt=0, seconds="2"):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", seconds, "--trace", str(trace), "--corrupt-expected", str(corrupt)] + TINY
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=600)
    lines = p.stdout.decode().strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr.decode()[-2000:]


def main():
    bench = json.load(open("BENCHMARK.json"))
    failures = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(w, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            if code != 0 or res is None:
                failures.append(f"{w} trace={trace}: exit {code}\n{err}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{w} trace={trace}: metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                failures.append(f"{w} trace={trace}: correct={res['correct']} failed={res['failed']}")
            if any(not isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                failures.append(f"{w} trace={trace}: a metric value is not a number")
            print(f"ok {w} trace={trace}: {len(got)} metrics", flush=True)
    for w in ("serve-mixed", "index-batch"):
        code, res, _ = run(w, 0, corrupt=1)
        if code == 0 or res is None or res["correct"] or res["failed"] < 1:
            failures.append(f"{w}: a corrupted expected answer was not caught (exit {code}, result {res and res['correct']})")
        else:
            print(f"ok {w}: corrupted expected answer caught (exit {code})", flush=True)
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
