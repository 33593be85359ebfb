#!/usr/bin/env python3
"""Smoke self-test of the benchmark at sf0.001 (a few ops per workload).

    python3 perfbench/selftest.py

Checks that

1. every workload runs, verifies its ops, and prints every end-to-end
   metric of BENCHMARK.json with its unit (and a traced run every
   per-layer metric);
2. a deliberately wrong expected value makes ops fail verification
   (``failed`` > 0, so ``op_fail_ratio`` > 0);
3. two seeds give different inputs but the same metric names.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--sf", "0.001", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"FAIL {' '.join(cmd)} rc={p.returncode}\n{p.stderr[-3000:]}")
    meta = json.loads(lines[-2].split(" ", 1)[1])
    return json.loads(lines[-1]), meta


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    workloads = [w["name"] for w in bench["workloads"]]

    first = {}
    for w in workloads:
        res, meta = run(w, 1)
        first[w] = (res, meta)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
              f"{w}: {res['attempted']} ops verified")
        check(got == e2e, f"{w}: end-to-end metrics and units match BENCHMARK.json")

    res, _ = run(workloads[0], 1, "--trace", "1")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    check(got == layers, f"{workloads[0]}: traced run emits every per-layer metric")

    for w in workloads:
        res, meta = run(w, 1, "--wrong-expected")
        check(res["failed"] > 0 and not res["correct"],
              f"{w}: a wrong expected value fails {res['failed']}/{res['attempted']} ops")

    res2, meta2 = run(workloads[0], 2)
    res1, meta1 = first[workloads[0]]
    check(meta1["inputs"] != meta2["inputs"], "seeds 1 and 2 generate different inputs")
    check(set(res1["metrics"]) == set(res2["metrics"]), "seeds 1 and 2 report the same metrics")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
