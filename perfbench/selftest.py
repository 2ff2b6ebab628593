#!/usr/bin/env python3
"""Small-input self-test of the benchmark itself.

    python3 perfbench/selftest.py

For every workload, on tiny inputs:
- an untraced run must print every end-to-end metric of BENCHMARK.json
  with its unit, with no failed operation;
- a run whose pass outputs lose one row (``--corrupt``) must report
  failures, i.e. an error rate above 0;
and one traced run must print every per-layer metric with its unit.
Takes a few minutes; exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "3",
           "--seconds", "1", "--small", *args]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, specs: list[dict], what: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}, f"{what}: {sorted(got)}"
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"], (what, m["name"])
        assert isinstance(got[m["name"]]["value"], (int, float)), (what, m["name"])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        name = w["name"]
        ok = run("--workload", name, "--trace", "0")
        expect_metrics(ok, bench["end_to_end"], name)
        assert ok["correct"] and ok["failed"] == 0 and ok["attempted"] >= 1, (name, ok)
        assert all(m["value"] > 0 for m in ok["metrics"].values()), (name, ok)
        bad = run("--workload", name, "--trace", "0", "--corrupt")
        assert not bad["correct"] and bad["failed"] / bad["attempted"] > 0, (name, bad)
        print(f"ok   {name}: metrics and units; error rate "
              f"{bad['failed']}/{bad['attempted']} with one row dropped")
    name = bench["workloads"][0]["name"]
    traced = run("--workload", name, "--trace", "1")
    expect_metrics(traced, bench["per_layer"], f"{name} traced")
    assert traced["correct"], traced
    print(f"ok   {name} traced: {len(traced['metrics'])} per-layer metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
