#!/usr/bin/env python3
"""Toy-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload (the two in BENCHMARK.json and `cells`) on tiny
inputs, untraced and traced, and asserts that each run is correct and
prints every metric BENCHMARK.json names, with its unit. Then breaks each
correctness gate on purpose (a table the log never produced, a duplicated
lineage file, a cell result missing a row) and asserts the run reports
itself incorrect. Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "4", "--trace", str(trace), "--toy"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect_metrics(res, spec, label):
    for m in spec:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{label}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{label}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{label}: {m['name']} not a number"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in [x["name"] for x in bench["workloads"]] + ["cells"]:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            res = run(w, trace)
            label = f"{w} trace={trace}"
            assert res["correct"] and res["failed"] == 0, f"{label}: not correct: {res}"
            assert res["attempted"] >= 1, f"{label}: nothing attempted"
            expect_metrics(res, spec, label)
            if trace == 0:
                for m in spec:
                    assert res["metrics"][m["name"]]["value"] > 0, f"{label}: {m['name']} is 0"
            elif w == "cells":
                assert any(k.startswith("cells.") for k in res["metrics"]), f"{label}: no cell layers"
            print(f"ok   {label}: {len(res['metrics'])} metrics")
    for w, gate in (("catchup", "table"), ("catchup", "fingerprint"),
                    ("trickle", "table"), ("trickle", "lineage"), ("cells", "cell")):
        res = run(w, 0, gate)
        assert not res["correct"] and res["failed"] > 0, f"{w}: corrupt {gate} not caught: {res}"
        print(f"ok   {w}: corrupt {gate} caught")
    print("selfcheck passed")


if __name__ == "__main__":
    main()
