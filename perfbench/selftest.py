#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/selftest.py

From the repository root, runs every workload end to end on tiny inputs,
plain and traced (``analytics`` too, which BENCHMARK.json leaves out), and
asserts that each run exits 0, reports correct output
and prints exactly the metrics BENCHMARK.json names, with their units. Then
checks that the benchmark fails, printing no result, in a directory that
holds only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def run(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in ["ingest", "analytics", "curation"]:
        for trace in (0, 1):
            r = run(ROOT, w, trace)
            tag = f"{w} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: correct={out['correct']} failed={out['failed']} "
                                f"attempted={out['attempted']}")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing={sorted(set(want[trace]) - set(got))} "
                                f"extra={sorted(set(got) - set(want[trace]))}")
            print(f"selftest: {tag} ok={not problems}", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    r = run(bare, bench["workloads"][0]["name"], 0)
    if r.returncode == 0 or r.stdout.strip():
        problems.append(f"bare directory: exit {r.returncode}, stdout {r.stdout[-200:]!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("selftest: FAIL " + p, file=sys.stderr)
    print("selftest: " + ("FAILED" if problems else "all workloads print every metric"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
