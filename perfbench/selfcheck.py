#!/usr/bin/env python3
"""Checks the benchmark itself.

    python3 perfbench/selfcheck.py [--workloads lakehouse,llm_pipelines] [--seed 7]

For each workload:
  1. an untraced run against a copy of expected.json with one digest
     changed must report `correct: false` and `failed > 0`;
  2. the metric names and units of an untraced and a traced run must be
     exactly those BENCHMARK.json lists;
  3. two traced runs with the same seed must report identical counts
     (jobs, stages, tasks, scan rows, exchange records, files written).
Finally, run.py must exit non-zero without printing a result in a
directory that holds only BENCHMARK.json and perfbench/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ["driver.jobs", "driver.stages", "driver.tasks",
          "SparkEntry.construct_jobs", "Tables.scan_rows", "exchange.records",
          "exchange.map_stages", "BuildCache.files"]


def run(cwd, *args):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in bench["workloads"]]
    secs = str(bench["run_seconds"])
    problems = []

    work = os.path.join(ROOT, ".bench_work", "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(HERE, "expected.json")) as f:
        planted = json.load(f)

    def names_ok(w, trace, res):
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want[trace]:
            problems.append(f"{w} trace {trace}: metrics {sorted(got)} differ "
                            f"from BENCHMARK.json")

    for w in workloads:
        with open(os.path.join(HERE, "workloads.json")) as f:
            victim = json.load(f)["workloads"][w]["entries"][0]
        bad = dict(planted, **{victim: dict(planted[victim], digest="0" * 16)})
        bad_path = os.path.join(work, f"expected-{w}.json")
        with open(bad_path, "w") as f:
            json.dump(bad, f)
        rc, res = run(ROOT, "--workload", w, "--seed", str(a.seed),
                      "--seconds", secs, "--trace", "0", "--expected", bad_path)
        if rc != 0 or res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: planted wrong digest of {victim} not caught: {res}")
        else:
            print(f"{w}: planted wrong digest caught "
                  f"(failed {res['failed']}/{res['attempted']})")
            names_ok(w, 0, res)
        traced = []
        for _ in range(2):
            rc, res = run(ROOT, "--workload", w, "--seed", str(a.seed),
                          "--seconds", secs, "--trace", "1")
            if rc != 0 or not res["correct"]:
                problems.append(f"{w}: traced run failed: rc {rc}, {res}")
                break
            names_ok(w, 1, res)
            traced.append({k: res["metrics"][k]["value"] for k in COUNTS})
        if len(traced) == 2:
            if traced[0] != traced[1]:
                problems.append(f"{w}: traced counts differ: {traced}")
            else:
                print(f"{w}: traced counts repeat: {traced[0]}")

    bare = os.path.join(work, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = run(bare, "--workload", workloads[0], "--seed", "1",
                  "--seconds", secs, "--trace", "0")
    if rc == 0 or res is not None:
        problems.append(f"bare directory: exit {rc}, output {res}")
    else:
        print(f"bare directory: exit {rc}, no result")
    shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print("PROBLEM", p)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
