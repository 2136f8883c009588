#!/usr/bin/env python3
"""Paired comparison of a parent and a change on this benchmark.

Run alternating pairs (the side that goes first alternates; both sides
get the same seed in a pair) and append every result to a JSONL file:

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workloads lakehouse,llm_pipelines --pairs 10 --out pairs.jsonl

Each of --parent/--change is a checkout holding BENCHMARK.json and the
perfbench directory; the benchmark code must be identical on both.
A traced run per side and workload follows the pairs.  Then report:

    python3 perfbench/compare.py report pairs.jsonl

For each workload and end-to-end metric the report gives each side's
median and quartiles, the change's win fraction over the pairs (ties
count for neither side), the gain verdict (at least 10 pairs, the
change wins at least 9 in 10 of them, the medians differ by more than
the parent's quartile spread, and no more executions fail), and the bound check against BENCHMARK.json: `regressed` (the
change's median is worse by more than the bound), `unchanged`, or
`unresolved` (the parent's own spread is wider than the bound and not
every run of the change reads better than every run of the parent).  Per-layer medians and deltas of the traced runs follow.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    if p.returncode != 0:
        raise SystemExit(f"{checkout}: {workload} seed {seed} exited {p.returncode}")
    return json.loads(last)


def cmd_run(a):
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in bench["workloads"]]
    sides = {"parent": a.parent, "change": a.change}
    with open(a.out, "a") as out:
        def record(side, w, seed, trace, pair):
            res = run_once(sides[side], w, seed, seconds, trace)
            out.write(json.dumps({"side": side, "workload": w, "seed": seed,
                                  "trace": trace, "pair": pair,
                                  "result": res}) + "\n")
            out.flush()
        for w in workloads:
            for i in range(a.pairs):
                seed = a.seed + i
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                for side in order:
                    record(side, w, seed, 0, i)
            for side in ("parent", "change"):
                record(side, w, a.seed, 1, -1)


def cmd_report(a):
    with open(a.bench) as f:
        bench = json.load(f)
    rows = [json.loads(l) for l in open(a.runs) if l.strip()]
    for w in sorted({r["workload"] for r in rows}):
        print(f"== {w}")
        plain = [r for r in rows if r["workload"] == w and r["trace"] == 0]
        pairs = {}
        for r in plain:
            pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        pairs = [p for p in pairs.values() if "parent" in p and "change" in p]
        bad = sum(1 for r in plain if not r["result"].get("correct"))
        failed = {s: sum(p[s]["failed"] for p in pairs) for s in ("parent", "change")}
        print(f"   {len(pairs)} pairs, {bad} runs not correct, failed executions "
              f"parent {failed['parent']} change {failed['change']}")
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            par = [p["parent"]["metrics"][name]["value"] for p in pairs]
            chg = [p["change"]["metrics"][name]["value"] for p in pairs]
            if not par:
                continue
            pq, cq = quartiles(par), quartiles(chg)
            better = [(c < p) if lower else (c > p) for p, c in zip(par, chg)]
            worse = [(c > p) if lower else (c < p) for p, c in zip(par, chg)]
            wins = sum(better) / len(pairs)
            spread = pq[2] - pq[0]
            diff = cq[1] - pq[1]
            gain = (len(pairs) >= 10 and wins >= 0.9 and abs(diff) > spread
                    and ((diff < 0) if lower else (diff > 0))
                    and failed["change"] <= failed["parent"])
            worse_by = (diff if lower else -diff) / pq[1]
            if worse_by > m["bound"]:
                check = "regressed"
            elif spread / pq[1] > m["bound"] and not (
                    max(chg) < min(par) if lower else min(chg) > max(par)):
                check = "unresolved"
            else:
                check = "unchanged"
            print(f"   {name:15s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]"
                  f"  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] {m['unit']}"
                  f"  wins {wins:.2f} (losses {sum(worse) / len(pairs):.2f})"
                  f"  {'GAIN' if gain else 'no gain'}"
                  f"  bound {m['bound']:.2f}: {check}")
        traced = [r for r in rows if r["workload"] == w and r["trace"] == 1]
        sides = {s: [r["result"]["metrics"] for r in traced if r["side"] == s]
                 for s in ("parent", "change")}
        if sides["parent"] and sides["change"]:
            print("   per-layer (traced medians):")
            for m in bench["per_layer"]:
                n = m["name"]
                p = statistics.median(x[n]["value"] for x in sides["parent"])
                c = statistics.median(x[n]["value"] for x in sides["change"])
                rel = f" ({(c - p) / p:+.1%})" if p else ""
                print(f"     {n:32s} {p:14.6g} -> {c:14.6g}{rel}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workloads", default="")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1000)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("runs")
    p.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json"))
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_report(a)


if __name__ == "__main__":
    main()
