#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
inputs (perfbench/gen_data.py), then starts the benchmark JVM
(perfbench/src) once in set-up-only mode and once in run mode.  After
its cold pass the run makes an untimed pass that writes every entry's
result; each is checked against the digest stored in
perfbench/expected.json.  The last
line of stdout is `{"correct", "attempted", "failed", "metrics"}`: with
`--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
ones.  Workloads, their entries and the layer map are in
perfbench/workloads.json.  Everything the run writes stays under
`.bench_work/` and the build directory in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import digest  # noqa: E402
import gen_data  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
SETUP_PROBES = 1          # set-up-only JVMs before the run's own JVM
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def driver_mem():
    """SPARK_DRIVER_MEM, else half the machine's memory within 2g..8g,
    the heap setting the repository's tests use."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def prepare_data(wl, seed):
    data_root = os.path.join(WORK, "data")
    base = os.path.join(data_root, "base")
    gen_data.base(base)
    if not wl.get("split"):
        return base, base
    splits = 4 * cores()
    d = os.path.join(data_root, f"split-s{seed}-n{splits}")
    if not os.path.isdir(d):
        # keep the disk bounded: one split copy at a time
        for old in os.listdir(data_root):
            if old.startswith("split-"):
                shutil.rmtree(os.path.join(data_root, old))
    gen_data.split(base, d, seed, splits)
    return base, d


def jvm(classes, mode, run_dir, data, args, tag):
    cp = f"{classes}:{os.path.join(build.spark_jars(), '*')}"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", "--mode", mode, "--data", data,
            "--work", run_dir, "--cores", str(cores())] + args
    err_path = os.path.join(run_dir, f"{tag}.stderr")
    with open(err_path, "w") as err:
        launched = time.time_ns()
        p = subprocess.run(cmd + ["--launched", str(launched)],
                           stdout=subprocess.PIPE, stderr=err, text=True,
                           timeout=JVM_TIMEOUT_S, cwd=run_dir)
    out = {}
    for line in p.stdout.splitlines():
        key, _, rest = line.partition(" ")
        if key in ("SETUP", "RESULT", "ORACLES"):
            out[key] = json.loads(rest)
    if p.returncode != 0 or (mode == "run" and "RESULT" not in out):
        with open(err_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"benchmark JVM ({tag}) exited with {p.returncode}")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="stored digests to check results against")
    a = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    wl = workloads[a.workload]
    with open(a.expected) as f:
        expected = json.load(f)

    classes = build.ensure()
    base, data = prepare_data(wl, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    setups = [jvm(classes, "setup", run_dir, data, ["--entries", ""],
                  f"setup{i}")["SETUP"] for i in range(SETUP_PROBES)]
    out = jvm(classes, "run", run_dir, data,
              ["--workload", a.workload, "--entries", ",".join(wl["entries"]),
               "--writers", ",".join(wl.get("writers", [])),
               "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)], "run")
    setups.append(out["SETUP"])
    r = out["RESULT"]

    failed = list(r["failed"])
    for name in r["checked"]:
        want = expected.get(name)
        got = digest.of_parquet(os.path.join(run_dir, "check", name))
        if want is None or [want["rows"], want["digest"]] != list(got):
            log(f"{name}: result {got} does not match expected {want}")
            failed.append(name)
    unchecked = sorted(set(wl["entries"]) - set(r["checked"]))
    correct = not failed and not unchecked

    def med(key, rows):
        return statistics.median(x[key] for x in rows)

    if a.trace == 0:
        per_entry = [statistics.median(ts) for ts in r["latencies"].values()]
        metrics = {
            "setup_s": (med("setup_s", setups), "s"),
            "cold_pass_s": (r["cold_pass_s"], "s"),
            "pass_s": (statistics.median(r["pass_s"]), "s"),
            "latency_geomean_s": (statistics.geometric_mean(per_entry), "s"),
        }
        log(f"{len(r['pass_s'])} warm passes")
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        base_bytes = sum(os.path.getsize(os.path.join(base, t))
                         for t in os.listdir(base))
        layers = {k: statistics.median(p[k] for p in r["layers"])
                  for k in r["layers"][0]}
        layers.update({k: med(k, setups) for k in setups[0] if k != "setup_s"})
        layers.update({
            "jvm.peak_rss_mb": r["peak_rss_mb"],
            "BuildCache.build_share":
                r["build_s"] / (r["build_s"] + r["cold_pass_s"]),
            "BuildCache.write_bytes": r["build_write_bytes"],
            "BuildCache.files": r["build_files"],
            "BuildCache.stored_bytes_ratio": r["build_bytes"] / base_bytes,
            "trace.overhead_s": statistics.median(r["traced_pass_s"])
            - statistics.median(r["pass_s"]),
        })
        metrics = {k: (layers[k], units[k]) for k in units}
        log(f"spans: {r['spans_file']}")
    result = {
        "correct": correct,
        "attempted": r["attempted"],
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    # a traced run keeps its spans and logs; everything else goes
    for sub in ([""] if a.trace == 0 else ["check", "tmp", "spark-local", "warehouse"]):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
