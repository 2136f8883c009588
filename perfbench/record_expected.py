#!/usr/bin/env python3
"""Records perfbench/expected.json: a row count and digest per entry.

    python3 perfbench/record_expected.py

For an entry with a DuckDB oracle (`SparkEntry.oracleSql`) the expected
value comes from running that SQL in DuckDB over the generated corpus.
For the others it comes from Spark's own result on that corpus; the
`source` field says which.  The script also runs every entry through
the benchmark JVM once and prints any oracle-backed entry whose Spark
result differs, so a recording never hides a defect.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402


def main():
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    entries = sorted({e for w in workloads.values() for e in w["entries"]})
    writers = sorted({e for w in workloads.values() for e in w.get("writers", [])})
    classes = build.ensure()
    base, _ = run.prepare_data({}, 0)
    p = subprocess.run([build.java(), "-cp",
                        f"{classes}:{os.path.join(build.spark_jars(), '*')}",
                        "perfbench.Main", "--mode", "oracles",
                        "--entries", ",".join(entries)],
                       capture_output=True, text=True, check=True)
    oracles = json.loads(p.stdout.split(" ", 1)[1])

    run_dir = os.path.join(run.WORK, "runs", "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = run.jvm(classes, "run", run_dir, base,
                  ["--workload", "record", "--entries", ",".join(entries),
                   "--writers", ",".join(writers), "--seed", "0",
                   "--seconds", "0", "--trace", "0"], "run")["RESULT"]
    if out["failed"]:
        raise SystemExit(f"entries failed: {out['failed']}")

    con = digest.oracle_connection(base)
    expected, defects = {}, []
    for name in entries:
        spark = digest.of_parquet(os.path.join(run_dir, "check", name))
        if name in oracles:
            rows, dig = digest.of_relation(con, oracles[name])
            source = "duckdb-oracle"
            if (rows, dig) != spark:
                defects.append(f"{name}: spark {spark} vs oracle {(rows, dig)}")
        else:
            (rows, dig), source = spark, "spark"
        expected[name] = {"rows": rows, "digest": dig, "source": source}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in defects:
        print("MISMATCH", d)
    print(f"recorded {len(expected)} entries, {len(defects)} oracle mismatches")
    return 1 if defects else 0


if __name__ == "__main__":
    sys.exit(main())
