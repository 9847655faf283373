"""Time every ``__spark_entry__.queries()`` entry individually.

For each entry: build the DataFrame and drain it with the noop sink
(guide §1.4 — computes every column of every row, no sink cost, no
column-pruning shortcut), repeated ``--runs`` times, reporting the median
build+execute seconds. Prints one JSON line and a sorted human table so
the optimization round has a measured per-operator cost checklist instead
of guesses.

Usage:
    python tools/time_entries.py [sf_dir] [--runs 3] [--only a,b] [--json PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import proc_cpu_seconds, spark_session


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    spark = spark_session(conf={"spark.driver.memory": "16g"})

    qs = entrymod.queries()
    if args.only:
        keep = set(args.only.split(","))
        qs = {k: v for k, v in qs.items() if k in keep}

    # warm file listing + JVM
    from seqspark.data import load_table

    for t in ("events", "documents", "lineitem", "embeddings"):
        try:
            load_table(spark, args.sf_dir, t).count()
        except Exception:
            pass

    timings: dict[str, float] = {}
    cpu_timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in qs.items():
        spark.sparkContext.setJobDescription(f"time:{name}")
        runs = []
        cpu_runs = []
        try:
            for _ in range(args.runs):
                c0 = proc_cpu_seconds()
                t0 = time.perf_counter()
                df = fn(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
                cpu_runs.append(proc_cpu_seconds() - c0)
        except Exception as e:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            continue
        timings[name] = round(statistics.median(runs), 4)
        # CPU median (Python plus the local-mode JVM, bench.py's timer):
        # wall swings ±2-3x with host load, so the CPU medians are what
        # make per-entry deltas attributable
        cpu_timings[name] = round(statistics.median(cpu_runs), 4)
        print(f"{timings[name]:9.3f} {cpu_timings[name]:8.3f}  {name}",
              file=sys.stderr, flush=True)

    out = {
        "metric": "seqspark_entry_timings",
        "sf_dir": args.sf_dir,
        "runs": args.runs,
        "total": round(sum(timings.values()), 3),
        "cpu_total": round(sum(cpu_timings.values()), 3),
        "timings": timings,
        "cpu": cpu_timings,
        "errors": errors,
    }
    print(json.dumps(out))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=2, sort_keys=True)
            f.write("\n")
    print("--- slowest first ---", file=sys.stderr)
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1])[:40]:
        print(f"{sec:9.3f}  {name}", file=sys.stderr)
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
