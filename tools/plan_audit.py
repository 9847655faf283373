"""Static plan audit over every ``__spark_entry__.queries()`` entry.

Builds each entry's DataFrame (no execution) and counts physical-plan
nodes that signal scale risk (guide §2/§4/§7.2): Exchange (shuffles),
BatchEvalPython / ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas
(Python boundary), parquet scans (passes over the data), CartesianProduct
/ BroadcastNestedLoopJoin (exploding joins), and join strategies. Prints
one JSON line plus a human table sorted by shuffle count.

Usage: python tools/plan_audit.py [sf_dir] [--only a,b] [--json PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import spark_session

NODES = {
    "exchange": r"\bExchange\b",
    "scan": r"\bScan parquet\b",
    "pyeval": r"\b(BatchEvalPython|ArrowEvalPython)\b",
    "mapinarrow": r"\b(MapInArrow|MapInPandas|FlatMapGroupsInPandas)\b",
    "cartesian": r"\b(CartesianProduct|BroadcastNestedLoopJoin)\b",
    "smj": r"\bSortMergeJoin\b",
    "shj": r"\bShuffledHashJoin\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "sort": r"\bSort\b",
    "window": r"\bWindow\b",
    "localtablescan": r"\bLocalTableScan\b",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    spark = spark_session(conf={"spark.driver.memory": "16g"})

    qs = entrymod.queries()
    if args.only:
        keep = set(args.only.split(","))
        qs = {k: v for k, v in qs.items() if k in keep}

    out: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, fn in qs.items():
        try:
            df = fn(spark, args.sf_dir)
            jvm = spark._jvm
            plan = df._jdf.queryExecution().explainString(
                jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:160]
            continue
        out[name] = {
            k: len(re.findall(rx, plan)) for k, rx in NODES.items()
        }
    print(json.dumps({"sf_dir": args.sf_dir, "audit": out, "errors": errors}))
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"audit": out, "errors": errors}, f, indent=2,
                      sort_keys=True)
            f.write("\n")
    hdr = ["entry"] + list(NODES)
    print("  ".join(hdr), file=sys.stderr)
    for name, c in sorted(
        out.items(), key=lambda kv: (-kv[1]["exchange"], -kv[1]["scan"])
    ):
        print(
            f"{name:28s} " + "  ".join(str(c[k]) for k in NODES),
            file=sys.stderr,
        )
    if errors:
        print(f"errors: {errors}", file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
