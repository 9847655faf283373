"""Local replica of the driver's correctness gate: run every
`__spark_entry__.queries()` entry AND its DuckDB oracle twin side by side,
compare sorted columns + sorted normalized rows, and flag mismatches and
vacuous (0-row) passes.

Usage:
    python tools/oracle_check.py [sf_dir]       # default /root/testdata/sf0.01
        [--only name1,name2]                    # subset of entries
        [--json PATH]                           # machine-readable artifact
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spark_session  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated entry names")
    ap.add_argument("--json", default=None, help="write per-entry results here")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    only = set(args.only.split(",")) if args.only else None

    import duckdb
    spark = spark_session()

    import __spark_entry__ as em

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = em.queries(), em.oracle_sql()
    if only is not None:
        unknown = only - set(qs)
        if unknown:
            # a typo'd --only name would otherwise produce a vacuous
            # all-green run — the exact failure mode this tool exists to
            # prevent
            print(f"unknown entry names in --only: {sorted(unknown)}")
            spark.stop()
            return 2
    fails, n_ok, n_rows_only = [], 0, 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sorted(tuple(norm(r[c]) for c in scols) for r in sdf.collect())
        except Exception as e:
            fails.append((name, f"SPARK {type(e).__name__}: {e}"))
            results[name] = {"status": "fail", "err": f"SPARK {type(e).__name__}: {e}"}
            continue
        if name not in oracles:
            n_rows_only += 1
            results[name] = {"status": "rows_only", "rows": len(srows)}
            print(f"{name}: rows-only ({len(srows)} rows)")
            continue
        try:
            ores = con.execute(oracles[name]).fetchdf()
            ocols = sorted(ores.columns)
            orows = sorted(
                tuple(norm(v) for v in row)
                for row in ores[ocols].itertuples(index=False)
            )
        except Exception as e:
            fails.append((name, f"ORACLE {e}"))
            results[name] = {"status": "fail", "err": f"ORACLE {e}"}
            continue
        if scols != ocols or srows != orows:
            err = f"MISMATCH rows={len(srows)}/{len(orows)}"
            # entries with a registered diagnostic (e.g. LSH sign-margin)
            # get it run on failure, so engine float noise is
            # distinguishable from a real regression in the report
            diag_fn = getattr(em, "contract_diagnostics", dict)().get(name)
            if diag_fn is not None:
                try:
                    err += f" | {diag_fn(spark, sf_dir)}"
                except Exception as de:
                    err += f" | diagnostic failed: {de}"
            fails.append((name, err))
            results[name] = {
                "status": "fail",
                "err": err,
                "schema_match": scols == ocols,
            }
        elif not srows:
            fails.append((name, "VACUOUS: both sides 0 rows"))
            results[name] = {"status": "fail", "err": "VACUOUS: both sides 0 rows"}
        else:
            n_ok += 1
            results[name] = {"status": "ok", "rows": len(srows)}
            print(f"{name}: ok ({len(srows)} rows)")
    n_checked = len(results)
    print(
        f"\n{n_checked} entries: {n_ok} oracle-green, {n_rows_only} rows-only, "
        f"{len(fails)} problems"
    )
    for name, why in fails:
        print(f"  FAIL {name}: {why}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "entries": results,
                    "summary": {
                        "checked": n_checked,
                        "oracle_green": n_ok,
                        "rows_only": n_rows_only,
                        "problems": len(fails),
                    },
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
