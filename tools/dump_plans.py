"""Dump `.explain("formatted")` output for registry ids to files.

The r12 optimization deliverable: plans/r12/<id>_{before,after}.txt
captured on the exact tree being claimed (run with the old tree
checked out for _before, the new tree for _after).

Usage:
    python tools/dump_plans.py --out plans/r12 --suffix _after id [id ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r12")
    ap.add_argument("--suffix", default="")
    ap.add_argument("ids", nargs="+")
    args = ap.parse_args()

    from census_postgres_py_spark.session import get_spark

    spark = get_spark("census-spark-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    os.makedirs(args.out, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for qid in args.ids:
        df = qs[qid](spark, args.sf_dir)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(args.out, f"{qid}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
