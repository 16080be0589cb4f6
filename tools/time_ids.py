"""Time a subset of registry ids with bench.py's exact session config.

Usage:
    python tools/time_ids.py [--sf-dir DIR] [--reps N] id [id ...]

Same warm-up protocol and noop-sink execution as bench.py so numbers
are comparable to bench_queries.json rows; prints per-rep timings so
run-to-run variance is visible (the r5/r6 anchors showed host load can
scatter sub-2 s queries by 3x — reps make that explicit).
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("ids", nargs="+")
    args = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)
    from census_postgres_py_spark.session import get_spark

    spark = get_spark("census-spark-time-ids")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def run(qid: str) -> float:
        t0 = time.perf_counter()
        qs[qid](spark, args.sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return round(time.perf_counter() - t0, 3)

    # warm-ups (JVM codegen + Python/Arrow worker pool) — partial
    # fixtures like the stress corpora lack some tables, so a failed
    # warm-up is fine: the first timed rep absorbs the remainder
    for warm in ("join_multiway_star", "udf_grouped_map"):
        try:
            run(warm)
        except Exception:  # noqa: BLE001
            pass

    for qid in args.ids:
        reps = [run(qid) for _ in range(args.reps)]
        print(f"{qid}: {reps} min={min(reps)}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
