"""Count driver-blocking jobs per registry id, split into BUILD-time
(jobs launched while the operator function constructs its DataFrame —
collects, isEmpty probes, schema inference, eager checkpoints, scratch
writes) and EXEC-time (jobs during the noop-sink write — AQE stage
materializations plus the final result stage).

Every build job is a serial driver-blocking round trip and therefore a
host-stall exposure point (guide §5); the r12/r13 optimization rounds
target the outliers. Usage:

    python tools/jobs_sweep.py [--sf-dir DIR] [id ...]   # default: all bench ids
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("ids", nargs="*")
    args = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)
    from census_postgres_py_spark.session import get_spark

    spark = get_spark("census-spark-jobs-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import bench as benchmod
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    ids = args.ids or [q for q in benchmod.HEADLINE if q in qs]

    # warm-ups so worker-pool/codegen jobs don't pollute the first id
    for wq in ("join_multiway_star", "udf_grouped_map"):
        try:
            qs[wq](spark, args.sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception:
            pass

    tracker = sc.statusTracker()
    rows = []
    for qid in ids:
        try:
            grp_b = f"build_{qid}"
            sc.setJobGroup(grp_b, qid)
            df = qs[qid](spark, args.sf_dir)
            build = len(tracker.getJobIdsForGroup(grp_b))
            grp_e = f"exec_{qid}"
            sc.setJobGroup(grp_e, qid)
            df.write.mode("overwrite").format("noop").save()
            ex = len(tracker.getJobIdsForGroup(grp_e))
            rows.append((qid, build, ex))
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            print(f"{qid}: FAILED {exc}", file=sys.stderr)
            rows.append((qid, -1, -1))
        finally:
            sc.setJobGroup(f"idle_{qid}", qid)

    rows.sort(key=lambda r: (-r[1], -r[2]))
    print("queries by build-time jobs (build_jobs, exec_jobs):")
    for qid, b, e in rows:
        print(f"{qid:<38} build_jobs={b:>3} exec_jobs={e:>3}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
