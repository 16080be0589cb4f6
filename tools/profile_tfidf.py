"""Stage-level profile of dedup_tfidf_cosine on the Heaps 100x corpus
(r8 VERDICT item 2: find where the ~2.7x-over-output-growth cost goes —
candidates: the shuffled dfreq/maxw joins, the pair-scale groupBy, or
the survivor re-dot). Runs the op once with a noop sink on a
``session.get_spark`` session, then reads per-stage executorRunTime /
shuffle bytes and per-node row counts from the driver's status store.

Usage:
    SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEM=8g python tools/profile_tfidf.py \
        --sf-dir /tmp/stress_heaps_100x
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stages(sc) -> list:
    """Completed stage attempts of every job this context ran."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in tracker.getJobIdsForGroup(None):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran and has no data
                continue
            if str(sd.status()) == "COMPLETE":
                out.append(sd)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/stress_heaps_100x")
    ap.add_argument("--id", default="dedup_tfidf_cosine")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()

    from census_postgres_py_spark import registry
    from census_postgres_py_spark.session import get_spark

    spark = get_spark("profile-tfidf")
    spark.sparkContext.setLogLevel("ERROR")

    fn = registry.all_queries()[args.id]
    t0 = time.time()
    fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    print(f"{args.id} @ {args.sf_dir}: wall {wall:.1f}s")

    done = _stages(spark.sparkContext)
    done.sort(key=lambda s: -s.executorRunTime())
    total_rt = sum(s.executorRunTime() for s in done)
    print(f"{len(done)} stages, total executorRunTime {total_rt/1000:.1f}s "
          f"(core-seconds)")
    for s in done[: args.top]:
        name = s.name().split("\n")[0][:80]
        print(
            f"  stage {s.stageId():>3} rt={s.executorRunTime()/1000:7.1f}s "
            f"tasks={s.numCompleteTasks():>3} "
            f"in={s.inputBytes()/1e6:8.1f}MB "
            f"sr={s.shuffleReadBytes()/1e6:8.1f}MB "
            f"sw={s.shuffleWriteBytes()/1e6:8.1f}MB "
            f"spill={s.diskBytesSpilled()/1e6:8.1f}MB  {name}"
        )

    # SQL node metrics: row counts through the plan (joins, aggs) so
    # candidate/survivor cardinalities are read off ONE run
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    timed = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.completionTime().isDefined():
            ms = ex.completionTime().get().getTime() - ex.submissionTime()
            timed.append((ms, ex.executionId()))
    for ms, eid in sorted(timed, reverse=True):
        if ms < 500:
            continue
        print(f"\nSQL exec {eid} ({ms/1000:.1f}s) node rows:")
        values = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            mets = node.metrics()
            for j in range(mets.size()):
                m = mets.apply(j)
                rows = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and rows.isDefined():
                    print(f"  node {node.id():>3} {node.name()[:45]:45} "
                          f"out={rows.get():>15}")
    spark.stop()


if __name__ == "__main__":
    main()
