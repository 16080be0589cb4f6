"""Parallelism audit: flag heavy single-task stages in query plans.

Runs each given id (default: the 25 slowest from bench_queries.json)
under bench.py's session config with the Spark event log on, then
flags any stage that took > ``--min-sec`` seconds with <= 2 tasks —
the signature of the two plan diseases found in round 6:

* explode-after-coalesce: AQE coalesces a byte-compact array stage,
  then a generator fans out 1000x inside 1-2 tasks;
* checkpoint-partition-collapse: a localCheckpoint materializes with
  ~1 partition and a downstream broadcast join streams it single-task.

Both are invisible to the oracle (answers stay exact) and to total
wall time on a lightly loaded box (one core at 100% still finishes),
so they need this explicit audit. A flagged stage at sf0.1 is a
serialization point that becomes THE bottleneck at 100x.

Usage:
    python tools/stage_audit.py [--sf-dir DIR] [--min-sec 1.0] [ids...]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import time


def stage_rows(log_dir: str) -> list[tuple[float, int, int]]:
    """(duration_sec, stage_id, n_tasks) for every completed stage in
    the newest event log under log_dir (zstd rolling format)."""
    d = max(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    rows = []
    files = (
        [p for p in glob.glob(d + "/*") if os.path.basename(p).startswith("events")]
        if os.path.isdir(d)
        else [d]
    )
    for f in files:
        if f.endswith(".zstd"):
            lines = (
                subprocess.run(["zstd", "-dc", f], capture_output=True)
                .stdout.decode(errors="ignore")
                .splitlines()
            )
        else:
            # with-block: the audit loops over many ids in one process,
            # so an unclosed handle per file is a real fd leak
            with open(f, errors="ignore") as fh:
                lines = fh.readlines()
        for line in lines:
            try:
                ev = json.loads(line)
            except (json.JSONDecodeError, UnicodeDecodeError):
                continue
            if ev.get("Event") != "SparkListenerStageCompleted":
                continue
            si = ev["Stage Info"]
            dur = (
                si.get("Completion Time", 0) - si.get("Submission Time", 0)
            ) / 1000.0
            rows.append((dur, si["Stage ID"], si["Number of Tasks"]))
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--min-sec", type=float, default=1.0)
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("ids", nargs="*")
    args = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)
    ids = args.ids
    if not ids:
        bq = json.load(open(os.path.join(here, "bench_queries.json")))
        ids = [
            k
            for k, v in sorted(bq["queries"].items(), key=lambda kv: -kv[1])[
                : args.top
            ]
        ]

    log_dir = f"/tmp/stage_audit_{os.getpid()}"
    os.makedirs(log_dir, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("census-spark-stage-audit")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        # plain-text logs: the zstd CLI is not guaranteed on this box
        # (the .zstd branch in stage_rows stays as a fallback reader)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    flagged_total = 0
    for qid in ids:
        seen = {sid for _, sid, _ in stage_rows(log_dir)} if os.listdir(
            log_dir
        ) else set()
        t0 = time.perf_counter()
        try:
            qs[qid](spark, args.sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception as exc:  # noqa: BLE001 — audit the rest anyway
            print(f"{qid}: ERROR {exc}", flush=True)
            continue
        wall = round(time.perf_counter() - t0, 2)
        # the rolling event log flushes asynchronously
        time.sleep(0.5)
        new = [
            (dur, sid, nt)
            for dur, sid, nt in stage_rows(log_dir)
            if sid not in seen
        ]
        bad = [
            (dur, sid, nt)
            for dur, sid, nt in new
            if dur >= args.min_sec and nt <= 2
        ]
        flagged_total += len(bad)
        tag = (
            " | ".join(f"stage {sid}: {dur:.1f}s in {nt} task(s)" for dur, sid, nt in bad)
            if bad
            else "ok"
        )
        print(f"{qid} [{wall}s]: {tag}", flush=True)
    print(f"TOTAL flagged: {flagged_total}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
