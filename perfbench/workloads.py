"""Workload definitions and the metric arithmetic shared by the
orchestrator (``run.py``), the per-run process (``worker.py``) and the
tests. Importing this module needs neither Spark nor the package."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

#: A run makes round(seconds / PASS_S) timed passes, at least one;
#: PASS_S is about one pass's length on a 4-core host.
PASS_S = 4.0

#: An ``ops`` workload runs every listed id once per pass, in an order
#: the seed permutes, over the seeded sf0.1-shaped corpus. The ``acs``
#: workload loads ``acs`` (states x sequences x logrecnos x cells),
#: re-reads ``rescan_states`` states of every loaded sequence and writes
#: ``jdbc_cells`` cells of one state over JDBC.
WORKLOADS: dict[str, dict] = {
    "ops_sf01": {
        "kind": "ops",
        # Ids of bench.HEADLINE (run.py refuses any other), each with the
        # layer it stands for. Few ids and several passes: a run's set-up
        # and cold check pass cost ~25 s, and a median over passes rides
        # out host stalls.
        "ids": {
            "pipeline_acs_e2e": "the paper's own ACS dataflow",
            "join_asof": "joins: a sort-merge as-of join",
            "win_rank": "windows: a ranked window over a shuffle",
            "udf_pandas_iter": "functions: a pandas UDF, so Python workers run",
            "fn_variant_json": "functions: JSON parsing in the JVM",
            "stream_windowed_topk": "streaming: a watermarked file-source aggregation that keeps state",
        },
    },
    "acs_load": {
        "kind": "acs",
        "acs": {"states": 6, "seqs": 2, "geos": 2000, "cells": 50},
        "rescan_states": 3,
        "jdbc_cells": 8,
    },
}

#: End-to-end metrics of an untraced run, with units (defined in
#: README.md).
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "input_mb_per_s": "MB/s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics of the traced run (layer = package module), with
#: units. Values are per traced pass unless the unit says otherwise.
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_jobs_per_op": "ratio",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.core_idle_frac": "ratio",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "tables.scan_s": "s",
    "tables.scan_mb": "MB",
    "tables.scan_rows": "count",
    "tables.read_back_s": "s",
    "functions.python_s": "s",
    "functions.python_mb": "MB",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.state_rows": "count",
    "sources.csv_scan_s": "s",
    "sources.csv_mb": "MB",
    "sources.fixed_width_s": "s",
    "sources.sink_write_s": "s",
    "sources.sink_files": "count",
    "sources.sink_mb": "MB",
    "sources.jdbc_write_s": "s",
    "sources.jdbc_rows": "count",
    "trace.overhead_frac": "ratio",
    "trace.coverage_frac": "ratio",
}

#: Pooled-percentile rule: a percentile is only a tail estimate when at
#: least this many samples lie beyond it.
TAIL_BEYOND = 10


def samples_needed(q: float, beyond: int = TAIL_BEYOND) -> int:
    """Smallest pool in which ``beyond`` samples lie above quantile q."""
    return math.ceil(beyond / (1.0 - q) - 1e-9)


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated quantile (the 'inclusive' method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(samples: list[float], q: float = 0.9) -> dict:
    """The q-quantile of a pooled sample with its sample count, how many
    samples lie beyond it, and whether that meets TAIL_BEYOND."""
    v = percentile(samples, q)
    beyond = sum(1 for x in samples if x > v)
    return {
        "value": v,
        "n": len(samples),
        "beyond": beyond,
        "meets_rule": len(samples) >= samples_needed(q),
    }



#: the most a time is corrected for stolen CPU time: a run whose vCPUs
#: were stolen half as long as they ran measured the host, not the code
MIN_UNSTOLEN = 0.5


def unstolen(seconds: float, busy: int, steal: int) -> float:
    """``seconds`` less the time the hypervisor stole from the run.

    ``busy`` and ``steal`` are the CPU ticks the interval spent running
    and ready-but-stolen. A stolen vCPU stalls the tasks that wait on
    it too, so the time is scaled by 1 - steal/busy rather than by the
    busy share busy/(busy + steal), which left a run with 24 % steal
    18 % slower than its neighbours on ``acs_load`` (1 - steal/busy: 6 %)."""
    if busy <= 0:
        return seconds
    return seconds * max(MIN_UNSTOLEN, 1.0 - steal / busy)


def op_p50(ops: list[dict]) -> float:
    """Geometric mean, over the operations of a pass, of each one's
    median latency (less stolen time) across passes. A median pooled
    over unlike operations lands in the gap between two of them and
    jumps from run to run."""
    by_id: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        by_id[o["id"]].append(unstolen(o["s"], o["busy"], o["steal"]))
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_id.values()))
