"""Traced-run instrumentation, all from outside the package.

* Spans: the benchmark wraps each call into a layer (``operators`` build,
  ``spark`` exec, ``tables.read_back``, ``sources.*``, the check) in a
  span keyed by op id. A span that may run Spark jobs also gets its own
  job group, so its jobs can be found afterwards.
* Spark: after each traced pass the job groups are resolved through the
  status tracker (jobs, stages) and the driver's status stores: the app
  store for per-stage task metrics, the SQL store for per-plan-node
  metrics of each SQL execution those jobs belong to.
* Streaming: a ``StreamingQueryListener`` the benchmark registers counts
  micro-batches, their duration and the state rows they keep, per
  traced pass.

Nothing here patches the package. Spans stay in memory; ``run.py``
writes them out once the run is over.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

#: plan-node name prefixes whose metrics a layer owns
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsIn", "MapInPandas",
                "MapInArrow", "PythonMapInArrow", "AggregateInPandas", "ArrowWindowPython",
                "FlatMapCoGroupsIn", "TransformWithStateIn", "WindowInPandas")

_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_SCALE = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'60,000'``, ``'17.2 MiB'``,
    ``'451 ms'`` or the multi-task form whose second line starts with
    the total. Sizes come back in bytes, times in seconds."""
    line = text.strip().splitlines()[-1] if "\n" in text.strip() else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


class StreamCounter:
    """Records the progress events of every streaming query in the
    session. Events reach the listener asynchronously, so they are
    matched to passes by their trigger time, not by when they arrive."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                counter.events.append((
                    _epoch(p.timestamp),
                    p.durationMs.get("triggerExecution", 0) / 1000.0,
                    sum(s.numRowsTotal for s in p.stateOperators),
                ))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        #: (trigger epoch s, trigger duration s, state rows after the batch)
        self.events: list[tuple[float, float, int]] = []
        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def within(self, windows: list) -> tuple[int, float, int]:
        """Micro-batches, their total duration and their summed state
        rows, over the events whose trigger fell in one of ``windows``."""
        hits = [e for e in self.events if any(a <= e[0] <= b for a, b in windows)]
        return len(hits), sum(e[1] for e in hits), sum(e[2] for e in hits)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def _epoch(stamp: str) -> float:
    """Epoch seconds of a progress timestamp such as
    ``2026-01-02T03:04:05.678Z``."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class Tracer:
    """Spans plus the Spark readings of the jobs each span ran.

    With ``on=False`` every method is a no-op, so untraced runs pay
    nothing."""

    def __init__(self, spark, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.nodes: list[dict] = []
        self._spark = spark
        self._sc = spark.sparkContext
        self._seen_exec = -1
        #: spans are recorded only while this is set (the traced passes)
        self.active = False
        self.streams = StreamCounter(spark) if on else None

    @contextmanager
    def span(self, layer: str, key: str, pass_no: int | None = None, jobs: bool = True):
        if not (self.on and self.active):
            yield
            return
        rec = {"layer": layer, "key": key, "pass": pass_no, "group": None}
        if jobs:
            rec["group"] = f"perfbench-{len(self.spans)}"
            self._sc.setJobGroup(rec["group"], f"{layer} {key}")
        rec["t0"] = time.perf_counter()
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            if jobs:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def collect(self) -> None:
        """Resolve the job groups of spans not yet collected into stage
        and plan-node readings. Called between passes, outside timing,
        so the status store's retention limits never drop a stage."""
        if not self.on:
            return
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        job_span: dict[int, dict] = {}
        for rec in self.spans:
            if rec["group"] is None or "jobs" in rec:
                continue
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))
            for jid in rec["jobs"]:
                job_span[jid] = rec
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid not in self.stages:
                        sd = _stage(store, sid)
                        if sd is not None:
                            self.stages[sid] = dict(
                                sd, key=rec["key"], layer=rec["layer"], pass_no=rec["pass"]
                            )
        self._collect_sql(job_span)

    def _collect_sql(self, job_span: dict[int, dict]) -> None:
        sql = self._spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        newest = self._seen_exec
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._seen_exec:
                continue
            newest = max(newest, eid)
            jobs = [int(j) for j in _scala_keys(ex.jobs())]
            owner = next((job_span[j] for j in jobs if j in job_span), None)
            if owner is None:
                continue
            values = sql.executionMetrics(eid)
            graph = sql.planGraph(eid)
            first = len(self.nodes)
            top = graph.nodes()
            for k in range(top.size()):
                _walk(top.apply(k), None, values, owner, self.nodes)
            # a row-based scan sits outside the codegen cluster it feeds:
            # remember, per node, the cluster of its parent
            by_id = {x["id"]: x for x in self.nodes[first:]}
            edges = graph.edges()
            for k in range(edges.size()):
                e = edges.apply(k)
                child, parent = by_id.get(e.fromId()), by_id.get(e.toId())
                if child is not None and parent is not None:
                    child["feeds"] = parent["cluster"]
        self._seen_exec = newest


def _scala_keys(m) -> list:
    it = m.keys().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _stage(store, sid: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # noqa: BLE001 - a skipped stage never ran and has no data
        return None
    if str(sd.status()) != "COMPLETE":
        return None
    return {
        "tasks": sd.numTasks(),
        "run_s": sd.executorRunTime() / 1e3,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "shuffle_write_b": sd.shuffleWriteBytes(),
        "shuffle_read_b": sd.shuffleReadBytes(),
        "spill_b": sd.diskBytesSpilled(),
    }


def _walk(node, cluster: int | None, values, owner: dict, out: list) -> None:
    """Flatten a plan graph; nodes inside a WholeStageCodegen cluster
    carry the index of the cluster's own record in ``out``."""
    name = node.name()
    metrics = {}
    ms = node.metrics()
    for q in range(ms.size()):
        m = ms.apply(q)
        v = values.get(m.accumulatorId())
        if v.isDefined():
            metrics[m.name()] = parse_metric(v.get())
    out.append({"id": node.id(), "name": name, "cluster": cluster, "metrics": metrics,
                "layer": owner["layer"], "key": owner["key"], "pass": owner["pass"]})
    if name.startswith("WholeStageCodegen"):
        me = len(out) - 1
        children = node.nodes()
        for k in range(children.size()):
            _walk(children.apply(k), me, values, owner, out)


def layer_table(tracer: Tracer, passes: list[dict], cores: int, setup: dict) -> dict:
    """Per-layer metrics, per traced pass, from the spans and readings.

    ``passes`` are the timed passes (wall, traced, epoch interval);
    ``setup`` the set-up spans measured before tracing began."""
    walls = {
        "traced": [p["wall"] for p in passes if p["traced"]],
        "untraced": [p["wall"] for p in passes if not p["traced"]],
    }
    timed = [s for s in tracer.spans if s["pass"] is not None and s["layer"] != "check"]
    n = max(1, len(walls["traced"]))
    batches, batch_s, state_rows = tracer.streams.within([p["at"] for p in passes if p["traced"]])

    def dur(layer_prefix: str) -> float:
        return sum(s["t1"] - s["t0"] for s in timed if s["layer"].startswith(layer_prefix))

    def per_pass(x: float) -> float:
        return x / n

    stage_rows = [s for s in tracer.stages.values() if s["pass_no"] is not None]
    exec_stages = [s for s in stage_rows if s["layer"] != "operators.build"]
    build_spans = [s for s in timed if s["layer"] == "operators.build"]
    build_jobs = sum(len(s.get("jobs", ())) for s in build_spans)
    job_spans = [s for s in timed if s["group"] and s["layer"] != "operators.build"]
    exec_jobs = sum(len(s.get("jobs", ())) for s in job_spans)
    exec_s = sum(s["t1"] - s["t0"] for s in job_spans)
    run_s = sum(s["run_s"] for s in exec_stages)
    nodes = [x for x in tracer.nodes if x["pass"] is not None and x["layer"] != "check"]

    def node_sum(pred, metric: str) -> float:
        return sum(x["metrics"].get(metric, 0.0) for x in nodes if pred(x["name"]))

    def cluster_duration(scan_prefix: str) -> float:
        """Task time of the codegen pipelines such a scan feeds."""
        owners = {x.get("feeds") for x in nodes if x["name"].startswith(scan_prefix)}
        owners.discard(None)
        return sum(tracer.nodes[i]["metrics"].get("duration", 0.0) for i in owners)

    python = [x["metrics"] for x in nodes if x["name"].startswith(PYTHON_NODES)]
    py_s = sum(m.get("time to run Python workers", 0.0) for m in python)
    py_b = sum(v for m in python for k, v in m.items() if k.startswith("data "))
    covered = sum(s["t1"] - s["t0"] for s in timed)
    mb = 1e-6
    table = {
        "session.start_s": setup["session.start_s"],
        "registry.import_s": setup["registry.import_s"],
        "operators.build_s": per_pass(dur("operators.build")),
        "operators.build_jobs": per_pass(build_jobs),
        "operators.build_jobs_per_op": build_jobs / max(1, len(build_spans)),
        "spark.exec_s": per_pass(exec_s),
        "spark.exec_jobs": per_pass(exec_jobs),
        "spark.stages": per_pass(len(stage_rows)),
        "spark.tasks": per_pass(sum(s["tasks"] for s in stage_rows)),
        "spark.core_idle_frac": 1.0 - run_s / (exec_s * cores) if exec_s > 0 else 0.0,
        "spark.task_cpu_s": per_pass(sum(s["cpu_s"] for s in stage_rows)),
        "spark.gc_s": per_pass(sum(s["gc_s"] for s in stage_rows)),
        "spark.shuffle_write_mb": per_pass(sum(s["shuffle_write_b"] for s in stage_rows) * mb),
        "spark.shuffle_read_mb": per_pass(sum(s["shuffle_read_b"] for s in stage_rows) * mb),
        "spark.spill_mb": per_pass(sum(s["spill_b"] for s in stage_rows) * mb),
        "tables.scan_s": per_pass(node_sum(lambda nm: nm.startswith("Scan parquet"), "scan time")),
        "tables.scan_mb": per_pass(node_sum(lambda nm: nm.startswith("Scan parquet"), "size of files read") * mb),
        "tables.scan_rows": per_pass(node_sum(lambda nm: nm.startswith("Scan parquet"), "number of output rows")),
        "tables.read_back_s": per_pass(dur("tables.read_back")),
        "functions.python_s": per_pass(py_s),
        "functions.python_mb": per_pass(py_b * mb),
        "sources.csv_scan_s": per_pass(cluster_duration("Scan csv")),
        "sources.csv_mb": per_pass(node_sum(lambda nm: nm.startswith("Scan csv"), "size of files read") * mb),
        "sources.fixed_width_s": per_pass(cluster_duration("Scan text")),
        "sources.sink_write_s": per_pass(dur("sources.sink_write")),
        "sources.jdbc_write_s": per_pass(dur("sources.jdbc_write")),
        "streaming.batches": per_pass(batches),
        "streaming.batch_s": per_pass(batch_s),
        "streaming.state_rows": per_pass(state_rows),
        "trace.coverage_frac": covered / sum(walls["traced"]) if walls["traced"] else 0.0,
        "trace.overhead_frac": (
            statistics.median(walls["traced"]) / statistics.median(walls["untraced"]) - 1.0
            if walls["traced"] and walls["untraced"] else 0.0
        ),
    }
    return table

