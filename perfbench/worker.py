"""One benchmark run, in a fresh process: set up, run one workload's
check pass and timed passes, and write every reading to a JSON file.

``run.py`` starts this with an isolated ``TMPDIR``/``SPARK_LOCAL_DIRS``
and ``PYTHONPATH`` pointing at the checkout; it is not meant to be run
by hand. Only public entry points of the package are called:
``session.get_spark``, ``__spark_entry__.queries()``/``oracle_sql()``,
``sources.*`` and ``tables.read_back``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()
with open("/proc/stat") as _stat:
    #: the CPU line of /proc/stat when the process started
    T_START_STAT = _stat.readline()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
from tracing import Tracer, layer_table  # noqa: E402
from workloads import PASS_S  # noqa: E402

#: session confs printed with the results
CONF_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.driver.extraJavaOptions",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.session.timeZone",
    "spark.ui.enabled",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--spec", required=True, help="the workload's definition, as JSON")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = json.loads(args.spec)
    sys.path.insert(0, args.root)

    t0 = time.perf_counter()
    from census_postgres_py_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    registry_s = time.perf_counter() - t0
    warm_up(spark)
    setup_s = time.perf_counter() - T_START
    busy0, steal0 = cpu_ticks(T_START_STAT)
    busy1, steal1 = cpu_ticks()

    cores = spark.sparkContext.defaultParallelism
    tracer = Tracer(spark, bool(args.trace))
    res = {
        "workload": args.workload,
        "seed": args.seed,
        "setup": {"setup_s": setup_s, "busy": busy1 - busy0, "steal": steal1 - steal0,
                  "session.start_s": session_s,
                  "registry.import_s": registry_s},
        "conf": {k: spark.conf.get(k, None) for k in CONF_KEYS},
    }
    with open(os.path.join(args.data, "manifest.json")) as fh:
        manifest = json.load(fh)
    # a fixed amount of work per run: the JVM keeps warming up pass after
    # pass, so a time-boxed loop would let a faster commit run more,
    # warmer passes and flatter its own median
    n_passes = max(1, round(args.seconds / PASS_S))
    t_work = time.perf_counter()
    if spec["kind"] == "ops":
        # a fixed order: every run does the same work, only its inputs
        # come from the seed
        order = list(spec["ids"])
        res.update(run_ops(spark, qs, oracles, args.data, order, n_passes, tracer))
    else:
        res.update(run_acs(spark, spec, args.data, manifest, n_passes, tracer))
    if tracer.on:
        tracer.collect()
        layers = layer_table(tracer, res["passes"], cores, res["setup"])
        tracer.streams.close()
        layers.update(res.pop("layer_extra", {"sources.sink_files": 0.0, "sources.sink_mb": 0.0,
                                              "sources.jdbc_rows": 0.0}))
        res["layers"] = layers
        res["spans"] = [{k: v for k, v in sp.items() if k != "group"} for sp in tracer.spans]
    PHASES["workload"] = time.perf_counter() - t_work
    res["phases_s"] = PHASES
    res["rss_mb"] = peak_rss_mb()
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    spark.stop()
    # end the driver JVM and reap it here, so no process outlives the run
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    return 0


def warm_up(spark) -> None:
    """The same small job for every workload: JIT, codegen and the
    shuffle path are exercised once before anything is timed."""
    from pyspark.sql import functions as F

    (
        spark.range(0, 200_000)
        .select((F.col("id") % 101).alias("k"), (F.col("id") * 2).alias("v"))
        .groupBy("k")
        .agg(F.sum("v"))
        .collect()
    )


def executor_totals(spark) -> dict:
    """Cumulative input and shuffle-write bytes of the executors, read
    from the driver's status store (one call; no tracing needed)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    tot = {"input": 0, "shuffle_write": 0}
    for i in range(execs.size()):
        e = execs.apply(i)
        tot["input"] += e.totalInputBytes()
        tot["shuffle_write"] += e.totalShuffleWrite()
    return tot


def cpu_ticks(line: str | None = None) -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot, from the CPU
    line of /proc/stat (read now unless given). Stolen ticks are those
    a vCPU was ready to run but the hypervisor ran something else."""
    if line is None:
        with open("/proc/stat") as fh:
            line = fh.readline()
    user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in line.split()[1:9])
    return user + nice + system + irq + softirq, steal


def peak_rss_mb() -> float:
    """VmHWM of this process plus its Java child (the driver JVM)."""
    me = os.getpid()
    total = _hwm_kb(me)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        if ppid == me and comm == "java":
            total += _hwm_kb(int(pid))
    return total / 1024.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# ---------------------------------------------------------------- checks


def canonical_digest(pdf) -> tuple[int, str]:
    """(rows, digest) of a result, insensitive to row and column order.
    Types are normalized as the oracle sweep normalizes them."""
    import numpy as np
    import pandas as pd

    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        else:
            df[c] = s.astype(str)
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    h = hashlib.sha256("|".join(df.columns).encode())
    h.update(np.sort(rows).tobytes())
    return len(df), h.hexdigest()


def input_bytes(df) -> int:
    """On-disk size of the files the DataFrame's plan scans."""
    total = 0
    for uri in df.inputFiles():
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            total += os.path.getsize(path)
        except OSError:
            pass
    return total


def oracle_connection(data: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in os.listdir(data):
        if name.endswith(".parquet"):
            con.sql(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, name)}')"
            )
    return con


def check_op(spark, qs, oracles, con, data: str, qid: str) -> dict:
    """Run ``qid`` once, collecting its rows, and compare them with the
    DuckDB oracle on the same files (ids without an oracle must return
    rows)."""
    try:
        df = qs[qid](spark, data)
        rows, got = canonical_digest(df.toPandas())
        size = {"input_b": input_bytes(df)}
        if qid not in oracles:
            return {"ok": rows > 0, "rows": rows, "how": "rows-only", **size}
        want_rows, want = canonical_digest(con.sql(oracles[qid]).df())
        return {"ok": got == want, "rows": rows, "want_rows": want_rows, "how": "oracle", **size}
    except Exception:  # noqa: BLE001 - a failing op is a result, not a crash
        return {"ok": False, "error": traceback.format_exc(limit=4)}


# ------------------------------------------------------------- workloads


#: untimed passes between the check pass and the timed ones: pass times
#: fall 25-35 % over the first passes while the JVM compiles, then level
#: off, and a median taken on the slope spread about twice as wide
#: between runs as one taken after three warm passes
WARM_PASSES = 3
#: seconds spent in each part of the run, printed with the results
PHASES: dict[str, float] = {}


def timed_passes(spark, n_passes: int, tracer: Tracer, one_pass) -> tuple[list[dict], dict]:
    """Run WARM_PASSES untimed passes, ``one_pass(None, False)``, then
    ``one_pass(pass_no, traced)`` ``n_passes`` times. With tracing on,
    timed passes alternate untraced and traced, at least one of each, so
    the traced run also measures its own overhead. Returns the timed
    passes and the executors' input and shuffle-write bytes over them."""
    t0 = time.perf_counter()
    for _ in range(WARM_PASSES):
        one_pass(None, False)
    PHASES["warm"] = time.perf_counter() - t0
    passes = []
    before = executor_totals(spark)
    for p in range(max(n_passes, 2) if tracer.on else n_passes):
        traced = tracer.on and p % 2 == 1
        tracer.active = traced
        at = time.time()
        busy, steal = cpu_ticks()
        t0 = time.perf_counter()
        one_pass(p, traced)
        wall = time.perf_counter() - t0
        busy1, steal1 = cpu_ticks()
        # "at": the pass's epoch interval, which streaming progress
        # events (stamped with their trigger time) are matched against
        passes.append({"pass": p, "wall": wall, "traced": traced, "at": [at, at + wall],
                       "busy": busy1 - busy, "steal": steal1 - steal})
        tracer.active = False
        if traced:
            tracer.collect()
    after = executor_totals(spark)
    return passes, {k: after[k] - before[k] for k in after}


def fresh_tempdir() -> None:
    """Point ``tempfile`` at a new directory under the run's TMPDIR. The
    package keeps stream sources, checkpoints and feeds under
    ``tempfile.gettempdir()``; a pass that found the previous pass's
    there would run its streams over nothing new."""
    tempfile.tempdir = tempfile.mkdtemp(dir=os.environ["TMPDIR"])


def run_ops(spark, qs, oracles, data, order, n_passes, tracer) -> dict:
    con = oracle_connection(data)
    checks = {}
    tracer.active = tracer.on
    fresh_tempdir()
    for qid in order:
        t0 = time.perf_counter()
        with tracer.span("check", qid):
            checks[qid] = check_op(spark, qs, oracles, con, data, qid)
        checks[qid]["s"] = time.perf_counter() - t0
    pass_input_b = sum(checks[qid].pop("input_b", 0) for qid in order)
    tracer.active = False
    con.close()
    ops = []

    def one_pass(p: int | None, traced: bool) -> None:
        fresh_tempdir()
        for qid in order:
            busy, steal = cpu_ticks()
            t0 = time.perf_counter()
            try:
                with tracer.span("operators.build", qid, p):
                    df = qs[qid](spark, data)
                t1 = time.perf_counter()
                with tracer.span("spark.exec", qid, p):
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
                ok = checks[qid]["ok"]
            except Exception:  # noqa: BLE001 - counted as failed, the pass goes on
                print(f"{qid} failed:\n{traceback.format_exc(limit=4)}", file=sys.stderr)
                t1 = t2 = time.perf_counter()
                ok = False
            busy1, steal1 = cpu_ticks()
            if p is not None:
                ops.append({"id": qid, "kind": "op", "pass": p, "traced": traced, "s": t2 - t0,
                            "build_s": t1 - t0, "exec_s": t2 - t1, "ok": ok,
                            "busy": busy1 - busy, "steal": steal1 - steal})

    passes, io = timed_passes(spark, n_passes, tracer, one_pass)
    untraced = [o for o in ops if not o["traced"]]
    return {
        "checks": checks,
        "passes": passes,
        "ops": ops,
        "attempted": len(untraced),
        "failed": sum(1 for o in untraced if not o["ok"]),
        # the files one pass's plans scan, and the steps that scan them
        "pass_input_b": pass_input_b,
        "input_kind": "op",
        "write_b": io["shuffle_write"],
    }


def run_acs(spark, spec, data, manifest, n_passes, tracer) -> dict:
    """Load the ACS corpus through ``sources.*`` into a partitioned
    parquet sink, re-read stusab slices with ``tables.read_back`` and
    write one slice over JDBC. A first, untimed pass is checked against
    the manifest; the timed passes' outputs are checked after timing."""
    from pyspark.sql import functions as F

    from census_postgres_py_spark.sources.csv_sequence import read_sequence_csv
    from census_postgres_py_spark.sources.fixed_width import FixedWidthField, read_fixed_width
    from census_postgres_py_spark.sources.jdbc import derby_target, write_jdbc
    from census_postgres_py_spark.sources.metadata_schema import sequence_table_schema
    from census_postgres_py_spark.tables import read_back

    acs = spec["acs"]
    layout = [FixedWidthField(*f) for f in corpus.ACS_GEO_LAYOUT]
    seqs = range(1, acs["seqs"] + 1)
    states = manifest["states"][: spec["rescan_states"]]
    sink_root = os.path.join(os.environ["TMPDIR"], "acs_sink")
    target = derby_target("perfbench_acs_slice")
    schemas = {}
    ops = []

    def sink(q: int) -> str:
        return os.path.join(sink_root, f"seq{q:04d}")

    def load(q: int, p) -> None:
        schema = sequence_table_schema(corpus.acs_table_id(q), acs["cells"])
        cells = [f.name for f in schema.fields[6:]]
        keys = ["stusab", "logrecno"]
        # the reads are lazy: this span is the driver-side dataflow build
        with tracer.span("sources.read", str(q), p):
            base = os.path.join(data, f"seq{q:04d}")
            e = read_sequence_csv(spark, os.path.join(base, "e"), schema)
            m = read_sequence_csv(spark, os.path.join(base, "m"), schema)
            geo = read_fixed_width(spark, os.path.join(data, "geo"), layout)
            derived = (
                geo.select("stusab", "logrecno", "geoid", "name")
                .join(e.select(*keys, *cells), keys)
                .join(m.select(*keys, *[F.col(c).alias(f"{c}_m") for c in cells]), keys)
            )
        with tracer.span("sources.sink_write", str(q), p):
            derived.write.mode("overwrite").partitionBy("stusab").parquet(sink(q))
        schemas[q] = (derived.schema, cells)

    def rescan(q: int, st: str, p) -> list:
        schema, cells = schemas[q]
        with tracer.span("tables.read_back", f"{q}/{st}", p):
            return (
                read_back(spark, schema, sink(q))
                .filter(F.col("stusab") == st)
                .agg(F.count(F.lit(1)), F.sum(cells[0]), F.sum(f"{cells[0]}_m"))
                .collect()[0]
            )

    def jdbc(p) -> None:
        schema, cells = schemas[1]
        with tracer.span("sources.jdbc_write", "1", p):
            part = read_back(spark, schema, sink(1)).filter(F.col("stusab") == states[0])
            write_jdbc(part.select("geoid", *cells[: spec["jdbc_cells"]]), target)

    rescans: list[tuple] = []

    def one_pass(p, traced: bool) -> None:
        steps = [("load", q, lambda q=q: load(q, p)) for q in seqs]
        steps += [
            ("rescan", f"{q}/{st}", lambda q=q, st=st: rescans.append((q, st, rescan(q, st, p))))
            for q in seqs
            for st in states
        ]
        steps.append(("jdbc", "1", lambda: jdbc(p)))
        for kind, key, fn in steps:
            busy, steal = cpu_ticks()
            t0 = time.perf_counter()
            ok = True
            try:
                fn()
            except Exception:  # noqa: BLE001 - counted as failed, the pass goes on
                print(f"{kind} {key} failed:\n{traceback.format_exc(limit=4)}", file=sys.stderr)
                ok = False
            t1 = time.perf_counter()
            busy1, steal1 = cpu_ticks()
            if p is not None:
                ops.append({"id": f"{kind}:{key}", "kind": kind, "pass": p, "traced": traced,
                            "s": t1 - t0, "ok": ok, "busy": busy1 - busy, "steal": steal1 - steal})

    # untimed first pass: warms every code path and is checked in full
    one_pass(None, False)
    checks = check_acs(spark, manifest, schemas, sink, rescans, target)
    rescans.clear()
    passes, io = timed_passes(spark, n_passes, tracer, one_pass)
    # outputs of the timed passes: every rescan answer and the final sink
    final = check_acs(spark, manifest, schemas, sink, rescans, target)
    untraced = [o for o in ops if not o["traced"]]
    if not all(v["ok"] for v in [*checks.values(), *final.values()]):
        for o in untraced:
            o["ok"] = False
    sink_files, sink_b = _tree(sink_root)
    res = {
        "checks": {**checks, **{f"final:{k}": v for k, v in final.items()}},
        "passes": passes,
        "ops": ops,
        "attempted": len(untraced),
        "failed": sum(1 for o in untraced if not o["ok"]),
        # every pass reads the whole corpus once, in its load steps
        "pass_input_b": manifest["bytes"],
        "input_kind": "load",
        "write_b": sink_b * len(passes) + io["shuffle_write"],
    }
    if tracer.on:
        res["layer_extra"] = {
            "sources.sink_files": float(sink_files),
            "sources.sink_mb": sink_b / 1e6,
            "sources.jdbc_rows": float(checks["jdbc"]["rows"]),
        }
    return res


def check_acs(spark, manifest, schemas, sink, rescans, target) -> dict:
    """Compare the loaded sinks, the rescan answers and the JDBC table
    with what the generator recorded."""
    from pyspark.sql import functions as F

    from census_postgres_py_spark.sources.jdbc import read_jdbc
    from census_postgres_py_spark.tables import read_back

    out = {}
    g = manifest["rows_per_state"]
    for q, (schema, cells) in sorted(schemas.items()):
        want = manifest["sequences"][str(q)]
        df = read_back(spark, schema, sink(q))
        aggs = [F.count(F.lit(1)).alias("rows")]
        aggs += [F.sum(c).alias(f"e{i}") for i, c in enumerate(cells)]
        aggs += [F.sum(f"{c}_m").alias(f"m{i}") for i, c in enumerate(cells)]
        aggs += [F.count_if(F.col(f"{c}_m").isNull()).alias(f"n{i}") for i, c in enumerate(cells)]
        row = df.agg(*aggs).collect()[0].asDict()
        got = {
            "rows": row["rows"],
            "e_cell_sum": int(sum(row[f"e{i}"] for i in range(len(cells)))),
            "m_cell_sum": int(sum(row[f"m{i}"] for i in range(len(cells)))),
            "m_nulls": int(sum(row[f"n{i}"] for i in range(len(cells)))),
        }
        out[f"seq{q}"] = {"ok": got == want, "got": got, "want": want}
    bad = [(q, st) for q, st, r in rescans if r[0] != g]
    out["rescans"] = {"ok": bool(rescans) and not bad, "n": len(rescans), "bad": bad[:5]}
    rows = read_jdbc(spark, target).count()
    out["jdbc"] = {"ok": rows == g, "rows": rows, "want": g}
    return out


def _tree(path: str) -> tuple[int, int]:
    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


if __name__ == "__main__":
    raise SystemExit(main())
