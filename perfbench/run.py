"""The repository's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload ops_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed (cached under ``perfbench/.work/cache``), starts one fresh
worker process with its own ``TMPDIR`` and ``SPARK_LOCAL_DIRS``, checks
every output, prints each metric by name and unit, and ends with one
JSON line::

    {"correct": true, "attempted": 62, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans and the layer table are also
written to ``perfbench/.work/results``). Workloads and metrics are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import workloads  # noqa: E402

#: a run must end within this many seconds, generation included
RUN_LIMIT_S = 170
#: what the benchmark needs from the checkout it measures
REQUIRED = ("census_postgres_py_spark", "__spark_entry__.py", "bench.py", "tools/gen_stress.py")


def host_conf() -> dict:
    """Cores and driver memory for this host: local[nproc] and an eighth
    of physical memory, between 2 and 8 GB (the package's own default of
    48 GB would exceed most hosts). The inputs are small; a larger heap
    only lets the JVM's resident size wander with its heap sizing."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_gb = max(2, min(8, kb // (8 * 2**20)))
    return {"cores": cores, "driver_mem": f"{mem_gb}g"}


def prepare(spec: dict, seed: int, root: str, cache: str) -> tuple[str, dict, float]:
    """Generate (or reuse) the workload's inputs; return their directory,
    manifest and the generation time this run spent (0 on a cache hit)."""
    t0 = time.perf_counter()
    if spec["kind"] == "ops":
        data, manifest = corpus.fixture(cache, seed, root)
    else:
        data, manifest = corpus.acs(cache, seed, **spec["acs"])
    return data, manifest, time.perf_counter() - t0


def run_worker(args, spec: dict, root: str, data: str, work: str, deadline: float) -> dict:
    """Start the worker in a fresh process group with isolated temp
    dirs, wait for it, then stop anything it left behind."""
    conf = host_conf()
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(run_dir, "result.json")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(conf["cores"]),
        SPARK_DRIVER_MEM=conf["driver_mem"],
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", sys.executable),
        # the heap starts at its full size, so the driver's resident size
        # does not step with the JVM's heap-resizing decisions
        PYSPARK_SUBMIT_ARGS=f"--conf 'spark.driver.extraJavaOptions=-Xms{conf['driver_mem']}' "
                            "pyspark-shell",
    )
    env.pop("SPARK_MASTER", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--spec", json.dumps(spec), "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", root, "--data", data, "--out", out,
    ]
    t0 = time.monotonic()
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc)
    wall = time.monotonic() - t0
    try:
        if code != 0:
            with open(os.path.join(run_dir, "worker.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise RuntimeError(f"worker exited with {code}")
        with open(out) as fh:
            res = json.load(fh)
        res["host"] = conf
        res["process_s"] = wall
        res["env"] = {"TMPDIR": tmp, "SPARK_LOCAL_DIRS": local, "PYTHONPATH": env["PYTHONPATH"]}
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _kill_group(proc: subprocess.Popen) -> None:
    """SIGKILL whatever is left in the worker's process group (the JVM,
    Python UDF workers) and reap the worker."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def end_to_end(res: dict) -> tuple[dict, dict]:
    """The end-to-end metrics of an untraced run, and the pooled op
    latency tail with its sample count (printed, not in the JSON).
    Every time excludes what the hypervisor stole (``workloads.unstolen``)."""
    unstolen = workloads.unstolen
    passes = [p for p in res["passes"] if not p["traced"]]
    ops = [o for o in res["ops"] if not o["traced"] and o["ok"]]
    # time each pass spent in the steps that read the input
    read_s = [
        sum(unstolen(o["s"], o["busy"], o["steal"]) for o in ops
            if o["pass"] == p["pass"] and o["kind"] == res["input_kind"])
        for p in passes
    ]
    setup = res["setup"]
    return {
        "setup_s": unstolen(setup["setup_s"], setup["busy"], setup["steal"]),
        "wall_s": statistics.median(unstolen(p["wall"], p["busy"], p["steal"]) for p in passes),
        "op_p50_s": workloads.op_p50(ops),
        "input_mb_per_s": res["pass_input_b"] / 1e6 / statistics.median(read_s),
        "write_amp": res["write_b"] / (res["pass_input_b"] * len(res["passes"])),
        "peak_rss_mb": res["rss_mb"],
    }, workloads.tail([o["s"] for o in ops], 0.9)


def report(res: dict, gen_s: float, manifest: dict, trace: bool) -> dict:
    """Print the human-readable lines; return the metrics for the JSON."""
    print(f"workload {res['workload']}  seed {res['seed']}  "
          f"passes {len(res['passes'])}  gen_s {gen_s:.3f} "
          f"(entry built in {manifest['gen_s']:.3f} s)")
    print("conf " + json.dumps({**res["conf"], **res["host"], **res["env"]}, sort_keys=True))
    bad = {k: v for k, v in res["checks"].items() if not v["ok"]}
    print(f"checks {len(res['checks']) - len(bad)}/{len(res['checks'])} ok"
          + (f"  FAILED {json.dumps(bad)[:2000]}" if bad else ""))
    frac = res["failed"] / max(1, res["attempted"])
    print(f"failed_frac {frac:.4f} ratio  ({res['failed']} of {res['attempted']} ops)")
    if trace:
        layers = res["layers"]
        for name, unit in workloads.PER_LAYER.items():
            print(f"  {name:<30} {layers[name]:>14.4f} {unit}")
        return {k: {"value": layers[k], "unit": u} for k, u in workloads.PER_LAYER.items()}
    e2e, p90 = end_to_end(res)
    for name, unit in workloads.END_TO_END.items():
        print(f"{name:<16} {e2e[name]:>12.4f} {unit}")
    print(f"op_p90_s {p90['value']:.4f} s  ({p90['n']} samples, {p90['beyond']} beyond it; "
          f"the >= {workloads.TAIL_BEYOND}-beyond rule is "
          f"{'met' if p90['meets_rule'] else 'not met'})")
    passes = [p for p in res["passes"] if not p["traced"]]
    busy = sum(p["busy"] for p in passes)
    print(f"raw wall_s {statistics.median(p['wall'] for p in passes):.4f} s, raw setup_s "
          f"{res['setup']['setup_s']:.4f} s; stolen/busy CPU ticks "
          f"{sum(p['steal'] for p in passes) / max(1, busy):.3f} over the timed passes, "
          f"{res['setup']['steal'] / max(1, res['setup']['busy']):.3f} over set-up")
    print("phases " + json.dumps({k: round(v, 2) for k, v in res["phases_s"].items()}))
    resc = [sum(o["s"] for o in res["ops"] if o["pass"] == p["pass"] and o.get("kind") == "rescan")
            for p in res["passes"] if not p["traced"]]
    if any(resc):
        print(f"rescan_s {statistics.median(resc):.4f} s")
    return {k: {"value": v, "unit": workloads.END_TO_END[k]} for k, v in e2e.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through run_worker so the worker's process group
    # is killed and reaped, as on every other way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    deadline = time.monotonic() + RUN_LIMIT_S
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {missing}",
              file=sys.stderr)
        return 2
    spec = workloads.WORKLOADS[args.workload]
    sys.path.insert(0, root)
    import bench

    stray = [q for q in spec.get("ids", ()) if q not in bench.HEADLINE]
    if stray:
        print(f"perfbench: {stray} are not in bench.HEADLINE", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    data, manifest, gen_s = prepare(spec, args.seed, root, os.path.join(work, "cache"))
    res = run_worker(args, spec, root, data, work, deadline)
    metrics = report(res, gen_s, manifest, bool(args.trace))
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"metrics": metrics, "gen_s": gen_s, **res}, fh, indent=1)
    correct = all(v["ok"] for v in res["checks"].values()) and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
