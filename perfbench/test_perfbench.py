"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q            # everything (~1 min)
    python3 -m pytest perfbench -q -m "not slow"

The slow tests start Spark: a seconds-long traced run of two cheap ids
and one stateful stream over the sf0.1-shaped corpus (``gen_stress``'s generators take whole
multipliers, so sf0.1 is the smallest full corpus) and an untraced run
over a tiny ACS corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

TINY_ACS = {"states": 2, "seqs": 2, "geos": 30, "cells": 4}


def _tree_digest(path: str) -> str:
    """Digest of every file's relative path and bytes, manifest aside
    (it records the generation time)."""
    h = hashlib.sha256()
    for r, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            if f == "manifest.json":
                continue
            full = os.path.join(r, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _content(manifest: dict) -> dict:
    return {k: v for k, v in manifest.items() if k != "gen_s"}


def test_acs_corpus_is_a_function_of_the_seed(tmp_path):
    a, ma = corpus.acs(str(tmp_path / "a"), 7, **TINY_ACS)
    b, mb = corpus.acs(str(tmp_path / "b"), 7, **TINY_ACS)
    c, _ = corpus.acs(str(tmp_path / "c"), 8, **TINY_ACS)
    assert _tree_digest(a) == _tree_digest(b) != _tree_digest(c)
    assert _content(ma) == _content(mb)


def test_fixture_corpus_is_a_function_of_the_seed(tmp_path):
    a, ma = corpus.fixture(str(tmp_path / "a"), 3, ROOT)
    b, mb = corpus.fixture(str(tmp_path / "b"), 3, ROOT)
    c, _ = corpus.fixture(str(tmp_path / "c"), 4, ROOT)
    assert _tree_digest(a) == _tree_digest(b) != _tree_digest(c)
    assert sorted(ma["rows"]) == sorted(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )
    assert ma["rows"]["orders"] == 150_000 and _content(ma) == _content(mb)


def test_cache_entry_is_reused(tmp_path):
    a, ma = corpus.acs(str(tmp_path), 1, **TINY_ACS)
    stamp = os.stat(os.path.join(a, "manifest.json")).st_mtime_ns
    b, mb = corpus.acs(str(tmp_path), 1, **TINY_ACS)
    assert a == b and ma == mb
    assert os.stat(os.path.join(b, "manifest.json")).st_mtime_ns == stamp


def test_acs_manifest_matches_the_files(tmp_path):
    """Sums and jam counts recomputed from the CSV text itself."""
    out, man = corpus.acs(str(tmp_path), 5, **TINY_ACS)
    for q in range(1, TINY_ACS["seqs"] + 1):
        e_sum = m_sum = nulls = rows = 0
        for kind in ("e", "m"):
            d = os.path.join(out, f"seq{q:04d}", kind)
            for name in os.listdir(d):
                with open(os.path.join(d, name)) as fh:
                    for line in fh:
                        cells = line.rstrip("\n").split(",")[6:]
                        assert len(cells) == TINY_ACS["cells"]
                        if kind == "e":
                            rows += 1
                            e_sum += sum(int(c) for c in cells)
                        else:
                            nulls += cells.count(".")
                            m_sum += sum(int(c) for c in cells if c != ".")
        want = man["sequences"][str(q)]
        assert (rows, e_sum, m_sum, nulls) == (
            want["rows"], want["e_cell_sum"], want["m_cell_sum"], want["m_nulls"]
        )
    geo = os.path.join(out, "geo", "g20145al.txt")
    with open(geo) as fh:
        first = fh.readline().rstrip("\n")
    assert len(first) == sum(f[2] for f in corpus.ACS_GEO_LAYOUT)
    assert first[:2] == "AL" and int(first[5:12]) == 1


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_ops_ids_are_headline_ids():
    sys.path.insert(0, ROOT)
    import bench

    ids = workloads.WORKLOADS["ops_sf01"]["ids"]
    assert set(ids) <= set(bench.HEADLINE)
    assert all(reason for reason in ids.values())


def test_pooled_percentile_sample_rule():
    assert workloads.samples_needed(0.9) == 100
    assert workloads.samples_needed(0.5) == 20
    assert workloads.samples_needed(0.99) == 1000
    full = workloads.tail([float(i) for i in range(100)], 0.9)
    assert full["meets_rule"] and full["beyond"] == 10 and full["n"] == 100
    short = workloads.tail([float(i) for i in range(99)], 0.9)
    assert not short["meets_rule"]
    assert workloads.percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert workloads.percentile([3.0], 0.9) == 3.0


def test_stolen_time_is_taken_out():
    assert workloads.unstolen(4.0, 400, 0) == 4.0
    assert workloads.unstolen(4.0, 400, 100) == pytest.approx(3.0)
    assert workloads.unstolen(4.0, 0, 0) == 4.0
    # past the floor the host, not the code, was measured
    assert workloads.unstolen(4.0, 100, 90) == 4.0 * workloads.MIN_UNSTOLEN


def test_op_p50_is_a_geometric_mean_of_per_op_medians():
    ops = [{"id": i, "s": s, "busy": 10, "steal": 0}
           for i, ss in (("a", (1.0, 1.0, 9.0)), ("b", (4.0, 4.0, 0.1))) for s in ss]
    assert workloads.op_p50(ops) == pytest.approx(2.0)


@pytest.mark.parametrize(
    "text,value",
    [
        ("60,000", 60000.0),
        ("17.5 MiB", 17.5 * 2**20),
        ("451 ms", 0.451),
        ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 3.0: task 12))", 1.5),
        ("670.0 B", 670.0),
    ],
)
def test_parse_formatted_sql_metrics(text, value):
    assert tracing.parse_metric(text) == pytest.approx(value)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ops_sf01", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _run(monkeypatch, capsys, name: str, spec: dict, trace: int) -> dict:
    monkeypatch.setitem(workloads.WORKLOADS, name, spec)
    monkeypatch.chdir(ROOT)
    assert run.main(["--workload", name, "--seed", "1", "--seconds", "1",
                     "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.slow
def test_smoke_traced_ops_run(monkeypatch, capsys):
    spec = {"kind": "ops", "ids": ["text_token_count", "emb_dim_stats", "stream_windowed_topk"]}
    out = _run(monkeypatch, capsys, "ops_sf01", spec, 1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    metrics = out["metrics"]
    assert list(metrics) == list(workloads.PER_LAYER)
    assert metrics["operators.build_jobs_per_op"]["unit"] == "ratio"
    assert metrics["spark.exec_jobs"]["value"] > 0
    # the traced pass runs its own stream, over a fresh source
    assert metrics["streaming.batches"]["value"] > 0
    assert metrics["streaming.state_rows"]["value"] > 0


@pytest.mark.slow
def test_smoke_untraced_acs_run(monkeypatch, capsys):
    spec = {"kind": "acs", "acs": {"states": 2, "seqs": 1, "geos": 40, "cells": 3},
            "rescan_states": 1, "jdbc_cells": 2}
    out = _run(monkeypatch, capsys, "acs_load", spec, 0)
    assert out["correct"] and out["failed"] == 0
    assert list(out["metrics"]) == list(workloads.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())
