"""Seeded benchmark inputs, cached on disk per (kind, params, seed).

Two corpora:

* the fixture-shaped star schema plus extension tables that every
  registered query reads (``region nation customer supplier part orders
  lineitem events documents embeddings``). The fact and extension tables
  come from ``tools/gen_stress.py``'s generator functions, called
  unchanged with ``numpy.random.default_rng(seed)``; the four dimension
  tables it lacks are generated here with the schema in FIXTURES.md.
  Every table has its sf0.1 size.
* an ACS summary-file corpus: per state a fixed-width geoheader, and per
  (sequence, state) a headerless estimates (``e``) and margins (``m``)
  CSV with ``.`` jam values on about 5 % of the margin cells.

Every cache entry carries ``manifest.json`` (written last, so a half
written entry is never reused) with the parameters, the generation time
and what a correct load must reproduce: row counts, cell sums per
sequence and NULL counts. The same seed gives identical bytes.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import re
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Bumped whenever a generator below changes what it writes, so stale
#: cache entries are never reused.
GENERATOR_VERSION = 1
#: cache entries kept per kind (an sf0.1 fixture entry is ~17 MB)
CACHE_KEEP = 12

#: Fixed-width geoheader layout, 1-based offsets as in the ACS docs.
#: (name, start, length, spark type)
ACS_GEO_LAYOUT = (
    ("stusab", 1, 2, "string"),
    ("sumlevel", 3, 3, "string"),
    ("logrecno", 6, 7, "int"),
    ("geoid", 13, 16, "string"),
    ("name", 29, 32, "string"),
)
ACS_STATES = (
    "al ak az ar ca co ct de fl ga hi id il in ia ks ky la me md ma mi mn "
    "ms mo mt ne nv nh nj nm ny nc nd oh ok or pa ri sc sd tn tx ut vt va "
    "wa wv wi wy"
).split()
ACS_JAM_FRAC = 0.05


def load_gen_stress(root: str):
    """Import ``tools/gen_stress.py`` from the checkout at ``root``."""
    path = os.path.join(root, "tools", "gen_stress.py")
    spec = importlib.util.spec_from_file_location("gen_stress", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _entry_dir(cache_dir: str, kind: str, params: dict, seed: int) -> str:
    key = json.dumps(
        {"v": GENERATOR_VERSION, "kind": kind, "params": params}, sort_keys=True
    )
    digest = hashlib.sha256(key.encode()).hexdigest()[:12]
    return os.path.join(cache_dir, f"{kind}-{digest}-seed{seed}")


def cached(cache_dir: str, kind: str, params: dict, seed: int, build) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` of a cache entry, generating it with
    ``build(dir, seed, **params) -> manifest`` on a miss. The manifest
    records ``gen_s``, the time the entry took to generate."""
    out = _entry_dir(cache_dir, kind, params, seed)
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            return out, json.load(fh)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    manifest = build(tmp, seed, **params)
    manifest.update(
        kind=kind, params=params, seed=seed, gen_s=time.perf_counter() - t0
    )
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.rename(tmp, out)
    # every seed is a new entry: keep the newest few of each kind
    entries = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
         if d.startswith(f"{kind}-") and not d.endswith(".partial")),
        key=os.path.getmtime,
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return out, manifest


# --------------------------------------------------------------- fixture


def _dimensions(rng: np.random.Generator) -> dict[str, pa.Table]:
    """region/nation/customer/supplier with the FIXTURES.md schema at
    sf0.1 sizes; key spaces match gen_stress's at multiplier 1 (customer
    15k, supplier 1k, both 0-based) so every foreign key resolves."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    n_cust, n_supp = 15_000, 1_000
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(segs, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
    }


def build_fixture(out: str, seed: int, *, root: str) -> dict:
    """Write the ten query tables at the sf0.1 shape (gen_stress's
    multiplier 1)."""
    gs = load_gen_stress(root)
    rng = np.random.default_rng(seed)
    tables = _dimensions(rng)
    tables["documents"] = gs.gen_documents(5000, rng)
    tables["embeddings"] = gs.gen_embeddings(2000, rng)
    tables["part"], tables["orders"], tables["lineitem"] = gs.gen_tpch_shape(1, rng)
    tables["events"] = gs.gen_events(1, rng)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return {
        "rows": {name: tbl.num_rows for name, tbl in tables.items()},
        "bytes": _tree_bytes(out),
    }


def fixture(cache_dir: str, seed: int, root: str) -> tuple[str, dict]:
    return cached(
        cache_dir, "fixture", {}, seed, lambda out, s: build_fixture(out, s, root=root)
    )


# ------------------------------------------------------------------- ACS


def acs_table_id(seq: int) -> str:
    return f"b{seq:05d}"


def _geo_lines(stusab: str, state_no: int, n_geo: int) -> bytes:
    lines = []
    for lr in range(1, n_geo + 1):
        geoid = f"14000US{state_no:02d}{lr:07d}"
        name = f"Tract {lr}, {stusab.upper()}"
        lines.append(
            f"{stusab.upper():<2}{'140':<3}{lr:<7}{geoid:<16}{name:<32}"
        )
    return ("\n".join(lines) + "\n").encode()


_JAM_RE = re.compile(rb"(?<=,)(?=,|\n)")


def _sequence_csv(
    stusab: str, filetype: str, seq: int, cells: np.ndarray, null: np.ndarray | None
) -> bytes:
    """One headerless sequence file; NULL cells become the '.' jam."""
    n, n_cells = cells.shape
    cols = {
        "fileid": pa.array(["ACSSF"] * n),
        "filetype": pa.array([filetype] * n),
        "stusab": pa.array([stusab.upper()] * n),
        "chariter": pa.array(["000"] * n),
        "sequence": pa.array(np.full(n, seq, np.int32)),
        "logrecno": pa.array(np.arange(1, n + 1, dtype=np.int32)),
    }
    for j in range(n_cells):
        mask = None if null is None else null[:, j]
        cols[f"c{j}"] = pa.array(cells[:, j], pa.int64(), mask=mask)
    sink = pa.BufferOutputStream()
    pacsv.write_csv(
        pa.table(cols),
        sink,
        write_options=pacsv.WriteOptions(include_header=False, quoting_style="none"),
    )
    return _JAM_RE.sub(b".", sink.getvalue().to_pybytes())


def build_acs(out: str, seed: int, *, states: int, seqs: int, geos: int, cells: int) -> dict:
    """S states x Q sequences x G logrecnos x C cells. Estimates are
    integers (so every sum is exact in float64); margins are about a
    tenth of the estimate, jammed with probability ACS_JAM_FRAC."""
    rng = np.random.default_rng(seed)
    st = ACS_STATES[:states]
    os.makedirs(os.path.join(out, "geo"))
    for i, s in enumerate(st):
        with open(os.path.join(out, "geo", f"g20145{s}.txt"), "wb") as fh:
            fh.write(_geo_lines(s, i + 1, geos))
    per_seq = {}
    for q in range(1, seqs + 1):
        e_sum = m_sum = m_nulls = 0
        for kind in ("e", "m"):
            os.makedirs(os.path.join(out, f"seq{q:04d}", kind))
        for s in st:
            est = rng.integers(0, 50_000, size=(geos, cells))
            mar = est // 10 + rng.integers(0, 100, size=(geos, cells))
            jam = rng.random((geos, cells)) < ACS_JAM_FRAC
            e_sum += int(est.sum())
            m_sum += int(mar[~jam].sum())
            m_nulls += int(jam.sum())
            for kind, ftype, vals, null in (
                ("e", "2014e5", est, None),
                ("m", "2014m5", mar, jam),
            ):
                path = os.path.join(
                    out, f"seq{q:04d}", kind, f"{kind}20145{s}{q:04d}000.txt"
                )
                with open(path, "wb") as fh:
                    fh.write(_sequence_csv(s, ftype, q, vals, null))
        per_seq[str(q)] = {
            "rows": states * geos,
            "e_cell_sum": e_sum,
            "m_cell_sum": m_sum,
            "m_nulls": m_nulls,
        }
    return {
        "states": [s.upper() for s in st],
        "rows_per_state": geos,
        "sequences": per_seq,
        "bytes": _tree_bytes(out),
    }


def acs(cache_dir: str, seed: int, **params) -> tuple[str, dict]:
    return cached(cache_dir, "acs", params, seed, build_acs)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f != "manifest.json"
    )
