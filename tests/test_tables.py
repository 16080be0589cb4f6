"""Unit behavior of the tables helpers the broadcast gates depend on:
gated_broadcast (the row cap, hint vs pass-through, preference
tuples) and the vocabulary factor. The footer row count they read is
pinned in tests/test_stats.py, the plan-level consequences in
tests/test_plans.py."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_gated_broadcast_prices_vocab_expansion(spark, monkeypatch):
    """ADVICE r7 (tables.py:107): term-level vocabulary frames must be
    gated on docs × VOCAB_ROWS_PER_DOC, not the raw document count — a
    corpus under the 8M-doc cap can still carry a vocabulary far past
    the broadcast ceiling."""
    from census_postgres_py_spark import stats, tables
    from census_postgres_py_spark.tables import (
        VOCAB_ROWS_PER_DOC,
        gated_broadcast,
        t,
    )

    n_docs = stats.rows(SF_SMOKE, "documents")
    df = t(spark, SF_SMOKE, "documents").select("doc_id")
    # cap between n_docs and n_docs × factor: key-level hint survives,
    # vocab-priced hint is dropped
    cap = n_docs * VOCAB_ROWS_PER_DOC // 2
    assert n_docs < cap < n_docs * VOCAB_ROWS_PER_DOC
    monkeypatch.setattr(tables, "_BROADCAST_DIM_MAX_ROWS", cap)
    keyed = gated_broadcast(spark, SF_SMOKE, "documents", df)
    assert "hint" in keyed._jdf.queryExecution().logical().toString().lower()
    vocab = gated_broadcast(
        spark,
        SF_SMOKE,
        "documents",
        df,
        rows_per_source_row=VOCAB_ROWS_PER_DOC,
    )
    assert vocab is df


def test_vocab_rows_per_doc_derives_from_corpus_stats(tmp_path):
    """ADVICE r8 (tables.py): VOCAB_ROWS_PER_DOC=64 is a planning
    assumption, not an upper bound — a corpus of LONG documents (>64
    distinct terms each) kept the hint past the ceiling. The factor is
    now derived from fixture stats (head-sample max distinct terms,
    2× margin) with the static constant as the floor."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from census_postgres_py_spark.tables import (
        VOCAB_ROWS_PER_DOC,
        vocab_rows_per_doc,
    )

    # fixture corpus: short docs => derived factor == the static floor
    assert vocab_rows_per_doc(SF_SMOKE) >= VOCAB_ROWS_PER_DOC

    # long-doc corpus: 300 distinct terms/doc => factor ≥ 600, so the
    # vocab gate closes ~10× earlier than the constant would let it
    long_dir = tmp_path / "sf_long"
    long_dir.mkdir()
    text = " ".join(f"tok{i}" for i in range(300))
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": [text, "short doc"]}),
        str(long_dir / "documents.parquet"),
    )
    derived = vocab_rows_per_doc(str(long_dir))
    assert derived >= 600

    # missing table => graceful fallback to the floor
    empty_dir = tmp_path / "sf_empty"
    empty_dir.mkdir()
    assert vocab_rows_per_doc(str(empty_dir)) == VOCAB_ROWS_PER_DOC


def test_gated_broadcast_hints_only_under_the_cap(spark, monkeypatch):
    from census_postgres_py_spark import tables
    from census_postgres_py_spark.tables import gated_broadcast, t

    df = t(spark, SF_SMOKE, "part").select("p_partkey")
    hinted = gated_broadcast(spark, SF_SMOKE, "part", df)
    # hint surfaces as a ResolvedHint/UnresolvedHint node in the plan
    assert "hint" in hinted._jdf.queryExecution().logical().toString().lower()
    monkeypatch.setattr(tables, "_BROADCAST_DIM_MAX_ROWS", 0)
    plain = gated_broadcast(spark, SF_SMOKE, "part", df)
    plan = plain._jdf.queryExecution().logical().toString().lower()
    assert "hint" not in plan
    assert plain is df


def test_gated_broadcast_preference_tuple_falls_back_on_missing_table(
    spark, tmp_path, monkeypatch
):
    """r8 ADVICE: a preference tuple keys the gate on the first
    candidate whose parquet exists — the tight part-sized bound on
    full corpora, the derivation source on table-subset corpora."""
    import shutil

    from census_postgres_py_spark import stats, tables
    from census_postgres_py_spark.tables import gated_broadcast, t

    df = t(spark, SF_SMOKE, "part").select("p_partkey")
    n_part = stats.rows(SF_SMOKE, "part")
    n_li = stats.rows(SF_SMOKE, "lineitem")
    assert n_part < n_li
    # cap between |part| and |lineitem|: the part-keyed gate hints,
    # a lineitem-keyed gate would not — proving part was chosen
    monkeypatch.setattr(
        tables, "_BROADCAST_DIM_MAX_ROWS", (n_part + n_li) // 2
    )
    hinted = gated_broadcast(spark, SF_SMOKE, ("part", "lineitem"), df)
    assert "hint" in hinted._jdf.queryExecution().logical().toString().lower()
    # subset corpus without part.parquet: falls back to lineitem,
    # which is over the cap => no hint, and crucially NO crash
    sub = tmp_path / "sf_subset"
    sub.mkdir()
    shutil.copy(f"{SF_SMOKE}/lineitem.parquet", str(sub / "lineitem.parquet"))
    plain = gated_broadcast(spark, str(sub), ("part", "lineitem"), df)
    assert plain is df


def test_gated_broadcast_keys_on_a_table_the_op_reads():
    """Static invariant (found the hard way in r8): every
    gated_broadcast(spark, sf_dir, <key>, ...) call must sit in a
    function that also READS the key's GUARANTEED table via
    t(spark, sf_dir, "<tbl>"). Keying the gate on a table the op never
    reads crashes on table-subset corpora (e.g. the edges-only stress
    corpus carries only orders+lineitem): the footer row count of the
    missing file raises. Two key shapes are legal:

    - a string: that table must be read by the op;
    - a preference tuple (r8 ADVICE): earlier entries are existence-
      guarded inside gated_broadcast, so only the LAST (the fallback)
      must be read by the op.

    Parsed with ast (r8 ADVICE: the old regex split false-positived on
    formatter-wrapped calls) — FunctionDef nodes are walked for t() /
    gated_broadcast() Call args."""
    import ast
    import glob
    import os

    def const_str(node):
        return node.value if (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
        ) else None

    root = os.path.dirname(os.path.dirname(__file__))
    bad = []
    for path in glob.glob(
        os.path.join(root, "census_postgres_py_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            reads, gates = set(), []
            for call in ast.walk(fn):
                if not isinstance(call, ast.Call):
                    continue
                callee = call.func
                name = (
                    callee.id if isinstance(callee, ast.Name)
                    else callee.attr if isinstance(callee, ast.Attribute)
                    else None
                )
                if name == "t" and len(call.args) >= 3:
                    tbl = const_str(call.args[2])
                    if tbl:
                        reads.add(tbl)
                elif name == "gated_broadcast" and len(call.args) >= 3:
                    key = call.args[2]
                    if isinstance(key, ast.Tuple):
                        elems = [const_str(e) for e in key.elts]
                        if elems and all(elems):
                            # existence-guarded preference tuple: only
                            # the final fallback must be readable
                            gates.append(("tuple", elems[-1]))
                    else:
                        tbl = const_str(key)
                        if tbl:
                            gates.append(("str", tbl))
            for kind, tbl in gates:
                if tbl not in reads:
                    bad.append(
                        f"{os.path.basename(path)}::{fn.name} gates on "
                        f"{kind} key '{tbl}', reads {sorted(reads)}"
                    )
    assert not bad, bad
