"""The engine-identical rounding policy (functions/rounding.py): no
other package module spells ``F.floor(e + 0.5)`` itself, and each
helper matches DuckDB's ``floor(x*10^k + 0.5)`` bit for bit on doubles
that sit on or next to a tie."""

from __future__ import annotations

import ast
import pathlib
import struct

import pytest

from tests.conftest import REPO

PACKAGE = pathlib.Path(REPO) / "census_postgres_py_spark"
ROUNDING = PACKAGE / "functions" / "rounding.py"

TIES = [1.005, 2.675, -0.125, 0.125, 1e-7]
# every decimal-place count the package renders at
PLACES = [0, 2, 3, 4, 6, 9]


def _is_half(node: ast.expr) -> bool:
    if isinstance(node, ast.Constant):
        return node.value == 0.5
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "lit"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == 0.5
    )


def _inline_half_up(tree: ast.AST):
    """Line of every ``F.floor(<e> + 0.5)`` or ``F.floor(<e> + F.lit(0.5))``
    call in ``tree``."""
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "floor"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and len(node.args) == 1
        ):
            continue
        arg = node.args[0]
        if isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Add):
            if _is_half(arg.right) or _is_half(arg.left):
                yield node.lineno


def test_only_rounding_module_spells_half_up():
    sites = [
        f"{path.relative_to(REPO)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != ROUNDING
        for line in _inline_half_up(ast.parse(path.read_text()))
    ]
    assert not sites, (
        f"{len(sites)} inline floor(e + 0.5) renders; call "
        f"functions.rounding.half_up / round_dp instead:\n" + "\n".join(sites)
    )


def _bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


@pytest.mark.parametrize("k", PLACES)
def test_helpers_match_duckdb_at_ties(spark, k):
    import duckdb
    from pyspark.sql import functions as F

    from census_postgres_py_spark.functions.rounding import half_up, round_dp

    rows = list(enumerate(TIES))
    x = F.col("x")
    got = {
        r["i"]: (r["units"], r["dp"])
        for r in spark.createDataFrame(rows, "i int, x double")
        .select(
            "i",
            half_up(x * 10**k).alias("units"),
            round_dp(x, k).alias("dp"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE v (i INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO v VALUES (?, ?)", rows)
    want = {
        i: (units, dp)
        for i, units, dp in con.execute(
            f"SELECT i, CAST(floor(x * {10**k} + 0.5) AS BIGINT),"
            f" floor(x * {10**k} + 0.5) / {10**k} FROM v"
        ).fetchall()
    }
    bad = [
        (tie, got[i], want[i])
        for i, tie in rows
        if got[i][0] != want[i][0] or _bits(got[i][1]) != _bits(want[i][1])
    ]
    assert not bad, f"k={k}: (x, spark, duckdb) {bad}"
