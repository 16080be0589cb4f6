"""Unit tests for the ACS-shaped source helpers — pure logic (schema
generation, fixed-width layouts) plus the JDBC config construction the
jdbc module's docstring promises (no Postgres in the harness, so the
writer is built and its wiring proven, never executed)."""

from __future__ import annotations

import pytest

from census_postgres_py_spark.sources.csv_sequence import (
    read_sequence_csv,
    sequence_csv_line,
    write_sequence_csv,
)
from census_postgres_py_spark.sources.fixed_width import (
    FixedWidthField,
    fixed_width_line,
    format_fixed_width,
    parse_fixed_width_lines,
)
from census_postgres_py_spark.sources.jdbc import JdbcTarget, writer_for
from census_postgres_py_spark.sources.metadata_schema import (
    schema_from_metadata,
    sequence_table_schema,
)


def test_schema_from_metadata_orders_by_ordinal():
    schema = schema_from_metadata(
        [("b", "double", 2), ("a", "int", 1), ("c", "varchar", 3)]
    )
    assert [f.name for f in schema.fields] == ["a", "b", "c"]
    assert [f.dataType.typeName() for f in schema.fields] == [
        "integer", "double", "string",
    ]


def test_schema_from_metadata_rejects_unknown_type():
    with pytest.raises(ValueError, match="unknown metadata type"):
        schema_from_metadata([("x", "blob", 1)])


def test_sequence_table_schema_shape():
    schema = sequence_table_schema("b01001", 3)
    names = [f.name for f in schema.fields]
    assert names[:6] == [
        "fileid", "filetype", "stusab", "chariter", "sequence", "logrecno",
    ]
    assert names[6:] == ["b01001001", "b01001002", "b01001003"]
    assert all(f.dataType.typeName() == "double" for f in schema.fields[6:])


def test_fixed_width_round_trip(spark):
    layout = [
        FixedWidthField("k", 1, 4, "int"),
        FixedWidthField("name", 5, 10, "string"),
        FixedWidthField("score", 15, 8, "double"),
    ]
    src = spark.createDataFrame(
        [(1, "alpha", 2.5), (42, "beta", -1.25)], "k int, name string, score double"
    )
    lines = format_fixed_width(src, layout)
    back = parse_fixed_width_lines(lines, layout)
    assert {tuple(r) for r in back.collect()} == {
        (1, "alpha", 2.5), (42, "beta", -1.25),
    }


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_driver_rendered_sequence_csv_reads_like_the_spark_writer(
    spark, tmp_path
):
    """Lines rendered on the driver by ``sequence_csv_line`` read back
    through ``read_sequence_csv`` to exactly the rows that
    ``write_sequence_csv`` round-trips from the same frame: a NULL
    margin as the '.' jam, integral and non-integral doubles, and
    doubles Spark writes in exponent form."""
    schema = sequence_table_schema("b01001", 3)
    src = spark.createDataFrame(
        [
            ("ACSSF", "2014m5", "S0", "000", 1, 1, 12.0, None, 0.1),
            ("ACSSF", "2014m5", "S1", "000", 1, 2, 1234.56, 0.3, -7.0),
            ("ACSSF", "2014e5", "S2", "000", 1, 25, 1.0e7, 1.0e-5, 2.5e16),
        ],
        schema,
    )
    spark_dir = str(tmp_path / "spark")
    write_sequence_csv(src, spark_dir)
    driver_dir = tmp_path / "driver"
    driver_dir.mkdir()
    (driver_dir / "part-00000").write_text(
        "".join(sequence_csv_line(r) + "\n" for r in src.collect())
    )
    want = _rows(read_sequence_csv(spark, spark_dir, schema))
    assert _rows(read_sequence_csv(spark, str(driver_dir), schema)) == want
    assert any("b01001002=None" in r for r in want), want


def test_sequence_csv_line_refuses_cells_that_need_quoting():
    with pytest.raises(ValueError, match="needs quoting"):
        sequence_csv_line(["a,b", 1.0])


def test_driver_rendered_fixed_width_parses_like_format_fixed_width(spark):
    """``fixed_width_line`` renders what ``format_fixed_width`` renders:
    the same parsed rows for a NULL field, an int, and a name longer
    than its field (both cut it to the field width)."""
    layout = [
        FixedWidthField("stusab", 1, 2, "string"),
        FixedWidthField("logrecno", 3, 7, "int"),
        FixedWidthField("name", 10, 32, "string"),
    ]
    src = spark.createDataFrame(
        [
            ("S0", 1, "ALGERIA"),
            ("S1", 1234567, "A" * 32 + "-cut off past the field"),
            (None, 25, None),
        ],
        "stusab string, logrecno int, name string",
    )
    lines = spark.createDataFrame(
        [(fixed_width_line(r, layout),) for r in src.collect()], "value string"
    )
    want = _rows(parse_fixed_width_lines(format_fixed_width(src, layout), layout))
    assert _rows(parse_fixed_width_lines(lines, layout)) == want
    assert any("name='" + "A" * 32 + "'" in r for r in want), want


def test_jdbc_writer_config_construction(spark):
    df = spark.range(3)
    target = JdbcTarget(
        url="jdbc:postgresql://localhost:5432/census",
        table="acs2014_5yr.b01001",
        user="u",
        password="p",
        num_partitions=2,
    )
    writer = writer_for(df, target)
    # the writer is fully built; executing it must fail on the MISSING
    # DRIVER (proving url/format wiring reached the JDBC source), not
    # on our own config assembly
    with pytest.raises(Exception, match="(?i)driver|jdbc"):
        writer.save()


# --- property-based (hypothesis; SURVEY.md §5.2 item 4) ---

from hypothesis import given, settings, strategies as st

_name = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
_type = st.sampled_from(["int", "bigint", "double", "string", "varchar"])


@given(
    rows=st.lists(
        st.tuples(_name, _type, st.integers(0, 1000)),
        min_size=1,
        max_size=20,
        unique_by=(lambda r: r[0], lambda r: r[2]),
    )
)
@settings(max_examples=50, deadline=None)
def test_schema_from_metadata_ordinal_property(rows):
    schema = schema_from_metadata(rows)
    want = [name for name, _t, _p in sorted(rows, key=lambda r: r[2])]
    assert [f.name for f in schema.fields] == want


@given(
    vals=st.lists(
        st.tuples(
            st.integers(0, 9999),
            st.from_regex(r"[a-zA-Z0-9]{1,10}", fullmatch=True),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda v: v[0],
    )
)
@settings(max_examples=10, deadline=None)
def test_fixed_width_round_trip_property(spark, vals):
    layout = [
        FixedWidthField("k", 1, 6, "int"),
        FixedWidthField("name", 7, 12, "string"),
    ]
    src = spark.createDataFrame(vals, "k int, name string")
    back = parse_fixed_width_lines(format_fixed_width(src, layout), layout)
    assert {tuple(r) for r in back.collect()} == set(vals)


def test_jdbc_derby_round_trip(spark, tmp_path):
    """Real executed JDBC write→read against embedded Derby (the
    driver Spark ships for the Hive metastore) — proves the partitioned
    INSERT path end-to-end, not just writer config assembly."""
    from census_postgres_py_spark.sources.jdbc import (
        derby_target,
        read_jdbc,
        writer_for,
    )

    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(100)], "k bigint, name string"
    )
    target = derby_target("roundtrip", db_dir=str(tmp_path / "derby"))
    writer_for(df, target).save()
    back = read_jdbc(spark, target)
    assert {tuple(r) for r in back.collect()} == {
        (i, f"name{i}") for i in range(100)
    }
    # overwrite semantics: second save truncates, not appends
    writer_for(df.limit(10), target).save()
    assert read_jdbc(spark, target).count() == 10
