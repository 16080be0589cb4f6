"""End-to-end checks for the composed ACS load pipeline — the
reference's product shape (SURVEY.md §3.1): every source operator
chained, jam values surviving the round trip as NULLs, and the sink
actually partitioned for geography pruning."""

from __future__ import annotations

import glob
import os
import tempfile

from tests.conftest import SF_SMOKE


def test_pipeline_shape_and_keys(spark, queries):
    df = queries["pipeline_acs_e2e"](spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == 25  # one derived row per nation-geography
    for r in rows:
        assert r["geoid"].startswith("04000US")
        assert r["b01001001"] is not None  # estimates never jam-coded
    # margins ARE jam-coded below the population floor -> real NULLs
    assert any(r["b01001002_m"] is None for r in rows)
    assert any(r["b01001002_m"] is not None for r in rows)


def test_pipeline_sink_is_partitioned_by_state(
    spark, queries, monkeypatch, tmp_path
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    queries["pipeline_acs_e2e"](spark, SF_SMOKE)
    [sink] = glob.glob(
        os.path.join(tmp_path, "cppys_call", "acs_pipeline-*", "sink")
    )
    parts = glob.glob(os.path.join(sink, "stusab=*"))
    assert len(parts) > 1, "sink not partitioned by stusab"


def test_pipeline_inputs_are_written_by_the_driver(
    spark, queries, monkeypatch, tmp_path
):
    """The 25-row synthetic inputs are plain files written by the
    driver: ``geo/``, ``e/`` and ``m/`` each hold one data file and no
    Hadoop ``.crc`` or ``_SUCCESS`` file — only the partitioned
    ``sink/`` goes through a Spark write."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    queries["pipeline_acs_e2e"](spark, SF_SMOKE)
    [call] = glob.glob(os.path.join(tmp_path, "cppys_call", "acs_pipeline-*"))
    assert sorted(os.listdir(call)) == ["e", "geo", "m", "sink"]
    for part in ("geo", "e", "m"):
        assert len(os.listdir(os.path.join(call, part))) == 1, part
    assert os.path.exists(os.path.join(call, "sink", "_SUCCESS"))
