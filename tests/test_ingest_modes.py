"""``ingest_directory`` is one pipeline for both modes: ``mode`` picks
only how files are grouped into reads. Whatever the grouping, the
text projection, the schema mode and lossless type reconciliation
give the same table."""

from __future__ import annotations

import json
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from generic_data_ingestor_framework_spark import ingest
from generic_data_ingestor_framework_spark.ingest import ingest_directory

MODES = ("parity", "bulk")


def _parsed(v):
    try:
        return json.loads(v)
    except ValueError:
        return v


@pytest.fixture(scope="module")
def conflict_dir(tmp_path_factory):
    """Columns whose types differ between files: v number / string
    (and parquet string / double), n object / string, m array /
    number, and d.k (a dot-named key) number / parquet string; w
    integer / double and s with a field one file lacks, which a union
    widens natively."""
    d = tmp_path_factory.mktemp("conflicts")
    (d / "a.json").write_text(json.dumps(
        [{"id": 1, "v": 5, "n": {"a": 1}, "m": [1, 2], "w": 3, "s": {"a": 1}, "d.k": 5}]
    ))
    (d / "b.json").write_text(json.dumps(
        [{"id": 2, "v": "x", "n": "flat", "m": 5, "w": 2.5, "s": {"a": 2, "b": "y"}}]
    ))
    pq.write_table(pa.table({"id": [3], "v": ["a"], "w": [7], "d.k": ["a"]}), d / "p1.parquet")
    pq.write_table(pa.table({"id": [4], "v": [3.5]}), d / "p2.parquet")
    return d


@pytest.mark.parametrize("mode", MODES)
def test_lossless_type_conflicts_become_text(spark, conflict_dir, mode):
    df, report = ingest_directory(spark, conflict_dir, mode=mode, text_parity=False)
    assert (report.files_processed, report.files_failed, report.total_records) == (4, 0, 4)
    types = dict(df.dtypes)
    assert [types[c] for c in ("v", "n", "m", "d.k")] == ["string"] * 4
    assert types["w"] == "double"
    assert types["s"] == "struct<a:bigint,b:string>"
    rows = {r["id"]: r for r in df.collect()}
    assert {i: rows[i]["v"] for i in rows} == {1: "5", 2: "x", 3: "a", 4: "3.5"}
    assert _parsed(rows[1]["n"]) == {"a": 1} and rows[2]["n"] == "flat"
    assert _parsed(rows[1]["m"]) == [1, 2] and rows[2]["m"] == "5"
    assert {i: rows[i]["w"] for i in rows} == {1: 3.0, 2: 2.5, 3: 7.0, 4: None}
    assert {i: rows[i]["d.k"] for i in rows} == {1: "5", 2: None, 3: "a", 4: None}


@pytest.mark.parametrize("mode", MODES)
def test_dot_named_key_is_a_column_name(spark, tmp_path, monkeypatch, capfd, mode):
    # a dot in a key is part of its name, not a path into a struct
    (tmp_path / "dot.json").write_text(json.dumps({"a.b": 1, "c": "x"}))
    (tmp_path / "plain.json").write_text(json.dumps({"c": "z"}))
    if mode == "parity":
        monkeypatch.setattr(ingest, "read_any_file", lambda *a: pytest.fail("file read alone"))
    df, report = ingest_directory(spark, tmp_path, mode=mode)
    assert (report.files_processed, report.files_failed, report.errors) == (2, 0, [])
    # bulk's one read of both files gives the absent key a null, which
    # the text projection makes "", as it does for any key
    assert {r["c"]: r["a.b"] for r in df.collect()} == {
        "x": "1", "z": None if mode == "parity" else ""
    }
    err = capfd.readouterr().err
    assert "DataFrameQueryContextLogger" not in err and "Traceback" not in err


@pytest.fixture(scope="module")
def clean_dir(tmp_path_factory):
    """Files that agree on every column's type, no nulls or empty
    values (record 0 then holds every key)."""
    d = tmp_path_factory.mktemp("clean")
    for f in range(3):
        recs = [
            {
                "id": f * 10 + i, "name": f"n{i}", "score": i + 0.5, "ok": i % 2 == 0,
                "addr": {"city": "Graz", "zip": 8010 + i}, "tags": ["t", str(i)],
            }
            for i in range(4)
        ]
        (d / f"part_{f}.json").write_text(json.dumps(recs))
    (d / "more.jsonl").write_text("\n".join(json.dumps(r) for r in recs))
    return d


@pytest.mark.parametrize("text_parity", [True, False])
def test_modes_give_the_same_table(spark, clean_dir, text_parity):
    got = {}
    for mode in MODES:
        df, report = ingest_directory(spark, clean_dir, mode=mode, text_parity=text_parity)
        assert (report.files_processed, report.total_records) == (4, 16)
        got[mode] = (df.dtypes, Counter(df.toJSON().collect()))
    assert got["bulk"] == got["parity"]
    if text_parity:
        assert {t for _, t in got["bulk"][0]} == {"string"}


def test_modes_give_the_same_first_record_columns(spark, clean_dir):
    cols = {
        mode: set(ingest_directory(spark, clean_dir, mode=mode, schema_mode="first_record")[0].columns)
        for mode in MODES
    }
    assert cols["bulk"] == cols["parity"] == {"id", "name", "score", "ok", "addr", "tags"}
