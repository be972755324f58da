"""Parity ingest runs as one distributed pass over a directory's JSON
files. These tests hold it to the per-file reader it replaces: the
reference table is built from the public per-file functions
(``read_any_file`` → ``normalize_text_parity`` → ``with_lineage`` →
``unionByName`` → schema unify), and the pass must produce the same
columns, types, rows and run report. Its Spark job count must not grow
with the number of files."""

from __future__ import annotations

import gzip
import json
from collections import Counter
from functools import reduce
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark import ingest

from generic_data_ingestor_framework_spark.ingest import (
    SALVAGE_SCHEMA_SAMPLE,
    ingest_directory,
    normalize_text_parity,
    read_any_file,
    unify_schema_first_record,
    unify_schema_sorted,
    with_lineage,
)
from generic_data_ingestor_framework_spark.scanner import FileScanner

# a failing pass would hand every file to the per-file reader, which
# these tests could not tell from a working one
pytestmark = pytest.mark.filterwarnings("error:one-pass JSON read failed")


def _reference(spark, directory, text_parity=True, schema_mode="sorted"):
    """The per-file pipeline over ``directory``, file by file in
    discovery order: (DataFrame, report counts)."""
    scanner = FileScanner(directory)
    discovered = scanner.validate_discovered_files(
        scanner.discover_files(file_types=["json", "csv", "parquet", "orc", "xml"])
    )
    typed = [(str(p), t) for t, ps in sorted(discovered.items()) for p in ps]
    frames, first = [], None
    report = {"processed": 0, "failed": 0, "records": 0, "dropped": 0}
    for path, ftype in typed:
        try:
            clean, dropped = read_any_file(spark, path, ftype)
            report["dropped"] += dropped
            if text_parity:
                clean = normalize_text_parity(clean)
            clean = with_lineage(clean)
            if dropped:  # a salvaged file's lineage is its name as listed
                clean = clean.withColumn("_source_file", F.lit(Path(path).name))
            n = len(clean.collect())
        except Exception:  # noqa: BLE001 — a bad file fails only itself
            report["failed"] += 1
            continue
        if n:
            frames.append(clean)
            report["processed"] += 1
            report["records"] += n
            if first is None:
                first = path if ftype == "json" else ""
    df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
    if schema_mode == "first_record":
        return unify_schema_first_record(df, first_file=first or None), report
    return unify_schema_sorted(df), report


def _table(df):
    """Columns, types and the multiset of rows (as JSON) of ``df``."""
    return df.columns, df.dtypes, Counter(df.toJSON().collect())


def _assert_same(spark, directory, monkeypatch, fallback, **kw):
    """The pass and the per-file pipeline agree on ``directory``, and
    exactly the files named in ``fallback`` took the per-file reader."""
    want_df, want = _reference(spark, directory, **kw)
    read = []

    def counted(spark_, path, ftype):
        read.append(path.rsplit("/", 1)[-1])
        return read_any_file(spark_, path, ftype)

    with monkeypatch.context() as m:
        m.setattr(ingest, "read_any_file", counted)
        got_df, got = ingest_directory(spark, directory, **kw)
    assert sorted(read) == sorted(fallback)
    assert (
        got.files_processed, got.files_failed, got.total_records, got.records_dropped_non_dict
    ) == (want["processed"], want["failed"], want["records"], want["dropped"])
    assert _table(got_df) == _table(want_df)
    return got_df


def _write(path, payload, encoding="utf-8"):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(payload.encode(encoding) if isinstance(payload, str) else payload)


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("one_pass")
    # a type widened across files: the integer must stay "3", not "3.0"
    _write(d / "w_int.json", json.dumps([{"id": "wi", "v": 3}]))
    _write(d / "w_float.json", json.dumps([{"id": "wf", "v": 2.5}]))
    # an object in one file where another has a string
    _write(d / "o_obj.json", json.dumps([{"id": "oo", "o": {"k": 1, "j": [1, 2]}}]))
    _write(d / "o_str.json", json.dumps({"id": "os", "o": "plain"}))
    # a present-but-null key ("") next to files without it (NULL)
    _write(d / "n_null.json", json.dumps([{"id": "nn", "z": None}, {"id": "nz", "z": "v"}]))
    # nested fields that differ between files
    _write(d / "sub" / "nest_a.json", json.dumps([{"id": "na", "addr": {"street": "s"}}]))
    _write(d / "sub" / "nest_b.json", json.dumps([{"id": "nb", "addr": {"street": "t", "zip": 5}}]))
    # empty objects, which schema inference drops
    _write(d / "lossy.json", json.dumps([{"id": "lo", "e": {}, "addr": {"x": {}}}]))
    _write(d / "bom.json", "\ufeff" + json.dumps([{"id": "bo", "v": 7}]))
    # names that input_file_name() gives URL-encoded
    _write(d / "a b.json", json.dumps([{"id": "sp", "v": 8}]))
    _write(d / "pct%41.json", json.dumps({"id": "pc"}))
    _write(d / "données mixtes.json", json.dumps([{"id": "dm"}, 1]))
    _write(d / "latin.json", json.dumps([{"id": "la", "city": "Besançon"}], ensure_ascii=False),
           encoding="iso-8859-1")
    # a scalar line and a malformed line among line-delimited records
    _write(d / "lines.jsonl", '{"id": "l1", "q": 1}\n5\n{\n\n{"id": "l2"}\r\n')
    _write(d / "clean.jsonl", '{"id": "c1", "q": 2}\n{"id": "c2", "q": 3}\n')
    _write(d / "mixed.json", json.dumps([{"id": "m1"}, 7, "x", None, {"id": "m2", "k2": 1}, [1]]))
    _write(d / "empty_arr.json", "[]")
    _write(d / "scalars.json", "[1, 2, 3]")
    _write(d / "zero.json", "")
    _write(d / "broken.json", '[{"id": 1, "na')
    _write(d / "trailing.json", '{"id": "tr"} {"id": "tr2"}')
    _write(d / "gz.json.gz", gzip.compress(json.dumps([{"id": "gz", "v": 4}]).encode()))
    # past the size the pass takes
    _write(d / "large.json", json.dumps([{"id": "lg", "pad": "x" * ingest._PASS_MAX_BYTES}]))
    # a mixed array past the schema sample: its late field is dropped,
    # though another file carries that field
    big = [{"id": f"b{i}", "n": i} for i in range(SALVAGE_SCHEMA_SAMPLE + 20)]
    big[SALVAGE_SCHEMA_SAMPLE + 10]["late"] = "dropped"
    big[SALVAGE_SCHEMA_SAMPLE + 12]["addr"] = {"street": "u", "zip": 9}
    _write(d / "big_mixed.json", json.dumps(big[:50] + ["scalar"] + big[50:]))
    _write(d / "late_other.json", json.dumps([{"id": "lt", "late": "kept"}]))
    return d


# not strictly valid JSON, empty, gzipped, too large, or a type the
# group cannot take: "v" widened to a double, "o" a string after an
# object, and a file whose empty objects the inference drops
_FALLBACK = [
    "broken.json", "trailing.json", "lines.jsonl", "zero.json", "gz.json.gz", "large.json",
    "w_float.json", "o_str.json", "lossy.json",
]


def test_one_pass_matches_per_file_pipeline(spark, hostile_dir, monkeypatch):
    df = _assert_same(spark, hostile_dir, monkeypatch, _FALLBACK)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["wi"]["v"] == "3" and rows["wf"]["v"] == "2.5"
    assert rows["nn"]["z"] == "" and rows["wi"]["z"] is None
    assert rows["la"]["city"] == "Besançon"
    assert rows["b115"]["late"] is None and rows["lt"]["late"] == "kept"
    assert {"bo", "l1", "l2", "m1", "m2", "gz", "tr"} <= set(rows)
    names = {rows[i]["_source_file"] for i in ("sp", "pc", "dm")}
    assert names == {"a%20b.json", "pct%2541.json", "données mixtes.json"}


def test_one_pass_lossless_matches_per_file_pipeline(spark, hostile_dir, tmp_path, monkeypatch):
    # without the text projection an object and a string cannot share a
    # column: both pipelines must refuse that directory the same way
    with pytest.raises(Exception) as want:
        _reference(spark, hostile_dir, text_parity=False)[0].collect()
    with pytest.raises(Exception) as got:
        ingest_directory(spark, hostile_dir, text_parity=False)[0].collect()
    assert type(got.value) is type(want.value)

    for f in hostile_dir.rglob("*"):
        if f.is_file() and not f.name.startswith("o_"):
            _write(tmp_path / f.relative_to(hostile_dir), f.read_bytes())
    # a column type hash() refuses, which the lossless table keeps
    maps = pa.array([[("a", 1)], [], [("b", 2), ("c", 3)]], pa.map_(pa.string(), pa.int32()))
    pq.write_table(pa.table({"id": ["p1", "p2", "p3"], "m": maps}), tmp_path / "maps.parquet")
    # a native struct cannot gain the field "zip": that file falls back too
    fallback = [n for n in _FALLBACK if not n.startswith("o_")] + ["nest_b.json", "maps.parquet"]
    df = _assert_same(spark, tmp_path, monkeypatch, fallback, text_parity=False)
    assert df.where("m IS NOT NULL").count() == 3


def test_one_pass_first_record_comes_from_first_file(spark, tmp_path, monkeypatch):
    # the first file in discovery order is the smallest, so a scan that
    # orders files by size would put another file's record first
    _write(tmp_path / "a_first.json", json.dumps([{"zeta": 1, "alpha": "a"}]))
    _write(tmp_path / "b_big.json", json.dumps([{"mid": i, "alpha": f"b{i}"} for i in range(300)]))
    _write(tmp_path / "c.json", json.dumps([{"zeta": 2, "other": "x"}]))
    df = _assert_same(spark, tmp_path, monkeypatch, [], schema_mode="first_record")
    assert df.columns == ["zeta", "alpha"]


def _jobs_for(spark, directory, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, "one-pass job count")
    try:
        df, report = ingest_directory(spark, directory)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), df, report


def test_parity_job_count_does_not_grow_with_files(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(ingest, "read_any_file", lambda *a: pytest.fail("per-file read"))
    counts = []
    for n in (10, 40):
        d = tmp_path / f"d{n}"
        for i in range(n):
            recs = [{"id": i * 10 + j, "k": f"v{j}", f"f{i % 3}": j} for j in range(5)]
            _write(d / f"part_{i:03d}.json", json.dumps(recs))
        jobs, df, report = _jobs_for(spark, d, f"one-pass-{n}")
        assert report.files_processed == n and report.total_records == 5 * n
        assert df.count() == 5 * n
        counts.append(jobs)
    assert counts[0] == counts[1]
    assert 0 < counts[0] <= 3


def test_failed_pass_falls_back_to_per_file_reads(spark, hostile_dir, monkeypatch):
    def broken(*a, **k):
        raise RuntimeError("scan failed")

    monkeypatch.setattr(ingest, "_place", broken)
    every_file = [f.name for f in hostile_dir.rglob("*") if f.is_file()]
    with pytest.warns(UserWarning, match="scan failed"):
        _assert_same(spark, hostile_dir, monkeypatch, every_file)
