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
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
from test_hostile_inputs import MALFORMED

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
    # empty objects, which schema inference drops: "e" and "addr" are
    # not columns of this file's own read, so its rows hold NULL there
    # though other files give both columns
    _write(d / "lossy.json", json.dumps([{"id": "lo", "e": {}, "addr": {"x": {}}}]))
    _write(d / "e_obj.json", json.dumps([{"id": "eo", "e": {"k": 1}}]))
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
# object. broken.json, a "["-led text that is no JSON array, fails from
# its classify row
_FALLBACK = [
    "trailing.json", "lines.jsonl", "zero.json", "gz.json.gz", "large.json",
    "w_float.json", "o_str.json",
]


def test_one_pass_matches_per_file_pipeline(spark, hostile_dir, monkeypatch):
    df = _assert_same(spark, hostile_dir, monkeypatch, _FALLBACK)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["wi"]["v"] == "3" and rows["wf"]["v"] == "2.5"
    assert rows["nn"]["z"] == "" and rows["wi"]["z"] is None
    assert rows["la"]["city"] == "Besançon"
    assert rows["b115"]["late"] is None and rows["lt"]["late"] == "kept"
    assert rows["lo"]["e"] is None and rows["lo"]["addr"] is None
    assert json.loads(rows["eo"]["e"]) == {"k": 1}
    assert {"bo", "l1", "l2", "m1", "m2", "gz", "tr"} <= set(rows)
    names = {rows[i]["_source_file"] for i in ("sp", "pc", "dm")}
    assert names == {"a%20b.json", "pct%2541.json", "données mixtes.json"}


def test_one_pass_lossless_matches_per_file_pipeline(spark, hostile_dir, tmp_path, monkeypatch):
    # without the text projection a plain union cannot give an object
    # and a string one column; the ingest makes that column text
    with pytest.raises(Exception):
        _reference(spark, hostile_dir, text_parity=False)[0].collect()
    got = ingest_directory(spark, hostile_dir, text_parity=False)[0]
    assert dict(got.dtypes)["o"] == "string"
    o = {r["id"]: r["o"] for r in got.where("o IS NOT NULL").collect()}
    assert set(o) == {"oo", "os"} and o["os"] == "plain"
    assert json.loads(o["oo"]) == {"k": 1, "j": [1, 2]}

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


def test_classify_parses_each_file_once(spark, tmp_path):
    # every column of the classify job reads one parse of the file's
    # text, and one strict gate: of a whole file, or of each line
    _write(tmp_path / "mixed.json", json.dumps([{"id": 1}, 2, {"k": 3}]))
    _write(tmp_path / "lines.jsonl", '{"id": 4}\n{"k": 5}\n')
    layout = {str(tmp_path / "mixed.json"): "whole", str(tmp_path / "lines.jsonl"): "lines"}
    q = ingest._classify(ingest._list_json(spark, tmp_path), layout, {p: "UTF-8" for p in layout})
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(") == 1
    assert plan.count("parseJson(") == 2
    assert sorted((r["kind"], r["n"], r["dropped"]) for r in q.collect()) == [
        ("lines", 2, 0), ("mixed", 2, 1)
    ]


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
    assert counts == [1, 1]  # classify; the write runs outside the ingest


def test_failed_pass_falls_back_to_per_file_reads(spark, hostile_dir, monkeypatch):
    def broken(*a, **k):
        raise RuntimeError("scan failed")

    monkeypatch.setattr(ingest, "_place", broken)
    every_file = [f.name for f in hostile_dir.rglob("*") if f.is_file()]
    with pytest.warns(UserWarning, match="scan failed"):
        _assert_same(spark, hostile_dir, monkeypatch, every_file)


def test_hostile_path_characters_go_through_the_pass(spark, tmp_path, monkeypatch):
    # the pass binds paths as SQL parameters, never as SQL text, and
    # lists its directory as a path, not a glob pattern. Hadoop's
    # per-file reader cannot open these names (it globs them, and reads
    # a ':' as a URI scheme), so the reference reads the same files
    # under plain names. Hadoop's local file system cannot open a file
    # whose own name holds a ':' (its checksum path is parsed as a URI):
    # the ':' is in the directory name only.
    chars = "'\"\\{}$%"
    payloads = {
        ".json": json.dumps([{"id": "ar", "v": 1}, {"id": "ar2", "w": {"k": 2}}]),
        "_obj.json": json.dumps({"id": "ob", "v": 3}),
        ".jsonl": '{"id": "l1", "v": 4}\n{"id": "l2", "z": null}\n',
        "_mixed.json": json.dumps([{"id": "mx"}, 5, "x"]),
        "_bom.json": "\ufeff" + json.dumps([{"id": "bo"}]),
    }
    hostile, plain = tmp_path / f"in {chars}:", tmp_path / "plain"
    names = {}
    for i, (suffix, payload) in enumerate(payloads.items()):
        names[f"f{i}{suffix}"] = f"f{i}{chars}{suffix}"
        _write(plain / f"f{i}{suffix}", payload)
        _write(hostile / names[f"f{i}{suffix}"], payload)
    latin = json.dumps([{"id": "la", "city": "Besançon"}], ensure_ascii=False)
    _write(plain / "latin.json", latin, encoding="iso-8859-1")
    _write(hostile / f"latin{chars}.json", (plain / "latin.json").read_bytes())
    names["latin.json"] = f"latin{chars}.json"
    want_df, want = _reference(spark, plain)

    monkeypatch.setattr(ingest, "read_any_file", lambda _, p, t: pytest.fail(f"per-file read {p}"))
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    got_df, got = ingest_directory(spark, hostile)
    # the pass's plans read the listing through temp views dropped once analyzed
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views
    assert (
        got.files_processed, got.files_failed, got.total_records, got.records_dropped_non_dict
    ) == (want["processed"], want["failed"], want["records"], want["dropped"])
    assert want["processed"] == len(names)
    # lineage names the hostile file: as input_file_name() gives it
    # (URL-encoded), or as listed for a mixed array
    plain_name = {v: k for k, v in names.items()}
    rows = [r.asDict() for r in got_df.collect()]
    for r in rows:
        r["_source_file"] = plain_name[unquote(r["_source_file"])]
    assert (got_df.columns, got_df.dtypes) == (want_df.columns, want_df.dtypes)
    assert Counter(json.dumps(r, sort_keys=True) for r in rows) == Counter(
        json.dumps(r.asDict(), sort_keys=True) for r in want_df.collect()
    )


def test_pass_plans_cost_a_fixed_number_of_jvm_commands(spark, tmp_path, jvm_commands):
    # each plan is one SQL text, parsed and analyzed in the JVM, with
    # the per-file values bound as parameters: building it costs the
    # same few py4j commands for 10 or 40 files and 5 or 50 keys
    def build(n_files, n_keys):
        d = tmp_path / f"d{n_files}_{n_keys}"
        keys = [f"k.{j}" for j in range(n_keys)]  # dot-named, as JSON keys may be
        held = {}
        for i in range(n_files):
            path = d / f"part_{i:03d}.json"
            held[str(path)] = keys[: n_keys // (1 + i % 2)]
            _write(path, json.dumps([dict.fromkeys(held[str(path)], i)]))
        placed = ingest._Placed(
            kind=dict.fromkeys(held, "array"),
            keys={p: set(ks) for p, ks in held.items()},  # odd files lack half the keys
            schema=T.StructType([T.StructField(k, T.LongType()) for k in keys]),
            encodings=dict.fromkeys(held, "UTF-8"),
            files=ingest._list_json(spark, d),
        )
        sent = []
        for plan in (
            lambda: ingest._classify(placed.files, dict.fromkeys(held, "whole"), placed.encodings),
            lambda: ingest._project(placed, list(held), text_parity=False),
            lambda: ingest._project(placed, list(held), text_parity=True),
        ):
            with jvm_commands() as n:
                plan()
            sent.append(n[0])
        return sent

    build(3, 2)  # first use of each JVM entry point
    sent = {(f, k): build(f, k) for f in (10, 40) for k in (5, 50)}
    classify, lossless, text = sent[10, 5]
    assert {(c, l) for c, l, _ in sent.values()} == {(classify, lossless)}
    assert classify <= 60 and lossless <= 60
    # the all-TEXT projection adds normalize_text_parity's selectExpr,
    # whose list of SQL expressions py4j sends one element at a time
    assert {fk: t - text for fk, (_, _, t) in sent.items()} == {
        (10, 5): 0, (40, 5): 0, (10, 50): 45, (40, 50): 45
    }


def test_classify_fails_a_file_only_as_its_own_read_does(spark, hostile_dir, tmp_path):
    # a "["-led text that does not parse as an array fails from its
    # classify row, with the error its own read raises; its own read
    # fails no other "["-led text. A "{"-led one is left to that read,
    # which accepts a first object followed by text
    for f in hostile_dir.rglob("*"):
        if f.is_file():
            _write(tmp_path / f.name, f.read_bytes())
    for name, text in MALFORMED.items():
        _write(tmp_path / name, text)
    typed = [(str(f), "json") for f in sorted(tmp_path.iterdir())]
    placed = ingest._place(spark, tmp_path, typed, text_parity=True)
    assert {Path(p).name for p in placed.failed} == {
        "broken.json", "incomplete_array.json", "invalid_quotes_array.json"
    }
    for path, _ in typed:
        try:
            len(read_any_file(spark, path, "json")[0].collect())
            own = None
        except Exception as ex:  # noqa: BLE001
            own = (type(ex), str(ex))
        if path in placed.failed:
            assert own == (type(placed.failed[path]), str(placed.failed[path]))
        elif Path(path).read_bytes().lstrip()[:1] == b"[":
            assert own is None, path


def test_unopenable_name_fails_alone(spark, tmp_path, monkeypatch):
    # Hadoop cannot open a file whose own name holds a ':' (its checksum
    # path is parsed as a URI). The pass's listing skips it, so only it
    # takes the per-file reader, which fails it; no warning is raised
    _write(tmp_path / "a:b.json", json.dumps([{"id": "ab"}]))
    _write(tmp_path / "ok.json", json.dumps([{"id": "ok", "v": 1}]))
    read = []

    def counted(spark_, path, ftype):
        read.append(Path(path).name)
        return read_any_file(spark_, path, ftype)

    monkeypatch.setattr(ingest, "read_any_file", counted)
    df, report = ingest_directory(spark, tmp_path)
    assert read == ["a:b.json"]
    assert (report.files_processed, report.files_failed, report.total_records) == (1, 1, 1)
    assert [e["file"] for e in report.errors] == ["a:b.json"]
    assert [r["id"] for r in df.collect()] == ["ok"]


def test_placed_file_deleted_before_the_write_fails_it(spark, tmp_path):
    # the listing skips a file it cannot open, never a missing one: the
    # write fails rather than losing the deleted file's rows
    _write(tmp_path / "a.json", json.dumps([{"id": "a"}]))
    _write(tmp_path / "b.json", json.dumps([{"id": "b"}]))
    df, report = ingest_directory(spark, tmp_path)
    assert report.files_processed == 2
    (tmp_path / "b.json").unlink()
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        df.collect()


@pytest.mark.parametrize("mode", ["parity", "bulk"])
def test_glob_characters_in_a_name_are_read_as_a_path(spark, tmp_path, mode):
    # no reader expands a path as a glob pattern: "p{q}" is not "pq".
    # The line with a scalar sends p{q}.jsonl to the per-file reader in
    # parity mode
    _write(tmp_path / "p{q}.jsonl", '{"id": "pq", "v": 1}\n5\n')
    _write(tmp_path / "ok.jsonl", '{"id": "ok", "v": 2}\n')
    if mode == "parity":
        _write(tmp_path / "a[b].json", json.dumps([{"id": "ab", "v": 3}]))
    df, report = ingest_directory(spark, tmp_path, mode=mode)
    assert (report.files_processed, report.files_failed, report.errors) == (
        2 + (mode == "parity"), 0, []
    )
    assert sorted(r["id"] for r in df.collect()) == sorted(
        ["pq", "ok"] + ["ab"] * (mode == "parity")
    )


def test_reingest_of_a_changed_directory(spark, tmp_path, monkeypatch):
    # one session ingests a directory, then the same directory after a
    # file is added, one changes its keys and a value's type, and one
    # is deleted: the second run reads the directory as it now is
    _write(tmp_path / "a.json", json.dumps([{"id": "a1", "v": 1}, {"id": "a2", "v": 2}]))
    _write(tmp_path / "b.json", json.dumps([{"id": "b1", "w": "x"}]))
    _write(tmp_path / "sub" / "c.jsonl", '{"id": "c1", "v": 3}\n')
    first = _assert_same(spark, tmp_path, monkeypatch, [])
    assert first.columns == ["id", "v", "w", "_source_file"]
    _write(tmp_path / "d.json", json.dumps({"id": "d1", "z": True}))
    _write(tmp_path / "b.json", json.dumps([{"id": "b1", "u": {"k": 1}, "w": 2}]))
    (tmp_path / "sub" / "c.jsonl").unlink()
    second = _assert_same(spark, tmp_path, monkeypatch, [])
    assert second.columns == ["id", "u", "v", "w", "z", "_source_file"]
    rows = {r["id"]: r for r in second.collect()}
    assert set(rows) == {"a1", "a2", "b1", "d1"}
    assert (rows["b1"]["u"], rows["b1"]["w"], rows["d1"]["z"]) == ('{"k":1}', "2", "true")
    lossless = ingest_directory(spark, tmp_path, text_parity=False)[0]
    assert dict(lossless.dtypes)["w"] == "bigint"  # the string "x" is gone


# per file: its JSON text, and whether JSON inference drops part of it
_TYPED = {
    "int_double.json": ([{"n": 1}, {"n": 2.5}, {"n": -3}], False),
    "whole_doubles.json": ([{"n": 1.0}, {"n": 20.00}], False),
    "str_num.json": ([{"s": "a"}, {"s": 1}, {"s": 1.5}], False),
    "bool_num.json": ([{"b": True}, {"b": 2}], False),
    "struct_array.json": ([{"c": {"x": 1}}, {"c": [1]}, {"m": [1, "x", None]}], False),
    "null_only.json": ([{"z": None}, {"z": None, "k": [None]}], False),
    "empty_arrays.json": ([{"a": []}, {"a": [], "b": [[]], "c": [{"p": 1}, {"q": "s"}]}], False),
    "empty_objects.json": (
        [{"e": {}, "f": {"g": {}}, "h": {"i": 1, "j": {}}, "k": [{}], "l": 1}], True
    ),
    "merged_empty.json": ([{"e": {}}, {"e": {"x": 1}}, {"f": {}}, {"f": None}], True),
    "empty_key.json": ({"": 1, "k": {"": 2, "m": 3}, "l": True}, True),
    "decimal_39.json": ('[{"d": 123456789012345678901234567890123456789}]', False),
    "decimal_frac.json": ('[{"d": 1.5}, {"d": 12345678901234567890123}]', False),
    "exp.json": ('[{"x": 1e300}, {"x": 1}, {"x": 2.5E-3}]', False),
    "names.json": ([{"b": 1, "_a": 3, "a_": 4, "Z": 5, "ü": 6, "a b": 7, "`q`": 8,
                     "x:y": 9, "😀": 10, "\uffff": 11, "a": {"Y": 1, "_": 2, "y2": 3}}], False),
    "merge_order.json": ([{"b": 1}, {"a": 2, "c": {"z": 1}}, {"c": {"y": 2}, "_b": 3}], False),
    "lines.jsonl": ('{"a": 1, "o": {"p": 1}}\n{"a": 2.5, "o": {"q": "s"}, "e": {}}\n', True),
    "mixed.json": ([{"a": 1}, 2, "x", {"b": {"c": []}}, None], False),
}


def test_variant_types_match_json_inference(spark, tmp_path):
    # the pass types a file from the schema_of_variant of its records:
    # the same type spark.read.json infers for that file
    for name, (payload, _) in _TYPED.items():
        _write(tmp_path / name, payload if isinstance(payload, str) else json.dumps(payload))
    layout = {str(tmp_path / n): "lines" if n.endswith(".jsonl") else "whole" for n in _TYPED}
    rows = ingest._classify(
        ingest._list_json(spark, tmp_path), layout, dict.fromkeys(layout, "UTF-8")
    ).collect()
    assert len(rows) == len(_TYPED)
    for r in rows:
        name = Path(r["path"]).name
        got, lossy = ingest._json_type(r["schema"])
        want = read_any_file(spark, str(tmp_path / name), "json")[0].schema
        assert (got.elementType, lossy) == (want, _TYPED[name][1]), name


@pytest.mark.parametrize("payload, want", [
    # the variant's types: DECIMAL(20,0) twice, then DECIMAL(19,0) twice
    ('[{"n": 1}, {"n": 2.0}]', "double"),
    ('[{"n": 12345678901234567890}]', "decimal(20,0)"),
    ('[{"n": 9223372036854775808}]', "decimal(19,0)"),
    ('[{"n": 1234567890123456789.0}]', "double"),
])
def test_untold_decimal_takes_the_per_file_reader(spark, tmp_path, monkeypatch, payload, want):
    # the variant keeps no trailing fractional zeros: a decimal with no
    # fraction and more than 18 digits may be a double or a decimal, so
    # the file takes its own read and keeps the type that read infers
    _write(tmp_path / "n.json", payload)
    _write(tmp_path / "ok.json", json.dumps([{"id": "ok"}]))
    df = _assert_same(spark, tmp_path, monkeypatch, ["n.json"], text_parity=False)
    assert dict(df.dtypes)["n"] == want


@pytest.mark.parametrize("text_parity", [True, False])
@pytest.mark.parametrize("payload", [
    [{"o": {"k": 1, "K": "x"}}],
    [{"o": [{"k": 1, "K": "x"}]}],  # a struct inside an array
    [{"o": {"p": {"k": 1, "K": 2}}}],  # two levels down
])
def test_nested_case_duplicate_keys_fail_as_their_own_read(
    spark, tmp_path, monkeypatch, payload, text_parity
):
    # Spark resolves names case-insensitively at every depth, so the
    # file's own read fails ([COLUMN_ALREADY_EXISTS]): the pass leaves
    # it to that read
    _write(tmp_path / "dup.json", json.dumps(payload))
    _write(tmp_path / "ok.json", json.dumps([{"id": 2}]))
    _assert_same(spark, tmp_path, monkeypatch, ["dup.json"], text_parity=text_parity)


def test_nested_keys_differing_in_case_across_files(spark, tmp_path, monkeypatch):
    # each file reads alone; merged, `o` would hold `K` and `k`, so the
    # second file takes its own read
    _write(tmp_path / "a.json", json.dumps([{"o": {"k": 1}}]))
    _write(tmp_path / "b.json", json.dumps([{"o": {"K": "x"}}]))
    df = _assert_same(spark, tmp_path, monkeypatch, ["b.json"])
    assert sorted(r["o"] for r in df.collect()) == ['{"K":"x"}', '{"k":1}']
    # lossless, the per-file pipeline builds no table: its union resolves
    # `K` as `k` and casts "x" to bigint. The pass keeps both files, with
    # `o` as JSON text
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        _reference(spark, tmp_path, text_parity=False)[0].collect()
    got_df, got = ingest_directory(spark, tmp_path, text_parity=False)
    assert (got.files_processed, got.files_failed) == (2, 0)
    assert sorted(r["o"] for r in got_df.collect()) == ['{"K":"x"}', '{"k":1}']
