"""CLI entry + CSV/Parquet format ingestion tests."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from generic_data_ingestor_framework_spark.ingest import ingest_directory

REPO = str(Path(__file__).resolve().parents[1])


def test_csv_and_parquet_ingest(spark, tmp_path):
    (tmp_path / "t.csv").write_text("id,name\n1,ann\n2,bob\n")
    (tmp_path / "t2.tsv").write_text("id\tname\n3\tcid\n")
    spark.createDataFrame([(4, "dee")], "id bigint, name string").write.parquet(
        str(tmp_path / "t3.parquet")
    )
    (tmp_path / "j.json").write_text(json.dumps([{"id": 5, "name": "eve"}]))
    df, report = ingest_directory(spark, tmp_path)
    assert report.files_processed == 4
    assert report.total_records == 5
    names = {r["name"] for r in df.select("name").collect()}
    assert names == {"ann", "bob", "cid", "dee", "eve"}
    srcs = {r["_source_file"] for r in df.select("_source_file").distinct().collect()}
    assert "t.csv" in srcs and "j.json" in srcs


def test_cli_end_to_end(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    (data / "a.json").write_text(json.dumps([{"x": 1}, {"x": 2}]))
    (data / "broken.json").write_text("{nope")
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "generic_data_ingestor_framework_spark",
            str(data),
            "--table",
            "cli_out",
            "--warehouse",
            str(tmp_path / "wh"),
            "--preview",
            "2",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Files processed:  1" in out.stdout
    assert "Files failed:     1" in out.stdout
    assert "Total records:    2" in out.stdout
    assert "cli_out" in out.stdout


def test_scd2_apply_merges_into_the_history_an_earlier_process_wrote(tmp_path):
    """Each process starts with an empty session catalog; a second
    process's ``scd2_apply`` step attaches the history table the first
    left under the warehouse and merges its batch into it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = str(tmp_path / "wh")

    def apply(batch: dict, gen: int):
        path = str(tmp_path / f"batch{gen}.parquet")
        pq.write_table(pa.table(batch), path)
        return subprocess.run([sys.executable, "-c", f"""
import json
from generic_data_ingestor_framework_spark.pipeline import run_pipeline
from generic_data_ingestor_framework_spark.session import get_spark
spark = get_spark(extra_conf={{"spark.sql.warehouse.dir": {wh!r}}})
run_pipeline(spark, {{"source": {{"type": "parquet", "path": {path!r}}}, "steps": [
    {{"op": "scd2_apply", "table": "hist", "key": "k", "attrs": ["seg"], "gen": {gen}}}]}})
print(json.dumps(sorted(map(list, spark.table("hist").collect()), key=str)))
"""], capture_output=True, text=True, cwd=REPO, timeout=300)

    out = apply({"k": [1, 2], "seg": ["a", "b"], "is_deleted": [False, False]}, 0)
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1]) == [[1, "a", 0, None], [2, "b", 0, None]]
    # key 1 changes, key 2 is deleted, key 3 is new
    out = apply({"k": [1, 2, 3], "seg": ["a2", "b", "c"], "is_deleted": [False, True, False]}, 1)
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1]) == [
        [1, "a", 0, 1], [1, "a2", 1, None], [2, "b", 0, 1], [3, "c", 1, None]
    ]


def test_cli_rerun_appends_to_the_table_an_earlier_process_wrote(tmp_path):
    """Each process starts with an empty session catalog; the table an
    earlier run left under the warehouse is attached and appended to,
    by the CLI and by the pipeline's table sink, and read by a later
    process. The data holds a dot-named key, in both modes."""
    data = tmp_path / "data"
    data.mkdir()
    (data / "dot.json").write_text(json.dumps({"a.b": 1, "c": "x"}))
    (data / "plain.json").write_text(json.dumps({"c": "z"}))
    wh = str(tmp_path / "wh")

    def run(*args):
        return subprocess.run(
            [sys.executable, *args], capture_output=True, text=True, cwd=REPO, timeout=300
        )

    def cli(directory, *args):
        return run(
            "-m", "generic_data_ingestor_framework_spark", str(directory),
            "--warehouse", wh, "--table", "t", *args,
        )

    for mode in ("parity", "bulk"):
        out = cli(data, "--mode", mode)
        assert out.returncode == 0, out.stderr[-2000:]
        assert "Files processed:  2" in out.stdout and "Wrote 2 rows" in out.stdout
        assert "Traceback" not in out.stderr and "DataFrameQueryContextLogger" not in out.stderr
    out = run("-c", f"""
import json
from generic_data_ingestor_framework_spark.pipeline import run_pipeline
from generic_data_ingestor_framework_spark.session import get_spark
spark = get_spark(extra_conf={{"spark.sql.warehouse.dir": {wh!r}}})
run_pipeline(spark, {{"source": {{"type": "directory", "path": {str(data)!r}}},
                      "sink": {{"type": "table", "name": "t"}}}})
print(json.dumps(sorted(map(list, spark.table("t").select("c", "`a.b`").collect()), key=str)))
""")
    assert out.returncode == 0, out.stderr[-2000:]
    # bulk gives the absent key "" (one read of both files), parity NULL
    assert json.loads(out.stdout.splitlines()[-1]) == [
        ["x", "1"], ["x", "1"], ["x", "1"], ["z", ""], ["z", None], ["z", None]
    ]
    # another key set: the reference's insert fails on the new column
    other = tmp_path / "other"
    other.mkdir()
    (other / "d.json").write_text(json.dumps({"c": "y", "d": 1}))
    out = cli(other)
    assert out.returncode == 1 and "Traceback" not in out.stderr
    assert [ln for ln in out.stderr.splitlines() if "error" in ln.lower()] == [
        "error: table t has columns ['a.b', 'c', '_source_file']; "
        "this data has ['c', 'd', '_source_file']"
    ]


def test_cli_rerun_after_a_run_that_only_created_the_table(tmp_path):
    """A process that created the table but never inserted leaves an
    empty directory under the warehouse. That is no table to attach:
    the next CLI run creates the table there, writes its rows and
    exits 0."""
    data = tmp_path / "data"
    data.mkdir()
    (data / "a.json").write_text(json.dumps([{"x": 1}, {"x": 2}]))
    wh = tmp_path / "wh"

    def run(*args):
        return subprocess.run(
            [sys.executable, *args], capture_output=True, text=True, cwd=REPO, timeout=300
        )

    first = run("-c", f"""
from generic_data_ingestor_framework_spark import sink
from generic_data_ingestor_framework_spark.session import get_spark
spark = get_spark(extra_conf={{"spark.sql.warehouse.dir": {str(wh)!r}}})
df = spark.createDataFrame([("1", "a.json")], "x string, _source_file string")
sink.create_table(spark, df, "t")
""")
    assert first.returncode == 0, first.stderr[-2000:]
    assert (wh / "t").is_dir() and not any((wh / "t").iterdir())
    out = run(
        "-m", "generic_data_ingestor_framework_spark", str(data),
        "--warehouse", str(wh), "--table", "t", "--preview", "5",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Wrote 2 rows" in out.stdout
    assert "Traceback" not in out.stderr


def test_cli_reingest_of_a_changed_directory(spark, tmp_path, capsys):
    """One session runs the CLI over a directory, then again after a
    file is added, one changes and one is deleted. The second run
    reports the directory as it now is, and appends its rows to the
    table the first run wrote: nothing the first run listed or memoized
    reaches the second."""
    from generic_data_ingestor_framework_spark.__main__ import main

    data = tmp_path / "data"
    data.mkdir()
    (data / "a.json").write_text(json.dumps([{"id": "a1", "v": 1}, {"id": "a2", "v": 2}]))
    (data / "b.json").write_text(json.dumps([{"id": "b1", "v": 3}]))
    (data / "c.jsonl").write_text('{"id": "c1", "v": 4}\n')

    def cli() -> list[str]:
        assert main([str(data), "--table", "t_cli_reingest"]) == 0
        return [ln for ln in capsys.readouterr().out.splitlines() if not ln.startswith("Elapsed")]

    assert cli() == [
        "Files processed:  3", "Files failed:     0", "Total records:    4",
        "Dropped non-dict: 0", "Wrote 4 rows to table 't_cli_reingest'.",
    ]
    (data / "d.json").write_text(json.dumps({"id": "d1", "v": 5}))
    (data / "b.json").write_text(json.dumps([{"id": "b1", "v": 30}, {"id": "b2", "v": 31}]))
    (data / "c.jsonl").unlink()
    assert cli() == [
        "Files processed:  3", "Files failed:     0", "Total records:    5",
        "Dropped non-dict: 0", "Wrote 5 rows to table 't_cli_reingest'.",
    ]
    rows = spark.table("t_cli_reingest").select("id", "v", "_source_file").collect()
    first = [("a1", "1", "a.json"), ("a2", "2", "a.json"), ("b1", "3", "b.json"),
             ("c1", "4", "c.jsonl")]
    second = [("a1", "1", "a.json"), ("a2", "2", "a.json"), ("b1", "30", "b.json"),
              ("b2", "31", "b.json"), ("d1", "5", "d.json")]
    assert sorted(map(tuple, rows)) == sorted(first + second)


def test_cli_missing_dir_exit_code(tmp_path):
    out = subprocess.run(
        [sys.executable, "-m", "generic_data_ingestor_framework_spark", str(tmp_path / "nope")],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert out.returncode == 2
    assert "does not exist" in out.stderr


def test_cli_sqlite_artifact(spark, tmp_path, capsys):
    import json as _json
    import sqlite3

    d = tmp_path / "data"
    d.mkdir()
    (d / "r.json").write_text(_json.dumps([{"id": 1, "name": "x"}]))
    db = tmp_path / "out.db"
    from generic_data_ingestor_framework_spark.__main__ import main

    assert main([str(d), "--table", "t_cli_sqlite", "--sqlite", str(db)]) == 0
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM t_cli_sqlite").fetchone()[0] == 1
    con.close()


def test_orc_and_xml_ingest_roundtrip(spark, tmp_path):
    """The two engine-extension formats (built-in Spark sources): write
    with the sink, rediscover + ingest through the normal scan path
    (classification by extension, lineage, all-TEXT parity), both
    per-file and bulk modes."""
    from generic_data_ingestor_framework_spark import sink
    from generic_data_ingestor_framework_spark.ingest import ingest_directory

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id bigint, name string, v double"
    )
    d = tmp_path / "mixed"
    d.mkdir()
    sink.write_orc(src.coalesce(1), str(d / "part.orc"))
    sink.write_xml(src.coalesce(1), str(d / "part.xml"))
    # Spark writes directories; the scanner classifies FILES — move the
    # part files up under the right extensions (what an external
    # producer would hand us)
    import shutil

    for sub, ext in (("part.orc", ".orc"), ("part.xml", ".xml")):
        made = [p for p in (d / sub).iterdir() if p.name.startswith("part-")]
        assert made, f"no output parts for {sub}"
        tgt = d / f"data_{ext.lstrip('.')}{ext}"
        shutil.move(str(made[0]), str(tgt))
        shutil.rmtree(d / sub)

    for mode in ("parity", "bulk"):
        df, report = ingest_directory(spark, d, mode=mode)
        assert report.files_processed == 2, (mode, report.errors)
        rows = df.select("id", "name", "v", "_source_file").collect()
        assert len(rows) == 4  # 2 rows from each format
        assert {r["_source_file"] for r in rows} == {"data_orc.orc", "data_xml.xml"}
        # the all-TEXT projection is the default in both modes
        assert {r["id"] for r in rows} == {"1", "2"}


def test_gzip_text_formats_ingest(spark, tmp_path):
    """.json.gz / .jsonl.gz / .tsv.gz classify to their inner format
    and ingest through Spark's transparent codec decompression, in both
    parity and bulk modes (layout + separator decided on the inner
    extension, encoding sniffed on decompressed bytes)."""
    import gzip
    import json as _json

    from generic_data_ingestor_framework_spark.ingest import ingest_directory

    d = tmp_path / "gz"
    d.mkdir()
    with gzip.open(d / "arr.json.gz", "wt", encoding="utf-8") as fh:
        fh.write(_json.dumps([{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]))
    with gzip.open(d / "lines.jsonl.gz", "wt", encoding="utf-8") as fh:
        fh.write('{"id": 3, "name": "c"}\n{"id": 4, "name": "d"}\n')
    with gzip.open(d / "tab.tsv.gz", "wt", encoding="utf-8") as fh:
        fh.write("id\tname\n5\te\n")

    for mode in ("parity", "bulk"):
        df, report = ingest_directory(spark, d, mode=mode)
        assert report.files_processed == 3, (mode, report.errors)
        rows = {r["id"]: r["name"] for r in df.select("id", "name").collect()}
        # all-TEXT in both modes
        assert rows == {"1": "a", "2": "b", "3": "c", "4": "d", "5": "e"}, (mode, rows)
