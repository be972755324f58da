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
        # the all-TEXT projection is the parity-mode contract; the
        # bulk scale path keeps native types
        if mode == "parity":
            assert {r["id"] for r in rows} == {"1", "2"}
        else:
            assert {r["id"] for r in rows} == {1, 2}


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
        rows = {r["id"] if mode == "bulk" else int(r["id"]): r["name"]
                for r in df.select("id", "name").collect()}
        # bulk json keeps native ints; parity is all-TEXT; tsv ids are text
        rows = {int(k): v for k, v in rows.items()}
        assert rows == {1: "a", 2: "b", 3: "c", 4: "d", 5: "e"}, (mode, rows)
