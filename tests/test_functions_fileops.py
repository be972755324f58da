"""UDF registry + file-operation tests (A27, §2.C UDF gap)."""

from __future__ import annotations

from generic_data_ingestor_framework_spark.fileops import FileOps
from generic_data_ingestor_framework_spark.functions import register_all

from conftest import SF_SMALL as SF


def test_udf_registry_sql_path(spark):
    register_all(spark)
    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView("d_udf")
    row = spark.sql(
        "SELECT norm_text('  Hello   WORLD  ') AS t, vowel_count('education') AS v, "
        "py_token_count('a b c') AS n"
    ).collect()[0]
    assert row["t"] == "hello world"
    assert row["v"] == 5
    assert row["n"] == 3


def test_pandas_udf_over_table(spark):
    register_all(spark)
    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView("d_udf2")
    out = spark.sql("SELECT doc_id, vowel_count(text) AS v FROM d_udf2")
    assert out.filter("v <= 0").count() == 0


def test_fileops_copy_move_delete(tmp_path):
    ops = FileOps()
    src = tmp_path / "a.txt"
    src.write_text("data")
    assert ops.copy_file(src, tmp_path / "b.txt")
    assert not ops.copy_file(src, tmp_path / "b.txt")          # no overwrite
    assert ops.copy_file(src, tmp_path / "b.txt", overwrite=True)
    assert ops.move_file(tmp_path / "b.txt", tmp_path / "c.txt")
    assert not (tmp_path / "b.txt").exists()
    assert ops.delete_file(tmp_path / "c.txt")
    assert not ops.delete_file(tmp_path / "missing.txt")
    hist = ops.get_operation_history()
    assert [h["ok"] for h in hist] == [True, False, True, True, True, False]
