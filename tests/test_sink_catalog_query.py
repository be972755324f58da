"""Sink / catalog / query surface tests (A12-A19)."""

from __future__ import annotations

import pytest

from generic_data_ingestor_framework_spark import catalog, query, sink


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, name string"
    )


def test_create_table_if_not_exists_and_insert(spark, small_df):
    t = "t_sink_roundtrip"
    assert sink.create_table(spark, small_df, t)
    assert sink.create_table(spark, small_df, t)  # idempotent (IF NOT EXISTS)
    n = sink.insert_data(spark, small_df, t)
    assert n == 3
    n2 = sink.insert_data(spark, small_df, t)
    assert n2 == 3  # rows written by THIS call, not the running total
    assert spark.table(t).count() == 6  # append semantics


def test_create_table_is_metadata_only(spark):
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    # non-nullable at every level: the table must hold them nullable,
    # as saveAsTable does
    df = spark.range(3).select(
        "id", F.struct(F.col("id").alias("x")).alias("s"), F.array("id").alias("a")
    )
    df.limit(0).write.saveAsTable("t_meta_ref")
    spark.sparkContext.setJobGroup("create_table_meta", "create_table")
    try:
        assert sink.create_table(spark, df, "t_meta_only")
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup("create_table_meta") == []
    assert spark.table("t_meta_only").schema == spark.table("t_meta_ref").schema
    assert spark.table("t_meta_only").inputFiles() == []
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_ALREADY_EXISTS"):
        sink.create_table(spark, df, "t_meta_only", if_not_exists=False)
    assert sink.insert_data(spark, df, "t_meta_only") == 3


def test_attach_table_an_earlier_process_left(spark, small_df):
    # files under the warehouse that this session's catalog does not
    # know, as a new process finds an earlier one's table
    location = spark.catalog.getDatabase("default").locationUri + "/t_left_behind"
    small_df.write.parquet(location)
    assert not spark.catalog.tableExists("t_left_behind")
    assert sink.attach_table(spark, "t_left_behind")
    assert query.count_rows(spark, "t_left_behind") == 3
    assert sink.create_table(spark, small_df, "t_left_behind")
    assert sink.insert_data(spark, small_df, "t_left_behind") == 3
    assert query.count_rows(spark, "t_left_behind") == 6
    with pytest.raises(ValueError, match="has columns"):
        sink.create_table(spark, small_df.select("id"), "t_left_behind")
    assert not sink.attach_table(spark, "t_never_written")


def test_catalog_introspection(spark, small_df):
    t = "t_catalog_probe"
    sink.create_table(spark, small_df, t)
    assert catalog.table_exists(spark, t)
    assert not catalog.table_exists(spark, "definitely_absent")
    cols = catalog.describe_table(spark, t)
    assert [c["name"] for c in cols] == ["id", "name"]
    assert t in catalog.list_tables(spark)


def test_preview_and_count(spark, small_df):
    t = "t_preview"
    sink.create_table(spark, small_df, t)
    sink.insert_data(spark, small_df, t)
    assert query.preview(spark, t, limit=2).count() == 2
    assert query.count_rows(spark, t) == 3


def test_execute_query_with_params(spark, small_df):
    small_df.createOrReplaceTempView("t_param")
    out = query.execute_query(
        spark, "SELECT name FROM t_param WHERE id = :id", params={"id": 2}
    )
    assert [r["name"] for r in out.collect()] == ["b"]


def test_write_json_roundtrip(spark, small_df, tmp_path):
    out = str(tmp_path / "j")
    sink.write_json(small_df, out)
    back = spark.read.json(out)
    assert back.count() == 3
    assert {r["name"] for r in back.collect()} == {"a", "b", "c"}


def test_write_text_roundtrip(spark, small_df, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "t")
    sink.write_text(small_df.select(F.concat_ws("|", "id", "name").alias("line")), out)
    lines = {r["value"] for r in spark.read.text(out).collect()}
    assert lines == {"1|a", "2|b", "3|c"}


def test_execute_query_swallow_errors(spark):
    # reference contract: bad SQL → [] instead of raising
    assert query.execute_query(spark, "SELECT FROM nowhere", swallow_errors=True) is None
    with pytest.raises(Exception):
        query.execute_query(spark, "SELECT FROM nowhere")


def test_write_sqlite_portable_artifact(spark, tmp_path):
    """A user must be able to open the emitted .db with plain sqlite3 —
    the reference workflow's hand-off artifact (sqlite_connector parity)."""
    import datetime
    import json
    import sqlite3

    df = spark.createDataFrame(
        [(1, "a", 1.5, True, datetime.date(2024, 1, 2), {"k": "v"})],
        "id bigint, name string, score double, ok boolean, d date, meta map<string,string>",
    )
    db = tmp_path / "out.db"
    assert sink.write_sqlite(df, db, "records") == 1
    con = sqlite3.connect(db)
    cols = {r[1]: r[2] for r in con.execute("PRAGMA table_info(records)")}
    assert cols == {
        "id": "INTEGER", "name": "TEXT", "score": "REAL",
        "ok": "INTEGER", "d": "TEXT", "meta": "TEXT",
    }
    row = con.execute("SELECT id, name, score, ok, d, meta FROM records").fetchone()
    assert row[:5] == (1, "a", 1.5, 1, "2024-01-02")
    assert json.loads(row[5]) == {"k": "v"}
    # append on second call (reference insert_data semantics)
    assert sink.write_sqlite(df, db, "records") == 1
    assert con.execute("SELECT count(*) FROM records").fetchone()[0] == 2
    con.close()


def test_backup_on_overwrite(spark, small_df, tmp_path):
    """A25 backup contract: overwrite with backup=True must leave the
    prior output readable in a timestamped sibling."""
    out = str(tmp_path / "out.json")
    sink.write_json(small_df, out)
    sink.write_json(small_df.filter("id = 1"), out, backup=True)
    backups = list(tmp_path.glob("out.backup_*.json"))
    assert len(backups) == 1
    old = spark.read.json(str(backups[0]))
    assert old.count() == 3  # the pre-overwrite content
    assert spark.read.json(out).count() == 1


def test_merge_into_upserts(spark):
    t = "t_merge_target"
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id bigint, name string, v bigint"
    )
    base.write.mode("overwrite").saveAsTable(t)
    updates = spark.createDataFrame(
        [(2, "b2", 21), (4, "d", 40)], "id bigint, name string, v bigint"
    )
    stats = sink.merge_into(spark, t, updates, ["id"])
    assert stats == {"updated": 1, "inserted": 1, "total": 4}
    rows = {r["id"]: (r["name"], r["v"]) for r in spark.table(t).collect()}
    assert rows == {1: ("a", 10), 2: ("b2", 21), 3: ("c", 30), 4: ("d", 40)}


def test_merge_into_partitioned_rewrites_only_touched(spark, tmp_path):
    """Dynamic-partition upsert: untouched partition files must be
    byte-identical (same path, mtime, content) after the merge."""
    import glob
    import hashlib
    import os

    t = "t_merge_part"
    base = spark.createDataFrame(
        [(1, "a", 10, "p1"), (2, "b", 20, "p1"), (3, "c", 30, "p2")],
        "id bigint, name string, v bigint, pt string",
    )
    base.write.mode("overwrite").partitionBy("pt").saveAsTable(t)

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    p2_files = sorted(glob.glob(os.path.join(warehouse, t, "pt=p2", "*.parquet")))
    assert p2_files
    before = {
        f: (os.path.getmtime(f), hashlib.md5(open(f, "rb").read()).hexdigest())
        for f in p2_files
    }

    updates = spark.createDataFrame(
        [(2, "b2", 21, "p1"), (4, "d", 40, "p1")],
        "id bigint, name string, v bigint, pt string",
    )
    stats = sink.merge_into(spark, t, updates, ["id"], partition_cols=["pt"])
    assert stats == {"updated": 1, "inserted": 1, "total": 3}

    rows = {r["id"]: (r["name"], r["v"], r["pt"]) for r in spark.table(t).collect()}
    assert rows == {
        1: ("a", 10, "p1"), 2: ("b2", 21, "p1"),
        3: ("c", 30, "p2"), 4: ("d", 40, "p1"),
    }
    after = {
        f: (os.path.getmtime(f), hashlib.md5(open(f, "rb").read()).hexdigest())
        for f in sorted(glob.glob(os.path.join(warehouse, t, "pt=p2", "*.parquet")))
    }
    assert after == before, "untouched partition p2 was rewritten"


def test_write_jdbc_roundtrip_derby(spark, tmp_path):
    """The distributed JDBC sink, round-tripped for real against
    embedded Derby (the one JDBC driver Spark ships): every partition
    opens its own connection; overwrite drops and recreates."""
    from pyspark.sql import functions as F

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("grp"))
    sink.write_jdbc(df.coalesce(4), url, "T_JDBC", mode="overwrite", properties=props)
    # append path too: same table, second batch
    sink.write_jdbc(
        spark.range(100, 120).select(F.col("id"), (F.col("id") % 7).alias("grp")),
        url, "T_JDBC", mode="append", properties=props,
    )
    back = spark.read.jdbc(url, "T_JDBC", properties=props)
    assert sorted(r["id"] for r in back.collect()) == list(range(120))


def test_read_jdbc_parallel_range_partitioned(spark, tmp_path):
    """The JDBC source's parallel path: range-partitioning on a numeric
    column issues one query per partition (4 concurrent connections),
    and predicate-split reads cover non-numeric splits — both must
    return exactly the written rows."""
    from pyspark.sql import functions as F

    url = f"jdbc:derby:{tmp_path}/derbydb_r;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(200).select(F.col("id"), (F.col("id") % 3).alias("grp"))
    sink.write_jdbc(df, url, "T_PAR", mode="overwrite", properties=props)
    par = sink.read_jdbc(
        spark, url, "T_PAR",
        partition_column="id", lower=0, upper=200, num_partitions=4,
        properties=props,
    )
    assert par.rdd.getNumPartitions() == 4
    assert sorted(r["id"] for r in par.collect()) == list(range(200))
    pred = sink.read_jdbc(
        spark, url, "T_PAR",
        predicates=['"grp" = 0', '"grp" = 1', '"grp" = 2'], properties=props,
    )
    assert pred.rdd.getNumPartitions() == 3
    assert sorted(r["id"] for r in pred.collect()) == list(range(200))


def test_merge_into_rejects_duplicate_keys_without_order(spark):
    """A CDC batch with two versions of one key must not leave the
    target with duplicate keys: without order_col the merge raises;
    with order_col the highest version wins."""
    spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "id bigint, v string, seq bigint").write.mode(
        "overwrite"
    ).saveAsTable("t_mrg_dup")
    updates = spark.createDataFrame(
        [(2, "b2", 5), (2, "b3", 9), (3, "c", 1)], "id bigint, v string, seq bigint"
    )
    with pytest.raises(ValueError, match="multiple rows for the same key"):
        sink.merge_into(spark, "t_mrg_dup", updates, ["id"])
    res = sink.merge_into(spark, "t_mrg_dup", updates, ["id"], order_col="seq")
    rows = sorted((r["id"], r["v"]) for r in spark.table("t_mrg_dup").collect())
    assert rows == [(1, "a"), (2, "b3"), (3, "c")]
    assert res["updated"] == 1 and res["inserted"] == 1


def test_write_sqlite_hostile_column_names(spark, tmp_path):
    """JSON keys are arbitrary: reserved words, spaces, dots, and
    embedded quotes must round-trip into the sqlite artifact."""
    import sqlite3

    df = spark.createDataFrame(
        [(1, "x", "y", "z", "w")], ["id", "select", "with space", 'quo"te', "a.b"]
    )
    db = str(tmp_path / "hostile.db")
    n = sink.write_sqlite(df, db, 'ta"ble')
    assert n == 1
    con = sqlite3.connect(db)
    cur = con.execute('SELECT * FROM "ta""ble"')
    assert [d[0] for d in cur.description] == ["id", "select", "with space", 'quo"te', "a.b"]
    assert cur.fetchall() == [(1, "x", "y", "z", "w")]


def test_merge_into_order_col_tolerates_map_columns(spark):
    """Tie-break must skip non-orderable MapType columns instead of
    raising AnalysisException when order_col is passed."""
    t = "t_merge_map"
    base = spark.createDataFrame(
        [(1, 1, {"k": "old"})], "id bigint, seq bigint, props map<string,string>"
    )
    base.write.mode("overwrite").saveAsTable(t)
    updates = spark.createDataFrame(
        [(1, 2, {"k": "mid"}), (1, 3, {"k": "new"}), (2, 1, {"k": "ins"})],
        "id bigint, seq bigint, props map<string,string>",
    )
    stats = sink.merge_into(spark, t, updates, ["id"], order_col="seq")
    assert stats == {"updated": 1, "inserted": 1, "total": 2}
    rows = {r["id"]: (r["seq"], dict(r["props"])) for r in spark.table(t).collect()}
    assert rows == {1: (3, {"k": "new"}), 2: (1, {"k": "ins"})}


def test_merge_into_order_col_tolerates_nested_map_columns(spark):
    """Orderability excludes maps at ANY depth: array<map<...>> must be
    skipped by the tie-break too."""
    t = "t_merge_nested_map"
    base = spark.createDataFrame(
        [(1, 1, [{"k": "old"}])],
        "id bigint, seq bigint, tags array<map<string,string>>",
    )
    base.write.mode("overwrite").saveAsTable(t)
    updates = spark.createDataFrame(
        [(1, 2, [{"k": "new"}]), (1, 3, [{"k": "newest"}])],
        "id bigint, seq bigint, tags array<map<string,string>>",
    )
    stats = sink.merge_into(spark, t, updates, ["id"], order_col="seq")
    assert stats == {"updated": 1, "inserted": 0, "total": 1}
    row = spark.table(t).collect()[0]
    assert row["seq"] == 3 and dict(row["tags"][0]) == {"k": "newest"}


def test_write_csv_roundtrip_plain_and_gzip(spark, small_df, tmp_path):
    """CSV sink round-trips through the engine's own CSV ingest path,
    plain and gzip-compressed."""
    from generic_data_ingestor_framework_spark.ingest import read_csv_file
    import glob

    out = str(tmp_path / "c")
    sink.write_csv(small_df.coalesce(1), out)
    part = glob.glob(out + "/part-*.csv")[0]
    back = read_csv_file(spark, part)
    assert back.count() == 3
    assert {r["name"] for r in back.collect()} == {"a", "b", "c"}

    gz = str(tmp_path / "cgz")
    sink.write_csv(small_df.coalesce(1), gz, compression="gzip")
    gzpart = glob.glob(gz + "/part-*.csv.gz")[0]
    backgz = read_csv_file(spark, gzpart)
    assert {r["name"] for r in backgz.collect()} == {"a", "b", "c"}


def test_scd2_apply_multi_generation(spark):
    """scd2_apply across two generations: closed rows pass through,
    a no-op update creates no version, a delete closes without a
    successor, a RE-INSERT after a delete opens a fresh row, and a
    second change chains versions correctly."""
    from generic_data_ingestor_framework_spark.relational import scd2_apply

    schema = "k bigint, seg string, bal double, valid_from int, valid_to int"
    h0 = spark.createDataFrame(
        [(1, "A", 10.0, 0, None), (2, "B", 20.0, 0, None)], schema
    )
    us = "k bigint, seg string, bal double, is_deleted boolean"
    u1 = spark.createDataFrame(
        [(1, "A2", 10.0, False), (2, "B", 20.0, True), (3, "C", 30.0, False)], us
    )
    h1 = scd2_apply(h0, u1, "k", ["seg", "bal"], gen=1)
    got1 = {tuple(r) for r in h1.collect()}
    assert got1 == {
        (1, "A", 10.0, 0, 1), (1, "A2", 10.0, 1, None),
        (2, "B", 20.0, 0, 1),
        (3, "C", 30.0, 1, None),
    }
    # gen 2: no-op on k=1, re-insert k=2, value change on k=3
    u2 = spark.createDataFrame(
        [(1, "A2", 10.0, False), (2, "B9", 21.0, False), (3, "C", 31.0, False)], us
    )
    h2 = scd2_apply(h1, u2, "k", ["seg", "bal"], gen=2)
    got2 = {tuple(r) for r in h2.collect()}
    assert got2 == {
        (1, "A", 10.0, 0, 1), (1, "A2", 10.0, 1, None),   # no-op: untouched
        (2, "B", 20.0, 0, 1), (2, "B9", 21.0, 2, None),   # re-insert after delete
        (3, "C", 30.0, 1, 2), (3, "C", 31.0, 2, None),    # chained versions
    }
