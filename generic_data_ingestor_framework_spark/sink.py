"""Write sinks (SURVEY §2 A12-A13, A25-A26).

The reference's sink is a SQLite table created with all-TEXT DDL and
filled by batched ``executemany`` with rollback-on-error
(`src/connectors/sqlite_connector.py:131-222`). Spark equivalents:

- DDL → a catalog ``createTable`` (metadata only); insert →
  ``saveAsTable`` in append mode;
  batching IS partitioning — each task commits its own split, and the
  commit protocol discards failed task output (the rollback analogue).
- atomic JSON/text writes (`file_handler.py:181-266`) → Spark's
  job-commit protocol: output appears only after a successful job.

Scale notes: writers repartition only when the caller asks — a 100 TB
sink wants the upstream partitioning preserved, not a coalesce through
one writer. ``maxRecordsPerFile`` bounds file sizes without a shuffle.
"""

from __future__ import annotations

import shutil
import sqlite3
from datetime import datetime
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def attach_table(spark: SparkSession, table: str) -> bool:
    """Register ``table`` if an earlier process left it under its
    database's directory in the warehouse: the session catalog is
    in-memory, so a new process starts without the tables earlier ones
    wrote. Metadata only, over the files as they are; the schema is read
    from them. The table is then external: dropping it keeps its files.
    Returns whether such a table was found."""
    db, _, name = table.rpartition(".")
    location = spark.catalog.getDatabase(db or spark.catalog.currentDatabase()).locationUri
    jpath = spark._jvm.org.apache.hadoop.fs.Path(location.rstrip("/") + "/" + name.lower())
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not (fs.exists(jpath) and _has_data_files(fs, jpath)):
        return False
    spark.catalog.createTable(table, path=jpath.toString())
    return True


def _has_data_files(fs, jpath) -> bool:
    """Whether the directory holds a file Spark would read: one whose
    path below it has no component starting with ``_`` or ``.``
    (``_SUCCESS``, ``.crc``, ``_temporary/``). An earlier process that
    created a table but never inserted leaves only an empty directory,
    from which no schema can be read."""
    root = jpath.toUri().getPath().rstrip("/")
    files = fs.listFiles(jpath, True)
    while files.hasNext():
        rel = files.next().getPath().toUri().getPath()[len(root):]
        if not any(p.startswith(("_", ".")) for p in rel.split("/") if p):
            return True
    return False


def create_table(
    spark: SparkSession, df: DataFrame, table: str, if_not_exists: bool = True
) -> bool:
    """A12: CREATE TABLE [IF NOT EXISTS] with the DataFrame's schema,
    in the session's default format. Metadata only: no job runs and no
    file is written (columns are nullable, as ``saveAsTable`` makes
    them). ``if_not_exists=False`` raises on an existing table.
    With ``if_not_exists``, a table an earlier process wrote is attached
    instead (``attach_table``, which reads its schema from its files),
    so a re-run appends to it, as the reference's SQLite file does; a
    table whose columns are not ``df``'s raises ``ValueError``.
    Returns True if the table exists after the call."""
    if if_not_exists and (spark.catalog.tableExists(table) or attach_table(spark, table)):
        have = spark.table(table).columns
        if sorted(c.lower() for c in have) != sorted(c.lower() for c in df.columns):
            raise ValueError(f"table {table} has columns {have}; this data has {df.columns}")
    else:
        spark.catalog.createTable(table, schema=df.schema)
    return spark.catalog.tableExists(table)


def insert_data(
    spark: SparkSession, df: DataFrame, table: str, max_records_per_file: int | None = None
) -> int:
    """A13: batched append. Partition-parallel; the task-commit
    protocol gives the reference's rollback-on-error semantics
    (failed tasks leave no visible output). Returns the number of rows
    written by THIS call (counted with an Observation on the written
    plan — no second scan, and unaffected by pre-existing table rows)."""
    obs = Observation("insert_data_rows")
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.saveAsTable(table)
    return int(obs.get["n"])


def backup_existing(path: str | Path) -> str | None:
    """Reference ``_create_backup`` parity (`file_handler.py:387-392`):
    before an overwrite, copy the existing output to a timestamped
    sibling (``out.backup_YYYYmmdd_HHMMSS.json``). Spark outputs are
    directories, so the copy is a tree copy. Returns the backup path,
    or None if nothing existed."""
    p = Path(path)
    if not p.exists():
        return None
    ts = datetime.now().strftime("%Y%m%d_%H%M%S")
    backup = p.with_suffix(f".backup_{ts}{p.suffix}")
    if p.is_dir():
        shutil.copytree(p, backup)
    else:
        shutil.copy2(p, backup)
    return str(backup)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", backup: bool = False) -> None:
    if backup:
        backup_existing(path)
    df.write.mode(mode).parquet(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", backup: bool = False) -> None:
    """ORC sink (built-in columnar source; ingest reads `.orc` back)."""
    if backup:
        backup_existing(path)
    df.write.mode(mode).orc(path)


def write_xml(df: DataFrame, path: str, mode: str = "overwrite", backup: bool = False) -> None:
    """XML sink (Spark 4 built-in source); rows are written under the
    same ``record`` tag ``ingest.XML_ROW_TAG`` reads, so round-trips
    are configuration-free."""
    from generic_data_ingestor_framework_spark.ingest import XML_ROW_TAG

    if backup:
        backup_existing(path)
    df.write.mode(mode).format("xml").option("rowTag", XML_ROW_TAG).save(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite", backup: bool = False) -> None:
    """A25: JSON sink — atomicity via the job commit protocol (the
    Spark-native form of temp-file-write → validate → rename).
    ``backup=True`` snapshots any existing output first (A25's
    backup-then-overwrite contract)."""
    if backup:
        backup_existing(path)
    df.write.mode(mode).json(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    backup: bool = False,
    sep: str = ",",
    compression: str | None = None,
) -> None:
    """CSV sink (header row on; ``ingest.read_csv_file`` reads it
    back). ``compression='gzip'`` produces ``.csv.gz`` part files the
    transparent-gzip ingest path also accepts."""
    if backup:
        backup_existing(path)
    w = df.write.mode(mode).option("header", "true").option("sep", sep)
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite", backup: bool = False) -> None:
    """A26: text sink; the input must be a single string column."""
    if backup:
        backup_existing(path)
    df.write.mode(mode).text(path)


_SQLITE_TYPES: list[tuple[type, str]] = [
    (T.BooleanType, "INTEGER"),
    (T.IntegralType, "INTEGER"),
    (T.FractionalType, "REAL"),
    (T.StringType, "TEXT"),
]


def _sqlite_type(dtype: T.DataType) -> str:
    for spark_t, sql_t in _SQLITE_TYPES:
        if isinstance(dtype, spark_t):
            return sql_t
    return "TEXT"  # dates, timestamps, nested types → text form


def write_sqlite(
    df: DataFrame, db_path: str | Path, table: str, batch_size: int = 1000
) -> int:
    """Portable single-file artifact: the reference workflow ends with
    an ``out.db`` any sqlite3 client can open
    (`sqlite_connector.py:131-222`, README "Query your data"); this
    gives the Spark pipeline the same hand-off.

    DELIBERATELY a funnel, not a distributed sink: rows stream to the
    driver one partition at a time (``toLocalIterator`` — bounded
    driver memory) into batched ``executemany`` with a single
    transaction and rollback-on-error, exactly the reference's insert
    protocol. Use ``saveAsTable``/``write_parquet`` for the 100 TB
    path; this is for the "walk away with a .db file" tail of a run
    (summaries, samples, reports). Returns rows inserted."""
    def q(name: str) -> str:
        # SQLite identifier quoting: embedded " doubles. JSON keys are
        # arbitrary, so hostile names (quotes, dots, keywords) must
        # round-trip; df[name] (not F.col) for the same reason — F.col
        # parses dots as struct access.
        return '"' + name.replace('"', '""') + '"'

    out = df
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, (T.StructType, T.ArrayType, T.MapType)):
            out = out.withColumn(f_.name, F.to_json(out[f_.name]))
        elif isinstance(f_.dataType, (T.DateType, T.TimestampType)):
            out = out.withColumn(f_.name, out[f_.name].cast("string"))
    cols = out.schema.fields
    ddl_cols = ", ".join(f"{q(c.name)} {_sqlite_type(c.dataType)}" for c in cols)
    names = ", ".join(q(c.name) for c in cols)
    params = ", ".join("?" for _ in cols)
    con = sqlite3.connect(str(db_path))
    try:
        con.execute(f"CREATE TABLE IF NOT EXISTS {q(table)} ({ddl_cols})")
        insert_sql = f"INSERT INTO {q(table)} ({names}) VALUES ({params})"
        n = 0
        batch: list[tuple] = []
        for row in out.toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                con.executemany(insert_sql, batch)
                n += len(batch)
                batch = []
        if batch:
            con.executemany(insert_sql, batch)
            n += len(batch)
        con.commit()
        return n
    except Exception:
        con.rollback()
        raise
    finally:
        con.close()


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", properties: dict | None = None
) -> None:
    """Distributed JDBC sink (each partition opens its own connection —
    the scale-out counterpart of ``write_sqlite``). Requires the
    target's JDBC driver jar on the Spark classpath; round-trip tested
    against embedded Derby (shipped with Spark) in
    ``tests/test_sink_catalog_query.py``."""
    df.write.jdbc(url, table, mode=mode, properties=properties or {})


def read_jdbc(
    spark,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower: int | None = None,
    upper: int | None = None,
    num_partitions: int | None = None,
    predicates: list[str] | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """Distributed JDBC source — the read half of ``write_jdbc``.

    A bare read issues ONE query on ONE executor; at warehouse scale
    that's the classic single-connection bottleneck. Pass
    ``partition_column`` (a numeric/indexed column) with
    ``lower``/``upper``/``num_partitions`` and Spark issues that many
    range-partitioned queries IN PARALLEL (each executor its own
    connection, the same per-partition fan-out as the sink), or pass
    explicit ``predicates`` (one WHERE clause per partition) for
    non-numeric splits. Filters and column pruning push into the
    remote query via JDBC pushdown. Round-trip tested against embedded
    Derby including the parallel range-partitioned path."""
    props = properties or {}
    if predicates is not None:
        return spark.read.jdbc(url, table, predicates=predicates, properties=props)
    if partition_column is not None:
        if lower is None or upper is None:
            raise ValueError(
                "partition_column requires lower and upper bounds "
                f"(got lower={lower!r}, upper={upper!r})"
            )
        return spark.read.jdbc(
            url,
            table,
            column=partition_column,
            lowerBound=lower,
            upperBound=upper,
            numPartitions=num_partitions or 4,
            properties=props,
        )
    return spark.read.jdbc(url, table, properties=props)


def _one_row_per_key(
    updates: DataFrame, key_cols: list[str], order_col: str | None
) -> DataFrame:
    """MERGE precondition: at most one update row per key. With
    ``order_col`` (a CDC sequence/timestamp), keep the highest per key
    (last-wins, ties broken deterministically on the remaining
    columns). Without it, duplicate keys RAISE — standard MERGE
    semantics (SQL MERGE and Delta both error on multiple source
    matches); silently inserting both rows would leave the target with
    duplicate keys."""
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    if order_col is not None:
        from pyspark.sql.types import ArrayType, MapType, StructType

        # Spark's orderability rule excludes MapType at ANY nesting
        # depth (array<map<...>>, struct fields, ...) — skip such
        # columns in the deterministic tie-break; the remaining columns
        # still pin a winner for real CDC feeds.
        def _has_map(dt) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return _has_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(_has_map(f.dataType) for f in dt.fields)
            return False

        unorderable = {
            f.name for f in updates.schema.fields if _has_map(f.dataType)
        }
        rest = [
            c for c in updates.columns if c not in key_cols and c not in unorderable
        ]
        w = _W.partitionBy(*key_cols).orderBy(
            _F.desc(order_col), *[_F.desc(c) for c in rest if c != order_col]
        )
        return (
            updates.withColumn("__rn", _F.row_number().over(w))
            .filter(_F.col("__rn") == 1)
            .drop("__rn")
        )
    dups = (
        updates.groupBy(*key_cols)
        .agg(_F.count(_F.lit(1)).alias("__n"))
        .filter(_F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if dups:
        raise ValueError(
            "updates contain multiple rows for the same key "
            f"(e.g. {[tuple(r[c] for c in key_cols) for r in dups]}); "
            "pass order_col to resolve last-wins, or pre-deduplicate"
        )
    return updates


def merge_into(
    spark: SparkSession,
    target_table: str,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
    partition_cols: list[str] | None = None,
) -> dict:
    """Upsert (MERGE INTO analogue) for plain managed tables: rows in
    ``updates`` replace target rows with the same key; unmatched
    update rows are inserted. ``order_col`` resolves multi-version
    batches last-wins; without it duplicate keys raise (see
    ``_one_row_per_key``).

    Without a transactional table format this is the classic
    rewrite-merge: target ⟕anti updates (survivors) ∪ updates, written
    back atomically via the overwrite job commit. The anti join
    broadcasts the update KEYS when small — the common case for CDC
    batches — so the rewrite is one scan of the target.

    With ``partition_cols`` (the target's partition columns) only the
    partitions present in ``updates`` are rewritten (dynamic partition
    overwrite) and files of untouched partitions stay byte-identical on
    disk: the rewrite costs O(touched partitions), not O(table). Keys
    must not move between partitions within one batch (a moved key
    would survive in its old partition); merge without
    ``partition_cols`` for that rarer shape.
    Returns {"updated": n, "inserted": n, "total": n} — ``total``
    counts the rewritten rows (the touched partitions' rows when
    partitioned)."""
    updates = _one_row_per_key(updates, key_cols, order_col)
    target = spark.table(target_table)
    cols = target.columns  # table order (partition columns last)
    if partition_cols:
        parts = updates.select(*partition_cols).distinct()
        target = target.join(F.broadcast(parts), partition_cols, "semi")
    keys = F.broadcast(updates.select(*key_cols).distinct())
    matched = target.join(keys, key_cols, "semi").count()
    survivors = target.join(keys, key_cols, "anti")
    merged = survivors.unionByName(updates.select(*cols)).select(*cols)
    # localCheckpoint cuts the lineage back to the table being
    # overwritten (plain cache() keeps it, and the analyzer rejects
    # overwriting a read target)
    merged = merged.localCheckpoint(eager=True)
    n_total = merged.count()
    if partition_cols:
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").insertInto(target_table)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    else:
        merged.write.mode("overwrite").saveAsTable(target_table)
    # the overwrite replaced files under the table; a same-session
    # reader holding the old file listing would hit FILE_NOT_EXIST —
    # invalidate the relation cache so the next spark.table() re-lists
    spark.catalog.refreshTable(target_table)
    return {
        "updated": matched,
        "inserted": int(updates.count()) - matched,
        "total": n_total,
    }
