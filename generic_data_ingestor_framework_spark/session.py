"""SparkSession factory tuned for both local testing and cluster scale.

Scale notes (100 TB target):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under
  AQE; on a real cluster set it ~2-3x total cores and let AQE coalesce.
- Arrow enabled for any pandas interchange (LLM ops use Pandas UDFs).
- UTC session timezone so event-time semantics are reproducible.
- Generated-code cache sized to the engine's working set. Whole-stage
  codegen compiles each plan into Janino classes kept in ONE JVM-wide
  LRU cache, keyed by the full generated source (so it can never serve
  a stale class), of 100 entries by default. A memo-cleared pass over
  this engine's members cycles through far more distinct classes than
  that, so a warm session recompiled nearly every one of them on every
  pass. ``CODEGEN_CACHE_ENTRIES`` sits above the full member registry's
  working set as ``tools/codegen_census.py`` counts it (figures beside
  the constant); rerun the census when members are added. The cache
  holds code, not results, so ``clear_caches()`` leaves it alone, as it
  leaves the JIT alone.
- ``local_relation`` turns driver-held rows into a JVM ``LocalRelation``
  (through Arrow), not a pickled-RDD frame whose every execution starts
  Python worker tasks.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Classes one memo-cleared pass compiles in a fresh JVM (4-core host,
# local[2], perfbench's sf0.01 tables, tools/codegen_census.py): 25 for
# a CLI run plus five counts, 166 for perfbench's member set, 1,603 for
# the 87-member bench headline, 2,759 for the full member registry.
# Under Spark's default cap of 100 every warm pass recompiled nearly all
# of them (157, ~2,120 and ~4,200 classes); under this cap a warm pass
# compiles 0-6, 12-26 and 52-98. Metaspace after a registry pass:
# 236-240 MB with this cap, 217-232 MB without it.
CODEGEN_CACHE_ENTRIES = 4096

# driver-held rows only: anything larger belongs in a table
LOCAL_RELATION_MAX_ROWS = 10_000


def get_spark(
    app_name: str = "generic_data_ingestor_framework_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    Parameters mirror what a cluster deployment would override via
    ``spark-submit --conf``; nothing here is local-mode-only except the
    default master.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # explicit split/partition sizing: 128 MB input splits and
        # 64 MB post-shuffle targets keep any single partition well
        # inside executor memory at 100 TB (AQE coalesces upward from
        # the advisory size, never above memory-unsafe splits)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # console progress bars interleave with stdout and corrupt
        # machine-read artifacts (the bench's one-line JSON contract)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # static: the JVM-global cache reads it once, at the first codegen
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_relation(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str
) -> DataFrame:
    """Driver-held ``rows`` as a JVM ``LocalRelation`` with ``schema``
    (a ``StructType`` or a DDL string). Arrow carries every value
    exactly (binary64 included) and an empty ``rows`` gives an empty
    relation of the same schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    assert len(rows) <= LOCAL_RELATION_MAX_ROWS, (
        f"{len(rows)} rows is not a driver-held relation "
        f"(limit {LOCAL_RELATION_MAX_ROWS})"
    )
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
