"""Run metrics (SURVEY §2 A22-A23).

The reference computes per-run counters and throughput in the driver
(`src/core/application.py:122-142`, `json_processor.py:106-122`).
Spark-native replacements: ``df.observe`` named metrics (collected by a
listener at action time, no extra pass) and accumulators for imperative
paths. The IngestReport in ``ingest.py`` carries the per-run numbers;
this module adds the observation plumbing for pipeline stages, and
``codegen_stats`` reads the JVM's generated-code compiler counters.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def observed_count(df: DataFrame, name: str = "ingest_metrics") -> tuple[DataFrame, Observation]:
    """Attach an Observation counting rows + null lineage as the plan
    runs — zero extra job, unlike a separate ``.count()``."""
    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("_source_file").isNull(), 1).otherwise(0)).alias(
            "n_missing_lineage"
        )
        if "_source_file" in df.columns
        else F.count(F.lit(1)).alias("n_rows_again"),
    )
    return observed, obs


@dataclass
class Timer:
    started: float = 0.0
    elapsed: float = 0.0

    def __enter__(self):
        self.started = time.time()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.time() - self.started


def throughput_rps(records: int, seconds: float) -> float:
    """A22: the reference's reported metric (`application.py:136`)."""
    return records / seconds if seconds > 0 else 0.0


def codegen_stats(spark: SparkSession) -> dict[str, float]:
    """Classes Spark's codegen has compiled in this JVM, and the total
    compile time in ms (both cumulative since the JVM started). A hit in
    the generated-code cache compiles nothing, so the difference between
    two readings counts the cache's misses in between."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return {"compilations": compiles.getCount(), "compile_ms": generator.compileTime() / 1e6}
