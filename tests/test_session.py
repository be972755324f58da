"""Session factory: the generated-code cache holds a warm working set,
and driver-held rows become JVM local relations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.metrics import codegen_stats
from generic_data_ingestor_framework_spark.session import (
    LOCAL_RELATION_MAX_ROWS,
    local_relation,
)

N_PLANS = 150  # distinct generated classes, over Spark's default cache of 100


def _compile_distinct_plans(spark) -> int:
    """Run N_PLANS projections whose generated code differs only in an
    inlined literal; returns how many classes the round compiled."""
    before = codegen_stats(spark)["compilations"]
    for k in range(N_PLANS):
        spark.range(4).select((F.col("id") * 3 + F.lit(1000 + k)).alias("x")).collect()
    return codegen_stats(spark)["compilations"] - before


def test_warm_plans_compile_nothing(spark):
    assert _compile_distinct_plans(spark) >= N_PLANS
    assert _compile_distinct_plans(spark) == 0


def test_local_relation_is_exact_and_jvm_local(spark):
    vals = [0.1 + 0.2, 1e-300, 5e-324, -0.0, 1.7976931348623157e308]
    df = local_relation(spark, [(7, vals), (8, None)], "vec_id bigint, v array<double>")
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    got = {r["vec_id"]: r["v"] for r in df.collect()}
    assert [x.hex() for x in got[7]] == [x.hex() for x in vals]
    assert got[8] is None


def test_local_relation_empty_rows_keep_the_schema(spark):
    df = local_relation(spark, [], "band bigint, tok_off bigint")
    assert df.dtypes == [("band", "bigint"), ("tok_off", "bigint")]
    assert df.collect() == []


def test_local_relation_refuses_a_table_sized_input(spark):
    with pytest.raises(AssertionError, match="driver-held"):
        local_relation(spark, [(i,) for i in range(LOCAL_RELATION_MAX_ROWS + 1)], "i int")
