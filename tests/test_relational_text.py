"""Registry members written as one Spark SQL text each: a member's
plan is parsed and analyzed in the JVM, so building it costs a few py4j
commands whatever its size, and the temp views that bind its tables and
frames do not outlive the build."""

from __future__ import annotations

import ast
import inspect

import pytest
from conftest import SF_SMALL

from generic_data_ingestor_framework_spark.composite import MEMBER_QUERIES

# one temp view registered and dropped per table read, plus the parse:
# q8_market_share, with seven tables, sends 19
BUILD_COMMANDS_MAX = 20


def _text_members() -> list[str]:
    """The registry members whose body returns one ``_sql`` call."""
    out = []
    for name, fn in MEMBER_QUERIES.items():
        body = ast.parse(inspect.getsource(fn)).body[0].body
        last = body[-1]
        if (
            isinstance(last, ast.Return)
            and isinstance(last.value, ast.Call)
            and getattr(last.value.func, "id", None) == "_sql"
        ):
            out.append(name)
    return out


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_text_members_build_in_a_few_jvm_commands(spark, jvm_commands):
    members = _text_members()
    # the relational floor (40) plus 19 text-statistics, 12 event-time,
    # 11 dedup, 15 similarity, 14 sampling, 4 classify and 10 curate
    # members
    assert len(members) >= 125, members
    views = _temp_views(spark)
    for name in members:  # first use of each table reader and entry point
        MEMBER_QUERIES[name](spark, SF_SMALL)
    sent = {}
    for name in members:
        with jvm_commands() as n:
            MEMBER_QUERIES[name](spark, SF_SMALL)
        sent[name] = n[0]
    assert max(sent.values()) <= BUILD_COMMANDS_MAX, sent
    assert _temp_views(spark) == views


def test_building_a_sampling_classify_or_curate_member_runs_no_job(spark):
    """A member's build only plans: from cleared memos, building each
    member of ``llm.sampling``, ``llm.classify`` and ``llm.curate`` runs
    no Spark job (no driver-side scalar, no eager checkpoint). The table
    readers and dedup's cluster labels (its connected-components loop,
    which ``dedup_keep_best_quality`` reads) are built first: they are
    not members of these modules."""
    from generic_data_ingestor_framework_spark import cachemgr
    from generic_data_ingestor_framework_spark.llm import classify, curate, dedup, sampling
    from generic_data_ingestor_framework_spark.relational import load_table

    cachemgr.clear_caches()
    for table in ("customer", "documents", "events"):
        load_table(spark, SF_SMALL, table)
    dedup._cluster_frames(spark, SF_SMALL)
    sc = spark.sparkContext
    jobs = {}
    for name, fn in {**sampling.QUERIES, **classify.QUERIES, **curate.QUERIES}.items():
        sc.setJobGroup(f"build {name}", "build only")
        try:
            fn(spark, SF_SMALL)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"build {name}"))
    assert len(jobs) == 28 and jobs == dict.fromkeys(jobs, 0), jobs


def test_a_persisted_frame_read_by_a_text_stays_cached(spark):
    """Dropping the formatter's temp view uncaches every cached plan
    equal to the view's: a persisted frame that a text reads must still
    be read from, and stay in, the cache."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.relational import _sql
    from generic_data_ingestor_framework_spark.scale import explain_string

    held = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count().persist()
    try:
        out = _sql(spark, SF_SMALL, "SELECT k FROM {held} WHERE count > 10", held=held)
        assert "InMemoryTableScan" in explain_string(out)
        assert "InMemoryTableScan" in explain_string(held.select("k"))
    finally:
        held.unpersist()


@pytest.mark.parametrize(
    "memo", ["_query_vecs", "_ivf_assigned", "_probed_frozen", "_pq_codes_df", "_pq_lut_df"]
)
def test_a_similarity_memo_hit_builds_nothing(spark, jvm_commands, memo):
    """A memoized relation's hit returns the held frame: nothing is
    built, so nothing is sent to the JVM."""
    from generic_data_ingestor_framework_spark.llm import similarity

    fn = getattr(similarity, memo)
    fn(spark, SF_SMALL)
    with jvm_commands() as n:
        fn(spark, SF_SMALL)
    assert n[0] == 0


def test_each_lm_bigram_hint_names_a_relation_in_its_scope(spark):
    """``lm_bigram_score`` broadcasts its three model relations: each
    hint sits in the scope of the relation it names, so the optimized
    plan carries all three (an out-of-scope name is dropped with a
    warning)."""
    from generic_data_ingestor_framework_spark.llm.textstats import lm_bigram_score

    plan = lm_bigram_score(spark, SF_SMALL)._jdf.queryExecution().optimizedPlan()
    assert plan.toString().count("strategy=broadcast") == 3
