"""Relational operator surface (SURVEY.md §2.B) as Spark-first queries.

The reference framework's advertised query capability is a raw-SQL
pass-through to SQLite (``src/connectors/sqlite_connector.py:80-115``),
so its effective surface is "whatever SQLite SQL expresses over the
ingested table".  This module re-expresses every one of those SQL
families natively on Spark. A member is one Spark SQL text (``_sql``),
its tables bound to the memoized parquet readers, which Catalyst plans
and optimizes (predicate pushdown, column pruning, join selection,
whole-stage codegen). Members whose purpose is a Spark mechanism keep a
hand-built plan: the recursive CTEs, the SCD2 merges, the sketch
tolerance check and the text-parity projection. ``profile_customer`` and
``percentile_stats`` keep theirs because their text executed slower.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` registered in
``QUERIES`` with a matching DuckDB oracle in ``ORACLES`` (same column
aliases, deterministic ordering/rounding so value hashes match). A
member's text is its own string, never formatted from its oracle, so an
oracle edit cannot change a member.

Scale notes (100 TB):
- Dimension tables (region/nation/customer/supplier/part) stay far below
  the broadcast threshold at TPC-H scale, so the planner broadcasts
  them; a text names a join hint (``/*+ BROADCAST(..) */``) only where
  the planner's post-join size estimate would pick a shuffle join.
- Where the correlated form would aggregate the whole fact or scan it
  twice (Q2, Q8, Q17, Q18), the text spells the decorrelated join order
  itself: a selective dimension semi-joined into the fact before the
  aggregate, a window for the correlated min/avg, one fact aggregate
  joined back.
- Aggregations plan as hash aggregates with partial (map-side) combine.
- Rounding of floating-point aggregates is part of the *query contract*
  here (deterministic cross-engine results), not a workaround: at 100 TB
  FP sum order is nondeterministic in any engine.
"""

from __future__ import annotations

import string
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one test table (predicate/column pushdown applies).

    All timestamp columns (``events.ts``, order/ship dates) are parquet
    ``timestamp[us]`` — Spark's native unit — so the vectorized reader
    handles them directly; no session-conf mutation, no unit conversion
    (shared-session hygiene: queries must not leave global state behind).

    The READER DataFrame is memoized per (session, dir, table) — the
    exact discipline a catalog table gives you (resolve once per
    session, reference many times). ``spark.read.parquet`` costs
    ~50-70 ms of py4j + file-index setup, and multi-table members paid
    it per TABLE REFERENCE per call (q8 touches 8 — ~0.4 s/call of pure
    driver latency, guide §5). The plan stays lazy: every action still
    reads the parquet files; nothing about RESULTS is cached. The test
    corpus is immutable per directory, so a session-held file index can
    never go stale."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    return shared_value(
        spark,
        ("load_table", sf_dir, name),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def _sql(
    spark: SparkSession,
    sf_dir: str,
    text: str,
    args: dict | None = None,
    **frames: DataFrame,
) -> DataFrame:
    """``text`` as one ``spark.sql`` plan, with ``args`` bound as named
    parameters. Each ``{name}`` field of the text reads ``frames[name]``
    (a relation the caller holds, such as a memoized one) or else the
    test table ``name`` (``load_table``): PySpark's formatter registers
    it as a temp view under a unique name and drops the view once the
    plan is analyzed.

    A frame is bound through an always-true filter: dropping a temp view
    (``Catalog.dropTempView``) uncaches every cached plan equal to the
    view's, so a view over a persisted frame itself would unpersist it.
    The optimizer removes the filter; the plan reads the cached data."""
    names = {f for _, f, _, _ in string.Formatter().parse(text) if f} - frames.keys()
    tables = {n: load_table(spark, sf_dir, n) for n in names}
    held = {n: f.filter("true") for n, f in frames.items()}
    return spark.sql(text, args, **tables, **held)


# ---------------------------------------------------------------------------
# Order-free quantized money sums (the r9/r11 float-sum-order fix, r12
# round-half + integer-space form)
# ---------------------------------------------------------------------------
#
# Big-magnitude money sums are quantized per row to BIGINT 1e-4 units
# (`floor(x*10000 + 0.5)` of the identical IEEE double is identical
# cross-engine), summed EXACTLY as integers (order-free — partial-agg
# merge order cannot move the result), then rounded HALF-AWAY-FROM-ZERO
# to the cent entirely in INTEGER space: `sign * ((abs(u)+50) div 100)`.
# Both engines divide only non-negative integers, where `div` (Spark)
# and `//` (DuckDB) agree (truncation == floor), so no float boundary
# and no floor-vs-truncate sign mismatch exists anywhere. The ONLY
# float op is the final `cents / 100.0`.
#
# Headroom (re-check before scaling past these): the unit sum is exact
# to int64 (~9.2e14 currency units per group; DuckDB's HUGEINT sum is
# wider still); the cents→double conversion is exact while |cents| <
# 2^53 (~9e13 currency units per group, ~sf4e5 at TPC-H magnitudes).
# The old form floored instead of rounding and divided in double space
# (exactness lost past 2^53 UNITS, 100x earlier) — r12 ADVICE fix.

_UNITS = "sum(cast(floor(({c}) * 10000 + 0.5) as bigint))"


def _isum2(c: str) -> str:
    """Spark SQL aggregate: round-half 2-dp sum of SQL expression
    ``c``. Catalyst dedups the identical inner aggregates."""
    u = _UNITS.format(c=c)
    # `100.0D`: double literal — a bare `100.0` is DECIMAL in Spark SQL
    # and would promote the whole result to decimal
    return f"if({u} >= 0, 1, -1) * ((abs({u}) + 50) div 100) / 100.0D"


def _isum2_sql(c: str) -> str:
    """The DuckDB-spelled oracle twin of ``_isum2`` (`//` for
    integer division, CASE for sign)."""
    u = _UNITS.format(c=c)
    return (
        f"(CASE WHEN {u} >= 0 THEN 1 ELSE -1 END)"
        f" * ((abs({u}) + 50) // 100) / 100.0"
    )


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (scan→filter→agg→sort)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + hash-aggregate + sort over lineitem.

    Mirrors the reference's end state (a full-table aggregation the user
    would run through ``execute_query``); exercises partial aggregation
    and parquet predicate pushdown.

    BIG-magnitude price sums go through the order-free integer-space
    round-half quantization (``_isum2``, see module comment) — the r11
    sf1 sweep caught a raw double sum flipping a .xx5 rounding boundary
    run-to-run. sum_qty (integral doubles: exact to 2^53) and the avg_*
    columns (sum error ÷ count → sub-ulp at 2-4 dp) are order-safe and
    stay raw.
    """
    return _sql(spark, sf_dir, f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               {_isum2("l_extendedprice")} AS sum_base_price,
               {_isum2("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
               {_isum2("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
               round(avg(l_quantity), 2) AS avg_qty,
               round(avg(l_extendedprice), 2) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM {{lineitem}}
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """)


_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                          AS sum_qty,
       {_isum2_sql("l_extendedprice")}                               AS sum_base_price,
       {_isum2_sql("l_extendedprice * (1 - l_discount)")}            AS sum_disc_price,
       {_isum2_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       round(avg(l_quantity), 2)                                          AS avg_qty,
       round(avg(l_extendedprice), 2)                                     AS avg_price,
       round(avg(l_discount), 4)                                          AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + aggregate + deterministic top-10."""
    return _sql(spark, sf_dir, """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM {lineitem}
        JOIN {orders}   ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """)


_Q3_ORACLE = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem against a broadcast dim chain. The
    planner's post-join size estimate of the dim chain balloons past
    the broadcast threshold, so the hint keeps it broadcast (a
    SortMergeJoin of the fact against it costs 2 Exchange + 2 Sort)."""
    return _sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(c, n, r) */ r_name,
               {_isum2("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM {{lineitem}}
        JOIN {{orders}}     ON l_orderkey = o_orderkey
        JOIN {{customer}} c ON o_custkey  = c_custkey
        JOIN {{nation}}   n ON c_nationkey = n_nationkey
        JOIN {{region}}   r ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
    """)


_Q5_ORACLE = f"""
SELECT r_name,
       {_isum2_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# Scan / preview / filter (SURVEY §2 A15-A19, §2.B filter family)
# ---------------------------------------------------------------------------

def preview_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 preview: `SELECT * FROM t LIMIT n` made deterministic by key."""
    return _sql(spark, sf_dir, "SELECT * FROM {region} ORDER BY r_regionkey LIMIT 3")


def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE with IN / BETWEEN / LIKE / IS NOT NULL (§2.B filter row)."""
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM {orders}
        WHERE o_orderstatus IN ('O', 'F')
          AND o_totalprice BETWEEN 1000.0 AND 50000.0
          AND o_orderpriority LIKE '1-%'
          AND o_custkey IS NOT NULL
    """)


def param_eq_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 parameterized equality predicate (`WHERE id = ?`) via sql args."""
    return _sql(
        spark, sf_dir,
        "SELECT c_custkey, c_name, c_mktsegment FROM {customer} WHERE c_custkey = :ck",
        args={"ck": 42},
    )


# ---------------------------------------------------------------------------
# Joins (§2.B join family: inner/left/semi/anti)
# ---------------------------------------------------------------------------

def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, c_custkey, c_name, o_totalprice
        FROM {orders} JOIN {customer} ON o_custkey = c_custkey
    """)


def join_left_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with zero orders."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
        FROM {customer} LEFT JOIN {orders} ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """)


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS, planned as a left-semi join (no row multiplication,
    early-out)."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey, c_name FROM {customer}
        WHERE EXISTS (SELECT 1 FROM {orders}
                      WHERE o_custkey = c_custkey AND o_totalprice > 40000.0)
    """)


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS, planned as a left-anti join (customers with no
    high-value order)."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey, c_name FROM {customer}
        WHERE NOT EXISTS (SELECT 1 FROM {orders}
                          WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
    """)


# ---------------------------------------------------------------------------
# Aggregation family (COUNT/SUM/AVG/MIN/MAX, HAVING, DISTINCT, GROUP_CONCAT,
# grouping sets / rollup / cube)
# ---------------------------------------------------------------------------

def agg_having_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT o_custkey,
               count(*) AS n_orders,
               count(DISTINCT o_orderstatus) AS n_statuses,
               round(sum(o_totalprice), 2) AS total_spent,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM {orders} GROUP BY o_custkey HAVING count(*) > 10
    """)


def group_concat_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite GROUP_CONCAT ≡ sorted collect_list + array_join."""
    return _sql(spark, sf_dir, """
        SELECT c_nationkey, array_join(array_sort(collect_list(c_name)), ',') AS names
        FROM {customer} GROUP BY c_nationkey
    """)


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (a Spark superset of SQLite's GROUP BY)."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM {lineitem} GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """)


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM {orders} GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """)


def distinct_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, "SELECT DISTINCT p_brand, p_type FROM {part}")


def count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: COUNT(*) over the fact table."""
    return _sql(spark, sf_dir, "SELECT count(*) AS n FROM {lineitem}")


# ---------------------------------------------------------------------------
# Window functions (§2.B window family)
# ---------------------------------------------------------------------------

def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, o_custkey, o_totalprice,
               row_number() OVER w AS rn,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               round(lag(o_totalprice, 1)  OVER w, 2) AS prev_price,
               round(lead(o_totalprice, 1) OVER w, 2) AS next_price
        FROM {orders}
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """)


def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
               count(*) OVER (
                 PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_within_1000
        FROM {orders}
    """)


def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer — the distributed top-k idiom."""
    return _sql(spark, sf_dir, """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM {orders}) WHERE rn <= 2
    """)


# ---------------------------------------------------------------------------
# Sort / limit / offset, set ops, subqueries (§2.B)
# ---------------------------------------------------------------------------

def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, o_totalprice FROM {orders}
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 10
    """)


def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT c_nationkey AS nationkey FROM {customer}
        UNION SELECT s_nationkey FROM {supplier}
    """)


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT c_nationkey AS nationkey FROM {customer}
        INTERSECT SELECT s_nationkey FROM {supplier}
    """)


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT DISTINCT nationkey FROM (
          SELECT c_nationkey AS nationkey FROM {customer}
          EXCEPT ALL SELECT s_nationkey FROM {supplier})
    """)


def subquery_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + scalar subquery + IN subquery."""
    return _sql(spark, sf_dir, """
        WITH building AS (
          SELECT c_custkey FROM {customer} WHERE c_mktsegment = 'BUILDING'
        )
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM {orders}
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM {orders}) * 1.5
          AND o_custkey IN (SELECT c_custkey FROM building)
    """)


def union_all_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 union across heterogeneous inputs: a column missing on one
    side null-filled (the reference concatenates dict-lists with
    differing keys, `src/core/application.py:71-97`)."""
    return _sql(spark, sf_dir, """
        SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment FROM {customer}
        UNION ALL
        SELECT s_name, s_acctbal, NULL FROM {supplier}
    """)


# ---------------------------------------------------------------------------
# Scalar function families (string / math / date / JSON — §2.B)
# ---------------------------------------------------------------------------

def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT p_partkey,
               length(p_name)                          AS name_len,
               upper(p_name)                           AS name_upper,
               lower(p_brand)                          AS brand_lower,
               substr(p_name, 1, 5)                    AS name_pfx,
               trim('  ' || p_type || '  ')            AS type_trim,
               replace(p_name, ' ', '_')               AS name_snake,
               instr(p_name, 'widget')                 AS widget_pos,
               printf('%s|%03d', p_brand, p_size)      AS brand_size
        FROM {part}
    """)


def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT c_custkey,
               round(abs(c_acctbal), 2)                AS abs_bal,
               round(c_acctbal, 0)                     AS bal_round,
               CAST(floor(c_acctbal) AS BIGINT)        AS bal_floor,
               CAST(ceil(c_acctbal) AS BIGINT)         AS bal_ceil,
               c_custkey % 7                           AS key_mod7,
               least(c_acctbal, 0.0)                   AS neg_part,
               greatest(c_acctbal, 0.0)                AS pos_part,
               round(sqrt(abs(c_acctbal)), 4)          AS sqrt_bal
        FROM {customer}
    """)


def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, """
        SELECT o_orderkey,
               year(o_orderdate)                        AS yr,
               month(o_orderdate)                       AS mo,
               dayofmonth(o_orderdate)                  AS dom,
               quarter(o_orderdate)                     AS qtr,
               date_trunc('month', o_orderdate)         AS month_start,
               date_format(o_orderdate, 'yyyy-MM')      AS ym,
               date_add(CAST(o_orderdate AS DATE), 30)  AS due_date,
               datediff(DATE '2002-01-01', CAST(o_orderdate AS DATE)) AS age_days
        FROM {orders}
    """)


def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite json1-equivalent path access over a JSON-string column
    (`json_extract` ≡ `get_json_object`), then aggregate."""
    return _sql(spark, sf_dir, """
        SELECT event_type, sum(k) AS sum_k, count(*) AS n, max(k) AS max_k
        FROM (SELECT event_type, CAST(get_json_object(props, '$.k') AS BIGINT) AS k
              FROM {events})
        GROUP BY event_type ORDER BY event_type
    """)


# ---------------------------------------------------------------------------
# Ingestion-flavored queries (A7 normalization, A9 lineage, A20 md5,
# A21 error summary) expressed over the shared test tables
# ---------------------------------------------------------------------------

def normalize_text_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 TEXT-parity projection: every column cast to string, NULL→''
    (`src/processors/json_processor.py:73-104` semantics)."""
    from generic_data_ingestor_framework_spark import normalize

    d = load_table(spark, sf_dir, "documents")
    return normalize.normalize_text_parity(d, ["doc_id", "text", "lang", "source"])


def lineage_source_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 lineage: `_source_file` = basename of the input DATASET
    (`src/core/application.py:92-94`), via input_file_name().

    Contract: lineage is DATASET-level here — when the table is a
    directory of part files (any Spark-written corpus, e.g. the sf1
    decade-up set), rows map to the ``<table>.parquet`` directory, not
    the physical ``part-*.parquet`` shard (shard layout is an engine
    artifact, not provenance; re-bucketing must not change lineage).
    Per-FILE lineage for whole-file ingest stays in ``ingest.py`` (A9
    proper), where one input file is one provenance unit."""
    return _sql(spark, sf_dir, """
        SELECT if(endswith(parent, '.parquet'), parent, base) AS _source_file,
               count(*) AS n
        FROM (SELECT element_at(split(input_file_name(), '/'), -2) AS parent,
                     element_at(split(input_file_name(), '/'), -1) AS base
              FROM {documents})
        GROUP BY _source_file
    """)


def md5_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 content hashing (`FileHandler._calculate_md5`,
    `src/handlers/file_handler.py:361-371`) as a distributed column op."""
    return _sql(spark, sf_dir, "SELECT doc_id, md5(text) AS text_md5 FROM {documents}")


def error_summary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 error-log aggregation: count by type, top-5 by count desc
    (`src/handlers/error_handler.py:47-95`) — deterministic tiebreak."""
    return _sql(spark, sf_dir, """
        SELECT event_type, count(*) AS n FROM {events}
        GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5
    """)


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left join → per-customer count → distribution
    of counts (two-level aggregation, the classic double groupBy)."""
    return _sql(spark, sf_dir, """
        SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM {customer} LEFT JOIN {orders}
            ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '4-%'
          GROUP BY c_custkey)
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """)


def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders above their customer's average
    (decorrelated by Catalyst into a join+agg)."""
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM {orders} o
        WHERE o_totalprice > 1.8 * (
          SELECT avg(o_totalprice) FROM {orders} i WHERE i.o_custkey = o.o_custkey
        )
    """)


def rcte_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (``WITH RECURSIVE``, native in Spark 4): walk each
    customer's orders in date order as a CHAIN, carrying the position
    and the accumulated inter-order gap in days — the
    linear-recursion shape (org charts, BOM explosions, event chains)
    that was a DOCUMENTED non-emulated gap until Spark 4 shipped
    recursive CTEs (SPARK-24497). The anchor is each multi-order
    customer's earliest order for a DETERMINISTIC 10% root slice
    (``o_custkey % 10 = 0``); each step joins the frontier to the next
    order by dense position, bounded at 64 steps (under Spark's
    ``spark.sql.cte.recursion.level.limit`` default of 100). Both
    bounds are the recursion-budget discipline Spark enforces anyway —
    the engine aborts a recursion past ``rowLimit`` (1M cumulative
    rows, hit at sf1 with an unsliced root set) rather than let it run
    away; a production chain walk sizes its roots or raises the conf
    deliberately.

    Scale shape: recursion executes as depth-many frontier⋈edge joins
    (one per level, AQE-planned); the frontier is one row per live
    customer, so each iteration is a small-side join against the
    rank-indexed order relation. When the quantity IS
    window-expressible (this one is — see the oracle's identical
    recursion instead), prefer a window; the member exists to PIN the
    recursive-plan capability with a value-exact gate."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    # LOOP-INVARIANT relation materialized ONCE: Spark re-plans the
    # recursion body every iteration, so an inline `seq` CTE would
    # re-scan orders and re-run the rank window TWICE PER LEVEL
    # (union_loop_audit caught 2 scans + 2 windows/iter in r12) —
    # depth x that cost at scale. localCheckpoint truncates lineage to
    # a LogicalRDD LEAF, so per-iteration planning physically cannot
    # re-derive it (plan-fragment cache matching does not apply inside
    # the already-optimized recursion body); each level is then two
    # joins against executor-stored blocks. Session-memoized so
    # repeated calls reuse one checkpoint.
    def _seq() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        wo = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        return orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.row_number().over(wo).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("o_custkey")).alias("n_orders"),
        ).localCheckpoint(eager=True)

    seq = shared_value(spark, ("rcte_seq", sf_dir), _seq)
    return spark.sql(
        """
        WITH RECURSIVE chain (o_custkey, o_orderkey, pos, cum_gap_days) AS (
          SELECT o_custkey, o_orderkey, 1, 0 FROM {seq}
          WHERE rn = 1 AND n_orders >= 2 AND o_custkey % 10 = 0
          UNION ALL
          SELECT n.o_custkey, n.o_orderkey, c.pos + 1,
                 c.cum_gap_days + datediff(n.o_orderdate, p.o_orderdate)
          FROM chain c
          JOIN {seq} p ON p.o_custkey = c.o_custkey AND p.o_orderkey = c.o_orderkey
          JOIN {seq} n ON n.o_custkey = c.o_custkey AND n.rn = p.rn + 1
          WHERE c.pos < 64
        )
        SELECT o_custkey, o_orderkey, CAST(pos AS INT) AS pos,
               CAST(cum_gap_days AS BIGINT) AS cum_gap_days
        FROM chain
        """,
        seq=seq,
    )


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    gen: int,
    delete_col: str = "is_deleted",
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 merge — the dimension-table
    twin of the r12 index delete/supersede lifecycle, expressed as ONE
    full-outer join (a single key shuffle; Delta/Iceberg MERGE INTO is
    the same plan under a transaction log this engine deliberately
    trades for commit-protocol atomicity, SURVEY §7.4).

    ``history``: (key, *attrs, valid_from, valid_to) with open rows
    carrying ``valid_to IS NULL``; ``updates``: (key, *attrs,
    delete_col) — the batch's LATEST state per key, one row per key.
    Semantics per key: an update with identical attrs is a NO-OP (no
    version churn); a differing update CLOSES the open row at ``gen``
    and opens a new one; a delete closes without a successor; a key
    absent from ``history`` INSERTS an open row at ``gen``; closed
    history rows pass through untouched."""
    vt = F.col("valid_to")
    cur = history.filter(vt.isNull())
    closed = history.filter(vt.isNotNull())
    c = cur.select(
        F.col(key).alias("__k"),
        *[F.col(a).alias(f"__c_{a}") for a in attrs],
        F.col("valid_from").alias("__c_from"),
    )
    u = updates.select(
        F.col(key).alias("__k"),
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
        F.col(delete_col).alias("__del"),
        F.lit(True).alias("__has_u"),
    )
    j = c.join(u, "__k", "full_outer")
    has_c = F.col("__c_from").isNotNull()
    has_u = F.coalesce(F.col("__has_u"), F.lit(False))
    differs = None
    for a in attrs:
        d = ~F.col(f"__c_{a}").eqNullSafe(F.col(f"__u_{a}"))
        differs = d if differs is None else (differs | d)
    is_del = F.coalesce(F.col("__del"), F.lit(False))
    # surviving open/closed rows out of the join:
    keep_open_cur = has_c & (~has_u | (~is_del & ~differs))
    close_cur = has_c & has_u & (is_del | differs)
    open_new = has_u & ~is_del & ((has_c & differs) | ~has_c)
    gl = F.lit(gen)
    # Both output branches come from ONE pass over the join (r14 opt):
    # referencing `j` twice made Catalyst duplicate the whole join
    # subtree — the dimension and update batch were scanned and joined
    # TWICE per merge, and chained merges compounded it (the 2-gen
    # member read the base dimension 8x). A row yields its surviving
    # current version, its new version, both (close + reopen), or
    # neither — exactly the rows the two filters produced.
    cur_row = F.when(
        keep_open_cur | close_cur,
        F.struct(
            F.col("__k").alias(key),
            *[F.col(f"__c_{a}").alias(a) for a in attrs],
            F.col("__c_from").alias("valid_from"),
            F.when(close_cur, gl).otherwise(F.lit(None).cast("int")).alias(
                "valid_to"
            ),
        ),
    )
    new_row = F.when(
        open_new,
        F.struct(
            F.col("__k").alias(key),
            *[F.col(f"__u_{a}").alias(a) for a in attrs],
            gl.alias("valid_from"),
            F.lit(None).cast("int").alias("valid_to"),
        ),
    )
    merged = (
        j.select(F.explode(F.array(cur_row, new_row)).alias("__r"))
        .filter(F.col("__r").isNotNull())
        .select("__r.*")
    )
    return closed.select(
        key, *attrs, "valid_from", "valid_to"
    ).unionByName(merged)


def scd2_apply_table(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    gen: int,
    delete_col: str = "is_deleted",
) -> None:
    """Apply one SCD2 update batch to the history TABLE ``table``
    (``scd2_apply`` semantics) through ``spark`` — the one mutation
    behind the pipeline's ``scd2_apply`` step and the
    ``stream_scd2_apply`` maintainer. ``updates`` carries
    (key, *attrs[, delete_col]); a missing ``delete_col`` reads false.

    A table an earlier process left under the warehouse is attached
    first (``sink.attach_table``); an absent one is created empty, so
    the batch's non-deleted rows open at ``gen``. ``gen`` is the crawl
    loop's monotonic batch counter, VALIDATED before merging: one
    below the table's newest ``valid_from`` raises, since replaying an
    old batch would close open rows at ``valid_to < valid_from``
    (inverted history rows).
    ``gen == max(valid_from)`` is the idempotent replay of the current
    batch, a no-op merge. The table is overwritten in place (an
    attached table is external: ``saveAsTable`` would re-create it as
    managed over its own files), staged through a localCheckpoint so
    the write never reads the table it replaces."""
    from generic_data_ingestor_framework_spark.sink import attach_table

    batch = updates.select(
        key,
        *attrs,
        (F.col(delete_col) if delete_col in updates.columns else F.lit(False)).alias(
            delete_col
        ),
    )
    if not (spark.catalog.tableExists(table) or attach_table(spark, table)):
        schema = batch.select(
            key, *attrs, F.lit(0).alias("valid_from"), F.lit(0).alias("valid_to")
        ).schema
        spark.catalog.createTable(table, schema=schema)
    hist = spark.table(table)
    newest = hist.agg(F.max("valid_from")).first()[0]
    if newest is not None and gen < int(newest):
        raise ValueError(
            f"scd2_apply: stale generation {gen} < table's newest "
            f"valid_from {newest}; replaying an old batch would write "
            f"inverted history rows (valid_to < valid_from). Use the "
            f"crawl loop's current batch counter."
        )
    merged = scd2_apply(hist, batch, key, attrs, gen, delete_col).select(*hist.columns)
    merged.localCheckpoint(eager=True).write.insertInto(table, overwrite=True)


def _scd2_customer_parts(spark: SparkSession, sf_dir: str):
    """Shared fixture for the SCD2 members: the gen-0 history, the two
    deterministic update batches, and the gen-2 touched-key set.

    Insert re-keys use ``max(c_custkey) + 1`` as the offset (a
    broadcast 1-row aggregate — the rcte_reachability modulus class),
    NOT a fixed constant: a fixed +1e6 collides with real customer
    keys once the corpus passes ~1M keys (TPC-H sf≈7), silently
    merging the "insert" into an existing key's history while the
    oracle keeps emitting both rows. Deriving the offset keeps the
    member SF-independent."""
    cust = load_table(spark, sf_dir, "customer")
    from generic_data_ingestor_framework_spark.llm.dedup import portable_hash32

    h = portable_hash32(F.col("c_custkey").cast("string"))
    attrs = ["c_mktsegment", "c_acctbal"]
    off = F.broadcast(cust.agg((F.max("c_custkey") + 1).alias("__off")))
    history = cust.select(
        "c_custkey",
        *attrs,
        F.lit(0).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    )
    # gen-1 batch: change / no-op / delete / insert
    upd_base = cust.filter((h % 7 == 0) | (h % 5 == 0) | (h % 11 == 3)).select(
        "c_custkey",
        F.when(
            (h % 11 != 3) & (h % 7 == 0),
            F.concat(F.col("c_mktsegment"), F.lit("_v2")),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_acctbal",
        (h % 11 == 3).alias("is_deleted"),
    )
    inserts = cust.filter(h % 17 == 0).crossJoin(off).select(
        (F.col("c_custkey") + F.col("__off")).alias("c_custkey"),
        F.lit("NEW").alias("c_mktsegment"),
        "c_acctbal",
        F.lit(False).alias("is_deleted"),
    )
    updates1 = upd_base.unionByName(inserts)
    # gen-2 batch: re-update a previously-changed key, delete a
    # previously-inserted one, resurrect a previously-deleted one
    reupd = cust.filter((h % 11 != 3) & (h % 7 == 0) & (h % 13 == 0)).select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("_v3")).alias("c_mktsegment"),
        "c_acctbal",
        F.lit(False).alias("is_deleted"),
    )
    delins = cust.filter((h % 17 == 0) & (h % 2 == 0)).crossJoin(off).select(
        (F.col("c_custkey") + F.col("__off")).alias("c_custkey"),
        F.lit("NEW").alias("c_mktsegment"),
        "c_acctbal",
        F.lit(True).alias("is_deleted"),
    )
    resurrect = cust.filter((h % 11 == 3) & (h % 2 == 0)).select(
        "c_custkey",
        F.lit("BACK").alias("c_mktsegment"),
        "c_acctbal",
        F.lit(False).alias("is_deleted"),
    )
    updates2 = reupd.unionByName(delins).unionByName(resurrect)
    return history, attrs, updates1, updates2


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 gate member: seed the customer dimension as open gen-0
    rows, then apply ONE deterministic update batch at gen 1 covering
    every merge case — changed attrs (hash%7==0: segment rewritten, a
    STRING change so no float-rounding boundary exists anywhere),
    no-op updates (hash%5==0: identical attrs — must create no
    version), deletes (hash%11==3: closed without successor; delete
    beats change on overlap because the update row carries the delete
    flag), and inserts (hash%17==0, re-keyed past max(c_custkey)).
    Output: the full versioned history. The DuckDB oracle replays the
    same merge in SQL.

    Scale shape: the merge is one full-outer join on the dimension
    key (single shuffle); closed history passes through without
    touching the join. At 100 TB the dimension is bucketed on the key
    and the update batch broadcast or co-bucketed."""
    history, attrs, updates1, _ = _scd2_customer_parts(spark, sf_dir)
    return scd2_apply(history, updates1, "c_custkey", attrs, gen=1)


def scd2_customer_multigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-generation SCD2 (r12 verdict item): chain a SECOND batch
    at gen 2 onto ``scd2_customer_history``'s gen-1 state, covering the
    three lifecycle transitions one batch cannot express — RE-UPDATE a
    previously-changed key (its open ``_v2`` row closes at 2, ``_v3``
    opens), DELETE a previously-inserted key (the gen-1 ``NEW`` row
    closes without successor), and RESURRECT a previously-deleted key
    (no open row exists, so the merge INSERTS a fresh ``BACK`` row at
    gen 2 while the closed gen-0 row stays untouched) — the SCD2 twin
    of the index lifecycle's latest-generation-wins probe. Output: the
    full two-generation history; the DuckDB oracle replays both merges.

    Scale shape: two full-outer joins on the dimension key; each
    batch's join is against only the OPEN slice of the history. The
    merged history is localCheckpointed once per session (cachemgr
    DataFrame case) — the as-of member reads the same materialized
    relation instead of re-deriving the two-merge lineage per
    snapshot."""
    return _scd2_hist2(spark, sf_dir)


def _scd2_hist2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    def build() -> DataFrame:
        history, attrs, updates1, updates2 = _scd2_customer_parts(spark, sf_dir)
        hist1 = scd2_apply(history, updates1, "c_custkey", attrs, gen=1)
        return scd2_apply(hist1, updates2, "c_custkey", attrs, gen=2).localCheckpoint(
            eager=True
        )

    return shared_value(spark, ("scd2_hist2", sf_dir), build)


def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME read over the two-generation SCD2 history — the
    read pattern dimension history exists for. For every key the gen-2
    batch touches (re-updated, deleted-insert, resurrected), return its
    state AS OF gen 1 and AS OF gen 2: a row is visible at gen g iff
    ``valid_from <= g < coalesce(valid_to, +inf)``. The before/after
    pairing pins the snapshot semantics where they discriminate most —
    resurrected keys are ABSENT at 1 and present at 2, deleted inserts
    the reverse, re-updated keys flip ``_v2``→``_v3``.

    Scale shape: the snapshot is a pure filter over the checkpointed
    history (no extra shuffle, no lineage re-derivation per snapshot);
    the touched-key restriction is a semi join against the batch-sized
    gen-2 update set."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    hist2 = _scd2_hist2(spark, sf_dir)

    # batch-sized and deterministic per sf_dir; referenced by both
    # snapshots' semi joins — checkpointed once per SESSION (r15; the
    # r14 shape checkpointed per CALL, so every warm call re-derived
    # the 3-cohort update batch and re-ran its materialization job:
    # 0.40 s construction for a 0.05 s execute)
    def build_keys() -> DataFrame:
        _, _, _, updates2 = _scd2_customer_parts(spark, sf_dir)
        return (
            updates2.select("c_custkey").distinct().localCheckpoint(eager=True)
        )

    keys = shared_value(spark, ("scd2_upd2_keys", sf_dir), build_keys)

    def snap(g: int) -> DataFrame:
        vis = (F.col("valid_from") <= g) & (
            F.col("valid_to").isNull() | (F.col("valid_to") > g)
        )
        return hist2.filter(vis).join(keys, "c_custkey", "semi").select(
            F.lit(g).alias("asof_gen"), "c_custkey", "c_mktsegment", "c_acctbal"
        )

    return snap(1).unionByName(snap(2))


def rcte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE #2 — BRANCHING frontier (multi-parent BOM
    explosion / graph reachability), the recursion shape
    ``rcte_order_chain``'s linear chain cannot exercise: every node
    fans out to TWO components, components are shared across parents
    (mod-arithmetic collisions), and the graph has genuine CYCLES, so
    the walk must carry its path and refuse revisits — the
    cycle-guard discipline any production BOM/org walk needs.

    The component graph is synthesized deterministically over the
    dense part keys (0..N-1): part p is assembled from parts
    ``(2p+1) mod N`` and ``(3p+7) mod N`` — every node has out-degree
    2 and in-degree ~2, and the functional wrap guarantees cycles.
    Roots are the sparse ``p_partkey % 199 = 0`` slice; the walk is
    bounded at depth 6, so cumulative frontier rows stay ≤ 127×roots
    (the recursion-budget discipline, well under Spark's 1M
    ``rowLimit``). Output: per (root, reachable node) the minimum
    depth and the number of distinct simple paths — the path count is
    what a linear recursion can never produce.

    Scale shape: each iteration is frontier⋈edges on the src key; the
    frontier is bounded by roots × 2^depth, edges by 2 rows per part.
    The path array is per-row state (no driver round trips)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    part = load_table(spark, sf_dir, "part")

    # LOOP-INVARIANT edge relation materialized ONCE (see
    # rcte_order_chain — localCheckpoint to a LogicalRDD leaf): an
    # inline `edges` CTE re-derives the union — and its modulus scalar
    # subquery — EVERY level (union_loop_audit caught 6 scans/iter
    # before this). The modulus is a driver-held model scalar (1-row
    # aggregate, the MLlib-centroids class).
    def _edges() -> DataFrame:
        m = part.agg((F.max("p_partkey") + 1).alias("m")).collect()[0]["m"]
        c1 = (F.col("p_partkey") * 2 + 1) % F.lit(m)
        c2 = (F.col("p_partkey") * 3 + 7) % F.lit(m)
        return (
            part.select(
                F.col("p_partkey").alias("src"), c1.cast("bigint").alias("dst")
            )
            .unionByName(
                part.select(
                    F.col("p_partkey").alias("src"), c2.cast("bigint").alias("dst")
                )
            )
            .localCheckpoint(eager=True)
        )

    edges = shared_value(spark, ("rcte_edges", sf_dir), _edges)
    return spark.sql(
        """
        WITH RECURSIVE reach (root, node, depth, path) AS (
          SELECT p_partkey, p_partkey, 0, array(p_partkey)
          FROM {part} WHERE p_partkey % 199 = 0
          UNION ALL
          SELECT r.root, e.dst, r.depth + 1, array_append(r.path, e.dst)
          FROM reach r JOIN {edges} e ON e.src = r.node
          WHERE r.depth < 6 AND NOT array_contains(r.path, e.dst)
        )
        SELECT root, node, CAST(min(depth) AS INT) AS min_depth,
               CAST(count(*) AS BIGINT) AS n_paths
        FROM reach GROUP BY root, node
        """,
        part=part,
        edges=edges,
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+sum — the pushdown showcase (every
    predicate reaches the parquet scan; no shuffle at all beyond the
    single-row final agg)."""
    return _sql(spark, sf_dir, f"""
        SELECT {_isum2("l_extendedprice * l_discount")} AS revenue
        FROM {{lineitem}}
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """)


def explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (the json_each/table-function family): split part names
    into words, count word frequency."""
    return _sql(spark, sf_dir, """
        SELECT word, count(*) AS n
        FROM (SELECT explode(split(p_name, ' ')) AS word FROM {part})
        GROUP BY word ORDER BY n DESC, word
    """)


def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + median per order status."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
            F.round(F.median("o_totalprice"), 2).alias("med"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


def histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via integer binning (map-side combinable)."""
    return _sql(spark, sf_dir, """
        SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bin, count(*) AS n
        FROM {orders} GROUP BY bin ORDER BY bin
    """)


def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for 100 TB-scale profiling: HyperLogLog++
    distinct counts and quantile sketches — constant memory per group
    regardless of input size.

    Raw sketch outputs are algorithm-specific, so the query emits
    *bounded-error booleans* instead: each approximate value is checked
    against the exact value computed in the same aggregation, with a
    tolerance far wider than the sketch's guarantee (HLL++ rsd=2% →
    10% bound; percentile_approx accuracy=1000 → ±0.01 rank bound).
    The DuckDB oracle is the same group keys with constant-true flags,
    so any sketch drifting out of tolerance hash-mismatches.

    Plan shape: the sketch, exact-distinct, and exact-percentile
    aggregates run as THREE thin aggregations joined on the 4-row
    group key (broadcast) instead of one combined agg — mixing two
    DISTINCT aggregates with percentile functions in a single groupBy
    forces an Expand that evaluates every function over the multiplied
    row stream (measured at the sf1 decade-up: 81 s combined vs ~10 s
    split; each split pipeline is an ordinary partial hash/sort agg).
    """
    li = load_table(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("apx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("apx_orders"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("apx_p50"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(1000)).alias("apx_p99"),
    )
    exact_nd = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("ex_parts"),
        F.count_distinct("l_orderkey").alias("ex_orders"),
    )
    exact_pct = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.49)).alias("p50_lo"),
        F.percentile("l_extendedprice", F.lit(0.51)).alias("p50_hi"),
        F.percentile("l_extendedprice", F.lit(0.98)).alias("p99_lo"),
        F.max("l_extendedprice").alias("p99_hi"),
    )
    agg = sketches.join(F.broadcast(exact_nd), "l_returnflag").join(
        F.broadcast(exact_pct), "l_returnflag"
    )
    within = lambda apx, ex: F.abs(F.col(apx) - F.col(ex)) / F.col(ex) <= 0.1
    return (
        agg.select(
            "l_returnflag",
            within("apx_parts", "ex_parts").alias("nd_parts_ok"),
            within("apx_orders", "ex_orders").alias("nd_orders_ok"),
            F.col("apx_p50").between(F.col("p50_lo"), F.col("p50_hi")).alias("p50_ok"),
            F.col("apx_p99").between(F.col("p99_lo"), F.col("p99_hi")).alias("p99_ok"),
        )
        .orderBy("l_returnflag")
    )


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (Spark superset of SQLite's GROUP BY): order counts per
    status, one column per priority bucket."""
    return _sql(spark, sf_dir, """
        SELECT * FROM (SELECT o_orderstatus, o_orderpriority FROM {orders})
        PIVOT (count(*) FOR o_orderpriority IN (
          '1-URGENT' AS p1, '2-HIGH' AS p2, '3-MEDIUM' AS p3,
          '4-NOT SPECIFIED' AS p4, '5-LOW' AS p5))
    """)


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id disambiguation."""
    return _sql(spark, sf_dir, """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               count(*) AS n
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


def case_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE / coalesce / nullif / nvl2 family over customer."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                    WHEN c_acctbal < 1000 THEN 'low'
                    ELSE 'healthy' END AS balance_band,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
               nvl2(nullif(CAST(c_nationkey AS STRING), '0'), 'has_nation', 'zero')
                 AS nation_flag
        FROM {customer}
    """)


def regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp family: match test, extract, replace (RE2-safe patterns)."""
    return _sql(spark, sf_dir, """
        SELECT p_partkey,
               p_name RLIKE '^[a-z]+ widget$' AS is_widget,
               regexp_extract(p_name, '^([a-z]+) ', 1) AS first_word,
               regexp_replace(p_brand, '[0-9]+', '#') AS brand_masked
        FROM {part}
    """)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min over suppliers per part.

    The testdata has no partsupp table, so lineitem is the part↔supplier
    link and unit cost is min(l_extendedprice / l_quantity) per
    (part, supplier). The text fixes the join order the planner would
    not find from the correlated form: the selective part filter is
    semi-joined into lineitem *before* any aggregation (at 100 TB this
    discards ~99% of the fact scan up front), and the correlated
    "= min per part" is a window min over the already part-partitioned
    aggregate — one shuffle fewer than a self-join decorrelation.
    Unit cost is floor-truncated, not rounded: price/qty regularly lands
    on exact .xx5 ties where Spark (HALF_UP) and DuckDB disagree.
    """
    return _sql(spark, sf_dir, """
        WITH p AS (SELECT * FROM {part} WHERE p_type = 'ECONOMY' AND p_size <= 10),
        ps AS (
          SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
          FROM {lineitem} LEFT SEMI JOIN p ON l_partkey = p_partkey
          GROUP BY l_partkey, l_suppkey
        ),
        best AS (
          SELECT * FROM (
            SELECT *, min(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost FROM ps)
          WHERE unit_cost = min_cost
        )
        SELECT /*+ BROADCAST(p, s, n) */ round(s_acctbal, 2) AS s_acctbal, s_name,
               n_name, p_partkey, p_brand, floor(unit_cost * 100) / 100 AS unit_cost
        FROM best
        JOIN p            ON l_partkey = p_partkey
        JOIN {supplier} s ON l_suppkey = s_suppkey
        JOIN {nation}   n ON s_nationkey = n_nationkey
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """)


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: avg-quantity correlated filter.

    Decorrelated as a per-part WINDOW average over ONE pass of the
    part-filtered lineitems (r15, guide §2.4: the groupBy-then-join-back
    form scanned lineitem twice — the window computes the identical
    per-part cap on the single scan, one hash exchange on l_partkey).
    FP-safe: l_quantity is integer-valued, so the partition sum — and
    hence the average — is exact binary64 regardless of aggregation
    order; the cap comparison cannot flip between the two shapes
    (oracle-verified at sf0.001/0.01/0.1 and the sf1 decade-up).
    """
    return _sql(spark, sf_dir, """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM (
          SELECT l_extendedprice, l_quantity,
                 avg(l_quantity) OVER (PARTITION BY l_partkey) * 0.5 AS qty_cap
          FROM {lineitem} LEFT SEMI JOIN {part}
            ON l_partkey = p_partkey AND p_brand = 'Brand#4' AND p_type = 'ECONOMY'
        )
        WHERE l_quantity < qty_cap
    """)


Q20_MEAN_MULT = 2  # a (supplier, part) volume is "heavy" at >2x the mean


def q20_supplier_part_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain
    (part-name filter → heavy (supplier, part) volumes → supplier).

    "Heavy" is MEAN-RELATIVE: a (supplier, part) pair qualifies when
    its shipped quantity exceeds ``Q20_MEAN_MULT``× the mean pair
    quantity over the filtered part set — TPC-H's own Q20 threshold is
    relative (0.5× the shipped quantity), and a fixed absolute cut
    (the old ``> 100``) goes vacuous as pairs get sparser with scale
    (1 qualifying pair at sf0.1, 0 suppliers). Quantities are
    quantized to BIGINT 1e-2 units so the threshold comparison is
    exact integer arithmetic in both engines.

    Every IN becomes a semi join; the mean is a 1-row aggregate joined
    back in-plan. The products are decimal(38), as in q11, so a pair
    count that grows with SF cannot overflow int64."""
    return _sql(spark, sf_dir, f"""
        WITH pairs AS (
          SELECT l_suppkey, l_partkey,
                 sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS qty_i
          FROM {{lineitem}}
          WHERE l_partkey IN (SELECT p_partkey FROM {{part}} WHERE p_name LIKE 'small%')
          GROUP BY l_suppkey, l_partkey
        ),
        mean AS (SELECT CAST(sum(qty_i) AS BIGINT) AS total_i,
                        CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM {{supplier}}
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM pairs, mean
          WHERE CAST(qty_i AS DECIMAL(38, 0)) * n_pairs
                > {Q20_MEAN_MULT} * CAST(total_i AS DECIMAL(38, 0))
        )
        AND s_nationkey IN (SELECT n_nationkey FROM {{nation}} WHERE n_name LIKE 'NATION_1%')
        ORDER BY s_name
    """)


def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation family: lag/lead/ntile/percent_rank/cume_dist
    over per-customer order history — the remaining §2.B window
    functions not covered by rank/frames."""
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, o_custkey,
               round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
               round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM {orders}
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """)


def bool_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/bitwise aggregate family: every/any plus bit_and/or/xor
    — all order-independent, so no rounding contract is needed."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               bool_and(l_quantity > 0) AS all_positive_qty,
               bool_or(l_discount > 0.09) AS any_high_discount,
               CAST(bit_and(l_linenumber) AS INT) AS ln_bit_and,
               CAST(bit_or(l_linenumber) AS INT) AS ln_bit_or,
               CAST(bit_xor(l_linenumber) AS INT) AS ln_bit_xor
        FROM {lineitem} GROUP BY l_returnflag ORDER BY l_returnflag
    """)


def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection-function family: sort/distinct/contains/slice/
    element_at over token arrays (results flattened to strings so the
    cross-engine hash is representation-independent)."""
    return _sql(spark, sf_dir, """
        SELECT p_partkey,
               array_join(array_sort(array_distinct(t)), ',') AS sorted_distinct,
               array_contains(t, 'widget') AS has_widget,
               size(t) AS n_tokens,
               array_join(slice(t, 1, 2), ',') AS first_two,
               element_at(t, -1) AS last_token
        FROM (SELECT p_partkey, split(p_name, ' ') AS t FROM {part})
    """)


def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional two-nation trade volume by year —
    supplier nation and customer nation both bound, either direction,
    revenue bucketed by ship year."""
    return _sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(s, c, n1, n2) */
               n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               {_isum2("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM {{lineitem}}
        JOIN {{orders}}     ON l_orderkey = o_orderkey
        JOIN {{supplier}} s ON l_suppkey = s_suppkey
        JOIN {{customer}} c ON o_custkey = c_custkey
        JOIN {{nation}} n1 ON s_nationkey = n1.n_nationkey
        JOIN {{nation}} n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """)


def profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling in ONE scan: null count, exact distinct count,
    min/max (as text) per column — the data-quality report a pipeline
    runs before trusting a new source. Computed as a single wide
    aggregate then unpivoted to (column, metric) long form, so the
    table is read once regardless of column count."""
    c = load_table(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    aggs = []
    for col in cols:
        aggs += [
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).cast("long").alias(f"{col}__nulls"),
            F.count_distinct(F.col(col)).alias(f"{col}__distinct"),
            F.min(F.col(col)).cast("string").alias(f"{col}__min"),
            F.max(F.col(col)).cast("string").alias(f"{col}__max"),
        ]
    wide = c.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(col).alias("column"),
                F.col(f"{col}__nulls").alias("n_nulls"),
                F.col(f"{col}__distinct").alias("n_distinct"),
                F.col(f"{col}__min").alias("min_text"),
                F.col(f"{col}__max").alias("max_text"),
            )
            for col in cols
        ]
    )
    return (
        wide.select(F.explode(rows).alias("r"))
        .select("r.column", "r.n_nulls", "r.n_distinct", "r.min_text", "r.max_text")
        .orderBy("column")
    )


def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moment aggregates per group: sample stddev/variance
    and quantity↔price correlation/covariance. Both engines use
    numerically-stable single-pass algorithms whose reduction order
    differs, so results are rounded coarsely as the query contract."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               round(stddev_samp(l_extendedprice), 2) AS sd_price,
               round(var_samp(l_quantity), 4) AS var_qty,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
        FROM {lineitem} GROUP BY l_returnflag ORDER BY l_returnflag
    """)


def fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match join: candidate pairs share a
    (nation, segment) block, then pay a levenshtein edit-distance
    check — the classic entity-resolution shape (blocking bounds the
    quadratic term to within-block sizes; never an all-pairs join)."""
    return _sql(spark, sf_dir, """
        SELECT a.c_nationkey AS nationkey, a.c_mktsegment AS segment,
               count(*) AS n_fuzzy_pairs
        FROM {customer} a JOIN {customer} b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
         AND levenshtein(a.c_name, b.c_name) <= 2
        GROUP BY a.c_nationkey, a.c_mktsegment
        ORDER BY nationkey, segment
    """)


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20 —
    fact-to-fact join shuffles on the order key."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               round(any_value(c_acctbal), 2) AS c_acctbal
        FROM {lineitem}
        JOIN {orders}   ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        JOIN {nation}   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-07-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """)


def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (share of revenue
    from one part class) in a single pass."""
    return _sql(spark, sf_dir, """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS economy_pct
        FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
    """)


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — the
    predicate-pushdown stress case (each disjunct's part-side terms
    still prune the build side)."""
    return _sql(spark, sf_dir, """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 5  AND l_quantity <= 10)
           OR (p_brand = 'Brand#2' AND p_size <= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#3' AND p_size <= 15 AND l_quantity <= 30)
    """)


def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: part's numeric measures to (metric, value) long
    form — the inverse of the pivot family, used to normalize wide
    tables."""
    return _sql(spark, sf_dir, """
        SELECT p_partkey, metric, value FROM (
          SELECT p_partkey,
                 CAST(p_size AS DOUBLE) AS size,
                 round(p_retailprice, 2) AS retailprice
          FROM {part}
        ) UNPIVOT (value FOR metric IN (size, retailprice))
    """)


def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a semi join — orders in a
    quarter having at least one returned lineitem, counted by priority."""
    return _sql(spark, sf_dir, """
        SELECT o_orderpriority, count(*) AS order_count
        FROM {orders}
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM {lineitem}
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)


def q16_supplier_cnt_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN (anti join) + COUNT(DISTINCT) per group
    (a two-level hash aggregate, partial-agg friendly)."""
    return _sql(spark, sf_dir, """
        SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#4'
          AND p_type NOT LIKE 'ECONOMY%'
          AND p_size IN (1, 5, 9, 13)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type
        ORDER BY supplier_cnt DESC, p_brand, p_type
    """)


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global avg, kept in-plan as a
    1-row join — no driver round trip) + NOT EXISTS (anti join) — rich
    customers with no urgent orders, by nation. (The synthetic corpus
    gives every customer at least one order, so the anti-join predicate
    is the urgent slice rather than Q22's no-orders-at-all; the plan
    shape is identical.)"""
    return _sql(spark, sf_dir, """
        SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        FROM {customer}
        JOIN (SELECT avg(c_acctbal) AS avg_bal FROM {customer} WHERE c_acctbal > 0)
          ON c_acctbal > avg_bal
        LEFT ANTI JOIN {orders} ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
        GROUP BY c_nationkey ORDER BY c_nationkey
    """)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's share of a region's market by year —
    conditional-sum ratio over a 6-table star join.

    The text fixes the join order: lineitem is pre-pruned by a part
    semi join, the customer→nation→region chain collapses to a
    broadcast custkey set, and supplier/nation are broadcast; the only
    fact shuffle is lineitem↔orders on the order key. The ratio is a
    single-pass conditional aggregate (no second scan for the
    denominator)."""
    return _sql(spark, sf_dir, """
        WITH asia_cust AS (
          SELECT c_custkey FROM {customer}
          JOIN {nation} ON c_nationkey = n_nationkey
          JOIN {region} ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
        ),
        supp AS (
          SELECT s_suppkey, n_name AS supp_nation
          FROM {supplier} JOIN {nation} ON s_nationkey = n_nationkey
        ),
        li AS (
          SELECT * FROM {lineitem} LEFT SEMI JOIN {part}
            ON l_partkey = p_partkey AND p_type = 'STANDARD'
        )
        SELECT /*+ BROADCAST(a, s) */ year(o_orderdate) AS o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_3'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
        FROM li
        JOIN {orders} ON l_orderkey = o_orderkey
        LEFT SEMI JOIN asia_cust a ON o_custkey = c_custkey
        JOIN supp s ON l_suppkey = s_suppkey
        GROUP BY year(o_orderdate)
        ORDER BY o_year
    """)


_Q8_ORACLE = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN part      ON l_partkey = p_partkey
WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
GROUP BY o_year
ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year over a
    part-name LIKE filter. The testdata has no partsupp, so unit cost
    is proxied as 60% of ``p_retailprice`` (same plan shape: the cost
    column rides the broadcast part dim into the fact join). Profit
    can go NEGATIVE per group; ``_isum2`` rounds both signs alike."""
    return _sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(p, s, n) */ n_name AS nation, year(o_orderdate) AS o_year,
               {_isum2("l_extendedprice * (1 - l_discount) - p_retailprice * 0.6 * l_quantity")}
                 AS sum_profit
        FROM {{lineitem}}
        JOIN {{part}}     p ON l_partkey = p_partkey
        JOIN {{orders}}     ON l_orderkey = o_orderkey
        JOIN {{supplier}} s ON l_suppkey = s_suppkey
        JOIN {{nation}}   n ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY n_name, o_year DESC
    """)


_Q9_ORACLE = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       {_isum2_sql("l_extendedprice * (1 - l_discount) - p_retailprice * 0.6 * l_quantity")} AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(o_orderdate)
ORDER BY n_name, o_year DESC
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value vs a global-fraction threshold
    (scalar subquery in HAVING). Value is proxied as shipped revenue
    from NATION_1 suppliers (no partsupp table).

    The threshold is MEAN-RELATIVE — a part qualifies when its value
    exceeds ``Q11_MEAN_MULT``× the mean per-part value — the same
    SF-scaling the TPC-H spec builds into Q11 (its fraction is
    0.0001/SF): a fixed global-share fraction selects a vanishing set
    as the part count grows (0 rows at sf0.1+ with the old 0.001
    share), while a mean multiple selects a stable population share at
    every corpus size.

    Determinism: values are quantized per-lineitem to BIGINT 1e-4
    units before summing (double sums are order-sensitive and diverge
    cross-engine at sf1+), so the threshold comparison is pure integer
    arithmetic — ``value_i · n_parts > MULT · total_i`` — with no
    float boundary an engine can land on differently. The products
    are decimal(38): a part count that grows with SF passes int64
    around SF~1500 (DuckDB's BIGINT sum is already HUGEINT)."""
    return _sql(spark, sf_dir, f"""
        WITH pp AS (
          SELECT l_partkey,
                 sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS value_i
          FROM {{lineitem}}
          WHERE l_suppkey IN (SELECT s_suppkey FROM {{supplier}}
                              JOIN {{nation}} ON s_nationkey = n_nationkey
                              WHERE n_name = 'NATION_1')
          GROUP BY l_partkey
        ),
        tot AS (SELECT sum(value_i) AS total_i, count(*) AS n_parts FROM pp)
        SELECT l_partkey, ((value_i + 50) div 100) / 100.0D AS value
        FROM pp, tot
        WHERE CAST(value_i AS DECIMAL(38, 0)) * n_parts
              > {Q11_MEAN_MULT} * CAST(total_i AS DECIMAL(38, 0))
        ORDER BY value DESC, l_partkey
    """)


Q11_MEAN_MULT = 2  # a part is "important" at >2x the mean per-part value

_Q11_ORACLE = f"""
WITH pp AS (
  SELECT l_partkey,
         sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS value_i
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                      JOIN nation ON s_nationkey = n_nationkey
                      WHERE n_name = 'NATION_1')
  GROUP BY l_partkey
),
tot AS (SELECT CAST(sum(value_i) AS BIGINT) AS total_i,
               CAST(count(*) AS BIGINT) AS n_parts FROM pp)
SELECT l_partkey, ((value_i + 50) // 100) / 100.0 AS value
FROM pp, tot
WHERE value_i * n_parts > {Q11_MEAN_MULT} * total_i
ORDER BY value DESC, l_partkey
"""


def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts per group over a
    lateness predicate. The testdata has no shipmode/commit/receipt
    columns, so the group is ``l_linestatus`` and "late" is shipped
    more than 90 days after the order date — the plan shape (join +
    CASE-sum split by priority class) is Q12's."""
    return _sql(spark, sf_dir, """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM {lineitem}
        JOIN {orders} ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """)


_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: max over an aggregate view — revenue per
    supplier in a quarter, keep the supplier(s) hitting the maximum.

    The max is joined back in-plan rather than read through a scalar
    subquery, so both references of the revenue view plan in one query
    and share its shuffle. The comparison runs on the 2-dp-rounded
    revenue in BOTH engines so the selection is deterministic under FP
    sum reordering."""
    return _sql(spark, sf_dir, """
        WITH revenue AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM {lineitem}
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue
        JOIN (SELECT max(total_revenue) AS max_revenue FROM revenue)
          ON total_revenue = max_revenue
        JOIN {supplier} ON l_suppkey = s_suppkey
        ORDER BY s_suppkey
    """)


_Q15_ORACLE = """
WITH revenue AS (
    SELECT l_suppkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-subquery semi join — customers whose
    orders exceed a total-quantity threshold, top 100 by price.

    Scale shape (r14 opt): ONE fact pass. The per-order quantity
    aggregate both decides qualification AND is the output sum — the
    IN-subquery form semi-joins the qualifying keys back into a second
    lineitem scan and re-aggregates the same sum. Here the filtered
    aggregate (already order-grained, so the downstream joins and sort
    see one row per qualifying order) joins orders directly. Output
    values are identical: per qualifying order, sum(l_quantity) over
    its semi-joined lines IS the aggregate's qty, and
    o_totalprice/o_orderdate are 1:1 with the order key."""
    return _sql(spark, sf_dir, """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, round(qty, 2) AS sum_qty
        FROM (SELECT l_orderkey, sum(l_quantity) AS qty FROM {lineitem}
              GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        JOIN {orders}   ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        LIMIT 100
    """)


_Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       round(any_value(o_totalprice), 2) AS o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS chain against the same
    fact — suppliers in one nation who were the ONLY supplier with a
    returned line on a multi-supplier finished order. "Failed" is
    ``l_returnflag = 'R'`` (no receipt/commit dates in the testdata);
    the two correlated subqueries decorrelate exactly as in TPC-H:
    one semi join (another supplier shipped the order) and one anti
    join (no OTHER supplier failed it), both equi on the order key
    with the supplier inequality as a residual join predicate."""
    return _sql(spark, sf_dir, """
        SELECT s_name, count(*) AS numwait
        FROM {lineitem} l1
        JOIN {orders}   ON l1.l_orderkey = o_orderkey
        JOIN {supplier} ON l1.l_suppkey = s_suppkey
        JOIN {nation}   ON s_nationkey = n_nationkey
        WHERE l1.l_returnflag = 'R'
          AND o_orderstatus = 'F'
          AND n_name = 'NATION_2'
          AND EXISTS (SELECT 1 FROM {lineitem} l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM {lineitem} l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """)


_Q21_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l1.l_returnflag = 'R'
  AND o_orderstatus = 'F'
  AND n_name = 'NATION_2'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "preview_limit": preview_limit,
    "filter_predicates": filter_predicates,
    "param_eq_filter": param_eq_filter,
    "join_inner": join_inner,
    "join_left_agg": join_left_agg,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "agg_having_distinct": agg_having_distinct,
    "group_concat_names": group_concat_names,
    "rollup_agg": rollup_agg,
    "cube_agg": cube_agg,
    "distinct_scan": distinct_scan,
    "count_rows": count_rows,
    "window_rank": window_rank,
    "window_frames": window_frames,
    "top_k_per_group": top_k_per_group,
    "sort_limit_offset": sort_limit_offset,
    "set_union": set_union,
    "set_intersect": set_intersect,
    "set_except": set_except,
    "subquery_cte": subquery_cte,
    "rcte_order_chain": rcte_order_chain,
    "rcte_reachability": rcte_reachability,
    "scd2_customer_history": scd2_customer_history,
    "scd2_customer_multigen": scd2_customer_multigen,
    "scd2_asof_lookup": scd2_asof_lookup,
    "union_all_missing_cols": union_all_missing_cols,
    "string_funcs": string_funcs,
    "math_funcs": math_funcs,
    "date_funcs": date_funcs,
    "json_funcs": json_funcs,
    "normalize_text_parity": normalize_text_parity,
    "lineage_source_file": lineage_source_file,
    "md5_fingerprint": md5_fingerprint,
    "error_summary_topk": error_summary_topk,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q20_supplier_part_chain": q20_supplier_part_chain,
    "q4_priority_exists": q4_priority_exists,
    "q16_supplier_cnt_distribution": q16_supplier_cnt_distribution,
    "q22_idle_customers": q22_idle_customers,
    "window_navigation": window_navigation,
    "unpivot_part_measures": unpivot_part_measures,
    "q10_returned_revenue": q10_returned_revenue,
    "q14_promo_revenue_pct": q14_promo_revenue_pct,
    "q19_disjunctive_predicates": q19_disjunctive_predicates,
    "stats_moments": stats_moments,
    "fuzzy_customer_pairs": fuzzy_customer_pairs,
    "profile_customer": profile_customer,
    "q7_nation_trade_volume": q7_nation_trade_volume,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_important_stock": q11_important_stock,
    "q12_late_shipment_priority": q12_late_shipment_priority,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q21_suppliers_kept_waiting": q21_suppliers_kept_waiting,
    "array_funcs": array_funcs,
    "bool_bit_aggs": bool_bit_aggs,
    "correlated_subquery": correlated_subquery,
    "q6_forecast_revenue": q6_forecast_revenue,
    "explode_lateral": explode_lateral,
    "percentile_stats": percentile_stats,
    "histogram_bins": histogram_bins,
    "approx_sketches": approx_sketches,
    "pivot_status_by_priority": pivot_status_by_priority,
    "grouping_sets_agg": grouping_sets_agg,
    "case_null_funcs": case_null_funcs,
    "regexp_funcs": regexp_funcs,
}

ORACLES: dict[str, str] = {
    "q1_pricing_summary": _Q1_ORACLE,
    "q3_shipping_priority": _Q3_ORACLE,
    "q5_region_revenue": _Q5_ORACLE,
    "preview_limit": "SELECT * FROM region ORDER BY r_regionkey LIMIT 3",
    "filter_predicates": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderstatus IN ('O', 'F')
          AND o_totalprice BETWEEN 1000.0 AND 50000.0
          AND o_orderpriority LIKE '1-%'
          AND o_custkey IS NOT NULL
    """,
    "param_eq_filter": "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42",
    "join_inner": """
        SELECT o_orderkey, c_custkey, c_name, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "join_left_agg": """
        SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "join_semi": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 40000.0)
    """,
    "join_anti": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
    """,
    "agg_having_distinct": """
        SELECT o_custkey,
               count(*) AS n_orders,
               count(DISTINCT o_orderstatus) AS n_statuses,
               round(sum(o_totalprice), 2) AS total_spent,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM orders GROUP BY o_custkey HAVING count(*) > 10
    """,
    "group_concat_names": """
        SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names
        FROM customer GROUP BY c_nationkey
    """,
    "rollup_agg": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "cube_agg": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "distinct_scan": "SELECT DISTINCT p_brand, p_type FROM part",
    "count_rows": "SELECT count(*) AS n FROM lineitem",
    "window_rank": """
        SELECT o_orderkey, o_custkey, o_totalprice,
               row_number() OVER w AS rn,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               round(lag(o_totalprice, 1)  OVER w, 2) AS prev_price,
               round(lead(o_totalprice, 1) OVER w, 2) AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "window_frames": """
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
               count(*) OVER (
                 PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_within_1000
        FROM orders
    """,
    "top_k_per_group": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 2
    """,
    "sort_limit_offset": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 10
    """,
    "set_union": """
        SELECT c_nationkey AS nationkey FROM customer
        UNION SELECT s_nationkey FROM supplier
    """,
    "set_intersect": """
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier
    """,
    "set_except": """
        SELECT DISTINCT nationkey FROM (
          SELECT c_nationkey AS nationkey FROM customer
          EXCEPT ALL SELECT s_nationkey FROM supplier)
    """,
    "subquery_cte": """
        WITH building AS (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        )
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
          AND o_custkey IN (SELECT c_custkey FROM building)
    """,
    "rcte_order_chain": """
        WITH RECURSIVE seq AS (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn,
                 count(*) OVER (PARTITION BY o_custkey) AS n_orders
          FROM orders
        ),
        chain (o_custkey, o_orderkey, pos, cum_gap_days) AS (
          SELECT o_custkey, o_orderkey, 1, 0 FROM seq
          WHERE rn = 1 AND n_orders >= 2 AND o_custkey % 10 = 0
          UNION ALL
          SELECT n.o_custkey, n.o_orderkey, c.pos + 1,
                 c.cum_gap_days + datediff('day', p.o_orderdate, n.o_orderdate)
          FROM chain c
          JOIN seq p ON p.o_custkey = c.o_custkey AND p.o_orderkey = c.o_orderkey
          JOIN seq n ON n.o_custkey = c.o_custkey AND n.rn = p.rn + 1
          WHERE c.pos < 64
        )
        SELECT o_custkey, o_orderkey, CAST(pos AS INT) AS pos,
               CAST(cum_gap_days AS BIGINT) AS cum_gap_days
        FROM chain
    """,
    "scd2_customer_history": """
        WITH h AS (
          SELECT c_custkey, c_mktsegment, c_acctbal,
                 CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                      AS BIGINT) AS hv
          FROM customer
        ),
        flags AS (
          SELECT *,
                 hv % 11 = 3 AS is_del,
                 (hv % 11 <> 3 AND hv % 7 = 0) AS is_chg,
                 (hv % 7 = 0 OR hv % 5 = 0 OR hv % 11 = 3) AS has_u
          FROM h
        )
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(0 AS INT) AS valid_from,
               CAST(CASE WHEN has_u AND (is_del OR is_chg) THEN 1 END AS INT)
                 AS valid_to
        FROM flags
        UNION ALL
        SELECT c_custkey, c_mktsegment || '_v2', c_acctbal,
               CAST(1 AS INT), CAST(NULL AS INT)
        FROM flags WHERE has_u AND is_chg AND NOT is_del
        UNION ALL
        SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer),
               'NEW', c_acctbal,
               CAST(1 AS INT), CAST(NULL AS INT)
        FROM h WHERE hv % 17 = 0
    """,
    "scd2_customer_multigen": """
        WITH f AS (
          SELECT c_custkey, c_mktsegment, c_acctbal,
                 CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                      AS BIGINT) AS hv,
                 (SELECT max(c_custkey) + 1 FROM customer) AS off
          FROM customer
        ),
        g AS (
          SELECT *,
                 hv % 11 = 3 AS del1,
                 (hv % 11 <> 3 AND hv % 7 = 0) AS chg1,
                 hv % 17 = 0 AS ins1,
                 hv % 13 = 0 AS r13,
                 hv % 2 = 0 AS r2
          FROM f
        )
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(0 AS INT) AS valid_from,
               CAST(CASE WHEN del1 OR chg1 THEN 1 END AS INT) AS valid_to
        FROM g
        UNION ALL
        SELECT c_custkey, c_mktsegment || '_v2', c_acctbal,
               CAST(1 AS INT), CAST(CASE WHEN r13 THEN 2 END AS INT)
        FROM g WHERE chg1
        UNION ALL
        SELECT c_custkey, c_mktsegment || '_v3', c_acctbal,
               CAST(2 AS INT), CAST(NULL AS INT)
        FROM g WHERE chg1 AND r13
        UNION ALL
        SELECT c_custkey + off, 'NEW', c_acctbal,
               CAST(1 AS INT), CAST(CASE WHEN r2 THEN 2 END AS INT)
        FROM g WHERE ins1
        UNION ALL
        SELECT c_custkey, 'BACK', c_acctbal,
               CAST(2 AS INT), CAST(NULL AS INT)
        FROM g WHERE del1 AND r2
    """,
    "scd2_asof_lookup": """
        WITH f AS (
          SELECT c_custkey, c_mktsegment, c_acctbal,
                 CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                      AS BIGINT) AS hv,
                 (SELECT max(c_custkey) + 1 FROM customer) AS off
          FROM customer
        ),
        g AS (
          SELECT *,
                 hv % 11 = 3 AS del1,
                 (hv % 11 <> 3 AND hv % 7 = 0) AS chg1,
                 hv % 17 = 0 AS ins1,
                 hv % 13 = 0 AS r13,
                 hv % 2 = 0 AS r2
          FROM f
        ),
        hist AS (
          SELECT c_custkey, c_mktsegment, c_acctbal,
                 CAST(0 AS INT) AS valid_from,
                 CAST(CASE WHEN del1 OR chg1 THEN 1 END AS INT) AS valid_to
          FROM g
          UNION ALL
          SELECT c_custkey, c_mktsegment || '_v2', c_acctbal,
                 CAST(1 AS INT), CAST(CASE WHEN r13 THEN 2 END AS INT)
          FROM g WHERE chg1
          UNION ALL
          SELECT c_custkey, c_mktsegment || '_v3', c_acctbal,
                 CAST(2 AS INT), CAST(NULL AS INT)
          FROM g WHERE chg1 AND r13
          UNION ALL
          SELECT c_custkey + off, 'NEW', c_acctbal,
                 CAST(1 AS INT), CAST(CASE WHEN r2 THEN 2 END AS INT)
          FROM g WHERE ins1
          UNION ALL
          SELECT c_custkey, 'BACK', c_acctbal,
                 CAST(2 AS INT), CAST(NULL AS INT)
          FROM g WHERE del1 AND r2
        ),
        touched AS (
          SELECT c_custkey FROM g WHERE chg1 AND r13
          UNION
          SELECT c_custkey + off FROM g WHERE ins1 AND r2
          UNION
          SELECT c_custkey FROM g WHERE del1 AND r2
        )
        SELECT gg.asof_gen, h.c_custkey, h.c_mktsegment, h.c_acctbal
        FROM hist h
        JOIN touched t ON t.c_custkey = h.c_custkey
        CROSS JOIN (SELECT CAST(1 AS INT) AS asof_gen
                    UNION ALL SELECT CAST(2 AS INT)) gg
        WHERE h.valid_from <= gg.asof_gen
          AND (h.valid_to IS NULL OR h.valid_to > gg.asof_gen)
    """,
    "rcte_reachability": """
        WITH RECURSIVE mx AS (SELECT max(p_partkey) + 1 AS m FROM part),
        edges AS (
          SELECT p_partkey AS src,
                 CAST((p_partkey * 2 + 1) % (SELECT m FROM mx) AS BIGINT) AS dst
          FROM part
          UNION ALL
          SELECT p_partkey,
                 CAST((p_partkey * 3 + 7) % (SELECT m FROM mx) AS BIGINT)
          FROM part
        ),
        reach (root, node, depth, path) AS (
          SELECT p_partkey, p_partkey, 0, [p_partkey]
          FROM part WHERE p_partkey % 199 = 0
          UNION ALL
          SELECT r.root, e.dst, r.depth + 1, list_append(r.path, e.dst)
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.depth < 6 AND NOT list_contains(r.path, e.dst)
        )
        SELECT root, node, CAST(min(depth) AS INT) AS min_depth,
               CAST(count(*) AS BIGINT) AS n_paths
        FROM reach GROUP BY root, node
    """,
    "union_all_missing_cols": """
        SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment FROM customer
        UNION ALL
        SELECT s_name, s_acctbal, NULL FROM supplier
    """,
    "string_funcs": """
        SELECT p_partkey,
               length(p_name)                          AS name_len,
               upper(p_name)                           AS name_upper,
               lower(p_brand)                          AS brand_lower,
               substr(p_name, 1, 5)                    AS name_pfx,
               trim('  ' || p_type || '  ')            AS type_trim,
               replace(p_name, ' ', '_')               AS name_snake,
               instr(p_name, 'widget')                 AS widget_pos,
               printf('%s|%03d', p_brand, p_size)      AS brand_size
        FROM part
    """,
    "math_funcs": """
        SELECT c_custkey,
               round(abs(c_acctbal), 2)                AS abs_bal,
               round(c_acctbal, 0)                     AS bal_round,
               CAST(floor(c_acctbal) AS BIGINT)        AS bal_floor,
               CAST(ceil(c_acctbal) AS BIGINT)         AS bal_ceil,
               c_custkey % 7                           AS key_mod7,
               least(c_acctbal, 0.0)                   AS neg_part,
               greatest(c_acctbal, 0.0)                AS pos_part,
               round(sqrt(abs(c_acctbal)), 4)          AS sqrt_bal
        FROM customer
    """,
    "date_funcs": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INT)     AS yr,
               CAST(month(o_orderdate) AS INT)    AS mo,
               CAST(day(o_orderdate) AS INT)      AS dom,
               CAST(quarter(o_orderdate) AS INT)  AS qtr,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               strftime(o_orderdate, '%Y-%m')     AS ym,
               CAST(o_orderdate AS DATE) + 30     AS due_date,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS age_days
        FROM orders
    """,
    "json_funcs": """
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               count(*) AS n,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "normalize_text_parity": """
        SELECT coalesce(CAST(doc_id AS VARCHAR), '') AS doc_id,
               coalesce(text, '')   AS text,
               coalesce(lang, '')   AS lang,
               coalesce(source, '') AS source
        FROM documents
    """,
    "lineage_source_file": """
        SELECT 'documents.parquet' AS _source_file, count(*) AS n FROM documents
    """,
    "md5_fingerprint": "SELECT doc_id, md5(text) AS text_md5 FROM documents",
    "error_summary_topk": """
        SELECT event_type, count(*) AS n FROM events
        GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5
    """,
    "q13_order_count_distribution": """
        SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '4-%'
          GROUP BY c_custkey)
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    "q2_min_cost_supplier": """
        WITH ps AS (
          SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                 min(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem GROUP BY 1, 2
        )
        SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_brand,
               floor(unit_cost * 100) / 100 AS unit_cost
        FROM ps
        JOIN part     ON p_partkey = partkey
        JOIN supplier ON s_suppkey = suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE p_type = 'ECONOMY' AND p_size <= 10
          AND unit_cost = (SELECT min(unit_cost) FROM ps i WHERE i.partkey = ps.partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
    "q17_small_quantity_revenue": """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#4' AND p_type = 'ECONOMY'
          AND l_quantity < 0.5 * (
            SELECT avg(l_quantity) FROM lineitem i WHERE i.l_partkey = lineitem.l_partkey
          )
    """,
    "q20_supplier_part_chain": f"""
        WITH pairs AS (
          SELECT l_suppkey, l_partkey,
                 sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS qty_i
          FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          GROUP BY l_suppkey, l_partkey
        ),
        mean AS (SELECT CAST(sum(qty_i) AS BIGINT) AS total_i,
                        CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM pairs, mean
          WHERE qty_i * n_pairs > {Q20_MEAN_MULT} * total_i
        )
        AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name LIKE 'NATION_1%')
        ORDER BY s_name
    """,
    "bool_bit_aggs": """
        SELECT l_returnflag,
               bool_and(l_quantity > 0) AS all_positive_qty,
               bool_or(l_discount > 0.09) AS any_high_discount,
               CAST(bit_and(l_linenumber) AS INT) AS ln_bit_and,
               CAST(bit_or(l_linenumber) AS INT) AS ln_bit_or,
               CAST(bit_xor(l_linenumber) AS INT) AS ln_bit_xor
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "array_funcs": """
        WITH p AS (SELECT p_partkey, string_split(p_name, ' ') AS t FROM part)
        SELECT p_partkey,
               array_to_string(list_sort(list_distinct(t)), ',') AS sorted_distinct,
               list_contains(t, 'widget') AS has_widget,
               CAST(len(t) AS INT) AS n_tokens,
               array_to_string(t[1:2], ',') AS first_two,
               t[-1] AS last_token
        FROM p
    """,
    "q7_nation_trade_volume": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {_isum2_sql("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q8_market_share": _Q8_ORACLE,
    "q9_product_profit": _Q9_ORACLE,
    "q11_important_stock": _Q11_ORACLE,  # SF-aware mean-relative threshold
    "q12_late_shipment_priority": _Q12_ORACLE,
    "q15_top_supplier": _Q15_ORACLE,
    "q18_large_volume_customers": _Q18_ORACLE,
    "q21_suppliers_kept_waiting": _Q21_ORACLE,
    "profile_customer": """
        WITH w AS (
          SELECT
            sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS k_nulls,
            count(DISTINCT c_custkey) AS k_dist,
            CAST(min(c_custkey) AS VARCHAR) AS k_min, CAST(max(c_custkey) AS VARCHAR) AS k_max,
            sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS n_nulls,
            count(DISTINCT c_name) AS n_dist,
            CAST(min(c_name) AS VARCHAR) AS n_min, CAST(max(c_name) AS VARCHAR) AS n_max,
            sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS nk_nulls,
            count(DISTINCT c_nationkey) AS nk_dist,
            CAST(min(c_nationkey) AS VARCHAR) AS nk_min, CAST(max(c_nationkey) AS VARCHAR) AS nk_max,
            sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS ab_nulls,
            count(DISTINCT c_acctbal) AS ab_dist,
            CAST(min(c_acctbal) AS VARCHAR) AS ab_min, CAST(max(c_acctbal) AS VARCHAR) AS ab_max,
            sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS ms_nulls,
            count(DISTINCT c_mktsegment) AS ms_dist,
            CAST(min(c_mktsegment) AS VARCHAR) AS ms_min, CAST(max(c_mktsegment) AS VARCHAR) AS ms_max
          FROM customer
        )
        SELECT 'c_custkey' AS "column", CAST(k_nulls AS BIGINT) AS n_nulls,
               CAST(k_dist AS BIGINT) AS n_distinct, k_min AS min_text, k_max AS max_text FROM w
        UNION ALL SELECT 'c_name', CAST(n_nulls AS BIGINT), CAST(n_dist AS BIGINT), n_min, n_max FROM w
        UNION ALL SELECT 'c_nationkey', CAST(nk_nulls AS BIGINT), CAST(nk_dist AS BIGINT), nk_min, nk_max FROM w
        UNION ALL SELECT 'c_acctbal', CAST(ab_nulls AS BIGINT), CAST(ab_dist AS BIGINT), ab_min, ab_max FROM w
        UNION ALL SELECT 'c_mktsegment', CAST(ms_nulls AS BIGINT), CAST(ms_dist AS BIGINT), ms_min, ms_max FROM w
        ORDER BY "column"
    """,
    "stats_moments": """
        SELECT l_returnflag,
               round(stddev_samp(l_extendedprice), 2) AS sd_price,
               round(var_samp(l_quantity), 4) AS var_qty,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "fuzzy_customer_pairs": """
        SELECT a.c_nationkey AS nationkey, a.c_mktsegment AS segment,
               count(*) AS n_fuzzy_pairs
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
         AND levenshtein(a.c_name, b.c_name) <= 2
        GROUP BY a.c_nationkey, a.c_mktsegment
        ORDER BY nationkey, segment
    """,
    "q10_returned_revenue": """
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               round(any_value(c_acctbal), 2) AS c_acctbal
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-07-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    "q14_promo_revenue_pct": """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS economy_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    "q19_disjunctive_predicates": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 5  AND l_quantity <= 10)
           OR (p_brand = 'Brand#2' AND p_size <= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#3' AND p_size <= 15 AND l_quantity <= 30)
    """,
    "unpivot_part_measures": """
        SELECT p_partkey, metric, value FROM (
          SELECT p_partkey,
                 CAST(p_size AS DOUBLE) AS size,
                 round(p_retailprice, 2) AS retailprice
          FROM part
        ) UNPIVOT (value FOR metric IN (size, retailprice))
    """,
    "window_navigation": """
        SELECT o_orderkey, o_custkey,
               round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
               round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q4_priority_exists": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q16_supplier_cnt_distribution": """
        SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#4'
          AND p_type NOT LIKE 'ECONOMY%'
          AND p_size IN (1, 5, 9, 13)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type
        ORDER BY supplier_cnt DESC, p_brand, p_type
    """,
    "q22_idle_customers": """
        SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "correlated_subquery": """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > 1.8 * (
          SELECT avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
        )
    """,
    "q6_forecast_revenue": f"""
        SELECT {_isum2_sql("l_extendedprice * l_discount")} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    "explode_lateral": """
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        GROUP BY word ORDER BY n DESC, word
    """,
    "percentile_stats": """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
               round(median(o_totalprice), 2) AS med,
               count(*) AS n
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "histogram_bins": """
        SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bin, count(*) AS n
        FROM orders GROUP BY bin ORDER BY bin
    """,
    "approx_sketches": """
        SELECT l_returnflag,
               true AS nd_parts_ok, true AS nd_orders_ok,
               true AS p50_ok, true AS p99_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "pivot_status_by_priority": """
        SELECT o_orderstatus,
               count(*) FILTER (o_orderpriority = '1-URGENT')        AS p1,
               count(*) FILTER (o_orderpriority = '2-HIGH')          AS p2,
               count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS p3,
               count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
               count(*) FILTER (o_orderpriority = '5-LOW')           AS p5
        FROM orders GROUP BY o_orderstatus
    """,
    "grouping_sets_agg": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "case_null_funcs": """
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                    WHEN c_acctbal < 1000 THEN 'low'
                    ELSE 'healthy' END AS balance_band,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
               CASE WHEN nullif(CAST(c_nationkey AS VARCHAR), '0') IS NOT NULL
                    THEN 'has_nation' ELSE 'zero' END AS nation_flag
        FROM customer
    """,
    "regexp_funcs": """
        SELECT p_partkey,
               regexp_matches(p_name, '^[a-z]+ widget$') AS is_widget,
               coalesce(regexp_extract(p_name, '^([a-z]+) ', 1), '') AS first_word,
               regexp_replace(p_brand, '[0-9]+', '#', 'g') AS brand_masked
        FROM part
    """,
}
