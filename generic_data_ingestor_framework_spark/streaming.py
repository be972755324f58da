"""Structured Streaming ingest, event-time windowing and stream
maintainers.

The reference polls a directory and batch-ingests it
(`src/core/application.py:36-153`); the idiomatic Spark replacement is
the file streaming source with ``Trigger.AvailableNow`` — incremental
listing, exactly-once sink commit, and the same code path keeps working
as a continuous stream. This module provides:

- batch event-time operators (tumbling / sliding / session windows,
  watermark-style dedup, funnels, cohorts, rolling frames) over
  ``events`` — semantics identical to their streaming forms and
  oracle-checkable. Each is one Spark SQL text (``relational._sql``)
  except the two as-of members, whose point is the ``asof_join``
  primitive;
- ``stream_*`` members: REAL streaming executions whose final table
  must match the same DuckDB oracle as the batch form, proving
  batch/stream equivalence. Each runs through ``_run_memory_sink``
  (unique memory sink, bounded state partitions, row/byte guards);
- maintainers (``stream_upsert``, ``stream_ann_index_*``,
  ``stream_scd2_apply``) that drain a directory of change files
  through ``_run_foreach_batch`` and apply each micro-batch with the
  same table or index call the pipeline step uses.

Scale notes (100 TB): file-source streaming scales by listing
incrementally (maxFilesPerTrigger) instead of materializing the full
file index; windowed aggregation state is bounded by the watermark and
partitioned by group key, so state never concentrates on one executor.
Session windows use ``session_window`` (native state merge) rather than
a per-key collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from generic_data_ingestor_framework_spark.relational import _sql, load_table

EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # parquet timestamp[us]. The batch reader infers NTZ, but
        # streaming watermarks REQUIRE TimestampType (LTZ) —
        # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise — so the stream
        # path declares LTZ; batch/stream parity therefore also needs a
        # UTC session timezone (session.py pins it).
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_SINK_SEQ = 0


def _unique_sink(base: str) -> str:
    """Memory-sink query names must be unique per invocation: a second
    start() with the same name in one session fails, and reusing a name
    would read a stale table if the new query hasn't committed yet."""
    global _SINK_SEQ
    _SINK_SEQ += 1
    return f"{base}_{_SINK_SEQ}"


def _run_to_completion(q, what: str) -> None:
    """AvailableNow contract: drain ALL input, then stop. No timeout —
    a timed awaitTermination that falls through would silently read a
    partial sink on a loaded machine."""
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{what} failed: {q.exception()}")


MEMORY_SINK_MAX_ROWS = 1_000_000  # parity-harness bound; see _run_memory_sink
MEMORY_SINK_MAX_BYTES = 256 * 1024 * 1024  # est. driver-heap bound (rows × sampled row size)
_SINK_SIZE_SAMPLE = 100  # rows sampled to estimate bytes/row
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _run_memory_sink(spark: SparkSession, frame: DataFrame, output_mode: str, what: str):
    """Run the streaming ``frame`` to completion (availableNow) into a
    uniquely named memory sink; return ``(rows, query)``: ``rows`` a
    copy of the sink's final table that outlives the sink, ``query``
    the finished query, for its progress.

    Streaming state partitioning is fixed by shuffle.partitions at the
    first checkpoint and AQE never coalesces it, so the query starts
    with it bounded to ``defaultParallelism`` (a driver-default session
    would otherwise run 200 state tasks for a handful of keys); the
    caller's value is restored afterwards.

    The sink's temp view is always dropped: memory sinks hold their full
    result in driver memory, so leaving one view behind per invocation
    accumulates result copies for the life of the session. Results here
    are aggregate-sized, and that is ENFORCED: past
    ``MEMORY_SINK_MAX_ROWS`` rows, or ``MEMORY_SINK_MAX_BYTES`` estimated
    bytes, this raises instead of ballooning the driver. The memory sink
    is the batch-parity harness only; corpus-scale streams go through
    the ``foreachBatch`` route (``_run_foreach_batch``), which never
    routes results through the driver."""
    import json

    sink = _unique_sink(f"{what}_sink")
    prev = spark.conf.get(_SHUFFLE_PARTITIONS)
    spark.conf.set(_SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism))
    try:
        q = (
            frame.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        _run_to_completion(q, what)
        t = spark.table(sink)
        n = t.count()
        if n > MEMORY_SINK_MAX_ROWS:
            raise RuntimeError(
                f"{what}: memory sink holds {n} rows "
                f"(> MEMORY_SINK_MAX_ROWS={MEMORY_SINK_MAX_ROWS}); this path is "
                f"the parity harness for aggregate-sized results — use the "
                f"foreachBatch route (see stream_upsert) for corpus-scale streams"
            )
        if n > 0:
            # row-count alone under-guards WIDE rows (1M rows of long text
            # ≈ GBs of driver heap): bound by estimated bytes too — mean
            # serialized size of a bounded sample × row count
            sample = t.limit(_SINK_SIZE_SAMPLE).collect()
            per_row = sum(
                len(json.dumps(r.asDict(recursive=True), default=str)) for r in sample
            ) / len(sample)
            est_bytes = int(per_row * n)
            if est_bytes > MEMORY_SINK_MAX_BYTES:
                raise RuntimeError(
                    f"{what}: memory sink estimated at {est_bytes} bytes "
                    f"({n} rows × ~{per_row:.0f} B sampled) "
                    f"> MEMORY_SINK_MAX_BYTES={MEMORY_SINK_MAX_BYTES}; use the "
                    f"foreachBatch route (see stream_upsert) for corpus-scale streams"
                )
        # a JVM-side copy that outlives the view (no driver round-trip)
        return t.localCheckpoint(eager=True), q
    finally:
        spark.catalog.dropTempView(sink)
        spark.conf.set(_SHUFFLE_PARTITIONS, prev)


def _run_foreach_batch(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    apply,
    what: str,
) -> None:
    """Drain the JSON files under ``src_dir`` (availableNow, at most
    ``max_files_per_trigger`` files per micro-batch) through
    ``apply(batch_df, batch_id)``, skipping empty batches. The
    checkpoint makes each file apply exactly once across runs, and a
    failed batch replays under the same ``batch_id``. ``foreachBatch``
    hands ``apply`` a frame of a CLONED session: ``apply`` mutates
    tables and indexes through the caller's ``spark``, so the caller's
    catalog and memos see the change without a refresh."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            apply(batch_df, int(batch_id))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(src_dir)
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _run_to_completion(q, what)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Batch event-time windows (streaming-equivalent semantics)
# ---------------------------------------------------------------------------

def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time window: counts + value sum per bucket."""
    return _sql(spark, sf_dir, """
        SELECT window.start AS window_start, window.end AS window_end,
               count(1) AS n, round(sum(value), 2) AS sum_value
        FROM {events} GROUP BY window(ts, '1 hour')
    """)


def window_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h window, 30m slide (each event lands in 2 windows)."""
    return _sql(spark, sf_dir, """
        SELECT window.start AS window_start, count(1) AS n
        FROM {events} GROUP BY window(ts, '1 hour', '30 minutes')
    """)


def session_window_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap
    (native ``session_window`` — distributed state merge, no collect)."""
    return _sql(spark, sf_dir, """
        SELECT user_id, session_window.start AS session_start,
               session_window.end AS session_end, count(1) AS n_events
        FROM {events} GROUP BY user_id, session_window(ts, '10 minutes')
    """)


def session_stats_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level rollup: per-user session count, mean session
    length (seconds, gap-inclusive like ``session_window``), and the
    busiest session — the product-analytics summary layered on native
    sessionization (two hash aggregates, no extra state)."""
    return _sql(spark, sf_dir, """
        SELECT user_id, count(1) AS n_sessions, round(avg(dur_s), 2) AS avg_session_s,
               max(n_events) AS max_session_events
        FROM (SELECT user_id,
                     unix_timestamp(session_window.end)
                       - unix_timestamp(session_window.start) AS dur_s,
                     count(1) AS n_events
              FROM {events} GROUP BY user_id, session_window(ts, '10 minutes'))
        GROUP BY user_id ORDER BY user_id
    """)


def user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over event time: per user, consecutive ACTIVE
    hours (hours with ≥1 event) merge into islands; reports island
    count, the longest island, and the longest silent gap — the
    activity-continuity profile behind churn/engagement features, and
    the classic SQL pattern (lag → new-island flag → running sum →
    per-island aggregate) the delegated surface was missing.

    Scale shape: the event stream collapses to distinct (user, hour)
    FIRST (one hash-aggregate — the heavy cardinality drop), then every
    window runs partitioned by user over hour-counts, never raw events.
    Hour arithmetic is integer epoch-hours, exact in both engines."""
    return _sql(spark, sf_dir, """
        WITH flagged AS (
          SELECT user_id, h, prev_h, CAST(prev_h IS NULL OR h - prev_h > 1 AS INT) AS new_island
          FROM (SELECT user_id, h, lag(h) OVER (PARTITION BY user_id ORDER BY h) AS prev_h
                FROM (SELECT DISTINCT user_id,
                             CAST(unix_timestamp(date_trunc('hour', ts)) / 3600 AS BIGINT) AS h
                      FROM {events}))
        ),
        agg_islands AS (
          SELECT user_id, count(1) AS n_islands, sum(island_hours) AS n_active_hours,
                 max(island_hours) AS longest_island_hours
          FROM (SELECT user_id, island, count(1) AS island_hours
                FROM (SELECT user_id,
                             sum(new_island) OVER (PARTITION BY user_id ORDER BY h
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                      FROM flagged)
                GROUP BY user_id, island)
          GROUP BY user_id
        ),
        agg_gaps AS (
          SELECT user_id, max(h - prev_h - 1) AS longest_gap_hours
          FROM flagged WHERE prev_h IS NOT NULL GROUP BY user_id
        )
        SELECT user_id, n_active_hours, n_islands, longest_island_hours,
               coalesce(longest_gap_hours, 0) AS longest_gap_hours
        FROM agg_islands LEFT JOIN agg_gaps USING (user_id)
    """)


def events_range_window_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per event, the count and value-sum of
    the SAME user's events in the trailing one hour (frame bounds in
    EVENT TIME, not row counts — ties share the frame, sparse periods
    shrink it). The complement to the ROWS frames elsewhere
    (``window_frames``, ``events_rolling_zscore``) and the SQL-window
    twin of the sliding stream windows.

    Scale shape: one shuffle on user_id, one sort, one running frame —
    identical to every per-user window here; the interval arithmetic
    stays in the frame machinery (no self-join expansion of the
    event×hour pairs)."""
    return _sql(spark, sf_dir, """
        SELECT event_id, user_id, count(*) OVER w AS n_1h, round(sum(value) OVER w, 2) AS sum_1h
        FROM {events}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """)


ZSCORE_LOOKBACK = 20   # trailing history window (rows)
ZSCORE_MIN_N = 10      # minimum history before a score is emitted
ZSCORE_THRESHOLD = 3.0


def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over the event stream: each
    event's ``value`` is scored against the trailing-``ZSCORE_LOOKBACK``
    history of the SAME user (frame excludes the current row, so an
    outlier never masks itself); events with fewer than ``ZSCORE_MIN_N``
    prior values are unscored. Reports per-user scored/anomaly counts
    and the peak |z| — the monitoring primitive behind metric-drift and
    fraud alerts.

    Mean/variance come from explicit sum/sum-of-squares over the frame
    (``var = (Σx² - (Σx)²/n)/(n-1)``) so the arithmetic is the same
    closed form in both engines.

    Scale shape: ONE shuffle (hash-partition by user) then a sliding
    ROWS frame inside each partition — no self-join, no per-row
    re-scan; the rolling state is O(lookback) per user. The same logic
    runs unbounded via ``applyInPandasWithState`` (keyed running
    window) if the input is a stream."""
    return _sql(spark, sf_dir, f"""
        WITH f AS (
          SELECT user_id, value, count(value) OVER w AS cnt, sum(value) OVER w AS s1,
                 sum(value * value) OVER w AS s2
          FROM {{events}}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING)
        ),
        z AS (
          SELECT user_id,
                 CASE WHEN cnt >= {ZSCORE_MIN_N} AND sd > 0 THEN (value - s1 / cnt) / sd END AS z
          FROM (SELECT *, sqrt(greatest((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0D)) AS sd FROM f)
        )
        SELECT user_id, count(1) AS n_scored,
               sum(CAST(abs(z) > {ZSCORE_THRESHOLD}D AS INT)) AS n_anomalies,
               round(max(abs(z)), 2) AS max_abs_z
        FROM z WHERE z IS NOT NULL GROUP BY user_id ORDER BY user_id
    """)


FUNNEL_STEPS = ["view", "click", "purchase"]  # ordered conversion funnel


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: how many users reach each step of
    view -> click -> purchase IN ORDER (each step strictly after the
    user's earliest qualifying previous step) -- the canonical
    sequential-pattern query of product analytics, expressed as chained
    conditional window minima instead of per-user event replay.

    Scale shape: ONE scan of the fact table (step-type IN filter pushed
    to parquet) and ONE shuffle on user_id. Each step is a conditional
    ``min(ts WHERE type = step AND ts > prev_step_t)`` over the
    whole-partition window, so the step chain adds Window operators on
    the SAME partitioning -- no re-scan, no re-shuffle, funnel length
    never touches the fact table again (the previous formulation paid a
    filtered scan + join per step: 6 scans / 6 shuffles in the round-7
    plan audit). No ordered event arrays are ever collected per user.
    The step counts land in one aggregate row, where each step's
    conversion over its previous step is computed before the row is
    unpacked to one row per step (no unpartitioned window). Conversion
    ratios are 4-dp floor (no cross-engine round ties)."""
    steps = "', '".join(FUNNEL_STEPS)
    chain = f"SELECT user_id, event_type, ts FROM {{events}} WHERE event_type IN ('{steps}')"
    rows = []
    for i, step in enumerate(FUNNEL_STEPS, 1):
        qual = f"event_type = '{step}'" + (f" AND ts > t{i - 1}" if i > 1 else "")
        chain = (
            f"SELECT *, min(CASE WHEN {qual} THEN ts END) OVER (PARTITION BY user_id)"
            f" AS t{i} FROM ({chain})"
        )
        # integer-floor basis points / 10000: no cross-engine round ties
        rows.append(
            f"struct({i} AS step_idx, '{step}' AS step, n{i} AS n_users,"
            f" floor(n{i} * 10000 / nullif(n{max(i - 1, 1)}, 0)) / 10000 AS conversion)"
        )
    ks = range(1, len(FUNNEL_STEPS) + 1)
    # rows within a user all carry identical t1..tk; collapse on the
    # partitioning the windows established (no new exchange). A step no
    # user reached has no row (nor has any later step): its successor's
    # conversion would divide by zero
    return _sql(spark, sf_dir, f"""
        SELECT * FROM (
          SELECT inline(array({", ".join(rows)}))
          FROM (SELECT {", ".join(f"sum(CAST(t{i} IS NOT NULL AS BIGINT)) AS n{i}" for i in ks)}
                FROM (SELECT user_id, {", ".join(f"min(t{i}) AS t{i}" for i in ks)}
                      FROM ({chain}) GROUP BY user_id)))
        WHERE n_users > 0
    """)


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their first
    active epoch-week; each later week's distinct-active count over the
    cohort's size is week-N retention — the other canonical
    event-analytics rollup next to ``funnel_conversion``.

    Weeks are integer ``floor(epoch/604800)`` so bucketing is exact
    arithmetic in both engines (no locale week-start semantics). Scale
    shape: ONE scan — events collapse to distinct (user, week) first
    (the heavy cardinality drop), the cohort label is a whole-partition
    window min (no self-join back), and the cohort size is read off the
    matrix ITSELF — the ``weeks_since = 0`` row's count, surfaced per
    cohort by a window max (every user contributes exactly one such
    row) — so there is no sizes branch, no second lineage, no join
    (the round-7 plan paid 2 scans / 5 shuffles; this is 1 scan, with
    every post-collapse exchange over week-bounded cardinalities).
    Retention is 4-dp floor."""
    return _sql(spark, sf_dir, """
        WITH matrix AS (
          SELECT cohort_week, week - cohort_week AS weeks_since, count(1) AS n_active
          FROM (SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_week
                FROM (SELECT DISTINCT user_id,
                             CAST(floor(unix_timestamp(ts) / 604800) AS BIGINT) AS week
                      FROM {events}))
          GROUP BY cohort_week, week - cohort_week
        )
        SELECT cohort_week, weeks_since, n_active, cohort_size,
               floor(n_active * 10000 / cohort_size) / 10000 AS retention
        FROM (SELECT *, max(CASE WHEN weeks_since = 0 THEN n_active END)
                          OVER (PARTITION BY cohort_week) AS cohort_size
              FROM matrix)
    """)


def events_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-dedup analogue in batch: first event per
    (user_id, event_type), the deterministic form of
    ``dropDuplicatesWithinWatermark``."""
    return _sql(spark, sf_dir, """
        SELECT user_id, event_type, event_id, ts FROM (
          SELECT user_id, event_type, event_id, ts,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS rn
          FROM {events}) WHERE rn = 1
    """)


def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hour, day, and grand
    totals in ONE pass via GROUPING SETS on truncated timestamps —
    the continuous-aggregate hierarchy a time-series store maintains,
    computed as a single partial-agg-friendly plan instead of three
    scans."""
    return _sql(spark, sf_dir, """
        SELECT hour_bucket, day_bucket, count(1) AS n, round(sum(value), 2) AS sum_value,
               CAST(grouping_id(hour_bucket, day_bucket) AS INT) AS gid
        FROM (SELECT date_trunc('hour', ts) AS hour_bucket,
                     date_trunc('day', ts) AS day_bucket, value
              FROM {events})
        GROUP BY GROUPING SETS ((hour_bucket, day_bucket), (day_bucket), ())
        ORDER BY gid, day_bucket, hour_bucket
    """)


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: each click joined to the same user's
    purchases in the following 30 minutes — the attribution-window
    primitive.

    Scale shape: the equi-key (user_id) drives the shuffle; the time
    bound is a post-join filter within each key's partition, so this is
    a hash/sort-merge join, never a cross product. The same plan runs
    as a stream-stream join with watermarks (see
    ``stream_interval_join`` and its test)."""
    return _sql(spark, sf_dir, """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               round(p.value, 2) AS purchase_value
        FROM {events} c JOIN {events} p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    how: str = "inner",
    tolerance: str | None = None,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Generic as-of join — the time-series primitive Spark has no
    native operator for: each left row picks, per ``by`` key, the right
    row with the greatest ``right_ts`` <= ``left_ts``. ``tolerance``
    (an SQL interval string like ``"30 MINUTES"``) additionally
    requires the match to be within that lookback of the left row —
    pandas ``merge_asof(tolerance=...)`` semantics.

    Implemented Spark-first as union + forward-fill window
    (``last(ignorenulls)`` over rows-unbounded-preceding): ONE shuffle
    on the key, state bounded per key, no range explosion — the shape
    that survives 100 TB where a range join would blow up on dense
    keys. At equal timestamps the right row wins (>= semantics,
    matching DuckDB/pandas ASOF). The right side must be unique per
    (by, ts) for a deterministic result — pre-dedup if it isn't, OR
    pass ``right_tiebreak``: a right column whose MAX value wins among
    equal-``(by, ts)`` right rows. The tiebreak folds the dedup into
    the fill window's sort order, so it costs ZERO extra shuffles —
    a ``row_number`` pre-dedup would pay a second corpus-wide
    shuffle+sort on ``(by, ts)`` (measured: the r8 sf1 harness had
    this operator at ratio 3.29 with exactly that extra sort).
    ``how="left"`` keeps unmatched left rows with null carried columns.
    """
    from pyspark.sql import Window as W

    from pyspark.sql.types import StructField, StructType

    right_cols = right_cols or [
        c for c in right.columns if c not in {*by, right_ts}
    ]
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(f"right_cols collide with left columns: {sorted(clash)}")
    tie_type = (
        right.schema[right_tiebreak].dataType if right_tiebreak else None
    )
    # the carried right row travels as ONE struct (matched right ts +
    # every carried column) so the fill is ATOMIC: per-column
    # last(ignorenulls) would stitch values from DIFFERENT right rows
    # whenever the winning row has NULL in one carried column while an
    # older row has it non-null — the as-of contract (pandas/DuckDB) is
    # "carry the matched row's values, its NULLs included"
    rrow_type = StructType(
        [StructField("__rts", right.schema[right_ts].dataType)]
        + [StructField(c, right.schema[c].dataType) for c in right_cols]
    )
    l_tag = left.select(
        *by,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *([F.lit(None).cast(tie_type).alias("__tie")] if right_tiebreak else []),
        F.lit(None).cast(rrow_type).alias("__rrow"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns if c not in {*by}],
    )
    r_tag = right.select(
        *by,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *([F.col(right_tiebreak).alias("__tie")] if right_tiebreak else []),
        F.struct(F.col(right_ts).alias("__rts"), *right_cols).alias("__rrow"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
            for c in left.columns
            if c not in {*by}
        ],
    )
    # right rows (__side=0) sort before left rows at equal ts; among
    # equal-(key, ts) right rows the max tiebreak sorts LAST, so
    # last(ignorenulls) picks it — left rows carry a null tiebreak
    # (nulls_first keeps them ordered by __side alone)
    order = ["__ts", "__side"] + (
        [F.asc_nulls_first("__tie")] if right_tiebreak else []
    )
    w = (
        W.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = (
        l_tag.unionByName(r_tag)
        .select("*", F.last("__rrow", ignorenulls=True).over(w).alias("__asof"))
        .filter(F.col("__side") == 1)
    )
    if tolerance is not None:
        stale = (
            F.col("__asof.__rts") < F.col("__ts") - F.expr(f"INTERVAL {tolerance}")
        )
        out = out.withColumn(
            "__asof", F.when(stale, F.lit(None).cast(rrow_type)).otherwise(F.col("__asof"))
        )
    if how == "inner":
        out = out.filter(F.col("__asof").isNotNull())
    return out.select(
        *by,
        *[
            F.col(f"__l_{c}").alias(c)
            for c in left.columns
            if c not in {*by}
        ],
        *[F.col("__asof")[c].alias(c) for c in right_cols],
    )


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over events: each purchase picks the user's most
    recent click at-or-before its timestamp (see ``asof_join`` for the
    plan shape). The DuckDB oracle uses its native ASOF JOIN, pinning
    the semantics to the industry definition, over clicks pre-deduped
    to one per (user, ts) by max event_id; the engine gets the same
    winner via ``right_tiebreak`` INSIDE the fill window — one shuffle
    + one sort total, no dedup pre-pass (r9: was 2 sorts, sf1 ratio
    3.29)."""
    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    return asof_join(
        purchases,
        clicks,
        by=["user_id"],
        left_ts="purchase_ts",
        right_ts="ts",
        right_cols=["click_id"],
        how="inner",
        right_tiebreak="click_id",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id")


def events_asof_tolerance_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH LOOKBACK TOLERANCE (pandas ``merge_asof
    (tolerance=...)`` semantics): each purchase matches the user's most
    recent click at-or-before its timestamp ONLY if that click is
    within 30 minutes — staler matches null out and inner semantics
    drop them. Exercises ``asof_join``'s tolerance path end-to-end
    against DuckDB's native ASOF JOIN + an interval predicate (the
    nearest-preceding match is the same row in both engines, so
    filtering it by age is equivalent to nulling stale fills). Same
    single-shuffle single-sort plan as ``events_asof_join``."""
    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    return asof_join(
        purchases,
        clicks,
        by=["user_id"],
        left_ts="purchase_ts",
        right_ts="ts",
        right_cols=["click_id"],
        how="inner",
        tolerance="30 MINUTES",
        right_tiebreak="click_id",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id")


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval join as a REAL stream-stream join: both sides are
    file streams with watermarks; matched pairs are emitted in append
    mode. Append-mode emission is watermark-gated, so with a finite
    availableNow input the tail of the stream (events newer than
    max_event_time − watermark) is legitimately withheld — the test
    asserts the emitted set is a correct SUBSET of the batch result,
    which is exactly the contract a live job converges under."""
    events = read_events_stream(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id", "click_id", "purchase_id")
    return _run_memory_sink(spark, joined, "append", "stream_interval_join")[0]


# ---------------------------------------------------------------------------
# Real streaming execution (availableNow → memory sink)
# ---------------------------------------------------------------------------

def _read_table_stream(spark: SparkSession, sf_dir: str, table: str, schema) -> DataFrame:
    """File-source stream over ``{sf_dir}/{table}.parquet``, robust to
    BOTH physical layouts: a single parquet FILE (driver-generated
    testdata) streams via a glob filter on the parent directory (the
    file source requires a directory path), while a DIRECTORY of part
    files (any Spark-written corpus, e.g. the sf1 decade-up set)
    streams from the table path itself — the r8 glob-only reader
    matched zero part files inside directory tables, so every
    streaming member silently drained empty at sf1 (caught by the r9
    CORRECTNESS_SF1 value-check). Local-FS ``isdir`` probe; an object
    store would use the Hadoop FileSystem API here."""
    import os

    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (``ts`` is native
    ``timestamp[us]`` — read directly as TimestampType, no unit
    conversion and no session-conf mutation)."""
    return _read_table_stream(spark, sf_dir, "events", EVENTS_RAW_SCHEMA)


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful deduplication executed for real: the file
    stream drops all but the first arrival per (user_id, event_type)
    via ``dropDuplicates`` state, and the emitted KEY SET must equal
    the batch ``SELECT DISTINCT`` — which row arrives first is
    arrival-order-dependent, the set of keys is not, so the
    batch/stream-parity oracle stays exact.

    State note (100 TB): plain ``dropDuplicates`` keeps one state entry
    per distinct key forever — the correct contract for a global
    key-registry. A time-bounded pipeline uses
    ``dropDuplicatesWithinWatermark`` instead, trading re-emission
    after the watermark for bounded state; that variant's output
    depends on watermark progress per trigger, so the exact-parity
    check here pins the deterministic form."""
    events = read_events_stream(spark, sf_dir)
    dedup = events.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return _run_memory_sink(spark, dedup, "append", "stream_dedup_keys")[0]


def stream_interval_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution interval join as a REAL stream-stream join with
    EXACT batch parity: Spark allows an INNER stream-stream join
    without watermarks, and without one the append-mode gate never
    withholds a match — so the availableNow drain emits the COMPLETE
    match set and the batch SQL oracle checks it value-exact. The
    watermarked sibling (``stream_interval_join``) pins the production
    configuration, whose late tail is legitimately withheld and which
    therefore gets a subset-contract test instead of a gate row.

    Tradeoff (100 TB): no watermark ⇒ both sides' join state is never
    evicted — correct for a bounded drain like this job (state peaks at
    the drained input), wrong for an unbounded stream, where the
    watermarked form bounds state at the cost of the late tail."""
    events = read_events_stream(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.round("value", 2).alias("purchase_value"),
    )
    return _run_memory_sink(spark, joined, "append", "stream_interval_join_exact")[0]


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts computed by an actual Structured
    Streaming job (watermark + availableNow + memory sink); the final
    table must equal the batch/oracle result — batch/stream parity."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t, _ = _run_memory_sink(spark, agg, "complete", "stream_tumbling_counts")
    return t.select(F.col("w.start").alias("window_start"), "n")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 10-minute-gap session windows computed by an ACTUAL
    Structured Streaming job (``session_window`` state merge +
    availableNow + memory sink) — the streaming twin of the batch
    ``session_window_10m``, sharing its oracle, so batch/stream parity
    of the merging session state is value-checked end-to-end.

    Complete output mode keeps every session in the sink until the
    stream drains, making the final table deterministic (equal to the
    batch result) regardless of file/trigger arrival order. A
    production endless stream uses a watermark + append mode instead —
    emitted sessions then depend on watermark progress, which is
    exactly why the parity member pins the deterministic form.

    State note (100 TB): session-window state is partitioned by
    user_id and merges adjacent windows in the state store; state size
    tracks LIVE sessions per user, not stream length."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    t, _ = _run_memory_sink(spark, agg, "complete", "stream_session_windows")
    return t.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


def stream_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED twin of ``events_rolling_zscore``: the same trailing
    z-score contract as a custom stateful streaming operator
    (``applyInPandasWithState``). Per-user state is the last
    ``ZSCORE_LOOKBACK`` values (a bounded deque — O(lookback) per key,
    independent of stream length) plus the running scored/anomaly/max
    counters; each micro-batch is sorted by (ts, event_id) and scored
    against the state the batch walked in with, exactly as the batch
    window frame excludes the current row.

    Null values occupy a history SLOT without contributing to the
    mean/variance (stored as NaN) — the precise analogue of the batch
    frame's ``count(value)`` null semantics, so stream and batch output
    are row-identical on any input, which the parity test and the
    shared oracle both pin."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_scored", T.LongType()),
            T.StructField("n_anomalies", T.LongType()),
            T.StructField("max_abs_z", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("hist", T.ArrayType(T.DoubleType(), True)),
            T.StructField("n_scored", T.LongType()),
            T.StructField("n_anom", T.LongType()),
            T.StructField("max_abs_z", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            hist, n_scored, n_anom, max_z = state.get
            hist = list(hist)
        else:
            hist, n_scored, n_anom, max_z = [], 0, 0, 0.0
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for v in rows["value"]:
            v = None if v is None or pd.isna(v) else float(v)
            win = [x for x in hist if not math.isnan(x)]
            if v is not None and len(win) >= ZSCORE_MIN_N:
                n, s1 = len(win), sum(win)
                var = (sum(x * x for x in win) - s1 * s1 / n) / (n - 1)
                sd = math.sqrt(max(var, 0.0))
                if sd > 0:
                    z = (v - s1 / n) / sd
                    n_scored += 1
                    if abs(z) > ZSCORE_THRESHOLD:
                        n_anom += 1
                    max_z = max(max_z, abs(z))
            hist.append(math.nan if v is None else v)
            hist = hist[-ZSCORE_LOOKBACK:]
        state.update((hist, n_scored, n_anom, max_z))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_scored": [n_scored],
                "n_anomalies": [n_anom],
                "max_abs_z": [round(max_z, 2)],
            }
        )

    scored = events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    t, _ = _run_memory_sink(spark, scored, "update", "stream_rolling_zscore")
    # update mode emits one row per state update; keep the final row per
    # user (max n_scored) and only users that ever scored an event
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_scored"))
    return (
        t.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("n_scored") > 0))
        .select("user_id", "n_scored", "n_anomalies", "max_abs_z")
    )


DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (both layouts)."""
    return _read_table_stream(spark, sf_dir, "documents", DOCS_RAW_SCHEMA)


def dedup_near_verdict_stream(
    spark: SparkSession,
    stream_docs: DataFrame,
    corpus_band_keys: DataFrame,
) -> DataFrame:
    """The streaming verdict relation behind ``stream_dedup_near``:
    per-row MinHash banding on the document stream, stream-static left
    join against the corpus band-key set, band claims in
    ``applyInPandasWithState`` keyed on ``band_key`` — one
    ``(doc_id, rejected)`` row per (doc, band) claim attempt. Run with
    a checkpointed fault-tolerant sink (e.g. ``foreachBatch`` →
    parquet) the claimed-band state SURVIVES RESTARTS: a doc whose
    band was admitted in a previous run is rejected after the restart,
    and already-processed files are never re-emitted (exactly-once
    across restarts; pinned by
    ``test_stream_dedup_near_restart_exactly_once``)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from generic_data_ingestor_framework_spark.llm.dedup import bands_per_row

    stream_bands = bands_per_row(stream_docs, "doc_id", "text")
    corpus = corpus_band_keys.withColumn("corpus_hit", F.lit(True))
    joined = stream_bands.join(corpus, ["band_key"], "left")

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rejected", T.BooleanType()),
        ]
    )
    state_schema = T.StructType([T.StructField("claimed", T.BooleanType())])

    def claim(key, pdfs, state: GroupState):
        claimed = bool(state.get[0]) if state.exists else False
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        if rows["corpus_hit"].notna().any():
            claimed = True  # the history owns this band outright
        rej = []
        for _ in range(len(rows)):
            rej.append(claimed)
            claimed = True  # first unclaimed arrival takes the band
        state.update((claimed,))
        yield pd.DataFrame({"doc_id": rows["doc_id"].values, "rejected": rej})

    return joined.groupBy("band_key").applyInPandasWithState(
        claim, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-duplicate dedup — the unbounded completion of
    ``llm.dedup.dedup_incremental_near``: documents arrive as a file
    stream, and a document is dropped when ANY of its MinHash band
    signatures is already claimed, by the accumulated corpus history
    OR by an earlier streamed document — so a near-dup is dropped
    exactly once across micro-batches.

    Plan: the stream computes each doc's 8-permutation MinHash
    signature PER ROW (``bands_per_row``: the batch signature's own
    ``signature_sql`` and band split, so signatures are identical),
    explodes to band rows, stream-static LEFT-joins the session-
    persisted corpus band index, then claims bands in
    ``applyInPandasWithState`` keyed on ``band_key``: state is
    ONE boolean per distinct band signature (the compact index —
    history size never grows with stream length beyond distinct
    bands). Verdict rows drain to the memory sink; a doc is admitted
    iff none of its bands were claimed before it.

    Parity contract (the oracle is the batch member's SQL, exact):
    within a micro-batch, claims happen in doc_id order; availableNow
    over a parquet table lists all files in one batch, so the drain
    equals the batch result exactly. A live multi-trigger stream keeps
    the same dropped-exactly-once guarantee, with arrival order
    deciding the winner — the same contract ``stream_dedup_keys``
    documents for exact dedup."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        BAND_KEY_SQL,
        _banded_df,
        portable_hash32,
    )

    bucket = portable_hash32(F.col("doc_id").cast("string")) % 2
    # per-row banding (no aggregate — legal on an unbounded stream),
    # signature-identical to the batch bands: see bands_per_row
    stream_docs = read_docs_stream(spark, sf_dir).filter(bucket == 1)
    corpus = (
        _banded_df(spark, sf_dir)
        .filter(F.col("bucket") == 0)
        .select(F.expr(BAND_KEY_SQL).alias("band_key"))
        .distinct()
    )

    verdicts, q = _run_memory_sink(
        spark, dedup_near_verdict_stream(spark, stream_docs, corpus), "update",
        "stream_dedup_near",
    )
    # Parity pin: the exact min-doc_id oracle equality REQUIRES the
    # whole table in ONE micro-batch (within-band winners follow
    # arrival order across triggers). availableNow over a parquet table
    # lists all files in one trigger ONLY while no
    # maxFilesPerTrigger-style option reaches the shared reader —
    # assert it rather than silently diverge if that ever changes.
    fed = [p for p in q.recentProgress if p.numInputRows]
    if len(fed) > 1:
        raise AssertionError(
            f"stream_dedup_near parity contract violated: input arrived "
            f"in {len(fed)} micro-batches (expected 1) — a file-batching "
            f"option on the reader breaks min-doc_id oracle equality"
        )
    admitted = (
        verdicts.groupBy("doc_id")
        .agg(F.max(F.col("rejected").cast("int")).alias("any_rej"))
        .filter(F.col("any_rej") == 0)
        .select("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang").join(admitted, "doc_id", "semi")


def stream_stateful_user_counts(spark: SparkSession, sf_dir: str):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running event counter with explicit state management —
    the extension point for operators Spark's built-ins can't express
    (custom sessionization, CEP-ish patterns, online aggregates).

    State is partitioned by user_id and lives in the state store, so
    memory scales with #keys per executor, not stream length. The state
    has no timeout (``GroupStateTimeout.NoTimeout``): a user's count is
    kept for the life of the query. Returns the started query's final
    memory-sink table (availableNow).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    counts = events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    t, _ = _run_memory_sink(spark, counts, "update", "stream_stateful_user_counts")
    # with `update` mode the sink holds one row per state update; the
    # LAST row per user is the final counter
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        t.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


def stream_upsert(
    spark: SparkSession,
    src_dir: str,
    target_table: str,
    key_cols: list[str],
    checkpoint_dir: str,
    schema: T.StructType,
    partition_cols: list[str] | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """CDC streaming sink: each microbatch upserts into ``target_table``
    via ``sink.merge_into`` (partition-bounded when ``partition_cols``
    is given) — later batches overwrite earlier rows with the same key,
    exactly once per batch via the checkpoint.

    AvailableNow drains the directory and stops; dropping the trigger
    makes it a continuous CDC applier. At scale, pass ``partition_cols``
    so each batch rewrites only its touched partitions.
    """
    from generic_data_ingestor_framework_spark import sink as _sink

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        _sink.merge_into(
            spark, target_table, batch_df, key_cols, partition_cols=partition_cols
        )

    _run_foreach_batch(
        spark, src_dir, schema, checkpoint_dir, max_files_per_trigger, _apply,
        "stream_upsert",
    )


def stream_ann_index_append(
    spark: SparkSession,
    src_dir: str,
    index_root: str,
    checkpoint_dir: str,
    schema: T.StructType,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int = 1,
) -> None:
    """CONTINUOUS ANN index maintenance: each micro-batch of new
    embedding rows appends to the persisted index via
    ``append_ann_index`` with ``batch_tag = stream_b{batch_id}`` —
    exactly-once BY CONSTRUCTION: Structured Streaming replays a
    failed batch under the SAME batch_id, and the append path's
    per-tag overwrite-mode subdirectory plus recomputed (never
    incremented) meta count make the replay a no-op rewrite. The same
    ``append_ann_index`` call over the same ``(vec_id, v)`` projection
    as the pipeline's ``ann_append`` step: a crawler drops embedding
    files in a directory and the inverted lists grow, quantizers
    untouched.

    AvailableNow drains the directory and stops; dropping the trigger
    makes it a continuous indexer. At 100 TB the per-batch work is
    batch × k centroid scoring + batch × M×K code assignment — no
    corpus-sized job anywhere; compact periodically
    (``ANN_INDEX.compact``) to fold the accumulated batch directories."""
    from generic_data_ingestor_framework_spark.llm.similarity import append_ann_index
    from generic_data_ingestor_framework_spark.pipeline import _ann_vectors

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        vecs = _ann_vectors(batch_df, {"id": id_col, "vec": vec_col})
        append_ann_index(spark, vecs, index_root, f"stream_b{batch_id}")

    _run_foreach_batch(
        spark, src_dir, schema, checkpoint_dir, max_files_per_trigger, _apply,
        "stream_ann_index_append",
    )


def stream_ann_index_upsert(
    spark: SparkSession,
    src_dir: str,
    index_root: str,
    checkpoint_dir: str,
    schema: T.StructType,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    max_files_per_trigger: int = 1,
) -> None:
    """CONTINUOUS delete/supersede maintenance of the persisted ANN
    index, through the same index calls as the pipeline's
    ``ann_supersede`` / ``ann_delete`` steps: a crawler drops change
    files in a directory where each record is the LATEST state of its
    id — ``op='delete'`` tombstones it, anything else upserts its
    vector (brand-new ids insert; existing ids supersede, re-encoded
    with the SAVED quantizers).

    Exactly-once AND ordered BY CONSTRUCTION: the micro-batch id is
    the GENERATION (gen = batch_id + 1; base rows are gen 0) — batch
    ids increase monotonically and a failed batch replays under the
    SAME id, so the per-tag overwrite subdirectories plus the
    recomputed meta count make replays no-op rewrites while later
    batches always win latest-generation-wins probes. A delete and an
    upsert for the same id in ONE batch resolve to the delete
    (tombstone wins a generation tie — the defined semantics of the
    effective view).

    AvailableNow drains and stops; dropping the trigger makes it a
    continuous maintainer. Per-batch work is batch-sized (centroid
    scoring + PQ encode + the meta recount); compact periodically
    (``ANN_INDEX.compact``) to physically drop superseded generations
    and tombstones."""
    from generic_data_ingestor_framework_spark.llm.similarity import (
        delete_ann_index_ids,
        supersede_ann_index,
    )
    from generic_data_ingestor_framework_spark.pipeline import _ann_vectors

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        gen = batch_id + 1
        is_del = F.col(op_col) == F.lit("delete")
        ups = _ann_vectors(
            batch_df.filter(~is_del | F.col(op_col).isNull()),
            {"id": id_col, "vec": vec_col},
        )
        dels = batch_df.filter(is_del).select(F.col(id_col).alias("vec_id"))
        has_ups, has_dels = not ups.isEmpty(), not dels.isEmpty()
        if has_ups:
            # when a delete follows in the SAME micro-batch, defer the
            # meta commit to it — one effective-view recount per batch
            # instead of two (the batch is the commit unit)
            supersede_ann_index(
                spark, ups, index_root, f"stream_s{batch_id}", gen,
                write_meta=not has_dels,
            )
        if has_dels:
            delete_ann_index_ids(spark, dels, index_root, f"stream_d{batch_id}", gen)

    _run_foreach_batch(
        spark, src_dir, schema, checkpoint_dir, max_files_per_trigger, _apply,
        "stream_ann_index_upsert",
    )


def stream_scd2_apply(
    spark: SparkSession,
    src_dir: str,
    table: str,
    checkpoint_dir: str,
    schema: T.StructType,
    key: str,
    attrs: list[str],
    delete_col: str = "is_deleted",
    max_files_per_trigger: int = 1,
) -> None:
    """CONTINUOUS SCD2 maintenance of a dimension history table, through
    the same ``relational.scd2_apply_table`` as the pipeline's
    ``scd2_apply`` step: a CDC feed drops change files where each
    record is the LATEST state of its key —
    ``delete_col`` true closes the key without successor, a differing
    record closes-and-opens, an identical record is a no-op, a new key
    inserts, a re-inserted key resurrects.

    Exactly-once TWICE over: the micro-batch id is the GENERATION
    (gen = batch_id + 1 — the same contract as
    ``stream_ann_index_upsert``), so a failed batch replays under the
    same generation; AND the merge itself is idempotent (re-applying a
    batch the table already reflects changes nothing), so even a replay
    AFTER its overwrite committed is a no-op rewrite. An absent table
    is seeded by the first micro-batch's non-deleted rows as open rows
    AT THAT BATCH'S generation (gen 1 when batch 0 creates the table)
    — unlike the batch members, whose pre-existing seed rows are gen 0;
    a stream-created table simply has no gen-0 era. A stale generation
    (below the table's newest ``valid_from``, possible only if an
    external writer advanced the table past the stream's checkpoint)
    fails the batch loudly.

    AvailableNow drains and stops; dropping the trigger makes it a
    continuous applier. Per-batch work is one full-outer merge on the
    key against only the OPEN slice (at 100 TB: bucket the history by
    the key; the batch side broadcasts)."""
    from generic_data_ingestor_framework_spark.relational import scd2_apply_table

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        scd2_apply_table(spark, table, batch_df, key, attrs, batch_id + 1, delete_col)

    _run_foreach_batch(
        spark, src_dir, schema, checkpoint_dir, max_files_per_trigger, _apply,
        "stream_scd2_apply",
    )


QUERIES = {
    "window_tumbling_hourly": window_tumbling_hourly,
    "window_sliding_1h_30m": window_sliding_1h_30m,
    "session_window_10m": session_window_10m,
    "events_dedup_earliest": events_dedup_earliest,
    "stream_tumbling_counts": stream_tumbling_counts,
    "stream_dedup_keys": stream_dedup_keys,
    "stream_session_windows": stream_session_windows,
    "events_interval_join": events_interval_join,
    "stream_interval_join_exact": stream_interval_join_exact,
    "events_asof_join": events_asof_join,
    "events_multi_rollup": events_multi_rollup,
    "session_stats_per_user": session_stats_per_user,
    "user_activity_islands": user_activity_islands,
    "funnel_conversion": funnel_conversion,
    "cohort_retention": cohort_retention,
    "events_rolling_zscore": events_rolling_zscore,
    "stream_rolling_zscore": stream_rolling_zscore,
    "events_range_window_1h": events_range_window_1h,
    "stream_dedup_near": stream_dedup_near,
    "events_asof_tolerance_30m": events_asof_tolerance_30m,
}

ORACLES = {
    "stream_dedup_keys": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
    "events_range_window_1h": """
        SELECT event_id, user_id,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               round(sum(value) OVER w, 2) AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    "events_rolling_zscore": f"""
        WITH f AS (
          SELECT user_id, value,
                 count(value)       OVER w AS cnt,
                 sum(value)         OVER w AS s1,
                 sum(value * value) OVER w AS s2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING)
        ),
        z AS (
          SELECT user_id,
                 CASE WHEN cnt >= {ZSCORE_MIN_N}
                       AND sqrt(greatest((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0)) > 0
                      THEN (value - s1 / cnt)
                           / sqrt(greatest((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0))
                 END AS z
          FROM f
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_scored,
               CAST(sum(CASE WHEN abs(z) > {ZSCORE_THRESHOLD} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_anomalies,
               round(max(abs(z)), 2) AS max_abs_z
        FROM z WHERE z IS NOT NULL
        GROUP BY user_id ORDER BY user_id
    """,
    "window_tumbling_hourly": """
        SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
               CAST(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "window_sliding_1h_30m": """
        WITH b AS (
          SELECT CAST(time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS TIMESTAMP) AS window_start
          FROM events, (VALUES (0), (1)) t(k)
        )
        SELECT window_start, count(*) AS n FROM b GROUP BY window_start
    """,
    "session_window_10m": """
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 10 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
        ),
        numbered AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 10 MINUTE AS session_end,
               count(*) AS n_events
        FROM numbered GROUP BY user_id, sid
    """,
    "session_stats_per_user": """
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 10 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
        ),
        numbered AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked
        ),
        sessions AS (
          SELECT user_id,
                 date_diff('second', min(ts), max(ts) + INTERVAL 10 MINUTE) AS dur_s,
                 count(*) AS n_events
          FROM numbered GROUP BY user_id, sid
        )
        SELECT user_id, count(*) AS n_sessions,
               round(avg(dur_s), 2) AS avg_session_s,
               CAST(max(n_events) AS BIGINT) AS max_session_events
        FROM sessions GROUP BY user_id ORDER BY user_id
    """,
    "events_dedup_earliest": """
        SELECT user_id, event_type, event_id, ts FROM (
          SELECT user_id, event_type, event_id, ts,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1
    """,
    "stream_tumbling_counts": """
        SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
               count(*) AS n
        FROM events GROUP BY 1
    """,
    "events_interval_join": """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               round(p.value, 2) AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    # the unwatermarked inner stream-stream join drains to the COMPLETE
    # match set — same oracle as the batch interval join, verbatim
    "stream_interval_join_exact": """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               round(p.value, 2) AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    "cohort_retention": """
        WITH weeks AS (
          SELECT DISTINCT user_id,
                 CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
          FROM events
        ),
        cohorts AS (
          SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id
        ),
        matrix AS (
          SELECT c.cohort_week, w.week - c.cohort_week AS weeks_since,
                 CAST(count(*) AS BIGINT) AS n_active
          FROM weeks w JOIN cohorts c USING (user_id)
          GROUP BY c.cohort_week, w.week - c.cohort_week
        ),
        sizes AS (
          SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
          FROM cohorts GROUP BY cohort_week
        )
        SELECT m.cohort_week, m.weeks_since, m.n_active, s.cohort_size,
               floor(m.n_active * 10000 / s.cohort_size) / 10000 AS retention
        FROM matrix m JOIN sizes s USING (cohort_week)
    """,
    "funnel_conversion": """
        WITH s1 AS (
          SELECT user_id, min(ts) AS t FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS t
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS t
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
        ),
        labeled AS (
          SELECT 1 AS step_idx, 'view' AS step, user_id FROM s1
          UNION ALL SELECT 2, 'click', user_id FROM s2
          UNION ALL SELECT 3, 'purchase', user_id FROM s3
        ),
        counts AS (
          SELECT step_idx, step, CAST(count(*) AS BIGINT) AS n_users
          FROM labeled GROUP BY step_idx, step
        )
        SELECT step_idx, step, n_users,
               floor(n_users * 10000 / COALESCE(
                 sum(n_users) OVER (ORDER BY step_idx
                       ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING),
                 n_users)) / 10000 AS conversion
        FROM counts
    """,
    "user_activity_islands": """
        WITH hours AS (
          SELECT DISTINCT user_id,
                 CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS h
          FROM events
        ),
        flagged AS (
          SELECT user_id, h,
                 lag(h) OVER (PARTITION BY user_id ORDER BY h) AS prev_h
          FROM hours
        ),
        islands AS (
          SELECT user_id, h,
                 CAST(sum(CASE WHEN prev_h IS NULL OR h - prev_h > 1
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY h
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
          FROM flagged
        ),
        per_island AS (
          SELECT user_id, island, CAST(count(*) AS BIGINT) AS island_hours
          FROM islands GROUP BY user_id, island
        ),
        agg_islands AS (
          SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_islands,
                 CAST(sum(island_hours) AS BIGINT) AS n_active_hours,
                 CAST(max(island_hours) AS BIGINT) AS longest_island_hours
          FROM per_island GROUP BY user_id
        ),
        agg_gaps AS (
          SELECT user_id, CAST(max(h - prev_h - 1) AS BIGINT) AS longest_gap_hours
          FROM flagged WHERE prev_h IS NOT NULL GROUP BY user_id
        )
        SELECT i.user_id, i.n_active_hours, i.n_islands, i.longest_island_hours,
               COALESCE(g.longest_gap_hours, 0) AS longest_gap_hours
        FROM agg_islands i LEFT JOIN agg_gaps g USING (user_id)
    """,
    "events_multi_rollup": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
               count(*) AS n,
               round(sum(value), 2) AS sum_value,
               CAST(grouping(date_trunc('hour', ts)) * 2
                    + grouping(date_trunc('day', ts)) AS INT) AS gid
        FROM events
        GROUP BY GROUPING SETS
          ((date_trunc('hour', ts), date_trunc('day', ts)),
           (date_trunc('day', ts)), ())
    """,
    "events_asof_join": """
        WITH clk AS (
          SELECT user_id, ts, event_id AS click_id FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click') WHERE rn = 1
        ),
        prch AS (
          SELECT user_id, ts, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.user_id, p.purchase_id, p.ts AS purchase_ts, c.click_id
        FROM prch p ASOF JOIN clk c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
}

# batch/stream parity: the streaming session-window member must produce
# exactly the batch sessionization result
ORACLES["stream_session_windows"] = ORACLES["session_window_10m"]
# stream/batch parity: the stateful rolling z-score must emit exactly the
# batch operator's per-user aggregates
ORACLES["stream_rolling_zscore"] = ORACLES["events_rolling_zscore"]

# stream/batch parity: the stateful near-dup stream must admit exactly
# the batch incremental near-dedup's set (same DuckDB oracle)
from generic_data_ingestor_framework_spark.llm.dedup import (  # noqa: E402
    ORACLES as _DEDUP_ORACLES,
)

ORACLES["stream_dedup_near"] = _DEDUP_ORACLES["dedup_incremental_near"]

# tolerance variant: DuckDB's nearest-preceding ASOF match aged by an
# interval predicate == the engine's stale-fill null-out + inner filter
ORACLES["events_asof_tolerance_30m"] = """
    WITH clk AS (
      SELECT user_id, ts, event_id AS click_id FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') WHERE rn = 1
    ),
    prch AS (
      SELECT user_id, ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, p.ts AS purchase_ts, c.click_id
    FROM prch p ASOF JOIN clk c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    WHERE p.ts - c.ts <= INTERVAL 30 MINUTE
"""
