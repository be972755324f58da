"""Structured Streaming ingest + event-time window tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from generic_data_ingestor_framework_spark.streaming import (
    session_window_10m,
    window_tumbling_hourly,
)

from conftest import SF_SMALL as SF


def test_tumbling_windows_cover_all_events(spark):
    agg = window_tumbling_hourly(spark, SF)
    total = agg.agg(F.sum("n")).collect()[0][0]
    assert total == 1000  # every event in exactly one window


def test_stateful_user_counts_matches_batch(spark):
    from generic_data_ingestor_framework_spark.streaming import (
        stream_stateful_user_counts,
    )
    from generic_data_ingestor_framework_spark.relational import load_table

    out = stream_stateful_user_counts(spark, SF)
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out.collect()}
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
    )
    want = {r["user_id"]: (r["n"], r["t"]) for r in batch.collect()}
    assert set(got) == set(want)
    # counts must agree exactly; totals to the cent
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 0.02


def test_session_windows_respect_gap(spark):
    sess = session_window_10m(spark, SF).collect()
    assert len(sess) > 0
    for r in sess:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1


def test_stream_interval_join_subset_of_batch(spark):
    """Stream-stream interval join (real execution, append mode) must
    emit only correct pairs; with finite availableNow input the
    watermark legitimately withholds the tail, so the contract is
    correct-subset + substantial coverage."""
    from generic_data_ingestor_framework_spark.streaming import (
        events_interval_join,
        stream_interval_join,
    )

    batch = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in events_interval_join(spark, SF).collect()
    }
    streamed = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in stream_interval_join(spark, SF).collect()
    }
    assert streamed <= batch
    assert len(streamed) >= len(batch) * 0.5, (len(streamed), len(batch))


def test_foreach_batch_streaming_upsert(spark, tmp_path):
    """CDC-style streaming sink via the stream_upsert API: each
    microbatch upserts into a managed table (foreachBatch + merge_into)
    — later batches overwrite earlier rows with the same key."""
    import json as _json

    from generic_data_ingestor_framework_spark.streaming import stream_upsert

    src = tmp_path / "cdc"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        "\n".join(_json.dumps({"id": i, "v": f"old{i}"}) for i in range(5))
    )
    (src / "b1.jsonl").write_text(
        "\n".join(_json.dumps({"id": i, "v": f"new{i}"}) for i in range(3, 8))
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    table = "t_stream_upsert"
    spark.createDataFrame([], schema).write.mode("overwrite").saveAsTable(table)

    stream_upsert(
        spark, str(src), table, ["id"], str(tmp_path / "ckpt"), schema,
        max_files_per_trigger=1,
    )
    rows = {r["id"]: r["v"] for r in spark.table(table).collect()}
    assert rows == {
        0: "old0", 1: "old1", 2: "old2",
        3: "new3", 4: "new4", 5: "new5", 6: "new6", 7: "new7",
    }


def test_streaming_drop_duplicates_matches_batch_keys(spark):
    """Real streaming dedup: dropDuplicates on (user_id, event_type)
    under a watermark keeps exactly one event per key — the streaming
    form of events_dedup_earliest (which event wins is arrival-order
    dependent in a stream, so the contract is the KEY SET, not the
    picked event_id)."""
    from generic_data_ingestor_framework_spark.streaming import (
        _run_to_completion,
        _unique_sink,
        events_dedup_earliest,
        read_events_stream,
    )

    events = read_events_stream(spark, SF)
    sink = _unique_sink("stream_dedup_sink")
    q = (
        events.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run_to_completion(q, "stream_dedup")
    streamed = {(r["user_id"], r["event_type"]) for r in spark.table(sink).collect()}
    batch = {
        (r["user_id"], r["event_type"])
        for r in events_dedup_earliest(spark, SF).collect()
    }
    assert streamed == batch


def test_asof_join_tolerance(spark):
    """tolerance (pandas merge_asof parity): matches older than the
    lookback are dropped; everything kept is within it."""
    from generic_data_ingestor_framework_spark.streaming import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"), (2, "2024-01-01 10:05:00")],
        "k bigint, lts string",
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:50:00", 100), (2, "2024-01-01 08:00:00", 200)],
        "k bigint, rts string, rv bigint",
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    no_tol = asof_join(left, right, by=["k"], left_ts="lts", right_ts="rts",
                       right_cols=["rv"])
    assert {(r["k"], str(r["lts"]), r["rv"]) for r in no_tol.collect()} == {
        (1, "2024-01-01 10:00:00", 100),
        (1, "2024-01-01 12:00:00", 100),
        (2, "2024-01-01 10:05:00", 200),
    }
    tol = asof_join(left, right, by=["k"], left_ts="lts", right_ts="rts",
                    right_cols=["rv"], tolerance="30 MINUTES")
    # k=1 noon row (match 2h10m old) and k=2 (2h05m old) age out
    assert {(r["k"], str(r["lts"]), r["rv"]) for r in tol.collect()} == {
        (1, "2024-01-01 10:00:00", 100),
    }


def test_memory_sink_guard_rejects_oversized_results(spark, monkeypatch):
    """The memory-sink runner is the parity-harness path for
    aggregate-sized results; past MEMORY_SINK_MAX_ROWS it must raise
    (pointing at the foreachBatch route) and still drop the sink view
    rather than leak a driver-resident copy."""
    import pytest

    from generic_data_ingestor_framework_spark import streaming

    monkeypatch.setattr(streaming, "MEMORY_SINK_MAX_ROWS", 5)
    with pytest.raises(RuntimeError, match="stream_tumbling_counts.*foreachBatch"):
        streaming.stream_tumbling_counts(spark, SF)
    leftover = [t.name for t in spark.catalog.listTables() if "tumbling" in t.name]
    assert leftover == [], f"sink view leaked: {leftover}"


def test_memory_sink_runner_bounds_and_restores_shuffle_partitions(spark, monkeypatch):
    """In a session at 200 shuffle partitions, a stateful aggregate run
    through the memory-sink runner keeps its state in
    ``defaultParallelism`` partitions; afterwards the session reads 200
    again and no sink view is left — also when the row guard raises."""
    import pytest

    from generic_data_ingestor_framework_spark import streaming

    agg = streaming.read_events_stream(spark, SF).groupBy("event_type").count()
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        rows, q = streaming._run_memory_sink(spark, agg, "complete", "runner_probe")
        assert rows.count() > 0
        parts = {op.numShufflePartitions for op in q.lastProgress.stateOperators}
        assert parts == {spark.sparkContext.defaultParallelism}
        assert spark.conf.get(key) == "200"
        monkeypatch.setattr(streaming, "MEMORY_SINK_MAX_ROWS", 1)
        with pytest.raises(RuntimeError, match="MEMORY_SINK_MAX_ROWS"):
            streaming._run_memory_sink(spark, agg, "complete", "runner_probe")
        assert spark.conf.get(key) == "200"
    finally:
        spark.conf.set(key, prev)
    leftover = [t.name for t in spark.catalog.listTables() if "runner_probe" in t.name]
    assert leftover == [], f"sink view leaked: {leftover}"


def test_stream_upsert_restart_exactly_once(spark, tmp_path):
    """Restarting the CDC stream from its checkpoint must apply only
    NEW files (exactly-once across restarts) — and a restart with no
    new input must be a pure no-op, not a re-application."""
    import json as _json

    from generic_data_ingestor_framework_spark.streaming import stream_upsert

    src = tmp_path / "cdc_r"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_r")
    (src / "b0.jsonl").write_text(
        "\n".join(_json.dumps({"id": i, "v": f"v1_{i}"}) for i in range(4))
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    table = "t_stream_upsert_restart"
    spark.createDataFrame([], schema).write.mode("overwrite").saveAsTable(table)

    stream_upsert(spark, str(src), table, ["id"], ckpt, schema)
    assert {r["id"]: r["v"] for r in spark.table(table).collect()} == {
        i: f"v1_{i}" for i in range(4)
    }

    # restart with NO new files: checkpoint says everything is applied
    stream_upsert(spark, str(src), table, ["id"], ckpt, schema)
    assert spark.table(table).count() == 4

    # new file after restart: only its rows are applied, upserting keys
    (src / "b1.jsonl").write_text(
        "\n".join(_json.dumps({"id": i, "v": f"v2_{i}"}) for i in (2, 3, 4))
    )
    stream_upsert(spark, str(src), table, ["id"], ckpt, schema)
    rows = {r["id"]: r["v"] for r in spark.table(table).collect()}
    assert rows == {0: "v1_0", 1: "v1_1", 2: "v2_2", 3: "v2_3", 4: "v2_4"}


def test_stream_interval_join_exact_equals_batch(spark):
    """The unwatermarked inner stream-stream join must emit EXACTLY the
    batch interval-join result — no match withheld, none duplicated."""
    from generic_data_ingestor_framework_spark.streaming import (
        events_interval_join,
        stream_interval_join_exact,
    )

    got = sorted(
        map(tuple, stream_interval_join_exact(spark, SF).collect())
    )
    want = sorted(map(tuple, events_interval_join(spark, SF).collect()))
    assert got == want and len(got) > 0


def test_user_activity_islands_planted(spark, tmp_path):
    """Planted activity patterns: contiguous hours form one island;
    a gap splits islands and is measured exactly; single-hour users
    report gap 0."""
    from datetime import datetime

    from generic_data_ingestor_framework_spark.streaming import user_activity_islands

    def ts(h, m=0):
        return datetime(2024, 3, 1, h, m)

    rows = [
        # user 1: hours 0,1,2 (one island of 3), then 7,8 (island of 2) -> gap 4
        (1, 100, "click", ts(0), 1.0), (1, 101, "click", ts(1), 1.0),
        (1, 102, "click", ts(2, 30), 1.0), (1, 103, "click", ts(7), 1.0),
        (1, 104, "click", ts(8), 1.0),
        # user 2: single hour, two events
        (2, 200, "view", ts(5), 1.0), (2, 201, "view", ts(5, 59), 1.0),
    ]
    d = tmp_path / "islands"
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ts timestamp, value double"
    ).write.parquet(str(d / "events.parquet"))
    got = {
        r["user_id"]: (
            r["n_active_hours"], r["n_islands"],
            r["longest_island_hours"], r["longest_gap_hours"],
        )
        for r in user_activity_islands(spark, str(d)).collect()
    }
    assert got[1] == (5, 2, 3, 4)
    assert got[2] == (1, 1, 1, 0)


def test_funnel_conversion_ordering_matters(spark, tmp_path):
    """A user whose purchase precedes their click must NOT count as
    converting the purchase step; monotone funnels count fully."""
    from datetime import datetime

    from generic_data_ingestor_framework_spark.streaming import funnel_conversion

    def ts(h):
        return datetime(2024, 3, 1, h)

    rows = [
        # user 1: view(1) -> click(2) -> purchase(3): full conversion
        (1, 1, "view", ts(1), 1.0), (1, 2, "click", ts(2), 1.0),
        (1, 3, "purchase", ts(3), 1.0),
        # user 2: purchase BEFORE click: reaches click, not purchase
        (2, 4, "view", ts(1), 1.0), (2, 5, "purchase", ts(2), 1.0),
        (2, 6, "click", ts(3), 1.0),
        # user 3: click only (no view): reaches nothing
        (3, 7, "click", ts(1), 1.0),
    ]
    d = tmp_path / "funnel"
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ts timestamp, value double"
    ).write.parquet(str(d / "events.parquet"))
    got = {
        r["step"]: (r["n_users"], r["conversion"])
        for r in funnel_conversion(spark, str(d)).collect()
    }
    assert got["view"] == (2, 1.0)
    assert got["click"] == (2, 1.0)
    assert got["purchase"] == (1, 0.5)


def test_funnel_conversion_stops_at_an_empty_step(spark, tmp_path):
    """Views and no clicks: the click step has no users, so it has no
    row (as in the oracle) and nothing divides by its zero count."""
    from datetime import datetime

    import duckdb

    from generic_data_ingestor_framework_spark.streaming import ORACLES, funnel_conversion

    d = tmp_path / "views_only"
    spark.createDataFrame(
        [(1, 1, "view", datetime(2024, 3, 1, 1), 1.0),
         (2, 2, "view", datetime(2024, 3, 1, 2), 1.0)],
        "user_id bigint, event_id bigint, event_type string, ts timestamp, value double",
    ).write.parquet(str(d / "events.parquet"))
    got = [tuple(r) for r in funnel_conversion(spark, str(d)).collect()]
    assert got == [(1, "view", 2, 1.0)]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d / 'events.parquet'}/*.parquet'"
    )
    assert [tuple(r) for r in con.execute(ORACLES["funnel_conversion"]).fetchall()] == got


def test_cohort_retention_planted(spark, tmp_path):
    """Planted cohorts: week-0 retention is 1.0 by construction; a user
    active in a later week counts toward their FIRST-seen cohort only."""
    from datetime import datetime, timedelta

    from generic_data_ingestor_framework_spark.streaming import cohort_retention

    w0 = datetime(2024, 1, 4)  # aligned inside one epoch week
    rows = []
    # cohort A: users 1,2 first seen week 0; user 1 returns week 1
    rows += [(1, 1, "view", w0, 1.0), (2, 2, "view", w0, 1.0)]
    rows += [(1, 3, "view", w0 + timedelta(days=7), 1.0)]
    # cohort B: user 3 first seen week 1
    rows += [(3, 4, "view", w0 + timedelta(days=7), 1.0)]
    d = tmp_path / "cohorts"
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ts timestamp, value double"
    ).write.parquet(str(d / "events.parquet"))
    out = {
        (r["cohort_week"], r["weeks_since"]): (
            r["n_active"], r["cohort_size"], r["retention"]
        )
        for r in cohort_retention(spark, str(d)).collect()
    }
    weeks = sorted({cw for cw, _ in out})
    a, b = weeks[0], weeks[1]
    assert out[(a, 0)] == (2, 2, 1.0)
    assert out[(a, 1)] == (1, 2, 0.5)
    assert out[(b, 0)] == (1, 1, 1.0)
    assert (b, 1) not in out


def test_memory_sink_guard_rejects_wide_rows_by_bytes(spark, monkeypatch):
    """The guard must bound DRIVER BYTES, not just rows: a result that
    is few rows but wide (long text columns) has to trip the
    byte-estimate branch (rows × sampled row size) and still drop the
    sink view."""
    import pytest

    from generic_data_ingestor_framework_spark import streaming

    # stream_tumbling_counts yields ~dozens of narrow rows; a 1 KiB
    # ceiling forces the estimated-bytes branch while the row bound
    # stays untouched
    monkeypatch.setattr(streaming, "MEMORY_SINK_MAX_BYTES", 1024)
    with pytest.raises(RuntimeError, match="bytes.*foreachBatch"):
        streaming.stream_tumbling_counts(spark, SF)
    leftover = [t.name for t in spark.catalog.listTables() if "tumbling" in t.name]
    assert leftover == [], f"sink view leaked: {leftover}"


def test_unbounded_stream_watermark_evicts_dedup_state(spark, tmp_path):
    """GENUINELY UNBOUNDED streaming (ProcessingTime trigger — the query
    never self-terminates; files are injected while it runs) with
    ``dropDuplicatesWithinWatermark``: once the watermark passes a
    key's state expiry the state entry is EVICTED, so the same key
    re-arriving later is re-emitted. Replace the watermark-bounded
    dedup with plain ``dropDuplicates`` (state kept forever) and the
    re-emission disappears — this test fails, which is the point: it
    pins that the watermark actually drops state, not just dedups."""
    import os
    import time

    from pyspark.sql import types as T

    from generic_data_ingestor_framework_spark.streaming import _unique_sink

    src = tmp_path / "wm_src"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("ts_ms", T.LongType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch so the
        # watermark advances BETWEEN the injected files
        .json(str(src))
        .select("key", F.timestamp_millis(F.col("ts_ms")).alias("ts"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["key"])
        .select("key", "ts")
    )
    sink = _unique_sink("wm_evict_sink")
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="150 milliseconds")
        .start()
    )

    def put(name, rows):
        stage = tmp_path / f"{name}.tmp"
        stage.write_text(
            "\n".join(json.dumps({"key": k, "ts_ms": ms}) for k, ms in rows)
        )
        os.replace(stage, src / name)  # atomic: the source never lists partials

    def wait_rows(n, timeout=90.0):
        end = time.time() + timeout
        while time.time() < end:
            if spark.table(sink).count() >= n:
                return
            time.sleep(0.2)
        raise AssertionError(
            f"sink never reached {n} rows; status={q.status} "
            f"progress={q.lastProgress}"
        )

    base = 1_700_000_000_000  # epoch ms; offsets below in minutes
    MIN = 60_000
    try:
        # batch 1: key a at t0 emits; duplicate 1 min later is dropped
        # (within watermark) — state for a expires at t0 + 10 min
        put("f1.json", [("a", base), ("a", base + 1 * MIN)])
        wait_rows(1)
        # batch 2: key b two hours later → watermark advances to
        # t0 + 110 min, far past a's expiry → a's state entry evicted
        put("f2.json", [("b", base + 120 * MIN)])
        wait_rows(2)
        # the eviction runs in a no-data batch on a later trigger than
        # b's batch: a file that lands before it is checked against the
        # stale entry
        end = time.time() + 90.0
        while not any(
            op.get("numRowsRemoved", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        ):
            if time.time() > end:
                raise AssertionError(f"watermark never evicted state; progress={q.lastProgress}")
            time.sleep(0.05)
        # batch 3: key a again (above the watermark) — with state
        # evicted it MUST re-emit; with an unbounded dedup it would be
        # suppressed forever and this wait times out
        put("f3.json", [("a", base + 121 * MIN)])
        wait_rows(3)
        got = sorted(r["key"] for r in spark.table(sink).collect())
        assert got == ["a", "a", "b"], got
        removed = sum(
            op.get("numRowsRemoved", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        assert removed >= 1, (
            f"watermark never evicted state (numRowsRemoved={removed}); "
            f"progress={[p.get('stateOperators') for p in q.recentProgress]}"
        )
    finally:
        q.stop()
        spark.catalog.dropTempView(sink)


def test_events_rolling_zscore_matches_python(spark):
    """Rolling z-scores must equal a python recompute with the
    trailing frame EXCLUDING the current row (an outlier must not mask
    itself by inflating its own baseline)."""
    import math
    from collections import defaultdict

    from generic_data_ingestor_framework_spark.relational import load_table
    from generic_data_ingestor_framework_spark.streaming import (
        ZSCORE_LOOKBACK,
        ZSCORE_MIN_N,
        ZSCORE_THRESHOLD,
        events_rolling_zscore,
    )

    ev = defaultdict(list)
    for r in load_table(spark, SF, "events").collect():
        ev[r["user_id"]].append((r["ts"], r["event_id"], r["value"]))
    want = {}
    for uid, rows in ev.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        zs = []
        for i, (_, _, v) in enumerate(rows):
            hist = [x[2] for x in rows[max(0, i - ZSCORE_LOOKBACK): i] if x[2] is not None]
            if v is None or len(hist) < ZSCORE_MIN_N:
                continue
            n, s1 = len(hist), sum(hist)
            var = (sum(x * x for x in hist) - s1 * s1 / n) / (n - 1)
            sd = math.sqrt(max(var, 0.0))
            if sd > 0:
                zs.append((v - s1 / n) / sd)
        if zs:
            want[uid] = (
                len(zs),
                sum(1 for z in zs if abs(z) > ZSCORE_THRESHOLD),
                round(max(abs(z) for z in zs), 2),
            )
    got = {
        r["user_id"]: (r["n_scored"], r["n_anomalies"], r["max_abs_z"])
        for r in events_rolling_zscore(spark, SF).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for uid in want:
        assert got[uid][0] == want[uid][0], uid
        assert got[uid][1] == want[uid][1], uid
        assert abs(got[uid][2] - want[uid][2]) < 2e-2, uid


def test_stream_rolling_zscore_matches_batch(spark):
    """The stateful streaming z-score must be row-identical to the
    batch window operator (stream/batch parity for the custom
    applyInPandasWithState op)."""
    from generic_data_ingestor_framework_spark.streaming import (
        events_rolling_zscore,
        stream_rolling_zscore,
    )

    batch = {
        r["user_id"]: (r["n_scored"], r["n_anomalies"], r["max_abs_z"])
        for r in events_rolling_zscore(spark, SF).collect()
    }
    stream = {
        r["user_id"]: (r["n_scored"], r["n_anomalies"], r["max_abs_z"])
        for r in stream_rolling_zscore(spark, SF).collect()
    }
    assert set(stream) == set(batch) and len(stream) > 0
    for uid, (n, a, mz) in batch.items():
        assert stream[uid][0] == n and stream[uid][1] == a, uid
        assert abs(stream[uid][2] - mz) < 2e-2, uid


def test_stream_dedup_near_matches_batch(spark):
    """The stateful streaming near-dup dedup must admit exactly the
    batch ``dedup_incremental_near`` set (stream/batch parity for the
    band-claim applyInPandasWithState op), and admit at least one doc
    while rejecting at least one (the fixture has near-dups planted
    across the bucket split)."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        dedup_incremental_near,
    )
    from generic_data_ingestor_framework_spark.streaming import stream_dedup_near

    batch = {(r["doc_id"], r["lang"]) for r in dedup_incremental_near(spark, SF).collect()}
    stream = {(r["doc_id"], r["lang"]) for r in stream_dedup_near(spark, SF).collect()}
    assert stream == batch
    assert len(stream) > 0


def test_stream_dedup_near_restart_exactly_once(spark, tmp_path):
    """The band-claim state must survive a checkpoint restart: a doc
    near-duplicating a PREVIOUS run's admitted doc is rejected after
    the restart, already-processed files are never re-emitted, and a
    restart with no new input is a pure no-op."""
    from generic_data_ingestor_framework_spark.streaming import (
        DOCS_RAW_SCHEMA,
        dedup_near_verdict_stream,
    )

    src = tmp_path / "near_docs"
    src.mkdir()
    ckpt = str(tmp_path / "near_ckpt")
    dup_text = "alpha beta gamma delta epsilon zeta"
    rows1 = [
        (1, "en", "s", 10, dup_text),
        (2, "en", "s", 10, dup_text),               # near-dup of 1 (same batch)
        (3, "en", "s", 10, "one two three four five six"),
    ]
    cols = ["doc_id", "lang", "source", "n_chars", "text"]

    def write_docs(rows, sub):
        df = spark.createDataFrame(rows).toDF(*cols)
        for f in DOCS_RAW_SCHEMA.fields:
            df = df.withColumn(f.name, df[f.name].cast(f.dataType))
        df.select(*[f.name for f in DOCS_RAW_SCHEMA.fields]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / sub))

    write_docs(rows1, "b1")

    empty_corpus = spark.createDataFrame([], "band_key string")
    out = tmp_path / "near_verdicts"

    def drain(run_tag):
        # foreachBatch -> parquet: a fault-tolerant sink (the memory
        # sink refuses checkpoint recovery), one subdir per run so each
        # drain's emissions are observable separately
        stream = (
            spark.readStream.schema(DOCS_RAW_SCHEMA).option("latestFirst", "false")
            .parquet(f"{src}/*")
        )
        dst = str(out / run_tag)

        def write_batch(bdf, _bid):
            bdf.write.mode("append").parquet(dst)

        q = (
            dedup_near_verdict_stream(spark, stream, empty_corpus)
            .writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import os

        if not os.path.isdir(dst):
            return {}
        return {
            r["doc_id"]: r["rejected"] for r in spark.read.parquet(dst).collect()
        }

    v1 = drain("near_restart_s1")
    assert v1 == {1: False, 2: True, 3: False}

    # restart with NO new files: nothing re-emitted
    v2 = drain("near_restart_s2")
    assert v2 == {}

    # new file after restart: 4 near-dups run-1's admitted doc 1 -> the
    # restored state must reject it; 5 is fresh -> admitted. Doc 1/2/3
    # must NOT reappear (their file is checkpointed as done).
    rows2 = [
        (4, "en", "s", 10, dup_text),
        (5, "en", "s", 10, "seven eight nine ten eleven twelve"),
    ]
    write_docs(rows2, "b2")

    v3 = drain("near_restart_s3")
    assert v3 == {4: True, 5: False}


def test_stream_ann_index_append_exactly_once(spark, tmp_path):
    """foreachBatch ANN index maintenance: per-file micro-batches append
    to the persisted index with batch_id-derived tags; a rerun over the
    same checkpoint appends nothing (exactly-once), and a new file
    appends only itself. Appended copies of indexed vectors land in
    their originals' cells (saved-quantizer encode)."""
    import json as _json

    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm import similarity
    from generic_data_ingestor_framework_spark.streaming import (
        stream_ann_index_append,
    )

    sf = SF
    root = str(tmp_path / "ann_idx_stream")
    similarity.save_ann_index(spark, sf, root)
    n0 = spark.read.parquet(f"{root}/meta").collect()[0]["n_candidates"]

    rows = (
        similarity._vectors(spark, sf)
        .filter((F.col("vec_id") >= similarity.N_QUERY) & (F.col("vec_id") % 11 == 0))
        .select("vec_id", "v")
        .collect()
    )
    assert len(rows) >= 4
    half = len(rows) // 2
    src = tmp_path / "src"
    src.mkdir()

    def _write(name, batch, offset):
        with open(src / name, "w") as fh:
            for r in batch:
                fh.write(_json.dumps(
                    {"vec_id": int(r["vec_id"]) + offset, "embedding": list(r["v"])}
                ) + "\n")

    _write("f1.json", rows[:half], 1_000_000)
    _write("f2.json", rows[half:], 2_000_000)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    ckpt = str(tmp_path / "ckpt")
    stream_ann_index_append(spark, str(src), root, ckpt, schema)

    assigned = similarity.ANN_INDEX.view(spark, root, "ivf_assigned")
    assert assigned.count() == n0 + len(rows)
    meta = spark.read.parquet(f"{root}/meta").collect()[0]
    assert meta["n_candidates"] == n0 + len(rows)
    # appended copies land in their originals' cells
    app = assigned.filter(F.col("point_id") >= 1_000_000).select(
        (F.col("point_id") % 1_000_000).alias("point_id"),
        F.col("cell").alias("new_cell"),
    )
    mism = (
        app.join(assigned.filter(F.col("point_id") < 1_000_000), "point_id")
        .filter(F.col("new_cell") != F.col("cell"))
        .count()
    )
    assert mism == 0

    # exactly-once: a rerun over the same checkpoint appends nothing
    stream_ann_index_append(spark, str(src), root, ckpt, schema)
    assert similarity.ANN_INDEX.view(spark, root, "ivf_assigned").count() == n0 + len(rows)

    # a NEW file appends only itself
    _write("f3.json", rows[:2], 3_000_000)
    stream_ann_index_append(spark, str(src), root, ckpt, schema)
    assert (
        similarity.ANN_INDEX.view(spark, root, "ivf_assigned").count()
        == n0 + len(rows) + 2
    )
    meta3 = spark.read.parquet(f"{root}/meta").collect()[0]
    assert meta3["n_candidates"] == n0 + len(rows) + 2


def test_stream_ann_index_upsert_delete(spark, tmp_path):
    """The streaming delete/supersede maintainer: micro-batch ids are
    generations, so later runs' changes beat earlier ones; upserts of
    existing ids supersede (no growth), new ids insert, deletes
    tombstone, a delete+upsert of the same id in one batch resolves to
    the delete (tombstone wins a gen tie), and a rerun over the same
    checkpoint changes nothing."""
    import json as _json

    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.llm import similarity
    from generic_data_ingestor_framework_spark.streaming import (
        stream_ann_index_upsert,
    )

    sf = SF
    root = str(tmp_path / "ann_idx_stream_up")
    similarity.save_ann_index(spark, sf, root)
    n0 = spark.read.parquet(f"{root}/meta").collect()[0]["n_candidates"]

    rows = (
        similarity._vectors(spark, sf)
        .filter((F.col("vec_id") >= similarity.N_QUERY) & (F.col("vec_id") % 11 == 0))
        .select("vec_id", "v")
        .collect()
    )
    assert len(rows) >= 4
    src = tmp_path / "src_up"
    src.mkdir()
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("op", T.StringType()),
    ])
    ckpt = str(tmp_path / "ckpt_up")

    def _rec(vid, v, op="upsert"):
        return _json.dumps({"vec_id": int(vid), "embedding": list(v), "op": op})

    # run 1 (gen 1): supersede every %11 id with its REVERSED vector,
    # insert one brand-new id
    with open(src / "c1.json", "w") as fh:
        for r in rows:
            fh.write(_rec(r["vec_id"], list(reversed(r["v"]))) + "\n")
        fh.write(_rec(1_000_000, rows[0]["v"]) + "\n")
    stream_ann_index_upsert(spark, str(src), root, ckpt, schema)

    eff = similarity.ANN_INDEX.view(spark, root, "ivf_assigned")
    assert eff.count() == n0 + 1  # supersedes replace, the new id adds
    changed_ids = [int(r["vec_id"]) for r in rows]
    served = {
        int(r["point_id"]): list(r["pv"])
        for r in eff.filter(F.col("point_id").isin(changed_ids)).collect()
    }
    for r in rows:
        assert served[int(r["vec_id"])] == list(reversed(r["v"]))

    # rerun, no new files: exactly-once, nothing moves
    stream_ann_index_upsert(spark, str(src), root, ckpt, schema)
    assert similarity.ANN_INDEX.view(spark, root, "ivf_assigned").count() == n0 + 1

    # run 2 (gen 2): delete one changed id; for another, a delete AND
    # an upsert in the SAME batch — the tombstone wins the gen tie
    with open(src / "c2.json", "w") as fh:
        fh.write(_rec(changed_ids[0], [], "delete") + "\n")
        fh.write(_rec(changed_ids[1], [], "delete") + "\n")
        fh.write(_rec(changed_ids[1], rows[1]["v"]) + "\n")
    stream_ann_index_upsert(spark, str(src), root, ckpt, schema)
    eff2 = similarity.ANN_INDEX.view(spark, root, "ivf_assigned")
    assert eff2.count() == n0 + 1 - 2
    assert eff2.filter(F.col("point_id").isin(changed_ids[:2])).count() == 0
    meta = spark.read.parquet(f"{root}/meta").collect()[0]
    assert meta["n_candidates"] == n0 - 1

    # compaction drops the dead generations physically
    similarity.ANN_INDEX.compact(spark, root)
    raw = spark.read.parquet(f"{root}/ivf_assigned")
    assert raw.count() == n0 - 1
    assert raw.groupBy("point_id").count().filter(F.col("count") > 1).count() == 0


def test_stream_scd2_apply_maintainer(spark, tmp_path):
    """The streaming SCD2 maintainer: micro-batch ids are generations,
    the first batch seeds the history, later batches close-and-open /
    delete / resurrect, a rerun over the same checkpoint changes
    nothing (no new batches), and a NEW file after restart applies at
    the next generation — the dimension twin of
    stream_ann_index_upsert."""
    import json as _json

    import pyspark.sql.types as T

    from generic_data_ingestor_framework_spark.streaming import stream_scd2_apply

    src = tmp_path / "scd2_cdc"
    src.mkdir()
    ckpt = str(tmp_path / "scd2_ckpt")
    tbl = "dim_scd2_stream_test"
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seg", T.StringType()),
            T.StructField("is_deleted", T.BooleanType()),
        ]
    )

    def write_batch(name, recs):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in recs) + "\n"
        )

    try:
        # batch 0 seeds, then a SECOND drain applies batch 1 (changes
        # k=1, deletes k=2, inserts k=4) — write-run-write-run so batch
        # order never depends on file mtime ties (two files written in
        # the same tick can drain in either order)
        write_batch("b0.json", [
            {"k": 1, "seg": "A", "is_deleted": False},
            {"k": 2, "seg": "B", "is_deleted": False},
            {"k": 3, "seg": "C", "is_deleted": False},
        ])
        stream_scd2_apply(spark, str(src), tbl, ckpt, schema, "k", ["seg"])
        write_batch("b1.json", [
            {"k": 1, "seg": "A2", "is_deleted": False},
            {"k": 2, "seg": "B", "is_deleted": True},
            {"k": 3, "seg": "C", "is_deleted": False},  # no-op
            {"k": 4, "seg": "D", "is_deleted": False},
        ])
        stream_scd2_apply(spark, str(src), tbl, ckpt, schema, "k", ["seg"])
        rows = {(r["k"], r["seg"], r["valid_from"], r["valid_to"])
                for r in spark.table(tbl).collect()}
        assert rows == {
            (1, "A", 1, 2), (1, "A2", 2, None),
            (2, "B", 1, 2),
            (3, "C", 1, None),
            (4, "D", 2, None),
        }

        # rerun over the same checkpoint: no new batches, nothing moves
        stream_scd2_apply(spark, str(src), tbl, ckpt, schema, "k", ["seg"])
        assert {(r["k"], r["seg"], r["valid_from"], r["valid_to"])
                for r in spark.table(tbl).collect()} == rows

        # restart with a NEW file: resurrect k=2 at gen 3
        write_batch("b2.json", [{"k": 2, "seg": "B9", "is_deleted": False}])
        stream_scd2_apply(spark, str(src), tbl, ckpt, schema, "k", ["seg"])
        rows3 = {(r["k"], r["seg"], r["valid_from"], r["valid_to"])
                 for r in spark.table(tbl).collect()}
        assert rows3 == rows | {(2, "B9", 3, None)}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
