"""Plan-shape tests for the scale patterns: results equal the naive
plan AND the physical plan has the promised structure."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.scale import (
    count_exchanges,
    explain_string,
    salted_join,
    write_bucketed_table,
)

SF = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parents[1]


def test_salted_join_matches_plain_join(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    plain = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("t"))
    )
    salted = (
        salted_join(orders, cust, "o_custkey", "c_custkey", salt_buckets=8)
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("t"))
    )
    a = {(r["c_custkey"], r["n"], r["t"]) for r in plain.collect()}
    b = {(r["c_custkey"], r["n"], r["t"]) for r in salted.collect()}
    assert a == b


def test_salted_join_spreads_hot_key(spark):
    # one hot key joined against a tiny dim: the salted fact side must
    # carry >1 distinct salt for the hot key
    hot = spark.range(0, 10000).select(F.lit(7).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(7, "x")], "k bigint, v string")
    out = salted_join(hot, dim, "k")
    assert out.count() == 10000
    fact = hot.withColumn("__salt", (F.rand(seed=7) * 16).cast("int"))
    assert fact.select("__salt").distinct().count() > 1


def test_bucketed_join_elides_shuffle(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    write_bucketed_table(orders, "orders_b", "o_orderkey", n_buckets=4)
    write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "lo_orderkey"), "lineitem_b", "lo_orderkey", 4
    )
    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    # disable broadcast so the join NEEDS the bucket distribution (at
    # real scale neither side would broadcast anyway)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, ob.o_orderkey == lb.lo_orderkey).groupBy("o_orderkey").count()
        plan = explain_string(joined)
        # co-bucketed join + agg on the same key: ZERO shuffles
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert count_exchanges(joined) == 0
        assert "Bucketed: true" in plan
        assert joined.count() == lb.select("lo_orderkey").distinct().count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    from generic_data_ingestor_framework_spark.scale import repartitioned_write

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    repartitioned_write(docs, out, "lang")
    reread = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = explain_string(reread)
    assert "PartitionFilters" in plan and "lang" in plan
    assert reread.count() == docs.filter(F.col("lang") == "en").count()


def test_compact_parquet_dir_reduces_files(spark, tmp_path):
    from generic_data_ingestor_framework_spark.scale import compact_parquet_dir

    src = str(tmp_path / "many_small")
    spark.range(0, 20000).withColumn("v", F.col("id") * 2).repartition(64).write.parquet(src)
    import pathlib

    assert len(list(pathlib.Path(src).rglob("*.parquet"))) == 64
    n = compact_parquet_dir(spark, src, target_file_bytes=10 * 1024 * 1024, sort_within_by=["id"])
    assert n == 1
    df = spark.read.parquet(src)
    assert df.count() == 20000
    assert df.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(20000))


def test_q1_pushes_filter_and_prunes_scan(spark):
    """The flagship's shipdate filter must reach the parquet scan and
    the scan must be pruned to the 7 referenced columns."""
    from generic_data_ingestor_framework_spark.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, SF)
    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jm)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 7, m


def test_q6_is_scan_only_no_shuffle(spark):
    from generic_data_ingestor_framework_spark.relational import q6_forecast_revenue

    df = q6_forecast_revenue(spark, SF)
    assert count_exchanges(df) == 0


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join demo: a 95%-hot key joined sort-merge must show
    ``isSkew=true``/skew handling in the final adaptive plan.

    Thresholds are lowered so test-sized data crosses the skew bar —
    the mechanism (OptimizeSkewedJoin splitting the hot partition into
    multiple tasks) is identical at 100 TB with the defaults."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = hot.join(right, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        [row] = joined.collect()
        # 190k hot rows (k=7) + multiples of 20 below right's 50k range
        assert row["n"] == 192_500
        plan = explain_string(joined, "formatted")
        assert "AdaptiveSparkPlan" in plan
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan.lower() or "isSkew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_packing_cumsum_partitions_by_lang_and_bucket(spark):
    """Two-level packing scale contract: the running-sum window must
    partition by (lang, bucket), never by lang alone — one sort task
    per language would funnel a majority-language corpus through a
    single executor at 100 TB."""
    from generic_data_ingestor_framework_spark.llm.curate import pack_context_windows

    plan = pack_context_windows(spark, "/root/testdata/sf0.001")._jdf.queryExecution().toString()
    import re

    # Window node format: `Window [sum(x) windowspecdefinition(...)],
    # [partition cols], [order cols]` — grab the token-cumsum windows'
    # partition column lists
    specs = re.findall(r"Window \[sum\(n_tok[^\]]*\], \[([^\]]*)\], \[", plan)
    assert specs, f"no n_tok cumsum window found in plan:\n{plan[:2000]}"
    for cols in specs:
        assert "lang" in cols and "bucket" in cols, (
            f"running-sum window partitions by [{cols}], not (lang, bucket)"
        )


def test_skew_report_flags_hot_key(spark):
    """A planted 90%-hot key must dominate the report and drive the
    suggested salt-bucket count to ~its skew factor."""
    from pyspark.sql import functions as F

    from generic_data_ingestor_framework_spark.scale import skew_report

    df = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("k")
    )
    rep = skew_report(df, ["k"])
    assert rep["n_rows"] == 1000 and rep["n_keys"] == 101
    assert rep["top"][0] == (("hot",), 900)
    # mean ≈ 9.9 rows/key; the hot key is ~91× that
    assert rep["skew_factor"] > 80
    assert rep["suggested_salt_buckets"] == round(900 / (1000 / 101))
    # uniform data reports no meaningful skew
    uni = skew_report(spark.range(100).selectExpr("id % 10 AS k"), ["k"])
    assert uni["skew_factor"] == 1.0 and uni["suggested_salt_buckets"] == 1


def test_count_warm_exchanges_excludes_cached_build(spark):
    """An exchange inside a cached subtree is build lineage, not
    steady-state work: warm count must drop it; total count keeps it."""
    from generic_data_ingestor_framework_spark.scale import count_warm_exchanges

    base = spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
    plain = base.groupBy("k").agg(F.sum("v").alias("s"))
    # before any caching there is nothing to exclude
    assert count_warm_exchanges(plain) == count_exchanges(plain) == 1
    built = plain.cache()
    try:
        out = built.groupBy((F.col("k") % 2).alias("b")).agg(F.sum("s").alias("t"))
        total, warm = count_exchanges(out), count_warm_exchanges(out)
        assert total >= 2  # build exchange printed inside InMemoryTableScan
        assert warm == 1  # only the outer groupBy executes warm
        # the cache manager substitutes the cached relation for the
        # identical plan, so its warm count drops to zero outright
        assert count_warm_exchanges(base.groupBy("k").agg(F.sum("v").alias("s"))) == 0
    finally:
        built.unpersist()


def test_warm_shuffle_ceilings(spark):
    """Pin steady-state shuffle counts for the cache-heavy audited
    queries so index-build lineage can't silently leak into the warm
    path (PLANS.md 'warm shuffles' column)."""
    import __spark_entry__ as entry_mod
    from generic_data_ingestor_framework_spark.scale import count_warm_exchanges

    qs = entry_mod.member_queries()
    ceilings = {
        "dedup_ngram_jaccard": 2,
        "dedup_minhash_lsh_pairs": 2,
        "nb_lang_predictions": 2,
        "bm25_topk": 10,
        "retrieval_rrf_fusion": 24,
        # graph members: the pair relation + candidate shingles are
        # session-persisted — an unpersisted branch re-executes the band
        # self-join once PER REFERENCE (round-8 audit: 45/96 warm before)
        "graph_triangle_count": 7,
        "dedup_minhash_accuracy": 9,
        # r9: positional gram relation persists pre-partitioned on gram,
        # so the occurrence agg + dup join are zero-exchange warm — only
        # the doc_id starts-collect shuffles
        "remove_duplicated_spans": 1,
        # r9: right-tiebreak folds the click dedup into the fill window;
        # ONE key shuffle for the whole as-of join
        "events_asof_join": 1,
        # r10: the tolerance path must not add a shuffle (same single
        # fill window, staleness nulls applied in-projection)
        "events_asof_tolerance_30m": 1,
        # r10: persisted-index probes — loading from parquet must stay
        # broadcast-joined (probe side small), no index-side shuffle
        "ann_ivf_persisted": 1,
        "ann_pq_persisted": 2,
    }
    for name, cap in ceilings.items():
        # build any session-persisted inputs first: warm ceilings pin
        # the steady state, not first-touch lineage
        qs[name](spark, SF).write.format("noop").mode("overwrite").save()
        warm = count_warm_exchanges(qs[name](spark, SF))
        assert warm <= cap, f"{name}: warm exchanges {warm} > ceiling {cap}"


def test_superlinear_alarm_drift_normalized():
    """The scale-harness alarm must fire on a genuinely superlinear
    member even when host drift inflates every wall time, and must NOT
    fire on a healthy member under the same drift (r11 verdict: the
    old raw bar of data_scale × 1.6 tolerated drift multiplicatively —
    a 12× member on a calm box passed silently)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_scale", str(REPO / "tools" / "bench_scale.py")
    )
    bs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bs)

    # simulated 1.5× host slowdown on each member's sf1 side (the
    # fixed-size probe pair reads 1.5): a healthy 10× member reads 15
    # raw, a 12× plan reads 18 raw
    ratios = {"healthy": 15.0, "quadratic_in_waiting": 18.0, "empty": None}
    drifts = {"healthy": 1.5, "quadratic_in_waiting": 1.5, "empty": 1.5}
    normalized, alarms = bs.normalize_and_alarm(ratios, drifts)
    assert normalized["healthy"] == 10.0
    assert normalized["quadratic_in_waiting"] == 12.0
    assert normalized["empty"] is None
    assert set(alarms) == {"quadratic_in_waiting"}

    # calm box (pair drift 1.0): the same 12× plan still fires
    _, alarms_calm = bs.normalize_and_alarm({"q": 12.0}, {"q": 1.0})
    assert set(alarms_calm) == {"q"}
    # and a healthy plan on a calm box stays quiet (scalar drift form)
    _, alarms_ok = bs.normalize_and_alarm({"q": 10.5}, 1.0)
    assert not alarms_ok
    # a member missing from the drift map defaults to calm
    n2, _ = bs.normalize_and_alarm({"q": 12.0}, {})
    assert n2["q"] == 12.0


def test_rcte_per_iteration_ceilings(spark):
    """Recursive-CTE members: the exchange walkers are blind inside
    UnionLoopExec (r11 verdict item), so pin the per-iteration cost
    from the recursion's logical plan (union_loop_audit — joins, scans,
    windows executed EVERY level) and a runtime JOB ceiling (the loop
    runs one job per iteration; a depth or fan-out regression shows up
    as job count, whatever the per-iteration plan looks like)."""
    import __spark_entry__ as entry_mod
    from generic_data_ingestor_framework_spark.scale import union_loop_audit

    qs = entry_mod.member_queries()
    # (iter_joins, iter_scans, iter_windows, anchor_scans) ceilings —
    # the loop-invariant relations (seq / edges) are session-persisted,
    # so EVERY level must be pure in-memory joins: ZERO parquet scans
    # and ZERO window re-derivations inside the recursion (before the
    # r12 fix the audit read 2 scans + 2 windows/level for the chain
    # and 6 scans/level for reachability)
    pins = {
        "rcte_order_chain": (2, 0, 0, 1),
        "rcte_reachability": (1, 0, 0, 1),
    }
    # UnionLoop runs several AQE jobs PER ITERATION (measured ~9/level);
    # caps sized from the sf0.001 depths (order chain: max 16 levels ->
    # 150 jobs measured; reachability: 6 levels) with ~1.5x headroom —
    # a depth or fan-out regression multiplies job count well past them
    job_caps = {"rcte_order_chain": 220, "rcte_reachability": 110}
    for name, (j, s, w, a) in pins.items():
        df = qs[name](spark, SF)
        loops = union_loop_audit(df)
        assert len(loops) == 1, f"{name}: expected one UnionLoop, got {loops}"
        u = loops[0]
        assert u["iter_joins"] <= j, f"{name}: {u}"
        assert u["iter_scans"] <= s, f"{name}: {u}"
        assert u["iter_windows"] <= w, f"{name}: {u}"
        assert u["anchor_scans"] <= a, f"{name}: {u}"
        assert u["iter_cached"] >= 1, f"{name}: loop-invariant not cached {u}"
        sc = spark.sparkContext
        group = f"rcte_audit_{name}"
        sc.setJobGroup(group, "rcte job-count pin")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= job_caps[name], (
            f"{name}: {len(jobs)} jobs > cap {job_caps[name]}"
        )


def test_broadcast_threshold_bytes_suffixes_and_fallback(spark):
    """Every byte-size form Spark accepts parses — including t/tb/p/pb
    (ADVICE r13) — and an unparseable operator-set value falls back to
    the 10 MiB default instead of crashing the pressure probes."""
    from generic_data_ingestor_framework_spark.scale import broadcast_threshold_bytes

    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    cases = {
        "10485760": 10 << 20,
        "10485760b": 10 << 20,
        "512k": 512 << 10,
        "10MB": 10 << 20,
        "2g": 2 << 30,
        "1tb": 1 << 40,
        "1t": 1 << 40,
        "1pb": 1 << 50,
        "-1": -1,
    }
    try:
        for raw, want in cases.items():
            spark.conf.set(key, raw)
            assert broadcast_threshold_bytes(spark) == want, raw
    finally:
        spark.conf.set(key, orig)

    # Spark's own conf validation rejects garbage at set() time, so the
    # parse fallback is exercised through a stub session (the probes
    # must degrade to the 10 MiB default, never crash).
    class _Conf:
        def get(self, k, d=None):
            return "not-a-size"

    class _Stub:
        conf = _Conf()

    assert broadcast_threshold_bytes(_Stub()) == 10 << 20


def test_versioned_probes_respect_broadcast_optout(spark, tmp_path):
    """autoBroadcastJoinThreshold=-1 means the operator disabled
    broadcasting: the versioned band/ANN probes must not force a
    broadcast hint in that config (ADVICE r13) — the plan carries no
    broadcast exchange, and results are unchanged."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        dedup_against_band_index_versioned,
        save_band_index_versioned,
        supersede_band_index,
    )
    from generic_data_ingestor_framework_spark.relational import load_table
    from generic_data_ingestor_framework_spark.scale import explain_string

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").limit(60).cache()
    base_tbl, delta_tbl = "band_optout_base", "band_optout_delta"
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    try:
        save_band_index_versioned(spark, docs, base_tbl, delta_tbl)
        supersede_band_index(
            spark, docs.limit(5), delta_tbl, 1, "doc_id", "text"
        )
        probe = dedup_against_band_index_versioned(
            spark, docs.limit(20), base_tbl, delta_tbl
        )
        expected = sorted(r["doc_id"] for r in probe.collect())

        spark.conf.set(key, "-1")
        probe_off = dedup_against_band_index_versioned(
            spark, docs.limit(20), base_tbl, delta_tbl
        )
        plan = explain_string(probe_off, "formatted")
        assert "BroadcastExchange" not in plan
        assert sorted(r["doc_id"] for r in probe_off.collect()) == expected
    finally:
        spark.conf.set(key, orig)
        spark.sql(f"DROP TABLE IF EXISTS {base_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {delta_tbl}")
        docs.unpersist()


def test_bench_memo_evict_contract():
    """The bench's honest-steady eviction list must name real headline
    members and real cachemgr key families — a renamed memo key would
    silently turn the eviction into a no-op and the steady median back
    into a dict-lookup time (r14 verdict #3)."""
    import bench

    pkg = REPO / "generic_data_ingestor_framework_spark"
    src_sim = (pkg / "llm" / "similarity.py").read_text()
    src_rel = (pkg / "relational.py").read_text()
    assert set(bench.MEMO_EVICT) <= set(bench.HEADLINE)
    for member, prefix in bench.MEMO_EVICT.items():
        assert isinstance(prefix, tuple) and prefix
        # the key family must still exist in the source that builds it
        assert f'"{prefix[0]}"' in src_sim + src_rel, (member, prefix)


def test_bench_canonical_line_fits_tail():
    """The driver records only a ~2000-char stdout tail and parses the
    LAST JSON line. The canonical micro-record must stay far inside
    that window regardless of member count (the full per-query map is
    structurally unable to fit: the 87 member names alone exceed the
    budget — BENCH_FULL.json is the committed full record)."""
    import json

    import bench

    micro = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        "sf": 0.1,
        "ingest_rps": 999999.9,
        "probe_s": 9.9999,
        "n_queries": len(bench.HEADLINE),
        "detail": bench.FULL_RECORD,
    }
    assert len(json.dumps(micro)) < 300
