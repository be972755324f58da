"""Deterministic sampling / split / pseudonymization operators.

Training-data pipelines need reproducible subset selection at scale:
hash-mod sampling (every executor agrees on membership without
coordination), stratified per-group sampling, train/val/test splits
that are stable across reruns, and key pseudonymization. All are pure
column expressions over the portable md5 hash, so membership is
identical on any engine and any cluster size — the property that makes
a 100 TB sample auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.llm.dedup import (
    ident_sql,
    portable_hash32,
    tokens_col,
    tokens_sql,
)
from generic_data_ingestor_framework_spark.llm.textstats import _STOP_IN, n_stop_sql
from generic_data_ingestor_framework_spark.relational import load_table
from generic_data_ingestor_framework_spark.session import local_relation

_HASH_SQL = "CAST(concat('0x', substr(md5(CAST({c} AS VARCHAR)), 1, 8)) AS BIGINT)"


def _doc_hash():
    return portable_hash32(F.col("doc_id").cast("string"))


def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample: hash(doc_id) % 10 == 0. Unlike
    ``df.sample()`` this is reproducible across runs, engines, and
    partitionings — the only kind of sample you can re-join later."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(_doc_hash() % 10 == 0).select("doc_id", "lang", "source")


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 80/10/10 split assignment + per-split counts."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _doc_hash() % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split")
    )


def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 docs per language by hash order: a deterministic
    stratified sample (equal allocation per stratum)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(_doc_hash().asc(), F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "rn")
    )


N_EXPORT_SHARDS = 8


def shard_export_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffle-shard layout for a training-data export:
    every doc gets a shard (``hash % N_EXPORT_SHARDS``) and a position
    within it (rank by hash, doc_id tiebreak) — the reproducible
    GLOBAL shuffle a training run needs so that re-exports, resumed
    jobs, and different cluster sizes all read the same byte order.

    Scale shape: the ordering window is partitioned BY SHARD, so no
    global sort exists — each shard sorts 1/N of the corpus, which is
    exactly ``repartition(shard).sortWithinPartitions(hash)`` at
    export time; membership and order are pure hash arithmetic, so any
    engine reproduces them without coordination."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    h = _doc_hash()
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", (h % N_EXPORT_SHARDS).cast("int").alias("shard"), h.alias("h"))
        .withColumn("pos_in_shard", F.row_number().over(w))
        .select("doc_id", "shard", "pos_in_shard")
    )


RESAMPLE_PPM = 10**6  # keep-probability resolution (parts per million)


def mix_resample_equalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-equalizing resample: apply ``corpus_mix_weights``'s
    equalize rate as an actual deterministic document filter — each
    doc survives iff ``hash(doc_id) % 1e6 < min(1, rate)·1e6`` — the
    step that turns a mixture recipe into a concrete corpus (rates >1,
    i.e. up-sampling of rare languages, clamp to keep-all here; an
    up-sampling export would replicate by ⌈rate⌉ with the same hash).

    Scale shape: one per-language aggregate (a handful of rows),
    broadcast back, then a map-only filter — membership is engine- and
    partitioning-independent hash arithmetic, so the resampled corpus
    is auditable and re-joinable like every sample here."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = (
        d.select("lang", F.size(tokens_col()).alias("n_tok"))
        .groupBy("lang")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    totals = per_lang.agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n_langs")
    )
    rates = per_lang.crossJoin(F.broadcast(totals)).select(
        "lang",
        F.floor(
            F.least(
                F.lit(1.0), F.col("tot") / (F.col("n_langs") * F.col("n_tokens"))
            )
            * RESAMPLE_PPM
        )
        .cast("bigint")
        .alias("keep_ppm"),
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(_doc_hash() % RESAMPLE_PPM < F.col("keep_ppm"))
        .select("doc_id", "lang", "keep_ppm")
    )


def pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key pseudonymization: stable md5 surrogate for user_id, with the
    event payload intact — referential integrity preserved (same user
    → same pseudonym) without exposing the raw key."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.md5(F.col("user_id").cast("string")).alias("user_pseudo"),
            "event_type",
        )
    )


def quality_weight_bp(text_col: str):
    """The shared quality formula in PURE INTEGER basis points:
    ``⌊min(n,100)·50·(n+n_stop)/n⌋ ∈ [0,10000]`` (algebraically
    ``quality·10⁴``). One definition feeds the sampling member AND the
    pipeline ``weighted_sample`` step, so they cannot drift."""
    toks = tokens_sql(ident_sql(text_col))
    n, n_stop = f"CAST(size({toks}) AS BIGINT)", f"CAST({n_stop_sql(toks)} AS BIGINT)"
    return F.expr(f"CAST(floor(least({n}, 100) * 50 * ({n} + {n_stop}) / {n}) AS BIGINT)")


def salted_hash(id_col: str, salt: str):
    """Portable md5 hash of ``salt·id`` — decorrelated from every other
    hash-based selection over the same id column."""
    return portable_hash32(F.concat(F.lit(salt), F.col(id_col).cast("string")))


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filter: each document survives with probability
    proportional to its heuristic quality (the FineWeb/DCLM-style
    alternative to a hard threshold — low-quality docs are down-weighted,
    not annihilated, preserving distributional diversity).

    The keep weight is the shared quality formula re-derived in PURE
    INTEGER basis points — ``⌊min(n,100)·50·(n+n_stop)/n⌋ ∈ [0,10000]``
    (algebraically ``quality·10⁴``) — so membership is exact hash
    arithmetic with no float-rounding boundary to disagree on; the hash
    is salted ('q'·doc_id) to decorrelate from ``sample_hash_mod`` and
    the split/shard assignments.

    Scale shape: map-only (tokenize → two array sizes → hash compare);
    no shuffle, no state, membership independent of partitioning —
    auditable and re-joinable at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    weight_bp = quality_weight_bp("text")
    h = salted_hash("doc_id", "q")
    return (
        d.select("doc_id", "source", weight_bp.alias("weight_bp"), h.alias("h"))
        .filter(F.col("h") % 10000 < F.col("weight_bp"))
        .select("doc_id", "source", "weight_bp")
    )


_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
_SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


def pii_redacted(text):
    """``text`` with emails, phone-like digit runs and SSN-shaped ids
    replaced by typed placeholders: the one redaction run by the member
    and by the pipeline's ``redact_pii`` step. Pure ``regexp_replace``
    projections — codegen'd, no UDFs; RE2-safe patterns shared verbatim
    with the oracle."""
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(text, _SSN_RE, "<SSN>"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (``pii_redacted``) with per-doc hit counts so
    a pipeline can quarantine high-PII documents."""
    d = load_table(spark, sf_dir, "documents")
    redacted = pii_redacted(F.col("text"))
    n_hits = (
        F.size(F.split(redacted, "<EMAIL>")) - 1
        + F.size(F.split(redacted, "<PHONE>")) - 1
        + F.size(F.split(redacted, "<SSN>")) - 1
    )
    return d.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        n_hits.cast("int").alias("n_pii_hits"),
    )


def _epoch_pseudo(user_col, epoch: int):
    """Keyed pseudonym for ``user_col`` at key epoch ``epoch``: the
    epoch secret is derived (md5 of a root label + epoch) and mixed
    into the keyed digest — the salted-HMAC shape, portable to DuckDB.
    Different epochs produce unlinkable pseudonym spaces."""
    secret = F.md5(F.lit(f"pseud-root:{epoch}"))
    return F.md5(F.concat(secret, F.lit(":"), user_col.cast("string")))


def pseudonymize_keyed_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-ROTATED pseudonymization (r12 verdict #7): pseudonyms are
    keyed by a derived per-epoch secret, and rotating to a new epoch
    requires only a TRANSLATION TABLE built from the distinct-user
    dimension — old pseudonym → new pseudonym — never a re-read of the
    raw-key corpus (the stored events carry only epoch-1 pseudonyms;
    the raw user_id exists solely in the key dimension). The member
    re-keys the epoch-1 event stream through that table and checks it
    against direct epoch-2 pseudonymization: ``n_rekey_mismatch`` MUST
    be zero, and the per-epoch distinct-pseudonym counts must both
    equal the true user count (keyed digests stay collision-free and
    referential integrity survives rotation). ``pseudo_checksum`` is an
    order-insensitive integer fold of the epoch-2 pseudonyms so the
    gate pins the actual pseudonym VALUES, not just counts.

    Scale shape: the translation table is user-dimension-sized
    (broadcast or co-bucketed at 100 TB); the re-key is one hash join
    on the old pseudonym; everything else is map-side md5. r14 opt:
    the direct-e2 reference values are computed on the SAME event scan
    as the stored epoch-1 pseudonyms (they are per-row md5s of the
    same rows), so the former fact-fact re-alignment join on event_id
    — a full shuffle of the event stream on both sides — is gone; the
    check it aligned (translate(p1) vs direct p2, per event) is
    unchanged."""
    e = load_table(spark, sf_dir, "events")
    p1 = _epoch_pseudo(F.col("user_id"), 1)
    p2 = _epoch_pseudo(F.col("user_id"), 2)
    stored = e.select(
        "event_id", "event_type", p1.alias("user_pseudo_e1"), p2.alias("direct_e2")
    )
    trans = (
        e.select("user_id").distinct()
        .select(p1.alias("user_pseudo_e1"), p2.alias("user_pseudo_e2"))
    )
    j = stored.join(trans, "user_pseudo_e1")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_pseudo_e1").cast("bigint").alias("n_users_e1"),
        F.countDistinct("user_pseudo_e2").cast("bigint").alias("n_users_e2"),
        F.sum(
            F.when(F.col("user_pseudo_e2") != F.col("direct_e2"), 1).otherwise(0)
        ).cast("bigint").alias("n_rekey_mismatch"),
        F.sum(portable_hash32(F.col("user_pseudo_e2")))
        .cast("bigint")
        .alias("pseudo_checksum"),
    )


K_ANON_THRESHOLDS = (2, 5, 10, 25)
ACCTBAL_BUCKET = 1000  # quasi-identifier coarsening grain for c_acctbal


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit over a quasi-identifier tuple (r12 verdict
    #7): a released dimension is k-anonymous when every QI group holds
    at least k rows — smaller groups re-identify. QI here is
    ``(c_nationkey, c_mktsegment, floor(c_acctbal / 1000))`` — the
    classic coarsened demographic triple. Output: one row per policy
    threshold k with the number of groups below k, the rows at
    re-identification risk, and their corpus share in basis points
    (pure integer math). The release decision an operator reads before
    publishing a pseudonymized dimension — pairs with the rotation
    member, which protects the DIRECT identifier this audit does not
    cover.

    Scale shape: one groupBy on the QI tuple (single shuffle,
    map-side combinable), then a threshold × group-size broadcast
    fold over the aggregate-sized group histogram."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / ACCTBAL_BUCKET).cast("bigint").alias("bal_bucket"),
    )
    groups = qi.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).alias("gsz")
    ).localCheckpoint(eager=True)
    # ^ aggregate-sized; referenced by the totals AND the threshold
    # fold — one corpus scan instead of two (r14 opt)
    ks = local_relation(spark, [(k,) for k in K_ANON_THRESHOLDS], "k int")
    tot = groups.agg(
        F.sum("gsz").alias("n_rows"), F.count(F.lit(1)).alias("n_groups")
    )
    return (
        groups.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("gsz") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_below_k"),
            F.sum(F.when(F.col("gsz") < F.col("k"), F.col("gsz")).otherwise(0))
            .cast("bigint")
            .alias("rows_below_k"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "groups_below_k",
            "rows_below_k",
            F.expr("(rows_below_k * 10000) DIV n_rows").alias("risk_share_bp"),
            F.col("n_groups").cast("bigint").alias("n_groups"),
        )
        .orderBy("k")
    )


L_DIVERSITY_THRESHOLDS = (2, 3, 4, 5)


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY audit — the standard companion to ``k_anonymity_audit``
    (r13 verdict #7): k-anonymity bounds group SIZE, but a group whose
    sensitive attribute is homogeneous still leaks it (the homogeneity
    attack); a release is l-diverse when every QI group carries at
    least l DISTINCT sensitive values. QI here is the k-audit's tuple
    minus the sensitive attribute — ``(c_nationkey,
    floor(c_acctbal / 1000))`` — with ``c_mktsegment`` as the
    sensitive value. Output mirrors the k-audit: one row per policy
    threshold l with the groups below l, the rows at homogeneity risk,
    their corpus share in basis points (integer math), and the group
    count.

    Scale shape: one groupBy on the QI tuple with a count-distinct
    over the sensitive column (two-phase hash aggregate, map-side
    partials), then a threshold × histogram broadcast fold over the
    aggregate-sized group relation."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / ACCTBAL_BUCKET).cast("bigint").alias("bal_bucket"),
        "c_mktsegment",
    )
    groups = qi.groupBy("c_nationkey", "bal_bucket").agg(
        F.count(F.lit(1)).alias("gsz"),
        F.countDistinct("c_mktsegment").alias("ndist"),
    ).localCheckpoint(eager=True)
    # ^ aggregate-sized; referenced by the totals AND the threshold
    # fold — one corpus scan instead of two (r14 opt)
    ls = local_relation(spark, [(l,) for l in L_DIVERSITY_THRESHOLDS], "l int")
    tot = groups.agg(
        F.sum("gsz").alias("n_rows"), F.count(F.lit(1)).alias("n_groups")
    )
    return (
        groups.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.sum(F.when(F.col("ndist") < F.col("l"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_below_l"),
            F.sum(F.when(F.col("ndist") < F.col("l"), F.col("gsz")).otherwise(0))
            .cast("bigint")
            .alias("rows_below_l"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "l",
            "groups_below_l",
            "rows_below_l",
            F.expr("(rows_below_l * 10000) DIV n_rows").alias("risk_share_bp"),
            F.col("n_groups").cast("bigint").alias("n_groups"),
        )
        .orderBy("l")
    )


K_ANON_K = 10
COARSE_BUCKET = 5000  # level-1 generalization grain for c_acctbal


def k_anonymize_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity ENFORCEMENT — the operator the audit motivates:
    per-group bottom-up generalization over a fixed QI ladder. Level 0
    is the audit's tuple ``(nation, segment, floor(bal/1000))``; level
    1 coarsens the balance to /5000 buckets; level 2 drops the balance;
    level 3 keeps only the nation; rows whose level-3 group is still
    below k are SUPPRESSED (level -1). Each row takes the FINEST level
    whose group (counted over ALL rows — released coarser rows still
    carry level-L-compatible values, so they belong to the anonymity
    set) reaches ``K_ANON_K``; level is a function of the group, so
    every member of a group releases at the same granularity. Output:
    per level, the row count and the MINIMUM group size among assigned
    rows — the gate thereby pins the anonymity property itself
    (min >= k at every released level) cross-engine, not just counts.

    Scale shape: four window counts over progressively coarser key
    prefixes (Catalyst plans them as hash aggregates re-joined by key;
    at 100 TB you pre-aggregate the L0 histogram once — aggregate-sized
    — and roll the coarser levels up from it, which is what the window
    over the coarsest keys degenerates to) plus one final group-by-level
    fold."""
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    b0 = F.floor(F.col("c_acctbal") / ACCTBAL_BUCKET).cast("bigint")
    b1 = F.floor(F.col("c_acctbal") / COARSE_BUCKET).cast("bigint")
    qi = c.select(
        "c_nationkey", "c_mktsegment", b0.alias("bal0"), b1.alias("bal1")
    )
    s0 = F.count(F.lit(1)).over(
        W.partitionBy("c_nationkey", "c_mktsegment", "bal0")
    )
    s1 = F.count(F.lit(1)).over(
        W.partitionBy("c_nationkey", "c_mktsegment", "bal1")
    )
    s2 = F.count(F.lit(1)).over(W.partitionBy("c_nationkey", "c_mktsegment"))
    s3 = F.count(F.lit(1)).over(W.partitionBy("c_nationkey"))
    k = F.lit(K_ANON_K)
    level = (
        F.when(s0 >= k, 0)
        .when(s1 >= k, 1)
        .when(s2 >= k, 2)
        .when(s3 >= k, 3)
        .otherwise(-1)
    )
    gsz = (
        F.when(s0 >= k, s0)
        .when(s1 >= k, s1)
        .when(s2 >= k, s2)
        .when(s3 >= k, s3)
        .otherwise(s3)
    )
    return (
        qi.select(level.cast("int").alias("level"), gsz.cast("bigint").alias("gsz"))
        .groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("gsz").alias("min_group_sz"),
        )
        .orderBy("level")
    )


T_CLOSENESS_THRESHOLDS_BP = (500, 1000, 2000, 3000)


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit — the third leg of the release-audit trio
    (k-anonymity bounds group SIZE, l-diversity bounds sensitive
    CARDINALITY, t-closeness bounds sensitive DISTRIBUTION): a QI
    group whose sensitive-value mix diverges far from the corpus-wide
    mix leaks probabilistic information even when it is large and
    diverse (the skewness attack). Distance is total variation
    ½·Σ|p_g(s) − p(s)| in EXACT integer basis points —
    ``(10000·Σ|n_gs·N − n_s·n_g|) DIV (2·n_g·N)`` — so the gate
    hash-matches DuckDB with no float in sight. QI and sensitive
    attribute mirror ``l_diversity_audit``: ``(c_nationkey,
    floor(c_acctbal/1000))`` vs ``c_mktsegment``. Output: one row per
    policy threshold t with the groups whose TVD exceeds t, the rows
    they hold, their corpus share (bp), the group count, and the
    corpus-wide maximum TVD — the release decision plus the headroom
    number an operator reads off.

    Scale shape: one (QI, sensitive) groupBy (single shuffle,
    map-side combinable); the group histogram is aggregate-sized, the
    sensitive alphabet is broadcast (a handful of segments), and the
    absent-(g,s) terms come from the group×alphabet broadcast cross —
    never from a second corpus scan."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / ACCTBAL_BUCKET).cast("bigint").alias("bal_bucket"),
        "c_mktsegment",
    )
    gs = qi.groupBy("c_nationkey", "bal_bucket", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gs")
    ).localCheckpoint(eager=True)
    # ^ aggregate-sized (groups x segments); referenced by the group
    # totals AND the left join below — without the checkpoint the
    # corpus scan + aggregate ran once per reference (r14 opt)
    g = gs.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("n_gs").cast("bigint").alias("n_g")
    )
    glob = qi.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    tot = glob.agg(F.sum("n_s").cast("bigint").alias("n_tot"))
    # group × sensitive-alphabet cross (aggregate-sized × tiny), left
    # join the observed (g, s) counts so absent pairs contribute the
    # full n_s·n_g deviation
    tvd = (
        g.crossJoin(F.broadcast(glob))
        .join(gs, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left")
        .withColumn("n_gs", F.coalesce("n_gs", F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "bal_bucket", "n_g", "n_tot")
        .agg(
            F.sum(F.abs(F.col("n_gs") * F.col("n_tot") - F.col("n_s") * F.col("n_g")))
            .cast("bigint")
            .alias("dev")
        )
        .select(
            "n_g",
            F.expr("(dev * 10000) DIV (2 * n_g * n_tot)").alias("tvd_bp"),
        )
        # group-count-sized; referenced by the corpus-wide rollup AND
        # the per-threshold aggregation (r14 opt)
        .localCheckpoint(eager=True)
    )
    ts = local_relation(spark, [(t,) for t in T_CLOSENESS_THRESHOLDS_BP], "t_bp int")
    tot2 = tvd.agg(
        F.sum("n_g").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.max("tvd_bp").alias("max_tvd_bp"),
    )
    return (
        tvd.crossJoin(F.broadcast(ts))
        .groupBy("t_bp")
        .agg(
            F.sum(F.when(F.col("tvd_bp") > F.col("t_bp"), 1).otherwise(0))
            .cast("bigint")
            .alias("groups_above_t"),
            F.sum(F.when(F.col("tvd_bp") > F.col("t_bp"), F.col("n_g")).otherwise(0))
            .cast("bigint")
            .alias("rows_above_t"),
        )
        .crossJoin(F.broadcast(tot2))
        .select(
            "t_bp",
            "groups_above_t",
            "rows_above_t",
            F.expr("(rows_above_t * 10000) DIV n_rows").alias("risk_share_bp"),
            F.col("n_groups").cast("bigint").alias("n_groups"),
            F.col("max_tvd_bp").cast("bigint").alias("max_tvd_bp"),
        )
        .orderBy("t_bp")
    )


RR_KEEP_DEN = 4  # report truth with probability 3/4 (h % 4 > 0)


def randomized_response_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL differential privacy via RANDOMIZED RESPONSE — the fifth
    privacy primitive next to pseudonymization, k-anonymity,
    l-diversity, and t-closeness: each record reports its TRUE ``lang``
    with probability 3/4, otherwise a hash-uniform draw from the lang
    alphabet (which may repeat the truth). The collector sees only
    reported labels; the unbiased estimator
    ``n̂_c = (4k·rep_c − n) / (3k)`` recovers the true histogram in
    expectation, and the per-record guarantee is
    ``ε = ln(p / ((1−p)/k)) = ln(3k)`` — reported via ``k_categories``
    so the reader derives ε without cross-engine transcendentals.
    "Randomness" is hash-derived (the ``sample_hash_mod`` precedent):
    reproducible across runs, engines, and partitionings — which is
    what makes a DuckDB oracle of a *noise* mechanism possible at all.

    Scale shape: the alphabet and its size are aggregate-sized
    broadcast frames; the keep/draw decision is per-row hash arithmetic
    in one map stage; the only corpus-sized shuffles are the two k-row
    count aggregations. The alphabet's row_number window is
    single-partition by construction — it ranks the handful of distinct
    languages, never corpus rows."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    alpha = (
        d.select("lang")
        .distinct()
        .withColumn("idx", F.row_number().over(W.orderBy("lang")) - F.lit(1))
        # alphabet-sized; referenced by the draw join, the k-count and
        # the output spine — each reference re-ran the corpus distinct
        # (plan audit: 7 documents scans in this member; r14 opt)
        .localCheckpoint(eager=True)
    )
    kk = alpha.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    keep_h = portable_hash32(
        F.concat(F.lit("rr-keep:"), F.col("doc_id").cast("string"))
    )
    draw_h = portable_hash32(
        F.concat(F.lit("rr-cat:"), F.col("doc_id").cast("string"))
    )
    reported = (
        d.withColumn("keep", keep_h % RR_KEEP_DEN > 0)
        .withColumn("h", draw_h)
        .crossJoin(F.broadcast(kk))
        .withColumn("idx", F.col("h") % F.col("k"))
        .join(
            F.broadcast(alpha.select("idx", F.col("lang").alias("draw_lang"))),
            "idx",
        )
        .select(
            F.when(F.col("keep"), F.col("lang"))
            .otherwise(F.col("draw_lang"))
            .alias("lang")
        )
    )
    true_cnt = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    rep_cnt = reported.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("reported_cnt")
    )
    return (
        alpha.select("lang")
        # lang-alphabet-sized aggregates: broadcast them (the planner
        # estimated the aggregate subtrees past the threshold and
        # planned two SortMergeJoins)
        .join(F.broadcast(true_cnt), "lang", "left")
        .join(F.broadcast(rep_cnt), "lang", "left")
        .crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.coalesce(F.col("true_cnt"), F.lit(0)).cast("bigint").alias("true_cnt"),
            F.coalesce(F.col("reported_cnt"), F.lit(0))
            .cast("bigint")
            .alias("reported_cnt"),
            F.round(
                (
                    4.0 * F.col("k") * F.coalesce(F.col("reported_cnt"), F.lit(0))
                    - F.col("n")
                )
                / (3.0 * F.col("k")),
                3,
            ).alias("est_count"),
            F.col("k").cast("int").alias("k_categories"),
        )
        .orderBy("lang")
    )


QUERIES = {
    "shard_export_assignment": shard_export_assignment,
    "randomized_response_lang": randomized_response_lang,
    "pseudonymize_keyed_rotation": pseudonymize_keyed_rotation,
    "k_anonymity_audit": k_anonymity_audit,
    "l_diversity_audit": l_diversity_audit,
    "t_closeness_audit": t_closeness_audit,
    "k_anonymize_generalize": k_anonymize_generalize,
    "mix_resample_equalized": mix_resample_equalized,
    "sample_hash_mod": sample_hash_mod,
    "redact_pii": redact_pii,
    "train_val_test_split": train_val_test_split,
    "stratified_sample_per_lang": stratified_sample_per_lang,
    "pseudonymize_users": pseudonymize_users,
    "quality_weighted_sample": quality_weighted_sample,
}

_TOKS_SQL = "string_split_regex(lower(text), '\\s+')"

ORACLES = {
    # The RR oracle replays the mechanism end-to-end: same md5-derived
    # keep/draw decisions, same alphabet indexing, same debias formula.
    "randomized_response_lang": f"""
        WITH d AS (SELECT doc_id, lang FROM documents),
        alpha AS (
          SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS idx
          FROM (SELECT DISTINCT lang FROM d)
        ),
        kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM alpha),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        drawn AS (
          SELECT lang,
                 {_HASH_SQL.format(c="concat('rr-keep:', CAST(doc_id AS VARCHAR))")}
                   % {RR_KEEP_DEN} > 0 AS keep,
                 {_HASH_SQL.format(c="concat('rr-cat:', CAST(doc_id AS VARCHAR))")}
                   % (SELECT k FROM kk) AS idx
          FROM d
        ),
        rep AS (
          SELECT CASE WHEN r.keep THEN r.lang ELSE a.lang END AS lang
          FROM drawn r JOIN alpha a USING (idx)
        ),
        tc AS (SELECT lang, CAST(count(*) AS BIGINT) AS true_cnt
               FROM d GROUP BY lang),
        rc AS (SELECT lang, CAST(count(*) AS BIGINT) AS reported_cnt
               FROM rep GROUP BY lang)
        SELECT a.lang,
               COALESCE(tc.true_cnt, 0) AS true_cnt,
               COALESCE(rc.reported_cnt, 0) AS reported_cnt,
               round((4.0 * kk.k * COALESCE(rc.reported_cnt, 0) - tot.n)
                     / (3.0 * kk.k), 3) AS est_count,
               CAST(kk.k AS INT) AS k_categories
        FROM alpha a
        LEFT JOIN tc ON a.lang = tc.lang
        LEFT JOIN rc ON a.lang = rc.lang, kk, tot
        ORDER BY a.lang
    """,
    "shard_export_assignment": f"""
        SELECT doc_id, CAST(h % {N_EXPORT_SHARDS} AS INT) AS shard,
               CAST(row_number() OVER (PARTITION BY h % {N_EXPORT_SHARDS}
                                       ORDER BY h, doc_id) AS INT) AS pos_in_shard
        FROM (SELECT doc_id, {_HASH_SQL.format(c='doc_id')} AS h FROM documents)
    """,
    "mix_resample_equalized": f"""
        WITH per AS (
          SELECT lang, CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang
        ),
        tot AS (
          SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n_langs
          FROM per
        ),
        rates AS (
          SELECT lang,
                 CAST(floor(least(1.0, tot / (n_langs * n_tokens))
                            * {RESAMPLE_PPM}) AS BIGINT) AS keep_ppm
          FROM per, tot
        )
        SELECT d.doc_id, d.lang, r.keep_ppm
        FROM documents d JOIN rates r USING (lang)
        WHERE {_HASH_SQL.format(c='doc_id')} % {RESAMPLE_PPM} < r.keep_ppm
    """,
    "redact_pii": f"""
        WITH r AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, '{_SSN_RE}', '<SSN>', 'g'),
                     '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g') AS red
          FROM documents
        )
        SELECT doc_id, md5(red) AS redacted_md5,
               CAST(len(string_split(red, '<EMAIL>')) - 1
                    + len(string_split(red, '<PHONE>')) - 1
                    + len(string_split(red, '<SSN>')) - 1 AS INT) AS n_pii_hits
        FROM r
    """,
    "sample_hash_mod": f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {_HASH_SQL.format(c='doc_id')} % 10 = 0
    """,
    "quality_weighted_sample": f"""
        WITH w AS (
          SELECT doc_id, source,
                 CAST(floor(least(len(ts), 100) * 50
                      * (len(ts) + len(list_filter(ts, x -> x IN ('{_STOP_IN}'))))
                      / len(ts)) AS BIGINT) AS weight_bp
          FROM (SELECT doc_id, source, {_TOKS_SQL} AS ts FROM documents)
        )
        SELECT doc_id, source, weight_bp FROM w
        WHERE {_HASH_SQL.format(c="'q' || CAST(doc_id AS VARCHAR)")} % 10000 < weight_bp
    """,
    "train_val_test_split": f"""
        WITH b AS (
          SELECT CASE WHEN {_HASH_SQL.format(c='doc_id')} % 100 < 80 THEN 'train'
                      WHEN {_HASH_SQL.format(c='doc_id')} % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
        SELECT split, count(*) AS n FROM b GROUP BY split ORDER BY split
    """,
    "stratified_sample_per_lang": f"""
        SELECT lang, doc_id, CAST(rn AS INT) AS rn FROM (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY {_HASH_SQL.format(c='doc_id')}, doc_id) AS rn
          FROM documents)
        WHERE rn <= 5
    """,
    "pseudonymize_users": """
        SELECT event_id, md5(CAST(user_id AS VARCHAR)) AS user_pseudo, event_type
        FROM events
    """,
    "pseudonymize_keyed_rotation": f"""
        WITH p AS (
          SELECT event_id, event_type,
                 md5(md5('pseud-root:1') || ':' || CAST(user_id AS VARCHAR)) AS p1,
                 md5(md5('pseud-root:2') || ':' || CAST(user_id AS VARCHAR)) AS p2
          FROM events
        ),
        trans AS (
          SELECT DISTINCT
                 md5(md5('pseud-root:1') || ':' || CAST(user_id AS VARCHAR)) AS p1,
                 md5(md5('pseud-root:2') || ':' || CAST(user_id AS VARCHAR)) AS p2
          FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT j.p1) AS BIGINT) AS n_users_e1,
               CAST(count(DISTINCT t.p2) AS BIGINT) AS n_users_e2,
               CAST(sum(CASE WHEN t.p2 <> j.p2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rekey_mismatch,
               CAST(sum({_HASH_SQL.format(c='t.p2')}) AS BIGINT) AS pseudo_checksum
        FROM p j JOIN trans t ON t.p1 = j.p1
        GROUP BY event_type
    """,
    "k_anonymity_audit": f"""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / {ACCTBAL_BUCKET}) AS BIGINT) AS bal_bucket,
                 CAST(count(*) AS BIGINT) AS gsz
          FROM customer GROUP BY 1, 2, 3
        ),
        tot AS (
          SELECT CAST(sum(gsz) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_groups
          FROM g
        ),
        ks AS (SELECT unnest([{", ".join(str(k) for k in K_ANON_THRESHOLDS)}]) AS k)
        SELECT CAST(k AS INT) AS k,
               CAST(sum(CASE WHEN gsz < k THEN 1 ELSE 0 END) AS BIGINT)
                 AS groups_below_k,
               CAST(sum(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT)
                 AS rows_below_k,
               CAST((sum(CASE WHEN gsz < k THEN gsz ELSE 0 END) * 10000)
                    // (SELECT n_rows FROM tot) AS BIGINT) AS risk_share_bp,
               (SELECT n_groups FROM tot) AS n_groups
        FROM g, ks GROUP BY k ORDER BY k
    """,
    "l_diversity_audit": f"""
        WITH g AS (
          SELECT c_nationkey,
                 CAST(floor(c_acctbal / {ACCTBAL_BUCKET}) AS BIGINT) AS bal_bucket,
                 CAST(count(*) AS BIGINT) AS gsz,
                 CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS ndist
          FROM customer GROUP BY 1, 2
        ),
        tot AS (
          SELECT CAST(sum(gsz) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_groups
          FROM g
        ),
        ls AS (SELECT unnest([{", ".join(str(l) for l in L_DIVERSITY_THRESHOLDS)}]) AS l)
        SELECT CAST(l AS INT) AS l,
               CAST(sum(CASE WHEN ndist < l THEN 1 ELSE 0 END) AS BIGINT)
                 AS groups_below_l,
               CAST(sum(CASE WHEN ndist < l THEN gsz ELSE 0 END) AS BIGINT)
                 AS rows_below_l,
               CAST((sum(CASE WHEN ndist < l THEN gsz ELSE 0 END) * 10000)
                    // (SELECT n_rows FROM tot) AS BIGINT) AS risk_share_bp,
               (SELECT n_groups FROM tot) AS n_groups
        FROM g, ls GROUP BY l ORDER BY l
    """,
    "t_closeness_audit": f"""
        WITH gs AS (
          SELECT c_nationkey,
                 CAST(floor(c_acctbal / {ACCTBAL_BUCKET}) AS BIGINT) AS bal_bucket,
                 c_mktsegment,
                 CAST(count(*) AS BIGINT) AS n_gs
          FROM customer GROUP BY 1, 2, 3
        ),
        g AS (
          SELECT c_nationkey, bal_bucket, CAST(sum(n_gs) AS BIGINT) AS n_g
          FROM gs GROUP BY 1, 2
        ),
        gsv AS (
          SELECT c_mktsegment, CAST(sum(n_gs) AS BIGINT) AS n_s FROM gs GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM gsv),
        tvd AS (
          SELECT g.n_g,
                 CAST((sum(abs(COALESCE(x.n_gs, 0) * t.n_tot
                               - gsv.n_s * g.n_g)) * 10000)
                      // (2 * g.n_g * t.n_tot) AS BIGINT) AS tvd_bp
          FROM g
          CROSS JOIN gsv
          CROSS JOIN tot t
          LEFT JOIN gs x
            ON x.c_nationkey = g.c_nationkey
           AND x.bal_bucket = g.bal_bucket
           AND x.c_mktsegment = gsv.c_mktsegment
          GROUP BY g.c_nationkey, g.bal_bucket, g.n_g, t.n_tot
        ),
        tot2 AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(max(tvd_bp) AS BIGINT) AS max_tvd_bp
          FROM tvd
        ),
        ts AS (SELECT unnest([{", ".join(str(t) for t in T_CLOSENESS_THRESHOLDS_BP)}]) AS t_bp)
        SELECT CAST(t_bp AS INT) AS t_bp,
               CAST(sum(CASE WHEN tvd_bp > t_bp THEN 1 ELSE 0 END) AS BIGINT)
                 AS groups_above_t,
               CAST(sum(CASE WHEN tvd_bp > t_bp THEN n_g ELSE 0 END) AS BIGINT)
                 AS rows_above_t,
               CAST((sum(CASE WHEN tvd_bp > t_bp THEN n_g ELSE 0 END) * 10000)
                    // (SELECT n_rows FROM tot2) AS BIGINT) AS risk_share_bp,
               (SELECT n_groups FROM tot2) AS n_groups,
               (SELECT max_tvd_bp FROM tot2) AS max_tvd_bp
        FROM tvd, ts GROUP BY t_bp ORDER BY t_bp
    """,
    "k_anonymize_generalize": f"""
        WITH q AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / {ACCTBAL_BUCKET}) AS BIGINT) AS bal0,
                 CAST(floor(c_acctbal / {COARSE_BUCKET}) AS BIGINT) AS bal1
          FROM customer
        ),
        s AS (
          SELECT
            count(*) OVER (PARTITION BY c_nationkey, c_mktsegment, bal0) AS s0,
            count(*) OVER (PARTITION BY c_nationkey, c_mktsegment, bal1) AS s1,
            count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS s2,
            count(*) OVER (PARTITION BY c_nationkey) AS s3
          FROM q
        ),
        lv AS (
          SELECT CASE WHEN s0 >= {K_ANON_K} THEN 0
                      WHEN s1 >= {K_ANON_K} THEN 1
                      WHEN s2 >= {K_ANON_K} THEN 2
                      WHEN s3 >= {K_ANON_K} THEN 3
                      ELSE -1 END AS level,
                 CASE WHEN s0 >= {K_ANON_K} THEN s0
                      WHEN s1 >= {K_ANON_K} THEN s1
                      WHEN s2 >= {K_ANON_K} THEN s2
                      WHEN s3 >= {K_ANON_K} THEN s3
                      ELSE s3 END AS gsz
          FROM s
        )
        SELECT CAST(level AS INT) AS level,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(gsz) AS BIGINT) AS min_group_sz
        FROM lv GROUP BY level ORDER BY level
    """,
}
