"""Deterministic sampling / split / pseudonymization operators.

Training-data pipelines need reproducible subset selection at scale:
hash-mod sampling (every executor agrees on membership without
coordination), stratified per-group sampling, train/val/test splits
that are stable across reruns, and key pseudonymization. Every member
is one Spark SQL text over the portable md5 hash, so membership is
identical on any engine and any cluster size — the property that makes
a 100 TB sample auditable. The operators the pipeline shares
(``pii_redacted_sql``, ``quality_weight_bp_sql``, ``salted_hash_sql``)
are Spark SQL fragments: a member splices them into its text, a
pipeline step runs them through ``F.expr``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from generic_data_ingestor_framework_spark.llm.dedup import DOC_HASH_SQL, hash32_sql, tokens_sql
from generic_data_ingestor_framework_spark.llm.textstats import _STOP_IN, n_stop_sql
from generic_data_ingestor_framework_spark.relational import _sql

_HASH_SQL = "CAST(concat('0x', substr(md5(CAST({c} AS VARCHAR)), 1, 8)) AS BIGINT)"


def _str_sql(s: str) -> str:
    """The Python string ``s`` as a Spark SQL string literal. Braces are
    unicode escapes, so the literal reads the same through ``F.expr``
    and through a text's ``{table}`` formatter."""
    body = s.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + body.replace("{", "\\u007B").replace("}", "\\u007D") + "'"


def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample: hash(doc_id) % 10 == 0. Unlike
    ``df.sample()`` this is reproducible across runs, engines, and
    partitionings — the only kind of sample you can re-join later."""
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, lang, source FROM {{documents}} WHERE {DOC_HASH_SQL} % 10 = 0
    """)


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 80/10/10 split assignment + per-split counts."""
    return _sql(spark, sf_dir, f"""
        SELECT split, count(1) AS n
        FROM (SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT {DOC_HASH_SQL} % 100 AS b FROM {{documents}}))
        GROUP BY split ORDER BY split
    """)


def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 docs per language by hash order: a deterministic
    stratified sample (equal allocation per stratum)."""
    return _sql(spark, sf_dir, f"""
        SELECT lang, doc_id, rn FROM (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang ORDER BY {DOC_HASH_SQL}, doc_id) AS rn
          FROM {{documents}})
        WHERE rn <= 5
    """)


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
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, shard,
               row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos_in_shard
        FROM (SELECT doc_id, CAST(h % {N_EXPORT_SHARDS} AS INT) AS shard, h
              FROM (SELECT doc_id, {DOC_HASH_SQL} AS h FROM {{documents}}))
    """)


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
    return _sql(spark, sf_dir, f"""
        WITH per_lang AS (
          SELECT lang, sum(size({tokens_sql()})) AS n_tokens FROM {{documents}} GROUP BY lang
        ),
        rates AS (
          SELECT /*+ BROADCAST(t) */ lang,
                 CAST(floor(least(1.0D, tot / (n_langs * n_tokens)) * {RESAMPLE_PPM})
                      AS BIGINT) AS keep_ppm
          FROM per_lang
          CROSS JOIN (SELECT sum(n_tokens) AS tot, count(1) AS n_langs FROM per_lang) t
        )
        SELECT /*+ BROADCAST(r) */ doc_id, lang, keep_ppm
        FROM {{documents}} JOIN rates r USING (lang)
        WHERE {DOC_HASH_SQL} % {RESAMPLE_PPM} < keep_ppm
    """)


def pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key pseudonymization: stable md5 surrogate for user_id, with the
    event payload intact — referential integrity preserved (same user
    → same pseudonym) without exposing the raw key."""
    return _sql(spark, sf_dir, """
        SELECT event_id, md5(CAST(user_id AS STRING)) AS user_pseudo, event_type
        FROM {events}
    """)


def quality_weight_bp_sql(toks: str) -> str:
    """The shared quality formula over the token array ``toks`` in PURE
    INTEGER basis points, as Spark SQL:
    ``⌊min(n,100)·50·(n+n_stop)/n⌋ ∈ [0,10000]`` (algebraically
    ``quality·10⁴``). One definition feeds the sampling member AND the
    pipeline ``weighted_sample`` step, so they cannot drift."""
    n, n_stop = f"CAST(size({toks}) AS BIGINT)", f"CAST({n_stop_sql(toks)} AS BIGINT)"
    return f"CAST(floor(least({n}, 100) * 50 * ({n} + {n_stop}) / {n}) AS BIGINT)"


def salted_hash_sql(id_sql: str, salt: str) -> str:
    """Portable md5 hash of ``salt·id`` for the Spark SQL expression
    ``id_sql`` — decorrelated from every other hash-based selection over
    the same id column."""
    return hash32_sql(f"concat({_str_sql(salt)}, CAST({id_sql} AS STRING))")


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filter: each document survives with probability
    proportional to its heuristic quality (the FineWeb/DCLM-style
    alternative to a hard threshold — low-quality docs are down-weighted,
    not annihilated, preserving distributional diversity).

    The keep weight is ``quality_weight_bp_sql``, the shared quality
    formula in PURE INTEGER basis points, so membership is exact hash
    arithmetic with no float-rounding boundary to disagree on; the hash
    is salted ('q'·doc_id) to decorrelate from ``sample_hash_mod`` and
    the split/shard assignments.

    Scale shape: map-only (tokenize → two array sizes → hash compare);
    no shuffle, no state, membership independent of partitioning —
    auditable and re-joinable at any corpus size."""
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, source, weight_bp
        FROM (SELECT doc_id, source, {quality_weight_bp_sql("ts")} AS weight_bp,
                     {salted_hash_sql("doc_id", "q")} AS h
              FROM (SELECT doc_id, source, {tokens_sql()} AS ts FROM {{documents}}))
        WHERE h % 10000 < weight_bp
    """)


_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
_SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


def pii_redacted_sql(text: str) -> str:
    """The Spark SQL expression ``text`` with emails, phone-like digit
    runs and SSN-shaped ids replaced by typed placeholders: the one
    redaction run by the member and by the pipeline's ``redact_pii``
    step. Pure ``regexp_replace`` projections — codegen'd, no UDFs;
    RE2-safe patterns shared verbatim with the oracle."""
    for pattern, tag in ((_SSN_RE, "<SSN>"), (_EMAIL_RE, "<EMAIL>"), (_PHONE_RE, "<PHONE>")):
        text = f"regexp_replace({text}, {_str_sql(pattern)}, '{tag}')"
    return text


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (``pii_redacted_sql``) with per-doc hit counts
    so a pipeline can quarantine high-PII documents."""
    hits = " + ".join(f"size(split(red, '{t}')) - 1" for t in ("<EMAIL>", "<PHONE>", "<SSN>"))
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, md5(red) AS redacted_md5, CAST({hits} AS INT) AS n_pii_hits
        FROM (SELECT doc_id, {pii_redacted_sql("text")} AS red FROM {{documents}})
    """)


def _epoch_pseudo(epoch: int) -> str:
    """Spark SQL: the keyed pseudonym of ``user_id`` at key epoch
    ``epoch``: the epoch secret is derived (md5 of a root label +
    epoch) and mixed into the keyed digest — the salted-HMAC shape,
    portable to DuckDB. Different epochs produce unlinkable pseudonym
    spaces."""
    return f"md5(concat(md5('pseud-root:{epoch}'), ':', CAST(user_id AS STRING)))"


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
    on the old pseudonym; everything else is map-side md5. The
    direct-e2 reference values are computed on the SAME event scan as
    the stored epoch-1 pseudonyms (they are per-row md5s of the same
    rows), so no fact-fact re-alignment join on event_id exists."""
    p1, p2 = _epoch_pseudo(1), _epoch_pseudo(2)
    return _sql(spark, sf_dir, f"""
        SELECT event_type,
               count(1) AS n_events,
               count(DISTINCT user_pseudo_e1) AS n_users_e1,
               count(DISTINCT user_pseudo_e2) AS n_users_e2,
               CAST(sum(CASE WHEN user_pseudo_e2 != direct_e2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rekey_mismatch,
               CAST(sum({hash32_sql("user_pseudo_e2")}) AS BIGINT) AS pseudo_checksum
        FROM (SELECT event_type, {p1} AS user_pseudo_e1, {p2} AS direct_e2 FROM {{events}})
        JOIN (SELECT {p1} AS user_pseudo_e1, {p2} AS user_pseudo_e2
              FROM (SELECT DISTINCT user_id FROM {{events}}))
          USING (user_pseudo_e1)
        GROUP BY event_type
    """)


K_ANON_THRESHOLDS = (2, 5, 10, 25)
ACCTBAL_BUCKET = 1000  # quasi-identifier coarsening grain for c_acctbal

# the balance bucket of a customer, at the audits' grain
_BAL_BUCKET = f"CAST(floor(c_acctbal / {ACCTBAL_BUCKET}) AS BIGINT)"


def _values_sql(name: str, values: tuple) -> str:
    """A one-column inline relation ``name`` of the ints ``values``."""
    return f"(VALUES {', '.join(f'({v})' for v in values)}) AS {name}s({name})"


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
    fold over the aggregate-sized group histogram; its totals are
    windows over that histogram, so the corpus is scanned once."""
    return _sql(spark, sf_dir, f"""
        WITH groups AS (
          SELECT gsz, sum(gsz) OVER () AS n_rows, count(1) OVER () AS n_groups
          FROM (SELECT count(1) AS gsz FROM {{customer}}
                GROUP BY c_nationkey, c_mktsegment, {_BAL_BUCKET})
        )
        SELECT k,
               CAST(sum(CASE WHEN gsz < k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
               CAST(sum(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT) AS rows_below_k,
               (CAST(sum(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT) * 10000)
                 DIV max(n_rows) AS risk_share_bp,
               max(n_groups) AS n_groups
        FROM groups CROSS JOIN {_values_sql("k", K_ANON_THRESHOLDS)}
        GROUP BY k ORDER BY k
    """)


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
    aggregate-sized group relation, whose totals are windows."""
    return _sql(spark, sf_dir, f"""
        WITH groups AS (
          SELECT gsz, ndist, sum(gsz) OVER () AS n_rows, count(1) OVER () AS n_groups
          FROM (SELECT count(1) AS gsz, count(DISTINCT c_mktsegment) AS ndist
                FROM {{customer}} GROUP BY c_nationkey, {_BAL_BUCKET})
        )
        SELECT l,
               CAST(sum(CASE WHEN ndist < l THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_l,
               CAST(sum(CASE WHEN ndist < l THEN gsz ELSE 0 END) AS BIGINT) AS rows_below_l,
               (CAST(sum(CASE WHEN ndist < l THEN gsz ELSE 0 END) AS BIGINT) * 10000)
                 DIV max(n_rows) AS risk_share_bp,
               max(n_groups) AS n_groups
        FROM groups CROSS JOIN {_values_sql("l", L_DIVERSITY_THRESHOLDS)}
        GROUP BY l ORDER BY l
    """)


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
    prefixes (at 100 TB you pre-aggregate the L0 histogram once —
    aggregate-sized — and roll the coarser levels up from it, which is
    what the window over the coarsest keys degenerates to) plus one
    final group-by-level fold."""
    k = K_ANON_K
    return _sql(spark, sf_dir, f"""
        SELECT CAST(level AS INT) AS level, count(1) AS n_rows,
               CAST(min(gsz) AS BIGINT) AS min_group_sz
        FROM (
          SELECT CASE WHEN s0 >= {k} THEN 0 WHEN s1 >= {k} THEN 1 WHEN s2 >= {k} THEN 2
                      WHEN s3 >= {k} THEN 3 ELSE -1 END AS level,
                 CASE WHEN s0 >= {k} THEN s0 WHEN s1 >= {k} THEN s1 WHEN s2 >= {k} THEN s2
                      ELSE s3 END AS gsz
          FROM (
            SELECT count(1) OVER (PARTITION BY c_nationkey, c_mktsegment, bal0) AS s0,
                   count(1) OVER (PARTITION BY c_nationkey, c_mktsegment, bal1) AS s1,
                   count(1) OVER (PARTITION BY c_nationkey, c_mktsegment) AS s2,
                   count(1) OVER (PARTITION BY c_nationkey) AS s3
            FROM (SELECT c_nationkey, c_mktsegment, {_BAL_BUCKET} AS bal0,
                         CAST(floor(c_acctbal / {COARSE_BUCKET}) AS BIGINT) AS bal1
                  FROM {{customer}})))
        GROUP BY level ORDER BY level
    """)


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
    map-side combinable); the histogram is gathered into one partition
    (at most nations × segments × balance buckets rows at any corpus
    size), where the group, segment and corpus totals are windows and
    every fold runs with no further shuffle. A segment absent from a
    group contributes ``n_s·n_g``: together ``n_g·(N − Σ n_s)`` over
    the segments the group holds (every key column is NOT NULL), never
    a group × alphabet cross or a second corpus scan."""
    return _sql(spark, sf_dir, f"""
        WITH gs AS (
          SELECT /*+ COALESCE(1) */ c_nationkey, bal_bucket, c_mktsegment, count(1) AS n_gs
          FROM (SELECT c_nationkey, {_BAL_BUCKET} AS bal_bucket, c_mktsegment FROM {{customer}})
          GROUP BY c_nationkey, bal_bucket, c_mktsegment
        ),
        tvd AS (
          SELECT n_g, tvd_bp, sum(n_g) OVER () AS n_rows, count(1) OVER () AS n_groups,
                 max(tvd_bp) OVER () AS max_tvd_bp
          FROM (
            SELECT n_g,
                   ((sum(abs(n_gs * n_tot - n_s * n_g)) + n_g * (n_tot - sum(n_s))) * 10000)
                     DIV (2 * n_g * n_tot) AS tvd_bp
            FROM (SELECT c_nationkey, bal_bucket, n_gs,
                         sum(n_gs) OVER (PARTITION BY c_nationkey, bal_bucket) AS n_g,
                         sum(n_gs) OVER (PARTITION BY c_mktsegment) AS n_s,
                         sum(n_gs) OVER () AS n_tot
                  FROM gs)
            GROUP BY c_nationkey, bal_bucket, n_g, n_tot)
        )
        SELECT t_bp,
               CAST(sum(CASE WHEN tvd_bp > t_bp THEN 1 ELSE 0 END) AS BIGINT) AS groups_above_t,
               CAST(sum(CASE WHEN tvd_bp > t_bp THEN n_g ELSE 0 END) AS BIGINT) AS rows_above_t,
               (CAST(sum(CASE WHEN tvd_bp > t_bp THEN n_g ELSE 0 END) AS BIGINT) * 10000)
                 DIV max(n_rows) AS risk_share_bp,
               max(n_groups) AS n_groups, CAST(max(max_tvd_bp) AS BIGINT) AS max_tvd_bp
        FROM tvd CROSS JOIN {_values_sql("t_bp", T_CLOSENESS_THRESHOLDS_BP)}
        GROUP BY t_bp ORDER BY t_bp
    """)


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

    Scale shape: the alphabet (with its size ``k`` and the corpus size
    ``n`` as columns) is one aggregate-sized broadcast relation; the
    keep/draw decision is per-row hash arithmetic in one map stage; the
    only corpus-sized shuffle is the per-lang count of true and reported
    labels. The alphabet's row_number window is single-partition by
    construction — it ranks the handful of distinct languages, never
    corpus rows."""
    keep_h = hash32_sql("concat('rr-keep:', CAST(doc_id AS STRING))")
    draw_h = hash32_sql("concat('rr-cat:', CAST(doc_id AS STRING))")
    return _sql(spark, sf_dir, f"""
        WITH alpha AS (
          SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS idx,
                 count(1) OVER () AS k, sum(n_lang) OVER () AS n
          FROM (SELECT lang, count(1) AS n_lang FROM {{documents}} GROUP BY lang)
        ),
        counts AS (
          SELECT lang, sum(t) AS true_cnt, sum(1 - t) AS reported_cnt
          FROM (SELECT /*+ BROADCAST(a) */
                       inline(array(named_struct('lang', d.lang, 't', 1),
                                    named_struct('lang', CASE WHEN keep THEN d.lang
                                                              ELSE a.lang END, 't', 0)))
                         AS (lang, t)
                FROM (SELECT /*+ BROADCAST(kk) */ lang, {keep_h} % {RR_KEEP_DEN} > 0 AS keep,
                             {draw_h} % k AS idx
                      FROM {{documents}} CROSS JOIN (SELECT max(k) AS k FROM alpha) kk) d
                JOIN alpha a ON d.idx = a.idx)
          GROUP BY lang
        )
        SELECT /*+ BROADCAST(c) */ a.lang,
               CAST(coalesce(true_cnt, 0) AS BIGINT) AS true_cnt,
               CAST(coalesce(reported_cnt, 0) AS BIGINT) AS reported_cnt,
               round((4.0D * k * coalesce(reported_cnt, 0) - n) / (3.0D * k), 3) AS est_count,
               CAST(k AS INT) AS k_categories
        FROM alpha a LEFT JOIN counts c ON a.lang = c.lang
        ORDER BY a.lang
    """)


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
