"""Text analysis operators over the ``documents`` table.

Language-ID (character-class + stopword heuristic), quality scoring,
token counting, document fingerprinting, corpus n-gram frequency,
retrieval scorers and mixture weights. A member is one Spark SQL text
(``relational._sql``) over ``documents`` and, where it shares work with
other members, over memoized relations passed to ``_sql`` as named
frames; memoized scalars are bound as named parameters. The
tokenizer (``dedup.tokens_sql``), the stopword count (``n_stop_sql``),
the quality formula (``quality_sql``) and the bigram list
(``bigrams_sql``) are each one Spark SQL fragment that the texts splice
in and the Column helpers wrap with ``F.expr``. Built-in expressions
only (JVM-side, codegen'd; no UDFs). ``doc_topgram_mass`` keeps the
hand plan of ``top_bigrams``, the operator it shares with the
pipeline's ``repetition_filter`` step.

Scale notes (100 TB): every query is a narrow projection or a single
hash-aggregate; the corpus bigram query is explode → partial-count →
shuffle-on-gram → top-k, the canonical skew-tolerant counting plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.llm.dedup import (
    hash32_sql,
    tokens_col,
    tokens_sql,
)
from generic_data_ingestor_framework_spark.relational import _sql, load_table

STOPWORDS = ["the", "a", "of", "and", "to", "in"]
_STOP_IN = "','".join(STOPWORDS)


def n_stop_sql(toks: str) -> str:
    """Spark SQL: the number of stopwords in the token array ``toks``."""
    return f"size(filter({toks}, t -> t IN ('{_STOP_IN}')))"


def quality_sql(toks: str) -> str:
    """The shared heuristic-quality formula over the token array
    ``toks``, as Spark SQL — length saturation × stopword-density
    prior: min(1, n_tokens/100) * (0.5 + 0.5 * stopword_ratio). One
    definition so ``quality_score``, ``source_reputation`` and the
    curation bands can never drift."""
    n, n_stop = f"size({toks})", n_stop_sql(toks)
    return f"least(1.0D, {n} / 100.0D) * ({n_stop} / {n} * 0.5D + 0.5D)"


def bigrams_sql(toks: str) -> str:
    """Spark SQL: the bigrams (``'w1 w2'``) of the token array ``toks``,
    one per position; empty below two tokens."""
    return (
        f"CASE WHEN size({toks}) >= 2 THEN transform(sequence(0, size({toks}) - 2),"
        f" i -> array_join(slice({toks}, i + 1, 2), ' '))"
        " ELSE CAST(array() AS array<string>) END"
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish word-piece count
    (alnum runs) + char length."""
    toks = tokens_sql()
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, size({toks}) AS n_tokens,
               size(split(lower(text), '[^a-z0-9]+')) AS n_pieces,
               length(text) AS n_chars_calc,
               size(array_distinct({toks})) AS n_unique_tokens
        FROM {{documents}}
    """)


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality: length saturation × stopword-density prior
    (``quality_sql``), computed arithmetically so any engine
    reproduces it."""
    toks = tokens_sql()
    n, n_stop = f"size({toks})", n_stop_sql(toks)
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, {n} AS n_tokens, {n_stop} AS n_stopwords,
               round({n_stop} / {n}, 6) AS stopword_ratio,
               round({quality_sql(toks)}, 6) AS quality
        FROM {{documents}}
    """)


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-range + stopword language-ID heuristic.

    Char-class probes (CJK / Cyrillic / Arabic unicode ranges) decide
    script; Latin text falls back to an English-stopword-density test."""
    toks = tokens_sql()
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, lang, lang_guess, lang_guess = lang AS agrees_with_label
        FROM (
          SELECT doc_id, lang,
                 CASE WHEN text RLIKE '[一-鿿]' THEN 'zh'
                      WHEN text RLIKE '[Ѐ-ӿ]' THEN 'ru'
                      WHEN text RLIKE '[؀-ۿ]' THEN 'ar'
                      WHEN {n_stop_sql(toks)} / size({toks}) >= 0.05D THEN 'en'
                      ELSE 'unknown' END AS lang_guess
          FROM {{documents}})
    """)


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set (robust to shuffling words, cf. rolling-hash dedup)."""
    toks = f"array_sort(array_distinct({tokens_sql()}))"
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, md5(array_join({toks}, ' ')) AS fingerprint,
               size({toks}) AS n_unique_tokens
        FROM {{documents}}
    """)


def corpus_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams (explode → count → top-k).
    Bigrams are NOT de-duplicated per doc (the oracle counts every
    position), so this is the raw gram list, not the distinct shingle
    helper."""
    return _sql(spark, sf_dir, f"""
        SELECT bigram, count(1) AS n
        FROM (SELECT explode({bigrams_sql("toks")}) AS bigram
              FROM (SELECT {tokens_sql()} AS toks FROM {{documents}}))
        GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """)


RK_BASE = 257
RK_MOD = 1_000_000_007


def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-SENSITIVE Rabin-Karp polynomial fingerprint per document
    (acc = acc·B + code mod M over the character stream) — the rolling
    hash complement to ``doc_fingerprint``'s order-insensitive token
    hash: reordered text changes this one. Pure integer arithmetic in
    a higher-order fold, so both engines produce identical values."""
    return _sql(spark, sf_dir, f"""
        SELECT doc_id,
               aggregate(split(text, ''), CAST(0 AS BIGINT),
                         (acc, ch) -> (acc * {RK_BASE} + ascii(ch)) % {RK_MOD})
                 AS rolling_hash,
               length(text) AS n_chars_hashed
        FROM {{documents}}
    """)


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the cheap
    gibberish/boilerplate detector (natural text sits in a band;
    base64 blobs and repeated-char spam fall outside it). Two hash
    aggregates, rounded at the edge (sum order is the only float
    nondeterminism; 4 dp absorbs it)."""
    return _sql(spark, sf_dir, """
        WITH counts AS (
          SELECT doc_id, ch, count(1) AS n
          FROM (SELECT doc_id, explode(split(lower(text), '')) AS ch FROM {documents})
          WHERE ch != '' GROUP BY doc_id, ch
        ),
        totals AS (SELECT doc_id, sum(n) AS tot FROM counts GROUP BY doc_id)
        SELECT doc_id, round(-sum(n / tot * log2(n / tot)), 4) AS char_entropy,
               count(1) AS n_distinct_chars
        FROM counts JOIN totals USING (doc_id)
        GROUP BY doc_id ORDER BY doc_id
    """)


# (doc, term, tf) with each term's document frequency, and the corpus
# size: the CTEs ``tfidf_top_terms`` and the ``tfidf_kept`` index share
_TF_DF_SQL = f"""
        tf AS (
          SELECT doc_id, term, count(1) AS tf
          FROM (SELECT doc_id, explode({tokens_sql()}) AS term FROM {{documents}})
          WHERE term != '' GROUP BY doc_id, term
        ),
        tf_df AS (SELECT *, count(1) OVER (PARTITION BY term) AS df FROM tf),
        nd AS (SELECT count(1) AS n_docs FROM {{documents}})"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the relevance/keyword
    extraction pass of a curation pipeline.

    tf = raw in-doc count, idf = ln(N/df); every input (counts, N) is
    integer-exact so the only float op is one ln per (doc, term),
    rounded to 6 dp before ranking (term tie-break) — deterministic
    across engines. Scalars (N) stay in-plan as a broadcast 1-row agg,
    no driver round trip.

    Document frequency is a COUNT window over the (doc, term) relation,
    not a re-aggregated self-join: the corpus is exploded and
    aggregated exactly once (the join formulation defeated exchange
    reuse via column pruning and scanned the corpus twice)."""
    return _sql(spark, sf_dir, f"""
        WITH {_TF_DF_SQL},
        scored AS (
          SELECT /*+ BROADCAST(nd) */ doc_id, term, tf,
                 round(tf * ln(n_docs / df), 6) AS score
          FROM tf_df CROSS JOIN nd
        )
        SELECT doc_id, term, tf, score, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, term) AS rank
              FROM scored)
        WHERE rank <= 3
    """)


BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_QUERIES = 5   # doc_id < 5 are the query documents
BM25_TOP_K = 5
BM25_SCALE = 10**6   # per-term contribs round to integer micro-units
                     # before summing (order-exact cross-engine)


def _corpus_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus token length ``(doc_id, dl)`` — shared by
    every retrieval scorer (BM25, query-likelihood), persisted once
    per session so each ranker reuses one aggregate instead of
    re-shuffling the token relation."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist
    from generic_data_ingestor_framework_spark.llm.classify import _doc_tokens

    return shared_persist(
        spark,
        ("retrieval_dl", sf_dir),
        lambda: _doc_tokens(spark, sf_dir)
        .filter(F.col("doc_id") >= BM25_N_QUERIES)
        .groupBy("doc_id")
        .agg(F.sum("n").alias("dl")),
    )


def _bm25_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Corpus stats as memoized driver scalars ``{n_docs, tot_dl}``
    (two ints — the NB/LM scalar pattern); avgdl stays as the exact
    integer pair so dl/avgdl = dl·n_docs/tot_dl is one deterministic
    division (a float avg would carry a summation-order ulp)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    dl = _corpus_dl(spark, sf_dir)
    sc = shared_value(
        spark,
        ("bm25_stats", sf_dir),
        lambda: dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_dl")
        ).collect()[0].asDict(),
    )
    return {"n_docs": int(sc["n_docs"] or 0), "tot_dl": int(sc["tot_dl"] or 0) or 1}


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: the first ``BM25_N_QUERIES`` documents act as
    queries (their distinct tokens are the query terms) and every
    other document is scored with Lucene-form BM25 —
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    tf-part = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) —
    top-``BM25_TOP_K`` hits per query. The retrieval complement of
    ``tfidf_top_terms``: same inverted-index shape a RAG corpus scan
    or dedup-by-retrieval pass uses.

    Scale shape: the (doc, term, tf) relation is built once (shared
    with NB/LM via ``_doc_tokens``); the corpus side is semi-joined to
    the (broadcast, tiny) distinct query-term set BEFORE the df window,
    so the partition-by-term shuffle carries only query-term rows —
    df per term is unchanged (the filter is by term, never by doc) but
    the corpus-wide shuffle the round-5 plan paid for non-query terms
    is gone. Determinism: integer counts everywhere; each per-term
    contribution is scaled by ``BM25_SCALE`` and rounded to an integer
    BEFORE the (query, doc) sum, so partial-aggregation order can never
    drift a float sum across the 4-dp reporting boundary (the module's
    mixture-weight members already use this contract); ties break on
    doc_id."""
    from generic_data_ingestor_framework_spark.llm.classify import _doc_tokens

    k1, b = f"{BM25_K1}D", f"{BM25_B}D"
    return _sql(spark, sf_dir, f"""
        WITH corpus AS (SELECT doc_id, tok, n FROM {{toks}} WHERE doc_id >= {BM25_N_QUERIES}),
        q AS (SELECT doc_id AS query_id, tok FROM {{toks}} WHERE doc_id < {BM25_N_QUERIES}),
        dfreq AS (
          SELECT /*+ BROADCAST(qt) */ doc_id, tok, n,
                 count(1) OVER (PARTITION BY tok) AS df
          FROM corpus JOIN (SELECT DISTINCT tok FROM q) qt USING (tok)
        ),
        scored AS (
          SELECT query_id, doc_id, round(sum(contrib_i) / {float(BM25_SCALE)}D, 4) AS bm25
          FROM (
            SELECT /*+ BROADCAST(q) */ query_id, doc_id,
                   CAST(round(ln(1.0D + (:n_docs - df + 0.5D) / (df + 0.5D))
                              * (n * {BM25_K1 + 1.0}D)
                              / (n + {k1} * (1.0D - {b} + {b} * dl * :n_docs / :tot_dl))
                              * {BM25_SCALE}) AS BIGINT) AS contrib_i
            FROM dfreq JOIN q USING (tok) JOIN {{dl}} USING (doc_id))
          GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, bm25, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY bm25 DESC, doc_id) AS rank
              FROM scored)
        WHERE rank <= {BM25_TOP_K}
    """, _bm25_stats(spark, sf_dir), toks=_doc_tokens(spark, sf_dir),
        dl=_corpus_dl(spark, sf_dir))


QLM_MU = 300.0      # Dirichlet smoothing pseudo-length (Zhai & Lafferty 2001)
QLM_SCALE = 10**6   # per-term contribs round to integer micro-units
RRF_RANK_K = 60     # reciprocal-rank-fusion constant (Cormack et al. 2009)
RRF_TOP_K = 5


def retrieval_qlm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001) — the language-modeling complement to ``bm25_topk``, over the
    SAME query/corpus split so the two rankers can be rank-fused.

    score(q,d) = Σ_{t∈q} qtf·ln((tf_d + μ·p(t|C)) / (dl_d + μ)),
    decomposed into the sparse form every inverted index serves:
    a per-query constant Σ qtf·ln(μ·p(t|C)), a per-doc length part
    −Lq·ln(dl+μ), and corrections qtf·ln(1 + tf·T/(μ·cf)) ONLY for
    (query-term, doc) postings — so candidates are docs sharing ≥1
    term with the query (standard OR semantics) and no query×corpus
    cross join ever materializes. OOV query terms (cf = 0) are dropped,
    as every smoothed-LM implementation does.

    Scale shape: the collection frequencies and per-doc lengths are
    session-persisted relations shared with BM25/NB/LM; the posting
    join broadcasts the (tiny) query-term side; everything downstream
    of the postings is one (query, doc) hash-aggregate + a top-k
    window. Determinism: every summed contribution is integer-scaled
    by ``QLM_SCALE`` before aggregation (the module's cross-engine
    summation-order contract); final ordering is on the integer score
    with doc_id tiebreak."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist
    from generic_data_ingestor_framework_spark.llm.classify import _doc_tokens

    toks = _doc_tokens(spark, sf_dir)
    cf = shared_persist(
        spark,
        ("qlm_cf", sf_dir),
        lambda: toks.filter(F.col("doc_id") >= BM25_N_QUERIES)
        .groupBy("tok")
        .agg(F.sum("n").alias("cf")),
    )
    mu = f"{QLM_MU}D"
    return _sql(spark, sf_dir, f"""
        WITH corpus AS (SELECT doc_id, tok, n FROM {{toks}} WHERE doc_id >= {BM25_N_QUERIES}),
        qcf AS (
          -- query terms annotated with collection frequency; the inner
          -- join drops OOV terms (ln(0) guards), broadcast-sized
          SELECT /*+ BROADCAST(q) */ tok, cf, query_id, qtf
          FROM {{cf}} JOIN (SELECT doc_id AS query_id, tok, n AS qtf FROM {{toks}}
                            WHERE doc_id < {BM25_N_QUERIES}) q USING (tok)
        ),
        qstats AS (
          SELECT query_id,
                 sum(CAST(round(qtf * ln({mu} * cf / :t) * {QLM_SCALE}) AS BIGINT)) AS qconst_i,
                 sum(qtf) AS lq
          FROM qcf GROUP BY query_id
        ),
        corr AS (
          SELECT /*+ BROADCAST(qcf) */ query_id, doc_id,
                 sum(CAST(round(qtf * ln(1.0D + n * :t / ({mu} * cf)) * {QLM_SCALE}) AS BIGINT))
                   AS corr_i
          FROM corpus JOIN qcf USING (tok) GROUP BY query_id, doc_id
        ),
        scored AS (
          SELECT /*+ BROADCAST(qstats) */ query_id, doc_id,
                 qconst_i - lq * CAST(round(ln(dl + {mu}) * {QLM_SCALE}) AS BIGINT) + corr_i
                   AS score_i
          FROM corr JOIN {{dl}} USING (doc_id) JOIN qstats USING (query_id)
        )
        SELECT query_id, doc_id, round(score_i / {float(QLM_SCALE)}D, 4) AS qlm, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score_i DESC, doc_id) AS rank
              FROM scored)
        WHERE rank <= {BM25_TOP_K}
    """, {"t": float(_bm25_stats(spark, sf_dir)["tot_dl"])}, toks=toks, cf=cf,
        dl=_corpus_dl(spark, sf_dir))


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
    BM25 and query-likelihood top-k lists for the same queries are
    fused on rank alone — rrf(d) = Σ_rankers 1/(k + rank_r(d)) — the
    score-free combiner production RAG stacks use because it needs no
    cross-ranker score calibration.

    Scale shape: each ranker's top-k is already query-bounded (k rows
    per query per ranker), so the fusion input is tiny regardless of
    corpus size; one union + one (query, doc) hash-aggregate + a top-k
    window. The rank lists themselves are session-persisted — they are
    the index this operator consumes (cold run pays both rankers once,
    like the IVF build; warm fusion touches only k·queries rows).
    Determinism: contributions are exact integer micro-units via
    integer division (``RRF_SCALE DIV (k + rank)``), so the fused
    ordering is integer-exact in both engines; ties break on doc_id."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    bm = shared_persist(
        spark,
        ("bm25_ranklist", sf_dir),
        lambda: bm25_topk(spark, sf_dir).select("query_id", "doc_id", "rank"),
    )
    ql = shared_persist(
        spark,
        ("qlm_ranklist", sf_dir),
        lambda: retrieval_qlm_topk(spark, sf_dir).select("query_id", "doc_id", "rank"),
    )
    # one frame for both lists: their union keeps the lists' query_id
    # partitioning, so the fusion aggregate adds no exchange
    return _sql(spark, sf_dir, f"""
        WITH fused AS (
          SELECT query_id, doc_id,
                 sum(CAST({QLM_SCALE} DIV ({RRF_RANK_K} + rank) AS BIGINT)) AS rrf_i,
                 count(1) AS n_rankers
          FROM {{ranked}} GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, round(rrf_i / {float(QLM_SCALE)}D, 6) AS rrf,
               n_rankers, rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY rrf_i DESC, doc_id) AS rank
              FROM fused)
        WHERE rank <= {RRF_TOP_K}
    """, ranked=bm.unionByName(ql))


CONTEXT_BUCKETS = [32, 64, 128]  # token-count boundaries (corpus is short docs)


def context_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length bucketing: documents binned by token count into
    training context buckets, with per-bucket doc and token totals —
    the report that drives packing/truncation decisions upstream of a
    trainer."""
    whens = " ".join(f"WHEN n <= {b} THEN '<= {b}'" for b in CONTEXT_BUCKETS)
    return _sql(spark, sf_dir, f"""
        SELECT bucket, count(1) AS n_docs, sum(n) AS total_tokens
        FROM (SELECT CASE {whens} ELSE '> {CONTEXT_BUCKETS[-1]}' END AS bucket, n
              FROM (SELECT size({tokens_sql()}) AS n FROM {{documents}}))
        GROUP BY bucket ORDER BY bucket
    """)


def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing weights: per-language token share plus the
    up/down-sampling rate that would equalize languages — the knob a
    data-mixture recipe turns. All ratios are exact-count arithmetic
    rounded at the edge."""
    return _sql(spark, sf_dir, f"""
        WITH per_lang AS (
          SELECT lang, count(1) AS n_docs, sum(size({tokens_sql()})) AS n_tokens
          FROM {{documents}} GROUP BY lang
        ),
        totals AS (SELECT sum(n_tokens) AS tot_tokens, count(1) AS n_langs FROM per_lang)
        SELECT /*+ BROADCAST(totals) */ lang, n_docs, n_tokens,
               round(n_tokens / tot_tokens, 6) AS token_share,
               -- rate that would give each lang an equal token share
               round(tot_tokens / (n_langs * n_tokens), 6) AS equalize_rate
        FROM per_lang CROSS JOIN totals ORDER BY lang
    """)


TEMP_ALPHAS = (0.7, 0.3)  # mT5/XLM-R-style mixture temperatures


def source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per SOURCE: token share s_i
    and the sampling weights s_i^α / Σ s_j^α at α = 0.7 and 0.3 — the
    standard knob for up-weighting low-resource slices of a multi-
    source pretraining mixture (α = 1 is proportional, α → 0 uniform).

    Determinism contract: ``pow`` results are scaled to integers at
    6 dp before the normalizing sum (integer sums are order-exact, so
    executor/partition ordering cannot wiggle the weights) and the
    final ratios are floor-truncated at 4 dp (floor cannot tie).

    Scale shape: one hash-aggregate to source granularity; everything
    after is arithmetic over a sources-sized relation."""
    ks = range(len(TEMP_ALPHAS))
    ws = ", ".join(
        f"CAST(round(pow(n_tokens / tot_tokens, {a}D) * 1000000.0D, 0) AS BIGINT) AS _w{i}"
        for i, a in enumerate(TEMP_ALPHAS)
    )
    out = ", ".join(
        f"floor(_w{i} * 10000.0D / _t{i}) / 10000.0D AS w_alpha{str(a).replace('.', '')}"
        for i, a in enumerate(TEMP_ALPHAS)
    )
    return _sql(spark, sf_dir, f"""
        WITH per_src AS (
          SELECT source, count(1) AS n_docs, sum(size({tokens_sql()})) AS n_tokens
          FROM {{documents}} GROUP BY source
        ),
        scaled AS (
          SELECT /*+ BROADCAST(tot) */ source, n_docs, n_tokens,
                 round(n_tokens / tot_tokens, 6) AS token_share, {ws}
          FROM per_src CROSS JOIN (SELECT sum(n_tokens) AS tot_tokens FROM per_src) tot
        ),
        sums AS (SELECT {", ".join(f"sum(_w{i}) AS _t{i}" for i in ks)} FROM scaled)
        SELECT /*+ BROADCAST(sums) */ source, n_docs, n_tokens, token_share, {out}
        FROM scaled CROSS JOIN sums ORDER BY source
    """)


def source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: document count, exact-duplicate
    membership rate (share of the source's docs whose text md5 appears
    ≥2 times corpus-wide), and mean heuristic quality — the rollup a
    pipeline uses to decide per-source sampling and exclusion.

    Determinism contract: per-doc quality is the ``quality_score``
    formula scaled to integer millionths before averaging (integer
    sums are order-exact); rates are floor-truncated at 4 dp.

    Scale shape (r14 opt: ONE corpus pass; r15: skew-safe grain): the
    corpus is folded to (md5, source) grain FIRST — a hash aggregate
    with map-side partials, so a hot md5 (e.g. millions of empty texts
    coalescing to md5('')) is combined per mapper instead of funneling
    doc-grain rows into one window task (the r14 ADVICE straggler
    hazard). Corpus-wide duplicate counts then come from a window over
    that much smaller aggregated relation, and everything folds in one
    source-grain aggregate. No corpus-sized broadcast anywhere."""
    qint = f"CAST(round({quality_sql(tokens_sql())} * 1000000.0D, 0) AS BIGINT)"
    return _sql(spark, sf_dir, f"""
        WITH g AS (
          SELECT h, source, count(1) AS n, sum(qint) AS qs
          FROM (SELECT source, md5(coalesce(text, '')) AS h, {qint} AS qint
                FROM {{documents}})
          GROUP BY h, source
        ),
        per_src AS (
          SELECT source, sum(n) AS n_docs, sum(qs) AS qsum,
                 sum(CASE WHEN occ >= 2 THEN n ELSE 0 END) AS n_dup_docs
          FROM (SELECT *, sum(n) OVER (PARTITION BY h) AS occ FROM g)
          GROUP BY source
        )
        SELECT source, n_docs, n_dup_docs,
               floor(n_dup_docs * 10000.0D / n_docs) / 10000.0D AS dup_rate,
               floor(qsum / n_docs / 100.0D) / 10000.0D AS mean_quality
        FROM per_src ORDER BY source
    """)


# Count-min sketch shape: d hash rows × w buckets, fixed memory
# regardless of corpus size. Deterministic md5-based row hashes so the
# sketch (and therefore the bounded-error booleans) is identical on any
# engine, cluster size, or partitioning.
CMS_D = 4
CMS_W = 1024
CMS_TOPK = 20


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter token frequencies via an in-engine count-min sketch.

    The sketch is a (row, bucket) → count hash-aggregate: constant
    O(d·w) state however large the corpus, the structure you'd publish
    from a 100 TB token-frequency pass instead of a full vocabulary
    count. Like ``approx_sketches``, raw sketch cells are
    implementation-specific, so the query emits *bounded-error
    booleans* per top-k token against exact counts computed in the same
    job: ``est_ge_exact`` (CMS never underestimates — structural
    invariant) and ``est_within_eps`` (overestimate ≤ 8·N/w, far beyond
    the expected N/w collision mass for a min over d=4 rows). The
    DuckDB oracle is the exact top-k with constant-true flags; a sketch
    drifting out of bound hash-mismatches.

    ONE pass over the token stream: partial-agg to (tok, count). The
    sketch is then built from the pre-aggregated relation — cell = Σ
    counts of tokens hashing there, identical to counting raw tokens
    but the ×CMS_D row expansion runs over the VOCABULARY (thousands)
    instead of the corpus token stream (billions at scale): map-side
    combine first, sketch fold second. The vocabulary-bounded counts
    are checkpointed: the sketch fold, the top-k and the total each
    re-ran the corpus token pass otherwise (r14 opt). Every CMS row
    partitions the full token mass, so row 0's cells sum to N exactly —
    no extra corpus scan for the total.
    """
    exact = _sql(spark, sf_dir, f"""
        SELECT tok, count(1) AS exact_n
        FROM (SELECT explode({tokens_sql()}) AS tok FROM {{documents}})
        WHERE tok != '' GROUP BY tok
    """).localCheckpoint(eager=True)
    bucket = hash32_sql("concat_ws(':', r, tok)") + f" % {CMS_W} AS bucket"
    rows = f"explode(sequence(0, {CMS_D - 1})) AS r"
    return _sql(spark, sf_dir, f"""
        WITH cms AS (
          SELECT r, bucket, sum(exact_n) AS cell
          FROM (SELECT r, {bucket}, exact_n
                FROM (SELECT tok, exact_n, {rows} FROM {{exact}}))
          GROUP BY r, bucket
        ),
        topk AS (SELECT tok, exact_n FROM {{exact}} ORDER BY exact_n DESC, tok LIMIT {CMS_TOPK}),
        est AS (
          SELECT /*+ BROADCAST(cms) */ tok, exact_n, min(cell) AS est
          FROM (SELECT tok, exact_n, r, {bucket} FROM (SELECT tok, exact_n, {rows} FROM topk))
          JOIN cms USING (r, bucket)
          GROUP BY tok, exact_n
        ),
        total AS (SELECT sum(cell) AS n_total FROM cms WHERE r = 0)
        SELECT /*+ BROADCAST(total) */ tok, exact_n, est >= exact_n AS est_ge_exact,
               est - exact_n <= 8 * n_total / {CMS_W} AS est_within_eps
        FROM est CROSS JOIN total
    """, exact=exact)


def _unigram_lm(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, float]:
    """The session-shared Laplace unigram LM ``(tok, c)`` over the
    per-(doc, token) relation, and its smoothing denominator
    ``n_total + vocab`` as a memoized scalar (1.0 on an empty
    corpus, so it yields an empty result, not a TypeError)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist, shared_value
    from generic_data_ingestor_framework_spark.llm.classify import _doc_tokens

    lm = shared_persist(
        spark,
        ("lm_unigram", sf_dir),
        lambda: _doc_tokens(spark, sf_dir).groupBy("tok").agg(F.sum("n").alias("c")),
    )
    sc = shared_value(
        spark,
        ("lm_scalars", sf_dir),
        lambda: lm.agg(
            F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("vocab")
        ).collect()[0].asDict(),
    )
    return lm, float((sc["n_total"] or 0) + sc["vocab"]) or 1.0


def lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality signal: per-document token-level
    cross-entropy under a Laplace-smoothed corpus unigram LM — the
    cheap perplexity proxy production pipelines gate on before paying
    for a real LM (a doc of rare/garbled tokens scores high, fluent
    common text scores low).

    Scale shape: the LM is one hash-aggregate over the shared
    per-(doc, token) relation (persisted once per session, same
    relation NB trains on), broadcast back as (token, log-prob);
    scoring is one broadcast join + one aggregate on doc_id. Scores
    round to 4 dp (the cross-engine summation-order contract)."""
    from generic_data_ingestor_framework_spark.llm.classify import _doc_tokens

    lm, denom = _unigram_lm(spark, sf_dir)
    return _sql(spark, sf_dir, """
        SELECT /*+ BROADCAST(lp) */ doc_id, sum(n) AS n_tokens,
               round(-sum(n * lp) / sum(n), 4) AS xent
        FROM {toks} JOIN (SELECT tok, ln((c + 1.0D) / :denom) AS lp FROM {lm}) lp
          USING (tok)
        GROUP BY doc_id
    """, {"denom": denom}, toks=_doc_tokens(spark, sf_dir), lm=lm)


TFIDF_SCALE = 1000       # integer weight grain (exact cross-engine sums)
TFIDF_DF_CAP = 100       # df-cap floor (SF-aware: max(100, n_docs/5), see below)
TFIDF_DF_HARD = 20000    # absolute df ceiling on the weight space
TFIDF_PAIR_B = 512       # per-term posting sample for pair GENERATION:
                         # a term's postings join the candidate self-join
                         # only through a ~B-row deterministic hash sample,
                         # so per-term candidate mass is O(B²) at ANY df
TFIDF_SIM_TAU = 0.5      # cosine threshold for a reported pair
TFIDF_TOP_K = 500        # report the K most similar pairs (bounded output)


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join: the ``TFIDF_TOP_K`` most
    similar document pairs (tf·idf cosine ≥ ``TFIDF_SIM_TAU``, ranked
    by rounded cosine with full (doc_a, doc_b) tie-break) over the
    DF-capped term space — the lexical-weighted complement to the set
    (Jaccard), dense-embedding (cosine), and signature (MinHash) dedup
    passes: it matches docs that reuse the same DISTINCTIVE vocabulary
    even when n-gram overlap is low.

    The similarity space is explicitly the capped one, and the cap is
    SF-AWARE: a term contributes weight when ``2 ≤ df ≤
    min(max(TFIDF_DF_CAP, n_docs/5), TFIDF_DF_HARD)``. "Distinctive"
    is a corpus-SHARE property — a fixed absolute cap goes vacuous as
    the corpus grows (and on this corpus every term's df grows
    linearly with n_docs: the sf1 vocabulary has NO term under any
    sublinear cap), so df ≤ 20% of docs is the scale-stable weight
    space. ``df = 1`` terms cannot produce a pair and are pruned.

    Candidate GENERATION is where the quadratic lived (r10: per-term
    pair mass ~ (n/5)², a measured 10.66× decade-up ratio), and it is
    now endpoint-SAMPLED: a posting (term, doc) enters the pair
    self-join only when ``df ≤ TFIDF_PAIR_B`` or its portable hash
    falls in a ``1/ceil(df/B)`` slice — ~B sampled postings per term,
    so per-term candidate mass is O(B²) and total candidate mass is
    O(vocab·B²) at ANY corpus size. The recall contract is the
    LSH-family one (``dedup_minhash_lsh_pairs``): candidate membership
    is a deterministic sample, but every REPORTED pair's cosine,
    n_shared_terms, and rank are EXACT over the full kept-term space —
    candidates re-join the unsampled inverted index for the dot
    product. At the gate SFs no kept term exceeds B=512 postings (max
    df 402 at sf0.01), so the sample is a no-op and results are
    bit-identical to r10. The top-K output contract bounds the result
    and runs as a per-partition partial top-K (TakeOrderedAndProject),
    not a global sort.

    Determinism: weights are integer-scaled (``round(tf·ln(N/df)·1000)``
    as BIGINT) so dot products and squared norms are exact integer
    sums in any order — the cosine is one division over
    order-independent operands, identical cross-engine (the BM25
    pre-sum trick).

    Scale shape: one (doc, term) hash-aggregate, one df window on the
    term shuffle, inverted-index self-join bounded by the DF cap, one
    pair aggregate. The weighted inverted index ``kept`` is persisted
    per session: norms and both join sides read it."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    kept = shared_persist(spark, ("tfidf_kept", sf_dir), lambda: _sql(spark, sf_dir, f"""
        WITH {_TF_DF_SQL}
        SELECT /*+ BROADCAST(nd) */ doc_id, term, df,
               CAST(round(tf * ln(n_docs / df) * {TFIDF_SCALE}) AS BIGINT) AS wi
        FROM tf_df CROSS JOIN nd
        WHERE df >= 2 AND df <= least(greatest(CAST({TFIDF_DF_CAP} AS BIGINT), n_docs DIV 5),
                                      CAST({TFIDF_DF_HARD} AS BIGINT))
    """))
    h = hash32_sql("concat_ws('_', term, doc_id)")
    return _sql(spark, sf_dir, f"""
        WITH norms AS (SELECT doc_id, sqrt(sum(wi * wi)) AS nrm FROM {{kept}} GROUP BY doc_id),
        -- pair-generation sample: ~B postings per term (deterministic hash
        -- slice, a no-op for df <= B) bounds the self-join to O(vocab·B²)
        pair_src AS (
          SELECT doc_id, term FROM {{kept}}
          WHERE df <= {TFIDF_PAIR_B}
             OR {h} % CAST(ceil(df / {TFIDF_PAIR_B}) AS BIGINT) = 0
        ),
        cand AS (
          SELECT DISTINCT pa.doc_id AS doc_a, pb.doc_id AS doc_b
          FROM pair_src pa JOIN pair_src pb ON pa.term = pb.term
          WHERE pa.doc_id < pb.doc_id
        ),
        -- exact dot over the FULL kept space for every candidate: re-join
        -- the unsampled inverted index per side (pairs × terms-per-doc
        -- rows, linear in the candidate count, never in df²)
        dots AS (
          SELECT doc_a, doc_b, sum(wa * wb) AS dot, count(1) AS n_shared_terms
          FROM cand
          JOIN (SELECT doc_id AS doc_a, term, wi AS wa FROM {{kept}}) USING (doc_a)
          JOIN (SELECT doc_id AS doc_b, term, wi AS wb FROM {{kept}}) USING (doc_b, term)
          GROUP BY doc_a, doc_b
        )
        SELECT doc_a, doc_b, n_shared_terms, round(cos, 6) AS tfidf_cos
        FROM (SELECT doc_a, doc_b, n_shared_terms, dot / (na * nb) AS cos
              FROM dots
              JOIN (SELECT doc_id AS doc_a, nrm AS na FROM norms) USING (doc_a)
              JOIN (SELECT doc_id AS doc_b, nrm AS nb FROM norms) USING (doc_b))
        WHERE cos >= {TFIDF_SIM_TAU}D
        ORDER BY tfidf_cos DESC, doc_a, doc_b LIMIT {TFIDF_TOP_K}
    """, kept=kept)


# working and output columns of ``top_bigrams``; a caller's id column
# must not take one of these names
TOPGRAM_COLUMNS = frozenset(
    {"__ts", "__bg", "__m", "__tot", "__rn", "top_bigram", "top_count", "n_bigrams"}
)


def top_bigrams(df: DataFrame, id_col: str, toks) -> DataFrame:
    """``(id, top_bigram, top_count, n_bigrams)``: each row's most
    frequent bigram of the token array ``toks`` (ties broken
    lexicographically), its count and the row's bigram positions. Rows
    with fewer than 2 tokens have no bigrams and are absent. The one
    plan behind ``doc_topgram_mass`` and the pipeline's
    ``repetition_filter`` step.

    Scale shape: explode → one (id, bigram) hash-aggregate (map-side
    combinable) → per-id window (sum + rank share one sort on id)."""
    from pyspark.sql import Window as W

    bg = (
        df.select(id_col, toks.alias("__ts"))
        .select(id_col, F.explode(F.expr(bigrams_sql("__ts"))).alias("__bg"))
        .groupBy(id_col, "__bg")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    w = W.partitionBy(id_col)
    return (
        bg.withColumn("__tot", F.sum("__m").over(w))
        .withColumn("__rn", F.row_number().over(w.orderBy(F.desc("__m"), "__bg")))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("__bg").alias("top_bigram"),
            F.col("__m").alias("top_count"),
            F.col("__tot").alias("n_bigrams"),
        )
    )


def doc_topgram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style top-n-gram mass: the fraction of a document's
    bigram positions occupied by its single most frequent bigram
    (``top_bigrams``). A high mass means the text loops on one phrase —
    the repetition signal ``dup_token_frac`` (bag level) and the span
    operators (corpus level) don't isolate. Documents with fewer than 2
    tokens are absent, as in the Gopher rule. The modal bigram is
    carried as evidence; fractions are 4-dp floor (no cross-engine
    round ties)."""
    d = load_table(spark, sf_dir, "documents")
    return top_bigrams(d, "doc_id", tokens_col()).withColumn(
        "top_frac", F.floor(F.col("top_count") / F.col("n_bigrams") * 10000) / 10000
    )


LM_LAMBDA = 0.7     # bigram interpolation weight
LM_ONE_MINUS = 0.3  # spelled out: 1 - 0.7 in float would be 0.30000000000000004


def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model score: per-document token-level
    cross-entropy under a Jelinek-Mercer-smoothed corpus bigram LM —
    ``P(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1-λ)·P_uni(w₂)`` with the Laplace
    unigram from ``lm_unigram_score`` as the backoff. The CCNet-style
    fluency gate one step up from the unigram proxy: it penalizes
    improbable word ORDER, not just rare words.

    Scale shape: the per-(doc, bigram) relation is one hash-aggregate
    (map-side combinable) persisted once per session; bigram and
    context counts are two more hash-aggregates over it, broadcast back
    as the model; scoring is broadcast joins + one aggregate on doc_id
    — the corpus text shuffles only into the shared relation. Scores
    round to 4 dp (the cross-engine summation-order contract)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist, shared_value

    bg = shared_persist(spark, ("lm_bigrams", sf_dir), lambda: _sql(spark, sf_dir, f"""
        SELECT doc_id, bigram, count(1) AS m
        FROM (SELECT doc_id, explode({bigrams_sql("toks")}) AS bigram
              FROM (SELECT doc_id, {tokens_sql()} AS toks FROM {{documents}}))
        GROUP BY doc_id, bigram
    """))
    # model-side aggregates are deterministic per corpus and broadcast
    # below (vocabulary-bounded): checkpoint each once per session so a
    # warm call replays two block reads instead of two aggregate jobs
    # over the bigram relation (r14 opt)
    c12 = shared_value(spark, ("lm_bigram_c12", sf_dir), lambda: _sql(
        spark, sf_dir, "SELECT bigram, sum(m) AS c12 FROM {bg} GROUP BY bigram", bg=bg
    ).localCheckpoint(eager=True))
    c1 = shared_value(spark, ("lm_bigram_c1", sf_dir), lambda: _sql(spark, sf_dir, """
        SELECT element_at(split(bigram, ' '), 1) AS w1, sum(c12) AS c1
        FROM {c12} GROUP BY 1
    """, c12=c12).localCheckpoint(eager=True))
    # the SAME session-shared unigram LM + scalars lm_unigram_score uses
    lm, denom = _unigram_lm(spark, sf_dir)
    return _sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(c1, u) */ doc_id, sum(m) AS n_bigrams,
               round(-sum(m * ln({LM_LAMBDA}D * (c12 / c1)
                                 + {LM_ONE_MINUS}D * ((cu + 1.0D) / :denom))) / sum(m), 4)
                 AS xent2
        FROM (SELECT /*+ BROADCAST(c12) */ *, element_at(split(bigram, ' '), 1) AS w1,
                        element_at(split(bigram, ' '), 2) AS w2
              FROM {{bg}} JOIN {{c12}} c12 USING (bigram))
        JOIN {{c1}} c1 USING (w1)
        JOIN (SELECT tok AS w2, c AS cu FROM {{lm}}) u USING (w2)
        GROUP BY doc_id
    """, {"denom": denom}, bg=bg, c12=c12, c1=c1, lm=lm)


QUERIES = {
    "token_stats": token_stats,
    "bm25_topk": bm25_topk,
    "retrieval_qlm_topk": retrieval_qlm_topk,
    "retrieval_rrf_fusion": retrieval_rrf_fusion,
    "lm_unigram_score": lm_unigram_score,
    "lm_bigram_score": lm_bigram_score,
    "doc_topgram_mass": doc_topgram_mass,
    "tfidf_cosine_pairs": tfidf_cosine_pairs,
    "context_length_buckets": context_length_buckets,
    "corpus_mix_weights": corpus_mix_weights,
    "quality_score": quality_score,
    "lang_id_heuristic": lang_id_heuristic,
    "doc_fingerprint": doc_fingerprint,
    "corpus_bigram_topk": corpus_bigram_topk,
    "tfidf_top_terms": tfidf_top_terms,
    "char_entropy": char_entropy,
    "doc_rolling_hash": doc_rolling_hash,
    "cms_heavy_hitters": cms_heavy_hitters,
    "source_temperature_weights": source_temperature_weights,
    "source_reputation": source_reputation,
}

_TOKS = "string_split_regex(lower(text), '\\s+')"
# DuckDB twin of quality_sql — one template shared by the quality_score
# and source_reputation oracles ({n} = token count, {n_stop} = stopword count)
_QUALITY_SQL = "least(1.0, {n} / 100.0) * (0.5 + 0.5 * ({n_stop} / {n}))"

# Dirichlet query-likelihood oracle — mirrors retrieval_qlm_topk's
# integer-scaled decomposition term for term (same rounding, same
# integer sums, same tiebreaks). Stands alone so the RRF fusion oracle
# can nest it as a CTE.
_QLM_SQL = f"""
        WITH tok0 AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        toks AS MATERIALIZED (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
          FROM tok0 WHERE tok <> '' GROUP BY doc_id, tok
        ),
        corpus AS (SELECT * FROM toks WHERE doc_id >= {BM25_N_QUERIES}),
        dl AS (
          SELECT doc_id, CAST(sum(n) AS BIGINT) AS dl FROM corpus GROUP BY doc_id
        ),
        stats AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM corpus),
        cf AS (
          SELECT tok, CAST(sum(n) AS BIGINT) AS cf FROM corpus GROUP BY tok
        ),
        q AS (
          SELECT doc_id AS query_id, tok, n AS qtf
          FROM toks WHERE doc_id < {BM25_N_QUERIES}
        ),
        qcf AS (
          SELECT q.query_id, q.tok, q.qtf, cf.cf FROM q JOIN cf USING (tok)
        ),
        qstats AS (
          SELECT query_id,
                 CAST(sum(CAST(round(
                   qtf * ln({QLM_MU} * cf / t) * {QLM_SCALE}) AS BIGINT))
                   AS BIGINT) AS qconst_i,
                 CAST(sum(qtf) AS BIGINT) AS lq
          FROM qcf CROSS JOIN stats GROUP BY query_id
        ),
        corr AS (
          SELECT qcf.query_id, c.doc_id,
                 CAST(sum(CAST(round(
                   qcf.qtf * ln(1.0 + c.n * t / ({QLM_MU} * qcf.cf))
                   * {QLM_SCALE}) AS BIGINT)) AS BIGINT) AS corr_i
          FROM corpus c JOIN qcf USING (tok) CROSS JOIN stats
          GROUP BY qcf.query_id, c.doc_id
        ),
        qscored AS (
          SELECT corr.query_id, corr.doc_id,
                 qstats.qconst_i
                   - qstats.lq * CAST(round(ln(dl.dl + {QLM_MU}) * {QLM_SCALE})
                                      AS BIGINT)
                   + corr.corr_i AS score_i
          FROM corr JOIN dl USING (doc_id) JOIN qstats USING (query_id)
        )
        SELECT query_id, doc_id, round(score_i / {float(QLM_SCALE)}, 4) AS qlm,
               CAST(rn AS INT) AS rank FROM (
          SELECT query_id, doc_id, score_i,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_i DESC, doc_id) AS rn
          FROM qscored
        ) WHERE rn <= {BM25_TOP_K}
"""

ORACLES = {
    "retrieval_qlm_topk": _QLM_SQL,
    # RRF fusion: both rankers' full oracle pipelines nested as CTEs
    # (the bm25 CTE body is spliced in below, after the dict literal,
    # to reuse the exact same SQL the bm25_topk gate row runs).
    "retrieval_rrf_fusion": None,  # placeholder, filled in after dict
    "bm25_topk": f"""
        WITH tok0 AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        toks AS MATERIALIZED (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
          FROM tok0 WHERE tok <> '' GROUP BY doc_id, tok
        ),
        corpus AS (SELECT * FROM toks WHERE doc_id >= {BM25_N_QUERIES}),
        dl AS (
          SELECT doc_id, CAST(sum(n) AS BIGINT) AS dl FROM corpus GROUP BY doc_id
        ),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS tot_dl
          FROM dl
        ),
        q AS (
          SELECT doc_id AS query_id, tok FROM toks WHERE doc_id < {BM25_N_QUERIES}
        ),
        dfreq AS (
          -- term-filter BEFORE the df window (engine lockstep): df per
          -- surviving term is unchanged, the window just skips terms no
          -- query mentions
          SELECT doc_id, tok, n,
                 CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df
          FROM corpus WHERE tok IN (SELECT DISTINCT tok FROM q)
        ),
        scored AS (
          SELECT q.query_id, d.doc_id,
                 round(CAST(sum(CAST(round(
                   ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (d.n * ({BM25_K1} + 1.0))
                   / (d.n + {BM25_K1} * (1.0 - {BM25_B}
                        + {BM25_B} * l.dl * s.n_docs / s.tot_dl))
                   * {BM25_SCALE}) AS BIGINT)) AS BIGINT) / {float(BM25_SCALE)},
                   4) AS bm25
          FROM dfreq d
          JOIN q ON d.tok = q.tok
          JOIN dl l ON d.doc_id = l.doc_id
          CROSS JOIN stats s
          GROUP BY q.query_id, d.doc_id
        )
        SELECT query_id, doc_id, bm25, CAST(rn AS INT) AS rank FROM (
          SELECT query_id, doc_id, bm25,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY bm25 DESC, doc_id) AS rn
          FROM scored
        ) WHERE rn <= {BM25_TOP_K}
    """,
    "lm_unigram_score": f"""
        WITH tok0 AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        toks AS (
          SELECT doc_id, tok, count(*) AS n FROM tok0
          WHERE tok <> '' GROUP BY doc_id, tok
        ),
        lm AS MATERIALIZED (SELECT tok, sum(n) AS c FROM toks GROUP BY tok),
        sc AS (SELECT CAST(sum(c) + count(*) AS DOUBLE) AS denom FROM lm)
        SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
               round(-sum(n * ln(CAST(c + 1 AS DOUBLE) / denom)) / sum(n), 4) AS xent
        FROM toks JOIN lm USING (tok), sc
        GROUP BY doc_id
    """,
    "tfidf_cosine_pairs": f"""
        WITH tok0 AS (
          SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok0
          WHERE term <> '' GROUP BY doc_id, term
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        kept AS MATERIALIZED (
          SELECT doc_id, term, df,
                 CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * {TFIDF_SCALE})
                      AS BIGINT) AS wi
          FROM (SELECT doc_id, term, tf,
                       count(*) OVER (PARTITION BY term) AS df
                FROM tf), nd
          WHERE df >= 2
            AND df <= least(greatest({TFIDF_DF_CAP}, n_docs // 5), {TFIDF_DF_HARD})
        ),
        psrc AS (
          SELECT doc_id, term FROM kept
          WHERE df <= {TFIDF_PAIR_B}
             OR CAST(concat('0x', substr(md5(term || '_' ||
                      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % CAST(ceil(df / CAST({TFIDF_PAIR_B} AS DOUBLE)) AS BIGINT) = 0
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM psrc a JOIN psrc b
            ON a.term = b.term AND a.doc_id < b.doc_id
        ),
        norms AS (
          SELECT doc_id, sqrt(CAST(sum(wi * wi) AS DOUBLE)) AS nrm
          FROM kept GROUP BY doc_id
        ),
        dots AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(sum(ka.wi * kb.wi) AS BIGINT) AS dot,
                 CAST(count(*) AS BIGINT) AS n_shared_terms
          FROM cand c
          JOIN kept ka ON ka.doc_id = c.doc_a
          JOIN kept kb ON kb.doc_id = c.doc_b AND kb.term = ka.term
          GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b, n_shared_terms,
               round(dot / (na.nrm * nb.nrm), 6) AS tfidf_cos
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        WHERE dot / (na.nrm * nb.nrm) >= {TFIDF_SIM_TAU}
        ORDER BY tfidf_cos DESC, doc_a, doc_b
        LIMIT {TFIDF_TOP_K}
    """,
    "doc_topgram_mass": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
        bg0 AS (
          SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts), 1)),
                 i -> concat_ws(' ', ts[i], ts[i + 1]))) AS bigram
          FROM t
        ),
        bg AS (
          SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS m
          FROM bg0 GROUP BY doc_id, bigram
        ),
        r AS (
          SELECT doc_id, bigram, m,
                 CAST(sum(m) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY m DESC, bigram) AS rn
          FROM bg
        )
        SELECT doc_id, bigram AS top_bigram, m AS top_count, n_bigrams,
               floor(m / n_bigrams * 10000) / 10000 AS top_frac
        FROM r WHERE rn = 1
    """,
    "lm_bigram_score": f"""
        WITH tok0 AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        toks AS (
          SELECT doc_id, tok, count(*) AS n FROM tok0
          WHERE tok <> '' GROUP BY doc_id, tok
        ),
        lm AS MATERIALIZED (SELECT tok, CAST(sum(n) AS BIGINT) AS cu FROM toks GROUP BY tok),
        sc AS (SELECT CAST(sum(cu) + count(*) AS DOUBLE) AS denom FROM lm),
        t AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
        bg0 AS (
          SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts), 1)),
                 i -> concat_ws(' ', ts[i], ts[i + 1]))) AS bigram
          FROM t
        ),
        bg AS MATERIALIZED (
          SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS m
          FROM bg0 GROUP BY doc_id, bigram
        ),
        c12 AS MATERIALIZED (
          SELECT bigram, CAST(sum(m) AS BIGINT) AS c12 FROM bg GROUP BY bigram
        ),
        c1 AS (
          SELECT string_split(bigram, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) AS c1
          FROM c12 GROUP BY 1
        ),
        p AS (
          SELECT bg.doc_id, bg.m,
                 {LM_LAMBDA} * (c12.c12 / c1.c1)
                 + {LM_ONE_MINUS} * ((lm.cu + 1.0) / sc.denom) AS p
          FROM bg
          JOIN c12 USING (bigram)
          JOIN c1 ON string_split(bg.bigram, ' ')[1] = c1.w1
          JOIN lm ON string_split(bg.bigram, ' ')[2] = lm.tok
          CROSS JOIN sc
        )
        SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
               round(-sum(m * ln(p)) / sum(m), 4) AS xent2
        FROM p GROUP BY doc_id
    """,
    "source_temperature_weights": f"""
        WITH per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per),
        sc AS (
          SELECT source, n_docs, n_tokens,
                 round(n_tokens / tot_tokens, 6) AS token_share,
                 CAST(round(pow(n_tokens / tot_tokens, 0.7) * 1000000.0, 0) AS BIGINT) AS w0,
                 CAST(round(pow(n_tokens / tot_tokens, 0.3) * 1000000.0, 0) AS BIGINT) AS w1
          FROM per, tot
        ),
        s AS (SELECT CAST(sum(w0) AS BIGINT) AS t0, CAST(sum(w1) AS BIGINT) AS t1 FROM sc)
        SELECT source, n_docs, n_tokens, token_share,
               floor(w0 * 10000.0 / t0) / 10000.0 AS w_alpha07,
               floor(w1 * 10000.0 / t1) / 10000.0 AS w_alpha03
        FROM sc, s ORDER BY source
    """,
    "source_reputation": f"""
        WITH docs AS (
          SELECT doc_id, source, md5(COALESCE(text, '')) AS h FROM documents
        ),
        dups AS (SELECT h FROM docs GROUP BY h HAVING count(*) >= 2),
        dps AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_dup_docs
          FROM docs JOIN dups USING (h) GROUP BY source
        ),
        q AS (
          SELECT source,
                 CAST(round(({_QUALITY_SQL.format(
                     n=f"len({_TOKS})",
                     n_stop=f"len(list_filter({_TOKS}, x -> x IN ('{_STOP_IN}')))",
                 )}) * 1000000.0, 0) AS BIGINT) AS qint
          FROM documents
        ),
        per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(qint) AS BIGINT) AS qsum
          FROM q GROUP BY source
        )
        SELECT p.source, p.n_docs,
               COALESCE(d.n_dup_docs, 0) AS n_dup_docs,
               floor(COALESCE(d.n_dup_docs, 0) * 10000.0 / p.n_docs) / 10000.0 AS dup_rate,
               floor(p.qsum / p.n_docs / 100.0) / 10000.0 AS mean_quality
        FROM per p LEFT JOIN dps d ON p.source = d.source ORDER BY p.source
    """,
    "cms_heavy_hitters": f"""
        WITH tok0 AS (
          SELECT unnest({_TOKS}) AS tok FROM documents
        ),
        toks AS (SELECT tok FROM tok0 WHERE tok <> ''),
        exact AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok)
        SELECT tok, exact_n, TRUE AS est_ge_exact, TRUE AS est_within_eps
        FROM exact ORDER BY exact_n DESC, tok LIMIT {CMS_TOPK}
    """,
    "context_length_buckets": f"""
        WITH t AS (
          SELECT CASE WHEN len({_TOKS}) <= {CONTEXT_BUCKETS[0]} THEN '<= {CONTEXT_BUCKETS[0]}'
                      WHEN len({_TOKS}) <= {CONTEXT_BUCKETS[1]} THEN '<= {CONTEXT_BUCKETS[1]}'
                      WHEN len({_TOKS}) <= {CONTEXT_BUCKETS[2]} THEN '<= {CONTEXT_BUCKETS[2]}'
                      ELSE '> {CONTEXT_BUCKETS[2]}' END AS bucket,
                 len({_TOKS}) AS n_tokens
          FROM documents
        )
        SELECT bucket, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM t GROUP BY bucket ORDER BY bucket
    """,
    "corpus_mix_weights": f"""
        WITH per_lang AS (
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang
        ),
        tot AS (
          SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                 count(*) AS n_langs
          FROM per_lang
        )
        SELECT lang, n_docs, n_tokens,
               round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS token_share,
               round(CAST(tot_tokens AS DOUBLE) / (n_langs * n_tokens), 6) AS equalize_rate
        FROM per_lang, tot ORDER BY lang
    """,
    "doc_rolling_hash": f"""
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(text, ''),
                                  ch -> CAST(ascii(ch) AS BIGINT))),
                 (acc, code) -> (acc * {RK_BASE} + code) % {RK_MOD}) AS rolling_hash,
               CAST(length(text) AS INT) AS n_chars_hashed
        FROM documents
    """,
    "char_entropy": """
        WITH chars AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS ch
          FROM documents
        ),
        counts AS (
          SELECT doc_id, ch, count(*) AS n FROM chars
          WHERE ch <> '' GROUP BY doc_id, ch
        ),
        totals AS (SELECT doc_id, sum(n) AS tot FROM counts GROUP BY doc_id)
        SELECT c.doc_id,
               round(-sum((n / tot) * log2(n / tot)), 4) AS char_entropy,
               count(*) AS n_distinct_chars
        FROM counts c JOIN totals t ON c.doc_id = t.doc_id
        GROUP BY c.doc_id ORDER BY c.doc_id
    """,
    "tfidf_top_terms": f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        tf AS MATERIALIZED (
          SELECT doc_id, term, count(*) AS tf FROM toks
          WHERE term <> '' GROUP BY doc_id, term
        ),
        dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        nd AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf, score, rank FROM (
          SELECT tf.doc_id, tf.term, tf.tf,
                 round(tf.tf * ln(nd.n_docs / dfc.df), 6) AS score,
                 row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY round(tf.tf * ln(nd.n_docs / dfc.df), 6) DESC, tf.term
                 ) AS rank
          FROM tf JOIN dfc ON tf.term = dfc.term CROSS JOIN nd)
        WHERE rank <= 3
    """,
    "token_stats": f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INT) AS n_tokens,
               CAST(len(string_split_regex(lower(text), '[^a-z0-9]+')) AS INT) AS n_pieces,
               CAST(length(text) AS INT) AS n_chars_calc,
               CAST(len(list_distinct({_TOKS})) AS INT) AS n_unique_tokens
        FROM documents
    """,
    "quality_score": f"""
        WITH t AS (
          SELECT doc_id,
                 len({_TOKS}) AS n,
                 len(list_filter({_TOKS}, x -> x IN ('{_STOP_IN}'))) AS n_stop
          FROM documents
        )
        SELECT doc_id,
               CAST(n AS INT) AS n_tokens,
               CAST(n_stop AS INT) AS n_stopwords,
               round(n_stop / n, 6) AS stopword_ratio,
               round({_QUALITY_SQL.format(n='n', n_stop='n_stop')}, 6) AS quality
        FROM t
    """,
    "lang_id_heuristic": f"""
        WITH t AS (
          SELECT doc_id, lang, text,
                 len(list_filter({_TOKS}, x -> x IN ('{_STOP_IN}')))
                   / len({_TOKS}) AS stop_ratio
          FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                    WHEN regexp_matches(text, '[\\x{{0400}}-\\x{{04ff}}]') THEN 'ru'
                    WHEN regexp_matches(text, '[\\x{{0600}}-\\x{{06ff}}]') THEN 'ar'
                    WHEN stop_ratio >= 0.05 THEN 'en'
                    ELSE 'unknown' END AS lang_guess,
               (CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                    WHEN regexp_matches(text, '[\\x{{0400}}-\\x{{04ff}}]') THEN 'ru'
                    WHEN regexp_matches(text, '[\\x{{0600}}-\\x{{06ff}}]') THEN 'ar'
                    WHEN stop_ratio >= 0.05 THEN 'en'
                    ELSE 'unknown' END) = lang AS agrees_with_label
        FROM t
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint,
               CAST(len(list_sort(list_distinct({_TOKS}))) AS INT) AS n_unique_tokens
        FROM documents
    """,
    "corpus_bigram_topk": f"""
        WITH tok AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
        bg AS (
          SELECT unnest(list_transform(range(1, greatest(len(ts), 1)),
                 i -> concat_ws(' ', ts[i], ts[i + 1]))) AS bigram
          FROM tok
        )
        SELECT bigram, count(*) AS n FROM bg
        GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
}

# RRF fusion oracle: nests the EXACT bm25 and query-likelihood oracle
# pipelines as CTEs (DuckDB allows a WITH inside a CTE body), unions
# their (query, doc, rank) lists, and fuses with the same integer-
# division contributions the engine computes.
ORACLES["retrieval_rrf_fusion"] = f"""
        WITH bm AS ({ORACLES["bm25_topk"]}),
        ql AS ({_QLM_SQL}),
        u AS (
          SELECT query_id, doc_id,
                 {QLM_SCALE} // ({RRF_RANK_K} + rank) AS c_i FROM bm
          UNION ALL
          SELECT query_id, doc_id,
                 {QLM_SCALE} // ({RRF_RANK_K} + rank) AS c_i FROM ql
        ),
        fused AS (
          SELECT query_id, doc_id, CAST(sum(c_i) AS BIGINT) AS rrf_i,
                 CAST(count(*) AS BIGINT) AS n_rankers
          FROM u GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, round(rrf_i / {float(QLM_SCALE)}, 6) AS rrf,
               n_rankers, CAST(rn AS INT) AS rank FROM (
          SELECT query_id, doc_id, rrf_i, n_rankers,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY rrf_i DESC, doc_id) AS rn
          FROM fused
        ) WHERE rn <= {RRF_TOP_K}
"""
