"""Corpus curation operators: the pretraining-data pipeline stages that
sit between dedup and tokenization.

- benchmark decontamination (13-gram overlap against a held-out set),
- context-window packing (greedy sequential fill, the cumsum form),
- document chunking with overlap (RAG / long-doc splitting),
- Gopher-style per-document quality flags.

Every member is one Spark SQL text of array functions and windows — no
UDFs — with a DuckDB oracle twin. Determinism contracts: ordering is
always (portable hash, doc_id); ratios are rounded at the edge; integer
math everywhere else.

The operators the pipeline shares are Spark SQL too, spelled once:
``gopher_flags_sql`` gives expressions over a token array;
``overlap_chunks_sql``, ``paragraph_segments_sql``, the budget
selection (``quality_bands_sql``, ``band_offsets_sql``,
``budget_select_sql``) and the span core (``pos_grams_sql``,
``span_cut_sql``) are texts over a relation name. The members run
them over ``documents``, the pipeline's curation steps over the
flowing frame.

Scale notes (100 TB): decontamination is a broadcast-able semi-join
when the benchmark is benchmark-sized (thousands of docs → millions of
grams, comfortably under the broadcast threshold) and degrades to a
shuffle join gracefully; packing is one window cumsum per lang
partition (state = one running sum per partition); chunking is a
map-only explode with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from generic_data_ingestor_framework_spark.llm.dedup import (
    DOC_HASH_SQL,
    shingles_sql,
    text_ident_sql,
    tokens_sql,
)
from generic_data_ingestor_framework_spark.llm.textstats import quality_sql
from generic_data_ingestor_framework_spark.relational import _sql

DECON_GRAM_K = 13      # n-gram size for benchmark-overlap decontamination
BENCH_MOD = 50         # hash(doc_id) % 50 == 0 → ~2% "benchmark" set
PACK_WINDOW = 512      # context-window packing target (tokens)
PACK_BUCKETS = 8       # parallel packing buckets per lang (scale knob)
CHUNK_TOKENS = 32      # chunk size for overlap chunking
CHUNK_STRIDE = 24      # stride (overlap = CHUNK_TOKENS - CHUNK_STRIDE)
SEG_TOKENS = 10        # paragraph-dedup segment size (positional segments —
                       # the flat test corpus has no newline paragraph marks)

_TOKS_SQL = "string_split_regex(lower(text), '\\s+')"
_HASH_SQL = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"

# Spark SQL: the documents with their tokens
_DOC_TOKENS = f"(SELECT doc_id, lang, {tokens_sql()} AS ts FROM {{documents}})"


def _floor4(x: str) -> str:
    """4-dp truncation of the Spark SQL expression ``x``: floor cannot
    tie, unlike round (Spark HALF_UP vs DuckDB differ at exact .xxxx5
    rationals)."""
    return f"floor(({x}) * 10000) / 10000"


def _gram_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded per-doc distinct 13-gram relation ``(doc_id, bench,
    gram)`` — feeds benchmark decontamination (both branches) and the
    span-duplication audit; persisted once per session instead of
    exploding the corpus once per call."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    key = ("decon_grams", sf_dir, DECON_GRAM_K)
    return shared_persist(spark, key, lambda: _sql(spark, sf_dir, f"""
        SELECT doc_id, {DOC_HASH_SQL} % {BENCH_MOD} = 0 AS bench,
               explode({shingles_sql("ts", DECON_GRAM_K)}) AS gram
        FROM {_DOC_TOKENS}
    """))


def decontaminate_against_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 13-gram
    with the held-out benchmark set (hash-selected ~2% of the corpus —
    in production, the actual eval suites).

    Plan: distinct 13-grams on both sides; the benchmark gram set is
    broadcast (benchmark-sized, not corpus-sized); training docs LEFT
    JOIN it and count overlapping grams — zero-overlap docs keep n=0.
    This is the standard contamination audit before a pretraining run.
    """
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, coalesce(n_hits, 0) AS n_contaminated_grams,
               coalesce(n_hits, 0) > 0 AS is_contaminated
        FROM (SELECT doc_id FROM {{documents}} WHERE {DOC_HASH_SQL} % {BENCH_MOD} != 0)
        LEFT JOIN (
          SELECT /*+ BROADCAST(b) */ doc_id, count(1) AS n_hits
          FROM {{grams}} g JOIN (SELECT DISTINCT gram FROM {{grams}} WHERE bench) b
            ON g.gram = b.gram
          WHERE NOT g.bench GROUP BY doc_id)
        USING (doc_id)
    """, grams=_gram_relation(spark, sf_dir))


def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential context-window packing, two-level: docs are
    bucketed by ``(lang, hash % PACK_BUCKETS)``; each bucket packs
    independently (exclusive-cumsum in deterministic (hash, doc_id)
    order — a doc belongs to the sequence its first token falls in),
    then bucket-local sequence ids are made corpus-unique by offsetting
    with the exclusive prefix of per-bucket sequence counts. Reports
    per-sequence fill.

    Scale shape: packing is greedy/approximate by contract, so bucket
    boundaries are a policy choice, not an error — and the running-sum
    sort state becomes per (lang, bucket), i.e. PACK_BUCKETS-way
    parallel per language, instead of one sort task funneling 60% of a
    100 TB corpus through a single English partition. The offset table
    is PACK_BUCKETS rows per lang — broadcast, never a shuffle.
    """
    return _sql(spark, sf_dir, f"""
        WITH seqs AS (
          SELECT lang, bucket, n_tok,
                 floor((sum(n_tok) OVER (PARTITION BY lang, bucket ORDER BY h, doc_id) - n_tok)
                       / {PACK_WINDOW}) AS local_seq
          FROM (SELECT doc_id, lang, n_tok, h, h % {PACK_BUCKETS} AS bucket
                FROM (SELECT doc_id, lang, size(ts) AS n_tok, {DOC_HASH_SQL} AS h
                      FROM {_DOC_TOKENS}))
        ),
        offsets AS (
          SELECT lang, bucket,
                 coalesce(sum(n_seqs) OVER (PARTITION BY lang ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM (SELECT lang, bucket, max(local_seq) + 1 AS n_seqs FROM seqs GROUP BY lang, bucket)
        )
        SELECT lang, seq_id, count(1) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(floor(sum(n_tok) * 10000 / {PACK_WINDOW}) AS BIGINT) AS fill_bp
        FROM (SELECT /*+ BROADCAST(o) */ lang, CAST(off + local_seq AS BIGINT) AS seq_id, n_tok
              FROM seqs JOIN offsets o USING (lang, bucket))
        GROUP BY lang, seq_id
    """)


def overlap_chunks_sql(
    src: str, ts: str, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> str:
    """Spark SQL: one row per ``chunk``-token window, every ``stride``
    tokens, of the token array ``ts`` of the relation ``src`` (final
    partial chunk kept) — the row with ``chunk_idx`` and the window's
    tokens ``__chunk`` appended. Map-only explode, no shuffle. The one
    chunking of ``chunk_documents_overlap`` and the pipeline's
    ``chunk_overlap`` step."""
    n_chunks = f"1 + greatest(0, CAST(ceil((size({ts}) - {chunk}) / {float(stride)}D) AS INT))"
    return f"""
        SELECT *, slice({ts}, chunk_idx * {stride} + 1, {chunk}) AS __chunk
        FROM (SELECT *, explode(sequence(0, {n_chunks} - 1)) AS chunk_idx FROM {src})
    """


def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-document chunking with overlap (RAG / context-split shape,
    ``overlap_chunks_sql``); each chunk carries its md5 so content (not
    just counts) is oracle-checked.
    """
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, chunk_idx, size(__chunk) AS n_chunk_tokens,
               md5(array_join(__chunk, ' ')) AS chunk_md5
        FROM ({overlap_chunks_sql(_DOC_TOKENS, "ts")})
    """)


def paragraph_segments_sql(src: str, id_col: str, toks: str, seg: int = SEG_TOKENS) -> str:
    """CCNet-style paragraph-level dedup of the token array ``toks`` of
    the relation ``src``, as Spark SQL: each row is cut into consecutive
    ``seg``-token segments (positional "paragraphs" — on real data the
    splitter becomes a newline split, same plan), and a segment
    occurrence survives only if it is the corpus-wide FIRST occurrence
    of its content (min (id, pos)). Returns ``(id, n_segments, n_kept,
    kept_text)``, the surviving segments joined in order. The one plan
    behind ``paragraph_dedup_corpus`` and the pipeline's
    ``paragraph_dedup`` step.

    Plan: map-only segment explode → ONE shuffle on the segment content
    (window row_number picks the canonical occurrence) → per-id hash
    aggregate (collect_list is bounded by segments-per-row). No
    corpus×corpus join anywhere; boilerplate-heavy hot segments cost
    one window partition each, not a quadratic bucket.
    """
    i = text_ident_sql(id_col)
    # greatest(…, 1): a degenerate null/zero-size token array can never
    # feed sequence() a descending range (identical output for every
    # real row, so the oracle needs no mirror)
    n_segs = f"greatest(CAST(ceil(size(__ts) / {float(seg)}D) AS INT), 1)"
    return f"""
        SELECT {i}, count(1) AS n_segments, sum(CAST(__keep AS BIGINT)) AS n_kept,
               array_join(transform(array_sort(collect_list(
                 CASE WHEN __keep THEN named_struct('pos', __pos, 'seg', __seg) END)),
                 s -> s.seg), ' ') AS kept_text
        FROM (
          SELECT {i}, __pos, __seg,
                 row_number() OVER (PARTITION BY __seg ORDER BY {i}, __pos) = 1 AS __keep
          FROM (SELECT {i}, __pos, array_join(slice(__ts, __pos * {seg} + 1, {seg}), ' ') AS __seg
                FROM (SELECT {i}, __ts, explode(sequence(0, {n_segs} - 1)) AS __pos
                      FROM (SELECT {i}, {toks} AS __ts FROM {src}))))
        GROUP BY {i}
    """


def paragraph_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level dedup of ``documents``
    (``paragraph_segments_sql``): reports per-doc segment counts and the
    md5 of the surviving text, so the gate checks reconstructed
    content, not just counts — the stage that strips boilerplate
    (headers, license blocks, navigation) repeated across a crawl."""
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, n_segments, n_kept, md5(kept_text) AS kept_md5
        FROM ({paragraph_segments_sql("{documents}", "doc_id", tokens_sql())})
    """)


def dedup_segments_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition removal: cut each document into
    consecutive ``SEG_TOKENS``-token segments and keep only the FIRST
    occurrence of each distinct segment content inside that document —
    the intra-doc half of CCNet-style repetition cleaning
    (``paragraph_dedup_corpus`` is the cross-corpus half). Reports the
    md5 of the surviving text so content, not just counts, is checked.

    Scale shape: ENTIRELY map-only — segments, first-occurrence dedup
    (``array_distinct`` preserves first-occurrence order), and the
    reconstruction all happen as array expressions inside one narrow
    projection. Zero shuffles at any corpus size; this is the plan you
    want before paying the cross-corpus shuffle."""
    n_segs = f"greatest(CAST(ceil(size(ts) / {float(SEG_TOKENS)}D) AS INT), 1)"
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, size(segs) AS n_segments, size(kept) AS n_kept,
               md5(array_join(kept, ' ')) AS kept_md5
        FROM (SELECT doc_id, segs, array_distinct(segs) AS kept
              FROM (SELECT doc_id,
                           transform(sequence(0, {n_segs} - 1), p -> array_join(
                             slice(ts, p * {SEG_TOKENS} + 1, {SEG_TOKENS}), ' ')) AS segs
                    FROM {_DOC_TOKENS}))
    """)


def span_duplication_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document span-duplication audit: for each document, the
    fraction of its distinct 13-token grams that also appear in at
    least one OTHER part of the corpus — the document-level signal
    behind substring-dedup decisions (a high ratio means the doc is
    mostly made of text that exists elsewhere; exact/near dedup
    operators then decide what to drop). Documents too short to carry
    a 13-gram report ``n_grams = 0`` and ratio 0.

    Plan: reuses the session-persisted gram relation
    (``_gram_relation``); gram document-frequency is one hash-aggregate
    on gram (per-doc grams are already distinct, so ``count(*)`` IS
    the document frequency). The unfiltered join back keeps every gram
    row, so ONE doc_id aggregate computes total and shared counts
    together — one pass over the corpus-scale gram relation (gram
    shuffle + join + doc_id shuffle), nothing driver-sized.
    """
    return _sql(spark, sf_dir, """
        SELECT doc_id, n_grams, n_shared AS n_shared_grams,
               CASE WHEN n_grams > 0 THEN floor(n_shared * 10000.0D / n_grams) / 10000
                    ELSE 0.0D END AS dup_ratio
        FROM (SELECT doc_id, CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                     CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared
              FROM (SELECT doc_id FROM {documents})
              LEFT JOIN (
                SELECT doc_id, count(1) AS n_grams, sum(CAST(df >= 2 AS BIGINT)) AS n_shared
                FROM (SELECT doc_id, gram FROM {grams})
                JOIN (SELECT gram, count(1) AS df FROM {grams} GROUP BY gram) USING (gram)
                GROUP BY doc_id)
              USING (doc_id))
    """, grams=_gram_relation(spark, sf_dir))


BUDGET_NUM, BUDGET_DEN = 2, 5  # select the top-quality 40% of corpus tokens


def quality_bands_sql(src: str, id_col: str, toks: str) -> str:
    """Spark SQL: ``(id, n_tok, band)`` of each row of the relation
    ``src``: the token count of the token array ``toks`` and its
    heuristic quality (shared ``quality_sql``, 6-dp rounded) as the
    exact integer ``band = round(quality·1e6)`` in [0, 1e6]."""
    i = text_ident_sql(id_col)
    # materialize the token array BEFORE the quality lambda: Catalyst
    # re-inlines aliased expressions into HOF lambda bodies, re-running
    # the regex split per element otherwise (see dedup.shingles_sql)
    return f"""
        SELECT {i}, size(__ts) AS n_tok,
               CAST(round(round({quality_sql("__ts")}, 6) * 1000000.0D) AS BIGINT) AS band
        FROM (SELECT {i}, {toks} AS __ts FROM {src})
    """


def band_offsets_sql(banded: str, num: int, den: int) -> str:
    """Spark SQL: ``(band, tok_off, rank_off, budget)`` of the
    ``quality_bands_sql`` relation ``banded`` — the tokens and rows of
    the better bands before each band, and the budget ``num/den`` of
    all tokens (exact: decimal, as ``num`` may be a float's 53-bit
    ratio). Bands that start past the budget are left out. The windows
    run over the per-band totals, at most 1e6+1 rows at ANY data size."""
    return f"""
        SELECT band, tok_off, rank_off, budget FROM (
          SELECT band,
                 coalesce(sum(toks) OVER w, 0) AS tok_off,
                 coalesce(sum(docs) OVER w, 0) AS rank_off,
                 CAST(sum(toks) OVER () AS DECIMAL(38, 0)) * {num} DIV {den} AS budget
          FROM (SELECT band, sum(n_tok) AS toks, count(1) AS docs FROM {banded} GROUP BY band)
          WINDOW w AS (ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        WHERE tok_off < budget
    """


def budget_select_sql(banded: str, offsets: str, id_col: str) -> str:
    """The two-level banded-cumsum selection, as Spark SQL: keeps the
    best rows of the ``quality_bands_sql`` relation ``banded`` until the
    budget of ``band_offsets_sql``'s relation ``offsets`` is spent.
    Returns ``(id, n_tok, band, cum_tokens, sel_rank)`` of the selected
    rows — the one selection of ``corpus_select_budget`` and the
    pipeline's ``select_budget`` step. The row-level windows run
    PARTITIONED by band with the band's offsets added — no global sort
    of rows at any data size."""
    i = text_ident_sql(id_col)
    return f"""
        SELECT {i}, n_tok, band, cum_tokens, sel_rank FROM (
          SELECT /*+ BROADCAST(o) */ {i}, n_tok, band, budget,
                 CAST(sum(n_tok) OVER (PARTITION BY band ORDER BY {i}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + tok_off AS BIGINT)
                   AS cum_tokens,
                 CAST(row_number() OVER (PARTITION BY band ORDER BY {i}) + rank_off AS INT)
                   AS sel_rank
          FROM {banded} JOIN {offsets} o USING (band))
        WHERE cum_tokens <= budget
    """


_DOC_BANDS = f"({quality_bands_sql('{documents}', 'doc_id', tokens_sql())})"


def _band_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``band_offsets_sql`` of the documents' quality bands at the
    member's budget, persisted once per session (a relation of at most
    1e6+1 rows)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    text = band_offsets_sql(_DOC_BANDS, BUDGET_NUM, BUDGET_DEN)
    return shared_persist(spark, ("qsel_bands", sf_dir), lambda: _sql(spark, sf_dir, text))


def corpus_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: rank documents by heuristic
    quality (shared ``quality_sql`` formula) and keep the best docs
    until the cumulative token count reaches a budget — here 40% of
    the corpus — the data-selection step that decides what a training
    run actually reads.

    Scale shape: a naive global ORDER BY quality + running-sum window
    is a single-partition sort at 100 TB. This runs the TWO-LEVEL
    cumsum instead (``budget_select_sql``): quality is 6-dp rounded,
    so its band is an exact integer; per-band token totals give each
    band's prefix offset (``_band_offsets``), and the row-level window
    runs PARTITIONED by band with the offset added — no global sort of
    rows ever happens. The DuckDB oracle computes the same selection
    with the naive global window, pinning the decomposition's
    equivalence."""
    # band/1e6 is round(quality, 6) exactly: the double nearest the same
    # 6-dp decimal
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, band / 1000000.0D AS quality, n_tok AS n_tokens, cum_tokens, sel_rank
        FROM ({budget_select_sql(_DOC_BANDS, "{offsets}", "doc_id")})
    """, offsets=_band_offsets(spark, sf_dir))


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: within each connected
    near-duplicate cluster (``dedup_cluster_assign``'s components over
    the MinHash-LSH graph), keep the HIGHEST-quality member instead of
    the min-id — the choice real curation makes (of N copies of an
    article, keep the longest / cleanest one).

    Scale shape: rides the session-persisted cluster labels, which
    label the corpus scan itself; quality is a map-only projection; the
    argmax is one window partitioned by cluster (clusters are near-dup
    families — bounded, never corpus-sized partitions)."""
    from generic_data_ingestor_framework_spark.llm.dedup import (
        _CLUSTER_LABELS_SQL,
        _cluster_frames,
    )

    return _sql(spark, sf_dir, f"""
        SELECT cluster_id, doc_id AS keep_id, quality, n_members FROM (
          SELECT cluster_id, doc_id, quality,
                 row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn,
                 count(1) OVER (PARTITION BY cluster_id) AS n_members
          FROM (SELECT cluster_id, doc_id, round({quality_sql("ts")}, 6) AS quality
                FROM (SELECT cluster_id, doc_id, {tokens_sql()} AS ts
                      FROM ({_CLUSTER_LABELS_SQL}))))
        WHERE rn = 1
    """, **_cluster_frames(spark, sf_dir))


SPAN_K = DECON_GRAM_K  # duplicated-span gram width (13 tokens)


# --- shared span-removal core (one definition for the corpus member
# AND the pipeline step — a fix in one cannot silently miss the other)

def pos_grams_sql(src: str, id_col: str, ts: str, k: int) -> str:
    """Spark SQL: ``(id, ts)`` rows of the relation ``src`` →
    ``(id, pos, gram)``, every k-gram occurrence with its 0-based token
    offset (no rows for rows shorter than k)."""
    i = text_ident_sql(id_col)
    return f"""
        SELECT {i}, posexplode(CASE WHEN size({ts}) >= {k}
            THEN transform(sequence(0, size({ts}) - {k}),
                           p -> array_join(slice({ts}, p + 1, {k}), ' '))
            ELSE CAST(array() AS ARRAY<STRING>) END) AS (pos, gram)
        FROM {src}
    """


def span_cut_sql(src: str, pg: str, id_col: str, ts: str, k: int, min_occ: int = 2) -> str:
    """Spark SQL: the rows of the relation ``src`` (``id``, token array
    ``ts``) with ``cov``, the token offsets covered by any gram of the
    ``pos_grams_sql`` relation ``pg`` occurring ≥ ``min_occ`` times
    corpus-wide, and ``kept``, the tokens left once they are cut.

    The doc-side aggregate collects only the START offset of each
    duplicated posting (one int) and expands to the k-wide covered
    range map-side AFTER the shuffle — exploding ``sequence(pos,
    pos+k-1)`` BEFORE the shuffle moved k×13 ints per posting through
    the exchange and the hash-aggregate for the identical result (sf1:
    the worst family ratio in BENCH_SF1, 4.61). Per-doc state is
    bounded by doc length at any corpus size.

    Kept positions come from ``array_except(sequence(0, n-1), cov)``
    (hash-set membership, O(len + |cov|) per doc) followed by an O(1)
    ``element_at`` per survivor — NOT a per-token ``array_contains``
    scan, which would be O(len x |cov|) and quadratic for long,
    heavily-duplicated documents. The n=0 guard: ``sequence(0, -1)``
    would DESCEND ([0, -1]), not be empty."""
    i = text_ident_sql(id_col)
    return f"""
        SELECT *, transform(CASE WHEN size({ts}) > 0
                                 THEN array_except(sequence(0, size({ts}) - 1), cov)
                                 ELSE CAST(array() AS ARRAY<INT>) END,
                            p -> element_at({ts}, p + 1)) AS kept
        FROM (
          SELECT {i}, {ts}, coalesce(cov, CAST(array() AS ARRAY<INT>)) AS cov
          FROM {src} LEFT JOIN (
            SELECT {i}, array_distinct(flatten(
                     transform(collect_list(pos), s -> sequence(s, s + {k} - 1)))) AS cov
            FROM {pg} JOIN (SELECT gram FROM {pg} GROUP BY gram HAVING count(1) >= {min_occ})
              USING (gram)
            GROUP BY {i})
          USING ({i}))
    """


def _pos_gram_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL 13-gram relation ``(doc_id, pos, gram)`` — unlike
    ``_gram_relation`` (distinct grams, for membership tests), this
    keeps every occurrence with its 0-based token offset so span
    REMOVAL can map duplicated grams back to covered token ranges.
    Persisted once per session, PRE-PARTITIONED on ``gram``: both
    consumers (the occurrence count and the duplicated-gram join in
    ``span_cut_sql``) key on gram, so paying one hash exchange at
    build time makes every warm agg/join over the corpus-scale
    relation zero-exchange and co-partitioned (the hot planted-gram
    skew never re-shuffles)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    def build() -> DataFrame:
        npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return _sql(spark, sf_dir, f"""
            SELECT /*+ REPARTITION({npart}, gram) */ *
            FROM ({pos_grams_sql(_DOC_TOKENS, "doc_id", "ts", SPAN_K)})
        """)

    return shared_persist(spark, ("span_pos_grams", sf_dir), build)


def remove_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    13-token gram occurring ≥2 times in the corpus (across documents
    OR repeated within one) marks its token range as duplicated; every
    covered token is cut and the surviving text is reported by md5 —
    the substring-level complement of the doc-level dedup operators
    (``span_duplication_ratio`` is this operator's audit).

    Scale shape: occurrence counting is one hash-aggregate over the
    session-persisted positional gram relation (the canonical
    skew-tolerant counting plan); coverage explodes ONLY duplicated
    postings ×13 offsets; the per-doc covered set is bounded by doc
    length and the text rebuild is a map-side array filter — the
    corpus text never shuffles."""
    cut = span_cut_sql(_DOC_TOKENS, "{pg}", "doc_id", "ts", SPAN_K)
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, size(ts) AS n_tokens, size(cov) AS n_removed,
               floor(size(cov) * 10000.0D / size(ts)) / 10000 AS removed_ratio,
               md5(array_join(kept, ' ')) AS cleaned_md5
        FROM ({cut})
    """, pg=_pos_gram_relation(spark, sf_dir))


# the Gopher rule's default bounds (``gopher_flags_sql``)
GOPHER_BOUNDS = {
    "min_words": 5,
    "max_words": 100000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "max_dup_token_frac": 0.9,
}


def gopher_flags_sql(toks: str, **bounds) -> tuple[str, str, str, str]:
    """Gopher-style repetition/shape flags of the token array ``toks``,
    as Spark SQL: ``(n_words, mean_word_len, dup_token_frac, passes)``
    expressions — word count band, mean word length band,
    duplicate-token fraction cap, combined into one keep/drop boolean.
    ``bounds`` override ``GOPHER_BOUNDS``. The fractions are 4-dp
    floored before they are compared (the cross-engine contract). The
    one rule of ``gopher_quality_flags`` and the pipeline's
    ``quality_filter`` step."""
    b = {**GOPHER_BOUNDS, **bounds}
    b = {k: f"{v!r}D" if isinstance(v, float) else v for k, v in b.items()}
    words = f"filter({toks}, t -> t != '')"
    n_words = f"size({words})"
    sum_len = f"aggregate({words}, 0, (acc, t) -> acc + length(t))"
    # a row with no words has no mean and no fraction (NULL, not a
    # division-by-zero failure of the whole query), and fails the gate
    mean_len = _floor4(f"try_divide({sum_len}, {n_words})")
    dup_frac = _floor4(f"1 - try_divide(size(array_distinct({words})), {n_words})")
    passes = (
        f"{n_words} >= {b['min_words']} AND {n_words} <= {b['max_words']}"
        f" AND {mean_len} >= {b['min_mean_word_len']} AND {mean_len} <= {b['max_mean_word_len']}"
        f" AND {dup_frac} <= {b['max_dup_token_frac']}"
    )
    return n_words, mean_len, dup_frac, passes


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality flags per document (``gopher_flags_sql``)."""
    n_words, mean_len, dup_frac, passes = gopher_flags_sql("ts")
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, {n_words} AS n_words, {mean_len} AS mean_word_len,
               {dup_frac} AS dup_token_frac, {passes} AS passes_gopher
        FROM {_DOC_TOKENS}
    """)


QUERIES = {
    "corpus_select_budget": corpus_select_budget,
    "remove_duplicated_spans": remove_duplicated_spans,
    "dedup_keep_best_quality": dedup_keep_best_quality,
    "decontaminate_against_benchmark": decontaminate_against_benchmark,
    "pack_context_windows": pack_context_windows,
    "chunk_documents_overlap": chunk_documents_overlap,
    "paragraph_dedup_corpus": paragraph_dedup_corpus,
    "dedup_segments_within_doc": dedup_segments_within_doc,
    "span_duplication_ratio": span_duplication_ratio,
    "gopher_quality_flags": gopher_quality_flags,
}

_GRAMS_CTE = f"""
        tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
        grams AS (
          SELECT doc_id, ({_HASH_SQL} % {BENCH_MOD} = 0) AS bench,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(ts) - {DECON_GRAM_K - 2}, 1)),
                   i -> array_to_string(ts[i:i+{DECON_GRAM_K - 1}], ' ')))) AS gram
          FROM tok
          WHERE len(ts) >= {DECON_GRAM_K}
        )
"""

from generic_data_ingestor_framework_spark.llm import dedup as _dedup_mod  # noqa: E402
from generic_data_ingestor_framework_spark.llm.textstats import (  # noqa: E402
    _QUALITY_SQL,
    _STOP_IN,
)

ORACLES = {
    # Nests the full recursive-closure cluster oracle as a CTE, joins
    # the shared quality formula, and takes the per-cluster argmax.
    "dedup_keep_best_quality": f"""
        WITH ca AS ({{CLUSTER_SQL}}),
        t AS (
          SELECT doc_id,
                 len({_TOKS_SQL}) AS n,
                 len(list_filter({_TOKS_SQL}, x -> x IN ('{_STOP_IN}'))) AS n_stop
          FROM documents
        ),
        q AS (
          SELECT doc_id,
                 round({_QUALITY_SQL.format(n='n', n_stop='n_stop')}, 6) AS quality
          FROM t
        ),
        j AS (
          SELECT ca.cluster_id, ca.doc_id, q.quality
          FROM ca JOIN q USING (doc_id)
        )
        SELECT cluster_id, doc_id AS keep_id, quality, n_members FROM (
          SELECT cluster_id, doc_id, quality,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY quality DESC, doc_id) AS rn,
                 CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS n_members
          FROM j) WHERE rn = 1
    """,
    # Naive global-window twin of the engine's two-level banded cumsum:
    # same ordering (quality DESC, doc_id), same integer budget — pins
    # the decomposition's equivalence.
    "corpus_select_budget": f"""
        WITH t AS (
          SELECT doc_id,
                 len({_TOKS_SQL}) AS n,
                 len(list_filter({_TOKS_SQL}, x -> x IN ('{_STOP_IN}'))) AS n_stop
          FROM documents
        ),
        scored AS (
          SELECT doc_id, CAST(n AS INT) AS n_tokens,
                 round({_QUALITY_SQL.format(n='n', n_stop='n_stop')}, 6) AS quality
          FROM t
        ),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM scored),
        cum AS (
          SELECT doc_id, quality, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                 CAST(row_number() OVER (ORDER BY quality DESC, doc_id)
                      AS INT) AS sel_rank
          FROM scored
        )
        SELECT doc_id, quality, n_tokens, cum_tokens, sel_rank
        FROM cum, tot
        WHERE cum_tokens <= total * {BUDGET_NUM} // {BUDGET_DEN}
    """,

    "remove_duplicated_spans": f"""
        WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
        -- struct-unnest enumeration: unbounded in document length
        -- (a fixed range() cap would silently truncate long docs and
        -- falsely flag the engine as divergent)
        pg AS (
          SELECT doc_id, CAST(g.pos AS INT) AS pos, g.gram FROM (
            SELECT doc_id, unnest(list_transform(
              range(1, greatest(len(ts) - {SPAN_K - 2}, 1)),
              i -> struct_pack(pos := i - 1,
                               gram := array_to_string(
                                 ts[i : i + {SPAN_K - 1}], ' ')))) AS g
            FROM tok)
        ),
        dup AS (SELECT gram FROM pg GROUP BY gram HAVING count(*) >= 2),
        cov AS (
          SELECT DISTINCT p.doc_id, p.pos + j.j AS cov
          FROM pg p JOIN dup d USING (gram), range(0, {SPAN_K}) j(j)
        ),
        ncov AS (
          SELECT doc_id, CAST(count(*) AS INT) AS n_removed
          FROM cov GROUP BY doc_id
        ),
        tokidx AS (
          SELECT doc_id, CAST(t.idx AS INT) AS idx, t.tok FROM (
            SELECT doc_id, unnest(list_transform(
              range(1, len(ts) + 1),
              i -> struct_pack(idx := i - 1, tok := ts[i]))) AS t
            FROM tok)
        ),
        kept AS (
          SELECT t.doc_id,
                 md5(coalesce(string_agg(
                   CASE WHEN c.cov IS NULL THEN t.tok END, ' '
                   ORDER BY t.idx), '')) AS cleaned_md5
          FROM tokidx t
          LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.cov
          GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               CAST(len(d.ts) AS INT) AS n_tokens,
               COALESCE(n.n_removed, 0) AS n_removed,
               floor(COALESCE(n.n_removed, 0) * 10000.0 / len(d.ts)) / 10000
                 AS removed_ratio,
               k.cleaned_md5
        FROM tok d
        LEFT JOIN ncov n USING (doc_id)
        JOIN kept k USING (doc_id)
    """,

    "dedup_segments_within_doc": f"""
        WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
        segs AS (
          SELECT doc_id, CAST(p.p AS INT) AS pos,
                 array_to_string(ts[p.p * {SEG_TOKENS} + 1 : (p.p + 1) * {SEG_TOKENS}], ' ') AS seg
          FROM tok, range(0, 1024) p(p)
          WHERE p.p < greatest(CAST(ceil(len(ts) / {SEG_TOKENS}.0) AS INT), 1)
        ),
        firsts AS (
          SELECT doc_id, seg, min(pos) AS first_pos FROM segs GROUP BY doc_id, seg
        ),
        counts AS (
          SELECT doc_id, CAST(count(*) AS INT) AS n_segments FROM segs GROUP BY doc_id
        ),
        kept AS (
          SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
                 md5(string_agg(seg, ' ' ORDER BY first_pos)) AS kept_md5
          FROM firsts GROUP BY doc_id
        )
        SELECT c.doc_id, c.n_segments, k.n_kept, k.kept_md5
        FROM counts c JOIN kept k USING (doc_id)
    """,

    "span_duplication_ratio": f"""
        WITH {_GRAMS_CTE},
        g AS (SELECT doc_id, gram FROM grams),
        dfq AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY gram),
        per_doc AS (
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
          FROM g JOIN dfq USING (gram) GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_grams, 0) AS n_grams,
               COALESCE(p.n_shared, 0) AS n_shared_grams,
               CASE WHEN COALESCE(p.n_grams, 0) > 0
                    THEN floor(COALESCE(p.n_shared, 0) * 10000.0 / p.n_grams) / 10000
                    ELSE 0.0 END AS dup_ratio
        FROM documents d
        LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
    "decontaminate_against_benchmark": f"""
        WITH {_GRAMS_CTE},
        bench_grams AS (SELECT DISTINCT gram FROM grams WHERE bench),
        hits AS (
          SELECT g.doc_id, count(*) AS n_hits
          FROM grams g JOIN bench_grams b ON g.gram = b.gram
          WHERE NOT g.bench GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               coalesce(h.n_hits, 0) AS n_contaminated_grams,
               coalesce(h.n_hits, 0) > 0 AS is_contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE NOT ({_HASH_SQL.replace('doc_id', 'd.doc_id')} % {BENCH_MOD} = 0)
    """,
    "pack_context_windows": f"""
        WITH t AS (
          SELECT doc_id, lang, len({_TOKS_SQL}) AS n_tok,
                 {_HASH_SQL} AS h, {_HASH_SQL} % {PACK_BUCKETS} AS bucket
          FROM documents
        ),
        c AS (
          SELECT lang, bucket, n_tok,
                 sum(n_tok) OVER (PARTITION BY lang, bucket ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM t
        ),
        s AS (
          SELECT lang, bucket, n_tok,
                 CAST(floor((cum - n_tok) / {PACK_WINDOW}) AS BIGINT) AS local_seq
          FROM c
        ),
        k AS (
          SELECT lang, bucket, max(local_seq) + 1 AS n_seqs
          FROM s GROUP BY lang, bucket
        ),
        o AS (
          SELECT lang, bucket,
                 COALESCE(sum(n_seqs) OVER (PARTITION BY lang ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS off
          FROM k
        )
        SELECT s.lang, CAST(o.off + s.local_seq AS BIGINT) AS seq_id,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(floor(sum(n_tok) * 10000 / {PACK_WINDOW}) AS BIGINT) AS fill_bp
        FROM s JOIN o ON s.lang = o.lang AND s.bucket = o.bucket
        GROUP BY s.lang, seq_id
    """,
    "chunk_documents_overlap": f"""
        WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
        c AS (
          SELECT doc_id, ts,
                 unnest(range(0, 1 + greatest(0, CAST(ceil(
                   (len(ts) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT)))) AS chunk_idx
          FROM t
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(len(ts[chunk_idx * {CHUNK_STRIDE} + 1 :
                         chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS INT)
                 AS n_chunk_tokens,
               md5(array_to_string(ts[chunk_idx * {CHUNK_STRIDE} + 1 :
                                      chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' '))
                 AS chunk_md5
        FROM c
    """,
    "paragraph_dedup_corpus": f"""
        WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
        segs AS (
          SELECT doc_id, CAST(pos AS INT) AS pos,
                 array_to_string(ts[pos * {SEG_TOKENS} + 1 :
                                 pos * {SEG_TOKENS} + {SEG_TOKENS}], ' ') AS seg
          FROM (SELECT doc_id, ts,
                       unnest(range(0, CAST(ceil(len(ts) / {SEG_TOKENS}.0) AS INT))) AS pos
                FROM t)
        ),
        marked AS (
          SELECT doc_id, pos, seg,
                 row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) = 1 AS keep
          FROM segs
        )
        SELECT doc_id, count(*) AS n_segments,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               md5(coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY pos),
                            '')) AS kept_md5
        FROM marked GROUP BY doc_id
    """,
    "gopher_quality_flags": f"""
        WITH t AS (
          SELECT doc_id, list_filter({_TOKS_SQL}, x -> x <> '') AS ws FROM documents
        ),
        m AS (
          SELECT doc_id, len(ws) AS n_words,
                 floor((list_sum(list_transform(ws, x -> len(x))) / len(ws)) * 10000)
                   / 10000 AS mean_word_len,
                 floor((1 - len(list_distinct(ws)) / len(ws)) * 10000) / 10000
                   AS dup_token_frac
          FROM t
        )
        SELECT doc_id, n_words, mean_word_len, dup_token_frac,
               (n_words >= 5 AND n_words <= 100000
                AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                AND dup_token_frac <= 0.9) AS passes_gopher
        FROM m
    """,
}

# Splice the recursive-closure cluster oracle (dedup.py) into the
# keep-best-quality oracle as its `ca` CTE — one definition of the
# component labeling, shared verbatim across both members.
ORACLES["dedup_keep_best_quality"] = ORACLES["dedup_keep_best_quality"].replace(
    "{CLUSTER_SQL}", _dedup_mod.ORACLES["dedup_cluster_assign"]
)
