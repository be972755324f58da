"""Corpus curation operators: the pretraining-data pipeline stages that
sit between dedup and tokenization.

- benchmark decontamination (13-gram overlap against a held-out set),
- context-window packing (greedy sequential fill, the cumsum form),
- document chunking with overlap (RAG / long-doc splitting),
- Gopher-style per-document quality flags.

All pure JVM column expressions / window functions — no UDFs — with
DuckDB oracle twins. Determinism contracts: ordering is always
(portable hash, doc_id); ratios are rounded at the edge; integer math
everywhere else.

The operators (``overlap_chunks``, ``paragraph_segments``,
``gopher_flags``, ``quality_bands``/``banded_budget_select``, the span
core) take any frame and token column: the members run them over
``documents``, the pipeline's curation steps over the flowing frame.

Scale notes (100 TB): decontamination is a broadcast-able semi-join
when the benchmark is benchmark-sized (thousands of docs → millions of
grams, comfortably under the broadcast threshold) and degrades to a
shuffle join gracefully; packing is one window cumsum per lang
partition (state = one running sum per partition); chunking is a
map-only explode with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.llm.dedup import (
    portable_hash32,
    shingles_from_tokens,
    tokens_col,
)
from generic_data_ingestor_framework_spark.relational import load_table
from generic_data_ingestor_framework_spark.session import local_relation

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


def _floor4(col):
    """4-dp truncation: floor cannot tie, unlike round (Spark HALF_UP
    vs DuckDB differ at exact .xxxx5 rationals)."""
    return F.floor(col * 10000) / 10000


def _docs_with_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", tokens_col().alias("ts"))


def _gram_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded per-doc distinct 13-gram relation ``(doc_id, bench,
    gram)`` — feeds benchmark decontamination (both branches) and the
    span-duplication audit; persisted once per session instead of
    exploding the corpus once per call."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    toks = _docs_with_tokens(spark, sf_dir)
    is_bench = portable_hash32(F.col("doc_id").cast("string")) % BENCH_MOD == 0
    return shared_persist(
        spark,
        ("decon_grams", sf_dir, DECON_GRAM_K),
        lambda: toks.select(
            "doc_id",
            is_bench.alias("bench"),
            F.explode(shingles_from_tokens("ts", k=DECON_GRAM_K)).alias("gram"),
        ),
    )


def decontaminate_against_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 13-gram
    with the held-out benchmark set (hash-selected ~2% of the corpus —
    in production, the actual eval suites).

    Plan: distinct 13-grams on both sides; the benchmark gram set is
    broadcast (benchmark-sized, not corpus-sized); training docs LEFT
    JOIN it and count overlapping grams — zero-overlap docs keep n=0.
    This is the standard contamination audit before a pretraining run.
    """
    toks = _docs_with_tokens(spark, sf_dir)
    is_bench = portable_hash32(F.col("doc_id").cast("string")) % BENCH_MOD == 0
    grams = _gram_relation(spark, sf_dir)
    bench_grams = grams.filter("bench").select("gram").distinct()
    train = grams.filter(~F.col("bench"))
    hits = (
        train.join(F.broadcast(bench_grams), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    train_docs = toks.filter(~is_bench).select("doc_id")
    return (
        train_docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_contaminated_grams"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


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
    toks = (
        _docs_with_tokens(spark, sf_dir)
        .select("doc_id", "lang", F.size("ts").alias("n_tok"))
        .withColumn("h", portable_hash32(F.col("doc_id").cast("string")))
        .withColumn("bucket", F.col("h") % PACK_BUCKETS)
    )
    w = W.partitionBy("lang", "bucket").orderBy("h", "doc_id")
    cum = F.sum("n_tok").over(w)
    seqs = toks.withColumn(
        "local_seq", F.floor((cum - F.col("n_tok")) / PACK_WINDOW)
    )
    counts = seqs.groupBy("lang", "bucket").agg(
        (F.max("local_seq") + 1).alias("n_seqs")
    )
    w_off = (
        W.partitionBy("lang").orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "lang",
        "bucket",
        F.coalesce(F.sum("n_seqs").over(w_off), F.lit(0)).alias("off"),
    )
    return (
        seqs.join(F.broadcast(offsets), ["lang", "bucket"])
        .withColumn("seq_id", (F.col("off") + F.col("local_seq")).cast("long"))
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            # fill in basis points as exact integer math (no FP ties)
            F.floor(F.sum("n_tok") * 10000 / PACK_WINDOW).cast("long").alias("fill_bp"),
        )
    )


def overlap_chunks(
    df: DataFrame, ts_col: str, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
):
    """One row per ``chunk``-token window, every ``stride`` tokens, of
    the token array ``ts_col`` (final partial chunk kept): returns
    ``df`` with ``chunk_idx`` appended, and the chunk's tokens as a
    column over it. Map-only explode — no shuffle. The one chunking of
    ``chunk_documents_overlap`` and the pipeline's ``chunk_overlap``
    step."""
    n = F.size(ts_col)
    n_chunks = 1 + F.greatest(F.lit(0), F.ceil((n - chunk) / F.lit(float(stride))).cast("int"))
    rows = df.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    return rows, F.slice(ts_col, F.col("chunk_idx") * stride + 1, chunk)


def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-document chunking with overlap (RAG / context-split shape,
    ``overlap_chunks``); each chunk carries its md5 so content (not
    just counts) is oracle-checked.
    """
    rows, tokens = overlap_chunks(_docs_with_tokens(spark, sf_dir), "ts")
    c = rows.select("doc_id", "chunk_idx", tokens.alias("chunk"))
    return c.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").alias("n_chunk_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_md5"),
    )


def paragraph_segments(df: DataFrame, id_col: str, toks, seg: int = SEG_TOKENS) -> DataFrame:
    """CCNet-style paragraph-level dedup of the token array ``toks``:
    each row is cut into consecutive ``seg``-token segments
    (positional "paragraphs" — on real data the splitter becomes a
    newline split, same plan), and a segment occurrence survives only
    if it is the corpus-wide FIRST occurrence of its content (min (id,
    pos)). Returns ``(id, n_segments, n_kept, kept_text)``, the
    surviving segments joined in order. The one plan behind
    ``paragraph_dedup_corpus`` and the pipeline's ``paragraph_dedup``
    step.

    Plan: map-only segment explode → ONE shuffle on the segment content
    (window row_number picks the canonical occurrence) → per-id hash
    aggregate (collect_list is bounded by segments-per-row). No
    corpus×corpus join anywhere; boilerplate-heavy hot segments cost
    one window partition each, not a quadratic bucket.
    """
    # greatest(…, 1): a degenerate null/zero-size token array can never
    # feed sequence() a descending range (identical output for every
    # real row, so the oracle needs no mirror)
    n_segs = F.greatest(F.ceil(F.size("__ts") / F.lit(float(seg))).cast("int"), F.lit(1))
    segs = (
        df.select(id_col, toks.alias("__ts"))
        .select(id_col, "__ts", F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("__pos"))
        .select(
            id_col,
            "__pos",
            F.array_join(F.slice("__ts", F.col("__pos") * seg + 1, seg), " ").alias("__seg"),
        )
    )
    w = W.partitionBy("__seg").orderBy(id_col, "__pos")
    marked = segs.withColumn("__keep", F.row_number().over(w) == 1)
    kept_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.when(F.col("__keep"), F.struct("__pos", "__seg")))),
            lambda s: s["__seg"],
        ),
        " ",
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        kept_text.alias("kept_text"),
    )


def paragraph_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level dedup of ``documents``
    (``paragraph_segments``): reports per-doc segment counts and the
    md5 of the surviving text, so the gate checks reconstructed
    content, not just counts — the stage that strips boilerplate
    (headers, license blocks, navigation) repeated across a crawl."""
    d = load_table(spark, sf_dir, "documents")
    return paragraph_segments(d, "doc_id", tokens_col()).select(
        "doc_id", "n_segments", "n_kept", F.md5("kept_text").alias("kept_md5")
    )


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
    toks = _docs_with_tokens(spark, sf_dir)
    n_segs = F.greatest(
        F.ceil(F.size("ts") / F.lit(float(SEG_TOKENS))).cast("int"), F.lit(1)
    )
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda p: F.array_join(F.slice("ts", p * SEG_TOKENS + 1, SEG_TOKENS), " "),
    )
    kept = F.array_distinct(segs)
    return toks.select(
        "doc_id",
        F.size(segs).alias("n_segments"),
        F.size(kept).alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("kept_md5"),
    )


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
    g = _gram_relation(spark, sf_dir).select("doc_id", "gram")
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        g.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_shared"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_grams = F.coalesce("n_grams", F.lit(0)).cast("long")
    n_shared = F.coalesce("n_shared", F.lit(0)).cast("long")
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_shared.alias("n_shared_grams"),
            F.when(
                n_grams > 0, F.floor(n_shared * 10000.0 / n_grams) / 10000
            )
            .otherwise(0.0)
            .alias("dup_ratio"),
        )
    )


BUDGET_NUM, BUDGET_DEN = 2, 5  # select the top-quality 40% of corpus tokens


def quality_bands(df: DataFrame, id_col: str, toks) -> DataFrame:
    """``(id, n_tok, band)``: each row's token count and its heuristic
    quality (shared ``_quality_expr`` over the token array ``toks``,
    6-dp rounded) as the exact integer ``band = round(quality·1e6)`` in
    [0, 1e6]."""
    from generic_data_ingestor_framework_spark.llm.textstats import _quality_expr

    # materialize the token array BEFORE the quality lambda: Catalyst
    # re-inlines aliased expressions into HOF lambda bodies, re-running
    # the regex split per element otherwise (see dedup.py:66-70)
    return df.select(id_col, toks.alias("__ts")).select(
        id_col,
        F.size("__ts").alias("n_tok"),
        F.round(F.round(_quality_expr("__ts"), 6) * 1e6).cast("bigint").alias("band"),
    )


def band_totals(banded: DataFrame) -> list[tuple[int, int, int]]:
    """The driver-sized ``[(band, total_tokens, n_rows)]`` relation of
    ``quality_bands`` rows: at most 1e6+1 rows at ANY data size."""
    return [
        (int(r["band"]), int(r["toks"]), int(r["docs"]))
        for r in banded.groupBy("band")
        .agg(F.sum("n_tok").alias("toks"), F.count(F.lit(1)).alias("docs"))
        .collect()
    ]


def banded_budget_select(
    banded: DataFrame, id_col: str, band_rows: list, num: int, den: int
) -> DataFrame:
    """The two-level banded-cumsum selection, shared by the corpus
    member and the pipeline step: keeps the best ``quality_bands``
    rows (``banded``) until ``num/den`` of all tokens are spent, by
    ``band_rows`` (``band_totals``). Bands that start past the budget
    are pruned before any row-level work; the row-level windows run
    PARTITIONED by band with driver-computed offsets added — no global
    sort at any data size. Returns the selected rows annotated with
    ``cum_tokens`` and ``sel_rank``."""
    budget = sum(t for _, t, _ in band_rows) * num // den
    offs, tok_off, rank_off = [], 0, 0
    for band, toks, docs in sorted(band_rows, reverse=True):
        if tok_off < budget:  # bands starting past the budget can't contribute
            offs.append((band, tok_off, rank_off))
        tok_off += toks
        rank_off += docs
    offs_df = local_relation(
        banded.sparkSession, offs, "band bigint, tok_off bigint, rank_off bigint"
    )
    wc = (
        W.partitionBy("band")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wr = W.partitionBy("band").orderBy(id_col)
    return (
        banded.join(F.broadcast(offs_df), "band")
        .withColumn(
            "cum_tokens",
            (F.sum("n_tok").over(wc) + F.col("tok_off")).cast("bigint"),
        )
        .withColumn(
            "sel_rank", (F.row_number().over(wr) + F.col("rank_off")).cast("int")
        )
        .filter(F.col("cum_tokens") <= budget)
    )


def corpus_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: rank documents by heuristic
    quality (shared ``_quality_expr`` formula) and keep the best docs
    until the cumulative token count reaches a budget — here 40% of
    the corpus — the data-selection step that decides what a training
    run actually reads.

    Scale shape: a naive global ORDER BY quality + running-sum window
    is a single-partition sort at 100 TB. This runs the TWO-LEVEL
    cumsum instead (``banded_budget_select``): quality is 6-dp rounded,
    so its band is an exact integer; per-band token totals give each
    band's prefix offset on the driver, and the row-level window runs
    PARTITIONED by band with the offset added — no global sort ever
    happens. The DuckDB oracle computes the same selection with the
    naive global window, pinning the decomposition's equivalence."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    d = load_table(spark, sf_dir, "documents")
    banded = quality_bands(d, "doc_id", tokens_col())
    band_rows = shared_value(spark, ("qsel_bands", sf_dir), lambda: band_totals(banded))
    return banded_budget_select(banded, "doc_id", band_rows, BUDGET_NUM, BUDGET_DEN).select(
        "doc_id",
        # band/1e6 is round(quality, 6) exactly: the double nearest the
        # same 6-dp decimal
        (F.col("band") / 1e6).alias("quality"),
        F.col("n_tok").alias("n_tokens"),
        "cum_tokens",
        "sel_rank",
    )


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: within each connected
    near-duplicate cluster (``dedup_cluster_assign``'s components over
    the MinHash-LSH graph), keep the HIGHEST-quality member instead of
    the min-id — the choice real curation makes (of N copies of an
    article, keep the longest / cleanest one).

    Scale shape: rides the session-persisted cluster labels; quality
    is a map-only projection; the argmax is one window partitioned by
    cluster (clusters are near-dup families — bounded, never
    corpus-sized partitions)."""
    from pyspark.sql import Window as W

    from generic_data_ingestor_framework_spark.llm.dedup import dedup_cluster_assign
    from generic_data_ingestor_framework_spark.llm.textstats import _quality_expr

    ca = dedup_cluster_assign(spark, sf_dir).select("doc_id", "cluster_id")
    q = _docs_with_tokens(spark, sf_dir).select(
        "doc_id", F.round(_quality_expr("ts"), 6).alias("quality")
    )
    j = ca.join(q, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.desc("quality"), "doc_id")
    wc = W.partitionBy("cluster_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id", F.col("doc_id").alias("keep_id"), "quality", "n_members"
        )
    )


SPAN_K = DECON_GRAM_K  # duplicated-span gram width (13 tokens)


# --- shared span-removal core (one definition for the corpus member
# AND the pipeline step — a fix in one cannot silently miss the other)

def pos_grams_from_tokens(tokens_df: DataFrame, id_col: str, ts_col: str, k: int) -> DataFrame:
    """``(id, ts)`` → ``(id, pos, gram)``: every k-gram occurrence with
    its 0-based token offset (no rows for docs shorter than k)."""
    n = F.size(ts_col)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda p: F.array_join(F.slice(ts_col, p + 1, k), " "),
    )
    gs = F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))
    return tokens_df.select(id_col, F.posexplode(gs).alias("pos", "gram"))


def span_coverage(pg: DataFrame, id_col: str, k: int, min_occ: int = 2) -> DataFrame:
    """``(id, pos, gram)`` → ``(id, cov array<int>)``: token offsets
    covered by any gram occurring ≥ ``min_occ`` times corpus-wide.

    The doc-side aggregate collects only the START offset of each
    duplicated posting (one int) and expands to the k-wide covered
    range map-side AFTER the shuffle — the r8 shape exploded
    ``sequence(pos, pos+k-1)`` BEFORE the shuffle, moving k×13 ints
    per posting through the exchange and the hash-aggregate for the
    identical result (sf1: the worst family ratio in BENCH_SF1, 4.61).
    Per-doc state is bounded by doc length at any corpus size."""
    dup = (
        pg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_occ)
        .select("gram")
    )
    starts = (
        pg.join(dup, "gram")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("starts"))
    )
    cov = F.array_distinct(
        F.flatten(
            F.transform("starts", lambda s: F.sequence(s, s + k - 1))
        )
    )
    return starts.select(id_col, cov.alias("cov"))


def cut_covered_tokens(tokens_df: DataFrame, cov_df: DataFrame, id_col: str, ts_col: str):
    """Left-join coverage onto ``(id, ts)``; returns the joined frame
    (``cov`` coalesced to empty) and the kept-tokens array column.

    Kept positions come from ``array_except(sequence(0, n-1), cov)``
    (hash-set membership, O(len + |cov|) per doc) followed by an O(1)
    ``element_at`` per survivor — NOT a per-token ``array_contains``
    scan, which would be O(len x |cov|) and quadratic for long,
    heavily-duplicated documents."""
    joined = tokens_df.join(cov_df, id_col, "left").withColumn(
        "cov", F.coalesce("cov", F.array().cast("array<int>"))
    )
    n = F.size(ts_col)
    # guard n=0: sequence(0, -1) would DESCEND ([0, -1]), not be empty
    kept_pos = F.when(
        n > 0, F.array_except(F.sequence(F.lit(0), n - 1), F.col("cov"))
    ).otherwise(F.array().cast("array<int>"))
    kept = F.transform(kept_pos, lambda p: F.element_at(F.col(ts_col), p + 1))
    return joined, kept


def _pos_gram_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL 13-gram relation ``(doc_id, pos, gram)`` — unlike
    ``_gram_relation`` (distinct grams, for membership tests), this
    keeps every occurrence with its 0-based token offset so span
    REMOVAL can map duplicated grams back to covered token ranges.
    Persisted once per session, PRE-PARTITIONED on ``gram``: both
    consumers (the occurrence count and the duplicated-gram join in
    ``span_coverage``) key on gram, so paying one hash exchange at
    build time makes every warm agg/join over the corpus-scale
    relation zero-exchange and co-partitioned (the hot planted-gram
    skew never re-shuffles)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    toks = _docs_with_tokens(spark, sf_dir).select("doc_id", "ts")
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return shared_persist(
        spark,
        ("span_pos_grams", sf_dir),
        lambda: pos_grams_from_tokens(toks, "doc_id", "ts", SPAN_K).repartition(
            npart, "gram"
        ),
    )


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
    covered = span_coverage(_pos_gram_relation(spark, sf_dir), "doc_id", SPAN_K)
    toks = _docs_with_tokens(spark, sf_dir).select("doc_id", "ts")
    joined, kept = cut_covered_tokens(toks, covered, "doc_id", "ts")
    n = F.size("ts")
    return joined.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size("cov").alias("n_removed"),
        (F.floor(F.size("cov") * 10000.0 / n) / 10000).alias("removed_ratio"),
        F.md5(F.array_join(kept, " ")).alias("cleaned_md5"),
    )


# the Gopher rule's default bounds (``gopher_flags``)
GOPHER_BOUNDS = {
    "min_words": 5,
    "max_words": 100000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "max_dup_token_frac": 0.9,
}


def gopher_flags(toks, **bounds):
    """Gopher-style repetition/shape flags of the token array ``toks``:
    ``(n_words, mean_word_len, dup_token_frac, passes)`` columns — word
    count band, mean word length band, duplicate-token fraction cap,
    combined into one keep/drop boolean. ``bounds`` override
    ``GOPHER_BOUNDS``. The fractions are 4-dp floored before they are
    compared (the cross-engine contract). The one rule of
    ``gopher_quality_flags`` and the pipeline's ``quality_filter``
    step."""
    b = {**GOPHER_BOUNDS, **bounds}
    words = F.filter(toks, lambda t: t != "")
    n_words = F.size(words)
    sum_len = F.aggregate(words, F.lit(0), lambda acc, t: acc + F.length(t))
    # a row with no words has no mean and no fraction (NULL, not a
    # division-by-zero failure of the whole query), and fails the gate
    mean_len = _floor4(F.try_divide(sum_len, n_words))
    dup_frac = _floor4(1 - F.try_divide(F.size(F.array_distinct(words)), n_words))
    passes = (
        (n_words >= b["min_words"])
        & (n_words <= b["max_words"])
        & (mean_len >= b["min_mean_word_len"])
        & (mean_len <= b["max_mean_word_len"])
        & (dup_frac <= b["max_dup_token_frac"])
    )
    return n_words, mean_len, dup_frac, passes


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality flags per document (``gopher_flags``)."""
    n_words, mean_len, dup_frac, passes = gopher_flags(F.col("ts"))
    return _docs_with_tokens(spark, sf_dir).select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        dup_frac.alias("dup_token_frac"),
        passes.alias("passes_gopher"),
    )


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
