"""Declarative pipeline runner: the reference's scan→parse→normalize→
save workflow (`src/core/application.py:36-153`) generalized into a
composable, data-driven pipeline over this engine's operators.

A pipeline is a plain dict (JSON/YAML-friendly):

    {
      "source": {"type": "directory", "path": "data/", "mode": "bulk"},
      "steps": [
        {"op": "filter", "where": "n_chars > 10"},
        {"op": "redact_pii", "column": "text"},
        {"op": "dedup_exact", "key": "text", "order_by": "doc_id"},
        {"op": "sample_hash", "key": "doc_id", "mod": 10, "keep": 0},
        {"op": "sql", "query": "SELECT doc_id, lang FROM __df__"},
      ],
      "sink": {"type": "parquet", "path": "out/"},
    }

A ``directory`` source takes ``ingest_directory``'s options. Its
``mode`` only groups files into reads: ``"parity"`` (the default) or
``"bulk"`` (one read per format, where a malformed JSON document is
dropped instead of failing its file); ``text_parity`` (default true)
and ``schema_mode`` apply in both.

Each curation step runs the operator its registry member runs, over
the flowing frame instead of ``documents``, plus the step's parameter
checks and column rewrite — one definition per operator:

    redact_pii         llm.sampling.pii_redacted_sql       (redact_pii)
    chunk_overlap      llm.curate.overlap_chunks_sql       (chunk_documents_overlap)
    quality_filter     llm.curate.gopher_flags_sql         (gopher_quality_flags)
    repetition_filter  llm.textstats.top_bigrams           (doc_topgram_mass)
    paragraph_dedup    llm.curate.paragraph_segments_sql   (paragraph_dedup_corpus)
    remove_dup_spans   llm.curate.span_cut_sql & co.       (remove_duplicated_spans)
    select_budget      llm.curate.budget_select_sql        (corpus_select_budget)
    weighted_sample    llm.sampling.quality_weight_bp_sql  (quality_weighted_sample)
    bpe_tokenize       llm.tokenize.word_freqs             (the BPE trainers)

``lm_filter`` fits its unigram LM per frame (the member
``lm_unigram_score`` memoizes one per corpus) and ``decontaminate``
joins against a benchmark source; both share only the tokenizer
(``dedup.tokens_col``) and, for the latter, ``shingles_from_tokens``.

Everything stays lazy until the sink: the whole pipeline is ONE Spark
plan, so Catalyst pushes filters into the source scan and prunes
columns across step boundaries — steps are logical, not materialized
stages. ``run_pipeline`` returns (DataFrame, manifest); the manifest
records the resolved steps and, when ``profile=True``, per-step row
counts (each count is an extra job — off by default for the 100 TB
path).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark import sink as sink_mod
from generic_data_ingestor_framework_spark.ingest import ingest_directory
from generic_data_ingestor_framework_spark.llm.dedup import (
    ident_sql, portable_hash32, text_ident_sql, tokens_col, tokens_sql,
)
from generic_data_ingestor_framework_spark.normalize import (
    flatten_dot_paths,
    normalize_text_parity,
)
from generic_data_ingestor_framework_spark.relational import _sql

StepFn = Callable[[DataFrame, dict], DataFrame]


def _step_filter(df: DataFrame, p: dict) -> DataFrame:
    return df.filter(p["where"])


def _step_select(df: DataFrame, p: dict) -> DataFrame:
    return df.select(*p["columns"])


def _step_rename(df: DataFrame, p: dict) -> DataFrame:
    return df.withColumnsRenamed(p["mapping"])


def _step_normalize_text(df: DataFrame, p: dict) -> DataFrame:
    return normalize_text_parity(df, p.get("columns"))


def _step_flatten(df: DataFrame, p: dict) -> DataFrame:
    return flatten_dot_paths(df)


def _step_dedup_exact(df: DataFrame, p: dict) -> DataFrame:
    """Keep one row per ``key`` value, first by ``order_by``."""
    w = W.partitionBy(p["key"]).orderBy(*[F.col(c) for c in p.get("order_by", "").split(",") if c] or [F.col(p["key"])])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _step_sample_hash(df: DataFrame, p: dict) -> DataFrame:
    """Deterministic hash-mod sample (engine-portable membership)."""
    h = portable_hash32(F.col(p["key"]).cast("string"))
    return df.filter(h % int(p["mod"]) == int(p.get("keep", 0)))


def _step_redact_pii(df: DataFrame, p: dict) -> DataFrame:
    from generic_data_ingestor_framework_spark.llm.sampling import pii_redacted_sql

    return df.withColumn(p["column"], F.expr(pii_redacted_sql(ident_sql(p["column"]))))


def _step_with_column(df: DataFrame, p: dict) -> DataFrame:
    return df.withColumn(p["name"], F.expr(p["expr"]))


def _step_repartition(df: DataFrame, p: dict) -> DataFrame:
    cols = p.get("by", [])
    return df.repartition(int(p["n"]), *cols) if cols else df.repartition(int(p["n"]))


def _step_sql(df: DataFrame, p: dict) -> DataFrame:
    """Arbitrary SQL over the running frame (registered as __df__)."""
    df.createOrReplaceTempView("__df__")
    return df.sparkSession.sql(p["query"])


def _step_join(df: DataFrame, p: dict) -> DataFrame:
    """Enrich against another source; ``broadcast: true`` hints the
    enrichment side (the common dimension-lookup case)."""
    other = _load_source(df.sparkSession, p["source"])
    if p.get("broadcast", False):
        other = F.broadcast(other)
    return df.join(other, p["on"], p.get("how", "inner"))


def _step_union(df: DataFrame, p: dict) -> DataFrame:
    other = _load_source(df.sparkSession, p["source"])
    return df.unionByName(other, allowMissingColumns=p.get("allow_missing", True))


def _with_blank_rows(
    df: DataFrame, col: str, step: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """``step`` over the rows whose ``col`` holds a token; rows whose
    ``col`` is NULL or blank carry nothing to score or deduplicate and
    pass through UNCHANGED (unioned back, not silently dropped)."""
    is_blank = F.col(col).isNull() | (F.trim(F.col(col)) == "")
    return step(df.filter(~is_blank)).unionByName(df.filter(is_blank))


def _step_chunk_overlap(df: DataFrame, p: dict) -> DataFrame:
    """Split ``column`` into strided overlap chunks
    (``llm.curate.overlap_chunks_sql`` over the case-preserving
    whitespace split); the text column is REPLACED by the chunk text and
    ``chunk_idx`` is appended — downstream steps see chunk-level rows."""
    from generic_data_ingestor_framework_spark.llm.curate import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        overlap_chunks_sql,
    )

    col = p.get("column", "text")
    chunk, stride = int(p.get("chunk", CHUNK_TOKENS)), int(p.get("stride", CHUNK_STRIDE))
    src = rf"(SELECT *, split({text_ident_sql(col)}, '\\s+') AS __ts FROM {{df}})"
    df = df.drop("chunk_idx", "__ts", "__chunk")  # the step's own columns are replaced
    rows = _sql(df.sparkSession, "", overlap_chunks_sql(src, "__ts", chunk, stride), df=df)
    return rows.withColumn(col, F.array_join("__chunk", " ")).drop("__ts", "__chunk")


def _step_quality_filter(df: DataFrame, p: dict) -> DataFrame:
    """Gopher-style keep/drop gate on ``column``
    (``llm.curate.gopher_flags_sql``: word count band, mean word length
    band, duplicate-token fraction cap); each bound is a parameter of
    the same name."""
    from generic_data_ingestor_framework_spark.llm.curate import GOPHER_BOUNDS, gopher_flags_sql

    bounds = {k: type(v)(p[k]) for k, v in GOPHER_BOUNDS.items() if k in p}
    *_, passes = gopher_flags_sql(tokens_sql(ident_sql(p.get("column", "text"))), **bounds)
    return df.filter(F.expr(passes))


def _step_repetition_filter(df: DataFrame, p: dict) -> DataFrame:
    """Gopher top-n-gram mass gate: drop rows whose single most frequent
    bigram accounts for more than ``max_top_bigram_frac`` of bigram
    positions (phrase-looping spam the bag-level dup-token cap misses).
    Rows with fewer than 2 tokens have no bigrams and pass. The
    bigrams are ``llm.textstats.top_bigrams``, joined back by ``id``
    (LEFT join + null-pass, so short rows are kept without a second
    pass over the text)."""
    from generic_data_ingestor_framework_spark.llm.textstats import (
        TOPGRAM_COLUMNS,
        top_bigrams,
    )

    col = p.get("column", "text")
    idc = p["id"]
    if {idc, col} & (TOPGRAM_COLUMNS | {"__top_frac"}):
        raise ValueError(
            f"column {idc!r}/{col!r} collides with repetition-filter internals"
        )
    cap = float(p.get("max_top_bigram_frac", 0.2))
    if not 0 < cap <= 1:
        raise ValueError(f"max_top_bigram_frac must be in (0, 1]; got {cap}")
    frac = top_bigrams(df, idc, tokens_col(col)).select(
        idc, (F.col("top_count") / F.col("n_bigrams")).alias("__top_frac")
    )
    return (
        df.join(frac, idc, "left")
        .filter(F.col("__top_frac").isNull() | (F.col("__top_frac") <= cap))
        .select(*df.columns)
    )


def _step_weighted_sample(df: DataFrame, p: dict) -> DataFrame:
    """Quality-weighted Bernoulli sampling: each row survives with
    probability proportional to the shared heuristic quality of
    ``column`` — integer basis points + salted portable md5 hash of
    ``id`` (deterministic across engines, partitionings, and reruns;
    same contract as ``llm.sampling.quality_weighted_sample``). ``salt``
    decorrelates from other hash-based selections in the same spec."""
    from generic_data_ingestor_framework_spark.llm.sampling import (
        quality_weight_bp_sql,
        salted_hash_sql,
    )

    h = salted_hash_sql(ident_sql(p["id"]), str(p.get("salt", "q")))
    weight = quality_weight_bp_sql(tokens_sql(ident_sql(p.get("column", "text"))))
    return df.filter(F.expr(f"{h} % 10000 < {weight}"))


def _step_lm_filter(df: DataFrame, p: dict) -> DataFrame:
    """Unigram-LM quality gate: fit a Laplace-smoothed unigram LM over
    THIS dataset's ``column`` and drop rows whose token cross-entropy
    exceeds ``max_xent`` (rare/garbled token soup scores high; see
    ``llm.textstats.lm_unigram_score`` for the corpus-level member,
    which memoizes its LM per corpus). The LM is one hash-aggregate
    over the exploded token relation, broadcast back for scoring — two
    shuffles total, no driver-side model beyond the two scalar counts.
    Rows with no tokens have no cross-entropy and pass through."""
    col = p.get("column", "text")
    idc = p["id"]
    max_xent = float(p.get("max_xent", 12.0))

    def gate(df: DataFrame) -> DataFrame:
        toks = (
            df.select(idc, F.explode(tokens_col(col)).alias("__tok"))
            .filter(F.col("__tok") != "")
            .groupBy(idc, "__tok")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        lm = toks.groupBy("__tok").agg(F.sum("__n").alias("__c"))
        sc = lm.agg(F.sum("__c").alias("N"), F.count(F.lit(1)).alias("V")).collect()[0]
        if sc["N"] is None:  # zero tokens anywhere: nothing scoreable
            return df
        denom = float(sc["N"] + sc["V"])
        lp = F.log((F.col("__c") + 1.0) / F.lit(denom))
        keep = (
            toks.join(F.broadcast(lm.select("__tok", lp.alias("__lp"))), "__tok")
            .groupBy(idc)
            .agg((-F.sum(F.col("__n") * F.col("__lp")) / F.sum("__n")).alias("__xent"))
            .filter(F.col("__xent") <= max_xent)
            .select(idc)
        )
        return df.join(keep, idc, "semi")

    return _with_blank_rows(df, col, gate)


def _step_decontaminate(df: DataFrame, p: dict) -> DataFrame:
    """Drop rows whose ``column`` shares any k-gram with the benchmark
    source (anti-join against a broadcast benchmark gram set)."""
    from generic_data_ingestor_framework_spark.llm.curate import DECON_GRAM_K
    from generic_data_ingestor_framework_spark.llm.dedup import shingles_from_tokens

    col = p.get("column", "text")
    idc = p["id"]
    k = int(p.get("k", DECON_GRAM_K))
    bench = _load_source(df.sparkSession, p["benchmark"])
    bcol = p.get("benchmark_column", col)
    bgrams = (
        bench.select(tokens_col(bcol).alias("__ts"))
        .select(F.explode(shingles_from_tokens("__ts", k=k)).alias("gram"))
        .distinct()
    )
    hit_ids = (
        df.select(idc, tokens_col(col).alias("__ts"))
        .select(idc, F.explode(shingles_from_tokens("__ts", k=k)).alias("gram"))
        .join(F.broadcast(bgrams), "gram", "semi")
        .select(idc)
        .distinct()
    )
    return df.join(hit_ids, idc, "anti")


def _step_paragraph_dedup(df: DataFrame, p: dict) -> DataFrame:
    """CCNet-style cross-corpus paragraph dedup over ``column``
    (``llm.curate.paragraph_segments_sql``, the plan of
    ``paragraph_dedup_corpus``): cut rows into ``seg``-token segments,
    keep only the corpus-wide first occurrence of each segment's
    content (min (id, pos)), and rewrite the column to the surviving
    text. Rows left with no surviving segments are dropped
    (fully-boilerplate documents); NULL or blank rows pass through
    unchanged."""
    from generic_data_ingestor_framework_spark.llm.curate import (
        SEG_TOKENS,
        paragraph_segments_sql,
    )

    col = p.get("column", "text")
    idc = p["id"]
    if idc in _PARAGRAPH_RESERVED:
        raise ValueError(f"id column {idc!r} collides with paragraph-dedup internals")
    seg_n = int(p.get("seg", SEG_TOKENS))

    def dedup(df: DataFrame) -> DataFrame:
        text = paragraph_segments_sql("{df}", idc, tokens_sql(text_ident_sql(col)), seg_n)
        return _rewrite(df, idc, col, _sql(df.sparkSession, "", text, df=df).select(idc, "kept_text"))

    return _with_blank_rows(df, col, dedup)


def _step_bpe_tokenize(df: DataFrame, p: dict) -> DataFrame:
    """Tokenize ``column`` with BPE merges learned IN the pipeline:
    either from a provided ``corpus`` source (``{"type": "parquet"|
    "directory", ...}``) or from the flowing frame itself. Adds the
    ``bpe_tokens`` subword array column (pure projection — the learned
    merge table is driver-held, ``n_merges`` rows). The scale split is
    the same as ``llm.tokenize``: merge learning runs over the members'
    vocab-sized word-frequency relation (``word_freqs``), application
    is map-only."""
    from generic_data_ingestor_framework_spark.llm.tokenize import (
        BPE_MERGES,
        encode_with_merges,
        train_from_words_batched,
        word_freqs,
    )

    col = p.get("column", "text")
    n_merges = int(p.get("n_merges", BPE_MERGES))
    src = _load_source(df.sparkSession, p["corpus"]) if "corpus" in p else df
    merges = train_from_words_batched(word_freqs(src, col).localCheckpoint(), n_merges, batch_m=1)
    return encode_with_merges(df, merges, column=col)


# Internal working-column names per step: an id (or data) column with one
# of these names would yield a confusing duplicate-column failure deep in
# the plan, so both steps reject them up front (includes the __ts/__clean
# temporaries, not just the span-core outputs).
_SPAN_RESERVED = frozenset({"pos", "gram", "cov", "__ts", "__clean"})
_BUDGET_RESERVED = frozenset({"band", "n_tok", "cum_tokens", "sel_rank", "__ts"})
_PARAGRAPH_RESERVED = frozenset(
    {"n_segments", "n_kept", "kept_text", "__ts", "__pos", "__seg", "__keep"}
)


def _rewrite(df: DataFrame, idc: str, col: str, new_text: DataFrame) -> DataFrame:
    """``df`` with ``col`` replaced by the text of ``new_text``'s
    ``(id, text)`` rows, joined on the id; rows left empty are dropped."""
    return (
        df.drop(col)
        .join(new_text.toDF(idc, col), idc)
        .filter(F.col(col) != "")
        .select(*df.columns)
    )


def _step_remove_dup_spans(df: DataFrame, p: dict) -> DataFrame:
    """Cross-corpus duplicated-SPAN removal over ``column`` (Lee et al.
    2022): any ``k``-token gram occurring ≥``min_occ`` times corpus-wide
    marks its token range; covered tokens are cut and the column is
    rewritten to the surviving text. Rows left empty (fully-duplicated
    text) are dropped; NULL/blank rows pass through unchanged — the
    same contracts as ``paragraph_dedup``. The gram/coverage/rebuild
    core is the SAME text as ``llm.curate.remove_duplicated_spans``
    (``pos_grams_sql`` / ``span_cut_sql``), so the operator and the step
    cannot drift."""
    from generic_data_ingestor_framework_spark.llm.curate import (
        SPAN_K,
        pos_grams_sql,
        span_cut_sql,
    )

    col = p.get("column", "text")
    idc = p["id"]
    if idc in _SPAN_RESERVED:
        raise ValueError(f"id column {idc!r} collides with span-removal internals")
    k = int(p.get("k", SPAN_K))
    min_occ = int(p.get("min_occ", 2))
    if k < 1:
        raise ValueError(f"k must be >= 1 (k=0 makes every gram empty-equal); got {k}")
    if min_occ < 2:
        raise ValueError(f"min_occ must be >= 2 (1 would cut every token); got {min_occ}")

    def cut(df: DataFrame) -> DataFrame:
        base = f"(SELECT {text_ident_sql(idc)}, {tokens_sql(text_ident_sql(col))} AS __ts FROM {{df}})"
        pg = f"({pos_grams_sql(base, idc, '__ts', k)})"
        cut = _sql(df.sparkSession, "", span_cut_sql(base, pg, idc, "__ts", k, min_occ), df=df)
        return _rewrite(df, idc, col, cut.select(idc, F.array_join("kept", " ")))

    return _with_blank_rows(df, col, cut)


def _step_select_budget(df: DataFrame, p: dict) -> DataFrame:
    """Token-budget selection: keep the highest-quality rows (shared
    ``quality_sql`` heuristic over ``column``) until ``frac`` of the
    dataset's tokens are spent, by the plan of
    ``llm.curate.corpus_select_budget`` (``budget_select_sql``) — per-band
    totals are a bounded relation, so no global sort of rows exists;
    rows keep their original columns. NULL/blank rows cannot be
    quality-scored and pass through unchanged."""
    from generic_data_ingestor_framework_spark.llm.curate import (
        band_offsets_sql,
        budget_select_sql,
        quality_bands_sql,
    )

    col = p.get("column", "text")
    idc = p["id"]
    frac = float(p.get("frac", 0.4))
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1]; got {frac}")
    if idc in _BUDGET_RESERVED:
        raise ValueError(f"id column {idc!r} collides with selection internals")

    def select(df: DataFrame) -> DataFrame:
        banded = f"({quality_bands_sql('{df}', idc, tokens_sql(text_ident_sql(col)))})"
        offsets = f"({band_offsets_sql(banded, *frac.as_integer_ratio())})"
        sel = _sql(df.sparkSession, "", budget_select_sql(banded, offsets, idc), df=df)
        return df.join(sel.select(idc), idc, "semi")

    return _with_blank_rows(df, col, select)


def _step_dedup_near_index(df: DataFrame, p: dict) -> DataFrame:
    """Cross-run NEAR-duplicate dedup against a PERSISTED band index —
    the crawl loop as a pipeline step::

        {"op": "dedup_near_index", "root": "/idx/corpus_band_index",
         "id": "doc_id", "text": "text", "update": true,
         "admitted_table": "run42_admitted"}

    Rows whose MinHash band is already claimed by the index (or by a
    smaller-id row in this batch) are dropped; rows with no shingles
    are not admitted. With ``update`` the admitted rows are first
    WRITTEN to ``admitted_table`` (each crawl's durable output — and
    it pins the probe result against the index append that follows),
    then their bands append to the index at generation 0 under the
    batch tag ``admitted_table``, so tomorrow's run sees them. The
    index must exist (``save_band_index_versioned`` seeds it).

    Retry contract: ``admitted_table`` names THIS crawl run. If it
    already exists — in this session's catalog or left under the
    warehouse by an earlier process (``sink.attach_table``) — the run
    is treated as (at least partially) complete: recomputing the probe
    would reject every doc the first attempt admitted (their bands are
    in the index) and overwrite the durable output with an empty
    frame. The step re-writes the recorded admissions' batch instead,
    which replaces itself under the same tag: a retry after a crash in
    EITHER half converges, and a re-execution of an already-completed
    spec leaves the index's effective rows unchanged. Once a compaction
    has folded that batch into the base, a re-execution re-appends rows
    the base holds: probes ignore them (they match distinct keys) and
    the next compaction drops them. See
    ``llm/dedup.py`` ``band_index_crawl`` — the driver-gated member
    exercising this cycle."""
    from generic_data_ingestor_framework_spark.fileops import sf_tag
    from generic_data_ingestor_framework_spark.llm.dedup import (
        dedup_against_band_index_versioned,
        supersede_band_index,
    )

    spark = df.sparkSession
    root = p["root"]
    id_col = p.get("id", "doc_id")
    text_col = p.get("text", "text")
    if not p.get("update"):
        return dedup_against_band_index_versioned(spark, df, root, id_col, text_col)
    out_tbl = p.get("admitted_table") or f"{sf_tag(root.rsplit('/', 1)[-1])}_admitted"
    if not (spark.catalog.tableExists(out_tbl) or sink_mod.attach_table(spark, out_tbl)):
        dedup_against_band_index_versioned(
            spark, df, root, id_col, text_col
        ).write.saveAsTable(out_tbl)
    admitted = spark.table(out_tbl)
    supersede_band_index(spark, admitted, root, out_tbl, 0, id_col, text_col)
    return admitted


def _ann_vectors(df: DataFrame, p: dict) -> DataFrame:
    """The step's (vec_id, v array<double>) rows from its ``id`` and
    ``vec`` columns."""
    from generic_data_ingestor_framework_spark.llm.similarity import _as_double

    return df.select(
        F.col(p.get("id", "vec_id")).alias("vec_id"),
        _as_double(p.get("vec", "embedding")).alias("v"),
    )


def _step_ann_append(df: DataFrame, p: dict) -> DataFrame:
    """Append this frame's embedding vectors to a PERSISTED ANN index
    without retraining — the vector-side crawl step next to
    ``dedup_near_index``::

        {"op": "ann_append", "root": "/idx/ann_corpus",
         "batch_tag": "crawl42", "id": "vec_id", "vec": "embedding"}

    New rows are assigned to their nearest SAVED IVF centroid and
    encoded against the SAVED PQ codebooks (``append_ann_index``). The
    step passes the frame through unchanged, so it composes anywhere in
    a pipeline (typically after dedup/quality steps have picked the
    admitted rows).

    Retry contract: ``batch_tag`` names THIS crawl run — the append
    writes a per-tag overwrite-mode batch and recomputes the meta count
    from stored data, so a crashed-and-rerun spec replaces its own
    batch instead of duplicating rows. Compact periodically
    (``ann_auto_compact``) to fold accumulated batches into the
    cell-partitioned base."""
    from generic_data_ingestor_framework_spark.llm.similarity import append_ann_index

    append_ann_index(df.sparkSession, _ann_vectors(df, p), p["root"], p["batch_tag"])
    return df


def _step_ann_supersede(df: DataFrame, p: dict) -> DataFrame:
    """Register this frame's vectors as RE-CRAWLED CHANGED content in a
    persisted ANN index (``supersede_ann_index``) — the delete/supersede
    crawl step next to ``ann_append``::

        {"op": "ann_supersede", "root": "/idx/ann_corpus",
         "batch_tag": "crawl43", "gen": 3, "id": "vec_id",
         "vec": "embedding"}

    Ids MAY overlap the indexed set; rows are re-encoded against the
    SAVED quantizers at generation ``gen`` and probes stop serving the
    old vectors immediately (latest-generation-wins). ``gen`` must
    exceed every generation previously written for these ids — the
    crawl loop's monotonic batch counter. Pass-through frame; same
    per-tag overwrite retry contract as ``ann_append``; compaction
    drops superseded rows physically."""
    from generic_data_ingestor_framework_spark.llm.similarity import supersede_ann_index

    supersede_ann_index(
        df.sparkSession, _ann_vectors(df, p), p["root"], p["batch_tag"], int(p["gen"])
    )
    return df


def _step_ann_delete(df: DataFrame, p: dict) -> DataFrame:
    """Tombstone this frame's ids out of a persisted ANN index
    (``delete_ann_index_ids``) — the 'document gone' crawl signal::

        {"op": "ann_delete", "root": "/idx/ann_corpus",
         "batch_tag": "crawl43_gone", "gen": 4, "id": "vec_id"}

    Probes stop serving the ids immediately; compaction drops their
    rows physically. Pass-through frame; per-tag overwrite retries."""
    from generic_data_ingestor_framework_spark.llm.similarity import (
        delete_ann_index_ids,
    )

    ids = df.select(F.col(p.get("id", "vec_id")).alias("vec_id"))
    delete_ann_index_ids(df.sparkSession, ids, p["root"], p["batch_tag"], int(p["gen"]))
    return df


def _step_band_supersede(df: DataFrame, p: dict) -> DataFrame:
    """Register this frame's documents as RE-CRAWLED CHANGED content in
    a band index (``supersede_band_index``)::

        {"op": "band_supersede", "root": "/idx/corpus_band_index",
         "batch_tag": "recrawl43", "gen": 2, "id": "doc_id",
         "text": "text"}

    The docs' new bands land at generation ``gen``; their old bands
    stop matching immediately and are physically dropped at
    compaction. A re-run replaces its own batch (per-tag overwrite).
    Pass-through frame."""
    from generic_data_ingestor_framework_spark.llm.dedup import supersede_band_index

    supersede_band_index(
        df.sparkSession, df, p["root"], p["batch_tag"], int(p["gen"]),
        p.get("id", "doc_id"), p.get("text", "text"),
    )
    return df


def _step_scd2_apply(df: DataFrame, p: dict) -> DataFrame:
    """Apply this frame as an SCD2 update batch to a DIMENSION HISTORY
    table (``relational.scd2_apply_table``) — the dimension twin of the
    index supersede/delete steps::

        {"op": "scd2_apply", "table": "dim_customer_hist",
         "key": "c_custkey", "attrs": ["c_mktsegment", "c_acctbal"],
         "gen": 3, "delete_col": "is_deleted"}

    The frame carries the batch's LATEST state per key
    (key, *attrs, delete_col). An absent table is seeded with the
    batch's non-deleted rows as open rows at ``gen``; a stale ``gen``
    raises. RETRY-SAFE by merge semantics, not by tags: re-applying the
    same batch is a no-op — an identical update creates no version, a
    delete of an already-closed key closes nothing, an insert whose key
    is now open with identical attrs is a no-op. Pass-through frame."""
    from generic_data_ingestor_framework_spark.relational import scd2_apply_table

    scd2_apply_table(
        df.sparkSession, p["table"], df, p["key"], list(p["attrs"]), int(p["gen"]),
        p.get("delete_col", "is_deleted"),
    )
    return df


def _auto_compact(df: DataFrame, p: dict, family) -> DataFrame:
    """Enforce the batch-sized-delta contract on an index (the store's
    ``maybe_compact``) — run after supersede/delete steps::

        {"op": "ann_auto_compact", "root": "/idx/ann_corpus",
         "max_delta_ratio": 0.1}

    (``band_auto_compact`` alike, for a band index.) Compacts when the
    marked ids exceed ``max_delta_ratio`` of the base ids or the
    session's broadcast budget; otherwise one aggregate probe. Without
    this policy a crawl spec that defers compaction accumulates delta
    until the probe-side broadcast guard refuses loudly. Pass-through
    frame."""
    family.maybe_compact(
        df.sparkSession, p["root"], float(p.get("max_delta_ratio", 0.10))
    )
    return df


def _step_ann_auto_compact(df: DataFrame, p: dict) -> DataFrame:
    from generic_data_ingestor_framework_spark.llm.similarity import ANN_INDEX

    return _auto_compact(df, p, ANN_INDEX)


def _step_band_auto_compact(df: DataFrame, p: dict) -> DataFrame:
    from generic_data_ingestor_framework_spark.llm.dedup import BAND_INDEX

    return _auto_compact(df, p, BAND_INDEX)


def _step_band_delete(df: DataFrame, p: dict) -> DataFrame:
    """Tombstone this frame's doc ids out of a band index::

        {"op": "band_delete", "root": "/idx/corpus_band_index",
         "batch_tag": "recrawl43_gone", "gen": 3, "id": "doc_id"}

    Pass-through frame; same retry/compaction contract as
    ``band_supersede``."""
    from generic_data_ingestor_framework_spark.llm.dedup import delete_band_index_docs

    delete_band_index_docs(
        df.sparkSession, df, p["root"], p["batch_tag"], int(p["gen"]),
        p.get("id", "doc_id"),
    )
    return df


STEP_REGISTRY: dict[str, StepFn] = {
    "filter": _step_filter,
    "select": _step_select,
    "rename": _step_rename,
    "normalize_text": _step_normalize_text,
    "flatten": _step_flatten,
    "dedup_exact": _step_dedup_exact,
    "sample_hash": _step_sample_hash,
    "redact_pii": _step_redact_pii,
    "with_column": _step_with_column,
    "repartition": _step_repartition,
    "sql": _step_sql,
    "join": _step_join,
    "union": _step_union,
    "chunk_overlap": _step_chunk_overlap,
    "quality_filter": _step_quality_filter,
    "repetition_filter": _step_repetition_filter,
    "weighted_sample": _step_weighted_sample,
    "lm_filter": _step_lm_filter,
    "decontaminate": _step_decontaminate,
    "paragraph_dedup": _step_paragraph_dedup,
    "bpe_tokenize": _step_bpe_tokenize,
    "remove_dup_spans": _step_remove_dup_spans,
    "select_budget": _step_select_budget,
    "dedup_near_index": _step_dedup_near_index,
    "ann_append": _step_ann_append,
    "ann_supersede": _step_ann_supersede,
    "ann_delete": _step_ann_delete,
    "ann_auto_compact": _step_ann_auto_compact,
    "scd2_apply": _step_scd2_apply,
    "band_supersede": _step_band_supersede,
    "band_delete": _step_band_delete,
    "band_auto_compact": _step_band_auto_compact,
}


def _load_source(spark: SparkSession, src: dict) -> DataFrame:
    kind = src["type"]
    if kind == "directory":
        df, report = ingest_directory(
            spark,
            src["path"],
            mode=src.get("mode", "parity"),
            text_parity=src.get("text_parity", True),
            file_types=src.get("file_types"),
            schema_mode=src.get("schema_mode", "sorted"),
        )
        if df is None:
            raise ValueError(f"no ingestible data under {src['path']}")
        return df
    if kind == "parquet":
        return spark.read.parquet(src["path"])
    if kind == "table":
        return spark.table(src["name"])
    raise ValueError(f"unknown source type: {kind}")


def _write_sink(df: DataFrame, dst: dict) -> None:
    kind = dst["type"]
    if kind == "parquet":
        sink_mod.write_parquet(df, dst["path"], backup=dst.get("backup", False))
    elif kind == "json":
        sink_mod.write_json(df, dst["path"], backup=dst.get("backup", False))
    elif kind == "table":
        sink_mod.create_table(df.sparkSession, df, dst["name"])
        sink_mod.insert_data(df.sparkSession, df, dst["name"])
    elif kind == "sqlite":
        sink_mod.write_sqlite(df, dst["path"], dst.get("table", "processed_data"))
    elif kind == "csv":
        sink_mod.write_csv(
            df,
            dst["path"],
            backup=dst.get("backup", False),
            sep=dst.get("sep", ","),
            compression=dst.get("compression"),
        )
    elif kind == "orc":
        sink_mod.write_orc(df, dst["path"], backup=dst.get("backup", False))
    elif kind == "xml":
        sink_mod.write_xml(df, dst["path"], backup=dst.get("backup", False))
    else:
        raise ValueError(f"unknown sink type: {kind}")


def run_pipeline(
    spark: SparkSession, spec: dict[str, Any], profile: bool = False
) -> tuple[DataFrame, dict]:
    """Execute a declarative pipeline spec. Returns (final DataFrame,
    manifest). The sink is optional — omit it to get the lazy frame."""
    df = _load_source(spark, spec["source"])
    manifest: dict[str, Any] = {"steps": [], "source": spec["source"]["type"]}
    for p in spec.get("steps", []):
        op = p["op"]
        if op not in STEP_REGISTRY:
            raise ValueError(f"unknown pipeline op: {op} (have {sorted(STEP_REGISTRY)})")
        df = STEP_REGISTRY[op](df, p)
        entry: dict[str, Any] = {"op": op}
        if profile:
            entry["rows"] = df.count()
        manifest["steps"].append(entry)
    if "sink" in spec:
        _write_sink(df, spec["sink"])
        manifest["sink"] = spec["sink"]["type"]
    return df, manifest
