"""In-engine BPE tokenizer training: learn byte-pair-encoding merges
from the corpus with distributed pair counting.

This is the missing tokenizer stage of the training-data pipeline: the
reference stops at ingestion (SURVEY §2 has no tokenizer); a 100 TB
pretraining pipeline trains its subword vocabulary on the corpus
itself. The classic algorithm (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") is inherently
iterative — pick the most frequent adjacent symbol pair, merge it,
repeat — but maps onto Spark cleanly because each iteration is ONE
hash-aggregate over the *distinct-word* relation, not the corpus:

- one corpus-scale job builds ``word → count`` (map-side combinable,
  the relation is vocab-sized from then on — at 100 TB the distinct
  words of even a multilingual web corpus are ~10⁸ rows, executor-
  resident),
- each merge iteration shuffles (pair, count) partial aggregates and
  collects exactly ONE row (the argmax pair) to the driver — the
  driver holds the merge table (``BPE_MERGES`` rows), never data,
- merge application is a pure projection (string replace over the
  symbol string), so Catalyst keeps it inside whole-stage codegen.

Symbol strings are space-separated (``"c a t </w>"``); a merge of pair
``A B`` is applied with the double-space trick so that CONSECUTIVE
occurrences sharing a boundary space all merge in one left-to-right
``replace`` pass (``replace`` in Spark, DuckDB, and Python all scan
the original string and continue after each replacement, so a naive
``' A B '`` pattern would skip every second occurrence in runs like
``A B A B``):

    double every space → gaps become 2 spaces, so each occurrence of
    `` A  B `` owns a private flanking space → literal replace with
    `` AB `` → collapse double spaces → trim sentinels.

Determinism contract (cross-engine): pair counts are exact integers;
the argmax tie-breaks on the pair string ascending. The DuckDB oracle
is the same algorithm unrolled into a static CTE chain (one
``p_k/b_k/w_k`` stage per merge), so the gate verifies every learned
merge, its count, and the resulting vocabulary byte-for-byte.

Tested against a pure-python reference implementation (including the
consecutive-pair and overlapping-run hazards) in
``tests/test_llm_ops.py``.

Batched training (round-7): the sequential loop runs ONE Spark job
per merge — the right shape for hundreds of merges, but a production
30k-merge vocabulary would mean 30k driver round-trips.
``train_from_words_batched`` cuts job count ~``batch_m``×: each round
counts pairs ONCE, collects a top-``4·batch_m`` candidate pool, and
greedily admits up to ``batch_m`` SYMBOL-DISJOINT pairs driver-side
(descending count, pair-string ascending; a pair is admitted only if
neither symbol — nor its concatenation — appears in any
already-admitted pair). Disjointness is what makes the batch sound:
merging ``A B`` only perturbs counts of pairs touching ``A``, ``B``,
or the new ``AB``, so every other admitted pair's count is exactly
what sequential BPE would have seen, and the chained application
commutes. The residual divergence from sequential BPE (shared by
every batched-BPE implementation) is that a merge can CREATE a pair
hotter than the round's 2nd pick, which sequential BPE would take
first — hence ``batch_m=1`` (sequential BPE, one merge per round)
is pinned to a pure-python sequential reference, and the batched
selection rule itself is pinned against a pure-python reference in
``tests/test_llm_ops.py``. The
``bpe_train_merges_batched`` gate member verifies two full rounds
(count → pool → greedy filter → batch application) against a DuckDB
twin that replays the greedy selection with a recursive CTE.

Deep merge tables (round-6): naive sequential application chains one
nested ``replace`` per merge, so iteration k re-derives all k-1 prior
merges (O(n_merges²) work) and a 256-merge table builds a 256-deep
expression (Catalyst analysis cost, codegen size-limit fallback).
``_apply_merges_chunked`` bounds both: merges apply in chunks of
``CHUNK_MERGES`` with a ``localCheckpoint`` between chunks, so the
executed plan is never more than one chunk deep and total work is
O(n_merges × CHUNK_MERGES / relation). ``train_from_words_batched``
uses the same chunking for its working relation, and ``encode_with_merges``
switches past ``CHAIN_MAX`` merges to a distinct-word join (encode the
Heaps-law-sized vocabulary once, join the segmentation back) instead
of dragging a deep replace chain across the full corpus. A 256-merge
training run is pinned against the python reference in
``tests/test_llm_ops.py`` and timed at sf0.1 in SCALE.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from generic_data_ingestor_framework_spark.llm.dedup import tokens_col
from generic_data_ingestor_framework_spark.session import local_relation

BPE_MERGES = 10   # merges learned by the gate queries (parameterizable)
VOCAB_TOPK = 20   # rows reported by bpe_vocab_topk
END_MARK = "</w>" # end-of-word symbol (single symbol, appended per word)
CHUNK_MERGES = 32 # merges applied per projection before a localCheckpoint
                  # truncates lineage (bounds expression depth + rework)
CHAIN_MAX = 48    # encode_with_merges: longest merge table applied as a
                  # pure corpus projection; deeper tables encode the
                  # distinct-word relation and join the result back

_MERGES_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("pair", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("n_occ", T.LongType(), False),
    ]
)


def _init_syms(word_col) -> F.Column:
    """``"cat"`` → ``"c a t </w>"``: one space-separated symbol per
    character plus the end-of-word marker. ``regexp_replace`` is global
    in Spark; '.' matches one codepoint (words contain no whitespace)."""
    return F.concat(F.regexp_replace(word_col, "(.)", "$1 "), F.lit(END_MARK))


def apply_merge(sym_col, pair: str) -> F.Column:
    """Apply one learned merge (``pair`` = ``"A B"``) to a symbol
    string, merging EVERY occurrence including consecutive runs.
    Patterns are bound as literals (``F.replace``), never spliced into
    SQL text, so hostile symbol content cannot break the plan."""
    doubled_pair = pair.replace(" ", "  ")
    merged = pair.replace(" ", "")
    s = F.concat(F.lit(" "), sym_col, F.lit(" "))
    s = F.replace(s, F.lit(" "), F.lit("  "))
    s = F.replace(s, F.lit(f" {doubled_pair} "), F.lit(f" {merged} "))
    s = F.replace(s, F.lit("  "), F.lit(" "))
    return F.trim(s)


def word_freqs(df: DataFrame, column: str = "text") -> DataFrame:
    """The vocab-sized ``(word, cnt, s)`` relation BPE iterates over,
    from the tokens of ``df``'s ``column`` — the ONLY corpus-scale job
    in the trainer. Built by the corpus members (``_word_freqs``) and
    by the pipeline's ``bpe_tokenize`` step."""
    return (
        df.select(F.explode(tokens_col(column)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("s", _init_syms(F.col("word")))
    )


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``word_freqs`` over ``documents``, persisted per session."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist
    from generic_data_ingestor_framework_spark.relational import load_table

    return shared_persist(
        spark,
        ("bpe_words", sf_dir),
        lambda: word_freqs(load_table(spark, sf_dir, "documents")),
    )


# pair extraction: adjacent symbol pairs as "A B" strings, one row per
# POSITION (overlapping positions both count — the standard BPE count)
_PAIRS_EXPR = "transform(slice(l, 1, size(l) - 1), (x, i) -> concat(x, ' ', l[i + 1]))"


def _pair_counts(words: DataFrame) -> DataFrame:
    return (
        words.select("cnt", F.split("s", " ").alias("l"))
        .select("cnt", F.explode(F.expr(_PAIRS_EXPR)).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )


def _apply_merges_chunked(
    rel: DataFrame,
    merges: list[tuple[int, str, str, int]],
    chunk: int = CHUNK_MERGES,
) -> DataFrame:
    """Apply a learned merge table to a ``(…, s)`` relation in rank
    order, ``chunk`` merges per projection with a ``localCheckpoint``
    between chunks. Bounds the replace-expression depth (codegen-safe
    at any vocab size) and the rework per chunk; intended for the
    vocab-sized word relation, where materializing between chunks is
    cheap (Heaps' law: distinct words ≪ corpus)."""
    for i in range(0, len(merges), chunk):
        s = F.col("s")
        for _, pair, _, _ in merges[i : i + chunk]:
            s = apply_merge(s, pair)
        rel = rel.withColumn("s", s)
        if i + chunk < len(merges):  # last chunk stays lazy for the caller
            rel = rel.localCheckpoint(eager=True)
    return rel


BATCH_M = 4        # merges admitted per round by the gate's batched member
BATCH_MERGES = 8   # total merges learned by the batched gate member (2 rounds)


def _greedy_disjoint(
    cand: list[tuple[str, int]], m: int, next_rank: int
) -> list[tuple[int, str, str, int]]:
    """Greedy symbol-disjoint batch selection over an ordered candidate
    pool: admit a pair iff neither of its symbols (nor the concatenation
    of any admitted pair) has been touched this round. Pure driver-side
    logic over ≤ 4·m rows — shared verbatim by the python test reference
    so the selection rule cannot drift."""
    used: set[str] = set()
    batch: list[tuple[int, str, str, int]] = []
    for pair, c in cand:
        if len(batch) >= m:
            break
        a, b = pair.split(" ")
        if a in used or b in used:
            continue
        merged = a + b
        used.update((a, b, merged))
        batch.append((next_rank + len(batch), pair, merged, c))
    return batch


def train_from_words_batched(
    words: DataFrame,
    n_merges: int,
    batch_m: int = 16,
    checkpoint_every: int = CHUNK_MERGES,
    stats: dict | None = None,
) -> list[tuple[int, str, str, int]]:
    """The merge-learning loop over an arbitrary ``(word, cnt, s)``
    relation — shared by the corpus trainers and the pipeline step so
    they can never diverge. ~``n_merges / batch_m`` pair-count jobs
    (see module docstring for the soundness argument); ``batch_m=1`` is
    sequential BPE, one merge per job. Stops early on a degenerate
    corpus (every word fully merged before ``n_merges``).

    Every ``checkpoint_every`` merges the working relation is
    ``localCheckpoint``-truncated, so a pair-count job replays at most
    ``checkpoint_every`` prior replace projections instead of all of
    them (plans never deeper than one chunk — the property that makes a
    256-merge run tractable). ``stats`` (optional) receives
    ``{"rounds": k}`` — the number of count-collect round-trips
    actually executed, asserted by the job-reduction test."""
    if batch_m < 1:
        raise ValueError(f"batch_m must be >= 1; got {batch_m}")
    pool = 4 * batch_m  # candidate rows collected per round (driver-sized)
    merges: list[tuple[int, str, str, int]] = []
    cur = words
    since_ckpt = 0
    rounds = 0
    while len(merges) < n_merges:
        want = min(batch_m, n_merges - len(merges))
        cand_rows = (
            _pair_counts(cur)
            .orderBy(F.desc("c"), F.asc("pair"))
            .limit(pool)
            .collect()
        )
        rounds += 1
        if not cand_rows:  # degenerate corpus: every word fully merged
            break
        batch = _greedy_disjoint(
            [(r["pair"], r["c"]) for r in cand_rows], want, len(merges) + 1
        )
        merges.extend(batch)
        s = F.col("s")
        for _, pair, _, _ in batch:  # disjoint → chained replaces commute
            s = apply_merge(s, pair)
        cur = cur.withColumn("s", s)
        since_ckpt += len(batch)
        if since_ckpt >= checkpoint_every:
            cur = cur.localCheckpoint(eager=True)
            since_ckpt = 0
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate member: the merge table learned by TWO batched rounds
    (``BATCH_MERGES=8`` merges, ``BATCH_M=4`` per round, pool 16).
    Oracle-checked rank-for-rank against a DuckDB twin that replays the
    greedy disjoint selection with a recursive CTE and re-counts between
    rounds — the cross-engine proof of the batched selection rule and
    of batch application, not just of sequential BPE."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    rows = shared_value(
        spark,
        ("bpe_merges_batched", sf_dir, BATCH_MERGES, BATCH_M),
        lambda: train_from_words_batched(
            _word_freqs(spark, sf_dir), BATCH_MERGES, batch_m=BATCH_M
        ),
    )
    return local_relation(spark, rows, _MERGES_SCHEMA).orderBy("rank")


def train_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns ``[(rank, pair, merged,
    n_occ), ...]``. Sequential (``batch_m=1``): one small collect per
    merge; memoized per session (repeat calls cost zero jobs)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    return shared_value(
        spark,
        ("bpe_merges", sf_dir, n_merges),
        lambda: train_from_words_batched(_word_freqs(spark, sf_dir), n_merges, batch_m=1),
    )


def _final_words(spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES) -> DataFrame:
    """Word relation with all learned merges applied — chunked
    projections over the persisted word table (lazy below one chunk,
    checkpoint-bounded depth beyond it)."""
    merges = train_merges(spark, sf_dir, n_merges)
    return _apply_merges_chunked(_word_freqs(spark, sf_dir), merges)


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: rank, pair, merged symbol, weighted
    occurrence count at selection time."""
    rows = train_merges(spark, sf_dir)
    return local_relation(spark, rows, _MERGES_SCHEMA).orderBy("rank")


def bpe_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``VOCAB_TOPK`` subword symbols (by weighted occurrences,
    then symbol) after applying all learned merges."""
    return (
        _final_words(spark, sf_dir)
        .select("cnt", F.explode(F.split("s", " ")).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("cnt").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("symbol"))
        .limit(VOCAB_TOPK)
    )


ENCODE_DOCS = 20  # doc_id bound for the oracle-checked encode member


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus re-encoded through the LEARNED merge table: for the first
    ``ENCODE_DOCS`` documents, the subword stream (each word replaced by
    its final symbol sequence, original token order) is fingerprinted —
    the cross-engine proof that encoding with the trained vocabulary is
    exactly the training-time segmentation. Pure joins/aggregates: the
    word→symbols map is the final training relation, the doc side is a
    posexplode preserving token positions."""
    from generic_data_ingestor_framework_spark.relational import load_table

    fw = _final_words(spark, sf_dir).select("word", "s")
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < ENCODE_DOCS)
    toks = (
        d.select("doc_id", F.posexplode(tokens_col()).alias("pos", "word"))
        .filter(F.col("word") != "")
    )
    joined = toks.join(fw, "word")
    stream = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda r: r["s"]
        ),
        " ",
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size(F.split("s", " "))).cast("long").alias("n_subwords"),
        F.md5(stream).alias("subword_md5"),
    )


def encode_with_merges(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    column: str = "text",
    chain_max: int = CHAIN_MAX,
) -> DataFrame:
    """Tokenize ``column`` with a learned merge table: adds
    ``bpe_tokens`` (array<string> of subword symbols, ``</w>``-marked
    word ends).

    Two physical strategies, same result:

    - ``len(merges) <= chain_max``: pure projection — transform over
      the word array with the replace chain, no shuffle, no UDF (the
      hot path for the gate's 10-merge table).
    - deeper tables: encoding each corpus occurrence through a
      hundreds-deep replace chain would repeat the same per-word work
      corpus-many times and blow the codegen size limit, so instead the
      DISTINCT words of the corpus are encoded once (vocab-sized
      relation, chunk-checkpointed) and the segmentation joins back by
      word, rebuilding each row's subword array by original position.
      Costs two shuffles (distinct + regroup) but total merge work is
      Heaps-law-sized, the 100 TB-safe trade."""
    words_arr = F.filter(tokens_col(column), lambda w: w != "")
    if len(merges) <= chain_max:

        def encode_word(w):
            s = _init_syms(w)
            for _, pair, _, _ in merges:
                s = apply_merge(s, pair)
            return F.split(s, " ")

        return df.withColumn("bpe_tokens", F.flatten(F.transform(words_arr, encode_word)))

    rid = "_bpe_rid"
    base = df.withColumn(rid, F.monotonically_increasing_id())
    toks = base.select(rid, F.posexplode(words_arr).alias("_pos", "word"))
    wmap = _apply_merges_chunked(
        toks.select("word").distinct().withColumn("s", _init_syms(F.col("word"))),
        merges,
    )
    enc = (
        toks.join(wmap.select("word", "s"), "word")
        .groupBy(rid)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "s"))),
                    lambda r: F.split(r["s"], " "),
                )
            ).alias("bpe_tokens")
        )
    )
    return (
        base.join(enc, rid, "left")
        .withColumn(
            "bpe_tokens",
            F.coalesce(F.col("bpe_tokens"), F.array().cast("array<string>")),
        )
        .drop(rid)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the same algorithm unrolled into a static CTE chain
# ---------------------------------------------------------------------------

def _bpe_ctes(n_merges: int = BPE_MERGES) -> str:
    ctes = [
        f"""w0 AS MATERIALIZED (
          SELECT word, cnt, regexp_replace(word, '(.)', '\\1 ', 'g') || '{END_MARK}' AS s
          FROM (
            SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
              SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
            ) WHERE tok <> '' GROUP BY tok
          )
        )"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""p{k} AS (
          SELECT l[i] || ' ' || l[i + 1] AS pair, CAST(sum(cnt) AS BIGINT) AS c
          FROM (
            SELECT unnest(generate_series(1, len(l) - 1)) AS i, l, cnt
            FROM (SELECT string_split(s, ' ') AS l, cnt FROM w{k - 1})
          ) GROUP BY pair
        ),
        b{k} AS MATERIALIZED (SELECT pair, c FROM p{k} ORDER BY c DESC, pair LIMIT 1),
        w{k} AS MATERIALIZED (
          -- COALESCE(chr(0)): on a degenerate corpus b{k} is empty and
          -- the scalar subqueries are NULL; an unmatchable pattern makes
          -- this stage a no-op (mirrors the engine's early loop exit)
          -- instead of cascading NULL through every later stage
          SELECT word, cnt,
                 trim(replace(replace(replace(' ' || s || ' ', ' ', '  '),
                      ' ' || COALESCE((SELECT replace(pair, ' ', '  ') FROM b{k}), chr(0)) || ' ',
                      ' ' || COALESCE((SELECT replace(pair, ' ', '') FROM b{k}), chr(0)) || ' '),
                    '  ', ' ')) AS s
          FROM w{k - 1}
        )"""
        )
    return ",\n".join(ctes)


# each merge row is emitted only if its iteration found a pair, so the
# oracle's row count matches the engine's early loop exit on degenerate
# corpora
_MERGE_ROWS = "\nUNION ALL\n".join(
    f"SELECT CAST({k} AS INT) AS rank, pair,"
    f" replace(pair, ' ', '') AS merged, c AS n_occ FROM b{k}"
    for k in range(1, BPE_MERGES + 1)
)

def _bpe_batched_ctes() -> str:
    """DuckDB twin of ``train_from_words_batched`` at the gate's
    operating point (``BATCH_MERGES`` merges, ``BATCH_M`` per round,
    pool ``4*BATCH_M``): per round, count pairs, take the ordered
    candidate pool, replay the greedy symbol-disjoint admission with a
    RECURSIVE CTE walking the pool in order (state = admitted batch +
    used-symbol list — the exact ``_greedy_disjoint`` rule), then apply
    the admitted merges sequentially with the same double-space
    transform as the sequential oracle. ``BATCH_MERGES`` rounds are
    unrolled (every non-degenerate round admits >= 1, so that is the
    worst case); completed rounds no-op via the chr(0) fallback."""
    pool = 4 * BATCH_M
    ctes = [
        f"""bw0 AS MATERIALIZED (
          SELECT word, cnt, regexp_replace(word, '(.)', '\\1 ', 'g') || '{END_MARK}' AS s
          FROM (
            SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
              SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
            ) WHERE tok <> '' GROUP BY tok
          )
        )"""
    ]
    for r in range(1, BATCH_MERGES + 1):
        np_expr = (
            " + ".join(f"(SELECT len(batch) FROM sel{i})" for i in range(1, r))
            or "0"
        )
        admit = (
            f"len(g.batch) < LEAST({BATCH_M}, "
            f"{BATCH_MERGES} - (SELECT np FROM nm{r})) "
            f"AND NOT list_contains(g.used, string_split(c.pair, ' ')[1]) "
            f"AND NOT list_contains(g.used, string_split(c.pair, ' ')[2])"
        )
        s_expr = "s"
        for k in range(1, BATCH_M + 1):
            pat = (
                f"(SELECT ' ' || replace(batch[{k}].pair, ' ', '  ') || ' ' "
                f"FROM sel{r} WHERE len(batch) >= {k})"
            )
            rep = (
                f"(SELECT ' ' || replace(batch[{k}].pair, ' ', '') || ' ' "
                f"FROM sel{r} WHERE len(batch) >= {k})"
            )
            s_expr = (
                f"trim(replace(replace(replace(' ' || {s_expr} || ' ', ' ', '  '), "
                f"COALESCE({pat}, chr(0)), COALESCE({rep}, chr(0))), '  ', ' '))"
            )
        ctes.append(
            f"""pr{r} AS (
          SELECT l[i] || ' ' || l[i + 1] AS pair, CAST(sum(cnt) AS BIGINT) AS c
          FROM (
            SELECT unnest(generate_series(1, len(l) - 1)) AS i, l, cnt
            FROM (SELECT string_split(s, ' ') AS l, cnt FROM bw{r - 1})
          ) GROUP BY pair
        ),
        cd{r} AS MATERIALIZED (
          SELECT pair, c, row_number() OVER (ORDER BY c DESC, pair) AS rn
          FROM (SELECT pair, c FROM pr{r} ORDER BY c DESC, pair LIMIT {pool})
        ),
        nm{r} AS (SELECT {np_expr} AS np),
        sel{r} AS MATERIALIZED (
          WITH RECURSIVE g(rn, batch, used) AS (
            SELECT 0,
                   CAST([] AS STRUCT(pair VARCHAR, c BIGINT)[]),
                   CAST([] AS VARCHAR[])
            UNION ALL
            SELECT c.rn,
                   CASE WHEN {admit}
                        THEN list_append(g.batch,
                               {{'pair': c.pair, 'c': c.c}})
                        ELSE g.batch END,
                   CASE WHEN {admit}
                        THEN list_concat(g.used,
                               [string_split(c.pair, ' ')[1],
                                string_split(c.pair, ' ')[2],
                                replace(c.pair, ' ', '')])
                        ELSE g.used END
            FROM g JOIN cd{r} c ON c.rn = g.rn + 1
          )
          SELECT batch FROM g ORDER BY rn DESC LIMIT 1
        ),
        bw{r} AS MATERIALIZED (
          SELECT word, cnt, {s_expr} AS s FROM bw{r - 1}
        )"""
        )
    return ",\n".join(ctes)


_BATCHED_MERGE_ROWS = "\nUNION ALL\n".join(
    f"SELECT CAST((SELECT np FROM nm{r}) + {k} AS INT) AS rank,"
    f" batch[{k}].pair AS pair, replace(batch[{k}].pair, ' ', '') AS merged,"
    f" batch[{k}].c AS n_occ FROM sel{r} WHERE len(batch) >= {k}"
    for r in range(1, BATCH_MERGES + 1)
    for k in range(1, BATCH_M + 1)
)

QUERIES = {
    "bpe_train_merges": bpe_train_merges,
    "bpe_train_merges_batched": bpe_train_merges_batched,
    "bpe_vocab_topk": bpe_vocab_topk,
    "bpe_encode_docs": bpe_encode_docs,
}

ORACLES = {
    "bpe_train_merges": f"""
        WITH {_bpe_ctes()}
        SELECT * FROM ({_MERGE_ROWS}) ORDER BY rank
    """,
    "bpe_train_merges_batched": f"""
        WITH RECURSIVE {_bpe_batched_ctes()}
        SELECT * FROM ({_BATCHED_MERGE_ROWS}) ORDER BY rank
    """,
    "bpe_vocab_topk": f"""
        WITH {_bpe_ctes()}
        SELECT symbol, CAST(sum(cnt) AS BIGINT) AS n FROM (
          SELECT unnest(string_split(s, ' ')) AS symbol, cnt FROM w{BPE_MERGES}
        ) GROUP BY symbol ORDER BY n DESC, symbol LIMIT {VOCAB_TOPK}
    """,
    "bpe_encode_docs": f"""
        WITH {_bpe_ctes()},
        dt AS (
          SELECT doc_id, l[i] AS word, i AS pos FROM (
            SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM (
              SELECT doc_id, string_split_regex(lower(text), '\\s+') AS l
              FROM documents WHERE doc_id < {ENCODE_DOCS}
            )
          ) WHERE l[i] <> ''
        )
        SELECT dt.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(len(string_split(w.s, ' '))) AS BIGINT) AS n_subwords,
               md5(string_agg(w.s, ' ' ORDER BY dt.pos)) AS subword_md5
        FROM dt JOIN w{BPE_MERGES} w ON w.word = dt.word
        GROUP BY dt.doc_id
    """,
}
