"""Deduplication operators over the ``documents`` table.

Six strategies, each a distributed plan:

- **exact**: md5-content groupBy (one shuffle on the hash key).
- **MinHash signatures**: word-3-gram shingles → k portable min-hashes.
- **MinHash LSH pairs**: band the signature, bucket-join candidates —
  the scale path: candidate generation is a shuffle on (band, sig),
  never an O(n²) cross join.
- **n-gram Jaccard pairs**: exact set-overlap join on shared shingles
  (inverted-index join — only docs sharing a shingle ever meet).
- **SimHash**: 32-bit sign-aggregated fingerprint per doc.

A query member is one Spark SQL text (``relational._sql``) over
``documents`` and the session's memoized relations, passed as named
frames. Each MinHash formula is one Spark SQL fragment that the texts
splice in and the Column helpers wrap with ``F.expr``: the tokenizer
(``tokens_sql``), the shingle hash (``hash32_sql``), the shingles
(``shingles_sql``), the affine min-hash (``minhash_sql``), the band
split (``band_split_sql``) and the band self-join (``lsh_pairs_sql``).
The signature is computed per row (``signature_sql``), so one
definition serves static frames and unbounded streams alike. The
driver loops (``connected_components``, ``pagerank_doc_graph``) and
the band-index lifecycle keep their hand plans.

Portability contract: the shingle hash is the first 8 hex digits of
md5, so Spark and the DuckDB oracle compute bit-identical signatures
(``F.conv(substr(md5, 1, 8), 16, 10)`` ≡ ``CAST('0x' || ... AS
BIGINT)``). In production you'd swap in ``xxhash64`` (JVM-side, no
md5 cost); the plan shape is identical.

Scale notes (100 TB): every stage is a per-row projection or explode
→ hash-partition → partial-agg; no driver-side state, no collects.
Shingle work is the dominant cost — `array_distinct` before explode
cuts the shuffle by the per-doc repeat factor. The exact-Jaccard join frequency-caps
skewed shingles (document frequency > ``DF_CAP``) before the
self-join: a stop-phrase shared by 1% of a 100 TB corpus would make
its join bucket quadratic, and a shingle that common carries no
similarity signal anyway. The document-frequency cap rides the
self-join's own shingle shuffle as a count window, so skew safety
costs no extra round trip. LSH bucket join is bounded by band-bucket
size, not corpus size; cluster assignment closes the loop with
pointer-jumping connected components (log-diameter convergence) and
``dedup_keep_corpus`` materializes the deduplicated corpus.
"""

from __future__ import annotations

import warnings

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.llm import indexstore
from generic_data_ingestor_framework_spark.relational import _sql, load_table
from generic_data_ingestor_framework_spark.session import local_relation

MOD = 1_000_000_007
N_PERM = 8
BANDS = 4  # rows-per-band = 2
DF_CAP = 100  # max document frequency for a shingle to join on


def minhash_coeffs(n_perm: int) -> tuple[list[int], list[int]]:
    """Affine permutation coefficients for ``h_j(x) = (a_j x + b_j) % MOD``.

    ``a_j`` is the j-th prime, ``b_j = 7919 (j+1)`` — MOD is prime so
    any nonzero ``a_j`` is invertible and each map is a true
    permutation of Z_MOD. The first 8 pairs are byte-identical to the
    historical fixed constants, so the default configuration's
    signatures (and every downstream gate checksum) are unchanged; a
    production 100 TB near-dup run wants ``n_perm=128, bands=16`` for
    a sharp S-curve knee (see ``dedup_minhash_sig_wide``).
    """
    primes: list[int] = []
    c = 2
    while len(primes) < n_perm:
        if all(c % p for p in primes if p * p <= c):
            primes.append(c)
        c += 1
    return primes, [7919 * (j + 1) for j in range(n_perm)]


A, B = minhash_coeffs(N_PERM)


def portable_hash32(col):
    """First 8 hex digits of md5 as a bigint — identical in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash32_sql(c: str) -> str:
    """``portable_hash32`` of the Spark SQL expression ``c``, as Spark SQL."""
    return f"CAST(conv(substring(md5({c}), 1, 8), 16, 10) AS BIGINT)"


# portable_hash32 of doc_id, as Spark SQL: the one spelling of every
# doc-id sample, split and bucket
DOC_HASH_SQL = hash32_sql("CAST(doc_id AS STRING)")

_HASH_SQL = "CAST(concat('0x', substr(md5({c}), 1, 8)) AS BIGINT)"


def tokens_sql(text: str = "text") -> str:
    """The lowercased whitespace tokens of the Spark SQL expression
    ``text``: the one spelling of the tokenizer, spliced into member
    texts and wrapped by ``tokens_col``."""
    return rf"split(lower({text}), '\\s+')"


def ident_sql(name: str) -> str:
    """The column ``name`` as Spark SQL, resolved as ``F.col(name)``
    resolves it."""
    return name if "`" in name else ".".join(f"`{p}`" for p in name.split("."))


def text_ident_sql(name: str) -> str:
    """``ident_sql`` for a ``relational._sql`` text: the name's braces
    doubled, so PySpark's ``{table}`` formatter reads them back as the
    name's own braces instead of as a table field."""
    return ident_sql(name).replace("{", "{{").replace("}", "}}")


def tokens_col(text_col="text"):
    """``tokens_sql`` over the column ``text_col``."""
    return F.expr(tokens_sql(ident_sql(text_col)))


# Word-shingle width for the MinHash/band pipeline. Three call sites
# depend on the SAME k for the "no bands ⟺ <k tokens" invariant
# (shingles_sql, signature_sql's token-count filter, and the
# supersede NULL-band marker rule) — a k changed in one place but not
# the others would silently stop retiring stale bands (r14 ADVICE).
SHINGLE_K = 3


def shingles_sql(toks: str, k: int = SHINGLE_K) -> str:
    """Spark SQL: the distinct word k-gram shingles of the token array
    ``toks``, which must be an ALREADY-MATERIALIZED column: Catalyst
    re-inlines aliased expressions into lambda bodies, so splicing
    ``tokens_sql`` in here would re-run the regex split for every gram
    (measured 15x slowdown)."""
    return (
        f"array_distinct(CASE WHEN size({toks}) >= {k} THEN transform("
        f"sequence(0, size({toks}) - {k}), i -> array_join(slice({toks}, i + 1, {k}), ' '))"
        " ELSE CAST(array() AS ARRAY<STRING>) END)"
    )


def shingles_from_tokens(toks: str, k: int = SHINGLE_K):
    """``shingles_sql`` over the token array column named ``toks``."""
    return F.expr(shingles_sql(ident_sql(toks), k))


def minhash_sql(hashes: str, n_perm: int = N_PERM) -> str:
    """Spark SQL: the ``n_perm`` min-hash columns ``mh0``.. of the
    shingle-hash array ``hashes``, ``mh_j = min_h (a_j h + b_j) % MOD``."""
    a, b = minhash_coeffs(n_perm)
    return ", ".join(
        f"array_min(transform({hashes}, h -> ({a[j]} * h + {b[j]}) % {MOD})) AS mh{j}"
        for j in range(n_perm)
    )


def signature_sql(src: str, id_col: str, text_col: str, n_perm: int, hint: str = "") -> str:
    """Spark SQL: ``(id_col, mh0..)``, the MinHash signature of each row
    of the relation ``src`` that has at least one shingle, computed per
    row (no aggregate, so it runs on a stream too). Rows are admitted
    on their TOKEN count: ``size(shingles) > 0`` ⟺ ``size(toks) >= k``,
    and a filter on the shingle array would be pushed below the
    projection with the whole shingle expression inlined (measured ~8x
    the rest of the pipeline at sf0.1). ``hint`` goes on the token
    projection (the batch memo spreads it across the cluster)."""
    i = text_ident_sql(id_col)
    return f"""
        SELECT {i}, {minhash_sql("hs", n_perm)}
        FROM (SELECT {i}, transform({shingles_sql("toks")}, s -> {hash32_sql("s")}) AS hs
              FROM (SELECT {hint} {i}, {tokens_sql(text_ident_sql(text_col))} AS toks FROM {src})
              WHERE size(toks) >= {SHINGLE_K})
    """


def band_split_sql(n_perm: int = N_PERM, bands: int = BANDS) -> str:
    """Spark SQL select item: one ``(band_idx, band_sig)`` row per band
    of the min-hash columns ``mh0``.., a band's signature being its
    ``n_perm / bands`` values joined by ``_``."""
    if n_perm % bands:
        raise ValueError(f"n_perm={n_perm} not divisible by bands={bands}")
    rpb = n_perm // bands
    sigs = ", ".join(
        "concat_ws('_', " + ", ".join(f"mh{rpb * i + r}" for r in range(rpb)) + ")"
        for i in range(bands)
    )
    return f"posexplode(array({sigs})) AS (band_idx, band_sig)"


# one join/state column per band: ``{band_idx}:{band_sig}``
BAND_KEY_SQL = "concat_ws(':', band_idx, band_sig)"


def lsh_pairs_sql(banded: str) -> str:
    """Spark SQL: the band self-join of the relation ``banded``
    (``doc_id, band_idx, band_sig``): docs sharing any band signature
    become a candidate pair (``doc_a < doc_b``). Candidate generation
    scales with bucket sizes, never with the number of pairs."""
    return f"""
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {banded} a JOIN {banded} b
          ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """


# Shared DuckDB CTE: doc_id → exploded distinct shingles
_SHINGLES_CTE = """
tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(ts) - 1, 1)),
           i -> concat_ws(' ', ts[i], ts[i + 1], ts[i + 2])))) AS shingle
  FROM tok
)
"""


# Storage policy for the shared shingle relation. The exploded
# (doc_id, shingle) relation is the SAME order of magnitude as the
# tokenized corpus itself (k overlapping grams per token, deduped
# per-doc) — at 100 TB of text it does NOT fit in cluster storage
# memory. Default keeps local/test behavior (memory with disk
# spillover); a 100 TB run should pass StorageLevel.DISK_ONLY, or
# materialize the relation to parquet once and share it across the
# whole dedup family.
DEFAULT_SHINGLE_STORAGE = StorageLevel.MEMORY_AND_DISK


def _spread(spark: SparkSession) -> str:
    """Hint for the token projection of a batch memo: small single-file
    inputs arrive as ONE partition; spread the CPU-heavy gram work
    across the cluster before computing it (a big corpus already has
    enough input splits — repartition of a thin (id, tokens) projection
    is cheap either way). Hashed on ``doc_id``, so the per-document
    aggregates and distincts downstream need no shuffle of their own."""
    return f"/*+ REPARTITION({spark.sparkContext.defaultParallelism}, doc_id) */"


def _exploded_shingles(
    spark: SparkSession, sf_dir: str, storage: StorageLevel | None = None
) -> DataFrame:
    """doc_id → exploded distinct shingles, persisted ONCE per session
    via the cache registry: every exact-Jaccard plan branches over this
    relation 2-4 times (self-join sides, size table), Spark re-executes
    unpersisted branches, and repeated invocations in a long-lived
    session must reuse one copy rather than leak one per call. Storage
    level per ``DEFAULT_SHINGLE_STORAGE`` (corpus-sized — see note
    above)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    level = storage or DEFAULT_SHINGLE_STORAGE
    # the storage level is part of the key: an explicit DISK_ONLY
    # request must not silently reuse a MEMORY_AND_DISK relation
    return shared_persist(spark, ("shingles", sf_dir, str(level)), lambda: _sql(spark, sf_dir, f"""
        SELECT doc_id, explode({shingles_sql("toks")}) AS shingle
        FROM (SELECT {_spread(spark)} doc_id, {tokens_sql()} AS toks FROM {{documents}})
    """), level)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(text), keep min doc_id.

    One shuffle on a 128-bit key; at 100 TB this is the cheapest dedup
    (combine-ahead partial aggregation, no payload movement — only the
    hash and the candidate keeper id shuffle)."""
    return _sql(spark, sf_dir, """
        SELECT content_hash, min(doc_id) AS keep_id, count(1) AS n_copies
        FROM (SELECT md5(text) AS content_hash, doc_id FROM {documents})
        GROUP BY content_hash
    """)


def dedup_exact_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based exact dedup (lang, source): keep first doc per group."""
    return _sql(spark, sf_dir, """
        SELECT lang, source, min(doc_id) AS keep_id, count(1) AS n_in_group
        FROM {documents} GROUP BY lang, source
    """)


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def _minhash_sig_df(
    spark: SparkSession, sf_dir: str, n_perm: int = N_PERM
) -> DataFrame:
    """Signature relation, persisted once per session AND per width (it
    feeds both sides of the LSH self-join and the cluster/keep-corpus
    pipelines; an explicit wide config must not reuse the default)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    return shared_persist(spark, ("minhash_sig", sf_dir, n_perm), lambda: _sql(
        spark, sf_dir, signature_sql("{documents}", "doc_id", "text", n_perm, _spread(spark))
    ))


def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (8 portable permutations) per document."""
    return _minhash_sig_df(spark, sf_dir)


def dedup_minhash_sig_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature at a WIDER configuration (16 permutations) —
    the config-sweep witness that ``minhash_coeffs`` generalizes
    beyond the default: oracle-checked exactly against a 16-column
    DuckDB twin generated from the same coefficient family. The build
    plan is identical to the default (one hash per shingle + affine
    transforms inside one projection), so width scales the projection
    linearly, never the shuffle count."""
    return _minhash_sig_df(spark, sf_dir, n_perm=16)


def _banded_df(
    spark: SparkSession, sf_dir: str, n_perm: int = N_PERM, bands: int = BANDS
) -> DataFrame:
    """Band-signature relation (doc_id, bucket, band_idx, band_sig),
    persisted once per session and per (n_perm, bands) config: short
    rows per document, shared by the LSH self-join, the incremental
    near-dup index, and PageRank's edge builder — consumers start from
    the materialized bands instead of each re-deriving sig →
    posexplode lineage. ``n_perm`` must divide evenly into ``bands``
    rows-per-band."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    text = f"""
        SELECT doc_id, {DOC_HASH_SQL} % 2 AS bucket,
               {band_split_sql(n_perm, bands)}
        FROM {{sig}}
    """
    return shared_persist(spark, ("minhash_bands", sf_dir, n_perm, bands), lambda: _sql(
        spark, sf_dir, text, sig=_minhash_sig_df(spark, sf_dir, n_perm=n_perm)
    ))


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs at the default 4 bands × 2 rows config.

    The PAIR RELATION itself is session-persisted (not just the band
    relation feeding it): graph consumers reference it several times
    per plan (PageRank edges, triangle closure x3, the estimator
    audit's estimate/candidate/intersection branches), and an
    unpersisted branch re-executes the band self-join + distinct once
    PER REFERENCE — the round-8 audit measured 45-96 warm exchanges in
    the graph members before this persist, ~5 after."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    return shared_persist(spark, ("lsh_pairs", sf_dir), lambda: _sql(
        spark, sf_dir, lsh_pairs_sql("{banded}"), banded=_banded_df(spark, sf_dir)
    ))


def dedup_minhash_lsh_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs at the WIDE 16-perm / 8-band config (still
    2 rows per band, so the per-band collision curve matches the
    default while halving the miss probability: 1-(1-s²)⁸ vs ⁴).
    Oracle-checked exactly; the production 128/16 shape differs only
    in the two integers passed here."""
    return _sql(
        spark, sf_dir, lsh_pairs_sql("{banded}"),
        banded=_banded_df(spark, sf_dir, n_perm=16, bands=8),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------

JACCARD_TAU = 0.2  # similarity threshold for n-gram Jaccard pairs


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over hashed word-3-gram shingle sets for candidate
    pairs, via an inverted-index join with GROUP-COLLAPSE (Bayardo
    GroupJoin): documents whose capped shingle sets are IDENTICAL have
    identical Jaccard to everything, so each distinct set joins once
    through a representative and the results expand back to document
    pairs afterwards — within-group pairs are emitted directly with
    ``J = 1``. On a duplication-heavy corpus this shrinks the quadratic
    co-occurrence term by (distinct sets / docs)² — measured 50,000
    docs → 6,864 distinct sets at the sf1 decade-up (≈50× fewer pair
    rows) while a low-duplication corpus pays one extra doc-level
    aggregate.

    Shingles are keyed by ``portable_hash32`` (fixed-width join keys
    instead of 3-gram strings — ~35%% faster index probes; the DuckDB
    oracle applies the identical md5-based hash, so the engines agree
    bit-for-bit even on the ~1e-5-probability within-doc collisions,
    which both sides collapse with DISTINCT). Hot shingles (document
    frequency > ``DF_CAP``) are dropped before the join — the key
    class that would otherwise make a bucket quadratic at corpus scale
    — and the join predicate carries the PPJoin length filter
    (``J >= tau`` requires ``tau <= |A|/|B| <= 1/tau``), pruning
    size-incompatible pairs before the aggregate shuffle."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    # the capped hashed relation IS the inverted index: persist it once
    # per session (within-doc hash collisions collapse, as in the
    # oracle). DF_CAP is part of the key: a different cap is a
    # different index.
    sh = shared_persist(spark, ("shingles_capped", sf_dir, DF_CAP), lambda: _sql(
        spark, sf_dir, f"""
        SELECT doc_id, sh FROM (
          SELECT doc_id, sh, count(1) OVER (PARTITION BY sh) AS df
          FROM (SELECT DISTINCT doc_id, {hash32_sql("shingle")} AS sh FROM {{shingles}}))
        WHERE df <= {DF_CAP}
    """, shingles=_exploded_shingles(spark, sf_dir)))
    # group-collapse: one row per DISTINCT capped shingle set, members
    # sorted so the first is the representative and within-group pairs
    # come out ordered
    groups = shared_persist(spark, ("shingle_groups", sf_dir, DF_CAP), lambda: _sql(
        spark, sf_dir, """
        SELECT members[0] AS rep_id, members, s, size(s) AS n_sh
        FROM (SELECT s, sort_array(collect_list(doc_id)) AS members
              FROM (SELECT doc_id, sort_array(collect_list(sh)) AS s FROM {sh} GROUP BY doc_id)
              GROUP BY s)
    """, sh=sh))
    tau = f"{JACCARD_TAU}D"
    # rep-level inverted index join: the quadratic term runs over
    # distinct sets only; expansion happens AFTER the tau filter, so
    # only qualifying group pairs pay the member cross product.
    # Within-group pairs have identical sets: J = 1 by definition.
    return _sql(spark, sf_dir, f"""
        WITH rep_idx AS (SELECT rep_id, n_sh, explode(s) AS sh FROM {{groups}}),
        rep_pairs AS (
          SELECT a.rep_id AS ra, b.rep_id AS rb, count(1) AS n_inter
          FROM rep_idx a JOIN rep_idx b
            ON a.sh = b.sh AND a.rep_id < b.rep_id
           AND b.n_sh >= {tau} * a.n_sh AND a.n_sh >= {tau} * b.n_sh
          GROUP BY a.rep_id, b.rep_id
        ),
        scored AS (
          SELECT ma, mb, n_inter, round(n_inter / (n_a + n_b - n_inter), 6) AS jaccard
          FROM rep_pairs
          JOIN (SELECT rep_id AS ra, members AS ma, n_sh AS n_a FROM {{groups}}) USING (ra)
          JOIN (SELECT rep_id AS rb, members AS mb, n_sh AS n_b FROM {{groups}}) USING (rb)
        )
        SELECT least(doc_x, doc_y) AS doc_a, greatest(doc_x, doc_y) AS doc_b, n_inter, jaccard
        FROM (SELECT doc_x, explode(mb) AS doc_y, n_inter, jaccard
              FROM (SELECT explode(ma) AS doc_x, mb, n_inter, jaccard
                    FROM scored WHERE jaccard >= {tau}))
        UNION ALL
        SELECT doc_a, explode(slice(members, i + 2, size(members))) AS doc_b,
               CAST(n_sh AS BIGINT) AS n_inter, 1.0D AS jaccard
        FROM (SELECT posexplode(members) AS (i, doc_a), members, n_sh
              FROM {{groups}} WHERE size(members) >= 2)
    """, groups=groups)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document over distinct tokens.

    bit b of the fingerprint = sign of Σ_tokens (±1 by bit b of the
    token hash); near-duplicate docs land at small Hamming distance.

    The 32 per-bit sums are COLUMNS of one hash-aggregate, not a ×32
    row explosion: one shuffle on doc_id, partial aggregation upstream,
    token-stream row count unchanged (a row-exploded formulation
    measured ~5× slower at sf1)."""
    bits = range(32)
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, {" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b}L ELSE 0L END" for b in bits)}
                       AS simhash
        FROM (SELECT doc_id,
                     {", ".join(f"sum(CAST(((h >> {b}) & 1) * 2 - 1 AS BIGINT)) AS s{b}" for b in bits)}
              FROM (SELECT doc_id, {hash32_sql("tok")} AS h
                    FROM (SELECT doc_id, explode(array_distinct({tokens_sql()})) AS tok
                          FROM {{documents}}))
              GROUP BY doc_id)
    """)


# doc → cluster label over the collapsed graph: a doc's label is its
# representative's component; a doc with no signature (no shingles) is
# a singleton component
_CLUSTER_LABELS_SQL = """
    SELECT d.*, coalesce(l.cluster_id, d.doc_id) AS cluster_id
    FROM {documents} d
    LEFT JOIN (SELECT doc_id, rep_id FROM {with_rep}) w ON d.doc_id = w.doc_id
    LEFT JOIN {rep_labels} l ON w.rep_id = l.doc_id
"""


def _cluster_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The memoized relations ``_CLUSTER_LABELS_SQL`` reads. The doc→rep
    map and the rep-level candidate edges ARE the collapse index, and
    the component labels an index too: each is persisted per session,
    so the iterative loop, ``dedup_keep_corpus`` and repeated
    invocations never re-execute the signature window, the band
    self-join or the propagation iterations."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    sig_cols = ", ".join(f"mh{j}" for j in range(N_PERM))
    with_rep = shared_persist(spark, ("sig_rep_map", sf_dir), lambda: _sql(spark, sf_dir, f"""
        SELECT doc_id, {sig_cols}, min(doc_id) OVER (PARTITION BY {sig_cols}) AS rep_id
        FROM {{sig}}
    """, sig=_minhash_sig_df(spark, sf_dir)))
    rep_pairs = shared_persist(spark, ("rep_pairs", sf_dir), lambda: _sql(spark, sf_dir, f"""
        WITH banded AS (
          SELECT doc_id, {band_split_sql()} FROM {{with_rep}} WHERE doc_id = rep_id
        )
        {lsh_pairs_sql("banded")}
    """, with_rep=with_rep))
    rep_labels = shared_persist(
        spark,
        ("rep_labels", sf_dir),
        lambda: connected_components(
            with_rep.filter("doc_id = rep_id").select("doc_id"), rep_pairs, "doc_a", "doc_b"
        ),
    )
    return {"with_rep": with_rep, "rep_labels": rep_labels}


def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate graph: every doc gets
    a cluster id (min doc_id in its component); dedup keeps one doc per
    CLUSTER, not per pair.

    Spark has no recursive CTE, so this is the idiomatic substitute: an
    iterative min-label propagation as a driver-controlled DataFrame
    loop (each iteration fully distributed). Each pass also
    POINTER-JUMPS (cluster_id ← its cluster_id's cluster_id), so
    label paths halve every iteration and convergence is
    O(log diameter) rather than O(diameter) — a chain of 1000
    near-dup docs converges in ~10 passes, not 1000. The DuckDB
    oracle computes the same components with WITH RECURSIVE
    transitive closure.

    Graph collapse (round 5): documents with IDENTICAL MinHash
    signature vectors pair in every band, so they are provably one
    component — the iterations run over one REPRESENTATIVE per distinct
    signature (rep = group min, so the component minimum is preserved)
    and doc-level labels come from one post-hoc join. On a
    duplication-heavy corpus this removes the intra-group cliques from
    the edge list entirely (C(g,2)×bands edges per duplicate group →
    0) and shrinks every per-iteration join to distinct-signature
    cardinality. Results are identical; the oracle is unchanged."""
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper
        FROM ({_CLUSTER_LABELS_SQL})
    """, **_cluster_frames(spark, sf_dir))


def dedup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup loop closed end-to-end: LSH candidates → connected
    components → keep one doc per cluster → the deduplicated corpus
    (what actually ships to training). The labels ride the corpus scan,
    so document payloads move once."""
    return _sql(spark, sf_dir, f"""
        SELECT doc_id, lang, source, n_chars FROM ({_CLUSTER_LABELS_SQL})
        WHERE doc_id = cluster_id
    """, **_cluster_frames(spark, sf_dir))


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Incremental (cross-run) dedup: drop new documents whose content
    hash already exists in the accumulated corpus — the every-crawl
    step of a training pipeline that never re-admits seen content.

    Shape: hash the new batch (narrow projection), ONE anti join
    against the corpus hash set. The corpus side carries only its
    128-bit hashes, so even a trillion-document history is a compact
    join relation; with the corpus bucketed on the hash the join is
    shuffle-free on the history side. Also de-dups WITHIN the batch
    (keep min id per hash) so the admitted set is hash-unique."""
    from pyspark.sql import Window as W

    hashed = new_docs.withColumn("__h", F.md5(F.col(text_col)))
    w = W.partitionBy("__h").orderBy(*[F.col(c) for c in new_docs.columns[:1]])
    return (
        hashed.join(
            corpus_hashes.select(F.col(hash_col).alias("__h")), "__h", "anti"
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked wrapper of ``dedup_against_corpus``: the corpus
    history is one hash half of ``documents`` (its md5 set), the new
    batch is the other half; returns the admitted (never-seen,
    batch-unique) documents — the every-crawl incremental dedup step."""
    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 2
    corpus = d.filter(bucket == 0).select(F.md5("text").alias("content_hash"))
    batch = d.filter(bucket == 1).select("doc_id", "lang", "text")
    return dedup_against_corpus(batch, corpus).select("doc_id", "lang")


def bands_per_row(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(id, band_key)`` MinHash band keys of each row of ``df`` — the
    batch signature's own ``signature_sql`` and ``band_split_sql``, so
    signatures are identical; no aggregate is involved, so this works
    on static frames AND unbounded streams. Docs too short to carry a
    shingle produce no rows."""
    i = text_ident_sql(id_col)
    return _sql(df.sparkSession, "", f"""
        SELECT {i}, {BAND_KEY_SQL} AS band_key
        FROM (SELECT {i}, {band_split_sql()}
              FROM ({signature_sql("{df}", id_col, text_col, N_PERM)}))
    """, df=df)


# ---------------------------------------------------------------------------
# Cross-run band index: the near-dup payload of ``indexstore``
# ---------------------------------------------------------------------------
#
# The corpus's near-dup history persists as per-document band keys
# ``(doc_id, band_key)`` in the index store at a root: seeded at
# generation 0, grown by generation-0 batches of each crawl's admitted
# documents, and maintained by supersedes (a re-crawled CHANGED doc's
# new bands at a later generation) and tombstones (a GONE doc). Probes
# read the store's effective view (latest generation wins); compaction
# physically drops superseded and tombstoned rows. At 100 TB only the
# root changes (an object-store path instead of a local one).

BAND_INDEX = indexstore.Family(
    name="band",
    id_col="doc_id",
    deltas=("bands",),
    # NULL-band marker rows (see _band_rows) retire old bands; they
    # never match a probe and are dropped at compaction, as are the
    # duplicate rows a generation-0 append re-run after a compaction
    # (or replayed by a crash mid-compaction) adds
    live=lambda v: v.filter("band_key IS NOT NULL").dropDuplicates(),
)


def _band_rows(
    docs: DataFrame, gen: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, band_key)`` rows of ``docs``. In a supersede
    (``gen > 0``) a doc whose new content carries no shingle signature
    still gets a NULL-band marker row, so its old bands die too (the
    band set of unshingleable content is empty, not "unchanged")."""
    bands = bands_per_row(docs, id_col, text_col).select(
        F.col(id_col).alias("doc_id"), "band_key"
    )
    if not gen:
        return bands
    # a doc has no bands IFF its token count is < SHINGLE_K (the
    # bands_per_row admission rule: >= k tokens produce >= 1 shingle) —
    # deriving the markers from that filter avoids re-running the whole
    # tokenize→minhash pipeline a second time just to anti-join it
    marker = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokens_col(text_col)).alias("__ntok"),
        )
        .filter(F.col("__ntok") < SHINGLE_K)
        .select("doc_id", F.lit(None).cast("string").alias("band_key"))
    )
    return bands.unionByName(marker)


def save_band_index_versioned(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Seed the band index at ``root`` with ``docs``' band keys at
    generation 0, replacing any earlier index there."""
    BAND_INDEX.save(spark, root, {"bands": _band_rows(docs, 0, id_col, text_col)})


def supersede_band_index(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    batch_tag: str,
    gen: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Write ``docs``' band keys as the batch ``batch_tag``. At
    generation 0 it appends NEW documents (a crawl's admitted docs);
    at ``gen > 0`` it registers re-crawled CHANGED content: the docs'
    old bands stop matching immediately and compaction drops them.
    ``gen`` must exceed every generation written for these docs. A
    retry under the same tag replaces its own batch."""
    BAND_INDEX.write_batch(
        spark, root, batch_tag, {"bands": _band_rows(docs, gen, id_col, text_col)}, gen
    )


def delete_band_index_docs(
    spark: SparkSession, ids: DataFrame, root: str, batch_tag: str, gen: int,
    id_col: str = "doc_id",
) -> None:
    """Tombstone documents out of the index at generation ``gen`` (the
    crawl loop's 'page gone' signal): probes stop matching every band
    the doc ever contributed, compaction removes them."""
    BAND_INDEX.write_tombstones(spark, root, batch_tag, ids.select(id_col), gen)


def dedup_against_band_index_versioned(
    spark: SparkSession,
    new_docs: DataFrame,
    root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: DataFrame | None = None,
    raw: bool = False,
) -> DataFrame:
    """Cross-RUN near-duplicate dedup: the admitted subset of
    ``new_docs`` against the band index at ``root`` — the every-crawl
    loop: probe the index, drop near-dups of history AND of earlier
    (min-id) batch docs, append the survivors' bands back
    (``supersede_band_index`` at generation 0), repeat tomorrow.

    Same contract as ``dedup_incremental_near``: rejected when any
    band key is live in the index or was claimed by a smaller-id batch
    doc (window over the batch's own band rows — batch-sized); docs
    with no shingles carry no signature and are not admitted.

    Scale shape: the index's effective view is scanned in place and the
    batch's band keys are BROADCAST into a semi join (as the ANN probes
    broadcast their probed cells), so the index never shuffles and a
    key many index docs share yields one row per index row; the
    view masks superseded docs with the store's guarded broadcast of
    the batch-sized marks. ``raw`` probes the base relation alone —
    correct only post-compaction, which is exactly what the recrawl
    gate member uses it to PROVE.

    ``bands``: optionally the PRE-COMPUTED ``bands_per_row`` of
    ``new_docs`` (a caller probing the same batch against several index
    states computes it once); when absent it is computed and
    checkpointed here, since the plan references it three times and
    Catalyst does not share common subtrees across joins."""
    from pyspark.sql import Window as W

    from generic_data_ingestor_framework_spark.scale import broadcast_threshold_bytes

    nb = (
        bands
        if bands is not None
        else bands_per_row(
            new_docs.select(id_col, text_col), id_col, text_col
        ).localCheckpoint(eager=True)
    )
    idx = (
        spark.read.parquet(f"{root}/bands") if raw else BAND_INDEX.view(spark, root, "bands")
    )
    # budget <= 0 = operator disabled broadcasting: no forced hint
    hint = F.broadcast if broadcast_threshold_bytes(spark) > 0 else (lambda d: d)
    # each live key the batch holds, once, however many index docs hold
    # it (a semi join emits at most one row per index row; the partial
    # aggregate collapses them before anything moves), then its batch
    # docs from the batch-sized band rows
    hit_keys = (
        idx.select("band_key")
        .join(hint(nb.select("band_key").distinct()), "band_key", "semi")
        .distinct()
    )
    hit = hit_keys.join(nb, "band_key").select(id_col).distinct()
    w = W.partitionBy("band_key").orderBy(id_col)
    loser = (
        nb.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
        .distinct()
    )
    signed = nb.select(id_col).distinct()
    return (
        new_docs.join(signed, id_col, "semi")
        .join(hit, id_col, "anti")
        .join(loser, id_col, "anti")
    )


def _band_member_root(spark: SparkSession, sf_dir: str, kind: str) -> str:
    from generic_data_ingestor_framework_spark.fileops import sf_tag

    return indexstore.member_root(spark, f"band_{kind}_idx_{sf_tag(sf_dir)}")


def band_index_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-run crawl loop driven END-TO-END through the
    PERSISTED band index at generation 0 — the gate member for
    ``save_band_index_versioned`` / ``dedup_against_band_index_versioned``
    / generation-0 ``supersede_band_index`` appends (batch-equality
    pytests prove each step; this member drives the full save → probe
    → append → probe cycle through the on-disk store, so a regression
    in the persisted path — layout, append batches, semi-join claim
    order — flips the driver gate, not just a unit test).

    The corpus splits into three hash runs: run 0 seeds the index
    (overwrite → idempotent re-runs), run 1 probes it and its admitted
    docs are WRITTEN durably and appended to the index (reading the
    admitted set back from its files is the production shape — each
    crawl's output is durable — and pins the probe result against the
    index append that follows it), run 2 probes the grown index.
    Output: the admitted (doc_id, lang) of both runs, tagged ``run``
    1/2.

    Scale shape: the index side of every probe is scanned in place
    (never shuffles); only batch-sized relations move."""
    d = load_table(spark, sf_dir, "documents")
    run = portable_hash32(F.col("doc_id").cast("string")) % 3
    root = _band_member_root(spark, sf_dir, "crawl")
    run0 = d.filter(run == 0).select("doc_id", "text")
    run1 = d.filter(run == 1).select("doc_id", "lang", "text")
    run2 = d.filter(run == 2).select("doc_id", "lang", "text")
    save_band_index_versioned(spark, run0, root)
    adm1 = dedup_against_band_index_versioned(spark, run1, root)
    adm1.write.mode("overwrite").parquet(f"{root}_adm1")
    adm1_saved = spark.read.parquet(f"{root}_adm1")
    supersede_band_index(spark, adm1_saved, root, "adm1", gen=0)
    adm2 = dedup_against_band_index_versioned(spark, run2, root)
    return adm1_saved.select("doc_id", "lang", F.lit(1).alias("run")).unionAll(
        adm2.select("doc_id", "lang", F.lit(2).alias("run"))
    )


def band_index_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate member for the COMPACTION-PRESSURE policy (r12 verdict #1):
    drive the recrawl cohorts (seed hash%3==0, supersede hash%5==0 at
    gen 1, tombstone hash%7==0 at gen 2) into a band index, measure the
    delta/base pressure, run the store's ``maybe_compact`` at the
    default 10% policy — the ~31% touched cohort exceeds it at every
    SF, so the policy MUST fire — and measure again. Stage 1 pins the
    observed pressure (delta docs = the touched cohort, base docs =
    seed docs with >=1 band); stage 2 pins the enforcement (delta
    drained, pressure 0, ``compacted`` true). The DuckDB oracle
    recomputes both stages from the hash cohorts and the >=3-token
    bandability rule.

    Scale shape: the pressure probe is one aggregate job; compaction
    is the one full rewrite the policy exists to schedule."""
    d = load_table(spark, sf_dir, "documents")
    h = portable_hash32(F.col("doc_id").cast("string"))
    root = _band_member_root(spark, sf_dir, "pressure")
    modified = F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+")))
    run0 = d.filter(h % 3 == 0)
    changed = run0.filter(h % 5 == 0).select("doc_id", modified.alias("text"))
    deleted = run0.filter(h % 7 == 0).select("doc_id")
    save_band_index_versioned(spark, run0.select("doc_id", "text"), root)
    supersede_band_index(spark, changed, root, "b1", gen=1)
    delete_band_index_docs(spark, deleted, root, "b2", gen=2)
    p1 = BAND_INDEX.pressure_stats(spark, root)
    # p1 measured the exact state maybe_compact would re-measure —
    # pass it through (r14 opt: one stats pass instead of two)
    dec = BAND_INDEX.maybe_compact(spark, root, stats=p1)
    p2 = BAND_INDEX.pressure_stats(spark, root)
    rows = [
        (1, p1["base_ids"], p1["delta_ids"], p1["pressure_bp"], False),
        (2, p2["base_ids"], p2["delta_ids"], p2["pressure_bp"], dec["compacted"]),
    ]
    return local_relation(
        spark,
        rows,
        "stage int, base_docs bigint, delta_docs bigint, pressure_bp bigint, "
        "compacted boolean",
    )


# re-crawled old-content copies are re-keyed past max(doc_id) — the
# offset is DERIVED (broadcast 1-row aggregate), not a fixed constant,
# so the disjoint-id-space assumption holds at every SF (r12 ADVICE: a
# fixed +1e6 collides with real ids once the corpus passes 1M docs)
RECRAWL_OFFSET_SQL = "(SELECT max(doc_id) + 1 FROM documents)"


def _recrawl_off(d: DataFrame):
    return F.broadcast(d.agg((F.max("doc_id") + 1).alias("__off")))


def band_index_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE/SUPERSEDE crawl loop driven END-TO-END through the
    band index — the gate member for ``supersede_band_index`` /
    ``delete_band_index_docs`` / the store's effective view and
    compaction (mirrors ``band_index_crawl``, which pins the
    append-only loop).

    Shape: run-0 docs (hash%3==0) seed the base at gen 0. The crawl
    then RE-visits a subset (hash%5==0) whose content CHANGED — words
    reversed, a deterministic whole-text rewrite — superseding them at
    gen 1, and finds another subset (hash%7==0) GONE, tombstoning them
    at gen 2 (a doc in both is superseded then deleted; latest wins).
    A probe batch — run-1 docs plus OLD-CONTENT COPIES of every changed
    doc (original text re-keyed past max(doc_id)) — probes the effective
    view (phase 1) and, after compaction, the RAW base with no
    effective-view logic at all (phase 2). Equal phases pin both that
    the effective view is right and that compaction physically dropped
    every stale row: an old-content copy is admitted ONLY because the
    changed doc's old bands are dead, and a surviving stale row would
    flip phase 2. The DuckDB oracle recomputes the surviving band set
    from scratch.

    Scale shape: probes never shuffle the index (scanned in place,
    batch broadcast; broadcast anti on the batch-sized marks);
    compaction is the one full rewrite."""
    d = load_table(spark, sf_dir, "documents")
    h = portable_hash32(F.col("doc_id").cast("string"))
    root = _band_member_root(spark, sf_dir, "recrawl")
    modified = F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+")))
    run0 = d.filter(h % 3 == 0)
    changed = run0.filter(h % 5 == 0).select("doc_id", modified.alias("text"))
    deleted = run0.filter(h % 7 == 0).select("doc_id")
    copies = run0.filter(h % 5 == 0).crossJoin(_recrawl_off(d)).select(
        (F.col("doc_id") + F.col("__off")).alias("doc_id"), "lang", "text"
    )
    batch = d.filter(h % 3 == 1).select("doc_id", "lang", "text").unionByName(copies)
    save_band_index_versioned(spark, run0.select("doc_id", "text"), root)
    supersede_band_index(spark, changed, root, "b1", gen=1)
    delete_band_index_docs(spark, deleted, root, "b2", gen=2)
    # both probe phases sign the SAME batch — compute its bands once
    # (r14 opt; each probe otherwise re-ran the tokenize→minhash
    # pipeline, and referenced it 3x inside its own plan)
    nb = bands_per_row(
        batch.select("doc_id", "text"), "doc_id", "text"
    ).localCheckpoint(eager=True)
    adm1 = dedup_against_band_index_versioned(spark, batch, root, bands=nb)
    # materialize phase 1 BEFORE compaction rewrites the relation it reads
    out1 = adm1.select(
        F.lit(1).alias("phase"), "doc_id", "lang"
    ).localCheckpoint(eager=True)
    BAND_INDEX.compact(spark, root)
    adm2 = dedup_against_band_index_versioned(spark, batch, root, bands=nb, raw=True)
    return out1.unionAll(adm2.select(F.lit(2).alias("phase"), "doc_id", "lang"))


def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run NEAR-duplicate dedup: ``dedup_incremental`` catches
    exact re-crawls, but production pipelines must also refuse content
    that is a near-duplicate of the accumulated corpus. The corpus
    history persists only its MinHash BAND SIGNATURES (4 strings per
    document — a compact index no matter how large the history grows);
    a new-batch document is rejected when ANY of its band signatures
    already exists in the corpus index (the LSH candidate test, the
    same recall contract as ``dedup_minhash_lsh_pairs``), and admitted
    documents are also band-unique within the batch (min doc_id wins).

    Scale shape (round-6: ONE band-key shuffle instead of the prior
    semi-join + separate window): corpus rows sort before batch rows
    inside each (band_idx, band_sig) partition (bucket 0 < 1, then
    doc_id), so a batch row with ``row_number > 1`` is exactly
    "band already claimed" — by corpus history OR by an earlier batch
    document. No pairwise comparisons anywhere; the band relation is
    session-persisted (``_banded_df``)."""
    return _sql(spark, sf_dir, """
        WITH rejected AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, bucket,
                   row_number() OVER (PARTITION BY band_idx, band_sig ORDER BY bucket, doc_id) AS rn
            FROM {banded})
          WHERE bucket = 1 AND rn > 1
        ),
        batch_ids AS (SELECT DISTINCT doc_id FROM {banded} WHERE bucket = 1)
        SELECT d.doc_id, d.lang FROM {documents} d
        LEFT SEMI JOIN batch_ids b ON d.doc_id = b.doc_id
        LEFT ANTI JOIN rejected r ON d.doc_id = r.doc_id
    """, banded=_banded_df(spark, sf_dir))


def connected_components(
    docs: DataFrame, pairs: DataFrame, a_col: str, b_col: str, max_iters: int = 12
) -> DataFrame:
    """Min-label propagation + pointer jumping over an undirected edge
    list. ``docs`` must have a ``doc_id`` column; returns
    (doc_id, cluster_id = component min). See ``dedup_cluster_assign``
    for the algorithmic contract."""
    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .union(pairs.select(F.col(b_col).alias("a"), F.col(a_col).alias("b")))
        .cache()
    )
    # materialize the seed labels: the loop's first iteration references
    # `labels` TWICE (neighbor-min join + propagate join), so a heavy
    # docs lineage would otherwise execute twice before the first
    # checkpoint truncates it
    labels = docs.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint(eager=True)

    # Convergence test: per-node labels are MONOTONE NON-INCREASING
    # (both steps take minima), so any change strictly decreases the
    # label sum — sum unchanged ⇔ fixpoint. One no-shuffle aggregate
    # per iteration instead of the join+count diff (decimal(38) keeps
    # the sum exact at any corpus size, no overflow wrap).
    def _label_sum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    changed = 0
    try:
        for _ in range(max_iters):  # ≥ log2(max component diameter), with slack
            neighbor_min = (
                labels.join(edges, labels.doc_id == edges.a)
                .groupBy(F.col("b").alias("doc_id"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            propagated = (
                labels.join(neighbor_min, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                    ).alias("cluster_id"),
                )
            )
            parent = propagated.select(
                F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_cluster")
            )
            new_labels = (
                propagated.join(parent, propagated.cluster_id == parent.p_id, "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"), F.coalesce(F.col("p_cluster"), F.col("cluster_id"))
                    ).alias("cluster_id"),
                )
            )
            # localCheckpoint (not cache): the pointer-jump self-join puts
            # the prior plan in the tree TWICE per iteration, so without
            # lineage truncation the analyzed plan grows 2^iterations and
            # OOMs the driver long before any data does. The convergence
            # sum rides the SAME materialization job as an Observation —
            # zero extra actions per iteration.
            from pyspark.sql import Observation

            obs = Observation()
            new_labels = new_labels.observe(
                obs, F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
            )
            new_labels = new_labels.localCheckpoint(eager=True)
            new_sum = obs.get["s"]
            changed = 0 if new_sum == prev_sum else 1
            prev_sum = new_sum
            labels = new_labels
            if changed == 0:
                break
    finally:
        # the returned labels are localCheckpoint-materialized, so they
        # no longer reference the edge lineage — release it now rather
        # than leaking one cached edge relation per invocation
        edges.unpersist()
    if changed:
        # a component needing more than the iteration bound would yield
        # silently-wrong cluster ids; surface it instead of returning
        warnings.warn(
            f"connected_components: min-label propagation did not converge "
            f"(labels still changing after {max_iters} iterations); "
            f"cluster ids may split large components",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


PR_DAMP = 0.85
PR_ITERS = 5
PR_ROUND = 9  # per-iteration rounding (cross-engine summation contract)
PR_SCALE = 10**12  # per-edge contribs integer-scale before summing so the
                   # two engines' (and Spark partial-agg's) summation
                   # orders cannot drift a float sum across a rounding
                   # boundary; si ≤ PR_SCALE per node, far inside bigint


def pagerank_doc_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate similarity graph: LSH candidate
    pairs become symmetric edges and ``PR_ITERS`` power iterations rank
    each document's centrality in its duplication neighborhood — high
    rank = hub of a large near-dup family (the doc you keep or audit
    first), base rank = no duplicates anywhere.

    The iterative-analytics sibling of ``connected_components``, and it
    gets the same plan hygiene: the edge list is pre-joined with its
    out-degree ONCE and session-persisted (one join + one destination
    hash-aggregate per iteration — the textbook distributed PageRank
    shape), and the rank relation is ``localCheckpoint``-truncated every
    iteration so the executed plan stays flat instead of re-deriving
    all prior iterations (round-5 audit: 100 exchanges, sf1 ratio 6.59).
    Dangling mass is NOT redistributed (defined contract, mirrored in
    the oracle). Per-edge contributions are integer-scaled by
    ``PR_SCALE`` before summing (order-exact cross-engine) and ranks
    round to ``PR_ROUND`` dp per iteration."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist, shared_value

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def _edges_with_degree() -> DataFrame:
        pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
        e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionAll(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        return e.join(deg, "u")

    n = shared_value(spark, ("pr_n", sf_dir), lambda: docs.count())
    if n == 0:  # no documents: no ranks (the seed rank 1/n is undefined)
        return docs.select("doc_id", F.lit(None).cast("double").alias("pagerank"))
    ed = shared_persist(spark, ("pr_edges_deg", sf_dir), _edges_with_degree)
    base = 0.15 / n
    p = docs.select(F.col("doc_id").alias("v"), F.lit(1.0 / n).alias("p"))
    p = p.localCheckpoint(eager=True)  # referenced once per iteration; seed flat
    for _ in range(PR_ITERS):
        contrib = (
            ed.join(p.withColumnRenamed("v", "u"), "u")
            .groupBy("v")
            .agg(
                F.sum(
                    F.round(F.col("p") * PR_SCALE / F.col("deg")).cast("bigint")
                ).alias("si")
            )
        )
        p = docs.join(contrib, docs.doc_id == contrib.v, "left").select(
            F.col("doc_id").alias("v"),
            F.round(
                F.lit(base)
                + PR_DAMP
                * (F.coalesce(F.col("si"), F.lit(0)).cast("double") / F.lit(float(PR_SCALE))),
                PR_ROUND,
            ).alias("p"),
        )
        # truncate lineage: without this, iteration k's plan re-derives
        # iterations 1..k-1 (the round-5 100-exchange plan); with it each
        # iteration executes exactly one join + one aggregate
        p = p.localCheckpoint(eager=True)
    return p.select(F.col("v").alias("doc_id"), F.round("p", 6).alias("pagerank"))


MH_ACC_MOD_TIERS = ((20_000, 4), (200_000, 16))  # (< n_docs bound, mod); else ↓
MH_ACC_MOD_CEIL = 64        # past the last tier


def _acc_sample_mod(spark: SparkSession, sf_dir: str) -> int:
    """SF-aware audit sample modulus: candidate-pair mass grows
    quadratically with duplicate-family size, so a fixed 1-in-4 sample
    re-inflates at each corpus decade (sf1 measured 4.4× for 10× data
    at mod 4). The modulus steps ×4 per decade past 20k docs —
    estimator calibration needs a stable SAMPLE SIZE, not a stable
    sample RATE. The tier function is integer-threshold CASE logic so
    the DuckDB oracle (``_MH_ACC_MOD_SQL``) reproduces it exactly (the
    ``lsh_scurve_audit``/SemDeDup adaptive-k precedent)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    n = shared_value(
        spark,
        ("n_docs", sf_dir),
        lambda: load_table(spark, sf_dir, "documents").count(),
    )
    for bound, mod in MH_ACC_MOD_TIERS:
        if n < bound:
            return mod
    return MH_ACC_MOD_CEIL


_MH_ACC_MOD_SQL = (
    "(SELECT CASE "
    + " ".join(
        f"WHEN count(*) < {bound} THEN {mod}" for bound, mod in MH_ACC_MOD_TIERS
    )
    + f" ELSE {MH_ACC_MOD_CEIL} END FROM documents)"
)


def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator audit for the MinHash pipeline (the dedup analogue of
    ``ann_recall_report``): for every LSH candidate pair, the
    signature-estimated Jaccard (matching components / ``N_PERM``)
    side-by-side with the EXACT Jaccard of the full distinct
    hashed-shingle sets, plus the absolute error — the measurement that
    justifies (or indicts) a chosen signature width before a 100 TB
    dedup run trusts it.

    Scale shape: both inputs are session-persisted relations (bands →
    pairs, signatures); the exact side prunes the shingle relation to
    candidate documents FIRST (broadcast semi-join on the pair set), so
    the set-intersection join is bounded by candidate-pair cardinality,
    never corpus size. All arithmetic is integer counts + one division,
    4-dp floored.

    The audit runs over a deterministic hash-sample of the candidate
    pairs whose modulus STEPS WITH CORPUS SIZE (``_acc_sample_mod``):
    estimator calibration is a statistical question, and on a
    duplication-heavy corpus the pair mass is quadratic in family size
    (the round-8 sf1 decade-up measured 7.8× before sampling, 4.4×
    at a fixed 1-in-4) — membership is portable hash arithmetic and
    the modulus an integer tier function, so both engines audit the
    identical subset at every scale."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist, shared_value

    # Session-memoized eager checkpoint (r14 opt): the sampled pair set
    # is referenced by est, the candidate pruning, AND the intersection
    # join — un-truncated, the LSH self-join subtree repeats hundreds
    # of times through the downstream plan and Catalyst re-plans it all
    # on every call. The checkpoint collapses every reference to a
    # sampled-pair-sized leaf; cachemgr releases it at clear_caches.
    pair_h = hash32_sql("concat(CAST(doc_a AS STRING), '_', CAST(doc_b AS STRING))")
    pairs = shared_value(spark, ("mh_acc_pairs", sf_dir), lambda: _sql(
        spark, sf_dir, f"SELECT * FROM {{pairs}} WHERE {pair_h} % :mod = 0",
        {"mod": _acc_sample_mod(spark, sf_dir)}, pairs=dedup_minhash_lsh_pairs(spark, sf_dir),
    ).localCheckpoint(eager=True))
    # the candidate-pruned hashed shingles, referenced by sizes + both
    # sides of the intersection join: persisted once (bounded by
    # candidate docs)
    hc = shared_persist(spark, ("mh_acc_cand_shingles", sf_dir), lambda: _sql(
        spark, sf_dir, f"""
        SELECT /*+ BROADCAST(cand) */ hs.doc_id, hs.sh
        FROM (SELECT DISTINCT doc_id, {hash32_sql("shingle")} AS sh FROM {{shingles}}) hs
        JOIN (SELECT DISTINCT doc_id
              FROM (SELECT doc_a AS doc_id FROM {{pairs}} UNION ALL SELECT doc_b FROM {{pairs}})) cand
          ON hs.doc_id = cand.doc_id
    """, shingles=_exploded_shingles(spark, sf_dir), pairs=pairs))
    # candidate-doc-sized; read as BOTH join sides below, which re-ran
    # the aggregate twice per call — checkpoint it once
    sizes = shared_value(spark, ("mh_acc_sizes", sf_dir), lambda: _sql(
        spark, sf_dir, "SELECT doc_id, count(1) AS sz FROM {hc} GROUP BY doc_id", hc=hc
    ).localCheckpoint(eager=True))
    m = " + ".join(f"CAST(a.mh{j} = b.mh{j} AS INT)" for j in range(N_PERM))
    # Broadcast the PAIR side (bounded by candidate count) into both
    # signature lookups, never the corpus-sized signature relation.
    # r14 opt: the pair side also broadcasts into the doc_a expansion
    # of the candidate shingles, and the y side (the same
    # candidate-pruned relation) into the set-intersection join, so
    # neither plans a sort-merge join; inter (≤ sampled-pair rows after
    # the aggregate) is the broadcast build side of the left join.
    return _sql(spark, sf_dir, f"""
        WITH est AS (
          SELECT /*+ BROADCAST(a) */ a.doc_a, a.doc_b, {m} AS m
          FROM (SELECT /*+ BROADCAST(p) */ p.doc_a, p.doc_b, {", ".join(f"s.mh{j}" for j in range(N_PERM))}
                FROM {{pairs}} p JOIN {{sig}} s ON p.doc_a = s.doc_id) a
          JOIN {{sig}} b ON a.doc_b = b.doc_id
        ),
        inter AS (
          SELECT /*+ BROADCAST(p), BROADCAST(y) */ p.doc_a, p.doc_b, count(1) AS i
          FROM {{pairs}} p
          JOIN {{hc}} x ON p.doc_a = x.doc_id
          JOIN {{hc}} y ON p.doc_b = y.doc_id AND x.sh = y.sh
          GROUP BY p.doc_a, p.doc_b
        ),
        j AS (
          SELECT /*+ BROADCAST(inter), BROADCAST(sza), BROADCAST(szb) */
                 est.doc_a, est.doc_b, m / {float(N_PERM)}D AS est_j,
                 coalesce(i, 0) / (sza.sz + szb.sz - coalesce(i, 0)) AS exact_j
          FROM est
          LEFT JOIN inter ON est.doc_a = inter.doc_a AND est.doc_b = inter.doc_b
          JOIN {{sizes}} sza ON est.doc_a = sza.doc_id
          JOIN {{sizes}} szb ON est.doc_b = szb.doc_id
        )
        SELECT doc_a, doc_b,
               floor(est_j * 10000) / 10000 AS est_jaccard,
               floor(exact_j * 10000) / 10000 AS exact_jaccard,
               floor(abs(est_j - exact_j) * 10000) / 10000 AS abs_err
        FROM j ORDER BY doc_a, doc_b
    """, pairs=pairs, sig=_minhash_sig_df(spark, sf_dir), hc=hc, sizes=sizes)


TRI_DEG_CAP = 64  # max raw degree for a node to enter the triangle census


SCURVE_DOC_MOD = 4  # audit docs with hash('s'·id) % MOD == 0 (all-pairs ground truth)


def lsh_scurve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH S-curve vs theory: on a deterministic document
    sample, EVERY pair's exact shingle Jaccard is computed (the ground
    truth LSH can never afford corpus-wide), pairs are bucketed by
    Jaccard decile, and each bucket reports the measured
    candidate-capture rate next to the banding theory's
    ``P = 1-(1-s^r)^b`` at the bucket midpoint — the calibration plot
    that tells you whether the (bands, rows) knee sits where the
    threshold needs it BEFORE a 100 TB dedup run commits to a config.

    Bucket ``-1`` is the zero-overlap mass: its pair count is
    arithmetic (``C(n,2)`` minus enumerated nonzero pairs — never
    materialized), and its candidate count is the LSH false-positive
    set (candidates sharing no shingle at all).

    Scale shape: the quadratic ground truth is confined to the sample
    (``1/MOD²`` of the pair mass — the audit's cost knob); the
    inverted-index join enumerates only nonzero-overlap pairs; all
    rates are integer-count ratios."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist, shared_value

    sample_h = hash32_sql("concat('s', CAST(doc_id AS STRING))")
    docs = f"SELECT doc_id FROM {{documents}} WHERE {sample_h} % {SCURVE_DOC_MOD} = 0"
    hs = shared_persist(spark, ("scurve_hs", sf_dir), lambda: _sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(docs) */ hs.doc_id, hs.sh
        FROM (SELECT DISTINCT doc_id, {hash32_sql("shingle")} AS sh FROM {{shingles}}) hs
        JOIN ({docs}) docs ON hs.doc_id = docs.doc_id
    """, shingles=_exploded_shingles(spark, sf_dir)))
    cands = shared_persist(spark, ("scurve_cands", sf_dir), lambda: _sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(da), BROADCAST(db) */ p.doc_a, p.doc_b, 1 AS cand
        FROM {{pairs}} p
        JOIN ({docs}) da ON p.doc_a = da.doc_id
        JOIN ({docs}) db ON p.doc_b = db.doc_id
    """, pairs=dedup_minhash_lsh_pairs(spark, sf_dir)))
    # bucket-count relation is ≤11 rows but its lineage is the whole
    # audit: truncate it so the totals/zero-row derivations below read
    # the materialized rows instead of re-running the pipeline.
    # Session-memoized (r14 opt): the eager checkpoint ran the full
    # quadratic ground-truth join during DataFrame CONSTRUCTION on
    # every call — ~1.5 s per warm call for rows the session already
    # held (cachemgr releases the blocks at clear_caches).
    per_bucket = shared_value(spark, ("scurve_per_bucket", sf_dir), lambda: _sql(
        spark, sf_dir, """
        WITH sizes AS (SELECT doc_id, count(1) AS sz FROM {hs} GROUP BY doc_id),
        nonzero AS (
          SELECT /*+ BROADCAST(sza), BROADCAST(szb) */ p.doc_a, p.doc_b, i,
                 sza.sz + szb.sz - i AS u
          FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS i
                FROM {hs} a JOIN {hs} b ON a.sh = b.sh
                WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id) p
          JOIN sizes sza ON p.doc_a = sza.doc_id
          JOIN sizes szb ON p.doc_b = szb.doc_id
        )
        SELECT bucket, count(1) AS n_pairs, sum(cand) AS n_candidates
        FROM (SELECT CAST(least(9, floor(10 * i / u)) AS INT) AS bucket,
                     coalesce(c.cand, 0) AS cand
              FROM nonzero n LEFT JOIN {cands} c ON n.doc_a = c.doc_a AND n.doc_b = c.doc_b)
        GROUP BY bucket
    """, hs=hs, cands=cands).localCheckpoint(eager=True))
    # pow() is not correctly-rounded identically across engines;
    # integer exponents via LEFT-ASSOCIATED multiplication are
    s_r = " * ".join(["s_mid"] * (N_PERM // BANDS))
    miss = " * ".join(["base"] * BANDS)
    return _sql(spark, sf_dir, f"""
        WITH zero AS (
          SELECT -1 AS bucket, CAST(n * (n - 1) / 2 - nz AS BIGINT) AS n_pairs,
                 CAST(cand_all - cand_nz AS BIGINT) AS n_candidates
          FROM (SELECT count(1) AS n FROM ({docs}))
          CROSS JOIN (SELECT coalesce(sum(n_pairs), 0) AS nz,
                             coalesce(sum(n_candidates), 0) AS cand_nz FROM {{per_bucket}})
          CROSS JOIN (SELECT count(1) AS cand_all FROM {{cands}})
        ),
        curve AS (
          SELECT *, {miss} AS miss
          FROM (SELECT *, 1 - {s_r} AS base
                FROM (SELECT *, (bucket + 0.5D) / 10 AS s_mid
                      FROM (SELECT * FROM {{per_bucket}} UNION ALL SELECT * FROM zero)))
        )
        SELECT bucket, n_pairs, n_candidates,
               CASE WHEN n_pairs > 0 THEN floor(n_candidates * 10000 / n_pairs) / 10000
                    ELSE 0.0D END AS cand_rate,
               CASE WHEN bucket >= 0 THEN floor((1 - miss) * 10000) / 10000
                    ELSE 0.0D END AS theo_rate
        FROM curve ORDER BY bucket
    """, per_bucket=per_bucket, cands=cands)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + local clustering coefficient over the
    near-duplicate similarity graph (same LSH-pair edge list PageRank
    and connected components use): a node in many triangles sits inside
    a tight near-dup CLIQUE (template/boilerplate families), while a
    high-degree node with no triangles is a hub joining unrelated docs
    — the distinction cluster-size alone can't make.

    Enumeration uses the canonical oriented form: every edge is kept
    once as ``a < b`` and triangles are closed as
    ``(a<b) ⋈ (b<c) ⋈ (a<c)``, so each triangle is produced exactly
    once — no /6 correction, no duplicate elimination.

    DEGREE CAP (the graph analogue of the Jaccard DF cap): nodes whose
    raw degree exceeds ``TRI_DEG_CAP`` are excluded and the census runs
    on the induced subgraph (degrees recomputed within it). A
    boilerplate mega-family is a near-CLIQUE, and a k-clique contains
    k³/6 triangles — enumeration is Ω(#triangles), so no algorithm
    (including degree-ordered orientation) makes an uncapped census
    tractable: the round-8 sf1 decade-up measured **40.8×** superlinear
    on the planted 5%%-hot-sentence clique before this cap. Hub nodes
    carry no per-triangle information anyway — their neighborhoods are
    the degenerate everything-matches case the cluster-assign /
    keep-best pipeline already handles wholesale.

    Scale shape: one degree aggregate, two key joins to induce the
    capped subgraph, then the wedge join — whose intermediate is now
    bounded by ``TRI_DEG_CAP · |E|`` regardless of skew; the corpus
    text is never touched."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    # referenced five times below (three wedge sides + both degree
    # unions): checkpoint the induced edge list once per session —
    # persist() kept the full LSH lineage in the logical plan, so each
    # of the five references re-embedded (and Catalyst re-optimized)
    # the whole pair-generation subtree per call; the checkpoint is the
    # same executor storage with a truncated plan (r14 opt)
    e = shared_value(spark, ("tri_capped_edges", sf_dir), lambda: _sql(spark, sf_dir, f"""
        WITH e0 AS (SELECT doc_a AS a, doc_b AS b FROM {{pairs}}),
        keep AS (
          SELECT doc_id FROM (SELECT a AS doc_id FROM e0 UNION ALL SELECT b FROM e0)
          GROUP BY doc_id HAVING count(1) <= {TRI_DEG_CAP}
        )
        SELECT e0.a, e0.b FROM e0
        JOIN keep ka ON e0.a = ka.doc_id
        JOIN keep kb ON e0.b = kb.doc_id
    """, pairs=dedup_minhash_lsh_pairs(spark, sf_dir)).localCheckpoint(eager=True))
    return _sql(spark, sf_dir, """
        WITH tri AS (
          SELECT x.a AS ta, x.b AS tb, y.b AS tc
          FROM {e} x JOIN {e} y ON x.b = y.a
          JOIN {e} z ON x.a = z.a AND y.b = z.b
        ),
        part AS (
          SELECT doc_id, count(1) AS n_triangles
          FROM (SELECT explode(array(ta, tb, tc)) AS doc_id FROM tri) GROUP BY doc_id
        ),
        deg AS (
          SELECT doc_id, count(1) AS degree
          FROM (SELECT a AS doc_id FROM {e} UNION ALL SELECT b FROM {e}) GROUP BY doc_id
        )
        SELECT doc_id, degree, n_triangles,
               round(2.0D * n_triangles / (degree * (degree - 1)), 6) AS clustering_coeff
        FROM part JOIN deg USING (doc_id)
        ORDER BY doc_id
    """, e=e)


QUERIES = {
    "dedup_exact": dedup_exact,
    "pagerank_doc_graph": pagerank_doc_graph,
    "graph_triangle_count": graph_triangle_count,
    "dedup_minhash_accuracy": dedup_minhash_accuracy,
    "lsh_scurve_audit": lsh_scurve_audit,
    "dedup_cluster_assign": dedup_cluster_assign,
    "dedup_exact_by_key": dedup_exact_by_key,
    "dedup_minhash_sig": dedup_minhash_sig,
    "dedup_minhash_sig_wide": dedup_minhash_sig_wide,
    "dedup_minhash_lsh_pairs": dedup_minhash_lsh_pairs,
    "dedup_minhash_lsh_pairs_wide": dedup_minhash_lsh_pairs_wide,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_keep_corpus": dedup_keep_corpus,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_near": dedup_incremental_near,
    "band_index_crawl": band_index_crawl,
    "band_index_recrawl": band_index_recrawl,
    "band_index_pressure": band_index_pressure,
}

def _sig_cte(n_perm: int) -> str:
    """DuckDB twin of ``_minhash_sig_df`` at any width — generated from
    the SAME ``minhash_coeffs`` family, so the two engines cannot
    drift on the coefficient tables."""
    a, b = minhash_coeffs(n_perm)
    mins = ",\n         ".join(
        f"CAST(min(({a[j]} * h + {b[j]}) % {MOD}) AS BIGINT) AS mh{j}"
        for j in range(n_perm)
    )
    return f"""
hashed AS (
  SELECT doc_id, {_HASH_SQL.format(c='shingle')} AS h FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
)
"""


def _banded_union_sql(n_perm: int, bands: int) -> str:
    """DuckDB twin of ``_banded_df``'s band projection (no bucket)."""
    rpb = n_perm // bands
    return "\n          UNION ALL ".join(
        "SELECT doc_id, {i} AS band_idx, concat_ws('_', {cols}) AS band_sig FROM sig".format(
            i=i, cols=", ".join(f"mh{rpb * i + r}" for r in range(rpb))
        )
        for i in range(bands)
    )


_SIG_CTE = _sig_cte(N_PERM)


def _sig_cte_tagged(n_perm: int) -> str:
    """``_sig_cte`` over a custom tagged doc set: reads ``shv``
    (doc_id, is_batch, shingle) instead of the fixed ``sh`` CTE —
    used by oracles that rebuild bands over modified/re-keyed text
    (the recrawl member)."""
    a, b = minhash_coeffs(n_perm)
    mins = ",\n         ".join(
        f"CAST(min(({a[j]} * hsh + {b[j]}) % {MOD}) AS BIGINT) AS mh{j}"
        for j in range(n_perm)
    )
    return f"""
hashedv AS (
  SELECT doc_id, is_batch, {_HASH_SQL.format(c='shingle')} AS hsh FROM shv
),
sigv AS (
  SELECT doc_id, is_batch,
         {mins}
  FROM hashedv GROUP BY doc_id, is_batch
)
"""


def _banded_union_tagged(n_perm: int, bands: int) -> str:
    rpb = n_perm // bands
    return "\n          UNION ALL ".join(
        "SELECT doc_id, is_batch, {i} AS band_idx, concat_ws('_', {cols}) AS band_sig FROM sigv".format(
            i=i, cols=", ".join(f"mh{rpb * i + r}" for r in range(rpb))
        )
        for i in range(bands)
    )


def _cc_labels_cte(rounds: int) -> tuple[str, str]:
    """Connected components as an UNROLLED min-label-propagation +
    pointer-jumping CTE chain (the engine's own algorithm,
    ``connected_components``) — replaces the r8 ``WITH RECURSIVE
    reach(src, dst)`` transitive closure, which materializes |C|² rows
    per component and made the oracle effectively non-terminating on
    the sf1 planted near-clique (~2,500 docs → 6M+ reach rows joined
    against a 6M-edge list every iteration). Each unrolled round is
    LINEAR in |edges|: a neighbor-min aggregate then one pointer jump
    (lbl := lbl(lbl)), so label distance roughly doubles per round.
    ``rounds`` must cover the component diameter after jumping;
    equality with the engine's exact fixpoint is what the oracle check
    itself validates at every SF, so an insufficient depth shows up as
    a red row, never silently."""
    parts = ["l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl FROM documents)"]
    prev = "l0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""p{i} AS MATERIALIZED (
          SELECT node, min(lbl) AS lbl FROM (
            SELECT node, lbl FROM {prev}
            UNION ALL
            SELECT e.a AS node, l.lbl FROM edges e JOIN {prev} l ON l.node = e.b
          ) GROUP BY node
        )"""
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT c.node, m.lbl FROM p{i} c JOIN p{i} m ON c.lbl = m.node)"
        )
        prev = f"l{i}"
    return ",\n        ".join(parts), prev


_CC_EDGES_CTE = """banded AS MATERIALIZED (
          SELECT doc_id, 0 AS band_idx, concat_ws('_', mh0, mh1) AS band_sig FROM sig
          UNION ALL SELECT doc_id, 1, concat_ws('_', mh2, mh3) FROM sig
          UNION ALL SELECT doc_id, 2, concat_ws('_', mh4, mh5) FROM sig
          UNION ALL SELECT doc_id, 3, concat_ws('_', mh6, mh7) FROM sig
        ),
        pairs AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
        ),
        edges AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs
        )"""

_CC_LABELS_CTE, _CC_FINAL = _cc_labels_cte(rounds=8)


def _pagerank_oracle() -> str:
    """The power-iteration trajectory unrolled into CTEs; reuses the
    LSH-pairs oracle verbatim as the edge source so the two members can
    never disagree about the graph."""
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""p{k} AS (
          SELECT d.doc_id AS v,
                 round(0.15 / (SELECT n FROM n_nodes)
                       + {PR_DAMP} * (COALESCE(c.si, 0) / {float(PR_SCALE)}),
                       {PR_ROUND}) AS p
          FROM documents d LEFT JOIN (
            SELECT e.v AS v,
                   sum(CAST(round(p.p * {PR_SCALE} / g.deg) AS BIGINT)) AS si
            FROM edges e JOIN p{k - 1} p ON p.v = e.u JOIN deg g ON g.u = e.u
            GROUP BY e.v) c ON c.v = d.doc_id
        )""")
    chain = ",\n        ".join(iters)
    return f"""
        WITH n_nodes AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        pairs AS MATERIALIZED ({{lsh}}),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u),
        p0 AS (
          SELECT doc_id AS v, 1.0 / (SELECT n FROM n_nodes) AS p FROM documents
        ),
        {chain}
        SELECT v AS doc_id, round(p, 6) AS pagerank FROM p{PR_ITERS}
    """


ORACLES = {
    "dedup_incremental_near": f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE},
        banded AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
                   AS bucket,
                 band_idx, band_sig
          FROM (
            SELECT doc_id, 0 AS band_idx, concat_ws('_', mh0, mh1) AS band_sig FROM sig
            UNION ALL SELECT doc_id, 1, concat_ws('_', mh2, mh3) FROM sig
            UNION ALL SELECT doc_id, 2, concat_ws('_', mh4, mh5) FROM sig
            UNION ALL SELECT doc_id, 3, concat_ws('_', mh6, mh7) FROM sig
          )
        ),
        corpus AS (SELECT DISTINCT band_idx, band_sig FROM banded WHERE bucket = 0),
        batch AS (SELECT doc_id, band_idx, band_sig FROM banded WHERE bucket = 1),
        hit AS (
          SELECT DISTINCT doc_id FROM batch b
          WHERE EXISTS (SELECT 1 FROM corpus c
                        WHERE c.band_idx = b.band_idx AND c.band_sig = b.band_sig)
        ),
        loser AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY band_idx, band_sig
                                      ORDER BY doc_id) AS rn
            FROM batch) WHERE rn > 1
        )
        SELECT d.doc_id, d.lang FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM batch)
          AND d.doc_id NOT IN (SELECT doc_id FROM hit UNION SELECT doc_id FROM loser)
    """,
    "dedup_incremental": """
        WITH b AS (
          SELECT doc_id, lang, md5(text) AS h,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
                   AS bucket
          FROM documents
        ),
        corpus AS (SELECT h FROM b WHERE bucket = 0),
        nk AS (
          SELECT doc_id, lang, h FROM b
          WHERE bucket = 1
            AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
        )
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
          FROM nk) WHERE rn = 1
    """,
    "dedup_keep_corpus": f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE},
        {_CC_EDGES_CTE},
        {_CC_LABELS_CTE}
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d JOIN {_CC_FINAL} l
          ON d.doc_id = l.node AND l.node = l.lbl
    """,
    "dedup_cluster_assign": f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE},
        {_CC_EDGES_CTE},
        {_CC_LABELS_CTE}
        SELECT node AS doc_id, lbl AS cluster_id,
               (node = lbl) AS is_keeper
        FROM {_CC_FINAL}
    """,
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_exact_by_key": """
        SELECT lang, source, min(doc_id) AS keep_id, count(*) AS n_in_group
        FROM documents GROUP BY lang, source
    """,
    "dedup_minhash_sig": f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE}
        SELECT * FROM sig
    """,
    "dedup_minhash_sig_wide": f"""
        WITH {_SHINGLES_CTE}, {_sig_cte(16)}
        SELECT * FROM sig
    """,
    "dedup_minhash_lsh_pairs_wide": f"""
        WITH {_SHINGLES_CTE}, {_sig_cte(16)},
        banded AS (
          {_banded_union_sql(16, 8)}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    """,
    "dedup_minhash_lsh_pairs": f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE},
        banded AS (
          SELECT doc_id, 0 AS band_idx, concat_ws('_', mh0, mh1) AS band_sig FROM sig
          UNION ALL
          SELECT doc_id, 1, concat_ws('_', mh2, mh3) FROM sig
          UNION ALL
          SELECT doc_id, 2, concat_ws('_', mh4, mh5) FROM sig
          UNION ALL
          SELECT doc_id, 3, concat_ws('_', mh6, mh7) FROM sig
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    """,
    # hashed-shingle space: the SAME md5-based 32-bit hash as the Spark
    # side, distinct per doc, so the engines agree even on collisions
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        hsh AS (
          SELECT DISTINCT doc_id, {_HASH_SQL.format(c='shingle')} AS sh FROM sh
        ),
        capped AS (
          SELECT doc_id, sh FROM hsh
          WHERE sh NOT IN (
            SELECT sh FROM hsh GROUP BY sh HAVING count(*) > {DF_CAP}
          )
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_inter,
               round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_TAU}
    """,
    "dedup_simhash": f"""
        WITH tok AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents
        ),
        toks AS (
          SELECT doc_id, {_HASH_SQL.format(c='tok')} AS h
          FROM (SELECT doc_id, unnest(list_distinct(ts)) AS tok FROM tok)
        ),
        contrib AS (
          SELECT doc_id, b,
                 sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM toks, range(0, 32) t(b)
          GROUP BY doc_id, b
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        FROM contrib GROUP BY doc_id
    """,
}

# PageRank oracle reuses the LSH-pairs SQL verbatim as the edge source
ORACLES["pagerank_doc_graph"] = _pagerank_oracle().format(
    lsh=ORACLES["dedup_minhash_lsh_pairs"]
)

# MinHash estimator audit: nests the LSH-pairs oracle, re-derives the
# signature and shingle CTEs at top level, and compares estimate vs exact
_MH_MATCHES = " + ".join(
    f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(N_PERM)
)
# Band-index crawl oracle: the two-pass save→probe→append→probe loop
# replayed in SQL — run 0 seeds the distinct-band history, run 1's
# admissions (no band in history, band not claimed by a smaller-id
# run-1 doc) extend it, run 2 probes the grown history.
ORACLES["band_index_crawl"] = f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE},
        banded AS MATERIALIZED (
          SELECT doc_id,
                 {_HASH_SQL.format(c="CAST(doc_id AS VARCHAR)")} % 3 AS run,
                 band_idx, band_sig
          FROM (
            {_banded_union_sql(N_PERM, BANDS)}
          )
        ),
        hist0 AS (SELECT DISTINCT band_idx, band_sig FROM banded WHERE run = 0),
        b1 AS (SELECT doc_id, band_idx, band_sig FROM banded WHERE run = 1),
        rej1 AS (
          SELECT DISTINCT doc_id FROM b1
          WHERE EXISTS (SELECT 1 FROM hist0 h
                        WHERE h.band_idx = b1.band_idx AND h.band_sig = b1.band_sig)
          UNION
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY band_idx, band_sig
                                              ORDER BY doc_id) AS rn
            FROM b1) WHERE rn > 1
        ),
        adm1 AS (
          SELECT DISTINCT doc_id FROM b1
          WHERE doc_id NOT IN (SELECT doc_id FROM rej1)
        ),
        hist1 AS (
          SELECT band_idx, band_sig FROM hist0
          UNION
          SELECT band_idx, band_sig FROM b1 JOIN adm1 USING (doc_id)
        ),
        b2 AS (SELECT doc_id, band_idx, band_sig FROM banded WHERE run = 2),
        rej2 AS (
          SELECT DISTINCT doc_id FROM b2
          WHERE EXISTS (SELECT 1 FROM hist1 h
                        WHERE h.band_idx = b2.band_idx AND h.band_sig = b2.band_sig)
          UNION
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY band_idx, band_sig
                                              ORDER BY doc_id) AS rn
            FROM b2) WHERE rn > 1
        ),
        adm2 AS (
          SELECT DISTINCT doc_id FROM b2
          WHERE doc_id NOT IN (SELECT doc_id FROM rej2)
        )
        SELECT d.doc_id, d.lang, CAST(1 AS INT) AS run
        FROM documents d JOIN adm1 USING (doc_id)
        UNION ALL
        SELECT d.doc_id, d.lang, CAST(2 AS INT) AS run
        FROM documents d JOIN adm2 USING (doc_id)
"""

# Versioned-index recrawl oracle: recompute the SURVIVING band set from
# scratch — run-0 docs minus deleted (hash%7==0), with changed docs
# (hash%5==0) carrying their re-crawled reversed-word text — then admit
# the probe batch (run-1 docs + old-content copies re-keyed
# past max(doc_id)) against it with the standard rules. Phases 1
# (effective view) and 2 (post-compaction raw base) must be identical,
# so the oracle emits the admitted set twice.
_RECRAWL_MOD = "array_to_string(list_reverse(string_split_regex(text, '\\s+')), ' ')"

ORACLES["band_index_recrawl"] = f"""
        WITH hd AS (
          SELECT doc_id, lang, text,
                 {_HASH_SQL.format(c="CAST(doc_id AS VARCHAR)")} AS hv
          FROM documents
        ),
        docs_v AS (
          SELECT doc_id, text, 0 AS is_batch FROM hd
          WHERE hv % 3 = 0 AND hv % 5 <> 0 AND hv % 7 <> 0
          UNION ALL
          SELECT doc_id, {_RECRAWL_MOD}, 0 FROM hd
          WHERE hv % 3 = 0 AND hv % 5 = 0 AND hv % 7 <> 0
          UNION ALL
          SELECT doc_id, text, 1 FROM hd WHERE hv % 3 = 1
          UNION ALL
          SELECT doc_id + {RECRAWL_OFFSET_SQL}, text, 1 FROM hd
          WHERE hv % 3 = 0 AND hv % 5 = 0
        ),
        tokv AS (
          SELECT doc_id, is_batch,
                 string_split_regex(lower(text), '\\s+') AS ts
          FROM docs_v
        ),
        shv AS (
          SELECT doc_id, is_batch, unnest(list_distinct(list_transform(
                   range(1, greatest(len(ts) - 1, 1)),
                   i -> concat_ws(' ', ts[i], ts[i + 1], ts[i + 2])))) AS shingle
          FROM tokv
        ),
        {_sig_cte_tagged(N_PERM)},
        bandedv AS (
          {_banded_union_tagged(N_PERM, BANDS)}
        ),
        hist AS (SELECT DISTINCT band_idx, band_sig FROM bandedv WHERE is_batch = 0),
        bb AS (SELECT doc_id, band_idx, band_sig FROM bandedv WHERE is_batch = 1),
        rej AS (
          SELECT DISTINCT doc_id FROM bb
          WHERE EXISTS (SELECT 1 FROM hist h
                        WHERE h.band_idx = bb.band_idx AND h.band_sig = bb.band_sig)
          UNION
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY band_idx, band_sig
                                              ORDER BY doc_id) AS rn
            FROM bb) WHERE rn > 1
        ),
        adm AS (
          SELECT DISTINCT doc_id FROM bb
          WHERE doc_id NOT IN (SELECT doc_id FROM rej)
        ),
        lmap AS (
          SELECT doc_id, lang FROM hd WHERE hv % 3 = 1
          UNION ALL
          SELECT doc_id + {RECRAWL_OFFSET_SQL}, lang FROM hd
          WHERE hv % 3 = 0 AND hv % 5 = 0
        )
        SELECT CAST(p.phase AS INT) AS phase, a.doc_id, l.lang
        FROM adm a JOIN lmap l USING (doc_id)
        CROSS JOIN (VALUES (1), (2)) AS p(phase)
"""

# Pressure-gate oracle: the cohort arithmetic is pure hashing, and a
# doc carries bands iff it has >=1 shingle (>=3 whitespace tokens — the
# same length rule the recrawl oracle's shingle CTE encodes). Stage 2
# replays compaction's survivor set: tombstoned docs (hash%7==0) die,
# changed docs keep bands (word reversal preserves token count), docs
# unshingleable before stay unshingleable after.
ORACLES["band_index_pressure"] = f"""
        WITH hd AS (
          SELECT doc_id, text,
                 {_HASH_SQL.format(c="CAST(doc_id AS VARCHAR)")} AS hv
          FROM documents
        ),
        run0 AS (SELECT * FROM hd WHERE hv % 3 = 0),
        banded AS (
          SELECT doc_id, hv FROM run0
          WHERE len(string_split_regex(lower(text), '\\s+')) >= 3
        ),
        touched AS (
          SELECT doc_id FROM run0 WHERE hv % 5 = 0 OR hv % 7 = 0
        ),
        n AS (
          SELECT (SELECT count(*) FROM banded) AS base1,
                 (SELECT count(*) FROM touched) AS delta1,
                 (SELECT count(*) FROM banded WHERE hv % 7 <> 0) AS base2
        )
        SELECT CAST(1 AS INT) AS stage, CAST(base1 AS BIGINT) AS base_docs,
               CAST(delta1 AS BIGINT) AS delta_docs,
               CAST((delta1 * 10000) // base1 AS BIGINT) AS pressure_bp,
               FALSE AS compacted
        FROM n
        UNION ALL
        SELECT CAST(2 AS INT), CAST(base2 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), TRUE
        FROM n
"""

ORACLES["dedup_minhash_accuracy"] = f"""
        WITH pairs0 AS ({ORACLES["dedup_minhash_lsh_pairs"]}),
        pairs AS (
          SELECT doc_a, doc_b FROM pairs0
          WHERE {_HASH_SQL.format(c="CAST(doc_a AS VARCHAR) || '_' || CAST(doc_b AS VARCHAR)")}
                % {_MH_ACC_MOD_SQL} = 0
        ),
        {_SHINGLES_CTE},
        {_SIG_CTE},
        hs AS (SELECT DISTINCT doc_id, h FROM hashed),
        cand AS (
          SELECT doc_a AS doc_id FROM pairs
          UNION SELECT doc_b FROM pairs
        ),
        hc AS (SELECT hs.doc_id, hs.h FROM hs JOIN cand USING (doc_id)),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM hc GROUP BY doc_id),
        inter AS (
          SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
          FROM pairs p
          JOIN hc x ON x.doc_id = p.doc_a
          JOIN hc y ON y.doc_id = p.doc_b AND y.h = x.h
          GROUP BY p.doc_a, p.doc_b
        ),
        m AS (
          SELECT p.doc_a, p.doc_b, CAST({{mm}} AS BIGINT) AS m
          FROM pairs p
          JOIN sig a ON a.doc_id = p.doc_a
          JOIN sig b ON b.doc_id = p.doc_b
        )
        SELECT m.doc_a, m.doc_b,
               floor(m / {float(N_PERM)} * 10000) / 10000 AS est_jaccard,
               floor(COALESCE(i, 0) / (sa.sz + sb.sz - COALESCE(i, 0)) * 10000)
                 / 10000 AS exact_jaccard,
               floor(abs(m / {float(N_PERM)}
                     - COALESCE(i, 0) / (sa.sz + sb.sz - COALESCE(i, 0))) * 10000)
                 / 10000 AS abs_err
        FROM m
        LEFT JOIN inter USING (doc_a, doc_b)
        JOIN sizes sa ON sa.doc_id = m.doc_a
        JOIN sizes sb ON sb.doc_id = m.doc_b
        ORDER BY m.doc_a, m.doc_b
""".replace("{mm}", _MH_MATCHES)

# S-curve oracle: same sample predicate, same enumerated nonzero pairs,
# same arithmetic zero-mass row, same left-associated banding theory
_R_ROWS, _N_BANDS = N_PERM // BANDS, BANDS
_S_MID = "((bucket + 0.5) / 10)"
_S_R = " * ".join([_S_MID] * _R_ROWS)
_MISS = " * ".join([f"(1 - {_S_R})"] * _N_BANDS)
ORACLES["lsh_scurve_audit"] = f"""
        WITH docs AS MATERIALIZED (
          SELECT doc_id FROM documents
          WHERE {_HASH_SQL.format(c="'s' || CAST(doc_id AS VARCHAR)")}
                % {SCURVE_DOC_MOD} = 0
        ),
        {_SHINGLES_CTE},
        hsd AS MATERIALIZED (
          SELECT DISTINCT s.doc_id, {_HASH_SQL.format(c='shingle')} AS h
          FROM sh s JOIN docs USING (doc_id)
        ),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM hsd GROUP BY doc_id),
        nonzero AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
          FROM hsd a JOIN hsd b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        nz AS (
          SELECT n.doc_a, n.doc_b, n.i, sa.sz + sb.sz - n.i AS u
          FROM nonzero n
          JOIN sizes sa ON sa.doc_id = n.doc_a
          JOIN sizes sb ON sb.doc_id = n.doc_b
        ),
        cand AS MATERIALIZED (
          SELECT p.doc_a, p.doc_b FROM ({ORACLES["dedup_minhash_lsh_pairs"]}) p
          JOIN docs da ON da.doc_id = p.doc_a
          JOIN docs db ON db.doc_id = p.doc_b
        ),
        flagged AS MATERIALIZED (
          SELECT least(9, CAST(floor(10 * i / u) AS INT)) AS bucket,
                 CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS cand
          FROM nz LEFT JOIN cand c USING (doc_a, doc_b)
        ),
        per AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(cand) AS BIGINT) AS n_candidates
          FROM flagged GROUP BY bucket
        ),
        zero AS (
          SELECT CAST(-1 AS INT) AS bucket,
                 CAST((SELECT count(*) FROM docs)
                      * ((SELECT count(*) FROM docs) - 1) / 2
                      - (SELECT count(*) FROM flagged) AS BIGINT) AS n_pairs,
                 CAST((SELECT count(*) FROM cand)
                      - (SELECT COALESCE(sum(cand), 0) FROM flagged)
                      AS BIGINT) AS n_candidates
        ),
        allb AS (SELECT * FROM per UNION ALL SELECT * FROM zero)
        SELECT bucket, n_pairs, n_candidates,
               CASE WHEN n_pairs > 0
                    THEN floor(n_candidates * 10000 / n_pairs) / 10000
                    ELSE 0.0 END AS cand_rate,
               CASE WHEN bucket >= 0
                    THEN floor((1 - {_MISS}) * 10000) / 10000
                    ELSE 0.0 END AS theo_rate
        FROM allb ORDER BY bucket
"""

# Triangle oracle: same edge source, same oriented a<b / b<c / a<c closure
ORACLES["graph_triangle_count"] = f"""
        WITH pairs AS ({ORACLES["dedup_minhash_lsh_pairs"]}),
        e0 AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
        deg0 AS (
          SELECT doc_id, count(*) AS d0 FROM (
            SELECT a AS doc_id FROM e0 UNION ALL SELECT b FROM e0)
          GROUP BY doc_id
        ),
        keep AS (SELECT doc_id FROM deg0 WHERE d0 <= {TRI_DEG_CAP}),
        e AS (
          SELECT a, b FROM e0
          JOIN keep ka ON ka.doc_id = e0.a
          JOIN keep kb ON kb.doc_id = e0.b
        ),
        tri AS (
          SELECT x.a AS ta, x.b AS tb, y.b AS tc
          FROM e x JOIN e y ON x.b = y.a
          JOIN e z ON z.a = x.a AND z.b = y.b
        ),
        part AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
          FROM (SELECT unnest([ta, tb, tc]) AS doc_id FROM tri)
          GROUP BY doc_id
        ),
        deg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS doc_id FROM e UNION ALL SELECT b FROM e)
          GROUP BY doc_id
        )
        SELECT doc_id, degree, n_triangles,
               round(2.0 * n_triangles / (degree * (degree - 1)), 6) AS clustering_coeff
        FROM part JOIN deg USING (doc_id)
        ORDER BY doc_id
"""
