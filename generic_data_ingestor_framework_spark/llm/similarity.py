"""Similarity search over the ``embeddings`` table (array<float> column).

Brute-force cosine top-k as the correctness baseline, plus an
LSH-bucketed variant (random-hyperplane signs) as the scale path.

All vector math uses built-in higher-order functions (``zip_with`` +
``aggregate``) — JVM-side, no Python in the hot loop. Elements are cast
to double *before* multiplying and the fold is sequential left-to-right,
so the DuckDB oracle (``list_reduce`` over the same products) produces
bit-identical doubles; results are rounded to 6 dp as the query
contract.

Scale notes (100 TB): the query set is broadcast (small side); the
candidate side streams. Brute force is O(n_q × n_c) dot products —
fine for re-ranking; the LSH variant prunes candidates by bucket before
any dot product, which is the strategy that survives 1000× growth
(bucket join ≡ shuffle on signature, no cross join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generic_data_ingestor_framework_spark.relational import load_table

N_QUERY = 5   # vec_id < 5 are the query vectors
TOP_K = 3
N_PLANES = 4  # LSH hyperplanes → 16 buckets


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _py_norm(v) -> float:
    """Driver-side L2 norm, bit-identical to ``_norm``: the same
    left-to-right fold of binary64 adds then a correctly-rounded sqrt
    (IEEE 754 — CPython floats and JVM doubles execute the identical
    op sequence)."""
    import math

    acc = 0.0
    for x in v:
        acc = acc + x * x
    return math.sqrt(acc)


def _cents_rows(cdf: DataFrame) -> list[tuple[int, list[float], float]]:
    """Collect a centroid relation to the driver (the MLlib-centroids
    class: k × dim floats, KBs), sorted by centroid id."""
    return sorted(
        (int(r[0]), list(r[1]), float(r[2]))
        for r in cdf.select("centroid_id", "cv", "cvn").collect()
    )


def _mat_scores(cents: list[list[float]], mode: str):
    """Vectorized Arrow scorer against a DRIVER-HELD k×d matrix
    (guide §4.2: hand whole batches to NumPy instead of evaluating k
    interpreted HOF folds per row). Returns the RAW per-centroid scores
    (dot products or squared L2) as ``array<double>``; rounding and
    ranking stay in the JVM so the cross-engine contract is untouched.

    Bit-identity: the accumulator walks the dimensions left-to-right —
    ``acc = (acc + v_i·c_i)`` per element — exactly the sequential fold
    ``_dot``/``_l2sq`` compute, and NumPy's elementwise binary64 ops are
    IEEE-exact per element, so every score is bit-identical to the HOF
    form (pinned by test_arrow_scorer_bit_identity)."""
    import numpy as np
    import pandas as pd

    cm = np.array(cents, dtype=np.float64)  # k × d

    @F.pandas_udf("array<double>")
    def scores(vs: pd.Series) -> pd.Series:
        k, d = cm.shape
        arrs = vs.to_numpy()
        try:
            mat = np.vstack(arrs).astype(np.float64, copy=False)
            if mat.shape[1] != d:
                raise ValueError("ragged dims")
        except ValueError:
            # ragged fallback: same fold per row (never hit by the
            # fixed-dim corpus, kept for API generality)
            out = []
            for v in arrs:
                row = np.zeros(k, dtype=np.float64)
                for i in range(min(len(v), d)):
                    if mode == "dot":
                        row = row + np.float64(v[i]) * cm[:, i]
                    else:
                        diff = np.float64(v[i]) - cm[:, i]
                        row = row + diff * diff
                out.append(row)
            return pd.Series(out)
        acc = np.zeros((mat.shape[0], k), dtype=np.float64)
        if mode == "dot":
            for i in range(d):
                acc += mat[:, i : i + 1] * cm[:, i]
        else:
            for i in range(d):
                diff = mat[:, i : i + 1] - cm[:, i]
                acc += diff * diff
        return pd.Series(list(acc))

    return scores


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", _as_double(F.col("embedding")).alias("v"), "label")


def _query_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``N_QUERY`` query vectors as a LOCAL relation (vec_id, v):
    collected once per session — a driver-held handful, the same
    bounded class as the k-means centroids — then rebuilt with
    ``createDataFrame``. Every probe-side derivation (wave transforms,
    norms, probed cells) was re-scanning the corpus parquet inside its
    broadcast build for these 5 rows (r14 opt: 3–6 such scans per
    recall/retrain call). Values are the exact binary64 rows of the
    corpus scan, so every downstream expression is bit-identical."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    # Materialized as a JVM-side SQL VALUES LocalRelation, memoized per
    # session: createDataFrame(rows) produces a pickled-RDD-backed frame
    # (Scan ExistingRDD) whose every broadcast/collect pays a Python
    # task round, and rebuilding it per call cost ~0.1-0.2 s of py4j.
    # CAST('<repr>' AS DOUBLE) round-trips each binary64 exactly
    # (shortest repr → correctly-rounded parse, the _nearest_cells
    # literal trick), so values are bit-identical to the corpus rows.
    def build() -> DataFrame:
        rows = _query_vec_rows(spark, sf_dir)
        if not rows:  # empty corpus: VALUES needs at least one row
            return spark.createDataFrame([], schema="vec_id bigint, v array<double>")
        vals = ", ".join(
            "(CAST({} AS BIGINT), array({}))".format(
                int(r["vec_id"]),
                ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in r["v"]),
            )
            for r in rows
        )
        return spark.sql(f"SELECT vec_id, v FROM (VALUES {vals}) AS t(vec_id, v)")

    return shared_value(spark, ("ann_query_vec_df", sf_dir), build)


def _query_vec_rows(spark: SparkSession, sf_dir: str):
    """The collected (vec_id, v) query rows behind ``_query_vecs`` —
    exposed so driver-side consumers (the pairwise Arrow scorer's
    wave-transformed query matrix) read the memoized rows directly
    instead of round-tripping them through a local DataFrame."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    return shared_value(
        spark,
        ("ann_query_vec_rows", sf_dir),
        lambda: _vectors(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERY)
        .select("vec_id", "v")
        .collect(),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: 5 query vectors vs the rest.

    The query side is broadcast; ranking is a per-query window on the
    rounded similarity (round-then-rank keeps the order deterministic
    across engines)."""
    from pyspark.sql import Window as W

    vecs = _vectors(spark, sf_dir)
    # norms are projected ONCE per vector before the cross join — the
    # per-pair work is then a single dot product (identical doubles, so
    # the oracle contract is unchanged); the query side is the local
    # memoized relation, so the corpus parquet is scanned once (r15)
    q = _query_side(spark, sf_dir)
    c = vecs.filter(F.col("vec_id") >= N_QUERY).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
        )
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm and dimensionality (vector hygiene check)."""
    vecs = _vectors(spark, sf_dir)
    return vecs.select(
        "vec_id",
        F.size(F.col("v")).alias("dim"),
        F.round(_norm(F.col("v")), 6).alias("l2_norm"),
        "label",
    )


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: sign pattern of N_PLANES
    deterministic pseudo-random hyperplanes → 16-way bucket id.

    Planes are generated arithmetically (plane p, dim i →
    ((7·p + 11·i) mod 13) − 6) so the oracle reproduces them exactly.
    Returns bucket occupancy — the pruning structure a scale-out ANN
    join builds its shuffle on."""
    vecs = _vectors(spark, sf_dir)

    def _plane_weight(p: int):
        # NOTE: must be a 1-arg lambda — PySpark treats 2-arg HOF lambdas
        # as (element, index), so closures must bind `p` outside.
        return lambda i: ((F.lit(7 * p) + F.lit(11) * i) % 13 - 6).cast("double")

    sign_bits = []
    for p in range(N_PLANES):
        weights = F.transform(
            F.sequence(F.lit(0), F.size(F.col("v")) - 1), _plane_weight(p)
        )
        proj = F.aggregate(
            F.zip_with(F.col("v"), weights, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sign_bits.append(F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0)))
    bucket = sign_bits[0]
    for sb in sign_bits[1:]:
        bucket = bucket + sb
    return (
        vecs.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket")
    )


N_CENTROIDS = 16     # k-means cells (init: first 16 candidate vectors)
N_KMEANS_ITERS = 3   # Lloyd iterations (recall plateaus here; rounded 3 dp per iter)
N_PROBES = 12        # cells probed per query — operating point read off
                     # ann_probe_tradeoff's measured curve: 14/15 recall
                     # at sf0.01 AND sf0.1 (9 probes: 13/15; 16 probes =
                     # exhaustive 15/15) at the same measured latency
                     # (0.77s vs 0.71s at sf0.01, within noise)


def label_centroid_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dim): posexplode →
    hash-aggregate — the distributed element-wise mean that a k-means
    iteration or class-prototype computation uses."""
    vecs = _vectors(spark, sf_dir)
    return (
        vecs.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("mean_x"))
    )


_KMEANS_CACHE: dict[tuple[str, int], list[tuple[int, list[float]]]] = {}


def _kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer: ``N_KMEANS_ITERS`` Lloyd
    iterations over the candidate vectors (everything except the query
    slice), cosine assignment, mean update.

    Centroids live on the driver between iterations — they are
    N_CENTROIDS × dim floats (KBs), which is exactly how Spark MLlib's
    k-means holds them; every assignment/update over the DATA is a
    distributed plan (broadcast centroid join → window argmax →
    posexplode → hash aggregate). Determinism contract: similarities
    are rounded to 6 dp before the argmax (ties broken on centroid_id)
    and centroid coordinates to 3 dp after each mean, so the DuckDB
    oracle reproduces the identical trajectory with chained CTEs."""
    if (sf_dir, k) in _KMEANS_CACHE:
        return _KMEANS_CACHE[(sf_dir, k)]
    cand = (
        _vectors(spark, sf_dir)
        .filter(F.col("vec_id") >= N_QUERY)
        .select(
            F.col("vec_id").alias("point_id"),
            F.col("v").alias("pv"),
            _norm(F.col("v")).alias("pn"),
        )
    )
    out = _kmeans_over(spark, cand, k)
    _KMEANS_CACHE[(sf_dir, k)] = out
    return out


def _kmeans_over(
    spark: SparkSession, cand: DataFrame, k: int
) -> list[tuple[int, list[float]]]:
    """The Lloyd loop of ``_kmeans_centroids`` over an ARBITRARY
    candidate relation (point_id, pv, pn) — split out so the retrain
    path can train a fresh quantizer over the GROWN corpus with the
    exact same trajectory contract (6-dp argmax, 3-dp means, seeds =
    the k candidates with the lowest eligible ids)."""
    cand = cand.cache()
    init = cand.filter(F.col("point_id") < N_QUERY + k).orderBy("point_id").collect()
    # centroid_id = vec_id - N_QUERY is the CONTRACT the DuckDB oracle
    # computes; deriving it from the id (not enumerate()) keeps the two
    # engines' centroid labels aligned even if candidate vec_ids ever
    # had gaps — and a gap also means fewer than k seeds, which must be
    # loud, not a silent smaller-k trajectory
    cents: dict[int, list[float]] = {
        int(r["point_id"]) - N_QUERY: list(r["pv"]) for r in init
    }
    if sorted(cents) != list(range(k)):
        raise ValueError(
            f"k-means seeding expects candidate vec_ids contiguous from "
            f"{N_QUERY}: wanted seeds 0..{k - 1}, got {sorted(cents)[:5]}…"
            f" ({len(cents)} of {k})"
        )
    for _ in range(N_KMEANS_ITERS):
        # assignment is a PROJECTION against the driver-held centroids
        # (see _nearest_cells: one Arrow pass for the raw dots, JVM
        # rounding/argmax) — the crossJoin→window form paid a k× row
        # blowup plus a full shuffle per Lloyd iteration
        crows = [(cid, cv, _py_norm(cv)) for cid, cv in sorted(cents.items())]
        assigned = _nearest_cells(
            None, cand, "pv", "pn", "point_id", 1, cents=crows
        ).select(F.col("cell"), "pv")
        new_rows = (
            assigned.select("cell", F.posexplode("pv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("x"), 3).alias("val"))
            .collect()  # N_CENTROIDS × dim scalars — driver-held like MLlib
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in new_rows:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["val"]
        for cell, dims in by_cell.items():  # empty cells keep old centroid
            cents[cell] = [dims[p] for p in range(len(dims))]
    cand.unpersist()
    return sorted(cents.items())


def _centroid_df(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS
) -> DataFrame:
    return spark.createDataFrame(
        _kmeans_centroids(spark, sf_dir, k), schema="centroid_id int, cv array<double>"
    ).withColumn("cvn", _norm(F.col("cv")))


def _frozen_cents(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS
) -> list[tuple[int, list[float], float]]:
    """The trained coarse quantizer as driver rows (cid, cv, cvn) —
    the form ``_nearest_cells`` consumes. Reads the memoized k-means
    result directly instead of round-tripping it through a local
    DataFrame and a collect job per call (r14 opt: every
    ``_nearest_cells(cdf=_centroid_df(...))`` call paid a ~0.3 s
    collect of rows the driver already held). ``_py_norm`` is the
    bit-identical fold of ``_norm``."""
    return [
        (cid, cv, _py_norm(cv)) for cid, cv in _kmeans_centroids(spark, sf_dir, k)
    ]


def _nearest_cells(
    cdf: DataFrame | None,
    df: DataFrame,
    vec_col,
    norm_col,
    id_col,
    n_cells,
    cents: list[tuple[int, list[float], float]] | None = None,
):
    """Per-id top-``n_cells`` centroid assignment as a PROJECTION: the
    centroids are driver-held (``cents``, or collected from ``cdf`` —
    k × dim floats, the MLlib class), raw dot products come from one
    vectorized Arrow pass (``_mat_scores``), and the per-row top-n is
    an ``array_sort`` over k rounded sims — no k× row blowup, no
    window shuffle (r14: the crossJoin→window form paid 2 exchanges
    and k interpreted HOF folds per row; plan is now scan → ArrowEval
    → project/explode with zero exchanges).

    Ordering contract unchanged: sims rounded 6 dp in the JVM, ties on
    centroid id ascending; ``reverse(array_sort(...))`` over
    ``(sim, -id)`` reproduces ``desc(sim), id`` exactly (NaNs, were
    they ever present, sort first under both forms)."""
    cents = cents if cents is not None else _cents_rows(cdf)
    scorer = _mat_scores([cv for _, cv, _ in cents], "dot")
    # ONE parsed SQL expression instead of k× (struct, round, lit, …)
    # builder calls: the column-API form cost ~500 py4j round-trips
    # (~0.35 s of driver latency) per call site. CAST('<repr>' AS
    # DOUBLE) round-trips the centroid norm exactly (shortest-repr →
    # correctly-rounded parse), and the struct fields/rounding are the
    # byte-for-byte same expressions the builder form produced.
    parts = ", ".join(
        f"named_struct('sim', round(`__d`[{i}] / (`{norm_col}` * "
        f"CAST('{cvn!r}' AS DOUBLE)), 6), 'nid', {-cid}, 'cid', {cid})"
        for i, (cid, _cv, cvn) in enumerate(cents)
    )
    sims = F.expr(f"array({parts})")
    top = F.slice(F.reverse(F.array_sort(sims)), 1, n_cells)
    return (
        df.withColumn("__d", scorer(F.col(vec_col)))
        .select(id_col, vec_col, norm_col, F.explode(top).alias("__t"))
        .select(id_col, vec_col, norm_col, F.col("__t.cid").alias("cell"))
    )


def _query_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (query_id, qv, qn) probe side as a LOCAL relation over the
    memoized query-vector rows — no corpus scan. Values are the exact
    binary64 rows of the corpus parquet (collected once per session),
    so every downstream expression is bit-identical to the
    filter-the-corpus form it replaces (r15: the crawl/recrawl/stream
    members and the brute-force probes each paid a full parquet scan
    to materialize these 5 rows)."""
    return _query_vecs(spark, sf_dir).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )


def _wave_query_rows(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, list[float], float]]:
    """Driver-held (wave, query_id, qv, qn) rows for the three append
    waves (0: identity, 1: negated, 2: dimension-reversed) — the query
    side of the recall-drift / retrain A-B pairwise scorer, derived
    with ZERO jobs from the memoized query-vector rows.

    Bit-identity with the JVM-built wave relations: negation and
    reversal are exact IEEE-754 ops, and ``_py_norm`` is the same
    left-to-right binary64 fold ``_norm`` computes — over the
    TRANSFORMED element order, exactly as the JVM evaluated
    ``_norm(F.reverse(v))``."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    def build():
        base = [
            (int(r["vec_id"]), list(r["v"]))
            for r in _query_vec_rows(spark, sf_dir)
        ]
        out = []
        for w in range(3):
            for qid, v in base:
                vv = (
                    v
                    if w == 0
                    else ([-x for x in v] if w == 1 else list(reversed(v)))
                )
                out.append((w, qid, vv, _py_norm(vv)))
        return out

    return shared_value(spark, ("wave_query_rows", sf_dir), build)


def _pairwise_wave_scores(
    points: DataFrame,
    qrows: list[tuple[int, int, list[float], float]],
    keep_cols: list[str],
) -> DataFrame:
    """Score every point row (``pv``, ``pn``) against the DRIVER-HELD
    (wave, query) vectors in ONE vectorized Arrow pass, then explode
    back to exactly the per-(point, wave, query) pair rows the
    crossJoin + interpreted-HOF form produced (guide §4.2: the
    broadcast join evaluated |q| interpreted ``aggregate(zip_with())``
    folds PER POINT — the dominant cost of the recall/retrain members).

    Bit-identity: ``_mat_scores`` walks dimensions left-to-right with
    elementwise binary64 ops (pinned by test_arrow_scorer_bit_identity),
    multiplication is IEEE-commutative, and the rounding/division stay
    in the JVM with the same expression shape — every ``cos_sim`` is
    bit-identical to ``round(_dot(qv, pv) / (qn * pn), 6)``."""
    scorer = _mat_scores([qv for _, _, qv, _ in qrows], "dot")
    parts = ", ".join(
        f"named_struct('wave', {int(w)}, "
        f"'query_id', CAST({int(qid)} AS BIGINT), "
        f"'cos_sim', round(`__d`[{i}] / (CAST('{qn!r}' AS DOUBLE) * `pn`), 6))"
        for i, (w, qid, _qv, qn) in enumerate(qrows)
    )
    return (
        points.withColumn("__d", scorer(F.col("pv")))
        .select(*keep_cols, "pn", F.explode(F.expr(f"array({parts})")).alias("__q"))
        .select(
            *keep_cols,
            F.col("__q.wave").alias("wave"),
            F.col("__q.query_id").alias("query_id"),
            F.col("__q.cos_sim").alias("cos_sim"),
        )
    )


def _recall_scalars(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """Driver-held recall/retrain scalars — the re-key offset and the
    candidate count — memoized per session. Construction (one corpus
    aggregate) happens only on the first call; a memo hit costs zero
    jobs AND zero py4j round-trips (r15: the member-level eager
    construction of these relations was ~60% of warm latency)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    def build():
        return tuple(
            _vectors(spark, sf_dir)
            .agg(
                (F.max("vec_id") + 1).alias("o"),
                F.sum((F.col("vec_id") >= N_QUERY).cast("long")).alias("n"),
            )
            .collect()[0]
        )

    return shared_value(spark, ("recall_append_scalars", sf_dir), build)


def _pts_of(df: DataFrame) -> DataFrame:
    """(vec_id, v) → (point_id, pv, pn) with the shared norm fold."""
    return df.select(
        F.col("vec_id").alias("point_id"),
        F.col("v").alias("pv"),
        _norm(F.col("v")).alias("pn"),
    )


def _append_batches(spark: SparkSession, sf_dir: str, off_v: int) -> list[DataFrame]:
    """The three append-wave corpus batches (0: original candidates,
    1: negated re-keyed +off, 2: dimension-reversed re-keyed +2·off) —
    the deterministic new-region transforms both the recall-drift audit
    and the retrain A/B grow the corpus with."""
    vecs = _vectors(spark, sf_dir)
    cand0 = vecs.filter(F.col("vec_id") >= N_QUERY).select("vec_id", "v")
    negate = F.transform(F.col("v"), lambda x: -x)
    b1 = cand0.select((F.col("vec_id") + off_v).alias("vec_id"), negate.alias("v"))
    b2 = cand0.select(
        (F.col("vec_id") + 2 * off_v).alias("vec_id"),
        F.reverse(F.col("v")).alias("v"),
    )
    return [cand0, b1, b2]


def _append_assigns(
    spark: SparkSession,
    sf_dir: str,
    crows_fr: list[tuple[int, list[float], float]],
) -> list[DataFrame]:
    """The three per-batch FROZEN-quantizer assignments, eagerly
    checkpointed once per session (encode-only: batch b is never
    re-scored when later waves arrive). Batch lineage is constructed
    INSIDE the memo builder, so warm calls pay a dict lookup instead of
    re-deriving the corpus transforms through py4j (r15)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    out = []
    for b in range(3):
        def build(b: int = b) -> DataFrame:
            off_v, _ = _recall_scalars(spark, sf_dir)
            cb = _pts_of(_append_batches(spark, sf_dir, off_v)[b])
            return _nearest_cells(
                None, cb, "pv", "pn", "point_id", 1, cents=crows_fr
            ).localCheckpoint(eager=True)

        out.append(
            shared_value(spark, ("recall_append_assign", sf_dir, b), build)
        )
    return out


def _wave_qn_parts(spark: SparkSession, sf_dir: str):
    """Per-wave (query_id, qv, qn) relations over the LOCAL query rows
    (wave 0 identity, 1 negated, 2 dimension-reversed)."""
    q0 = _query_vecs(spark, sf_dir)
    negate = F.transform(F.col("v"), lambda x: -x)
    waves = [
        (0, q0),
        (1, q0.select("vec_id", negate.alias("v"))),
        (2, q0.select("vec_id", F.reverse(F.col("v")).alias("v"))),
    ]
    return [
        (
            b,
            qs.select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("qv"),
                _norm(F.col("v")).alias("qn"),
            ),
        )
        for b, qs in waves
    ]


def _wave_probed(
    spark: SparkSession,
    sf_dir: str,
    key: tuple,
    cents: list[tuple[int, list[float], float]],
    cell_alias: str,
    flag_alias: str,
) -> DataFrame:
    """Wave-tagged query→probed-cell relation against ``cents``
    (≤ 3·N_QUERY·N_PROBES rows), eagerly checkpointed and memoized
    under ``key``. Construction — 3 ArrowEvalPython rounds of
    Python-worker latency plus their py4j plan building — runs only on
    the first call per session (r15: previously rebuilt per call and
    discarded on memo hit)."""
    from functools import reduce

    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    def build() -> DataFrame:
        parts = [
            _nearest_cells(
                None, qn, "qv", "qn", "query_id", N_PROBES, cents=cents
            ).select(
                F.lit(b).alias("wave"),
                "query_id",
                F.col("cell").alias(cell_alias),
                F.lit(1).alias(flag_alias),
            )
            for b, qn in _wave_qn_parts(spark, sf_dir)
        ]
        return reduce(DataFrame.unionByName, parts).localCheckpoint(eager=True)

    return shared_value(spark, key, build)


def _ivf_assigned(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS
) -> DataFrame:
    """The candidate→cell assignment IS the IVF index: built once per
    session (registry) and reused by every probe AND the cluster-
    confined semantic dedup — re-deriving it per call re-ran the
    16-centroid scoring pass over the whole corpus."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    others = (
        _vectors(spark, sf_dir)
        .filter(F.col("vec_id") >= N_QUERY)
        .select(
            F.col("vec_id").alias("point_id"),
            F.col("v").alias("pv"),
            _norm(F.col("v")).alias("pn"),
        )
    )
    return shared_persist(
        spark,
        ("ivf_assigned", sf_dir, k),
        lambda: _nearest_cells(
            None,
            others,
            "pv",
            "pn",
            "point_id",
            1,
            cents=_frozen_cents(spark, sf_dir, k),
        ),
    )


def _probed_frozen(spark: SparkSession, sf_dir: str, n_probes: int) -> DataFrame:
    """Session-shared query→probed-cell routing against the
    session-trained (frozen) centroids: queries × n_probes rows,
    deterministic per (corpus, probe count). Each evaluation costs an
    ArrowEvalPython round (~0.7 s of Python-worker latency for 5 query
    rows at sf0.1) — the IVF and IVF-PQ members re-derived it per call
    while the persisted path already shared one copy (r14 opt)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    def build() -> DataFrame:
        qs = _query_vecs(spark, sf_dir).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            _norm(F.col("v")).alias("qn"),
        )
        return _nearest_cells(
            None, qs, "qv", "qn", "query_id", n_probes,
            cents=_frozen_cents(spark, sf_dir),
        ).localCheckpoint(eager=True)

    return shared_value(spark, ("ivf_probed_frozen", sf_dir, n_probes), build)


def _ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_probes: int,
    cdf: DataFrame | None = None,
    assigned: DataFrame | None = None,
    probed: DataFrame | None = None,
) -> DataFrame:
    """IVF probe with a parameterized probe count (``ann_ivf_topk`` is
    this at the tuned default; ``ann_probe_tradeoff`` sweeps it).
    ``cdf``/``assigned`` override the session-built centroid table and
    cell assignment with LOADED relations (the persisted-index path —
    ``ann_ivf_persisted``); ``probed`` supplies an already-computed
    query→cell relation so a caller that needed it for cell pruning
    doesn't score the queries twice.

    The scale path: candidate pruning happens via an equi-join on
    ``centroid_id`` (a shuffle on a small key), so the expensive dot
    products run over the probed cells instead of the whole corpus.
    Multi-probe recovers neighbors that fall just across a cell
    boundary."""
    from pyspark.sql import Window as W

    cents = _frozen_cents(spark, sf_dir) if cdf is None else None
    assigned = assigned if assigned is not None else _ivf_assigned(spark, sf_dir)
    if probed is None:
        if cdf is None:
            # session-trained path: the query→cell routing is
            # deterministic per (corpus, probe count) — share one
            # materialized copy like the persisted path already does
            probed = _probed_frozen(spark, sf_dir, n_probes)
        else:
            qs = _query_vecs(spark, sf_dir).select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("qv"),
                _norm(F.col("v")).alias("qn"),
            )
            probed = _nearest_cells(
                cdf, qs, "qv", "qn", "query_id", n_probes, cents=cents
            )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "point_id")
    # the probe side is queries × n_probes rows — broadcast it so the
    # (possibly corpus-sized) assignment never shuffles (the planner's
    # size estimate for the probed subtree exceeded the threshold and
    # chose a sort-merge join: 2 exchanges where 0 are needed)
    return (
        F.broadcast(probed).join(assigned, "cell")
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("qv"), F.col("pv")) / (F.col("qn") * F.col("pn")), 6),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("cell").alias("probe_centroid"), F.col("point_id").alias("neighbor_id"), "cos_sim", "rank")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means coarse quantizer (trained in-engine, see
    ``_kmeans_centroids``), every candidate assigned to its nearest
    cell, each query probing its ``N_PROBES`` nearest cells. The
    default operating point is picked off ``ann_probe_tradeoff``'s
    measured recall-vs-probes curve; ``ann_recall_report`` verifies it
    per query."""
    return _ivf_topk(spark, sf_dir, N_PROBES)


PROBE_GRID = (3, 6, 9, 12, 16)


def ann_probe_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-probe-count curve: for each probe count in
    ``PROBE_GRID``, total IVF hits against exact top-k over all queries
    — the measurement a user needs to pick an operating point (more
    probes = more candidate cells scanned = higher recall, higher
    cost). The assignment index and the exact baseline are shared
    across the sweep; only the small probe side varies."""
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    parts = []
    for p in PROBE_GRID:
        hits = _ivf_topk(spark, sf_dir, p).select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
        parts.append(
            exact.join(hits, ["query_id", "neighbor_id"], "left").agg(
                F.lit(p).alias("n_probes"),
                F.count(F.lit(1)).alias("total_k"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("total_hits"),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionAll(df)
    return out.orderBy("n_probes")


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IVF recall vs exact search over the SAME candidate set
    (``ann_cosine_topk`` semantics), so the number is a pure measure of
    the coarse quantizer + multi-probe — the check a production ANN
    rollout runs before trusting the index."""
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf_hits = ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ivf_hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        )
        .orderBy("query_id")
    )


EMB_BANDS = 6          # LSH bands for embedding near-dup candidates
EMB_PLANES_PER_BAND = 4  # hyperplanes per band (16 buckets/band)
EMB_DUP_THRESHOLD = 0.4  # exact-cosine cutoff after candidate pruning
# Degenerate-cell cap: a band bucket holding more vectors than this is
# a hash cell the 4-plane family cannot discriminate (the synthetic
# corpus concentrates ~20% of vectors in one cell) — its within-bucket
# candidates are overwhelmingly sub-threshold false positives, and its
# pair mass grows QUADRATICALLY with the corpus (measured r9: 1.3M
# candidate pairs at sf0.1 → 134M at sf1 for 10× data). Buckets over
# the cap are excluded from candidate generation — the TRI_DEG_CAP /
# DF_CAP mechanism; near-dup pairs inside a mega-bucket keep their
# EMB_BANDS-1 other chances. Sized so no test-scale bucket ≤ sf0.1
# crosses it (max observed 434) — results at the gate SFs are
# bit-identical, only the decade-up corpus is capped.
EMB_BUCKET_CAP = 512


def _band_bucket(v_col, band: int):
    """Bucket id of `v` in one LSH band: sign bits of 4 deterministic
    arithmetic hyperplanes (same family as ann_lsh_bucketed, offset per
    band so bands are independent)."""
    def _weight_fn(plane: int):
        # factory, NOT a default-arg closure: PySpark dispatches HOF
        # lambdas on parameter count, so a 2-parameter function would be
        # silently called as (element, index)
        return lambda i: ((F.lit(7 * plane) + F.lit(11) * i) % 13 - 6).cast("double")

    bits = []
    for p in range(EMB_PLANES_PER_BAND):
        plane = EMB_PLANES_PER_BAND * band + p
        weights = F.transform(F.sequence(F.lit(0), F.size(v_col) - 1), _weight_fn(plane))
        proj = F.aggregate(
            F.zip_with(v_col, weights, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("int")


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup pass
    of a training-data pipeline (MinHash catches lexical dups, this
    catches paraphrases).

    Scale shape mirrors ``dedup_minhash_lsh_pairs``: vectors land in
    ``EMB_BANDS`` independent hyperplane-LSH buckets, candidates are
    pairs sharing ANY band bucket (an equi-join on (band, bucket) —
    never an all-pairs cross join) with buckets over
    ``EMB_BUCKET_CAP`` excluded (degenerate cells — see the constant),
    and only candidates pay the exact cosine, which must clear
    ``EMB_DUP_THRESHOLD``. The cosine is computed MAP-SIDE right after
    the bucket join and the pair dedup runs on (id, id, cos) only —
    the r8 shape shuffled both full vector payloads through
    ``dropDuplicates`` (measured: the dominant cost at sf1).
    Deterministic arithmetic planes keep the DuckDB oracle in
    lockstep."""
    vecs = _vectors(spark, sf_dir).select(
        "vec_id", "v", _norm(F.col("v")).alias("vn")
    )
    buckets = F.array(*[_band_bucket(F.col("v"), b) for b in range(EMB_BANDS)])
    banded = vecs.select(
        "vec_id", "v", "vn", F.posexplode(buckets).alias("band", "bucket")
    )
    # ≤ EMB_BANDS × 2^planes rows (96 at the default config): broadcast
    ok = F.broadcast(
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= EMB_BUCKET_CAP)
        .select("band", "bucket")
    )
    banded = banded.join(ok, ["band", "bucket"])
    a, b = banded.alias("a"), banded.alias("b")
    cos = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.vn") * F.col("b.vn")), 6
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= EMB_DUP_THRESHOLD)
        .dropDuplicates(["id_a", "id_b"])
    )


RERANK_FACTOR = 2  # phase-1 int8 candidates per final exact result


def ann_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase ANN: int8-quantized coarse scoring, then full-precision
    rerank of the survivors — the memory-bandwidth pattern every
    production vector index runs (scan the 4×-smaller quantized codes,
    touch float vectors only for the shortlist).

    Phase 1 ranks every candidate by the INTEGER dot product of the
    symmetric-int8 codes (``embed_quantize_int8``'s scheme) rescaled
    by the two per-vector scales — the integer sum is order-exact in
    any engine, so the shortlist is deterministic by construction.
    Phase 2 recomputes exact cosine for the top
    ``TOP_K·RERANK_FACTOR`` shortlist and emits the final top-k.

    Scale shape: phase 1 is the same broadcast-query scan as
    ``ann_cosine_topk`` but streams int8 codes (4× less bandwidth,
    integer SIMD); phase 2 touches ``k·RERANK_FACTOR`` rows per query.
    Composable with the IVF index: probe cells first, then quantized
    scan within the probed cells."""
    from pyspark.sql import Window as W

    vecs = _vectors(spark, sf_dir)
    sc = (
        F.greatest(
            F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))), F.lit(1e-12)
        )
        / F.lit(127.0)
    )
    def _coded(df: DataFrame) -> DataFrame:
        b = df.select("vec_id", "v", sc.alias("sc"))
        return b.select(
            "vec_id",
            "v",
            "sc",
            F.transform("v", lambda x: F.round(x / F.col("sc")).cast("int")).alias("q"),
            _norm(F.col("v")).alias("nrm"),
        )

    # query side: same quantization expressions over the LOCAL memoized
    # query rows (exact corpus binary64 values) — no second corpus scan
    # to materialize 5 rows (r15)
    qs = _coded(_query_vecs(spark, sf_dir)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("q").alias("qq"),
        F.col("sc").alias("qsc"),
        F.col("nrm").alias("qn"),
    )
    cs = _coded(vecs.filter(F.col("vec_id") >= N_QUERY)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("q").alias("cq"),
        F.col("sc").alias("csc"),
        F.col("nrm").alias("cn"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    ph1 = (
        cs.crossJoin(F.broadcast(qs))
        .withColumn(
            "approx_sim",
            F.round(
                idot * F.col("qsc") * F.col("csc") / (F.col("qn") * F.col("cn")), 6
            ),
        )
    )
    w1 = W.partitionBy("query_id").orderBy(F.desc("approx_sim"), "neighbor_id")
    cand = ph1.withColumn("rn1", F.row_number().over(w1)).filter(
        F.col("rn1") <= TOP_K * RERANK_FACTOR
    )
    exact = cand.withColumn(
        "cos_sim",
        F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "approx_sim", "cos_sim", "rank")
    )


SEMDEDUP_TAU = 0.4    # within-cell cosine cutoff (SemDeDup-style)
SEM_TARGET_CELL = 32  # target vectors per cell: k grows with the corpus


def _sem_k(spark: SparkSession, sf_dir: str) -> int:
    """SemDeDup's scale knob: cell count k = max(N_CENTROIDS,
    ceil(n_candidates / SEM_TARGET_CELL)), so cell size — and with it
    the within-cell quadratic — stays bounded as the corpus grows
    (fixed k measured 38x superlinear at the sf1 decade-up; adaptive k
    holds cells at ~SEM_TARGET_CELL). Memoized per session; the DuckDB
    oracle computes the same k with a scalar subquery."""
    import math

    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    n = shared_value(
        spark,
        ("sem_n_cand", sf_dir),
        lambda: _vectors(spark, sf_dir).filter(F.col("vec_id") >= N_QUERY).count(),
    )
    return max(N_CENTROIDS, math.ceil(n / SEM_TARGET_CELL))


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-confined semantic dedup: near-duplicate
    pairs are sought only WITHIN each k-means cell of the shared IVF
    index (Abbas et al. 2023 — "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"). The complement of
    ``dedup_embedding_pairs``'s LSH-bucket candidates: k-means cells
    give each vector exactly ONE bucket, so the candidate set is a
    partition, not an overlapping cover.

    Scale shape: the quadratic term is confined to one cell
    (`assigned` equi-joins itself on `cell`), and cell size is a
    design knob — at corpus scale k is chosen so cells hold ~1-10k
    vectors, which is why SemDeDup runs at web scale where all-pairs
    cannot. The cell count grows with the corpus (``_sem_k``) so the
    per-cell quadratic stays bounded; at gate scale k equals the IVF
    index's 16 cells and the session-persisted assignment is shared
    outright."""
    a = _ivf_assigned(spark, sf_dir, _sem_k(spark, sf_dir))
    b = (
        a.select(
            F.col("cell"),
            F.col("point_id").alias("vec_b"),
            F.col("pv").alias("bv"),
            F.col("pn").alias("bn"),
        )
    )
    return (
        a.select("cell", F.col("point_id").alias("vec_a"), "pv", "pn")
        .join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("pv"), F.col("bv")) / (F.col("pn") * F.col("bn")), 6),
        )
        .filter(F.col("cos_sim") >= SEMDEDUP_TAU)
        .select("cell", "vec_a", "vec_b", "cos_sim")
    )


def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4× storage/
    bandwidth compression every large-scale vector index applies before
    ANN — with the reconstruction-error report a rollout gates on.

    Row-local and map-only: scale = max|x|/127 per vector, q_i =
    round(x_i/scale), error stats via sequential array folds (bit-
    deterministic in both engines, like ``embed_norms``). Payload never
    shuffles; at 100 TB this is a narrow projection you fuse into the
    embedding scan."""
    vecs = _vectors(spark, sf_dir)
    base = vecs.select(
        "vec_id",
        "v",
        (
            F.greatest(
                F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))),
                F.lit(1e-12),
            )
            / F.lit(127.0)
        ).alias("scale"),
    )
    q = F.transform(
        F.col("v"), lambda x: F.round(x / F.col("scale")).cast("int")
    )
    with_q = base.select("vec_id", "v", "scale", q.alias("q"))
    sq_err = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("q"),
            lambda x, qq: (x - qq.cast("double") * F.col("scale"))
            * (x - qq.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    # two selects, not one: aliasing the ROUNDED value as "scale" in
    # the same list would shadow the input column for the mse lambda
    # via lateral column alias resolution (mse must use full precision)
    stats = with_q.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        "scale",
        (sq_err / F.size("v")).alias("mse_raw"),
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("q_max_abs"),
    )
    return stats.select(
        "vec_id",
        "n_dims",
        F.round(F.col("scale"), 8).alias("scale"),
        F.round(F.col("mse_raw"), 10).alias("mse"),
        "q_max_abs",
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's storage half)
# ---------------------------------------------------------------------------

# Operating point picked off a measured recall sweep (see
# tests/test_llm_ops.py::test_pq_recall_floor): the corpus embeddings
# are near-isotropic — the hardest case for PQ — so the codebook is
# wide (M=16 subspaces × K=32 centroids over 4-dim slices ⇒ 16×5-bit
# codes = 10 B/vector vs 256 B float, 25× compression) and the ADC
# shortlist is 8× the final k. Measured recall at this point: 15/15
# (sf0.01) and 14/15 (sf0.1); narrower codebooks fall off fast
# (M=4,K=8 → 5/15 and 1/15).
PQ_M = 16       # subspaces (vector split into M contiguous slices)
PQ_K = 32       # sub-centroids per subspace (code = M × 5 bits here)
PQ_ITERS = 2    # Lloyd iterations per sub-codebook
PQ_RERANK = 8   # phase-1 ADC shortlist per final exact result

_PQ_CACHE: dict[str, list[tuple[int, int, list[float]]]] = {}


def _l2sq(a, b):
    """Squared L2 distance as a sequential fold (bit-deterministic in
    both engines, like ``_dot``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sub_rel(df: DataFrame, id_out: str) -> DataFrame:
    """(id, v) → (id, m, sv): each vector split into ``PQ_M`` contiguous
    subvectors of ``len(v) // PQ_M`` dims (tail dims beyond M·ds are
    ignored by the codebooks; the exact rerank always uses full
    vectors). One posexplode — M× the rows, 1/M the payload each."""
    ds = (F.size("v") / PQ_M).cast("int")
    subs = F.array(*[F.slice("v", m * ds + 1, ds) for m in range(PQ_M)])
    # F.slice's start is 1-based and column-valued starts are allowed;
    # build all M slices then posexplode so m comes out as a column
    return df.select(
        F.col("vec_id").alias(id_out), F.posexplode(subs).alias("m", "sv")
    )


def _books_rows(cdf: DataFrame) -> list[list[list[float]]]:
    """Collect a PQ codebook relation to the driver as ``[m][j] → cv``
    (M·K·ds floats, KBs — the MLlib-centroids class)."""
    books: dict[int, dict[int, list[float]]] = {}
    for r in cdf.select("m", "j", "cv").collect():
        books.setdefault(int(r[0]), {})[int(r[1])] = list(r[2])
    return [[books[m][j] for j in sorted(books[m])] for m in sorted(books)]


def _pq_mat_scores(books: list[list[list[float]]], mode: str):
    """Vectorized Arrow scorer for PQ subspaces: per row, the raw
    score of the m-th vector slice against every sub-centroid of
    codebook m, for all M subspaces in one pass — ``array<double>`` of
    M·K values, m-major. Same bit-identity argument as ``_mat_scores``
    (dimension-ordered binary64 accumulation ≡ the sequential HOF
    fold); rounding stays in the JVM."""
    B = np.array(books, dtype=np.float64)  # M × K × ds

    @F.pandas_udf("array<double>")
    def scores(vs: pd.Series) -> pd.Series:
        m_n, k, ds = B.shape
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack(vs.to_numpy()).astype(np.float64, copy=False)
        acc = np.zeros((mat.shape[0], m_n * k), dtype=np.float64)
        for m in range(m_n):
            sub = mat[:, m * ds : (m + 1) * ds]
            cm = B[m]
            a = acc[:, m * k : (m + 1) * k]
            for i in range(ds):
                if mode == "dot":
                    a += sub[:, i : i + 1] * cm[:, i]
                else:
                    diff = sub[:, i : i + 1] - cm[:, i]
                    a += diff * diff
        return pd.Series(list(acc))

    return scores


def _pq_code_exprs(books: list[list[list[float]]]):
    """JVM-side argmin per subspace over the raw Arrow scores in
    ``__d``: round 6 dp, ties on sub-centroid id ascending — the exact
    ordering the old (point_id, m) window computed.

    Built from higher-order functions so the expression tree is O(1)
    in M·K: the flat form (an ``array`` of M·K ``struct`` expressions)
    generates a janino method too large to compile — the failed
    compile costs seconds per plan and execution falls back to
    interpreted anyway, so the HOF form is strictly better."""
    k = len(books[0])
    m_n = len(books)
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_n - 1)),
        lambda m: F.element_at(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k - 1)),
                    lambda j: F.struct(
                        F.round(F.get(F.col("__d"), m * k + j), 6).alias("d2"),
                        j.alias("j"),
                    ),
                )
            ),
            1,
        ).getField("j"),
    )


def _pq_codebooks(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, list[float]]]:
    """Train the PQ sub-codebooks: an independent ``PQ_K``-centroid
    Lloyd trajectory per subspace, run as ONE distributed k-means over
    the (m, subvector) relation with composite cell key (m, j) — the
    M codebooks train simultaneously in the same jobs, assignment by
    squared-L2 (standard PQ), confined within each subspace by the
    equi-join on ``m``.

    Same driver-held-centroid shape as ``_kmeans_centroids`` (M·K·ds
    floats — KBs); same determinism contract (distances rounded 6 dp
    before the argmin, ties on sub-centroid id ascending, means rounded
    3 dp) so the DuckDB oracle replays the identical trajectory.
    Seeds: sub-centroid (m, j) is candidate vector ``N_QUERY + j``'s
    m-th slice, reusing the IVF seeding contract."""
    if sf_dir in _PQ_CACHE:
        return _PQ_CACHE[sf_dir]
    cand = (
        _vectors(spark, sf_dir)
        .filter(F.col("vec_id") >= N_QUERY)
        .select("vec_id", "v")
        .cache()
    )
    # seeds: candidate vec_id N_QUERY+j's m-th slice — sliced on the
    # driver (pure indexing, no fp ops, identical values to F.slice)
    seed_rows = (
        cand.filter(F.col("vec_id") < N_QUERY + PQ_K).orderBy("vec_id").collect()
    )
    cents: dict[tuple[int, int], list[float]] = {}
    for r in seed_rows:
        v = list(r["v"])
        ds = len(v) // PQ_M
        for m in range(PQ_M):
            cents[(m, int(r["vec_id"]) - N_QUERY)] = v[m * ds : (m + 1) * ds]
    want = {(m, j) for m in range(PQ_M) for j in range(PQ_K)}
    if set(cents) != want:
        raise ValueError(
            f"PQ seeding expects candidate vec_ids contiguous from {N_QUERY}: "
            f"wanted {PQ_M}×{PQ_K} seeds, got {len(cents)}"
        )
    ds_col = (F.size("v") / PQ_M).cast("int")
    for _ in range(PQ_ITERS):
        # assignment is a PROJECTION against the driver-held codebooks
        # (one Arrow pass for all M×K raw distances, JVM round/argmin)
        # — the old per-iteration (m-join → window) shape shuffled an
        # n·M·K-row relation twice per Lloyd iteration
        books = [[cents[(m, j)] for j in range(PQ_K)] for m in range(PQ_M)]
        # __codes is materialised ONCE as a column before the explode:
        # referencing _pq_code_exprs(books)[m] per subspace would paste
        # M copies of the M×K-struct argmin tree into the plan (8192
        # structs — the codegen/optimizer blowup that made the first
        # cut of this rewrite 2.4× SLOWER than the join it replaced)
        assigned = (
            cand.withColumn("__d", _pq_mat_scores(books, "l2sq")(F.col("v")))
            .withColumn("__codes", _pq_code_exprs(books))
            .select("v", F.posexplode("__codes").alias("m", "cell"))
            .select(
                "m",
                "cell",
                F.slice("v", F.col("m") * ds_col + 1, ds_col).alias("sv"),
            )
        )
        new_rows = (
            assigned.select("m", "cell", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m", "cell", "pos")
            .agg(F.round(F.avg("x"), 3).alias("val"))
            .collect()  # M × K × ds scalars — driver-held like MLlib
        )
        by_cell: dict[tuple[int, int], dict[int, float]] = {}
        for r in new_rows:
            by_cell.setdefault((r["m"], r["cell"]), {})[r["pos"]] = r["val"]
        for key, dims in by_cell.items():  # empty cells keep old centroid
            cents[key] = [dims[p] for p in range(len(dims))]
    cand.unpersist()
    out = [(m, j, cv) for (m, j), cv in sorted(cents.items())]
    _PQ_CACHE[sf_dir] = out
    return out


def _pq_codebook_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        _pq_codebooks(spark, sf_dir), schema="m int, j int, cv array<double>"
    )


def _encode_pq(vec_df: DataFrame, cdf: DataFrame) -> DataFrame:
    """Encode (vec_id, v) rows to ``(point_id, m, code)`` against a
    GIVEN codebook relation — shared by the session index build and
    the persisted-index append path (appended vectors are encoded with
    the saved codebooks, never retrained — standard IVF/PQ append).

    r14 shape: the codebooks are collected to the driver (M·K·ds
    floats) and encoding is a PROJECTION — one Arrow pass for the raw
    subspace distances, JVM round/argmin, posexplode to the (m, code)
    rows. The old shape exploded to n·M rows, joined the codebook and
    ran a (point_id, m) window: two shuffles of an n·M·K-row relation
    per encode, now zero."""
    books = _books_rows(cdf)
    return (
        vec_df.withColumn("__d", _pq_mat_scores(books, "l2sq")(F.col("v")))
        .select(
            F.col("vec_id").alias("point_id"),
            F.posexplode(_pq_code_exprs(books)).alias("m", "code"),
        )
    )


def _pq_codes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed index — every candidate's ``(point_id, m, code)``
    rows — session-persisted: it is the PQ analogue of the IVF
    assignment (built once, scanned by every query batch), and both
    the flat-ADC and IVF-gated members read it."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    def build() -> DataFrame:
        vecs = _vectors(spark, sf_dir)
        cdf = _pq_codebook_df(spark, sf_dir)
        return _encode_pq(vecs.filter(F.col("vec_id") >= N_QUERY), cdf)

    return shared_persist(spark, ("pq_codes", sf_dir), build)


def _pq_lut_df(
    spark: SparkSession, sf_dir: str, cdf: DataFrame | None = None
) -> DataFrame:
    """Per-query ADC lookup table (query_id, m, j, integer-scaled
    partial dot) — queries x M x K rows, broadcast-sized. ``cdf``
    overrides the session-trained codebook with a loaded one."""
    if cdf is None:
        # session-trained codebook: build the nested list straight from
        # the driver-memoized training output — the codebook-DataFrame
        # round-trip cost a ~0.3 s collect on EVERY warm flat/IVF-PQ
        # call just to recompute the content key (r15)
        by_m: dict[int, dict[int, list[float]]] = {}
        for m, j, cv in _pq_codebooks(spark, sf_dir):
            by_m.setdefault(int(m), {})[int(j)] = list(cv)
        books = [[by_m[m][j] for j in sorted(by_m[m])] for m in sorted(by_m)]
    else:
        books = _books_rows(cdf)
    k = len(books[0])

    # no argmin here — the LUT wants every (m, j) entry, so explode the
    # m-major score array directly and derive (m, j) from the position
    # (the flat 512-struct reshape this replaces broke janino codegen)
    def build() -> DataFrame:
        return (
            _query_vecs(spark, sf_dir)
            .withColumn("__d", _pq_mat_scores(books, "dot")(F.col("v")))
            .select(
                F.col("vec_id").alias("query_id"),
                F.posexplode("__d").alias("__i", "__dv"),
            )
            .select(
                "query_id",
                (F.col("__i") / k).cast("int").alias("m"),
                (F.col("__i") % k).alias("j"),
                F.round(F.col("__dv") * 1e6).cast("bigint").alias("pdot_i"),
            )
            .localCheckpoint(eager=True)
        )

    # queries × M × K rows, broadcast below — session-memoized KEYED BY
    # THE CODEBOOK CONTENT (books is already a driver-held nested list),
    # so a loaded codebook that differs from the session-trained one can
    # never serve a stale LUT, while every caller passing equal books —
    # flat, IVF-gated, persisted, crawl — shares one ArrowEval pass
    # instead of re-running it per call (r14 opt). The query side comes
    # from the _query_vecs driver memo (exact binary64 rows of the
    # corpus scan), not a fresh corpus scan.
    import hashlib

    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    bkey = hashlib.md5(repr(books).encode()).hexdigest()
    return shared_value(spark, ("pq_lut", sf_dir, bkey), build)


def _pq_adc(
    spark: SparkSession,
    sf_dir: str,
    codes: DataFrame | None = None,
    cdf: DataFrame | None = None,
) -> DataFrame:
    """Flat ADC scores (query_id, point_id, adot_i) — every code row
    against every query's LUT. ``codes``/``cdf`` override the
    session-built compressed index and codebook with LOADED relations
    (``ann_pq_persisted``). The IVF-gated composition lives in
    ``ann_ivf_pq_topk`` (cell-annotated codes ⋈ broadcast probed
    pairs)."""
    codes = codes if codes is not None else _pq_codes_df(spark, sf_dir)
    lut = _pq_lut_df(spark, sf_dir, cdf=cdf)
    scored = codes.join(
        F.broadcast(lut),
        (codes["m"] == lut["m"]) & (codes["code"] == lut["j"]),
    )
    return scored.groupBy("query_id", "point_id").agg(
        F.sum("pdot_i").alias("adot_i")
    )


def _pq_rerank(
    spark: SparkSession,
    sf_dir: str,
    adc: DataFrame,
    cand_vecs: DataFrame | None = None,
) -> DataFrame:
    """ADC shortlist (TOP_K·PQ_RERANK by approx sim) → exact-cosine
    rerank → TOP_K. Shared by the flat and IVF-gated PQ members.
    ``cand_vecs`` overrides the candidate-vector relation — a
    ``(point_id, cv, cn)`` frame — for callers whose compressed index
    covers points beyond the corpus candidates (the crawl-appended
    batch in ``ann_index_crawl``); the exact rerank must be able to
    resolve every shortlisted point's full vector."""
    from pyspark.sql import Window as W

    # query side from the _query_vecs driver memo (exact binary64 rows
    # of the corpus scan, so the norms below are bit-identical) — the
    # corpus parquet is no longer scanned just to build the 5-row
    # broadcast side (r14 opt)
    qn = _query_vecs(spark, sf_dir).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    cn = (
        cand_vecs
        if cand_vecs is not None
        else _vectors(spark, sf_dir)
        .filter(F.col("vec_id") >= N_QUERY)
        .select(
            F.col("vec_id").alias("point_id"),
            F.col("v").alias("cv"),
            _norm(F.col("v")).alias("cn"),
        )
    )
    w1 = W.partitionBy("query_id").orderBy(F.desc("approx_sim"), "point_id")
    shortlist = (
        adc.join(F.broadcast(qn), "query_id")
        .join(cn, "point_id")
        .withColumn(
            "approx_sim",
            F.round(F.col("adot_i") / 1e6 / (F.col("qn") * F.col("cn")), 6),
        )
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= TOP_K * PQ_RERANK)
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "point_id")
    return (
        shortlist.withColumn(
            "cos_sim",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("point_id").alias("neighbor_id"),
            "approx_sim",
            "cos_sim",
            "rank",
        )
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: per-subspace codebooks compress every
    candidate to ``PQ_M`` sub-centroid codes (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search"), queries score
    candidates by ADC — asymmetric distance computation, here the
    approximate dot product Σ_m ⟨q_m, c_{m,code_m}⟩ read from a
    per-query M×K lookup table — and only the top
    ``TOP_K·PQ_RERANK`` shortlist pays full-precision cosine.

    This is the memory story past ``ann_quantized_rerank``'s int8: a
    64-dim float vector (256 B) becomes M=4 codes (4 B) + one stored
    norm — the scan touches 64× less data, and the codebooks are
    driver/broadcast-sized. Scale shape: codes ⋈ broadcast LUT on
    (m, code) then a map-side-combinable sum per (query, candidate);
    composable with the IVF index by probing cells first and scanning
    codes only inside probed cells.

    Determinism: per-subspace partial dots are rounded at 1e-6 grain
    and summed as BIGINTs (order-free exact sum — the same
    integer-scaled pre-sum trick as BM25), so the ADC ranking is
    engine-exact."""
    return _pq_rerank(spark, sf_dir, _pq_adc(spark, sf_dir))


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the canonical billion-scale ANN architecture (FAISS
    ``IVFx,PQy``): the k-means coarse quantizer prunes the search to
    each query's ``N_PROBES`` nearest cells, and INSIDE those cells
    candidates are scored by the PQ ADC table instead of full-precision
    vectors; only the shortlist pays exact cosine.

    Composes the two session-persisted indexes this module already
    maintains — the IVF assignment (``_ivf_assigned``) and the PQ code
    relation (``_pq_codes_df``) — by annotating each code row with its
    point's COARSE CELL (joined once per session, persisted) and
    broadcast-joining the probed (query, cell) pairs BEFORE the ADC
    expansion, so the scan cost is probed-cells × codes-per-cell, not
    corpus × M × queries. r14 opt: the previous shape expanded codes
    against the LUT for EVERY query and then pruned with a
    (query, point) SortMergeJoin — 2 Exchange + 2 Sort of the expanded
    relation; now the only exchange before the rerank is the ADC
    aggregate's. At 100 TB this is the memory AND compute story: the
    coarse index bounds candidates, the codes bound bytes per
    candidate, and the corpus-sized relations never shuffle before the
    per-(query, point) aggregate.

    Determinism: identical ADC/rerank arithmetic to ``ann_pq_topk``
    (integer-scaled partial dots, floored ranks — the broadcast gate
    admits exactly the (query, point) pairs the previous join did:
    each point lives in one cell), gated by the same cell assignment
    the IVF members verify."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    probed = _probed_frozen(spark, sf_dir, N_PROBES)
    codes_cell = shared_persist(
        spark,
        ("pq_codes_cell", sf_dir),
        lambda: _pq_codes_df(spark, sf_dir).join(
            _ivf_assigned(spark, sf_dir).select("point_id", "cell"), "point_id"
        ),
    )
    lut = _pq_lut_df(spark, sf_dir).withColumnRenamed("j", "code")
    adc = (
        codes_cell.join(F.broadcast(probed.select("query_id", "cell")), "cell")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "point_id")
        .agg(F.sum("pdot_i").alias("adot_i"))
    )
    return _pq_rerank(spark, sf_dir, adc)


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query PQ recall vs exact search — the rollout check next to
    ``ann_recall_report``, for the PQ operating point (M·K codebook +
    ``PQ_RERANK`` shortlist) instead of the IVF probe count."""
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    pq_hits = ann_pq_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(pq_hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Cross-run persistent ANN index (the band-index pattern for vectors)
# ---------------------------------------------------------------------------

ANN_INDEX_VERSION = 2  # v2: assignment partitioned by cell (pruned probes)


def _ann_index_root(spark: SparkSession, sf_dir: str) -> str:
    from generic_data_ingestor_framework_spark.fileops import sf_tag

    wh = spark.conf.get("spark.sql.warehouse.dir")
    return f"{wh}/ann_index_{sf_tag(sf_dir)}"


def _load_index_relation(
    spark: SparkSession, root: str, name: str, allow_large_delta: bool = False
) -> DataFrame:
    """EFFECTIVE view of an index relation: base plus every appended
    batch directory (see ``append_ann_index`` — each batch lives in its
    own subdirectory so a retried append overwrites itself instead of
    duplicating rows), with latest-generation-wins applied when any
    SUPERSEDE batch (gen-tagged, ids may overlap the indexed set — see
    ``supersede_ann_index``) or tombstone batch
    (``delete_ann_index_ids``) exists.

    Scale shape: the no-delta path (plain appends only) is exactly the
    historical union — no extra work. With deltas, the merge is the
    LSM discipline: winners are resolved on the BATCH-SIZED mark
    relation (delta ids × gens + tombstones — only docs touched since
    the last compaction), then masked out of the raw union by a
    BROADCAST anti join; the full index never shuffles. Compaction
    folds the deltas away and restores the fast path."""
    from generic_data_ingestor_framework_spark.fileops import hadoop_list_dirs

    df = spark.read.parquet(f"{root}/{name}")
    deltas = []
    for sub in hadoop_list_dirs(spark, f"{root}/{name}_batches"):
        b = spark.read.parquet(sub)
        if "gen" in b.columns:
            deltas.append(b)
        else:
            df = df.unionByName(b)
    tombs = [
        spark.read.parquet(sub)
        for sub in hadoop_list_dirs(spark, f"{root}/tombstones")
    ]
    if not deltas and not tombs:
        return df
    from functools import reduce
    from pyspark.sql import Window as W

    from generic_data_ingestor_framework_spark.llm.dedup import BCAST_BYTES_PER_ID
    from generic_data_ingestor_framework_spark.scale import broadcast_threshold_bytes

    # GUARD (r12 verdict #1): the mark set is broadcast below, which is
    # safe only while the delta stays batch-sized. Refuse loudly — with
    # the fix named — before a compaction-starved index walks into a
    # silent driver-side blowup. Row counts are parquet-metadata reads;
    # pq_codes carries PQ_M rows per id, so divide for the id bound.
    # ``allow_large_delta`` is the compaction/maintenance path: no
    # guard and NO forced-broadcast hints (AQE still broadcasts a
    # small side at runtime; an oversized one merges as a shuffle
    # join) — compaction must be able to drain exactly the delta the
    # guard refuses to probe. budget <= 0 means the operator disabled
    # broadcasting session-wide: honor that by dropping the forced
    # hint too (AQE decides), which also removes the blowup the guard
    # exists to prevent.
    budget = broadcast_threshold_bytes(spark)
    if budget > 0 and not allow_large_delta:
        rows_per_id = PQ_M if name == "pq_codes" else 1
        n_ids_upper = sum(d.count() for d in deltas) // rows_per_id + sum(
            t.count() for t in tombs
        )
        if n_ids_upper * BCAST_BYTES_PER_ID > budget:
            raise RuntimeError(
                f"ANN index delta too large to broadcast-mask "
                f"(~{n_ids_upper * BCAST_BYTES_PER_ID} bytes estimated vs "
                f"{budget} budget): run compact_ann_index('{root}') or the "
                f"ann_auto_compact pipeline step before probing"
            )

    delta = reduce(DataFrame.unionByName, deltas) if deltas else None
    marks = [t.select("point_id", "gen", F.lit(True).alias("tomb")) for t in tombs]
    if delta is not None:
        marks.append(
            delta.select("point_id", "gen").distinct()
            .withColumn("tomb", F.lit(False))
        )
    mark = reduce(DataFrame.unionByName, marks)
    w = W.partitionBy("point_id").orderBy(F.desc("gen"), F.desc("tomb"))
    win = (
        mark.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("point_id", "gen", "tomb")
    )
    hint = (lambda d: d) if (allow_large_delta or budget <= 0) else F.broadcast
    out = df.join(hint(win.select("point_id")), "point_id", "anti")
    if delta is not None:
        live = win.filter(~F.col("tomb")).select("point_id", "gen")
        out = out.unionByName(
            delta.join(hint(live), ["point_id", "gen"]).drop("gen")
        )
    return out


def _write_index_meta(spark: SparkSession, root: str, n_candidates: int) -> None:
    spark.createDataFrame(
        [(ANN_INDEX_VERSION, n_candidates)], "version int, n_candidates bigint"
    ).write.mode("overwrite").parquet(f"{root}/index_meta")


def save_ann_index(spark: SparkSession, sf_dir: str, root: str | None = None) -> str:
    """Persist the trained ANN index — IVF centroids + cell assignment
    and PQ codebooks + codes — as PATH-ADDRESSED parquet relations, so
    a new process (or a 100 TB query job that must never retrain)
    loads them without any metastore: the probe-side joins all
    broadcast the small side (probed cells / ADC LUT), so unlike the
    band index there is no bucketed shuffle to preserve, and plain
    parquet is the most portable cross-run vehicle. ``index_meta``
    records the format version and candidate count; ``load_ann_index``
    rebuilds on a stale, inconsistent, or foreign index instead of
    silently probing it. Writes are overwrite-mode (idempotent), any
    previous append batches are cleared, and completion is marked by
    writing ``index_meta`` LAST."""
    from generic_data_ingestor_framework_spark.fileops import hadoop_delete

    from concurrent.futures import ThreadPoolExecutor

    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    root = root or _ann_index_root(spark, sf_dir)
    hadoop_delete(spark, f"{root}/index_meta")  # invalidate before mutating
    hadoop_delete(spark, f"{root}/ivf_assigned_batches")
    hadoop_delete(spark, f"{root}/pq_codes_batches")
    hadoop_delete(spark, f"{root}/tombstones")
    # the corpus candidate count is deterministic per corpus — memoized
    # next to the other corpus scalars (r14 opt: a lifecycle member that
    # saves per run re-counted the corpus per save)
    n_cand = shared_value(
        spark,
        ("ann_n_cand", sf_dir),
        lambda: _vectors(spark, sf_dir).filter(F.col("vec_id") >= N_QUERY).count(),
    )

    # Construct the four relations SEQUENTIALLY on this thread — the
    # constructors run the session-memoized training collects (k-means /
    # PQ codebooks), and the cachemgr memos are not thread-safe — then
    # overlap the four independent WRITE jobs so the tail tasks of one
    # back-fill the cores the others leave idle (guide §2.6); meta
    # still commits strictly LAST, preserving crash-consistency.
    # The assignment is PARTITIONED BY CELL — the on-disk layout IS
    # the inverted list: a probe filtered to its probed cells prunes
    # the scan to n_probes/k of the index (at 100 TB, the difference
    # between reading ~1% of the corpus and all of it).
    writes = [
        (_centroid_df(spark, sf_dir), f"{root}/ivf_centroids", None),
        (_ivf_assigned(spark, sf_dir), f"{root}/ivf_assigned", "cell"),
        (_pq_codebook_df(spark, sf_dir), f"{root}/pq_codebook", None),
        (_pq_codes_df(spark, sf_dir), f"{root}/pq_codes", None),
    ]

    def _w(df: DataFrame, path: str, part: str | None) -> None:
        w = df.write.mode("overwrite")
        (w.partitionBy(part) if part else w).parquet(path)

    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [pool.submit(_w, *args) for args in writes]
        for f in futs:
            f.result()
    _write_index_meta(spark, root, n_cand)
    _bump_ann_epoch(root)
    return root


# Per-root mutation counter: every writer (save/append/supersede/
# delete/compact) bumps it, so the session-memoized load_ann_index
# result can never serve a stale view of an index THIS process
# mutated. Out-of-process mutation is caught by the meta fingerprint
# below: every contract-following writer finishes by rewriting
# ``index_meta``, so its file listing (names, mtimes, sizes — one FS
# metadata call, no Spark job) changes on any mutation.
_ANN_INDEX_EPOCH: dict[str, int] = {}


def _bump_ann_epoch(root: str) -> None:
    _ANN_INDEX_EPOCH[root] = _ANN_INDEX_EPOCH.get(root, 0) + 1


def _ann_meta_fingerprint(spark: SparkSession, root: str) -> tuple:
    """(name, mtime, size) of every file under ``{root}/index_meta`` —
    a pure FS-metadata probe that changes whenever any writer commits
    (all of them rewrite the meta relation last)."""
    from generic_data_ingestor_framework_spark.fileops import hadoop_fs_path

    fs, p = hadoop_fs_path(spark, f"{root}/index_meta")
    if not fs.exists(p):
        return ()
    return tuple(
        sorted(
            (st.getPath().getName(), st.getModificationTime(), st.getLen())
            for st in fs.listStatus(p)
        )
    )


def load_ann_index(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> dict[str, DataFrame]:
    """Session-memoized ``_load_ann_index_fresh`` (r14 opt): the
    staleness probes — meta collect, corpus count, batch-dir listings,
    two effective-relation counts — cost ~6 driver actions (~1 s) per
    call, re-verifying an index nothing touched. The memo key carries
    the per-root mutation epoch (any in-process writer invalidates it)
    AND the meta-directory fingerprint (any out-of-process writer that
    follows the write protocol — meta committed last — invalidates
    it), so the staleness contract of the fresh loader is preserved at
    the cost of one FS metadata call instead of ~6 driver actions."""
    from generic_data_ingestor_framework_spark.cachemgr import (
        evict_prefix,
        has_value,
        shared_value,
    )

    root = root or _ann_index_root(spark, sf_dir)
    epoch = _ANN_INDEX_EPOCH.get(root, 0)
    fp = _ann_meta_fingerprint(spark, root)
    key = ("ann_index_loaded", sf_dir, root, epoch, fp)
    if not has_value(spark, key):
        # new (epoch, fingerprint): superseded versions of THIS root can
        # never be served again — drop their memo entries before adding
        # the fresh one (mutation-heavy members would otherwise
        # accumulate one stale entry per write for the whole session)
        evict_prefix(spark, ("ann_index_loaded", sf_dir, root))
    return shared_value(
        spark, key, lambda: _load_ann_index_fresh(spark, sf_dir, root)
    )


def _load_ann_index_fresh(
    spark: SparkSession, sf_dir: str, root: str
) -> dict[str, DataFrame]:
    """Load the persisted ANN index, (re)building it first when absent,
    version-mismatched, trained on a different candidate count, or
    INTERNALLY INCONSISTENT (a crash between an append's two relation
    writes leaves assigned/codes rows disagreeing with the meta count —
    the row-count probes are parquet-metadata reads, not scans) — the
    every-job entry point: train once, probe forever. NOTE the
    staleness contract: the index serves the corpus at ``sf_dir``;
    appended batches must mirror corpus growth (the crawl workflow), or
    the next load sees a count mismatch and retrains from the current
    corpus, discarding appends."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_exists,
        hadoop_list_dirs,
    )

    stale = True
    if hadoop_exists(spark, f"{root}/index_meta"):
        meta = spark.read.parquet(f"{root}/index_meta").collect()[0]
        n_cand = _vectors(spark, sf_dir).filter(F.col("vec_id") >= N_QUERY).count()

        def _tags(name: str) -> set[str]:
            return {
                p.rstrip("/").rsplit("/", 1)[-1]
                for p in hadoop_list_dirs(spark, f"{root}/{name}_batches")
            }

        stale = (
            meta["version"] != ANN_INDEX_VERSION
            or meta["n_candidates"] != n_cand
            # batch-tag SYMMETRY: every append/supersede writes the same
            # tag under both relations' batch dirs, so an asymmetric set
            # is a mid-write crash. Counts alone cannot catch a
            # half-written SUPERSEDE (it replaces rows — both effective
            # counts still match the corpus), so this listing check is
            # that path's crash probe; for appends it is a cheap
            # pre-filter before the count probes below.
            or _tags("ivf_assigned") != _tags("pq_codes")
            or _load_index_relation(spark, root, "ivf_assigned").count() != n_cand
            or _load_index_relation(spark, root, "pq_codes").count() != n_cand * PQ_M
        )
    if stale:
        # a retrain DISCARDS any appended batches — that is the staleness
        # contract (appends must mirror corpus growth), but losing them
        # must be observable, not silent
        batches = (
            hadoop_list_dirs(spark, f"{root}/ivf_assigned_batches")
            + hadoop_list_dirs(spark, f"{root}/pq_codes_batches")
            + hadoop_list_dirs(spark, f"{root}/tombstones")
        )
        if batches:
            import warnings

            warnings.warn(
                f"load_ann_index: retraining {root} discards "
                f"{len(batches)} appended batch director"
                f"{'y' if len(batches) == 1 else 'ies'} (index does not "
                f"match the corpus at {sf_dir} — appends not mirrored by "
                f"corpus growth, or a crash left the index inconsistent)",
                RuntimeWarning,
                stacklevel=2,
            )
        save_ann_index(spark, sf_dir, root)
    return {
        "ivf_centroids": spark.read.parquet(f"{root}/ivf_centroids"),
        "ivf_assigned": _load_index_relation(spark, root, "ivf_assigned"),
        "pq_codebook": spark.read.parquet(f"{root}/pq_codebook"),
        "pq_codes": _load_index_relation(spark, root, "pq_codes"),
    }


def append_ann_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    batch_tag: str,
    write_meta: bool = True,
) -> int:
    """Add a NEW batch of candidate vectors to a saved ANN index
    WITHOUT retraining — the every-crawl loop for vectors, the
    ``update_band_index`` analogue: new points are assigned to their
    nearest SAVED IVF centroid and encoded against the SAVED PQ
    codebooks (standard IVF/PQ append semantics — the quantizers are
    trained once, the inverted lists grow). ``new_vectors``:
    (vec_id, v array<double>) with ids disjoint from the indexed set;
    ``batch_tag`` names the crawl batch — each batch writes its own
    subdirectory in OVERWRITE mode, so a retried or crashed-and-rerun
    append replaces itself instead of duplicating rows, and
    ``index_meta``'s candidate count is RECOMPUTED from the stored
    assignment (never incremented blind, so a retry cannot
    double-count). Returns the appended row count. Encoding is
    deterministic (rounded sims/distances, id tie-breaks), so
    re-encoding an identical vector reproduces its cell and codes
    exactly.

    ``write_meta=False`` leaves the index UNCOMMITTED (meta deleted,
    batch dirs written) for a caller issuing several mutations
    back-to-back — only the LAST one recounts and commits meta. The
    intermediate state equals the mid-writer crash state the meta-last
    protocol already handles, so crash-consistency is unchanged."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        sf_tag,
    )

    tag = sf_tag(batch_tag)
    hadoop_delete(spark, f"{root}/index_meta")  # invalidate before mutating
    cdf = spark.read.parquet(f"{root}/ivf_centroids")
    codebook = spark.read.parquet(f"{root}/pq_codebook")
    new_vectors = new_vectors.persist()  # 2 writes + 1 count, 1 lineage pay
    try:
        pts = new_vectors.select(
            F.col("vec_id").alias("point_id"),
            F.col("v").alias("pv"),
            _norm(F.col("v")).alias("pn"),
        )
        _write_batch_pair(
            spark,
            _nearest_cells(cdf, pts, "pv", "pn", "point_id", 1),
            f"{root}/ivf_assigned_batches/{tag}",
            _encode_pq(new_vectors, codebook),
            f"{root}/pq_codes_batches/{tag}",
        )
        n_new = new_vectors.count()
    finally:
        new_vectors.unpersist()
    if write_meta:
        n_total = _load_index_relation(
            spark, root, "ivf_assigned", allow_large_delta=True
        ).count()
        _write_index_meta(spark, root, n_total)
    _bump_ann_epoch(root)
    return n_new


def _write_batch_pair(
    spark: SparkSession,
    assigned: DataFrame,
    assigned_path: str,
    codes: DataFrame,
    codes_path: str,
) -> None:
    """Write a mutation batch's two relations CONCURRENTLY (guide
    §2.6): they are independent jobs over the same persisted batch, so
    one job's straggler tail back-fills with the other's tasks. Both
    inputs must already be fully constructed (no cachemgr builds happen
    on the pool threads)."""
    from concurrent.futures import ThreadPoolExecutor

    def _wa():
        assigned.write.partitionBy("cell").mode("overwrite").parquet(assigned_path)

    def _wc():
        codes.write.mode("overwrite").parquet(codes_path)

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(w) for w in (_wa, _wc)]
        for f in futs:
            f.result()


def supersede_ann_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    batch_tag: str,
    gen: int,
    write_meta: bool = True,
) -> int:
    """Register RE-CRAWLED CHANGED vectors: same saved-quantizer encode
    as ``append_ann_index`` (assign to nearest SAVED centroid, encode
    against SAVED codebooks — quantizers train once), but ids MAY
    overlap the indexed set and every written row carries generation
    ``gen``: probes take latest-generation-wins
    (``_load_index_relation``), so the ids' previous vectors stop
    serving immediately, and ``compact_ann_index`` physically drops
    them. Per-tag overwrite keeps retries idempotent; meta is
    recomputed from the EFFECTIVE assignment (never incremented
    blind). ``gen`` must exceed every generation previously written
    for these ids (the crawl loop's monotonic batch counter).
    ``write_meta=False``: see ``append_ann_index`` — defer the meta
    commit to the last mutation of a back-to-back sequence."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        sf_tag,
    )

    tag = sf_tag(batch_tag)
    hadoop_delete(spark, f"{root}/index_meta")  # invalidate before mutating
    cdf = spark.read.parquet(f"{root}/ivf_centroids")
    codebook = spark.read.parquet(f"{root}/pq_codebook")
    new_vectors = new_vectors.persist()
    try:
        pts = new_vectors.select(
            F.col("vec_id").alias("point_id"),
            F.col("v").alias("pv"),
            _norm(F.col("v")).alias("pn"),
        )
        _write_batch_pair(
            spark,
            _nearest_cells(cdf, pts, "pv", "pn", "point_id", 1).withColumn(
                "gen", F.lit(gen)
            ),
            f"{root}/ivf_assigned_batches/{tag}",
            _encode_pq(new_vectors, codebook).withColumn("gen", F.lit(gen)),
            f"{root}/pq_codes_batches/{tag}",
        )
        n_new = new_vectors.count()
    finally:
        new_vectors.unpersist()
    if write_meta:
        n_total = _load_index_relation(
            spark, root, "ivf_assigned", allow_large_delta=True
        ).count()
        _write_index_meta(spark, root, n_total)
    _bump_ann_epoch(root)
    return n_new


def delete_ann_index_ids(
    spark: SparkSession,
    ids: DataFrame,
    root: str,
    batch_tag: str,
    gen: int,
    write_meta: bool = True,
) -> int:
    """Tombstone vectors out of a saved ANN index at generation ``gen``
    (the crawl loop's 'document gone' signal). ``ids``: a (vec_id)
    frame. Pure markers in their own per-tag subdirectory (idempotent
    retries); probes stop serving the ids immediately
    (latest-generation-wins, tombstone wins a gen tie), compaction
    drops their rows physically. Returns the effective candidate count
    after the delete (or -1 with ``write_meta=False``, which defers the
    recount + meta commit to the last mutation of a back-to-back
    sequence — see ``append_ann_index``)."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        sf_tag,
    )

    tag = sf_tag(batch_tag)
    hadoop_delete(spark, f"{root}/index_meta")  # invalidate before mutating
    ids.select(
        F.col("vec_id").alias("point_id"), F.lit(gen).alias("gen")
    ).write.mode("overwrite").parquet(f"{root}/tombstones/{tag}")
    if not write_meta:
        _bump_ann_epoch(root)
        return -1
    n_total = _load_index_relation(spark, root, "ivf_assigned", allow_large_delta=True).count()
    _write_index_meta(spark, root, n_total)
    _bump_ann_epoch(root)
    return n_total


def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k served FROM THE PERSISTED INDEX: identical results to
    ``ann_ivf_topk`` (same oracle), but the centroids and cell
    assignment come from ``load_ann_index`` — the path a recurring
    query job takes so the k-means training cost is paid once per
    corpus, not once per session (r9 cold bench: 6.09 s rebuild vs
    sub-second probe). First call on a fresh corpus trains and saves;
    every later call — in ANY process — loads.

    The saved assignment is cell-partitioned, so the probe first
    resolves this query batch's probed cells (queries × centroids —
    a driver-held handful of ints, the same class as the centroids
    themselves) and filters the assignment to them: the filter reaches
    the parquet listing as a PARTITION filter and only the probed
    inverted lists are read — n_probes/k of the index, which at 100 TB
    is the difference between scanning ~1% of the corpus and all of
    it."""
    idx = load_ann_index(spark, sf_dir)
    cdf = idx["ivf_centroids"]
    qs = _query_vecs(spark, sf_dir).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    # score the queries ONCE: the same probed relation yields the
    # driver-held cell list (for partition pruning) and the join side.
    # Session-registry persist (not a bare .persist()) so repeated
    # calls reuse one cached copy instead of leaking one per call —
    # the relation is deterministic per corpus (rounded sims, id
    # tie-breaks), so the key is just the corpus.
    from generic_data_ingestor_framework_spark.cachemgr import (
        shared_persist,
        shared_value,
    )

    probed = shared_persist(
        spark,
        ("ivf_probed_persisted", sf_dir),
        lambda: _nearest_cells(cdf, qs, "qv", "qn", "query_id", N_PROBES),
    )
    cells = shared_value(
        spark,
        ("ivf_probed_cells_persisted", sf_dir),
        lambda: [r["cell"] for r in probed.select("cell").distinct().collect()],
    )
    return _ivf_topk(
        spark,
        sf_dir,
        N_PROBES,
        cdf=cdf,
        assigned=idx["ivf_assigned"].filter(F.col("cell").isin(cells)),
        probed=probed,
    )


def ann_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k served FROM THE PERSISTED INDEX (same contract as
    ``ann_ivf_persisted``): codebooks and compressed codes load from
    parquet; only the query-side LUT — queries × M × K, broadcast-
    sized — is computed at query time. Identical results to
    ``ann_pq_topk`` (same oracle)."""
    idx = load_ann_index(spark, sf_dir)
    return _pq_rerank(
        spark,
        sf_dir,
        _pq_adc(spark, sf_dir, codes=idx["pq_codes"], cdf=idx["pq_codebook"]),
    )


def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list HEALTH REPORT over the persisted IVF index: per
    cell, the list size and its share of the corpus in basis points
    (integer math — exact cross-engine). Cell skew is THE IVF scale
    risk: a probe's cost is the size of its probed lists, so one
    mega-cell turns the "read ~n_probes/k of the corpus" contract into
    "read most of it" for every query routed there (and the
    cell-partitioned layout makes that one partition a straggler).
    This is the audit an operator runs before trusting an index at
    100 TB — the `ann_recall_report` sibling for COST instead of
    recall. Served from ``load_ann_index`` (train-once contract), so
    it also gate-pins the persisted assignment's cell histogram."""
    idx = load_ann_index(spark, sf_dir)
    assigned = idx["ivf_assigned"]
    per_cell = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_points"))
    # intentionally bypasses the probed-relation cache: with no delta
    # batches this is a parquet-metadata count (no scan), and the audit
    # must reflect the index AS STORED, not a session-cached copy
    total = assigned.count()
    return per_cell.select(
        F.col("cell").cast("int").alias("cell"),
        "n_points",
        # integer division — exact in both engines, no float boundary
        F.expr(f"(n_points * 10000) DIV {total}").alias("share_bp"),
    ).orderBy("cell")


# Default retrain-policy thresholds (basis points): the hottest IVF
# cell may hold at most 20% of the corpus, and no append wave's recall
# may fall below 80%. Shared by the pure function's defaults, the gate
# member, and its DuckDB oracle.
RETRAIN_MAX_CELL_SHARE_BP = 2000
RETRAIN_MIN_RECALL_BP = 8000


def ann_retrain_decision(
    stats_rows,
    recall_rows,
    max_cell_share_bp: int = RETRAIN_MAX_CELL_SHARE_BP,
    min_recall_bp: int = RETRAIN_MIN_RECALL_BP,
) -> dict:
    """The RETRAIN decision as a pure function over the two index-health
    gauges — ``ann_index_stats`` (COST: per-cell share of the corpus;
    one mega-cell turns the n_probes/k probe contract into a full scan
    for every query routed there) and ``ann_recall_after_append``
    (RECALL: the frozen quantizer's drift as off-distribution appends
    accumulate). Retrain when the hottest cell exceeds
    ``max_cell_share_bp`` OR any wave's recall falls below
    ``min_recall_bp``. Driver-side arithmetic over two aggregate-sized
    gauge outputs (collected rows or (cell, share)/(batch, recall)
    tuples) — the train-once/append-forever contract's other
    enforcement arm, next to ``maybe_compact_ann_index`` (which keeps
    probes cheap; this keeps them CORRECT and BALANCED)."""
    def _get(row, key, idx):
        try:
            return row[key]
        except (KeyError, TypeError, IndexError):
            return row[idx]

    hottest = max((_get(r, "share_bp", 2) for r in stats_rows), default=0)
    worst = min((_get(r, "recall_bp", 4) for r in recall_rows), default=10000)
    reasons = []
    if hottest > max_cell_share_bp:
        reasons.append(f"cell_skew:{hottest}bp>{max_cell_share_bp}bp")
    if worst < min_recall_bp:
        reasons.append(f"recall_drift:{worst}bp<{min_recall_bp}bp")
    return {
        "retrain": bool(reasons),
        "reasons": reasons,
        "hottest_cell_share_bp": hottest,
        "worst_wave_recall_bp": worst,
    }


def compact_ann_index(spark: SparkSession, root: str) -> int:
    """MAJOR COMPACTION for a persisted ANN index: fold every appended
    batch subdirectory into the base relations and clear the batch
    directories. A crawl loop appends one subdirectory per batch per
    relation; after many crawls the probe-side union grows into a
    small-files problem (each probe lists and opens every batch dir —
    at 100 TB, thousands of tiny parquet footers per query job), and
    appended rows are NOT cell-partitioned, so the partition-pruned
    probe path degrades toward scanning every batch file. Compaction
    rewrites ``ivf_assigned`` partitioned by cell (appended rows join
    their inverted lists on disk) and ``pq_codes`` as one relation,
    then removes the batch dirs — results are IDENTICAL before and
    after (pure layout change; ``ann_index_crawl`` phase 3 pins this
    invariance through the gate).

    Crash-consistency: same meta-last protocol as save/append — meta
    is invalidated first, the compacted relations are staged and
    swapped, batch dirs cleared, meta rewritten LAST from the stored
    assignment count. A crash mid-compaction leaves meta absent or
    counts disagreeing, and ``load_ann_index`` retrains. Returns the
    compacted index's candidate count."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        hadoop_fs_path,
    )

    hadoop_delete(spark, f"{root}/index_meta")  # invalidate before mutating
    # stage the folded relations (a direct overwrite would read and
    # clobber the same directory in one job). _load_index_relation is
    # the EFFECTIVE view, so superseded generations and tombstoned ids
    # are PHYSICALLY dropped here — the delete/supersede debt a crawl
    # loop accumulates is paid at compaction, and the tombstone dirs
    # themselves are cleared below.
    assigned = _load_index_relation(spark, root, "ivf_assigned", allow_large_delta=True)
    codes = _load_index_relation(spark, root, "pq_codes", allow_large_delta=True)
    # the two folded rewrites are independent — overlap them (guide
    # §2.6); both views were constructed above, so the pool threads
    # only run write jobs
    _write_batch_pair(
        spark,
        assigned,
        f"{root}/ivf_assigned_compact",
        codes,
        f"{root}/pq_codes_compact",
    )
    for name in ("ivf_assigned", "pq_codes"):
        hadoop_delete(spark, f"{root}/{name}")
        hadoop_delete(spark, f"{root}/{name}_batches")
        fs, src = hadoop_fs_path(spark, f"{root}/{name}_compact")
        _, dst = hadoop_fs_path(spark, f"{root}/{name}")
        fs.rename(src, dst)
    hadoop_delete(spark, f"{root}/tombstones")
    n_total = spark.read.parquet(f"{root}/ivf_assigned").count()
    _write_index_meta(spark, root, n_total)
    _bump_ann_epoch(root)
    return n_total


def ann_index_pressure_stats(spark: SparkSession, root: str) -> dict:
    """Delta/base PRESSURE of a persisted ANN index — the vector twin
    of ``dedup.band_index_pressure_stats``: the effective view masks
    the base with a BROADCAST anti join on the delta's mark set
    (gen-tagged supersede ids + tombstones — see
    ``_load_index_relation``), safe only while that set stays
    batch-sized. Plain append batches are unioned, never broadcast, so
    they count toward the base, not the delta. Counts are parquet-
    metadata reads plus one distinct over the (batch-sized) marks."""
    from generic_data_ingestor_framework_spark.fileops import hadoop_list_dirs
    from generic_data_ingestor_framework_spark.llm.dedup import BCAST_BYTES_PER_ID
    from generic_data_ingestor_framework_spark.scale import broadcast_threshold_bytes

    base_ids = spark.read.parquet(f"{root}/ivf_assigned").count()
    marks = []
    for sub in hadoop_list_dirs(spark, f"{root}/ivf_assigned_batches"):
        b = spark.read.parquet(sub)
        if "gen" in b.columns:
            marks.append(b.select("point_id"))
        else:
            base_ids += b.count()
    for sub in hadoop_list_dirs(spark, f"{root}/tombstones"):
        marks.append(spark.read.parquet(sub).select("point_id"))
    if marks:
        from functools import reduce

        delta_ids = reduce(DataFrame.unionByName, marks).distinct().count()
    else:
        delta_ids = 0
    threshold = broadcast_threshold_bytes(spark)
    est_bytes = delta_ids * BCAST_BYTES_PER_ID
    return {
        "base_ids": base_ids,
        "delta_ids": delta_ids,
        "pressure_bp": (delta_ids * 10000) // base_ids if base_ids else 10000,
        "est_broadcast_bytes": est_bytes,
        "broadcast_threshold_bytes": threshold,
        "over_broadcast_budget": 0 < threshold < est_bytes,
    }


def maybe_compact_ann_index(
    spark: SparkSession,
    root: str,
    max_delta_ratio: float = 0.10,
    stats: dict | None = None,
) -> dict:
    """AUTO-COMPACT policy for a persisted ANN index: compact when the
    delta's mark set exceeds ``max_delta_ratio`` of the base ids OR its
    estimated broadcast size exceeds the session's broadcast budget —
    the enforcement arm of the batch-sized-delta contract. A crawl
    pipeline runs this after its supersede/delete steps (pipeline op
    ``ann_auto_compact``); between runs, ``_load_index_relation``'s
    guard refuses oversized broadcasts loudly. Returns the pressure
    stats plus the decision. ``stats``: optionally the CURRENT
    ``ann_index_pressure_stats`` result, when the caller just measured
    it (the pressure gate member) — passing it skips an identical
    back-to-back recomputation; it must reflect the index's present
    state."""
    if stats is None:
        stats = ann_index_pressure_stats(spark, root)
    over_ratio = stats["delta_ids"] > max_delta_ratio * stats["base_ids"]
    reason = (
        "delta_ratio" if over_ratio
        else "broadcast_budget" if stats["over_broadcast_budget"]
        else ""
    )
    if reason and stats["delta_ids"] > 0:
        compact_ann_index(spark, root)
        return {**stats, "compacted": True, "reason": reason}
    return {**stats, "compacted": False, "reason": reason}


# Crawl/append batches are re-keyed past max(vec_id) — offsets are
# DERIVED (broadcast 1-row aggregate / scalar subquery), not fixed
# constants, so the disjoint-id-space assumption holds at every SF
# (r12 ADVICE: a fixed +1e6 collides with real ids once the corpus
# passes 1M vectors).
CRAWL_OFFSET_SQL = "(SELECT max(vec_id) + 1 FROM embeddings)"


def _crawl_off(vecs: DataFrame):
    return F.broadcast(vecs.agg((F.max("vec_id") + 1).alias("__off")))


def ann_index_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-run ANN crawl loop driven END-TO-END through the
    PERSISTED index — the gate member for ``save_ann_index`` /
    ``append_ann_index`` / ``_load_index_relation``, mirroring
    ``band_index_crawl`` for the vector side: a unit test proves each
    step in isolation, but this member drives the full save → append →
    re-probe cycle through the on-disk parquet relations, so a
    regression in the persisted path (batch-directory layout, the
    partition-by-cell write, the recomputed meta count, the
    saved-quantizer encode) flips the driver gate, not just a pytest.

    Shape: the full-corpus index is saved to a crawl-only root, then a
    new crawl batch — the query vectors re-keyed to ``vec_id +
    max(vec_id)+1`` (real rows, ids disjoint from the indexed set) — is
    appended WITHOUT retraining: assigned to its nearest SAVED
    centroid and encoded against the SAVED PQ codebooks. Both probe
    paths then serve from disk: phase 1 is the IVF top-k over the
    grown inverted lists (each query now finds its own appended copy
    at rank 1, cos 1.0 — visible proof the appended cell assignment
    landed in the probed cell), phase 2 is the PQ ADC top-k over the
    grown code relation (``approx_sim`` pins the appended codes' ADC
    integers exactly). Phases 3-4 re-serve both paths after a MAJOR
    COMPACTION (``compact_ann_index``: batch subdirs folded into the
    cell-partitioned base, meta-last) — identical values with a new
    phase tag, so the gate pins layout-invariance of the compaction.
    Single-writer contract: the crawl root is namespaced per session
    (like the band-crawl tables), so concurrent sessions sharing a
    warehouse cannot corrupt each other mid-read.

    Scale shape: identical to ``ann_ivf_persisted``/``ann_pq_persisted``
    — the probe side reads only the probed cell partitions plus the
    (batch-sized) appended subdirectories; quantizers stay trained
    once, inverted lists grow per crawl."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        hadoop_list_dirs,
    )

    base = _ann_index_root(spark, sf_dir)
    root = base + "_crawl_" + _session_tag(spark)
    # reap ALL foreign crawl roots (any session tag) so repeated sweeps
    # don't accumulate index copies — safe ONLY under the single-writer-
    # per-warehouse contract (see dedup._reset_managed_table): a warehouse
    # is owned by one session at a time, so any other tag is a dead
    # session's leftover, never a live concurrent crawl
    wh = spark.conf.get("spark.sql.warehouse.dir")
    prefix = base + "_crawl_"
    for sub in hadoop_list_dirs(spark, wh):
        if sub.rstrip("/").split("/")[-1].startswith(prefix.rstrip("/").split("/")[-1]):
            hadoop_delete(spark, sub)
    hadoop_delete(spark, root)  # idempotent re-runs
    save_ann_index(spark, sf_dir, root)
    vecs = _vectors(spark, sf_dir)
    # the crawl batch is the 5 query vectors re-keyed past max(vec_id):
    # both the vectors and the offset are driver-memoized scalars, so
    # building it costs no corpus scan and no offset aggregate (r15;
    # values are the exact collected binary64 rows — see _query_side)
    off_v, _ = _recall_scalars(spark, sf_dir)
    batch = _query_vecs(spark, sf_dir).select(
        (F.col("vec_id") + off_v).alias("vec_id"), "v"
    )
    append_ann_index(spark, batch, root, "crawl_b1")

    cdf = spark.read.parquet(f"{root}/ivf_centroids")
    assigned = _load_index_relation(spark, root, "ivf_assigned")
    codebook = spark.read.parquet(f"{root}/pq_codebook")
    codes = _load_index_relation(spark, root, "pq_codes")

    qs = _query_side(spark, sf_dir)
    probed = _nearest_cells(cdf, qs, "qv", "qn", "query_id", N_PROBES)
    cells = [r["cell"] for r in probed.select("cell").distinct().collect()]
    ivf = _ivf_topk(
        spark,
        sf_dir,
        N_PROBES,
        cdf=cdf,
        assigned=assigned.filter(F.col("cell").isin(cells)),
        probed=probed,
    )

    base_cn = vecs.filter(F.col("vec_id") >= N_QUERY).select(
        F.col("vec_id").alias("point_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("cn"),
    )
    batch_cn = batch.select(
        F.col("vec_id").alias("point_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("cn"),
    )
    cand_vecs = base_cn.unionByName(batch_cn)
    pq = _pq_rerank(
        spark,
        sf_dir,
        _pq_adc(spark, sf_dir, codes=codes, cdf=codebook),
        cand_vecs=cand_vecs,
    )
    null_d = F.lit(None).cast("double")

    def _tag(df: DataFrame, phase: int) -> DataFrame:
        cols = (
            [null_d.alias("approx_sim")]
            if "approx_sim" not in df.columns
            else [F.col("approx_sim")]
        )
        return df.select(
            F.lit(phase).alias("phase"),
            "query_id",
            "neighbor_id",
            *cols,
            "cos_sim",
            "rank",
        )

    # phases 1-2 read the pre-compaction layout (base + batch subdirs);
    # materialize them BEFORE compaction deletes those paths
    out12 = _tag(ivf, 1).unionAll(_tag(pq, 2)).localCheckpoint(eager=True)

    # phases 3-4: MAJOR COMPACTION folds the batch dirs into the base
    # relations (appended rows join their cell partitions on disk) and
    # both probe paths re-serve — results must be IDENTICAL to phases
    # 1-2 (a pure layout change), which the shared oracle pins
    compact_ann_index(spark, root)
    assigned_c = spark.read.parquet(f"{root}/ivf_assigned")
    codes_c = spark.read.parquet(f"{root}/pq_codes")
    ivf3 = _ivf_topk(
        spark,
        sf_dir,
        N_PROBES,
        cdf=cdf,
        assigned=assigned_c.filter(F.col("cell").isin(cells)),
        probed=probed,
    )
    pq4 = _pq_rerank(
        spark,
        sf_dir,
        _pq_adc(spark, sf_dir, codes=codes_c, cdf=codebook),
        cand_vecs=cand_vecs,
    )
    return out12.unionAll(_tag(ivf3, 3)).unionAll(_tag(pq4, 4))


# Append-wave id offsets for the recall-drift audit (ids disjoint from
# the corpus and from each other; pure addition keeps the oracle's
# re-keying trivial).
# SQL forms of the two append-wave offsets: wave 1 re-keys by
# max(vec_id)+1, wave 2 by twice that, so the three id spaces stay
# pairwise disjoint at every SF (appended ids never exceed max + offset).
RECALL_O1_SQL = "(SELECT max(vec_id) + 1 FROM embeddings)"
RECALL_O2_SQL = "(2 * (SELECT max(vec_id) + 1 FROM embeddings))"


def ann_recall_after_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL-DRIFT AUDIT for the train-once/append-forever contract:
    after the corpus grows N× through appends, the FROZEN coarse
    quantizer (centroids trained on the original corpus only —
    ``append_ann_index``'s correct-by-design behavior) misroutes
    new-region vectors, and recall silently decays.
    ``ann_recall_report`` measures the trained corpus; this member
    measures each APPEND WAVE: per wave, brute-force truth for
    batch-distribution queries over the grown corpus vs the
    frozen-quantizer IVF probe. The (recall) twin of
    ``ann_index_stats`` (cost) — together the pair of index-health
    gates an operator reads to decide when to retrain.

    Waves are deterministic new-region transforms of the corpus:
    wave 1 appends every candidate NEGATED (the far-from-trained-mass
    direction), wave 2 adds every candidate dimension-REVERSED; wave-b
    queries are the query vectors under the same transform. Output:
    one row per wave b ∈ {0,1,2} (0 = trained-corpus baseline) with
    the corpus size and integer recall (hits, k, basis points).

    Scale shape: truth is queries × corpus with a broadcast query side
    — the same bounded product as ``ann_cosine_topk`` (queries are a
    handful; at 100 TB you sample them, and the member's shape is the
    sample's); the IVF side mirrors ``append_ann_index``'s encode-only
    path: each wave assigns ONLY its appended batch to the frozen
    centroids, each batch assignment is localCheckpointed ONCE, and the
    grown corpus is the lazy union of those checkpointed blocks — wave
    b never re-scores waves < b against the centroids (the r12
    blemish: full per-wave re-assignment cost 24 warm shuffles and a
    2.62× decade ratio), and the brute truth and the IVF probe are a
    SINGLE fused pass over the assignment relation (r13 verdict #4:
    the probe join used to re-scan the corpus and re-compute every
    dot product; now in-probe membership is a broadcast (query, cell)
    lookup and both ranks come from one window), so the grown corpus
    is scanned once per wave, not twice. Per-point
    assignment is independent of other points, so batch-only
    assignment is bit-identical to full re-assignment. The re-key
    offset, the candidate count, and the per-batch checkpoints are
    session-memoized (driver scalars + the cachemgr DataFrame case), so
    a warm re-run pays one job.

    r14 (opt): the three waves are FUSED into one pass — corpus blocks
    are tagged with their batch index b_c, queries with their wave, and
    the per-wave crossJoins collapse into a single broadcast join on
    wave >= b_c (wave b's corpus is exactly the blocks appended up to
    b). One window partitioned by (wave, query_id) and one groupBy
    replace 3 window shuffles and 3 aggregates; each checkpointed
    block is scanned ONCE instead of once per wave it appears in
    (3n rows read instead of 6n). Per-(wave, query) window contents and
    ordering are unchanged, so every rank — and the output rows — are
    identical. r15 (opt, guide §4.2 + §5): pairwise truth scoring is
    ONE vectorized Arrow pass + explode instead of 5-15 interpreted
    ``aggregate(zip_with())`` folds per corpus point (bit-identical —
    ``_pairwise_wave_scores``), and each memoized relation's lineage
    is built INSIDE its memo builder, so warm calls skip the py4j
    re-derivation entirely."""
    from functools import reduce

    from pyspark.sql import Window as W

    crows = _frozen_cents(spark, sf_dir)  # FROZEN quantizer, driver rows
    # driver-held scalars (the MLlib-centroids class): the re-key offset
    # (wave 1: +off, wave 2: +2·off — disjoint at any SF) and the batch
    # size — each batch is a 1:1 transform of cand0, so wave b's corpus
    # is exactly (b+1)·n_cand rows with no per-wave count job
    off_v, n_cand = _recall_scalars(spark, sf_dir)
    # encode-only: assign each BATCH, checkpoint it once per session
    # (cachemgr releases the blocks at clear_caches), grow lazily
    a_parts = _append_assigns(spark, sf_dir, crows)
    # probe cells are a tiny per-query projection — wave-tagged union,
    # checkpointed once per session
    probed_all = _wave_probed(
        spark, sf_dir, ("recall_probed_all", sf_dir), crows, "cell", "in_probe"
    )
    # FUSED truth+IVF pass over ALL waves (r13 verdict #4 + r14 opt):
    # corpus block b_c joins every wave >= b_c, so one broadcast join
    # reproduces each wave's prefix-union corpus while scanning each
    # checkpointed block once. The crossJoin rows carry the point's
    # assigned cell, so "would the IVF probe see this point" is a
    # broadcast (wave, query_id, cell) lookup — in_probe — not a second
    # corpus-sized join, and every dot product is computed ONCE.
    # Both ranks come from the SAME window order: truth rank is
    # row_number; the IVF rank of an in-probe row is the running
    # count of in-probe rows up to it (identical to row_number
    # over the probe-filtered subset under the same ordering).
    # A hit is then truth_rank<=K ∧ in_probe ∧ ivf_rank<=K, and the
    # old truth⋈ivf recall join collapses into the per-wave aggregate.
    a_all = reduce(
        DataFrame.unionByName,
        (p.withColumn("b_c", F.lit(b)) for b, p in enumerate(a_parts)),
    )
    w = W.partitionBy("wave", "query_id").orderBy(F.desc("cos_sim"), "point_id")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    # r15 (opt, guide §4.2): the broadcast(q_all) join evaluated 5-15
    # interpreted aggregate(zip_with()) folds per corpus point; one
    # Arrow pass + explode produces the identical pair rows (wave
    # membership is the same wave >= b_c predicate, applied post-
    # explode), so window contents/ordering — and the output — are
    # bit-identical (see _pairwise_wave_scores).
    scored = (
        _pairwise_wave_scores(
            a_all.select("point_id", "pv", "pn", "cell", "b_c"),
            _wave_query_rows(spark, sf_dir),
            ["point_id", "cell", "b_c"],
        )
        .filter(F.col("wave") >= F.col("b_c"))
        .join(F.broadcast(probed_all), ["wave", "query_id", "cell"], "left")
        .withColumn("truth_rank", F.row_number().over(w))
        .withColumn(
            "ivf_rank", F.sum(F.coalesce("in_probe", F.lit(0))).over(w_run)
        )
        .filter(F.col("truth_rank") <= TOP_K)
    )
    return (
        scored.groupBy("wave")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(
                ((F.col("in_probe") == 1) & (F.col("ivf_rank") <= TOP_K)).cast(
                    "long"
                )
            )
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            F.col("wave").cast("int").alias("batch"),
            ((F.col("wave").cast("bigint") + 1) * F.lit(n_cand))
            .cast("bigint")
            .alias("corpus_n"),
            F.col("k").cast("bigint").alias("k"),
            "n_hits",
            F.expr("(n_hits * 10000) div k").alias("recall_bp"),
        )
    )


# Deterministic recrawl cohorts over the candidate ids: vec_id%5==0
# re-crawls with CHANGED content (dimension-reversed vector — a genuinely
# different direction, trivially reproducible in SQL), vec_id%7==3 is
# GONE (tombstoned at a later generation; ids in both cohorts end up
# deleted — latest generation wins).
RECRAWL_CHANGED_MOD = 5
RECRAWL_DELETED_MOD = 7
RECRAWL_DELETED_RES = 3


def ann_index_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE/SUPERSEDE crawl loop driven END-TO-END through the
    PERSISTED ANN index — the gate member for ``supersede_ann_index`` /
    ``delete_ann_index_ids`` / the effective view in
    ``_load_index_relation`` / tombstone-dropping ``compact_ann_index``
    (mirrors ``ann_index_crawl``, which pins the append-only loop, and
    ``band_index_recrawl`` on the band side).

    Shape: the full-corpus index is saved to a recrawl-only root; a
    re-crawl then finds every vec_id%5==0 candidate CHANGED (vector
    dimensions reversed) — superseded at gen 1 with the SAVED
    quantizers — and every vec_id%7==3 candidate GONE — tombstoned at
    gen 2 (ids in both cohorts: the tombstone wins). Phases 1-2 serve
    IVF and PQ top-k from the EFFECTIVE view (latest-generation-wins
    over base + delta batches + tombstones); phases 3-4 re-serve both
    paths from the RAW post-compaction relations with no effective-view
    logic at all. Equal phase pairs pin both the merge and the physical
    drop: a stale old-generation vector surviving compaction would
    re-enter the raw top-k and flip phases 3-4. The DuckDB oracle
    recomputes assignment, codes, and both probes over the effective
    corpus from the SAVED (original-corpus-trained) quantizers.

    Scale shape: identical to the other persisted probes — the
    effective-view merge touches only the batch-sized delta marks
    (broadcast anti join; the index never shuffles), and compaction
    restores the delta-free path."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        hadoop_list_dirs,
    )

    base = _ann_index_root(spark, sf_dir)
    root = base + "_recrawl_" + _session_tag(spark)
    # reap ALL foreign recrawl roots — safe under the single-writer-
    # per-warehouse contract (see ann_index_crawl)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    prefix = (base + "_recrawl_").rstrip("/").split("/")[-1]
    for sub in hadoop_list_dirs(spark, wh):
        if sub.rstrip("/").split("/")[-1].startswith(prefix):
            hadoop_delete(spark, sub)
    hadoop_delete(spark, root)  # idempotent re-runs
    save_ann_index(spark, sf_dir, root)
    vecs = _vectors(spark, sf_dir)
    cand = F.col("vec_id") >= N_QUERY
    changed = vecs.filter(cand & (F.col("vec_id") % RECRAWL_CHANGED_MOD == 0)).select(
        "vec_id", F.reverse(F.col("v")).alias("v")
    )
    deleted = vecs.filter(
        cand & (F.col("vec_id") % RECRAWL_DELETED_MOD == RECRAWL_DELETED_RES)
    ).select("vec_id")
    # back-to-back mutations: only the last commits meta (one
    # effective-view recount instead of two — r14 opt)
    supersede_ann_index(spark, changed, root, "recrawl_b1", gen=1, write_meta=False)
    delete_ann_index_ids(spark, deleted, root, "recrawl_b2", gen=2)

    cdf = spark.read.parquet(f"{root}/ivf_centroids")
    codebook = spark.read.parquet(f"{root}/pq_codebook")
    assigned = _load_index_relation(spark, root, "ivf_assigned")
    codes = _load_index_relation(spark, root, "pq_codes")

    qs = _query_side(spark, sf_dir)  # local memoized rows - no corpus scan (r15)
    probed = _nearest_cells(cdf, qs, "qv", "qn", "query_id", N_PROBES)
    cells = [r["cell"] for r in probed.select("cell").distinct().collect()]

    # the exact rerank must resolve EFFECTIVE vectors: unchanged
    # candidates keep their corpus vector, changed ones the reversed
    # vector, deleted ones none
    is_changed = F.col("vec_id") % RECRAWL_CHANGED_MOD == 0
    eff_cn = (
        vecs.filter(cand)
        .filter(F.col("vec_id") % RECRAWL_DELETED_MOD != RECRAWL_DELETED_RES)
        .select(
            F.col("vec_id").alias("point_id"),
            F.when(is_changed, F.reverse(F.col("v"))).otherwise(F.col("v")).alias("cv"),
        )
        .withColumn("cn", _norm(F.col("cv")))
    )

    ivf = _ivf_topk(
        spark,
        sf_dir,
        N_PROBES,
        cdf=cdf,
        assigned=assigned.filter(F.col("cell").isin(cells)),
        probed=probed,
    )
    pq = _pq_rerank(
        spark,
        sf_dir,
        _pq_adc(spark, sf_dir, codes=codes, cdf=codebook),
        cand_vecs=eff_cn,
    )
    null_d = F.lit(None).cast("double")

    def _tag(df: DataFrame, phase: int) -> DataFrame:
        cols = (
            [null_d.alias("approx_sim")]
            if "approx_sim" not in df.columns
            else [F.col("approx_sim")]
        )
        return df.select(
            F.lit(phase).alias("phase"),
            "query_id",
            "neighbor_id",
            *cols,
            "cos_sim",
            "rank",
        )

    # phases 1-2 read the pre-compaction layout; materialize BEFORE
    # compaction deletes the delta/tombstone paths
    out12 = _tag(ivf, 1).unionAll(_tag(pq, 2)).localCheckpoint(eager=True)

    compact_ann_index(spark, root)
    assigned_c = spark.read.parquet(f"{root}/ivf_assigned")
    codes_c = spark.read.parquet(f"{root}/pq_codes")
    ivf3 = _ivf_topk(
        spark,
        sf_dir,
        N_PROBES,
        cdf=cdf,
        assigned=assigned_c.filter(F.col("cell").isin(cells)),
        probed=probed,
    )
    pq4 = _pq_rerank(
        spark,
        sf_dir,
        _pq_adc(spark, sf_dir, codes=codes_c, cdf=codebook),
        cand_vecs=eff_cn,
    )
    return out12.unionAll(_tag(ivf3, 3)).unionAll(_tag(pq4, 4))


def _session_tag(spark: SparkSession) -> str:
    """A filesystem-safe per-session suffix (the Spark application id)
    — namespaces crawl-owned index roots so two sessions sharing a
    warehouse never mutate the same directory."""
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId)


def ann_retrain_decision_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate member for the RETRAIN policy (r13 verdict #2): run the two
    index-health gauges — ``ann_index_stats`` (cost: hottest cell's
    corpus share) and ``ann_recall_after_append`` (recall: worst append
    wave) — then replay ``ann_retrain_decision`` under FOUR threshold
    scenarios so both policy branches are value-pinned at every SF:

    1. never fires (max_cell 10001, min_recall 0) — healthy verdict;
    2. cell-skew branch fires (max_cell = hottest − 1);
    3. recall-drift branch fires (min_recall = worst + 1);
    4. the operational defaults (RETRAIN_MAX_CELL_SHARE_BP /
       RETRAIN_MIN_RECALL_BP).

    Derived thresholds (2, 3) make the firing branches deterministic
    at any scale factor without assuming the gauges' values; the
    DuckDB oracle recomputes the same gauges from the trained
    trajectory and replays the same four scenarios. The gauges are
    aggregate-sized collects (cells / 3 waves); the decision itself is
    driver arithmetic — the policy's documented shape. The collected
    gauge rows are session-memoized (driver-held, a dozen rows): a
    warm re-run replays the thresholds without re-running either
    gauge plan."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    stats_rows, recall_rows = shared_value(
        spark,
        ("retrain_gauge_rows", sf_dir),
        lambda: (
            ann_index_stats(spark, sf_dir).collect(),
            ann_recall_after_append(spark, sf_dir).collect(),
        ),
    )
    hottest = max(int(r["share_bp"]) for r in stats_rows)
    worst = min(int(r["recall_bp"]) for r in recall_rows)
    scenarios = [
        (1, 10001, 0),
        (2, hottest - 1, 0),
        (3, 10001, worst + 1),
        (4, RETRAIN_MAX_CELL_SHARE_BP, RETRAIN_MIN_RECALL_BP),
    ]
    rows = []
    for s, mc, mr in scenarios:
        dec = ann_retrain_decision(stats_rows, recall_rows, mc, mr)
        rows.append((
            s, mc, mr,
            dec["hottest_cell_share_bp"], dec["worst_wave_recall_bp"],
            dec["retrain"], ",".join(dec["reasons"]),
        ))
    return spark.createDataFrame(
        rows,
        "scenario int, max_cell_share_bp bigint, min_recall_bp bigint, "
        "hottest_cell_share_bp bigint, worst_wave_recall_bp bigint, "
        "retrain boolean, reasons string",
    )


def ann_retrain_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain decision ACTED ON — the last step of the index-
    lifecycle story (measure: ``ann_index_stats`` /
    ``ann_recall_after_append``; decide: ``ann_retrain_decision``;
    act: HERE): train a FRESH coarse quantizer over the GROWN corpus
    (original candidates + both append waves, same transforms and
    re-key offsets as the recall-drift audit), then measure per-wave
    recall over the full grown corpus under BOTH quantizers. Output:
    one row per query wave with the corpus size, truth size, and the
    frozen vs retrained recall in basis points — the measured A/B an
    operator weighs against the retrain cost. (The number can go
    EITHER way: at operating points where the frozen quantizer's
    drift is mild — the decision member's default scenario not firing
    — the A/B showing retrain ≈ neutral is the policy VALIDATED, not
    the member failing.)

    Scale shape: retraining is the one full-corpus k-means the policy
    exists to schedule (same distributed Lloyd plan as the original
    train — centroids driver-held like MLlib); both assignments are
    encode-only passes checkpointed once per session (the frozen
    per-batch blocks are SHARED with the recall-drift audit via the
    same cache keys); the before/after probe is the recall audit's
    fused single-scan pass with TWO in-probe flags — the three query
    waves are wave-tagged and probed in ONE corpus scan, one window,
    one groupBy (r14 opt: was one scan per wave), every dot product
    computed once. r15 (opt, guide §4.2 + §5): the pairwise truth
    scoring is ONE vectorized Arrow pass + explode instead of 15
    interpreted ``aggregate(zip_with())`` folds per corpus point
    (bit-identical — ``_pairwise_wave_scores``), and every memoized
    relation's lineage is now built INSIDE its memo builder, so a
    warm call costs ~0.2 s of plan construction instead of ~1 s of
    py4j re-derivation that was immediately discarded on memo hit."""
    from functools import reduce

    from pyspark.sql import Window as W

    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    crows_fr = _frozen_cents(spark, sf_dir)  # frozen quantizer, driver rows
    off_v, n_cand = _recall_scalars(spark, sf_dir)

    def grown() -> DataFrame:
        return reduce(
            DataFrame.unionByName,
            (_pts_of(b) for b in _append_batches(spark, sf_dir, off_v)),
        )

    # retrain: fresh Lloyd trajectory over the grown corpus (driver-
    # held centroids; seeds are the same lowest-id originals, so the
    # DuckDB oracle replays the identical trajectory)
    rt_cents = shared_value(
        spark,
        ("retrain_cents", sf_dir),
        lambda: _kmeans_over(spark, grown(), N_CENTROIDS),
    )
    crows_rt = [(cid, cv, _py_norm(cv)) for cid, cv in rt_cents]
    # frozen assignment: the recall audit's per-batch checkpoints,
    # shared via the same cache keys; retrained assignment: one
    # encode-only pass over the grown corpus, checkpointed once
    a_joint = shared_value(
        spark,
        ("retrain_joint_assign", sf_dir),
        lambda: reduce(
            DataFrame.unionByName, _append_assigns(spark, sf_dir, crows_fr)
        )
        .select("point_id", "pv", "pn", F.col("cell").alias("cell_fr"))
        .join(
            _nearest_cells(
                None, grown(), "pv", "pn", "point_id", 1, cents=crows_rt
            ).select("point_id", F.col("cell").alias("cell_rt")),
            "point_id",
        )
        .localCheckpoint(eager=True),
    )
    pf_all = _wave_probed(
        spark, sf_dir, ("retrain_pf_all", sf_dir), crows_fr, "cell_fr", "in_fr"
    )
    pr_all = _wave_probed(
        spark, sf_dir, ("retrain_pr_all", sf_dir), crows_rt, "cell_rt", "in_rt"
    )
    w = W.partitionBy("wave", "query_id").orderBy(F.desc("cos_sim"), "point_id")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    scored = (
        _pairwise_wave_scores(
            a_joint,
            _wave_query_rows(spark, sf_dir),
            ["point_id", "cell_fr", "cell_rt"],
        )
        .join(F.broadcast(pf_all), ["wave", "query_id", "cell_fr"], "left")
        .join(F.broadcast(pr_all), ["wave", "query_id", "cell_rt"], "left")
        .select(
            "*",
            F.row_number().over(w).alias("truth_rank"),
            F.sum(F.coalesce("in_fr", F.lit(0))).over(w_run).alias("fr_rank"),
            F.sum(F.coalesce("in_rt", F.lit(0))).over(w_run).alias("rt_rank"),
        )
        .filter(F.col("truth_rank") <= TOP_K)
    )
    return (
        scored.groupBy("wave")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(
                ((F.col("in_fr") == 1) & (F.col("fr_rank") <= TOP_K)).cast(
                    "long"
                )
            )
            .cast("bigint")
            .alias("hits_fr"),
            F.sum(
                ((F.col("in_rt") == 1) & (F.col("rt_rank") <= TOP_K)).cast(
                    "long"
                )
            )
            .cast("bigint")
            .alias("hits_rt"),
        )
        .select(
            F.col("wave").cast("int").alias("batch"),
            F.lit(3 * n_cand).cast("bigint").alias("corpus_n"),
            F.col("k").cast("bigint").alias("k"),
            F.expr("(hits_fr * 10000) div k").alias("recall_frozen_bp"),
            F.expr("(hits_rt * 10000) div k").alias("recall_retrained_bp"),
        )
    )


def ann_index_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate member for the ANN family's COMPACTION-PRESSURE policy —
    the vector twin of ``band_index_pressure`` (r13 verdict #3: the
    band side had a gate member, the ANN side was pytest+pipeline
    only). Drive the recrawl cohorts into a pressure-only persisted
    index (supersede vec_id%5==0 at gen 1 with reversed vectors,
    tombstone vec_id%7==3 at gen 2 — the ~31% touched cohort exceeds
    the default 10% policy at every SF), measure the delta/base
    pressure, run ``maybe_compact_ann_index`` — it MUST fire — and
    measure again. Stage 1 pins the observed pressure (delta ids = the
    touched cohort, base ids = all candidates); stage 2 pins the
    enforcement (delta drained, pressure 0, base = the effective
    corpus: candidates minus the tombstoned cohort). The DuckDB oracle
    recomputes both stages from the id cohorts alone — the pressure
    contract is pure counting.

    Scale shape: the pressure probe is parquet-metadata counts plus
    one distinct over the batch-sized marks; compaction is the one
    full rewrite the policy exists to schedule."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        hadoop_list_dirs,
    )

    base = _ann_index_root(spark, sf_dir)
    root = base + "_pressure_" + _session_tag(spark)
    # reap ALL foreign pressure roots — safe under the single-writer-
    # per-warehouse contract (see ann_index_crawl)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    prefix = (base + "_pressure_").rstrip("/").split("/")[-1]
    for sub in hadoop_list_dirs(spark, wh):
        if sub.rstrip("/").split("/")[-1].startswith(prefix):
            hadoop_delete(spark, sub)
    hadoop_delete(spark, root)  # idempotent re-runs
    save_ann_index(spark, sf_dir, root)
    vecs = _vectors(spark, sf_dir)
    cand = F.col("vec_id") >= N_QUERY
    changed = vecs.filter(cand & (F.col("vec_id") % RECRAWL_CHANGED_MOD == 0)).select(
        "vec_id", F.reverse(F.col("v")).alias("v")
    )
    deleted = vecs.filter(
        cand & (F.col("vec_id") % RECRAWL_DELETED_MOD == RECRAWL_DELETED_RES)
    ).select("vec_id")
    # back-to-back mutations: only the last commits meta (one
    # effective-view recount instead of two — r14 opt)
    supersede_ann_index(spark, changed, root, "pressure_b1", gen=1, write_meta=False)
    delete_ann_index_ids(spark, deleted, root, "pressure_b2", gen=2)
    p1 = ann_index_pressure_stats(spark, root)
    # p1 measured the exact state maybe_compact would re-measure —
    # pass it through (r14 opt: one stats pass instead of two)
    dec = maybe_compact_ann_index(spark, root, stats=p1)
    p2 = ann_index_pressure_stats(spark, root)
    rows = [
        (1, p1["base_ids"], p1["delta_ids"], p1["pressure_bp"], False),
        (2, p2["base_ids"], p2["delta_ids"], p2["pressure_bp"], dec["compacted"]),
    ]
    return spark.createDataFrame(
        rows,
        "stage int, base_ids bigint, delta_ids bigint, pressure_bp bigint, "
        "compacted boolean",
    )


def stream_ann_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate member for the STREAMING ANN index maintainer
    (``streaming.stream_ann_index_upsert`` — r13 verdict #6: the
    stateful maintainer that matters at 100 TB had no measured scaling
    number): save the full-corpus index to a member-owned root, drop
    the recrawl cohorts as a crawler's CDC files — batch 0 upserts
    every vec_id%5==0 candidate with its dimension-reversed vector
    (gen 1), batch 1 deletes every vec_id%7==3 candidate (gen 2) —
    drain the availableNow stream, then serve IVF top-k from the
    EFFECTIVE view. The result must equal ``ann_index_recrawl``'s
    phase 1 exactly (same cohorts, same transforms, generations
    assigned by micro-batch id instead of explicit arguments), so the
    oracle recomputes assignment and probe over the effective corpus
    from the saved quantizers.

    The change files are driver-written fixtures (a crawler's drop
    files are batch-sized by definition); the maintainer itself is the
    distributed path under test — per-batch centroid scoring + PQ
    encode through the SAVED quantizers, per-tag overwrite
    subdirectories, meta recomputed from the effective view. Scale
    shape: per-batch work is batch-sized; the final probe is the
    standard cell-gated join."""
    import json as _json
    import os
    import shutil
    import tempfile

    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_delete,
        hadoop_list_dirs,
    )

    base = _ann_index_root(spark, sf_dir)
    root = base + "_streamidx_" + _session_tag(spark)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    prefix = (base + "_streamidx_").rstrip("/").split("/")[-1]
    for sub in hadoop_list_dirs(spark, wh):
        if sub.rstrip("/").split("/")[-1].startswith(prefix):
            hadoop_delete(spark, sub)
    hadoop_delete(spark, root)  # idempotent re-runs
    save_ann_index(spark, sf_dir, root)

    vecs = _vectors(spark, sf_dir)
    cand = F.col("vec_id") >= N_QUERY
    changed = vecs.filter(cand & (F.col("vec_id") % RECRAWL_CHANGED_MOD == 0)).select(
        "vec_id", F.reverse(F.col("v")).alias("v")
    )
    deleted = vecs.filter(
        cand & (F.col("vec_id") % RECRAWL_DELETED_MOD == RECRAWL_DELETED_RES)
    ).select("vec_id")

    src = tempfile.mkdtemp(prefix="gdif_annstream_src_")
    ckpt = tempfile.mkdtemp(prefix="gdif_annstream_ckpt_")
    try:
        with open(f"{src}/00_upserts.json", "w") as fh:
            for r in changed.collect():
                fh.write(_json.dumps(
                    {"vec_id": r["vec_id"], "embedding": list(r["v"]),
                     "op": "upsert"}
                ) + "\n")
        with open(f"{src}/01_deletes.json", "w") as fh:
            for r in deleted.collect():
                fh.write(_json.dumps(
                    {"vec_id": r["vec_id"], "embedding": [], "op": "delete"}
                ) + "\n")
        # micro-batch order IS the generation order: pin it via mtime
        # (the file source picks oldest-first), one file per trigger
        now = os.path.getmtime(f"{src}/00_upserts.json")
        os.utime(f"{src}/00_upserts.json", (now - 10, now - 10))
        os.utime(f"{src}/01_deletes.json", (now, now))

        from pyspark.sql import types as T

        from generic_data_ingestor_framework_spark.streaming import (
            stream_ann_index_upsert,
        )

        schema = T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("op", T.StringType()),
        ])
        stream_ann_index_upsert(spark, src, root, ckpt, schema)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    cdf = spark.read.parquet(f"{root}/ivf_centroids")
    assigned = _load_index_relation(spark, root, "ivf_assigned")
    qs = _query_side(spark, sf_dir)  # local memoized rows - no corpus scan (r15)
    probed = _nearest_cells(cdf, qs, "qv", "qn", "query_id", N_PROBES)
    cells = [r["cell"] for r in probed.select("cell").distinct().collect()]
    return _ivf_topk(
        spark,
        sf_dir,
        N_PROBES,
        cdf=cdf,
        assigned=assigned.filter(F.col("cell").isin(cells)),
        probed=probed,
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "embed_quantize_int8": embed_quantize_int8,
    "embed_norms": embed_norms,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "label_centroid_dims": label_centroid_dims,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_quantized_rerank": ann_quantized_rerank,
    "ann_recall_report": ann_recall_report,
    "ann_probe_tradeoff": ann_probe_tradeoff,
    "dedup_embedding_pairs": dedup_embedding_pairs,
    "dedup_semantic_clusters": dedup_semantic_clusters,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
    "ann_pq_recall": ann_pq_recall,
    "ann_ivf_persisted": ann_ivf_persisted,
    "ann_pq_persisted": ann_pq_persisted,
    "ann_index_crawl": ann_index_crawl,
    "ann_index_stats": ann_index_stats,
    "ann_index_recrawl": ann_index_recrawl,
    "ann_recall_after_append": ann_recall_after_append,
    "ann_retrain_decision": ann_retrain_decision_member,
    "ann_retrain_execute": ann_retrain_execute,
    "ann_index_pressure": ann_index_pressure,
    "stream_ann_index_maintain": stream_ann_index_maintain,
}

_DOT = """list_reduce(list_transform(range(1, len({a}) + 1),
            i -> {a}[i] * {b}[i]), (acc, x) -> acc + x)"""

_NORM = """sqrt(list_reduce(list_transform(range(1, len({a}) + 1),
            i -> {a}[i] * {a}[i]), (acc, x) -> acc + x))"""

# Native twins for the oracle's HOT loops (the SemDeDup k-means replay
# evaluates ~312M dots at sf1): DuckDB's list_dot_product is the same
# sequential left-to-right sum without the per-pair list_transform
# allocation — verified bit-identical to the fold forms over the full
# sf1 corpus (0/6M pair mismatches, 0/50k norm mismatches) and
# re-proven end-to-end by every gate hash. The documented fold forms
# remain the reference semantics for all other oracles.
_DOT_FAST = "list_dot_product({a}, {b})"
_NORM_FAST = "sqrt(list_dot_product({a}, {a}))"


def _sim_sql(a: str, b: str) -> str:
    return f"round({_DOT.format(a=a, b=b)} / ({_NORM.format(a=a)} * {_NORM.format(a=b)}), 6)"


def _kmeans_ctes(
    k_sql: str = str(N_CENTROIDS), corpus: str = "vecs", sfx: str = ""
) -> str:
    """The Lloyd-iteration trajectory of ``_kmeans_centroids`` as
    chained DuckDB CTEs (assign → per-dim rounded mean → carry empty
    cells forward), generated for N_KMEANS_ITERS iterations. ``k_sql``
    is the cell-count expression — the IVF oracles use the constant,
    the SemDeDup oracle passes a scalar subquery over ``kparam`` so k
    scales with the corpus exactly like the engine. ``corpus``/``sfx``
    let the retrain oracle hold a SECOND trajectory (trained over the
    grown corpus) in the same WITH without name collisions."""
    # Per-pair cost discipline (the SemDeDup oracle's k grows to ~1.5k
    # cells at sf1 → ~78M point×centroid sims PER ITERATION): point
    # norms are hoisted into `cand` ONCE (iteration-invariant),
    # centroid norms once per iteration, and the per-point argmax is a
    # HASH AGGREGATE — max(struct(sim, -centroid_id)) reproduces
    # `ORDER BY sim DESC, centroid_id` exactly (integer negation is
    # exact; sim is already 6-dp rounded) without sorting the 78M-row
    # stream. Values are identical to the window form; the sf1 check
    # dropped from ~128 s to the cost of the dots themselves.
    parts = [
        f"""cand{sfx} AS MATERIALIZED (
          SELECT vec_id AS point_id, v AS pv, {_NORM_FAST.format(a='v')} AS pn
          FROM {corpus} WHERE vec_id >= {N_QUERY})""",
        f"""cent{sfx}0 AS MATERIALIZED (
          SELECT CAST(vec_id - {N_QUERY} AS INT) AS centroid_id, v AS cv,
                 {_NORM_FAST.format(a='v')} AS cn
          FROM {corpus} WHERE vec_id >= {N_QUERY} AND vec_id < {N_QUERY} + ({k_sql}))""",
    ]
    for k in range(1, N_KMEANS_ITERS + 1):
        prev = f"cent{sfx}{k - 1}"
        parts.append(f"""assign{sfx}{k} AS MATERIALIZED (
          SELECT -p.pick.nc AS cell, c.pv FROM (
            SELECT c.point_id,
                   max(struct_pack(s := round({_DOT_FAST.format(a='c.pv', b='s.cv')}
                         / (c.pn * s.cn), 6),
                       nc := -s.centroid_id)) AS pick
            FROM cand{sfx} c, {prev} s GROUP BY c.point_id) p
          JOIN cand{sfx} c USING (point_id))""")
        parts.append(f"""newc{sfx}{k} AS MATERIALIZED (
          SELECT cell AS centroid_id, list(val ORDER BY pos) AS cv FROM (
            SELECT cell, i AS pos, round(avg(pv[i]), 3) AS val
            FROM (SELECT cell, pv, unnest(range(1, len(pv) + 1)) AS i FROM assign{sfx}{k})
            GROUP BY cell, i)
          GROUP BY cell)""")
        parts.append(f"""cent{sfx}{k} AS MATERIALIZED (
          SELECT centroid_id, cv, {_NORM_FAST.format(a='cv')} AS cn FROM (
            SELECT p.centroid_id, coalesce(n.cv, p.cv) AS cv
            FROM {prev} p LEFT JOIN newc{sfx}{k} n ON n.centroid_id = p.centroid_id))""")
    return ",\n        ".join(parts)


_CENT_FINAL = f"cent{N_KMEANS_ITERS}"

_ASSIGNED_CTE = f"""
        assigned AS MATERIALIZED (
          SELECT c.point_id, c.pv, c.pn, -p.pick.nc AS cell FROM (
            SELECT c.point_id,
                   max(struct_pack(s := round({_DOT_FAST.format(a='c.pv', b='s.cv')}
                         / (c.pn * s.cn), 6),
                       nc := -s.centroid_id)) AS pick
            FROM cand c, {_CENT_FINAL} s GROUP BY c.point_id) p
          JOIN cand c USING (point_id))"""


def _ivf_probe_ctes(n_probes: int, sfx: str = "", assigned_rel: str = "assigned") -> str:
    """probed/ivf CTE pair for one probe count (suffixed so the
    tradeoff oracle can hold the whole sweep in one WITH;
    ``assigned_rel`` lets the crawl oracle probe the batch-grown
    assignment instead of the base one)."""
    return f"""
        probed{sfx} AS MATERIALIZED (
          SELECT query_id, qv, cell FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, s.centroid_id AS cell,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {_sim_sql('q.v', 's.cv')} DESC, s.centroid_id) AS rn
            FROM vecs q, {_CENT_FINAL} s WHERE q.vec_id < {N_QUERY}) WHERE rn <= {n_probes}),
        ivf{sfx} AS MATERIALIZED (
          SELECT query_id, probe_centroid, neighbor_id, cos_sim, rank FROM (
            SELECT p.query_id, a.cell AS probe_centroid, a.point_id AS neighbor_id,
                   {_sim_sql('p.qv', 'a.pv')} AS cos_sim,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY {_sim_sql('p.qv', 'a.pv')} DESC, a.point_id) AS rank
            FROM probed{sfx} p JOIN {assigned_rel} a ON p.cell = a.cell)
          WHERE rank <= {TOP_K})"""


_IVF_TAIL = _ASSIGNED_CTE + "," + _ivf_probe_ctes(N_PROBES)

def _emb_bucket_sql(band: int) -> str:
    terms = []
    for p in range(EMB_PLANES_PER_BAND):
        plane = EMB_PLANES_PER_BAND * band + p
        terms.append(
            f"""(CASE WHEN list_reduce(list_transform(range(1, len(v) + 1),
                i -> v[i] * CAST((7 * {plane} + 11 * (i - 1)) % 13 - 6 AS DOUBLE)),
                (acc, x) -> acc + x) > 0 THEN {2 ** p} ELSE 0 END)"""
        )
    return " + ".join(terms)


_EMB_BANDED_CTE = "\n          UNION ALL\n".join(
    f"          SELECT vec_id, v, {b} AS band, CAST({_emb_bucket_sql(b)} AS INT) AS bucket FROM vecs"
    for b in range(EMB_BANDS)
)

_EXACT_CTE = f"""
        exact AS MATERIALIZED (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY {_sim_sql('q.v', 'c.v')} DESC, c.vec_id) AS rank
            FROM vecs q, vecs c
            WHERE q.vec_id < {N_QUERY} AND c.vec_id >= {N_QUERY})
          WHERE rank <= {TOP_K})"""

_TRADEOFF_UNION = "\n          UNION ALL\n".join(
    f"""          SELECT CAST({p} AS INT) AS n_probes, count(*) AS total_k,
                 CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_hits
          FROM exact e LEFT JOIN ivf_{p} i
            ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id"""
    for p in PROBE_GRID
)

_L2 = """round(list_reduce(list_transform(range(1, len({a}) + 1),
            i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (acc, x) -> acc + x), 6)"""


def _pq_sub_union(id_expr: str, pred: str, rel: str = "vecs") -> str:
    """UNION ALL of the M subvector slices (DuckDB 1-based inclusive
    slicing; ds = len(v) // PQ_M, mirroring ``_sub_rel``). ``rel``
    overrides the source relation (the recrawl oracle slices the
    EFFECTIVE vector set instead of the corpus)."""
    ds = f"(len(v) // {PQ_M})"
    return "\n          UNION ALL\n".join(
        f"          SELECT {id_expr}, {m} AS m, "
        f"v[({m} * {ds} + 1):({m + 1} * {ds})] AS sv FROM {rel} WHERE {pred}"
        for m in range(PQ_M)
    )


def _pq_train_parts() -> list[str]:
    """The saved-quantizer prefix of the PQ oracle chain — the Lloyd
    trajectory, the base-corpus codes, the query LUT and the norms —
    shared by the per-session members (via ``_pq_ctes``) and the
    crawl oracle, which extends it with the appended batch's codes
    encoded against the SAME final codebooks."""
    parts = [
        f"""psub AS MATERIALIZED (
{_pq_sub_union("vec_id AS point_id", f"vec_id >= {N_QUERY}")}
        )""",
        f"""qsub AS MATERIALIZED (
{_pq_sub_union("vec_id AS query_id", f"vec_id < {N_QUERY}")}
        )""",
        f"""pcent0 AS MATERIALIZED (
          SELECT m, CAST(point_id - {N_QUERY} AS INT) AS j, sv AS cv
          FROM psub WHERE point_id < {N_QUERY} + {PQ_K})""",
    ]
    for k in range(1, PQ_ITERS + 1):
        prev = f"pcent{k - 1}"
        parts.append(f"""passn{k} AS MATERIALIZED (
          SELECT m, cell, sv FROM (
            SELECT s.m, s.sv, c.j AS cell,
                   row_number() OVER (PARTITION BY s.point_id, s.m
                     ORDER BY {_L2.format(a='s.sv', b='c.cv')}, c.j) AS rn
            FROM psub s JOIN {prev} c ON s.m = c.m) WHERE rn = 1)""")
        parts.append(f"""pnew{k} AS MATERIALIZED (
          SELECT m, cell AS j, list(val ORDER BY pos) AS cv FROM (
            SELECT m, cell, i AS pos, round(avg(sv[i]), 3) AS val
            FROM (SELECT m, cell, sv, unnest(range(1, len(sv) + 1)) AS i FROM passn{k})
            GROUP BY m, cell, i)
          GROUP BY m, cell)""")
        parts.append(f"""pcent{k} AS MATERIALIZED (
          SELECT p.m, p.j, coalesce(n.cv, p.cv) AS cv
          FROM {prev} p LEFT JOIN pnew{k} n ON n.m = p.m AND n.j = p.j)""")
    fin = f"pcent{PQ_ITERS}"
    parts.append(f"""codes AS MATERIALIZED (
          SELECT point_id, m, cell AS code FROM (
            SELECT s.point_id, s.m, c.j AS cell,
                   row_number() OVER (PARTITION BY s.point_id, s.m
                     ORDER BY {_L2.format(a='s.sv', b='c.cv')}, c.j) AS rn
            FROM psub s JOIN {fin} c ON s.m = c.m) WHERE rn = 1)""")
    parts.append(f"""lut AS MATERIALIZED (
          SELECT q.query_id, c.m, c.j,
                 CAST(round({_DOT.format(a='q.sv', b='c.cv')} * 1e6) AS BIGINT) AS pdot_i
          FROM qsub q JOIN {fin} c ON q.m = c.m)""")
    parts.append(f"""nrms AS MATERIALIZED (
          SELECT vec_id, v, {_NORM.format(a='v')} AS nrm FROM vecs)""")
    return parts


def _pq_ctes(adc_gate: str = "") -> str:
    """The per-subspace Lloyd trajectory of ``_pq_codebooks`` plus the
    encode → LUT → ADC → shortlist → rerank chain of ``ann_pq_topk``,
    as chained DuckDB CTEs ending in ``pq`` (rank ≤ TOP_K rows).
    ``adc_gate`` injects an extra JOIN into the ADC scan (the IVF-PQ
    oracle passes the probed-cell gate, mirroring ``_pq_adc``)."""
    parts = _pq_train_parts()
    parts.append(f"""adc AS MATERIALIZED (
          SELECT l.query_id, c.point_id, SUM(l.pdot_i) AS adot_i
          FROM codes c JOIN lut l ON l.m = c.m AND l.j = c.code
          {adc_gate}
          GROUP BY 1, 2)""")
    parts.append(f"""short AS MATERIALIZED (
          SELECT * FROM (
            SELECT a.query_id, a.point_id,
                   round(a.adot_i / 1e6 / (nq.nrm * nc.nrm), 6) AS approx_sim,
                   nq.v AS qv, nc.v AS cv, nq.nrm AS qn, nc.nrm AS cn,
                   row_number() OVER (PARTITION BY a.query_id
                     ORDER BY round(a.adot_i / 1e6 / (nq.nrm * nc.nrm), 6) DESC,
                              a.point_id) AS rn1
            FROM adc a JOIN nrms nq ON nq.vec_id = a.query_id
                       JOIN nrms nc ON nc.vec_id = a.point_id)
          WHERE rn1 <= {TOP_K * PQ_RERANK})""")
    parts.append(f"""pq AS (
          SELECT query_id, point_id AS neighbor_id, approx_sim,
                 round({_DOT.format(a='qv', b='cv')} / (qn * cn), 6) AS cos_sim,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY round({_DOT.format(a='qv', b='cv')} / (qn * cn), 6) DESC,
                            point_id) AS rnk
          FROM short)""")
    return ",\n        ".join(parts)


ORACLES = {
    "ann_quantized_rerank": f"""
        WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        base AS (
          SELECT vec_id, v,
                 greatest(list_reduce(list_transform(v, x -> abs(x)),
                                      (a, b) -> CASE WHEN a > b THEN a ELSE b END),
                          1e-12) / 127.0 AS sc
          FROM vecs
        ),
        wq AS (
          SELECT vec_id, v, sc,
                 list_transform(v, x -> CAST(round(x / sc) AS INT)) AS q,
                 {_NORM.format(a='v')} AS nrm
          FROM base
        ),
        qs AS (
          SELECT vec_id AS query_id, v AS qv, q AS qq, sc AS qsc, nrm AS qn
          FROM wq WHERE vec_id < {N_QUERY}
        ),
        cs AS (
          SELECT vec_id AS neighbor_id, v AS cv, q AS cq, sc AS csc, nrm AS cn
          FROM wq WHERE vec_id >= {N_QUERY}
        ),
        ph1 AS (
          SELECT query_id, neighbor_id, qv, cv, qn, cn,
                 round(CAST(list_reduce(list_transform(range(1, len(qq) + 1),
                         i -> CAST(qq[i] AS BIGINT) * cq[i]), (a, b) -> a + b)
                       AS BIGINT) * qsc * csc / (qn * cn), 6) AS approx_sim
          FROM cs, qs
        ),
        cand AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY approx_sim DESC, neighbor_id) AS rn1
            FROM ph1) WHERE rn1 <= {TOP_K * RERANK_FACTOR}
        ),
        exact AS (
          SELECT query_id, neighbor_id, approx_sim,
                 {_sim_sql('qv', 'cv')} AS cos_sim
          FROM cand
        )
        SELECT query_id, neighbor_id, approx_sim, cos_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM exact)
        WHERE rn <= {TOP_K}
    """,
    "embed_quantize_int8": """
        WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        base AS (
          SELECT vec_id, v,
                 greatest(list_reduce(list_transform(v, x -> abs(x)),
                                      (a, b) -> CASE WHEN a > b THEN a ELSE b END),
                          1e-12) / 127.0 AS scale
          FROM vecs
        ),
        wq AS (
          SELECT vec_id, v, scale,
                 list_transform(v, x -> CAST(round(x / scale) AS INT)) AS q
          FROM base
        )
        SELECT vec_id,
               CAST(len(v) AS INT) AS n_dims,
               round(scale, 8) AS scale,
               round(list_reduce(list_transform(range(1, len(v) + 1),
                       i -> (v[i] - CAST(q[i] AS DOUBLE) * scale)
                          * (v[i] - CAST(q[i] AS DOUBLE) * scale)),
                     (a, b) -> a + b) / len(v), 10) AS mse,
               CAST(list_reduce(list_transform(q, x -> abs(x)),
                     (a, b) -> CASE WHEN a > b THEN a ELSE b END) AS INT) AS q_max_abs
        FROM wq
    """,
    "ann_probe_tradeoff": f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {_ASSIGNED_CTE},
        {",".join(_ivf_probe_ctes(p, f"_{p}") for p in PROBE_GRID)},
        {_EXACT_CTE}
        SELECT * FROM (
{_TRADEOFF_UNION}
        ) ORDER BY n_probes
    """,
    "ann_pq_topk": f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_pq_ctes()}
        SELECT query_id, neighbor_id, approx_sim, cos_sim, CAST(rnk AS INT) AS rank
        FROM pq WHERE rnk <= {TOP_K}
    """,
    "ann_ivf_pq_topk": f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {_ASSIGNED_CTE},
        probedg AS MATERIALIZED (
          SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, s.centroid_id AS cell,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {_sim_sql('q.v', 's.cv')} DESC, s.centroid_id) AS rn
            FROM vecs q, {_CENT_FINAL} s WHERE q.vec_id < {N_QUERY}) WHERE rn <= {N_PROBES}),
        gate AS MATERIALIZED (
          SELECT p.query_id, a.point_id
          FROM probedg p JOIN assigned a ON p.cell = a.cell),
        {_pq_ctes("JOIN gate g ON g.query_id = l.query_id AND g.point_id = c.point_id")}
        SELECT query_id, neighbor_id, approx_sim, cos_sim, CAST(rnk AS INT) AS rank
        FROM pq WHERE rnk <= {TOP_K}
    """,
    "ann_pq_recall": f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_pq_ctes()},
        exact AS MATERIALIZED (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY {_sim_sql('q.v', 'c.v')} DESC, c.vec_id) AS rnk
            FROM vecs q, vecs c
            WHERE q.vec_id < {N_QUERY} AND c.vec_id >= {N_QUERY})
          WHERE rnk <= {TOP_K})
        SELECT e.query_id, count(*) AS k,
               CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM exact e LEFT JOIN (SELECT query_id, neighbor_id FROM pq WHERE rnk <= {TOP_K}) p
          ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
        GROUP BY e.query_id ORDER BY e.query_id
    """,
    "dedup_semantic_clusters": f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        kparam AS (
          SELECT greatest({N_CENTROIDS},
                          CAST(ceil(count(*) / {SEM_TARGET_CELL}.0) AS INT)) AS k
          FROM vecs WHERE vec_id >= {N_QUERY}
        ),
        {_kmeans_ctes("SELECT k FROM kparam")},
        {_ASSIGNED_CTE}
        SELECT cell, vec_a, vec_b, cos_sim FROM (
          SELECT a.cell AS cell, a.point_id AS vec_a, b.point_id AS vec_b,
                 round({_DOT_FAST.format(a='a.pv', b='b.pv')} / (a.pn * b.pn), 6)
                   AS cos_sim
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.point_id < b.point_id
        ) WHERE cos_sim >= {SEMDEDUP_TAU}
    """,
    "dedup_embedding_pairs": f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        banded_all AS MATERIALIZED (
{_EMB_BANDED_CTE}
        ),
        ok AS MATERIALIZED (
          SELECT band, bucket FROM banded_all
          GROUP BY band, bucket HAVING count(*) <= {EMB_BUCKET_CAP}
        ),
        banded AS MATERIALIZED (
          SELECT b.* FROM banded_all b JOIN ok USING (band, bucket)
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, cos_sim FROM (
          SELECT id_a, id_b,
                 round({_DOT.format(a='x.v', b='y.v')}
                   / ({_NORM.format(a='x.v')} * {_NORM.format(a='y.v')}), 6) AS cos_sim
          FROM cand
          JOIN vecs x ON x.vec_id = id_a
          JOIN vecs y ON y.vec_id = id_b
        ) WHERE cos_sim >= {EMB_DUP_THRESHOLD}
    """,
    "ann_cosine_topk": f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round({_DOT.format(a='q.v', b='c.v')}
                       / ({_NORM.format(a='q.v')} * {_NORM.format(a='c.v')}), 6) AS cos_sim
          FROM vecs q, vecs c
          WHERE q.vec_id < {N_QUERY} AND c.vec_id >= {N_QUERY}
        )
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM scored)
        WHERE rank <= {TOP_K}
    """,
    "embed_norms": f"""
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               round({_NORM.format(a='(embedding::DOUBLE[])')}, 6) AS l2_norm,
               label
        FROM embeddings
    """,
    "label_centroid_dims": """
        WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        idx AS (SELECT label, v, unnest(range(1, len(v) + 1)) AS i FROM e)
        SELECT label, CAST(i - 1 AS INT) AS pos, round(avg(v[i]), 6) AS mean_x
        FROM idx GROUP BY label, i
    """,
    "ann_recall_report": f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {_IVF_TAIL},
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY {_sim_sql('q.v', 'c.v')} DESC, c.vec_id) AS rank
            FROM vecs q, vecs c
            WHERE q.vec_id < {N_QUERY} AND c.vec_id >= {N_QUERY})
          WHERE rank <= {TOP_K}
        )
        SELECT e.query_id, count(*) AS k,
               CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM exact e LEFT JOIN ivf i
          ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
        GROUP BY e.query_id ORDER BY e.query_id
    """,
    "ann_ivf_topk": f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {_IVF_TAIL}
        SELECT query_id, probe_centroid, neighbor_id, cos_sim, rank FROM ivf
    """,
    "ann_lsh_bucketed": f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        bucketed AS (
          SELECT vec_id,
            {" + ".join(
              f'''(CASE WHEN list_reduce(list_transform(range(1, len(v) + 1),
                    i -> v[i] * CAST((7 * {p} + 11 * (i - 1)) % 13 - 6 AS DOUBLE)),
                    (acc, x) -> acc + x) > 0 THEN {2 ** p} ELSE 0 END)'''
              for p in range(N_PLANES))} AS bucket
          FROM vecs
        )
        SELECT CAST(bucket AS INT) AS bucket, count(*) AS n_vectors,
               min(vec_id) AS min_vec_id
        FROM bucketed GROUP BY bucket ORDER BY bucket
    """,
}


# The persisted-index members serve IDENTICAL results to their
# session-built twins (same rounded centroids/codes round-tripped
# through parquet), so they share oracles — the gate then proves the
# save/load path end-to-end, not a weaker shape check.
ORACLES["ann_ivf_persisted"] = ORACLES["ann_ivf_topk"]
ORACLES["ann_pq_persisted"] = ORACLES["ann_pq_topk"]

# The stats oracle recomputes the cell histogram from the same trained
# trajectory the assignment oracles replay; share is integer division
# (exact, no float boundary at any corpus size).
ORACLES["ann_index_stats"] = f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {_ASSIGNED_CTE},
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM assigned)
        SELECT CAST(cell AS INT) AS cell, CAST(count(*) AS BIGINT) AS n_points,
               CAST((count(*) * 10000) // (SELECT n FROM tot) AS BIGINT) AS share_bp
        FROM assigned GROUP BY cell ORDER BY cell
"""

# The crawl oracle recomputes the APPENDED batch's cell assignment and
# PQ codes from the saved quantizers — the same trained trajectory as
# the base oracles (append never retrains), the batch re-keyed by pure
# addition — then replays both probes over the grown relations.
_PQ_TRAIN = ",\n        ".join(_pq_train_parts())
ORACLES["ann_index_crawl"] = f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {_ASSIGNED_CTE},
        bvec AS MATERIALIZED (
          SELECT vec_id + {CRAWL_OFFSET_SQL} AS point_id, v AS pv,
                 {_NORM_FAST.format(a='v')} AS pn
          FROM vecs WHERE vec_id < {N_QUERY}),
        bassign AS (
          SELECT c.point_id, c.pv, c.pn, -p.pick.nc AS cell FROM (
            SELECT c.point_id,
                   max(struct_pack(s := round({_DOT_FAST.format(a='c.pv', b='s.cv')}
                         / (c.pn * s.cn), 6),
                       nc := -s.centroid_id)) AS pick
            FROM bvec c, {_CENT_FINAL} s GROUP BY c.point_id) p
          JOIN bvec c USING (point_id)),
        assigned2 AS (
          SELECT point_id, pv, pn, cell FROM assigned
          UNION ALL SELECT point_id, pv, pn, cell FROM bassign),
        {_ivf_probe_ctes(N_PROBES, assigned_rel="assigned2")},
        {_PQ_TRAIN},
        bsub AS (
{_pq_sub_union(f"vec_id + {CRAWL_OFFSET_SQL} AS point_id", f"vec_id < {N_QUERY}")}
        ),
        bcodes AS (
          SELECT point_id, m, cell AS code FROM (
            SELECT s.point_id, s.m, c.j AS cell,
                   row_number() OVER (PARTITION BY s.point_id, s.m
                     ORDER BY {_L2.format(a='s.sv', b='c.cv')}, c.j) AS rn
            FROM bsub s JOIN pcent{PQ_ITERS} c ON s.m = c.m) WHERE rn = 1),
        codes2 AS (SELECT * FROM codes UNION ALL SELECT * FROM bcodes),
        nrms2 AS (
          SELECT vec_id, v, nrm FROM nrms
          UNION ALL
          SELECT vec_id + {CRAWL_OFFSET_SQL}, v, nrm FROM nrms
          WHERE vec_id < {N_QUERY}),
        adc2 AS MATERIALIZED (
          SELECT l.query_id, c.point_id, SUM(l.pdot_i) AS adot_i
          FROM codes2 c JOIN lut l ON l.m = c.m AND l.j = c.code
          GROUP BY 1, 2),
        short2 AS MATERIALIZED (
          SELECT * FROM (
            SELECT a.query_id, a.point_id,
                   round(a.adot_i / 1e6 / (nq.nrm * nc.nrm), 6) AS approx_sim,
                   nq.v AS qv, nc.v AS cv, nq.nrm AS qn, nc.nrm AS cn,
                   row_number() OVER (PARTITION BY a.query_id
                     ORDER BY round(a.adot_i / 1e6 / (nq.nrm * nc.nrm), 6) DESC,
                              a.point_id) AS rn1
            FROM adc2 a JOIN nrms2 nq ON nq.vec_id = a.query_id
                        JOIN nrms2 nc ON nc.vec_id = a.point_id)
          WHERE rn1 <= {TOP_K * PQ_RERANK}),
        pq2 AS (
          SELECT query_id, point_id AS neighbor_id, approx_sim,
                 round({_DOT.format(a='qv', b='cv')} / (qn * cn), 6) AS cos_sim,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY round({_DOT.format(a='qv', b='cv')} / (qn * cn), 6) DESC,
                            point_id) AS rnk
          FROM short2)
        SELECT CAST(1 AS INT) AS phase, query_id, neighbor_id,
               CAST(NULL AS DOUBLE) AS approx_sim, cos_sim, rank
        FROM ivf
        UNION ALL
        SELECT CAST(2 AS INT) AS phase, query_id, neighbor_id, approx_sim,
               cos_sim, CAST(rnk AS INT) AS rank
        FROM pq2 WHERE rnk <= {TOP_K}
        UNION ALL
        -- phases 3/4: post-compaction re-serve — a pure LAYOUT change,
        -- so the expected values are phases 1/2 re-tagged
        SELECT CAST(3 AS INT) AS phase, query_id, neighbor_id,
               CAST(NULL AS DOUBLE) AS approx_sim, cos_sim, rank
        FROM ivf
        UNION ALL
        SELECT CAST(4 AS INT) AS phase, query_id, neighbor_id, approx_sim,
               cos_sim, CAST(rnk AS INT) AS rank
        FROM pq2 WHERE rnk <= {TOP_K}
"""

def _recall_stage_ctes(b: int) -> str:
    """One append wave of the recall-drift oracle: grown corpus rc{b},
    wave queries rq{b}, brute truth, frozen-centroid assignment+probe,
    and the per-wave aggregate agg{b} — mirrors the engine loop in
    ``ann_recall_after_append`` stage by stage."""
    o1, o2 = RECALL_O1_SQL, RECALL_O2_SQL
    neg = "list_transform(v, x -> -x)"
    rev = "list_reverse(v)"
    corpus = [f"SELECT vec_id AS point_id, v FROM vecs WHERE vec_id >= {N_QUERY}"]
    if b >= 1:
        corpus.append(
            f"SELECT vec_id + {o1}, {neg} FROM vecs WHERE vec_id >= {N_QUERY}"
        )
    if b >= 2:
        corpus.append(
            f"SELECT vec_id + {o2}, {rev} FROM vecs WHERE vec_id >= {N_QUERY}"
        )
    qv = {0: "v", 1: neg, 2: rev}[b]
    return f"""
        rc{b} AS MATERIALIZED (
          {" UNION ALL ".join(corpus)}
        ),
        rq{b} AS MATERIALIZED (
          SELECT vec_id AS query_id, {qv} AS v FROM vecs WHERE vec_id < {N_QUERY}
        ),
        truth{b} AS MATERIALIZED (
          SELECT query_id, point_id FROM (
            SELECT q.query_id, c.point_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY {_sim_sql('q.v', 'c.v')} DESC, c.point_id) AS rn
            FROM rq{b} q, rc{b} c) WHERE rn <= {TOP_K}),
        rassign{b} AS MATERIALIZED (
          SELECT point_id, v, cell FROM (
            SELECT c.point_id, c.v, s.centroid_id AS cell,
                   row_number() OVER (PARTITION BY c.point_id
                     ORDER BY {_sim_sql('c.v', 's.cv')} DESC, s.centroid_id) AS rn
            FROM rc{b} c, {_CENT_FINAL} s) WHERE rn = 1),
        rprobed{b} AS MATERIALIZED (
          SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.v AS qv, s.centroid_id AS cell,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY {_sim_sql('q.v', 's.cv')} DESC, s.centroid_id) AS rn
            FROM rq{b} q, {_CENT_FINAL} s) WHERE rn <= {N_PROBES}),
        rivf{b} AS MATERIALIZED (
          SELECT query_id, point_id FROM (
            SELECT p.query_id, a.point_id,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY {_sim_sql('p.qv', 'a.v')} DESC, a.point_id) AS rank
            FROM rprobed{b} p JOIN rassign{b} a ON p.cell = a.cell)
          WHERE rank <= {TOP_K}),
        agg{b} AS (
          SELECT CAST({b} AS INT) AS batch,
                 (SELECT CAST(count(*) AS BIGINT) FROM rc{b}) AS corpus_n,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(CASE WHEN i.point_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_hits,
                 CAST((sum(CASE WHEN i.point_id IS NOT NULL THEN 1 ELSE 0 END)
                       * 10000) // count(*) AS BIGINT) AS recall_bp
          FROM truth{b} t LEFT JOIN rivf{b} i
            ON t.query_id = i.query_id AND t.point_id = i.point_id)"""


ORACLES["ann_recall_after_append"] = f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {",".join(_recall_stage_ctes(b) for b in (0, 1, 2))}
        SELECT * FROM agg0
        UNION ALL SELECT * FROM agg1
        UNION ALL SELECT * FROM agg2
"""

def _retrain_wave_ctes(b: int) -> str:
    """One query wave of the retrain-execute oracle: wave queries,
    brute truth over the FULL grown corpus, and the IVF probe under
    BOTH quantizers (frozen cent{{N}}, retrained cent_rt{{N}}) —
    mirrors the engine's fused before/after pass wave by wave."""
    neg = "list_transform(v, x -> -x)"
    rev = "list_reverse(v)"
    qv = {0: "v", 1: neg, 2: rev}[b]
    cfin, rfin = _CENT_FINAL, f"cent_rt{N_KMEANS_ITERS}"
    return f"""
        xq{b} AS MATERIALIZED (
          SELECT vec_id AS query_id, {qv} AS v FROM vecs WHERE vec_id < {N_QUERY}
        ),
        xtruth{b} AS MATERIALIZED (
          SELECT query_id, point_id FROM (
            SELECT q.query_id, c.point_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY {_sim_sql('q.v', 'c.pv')} DESC, c.point_id) AS rn
            FROM xq{b} q, cand_rt c) WHERE rn <= {TOP_K}),
        xpf{b} AS MATERIALIZED (
          SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.v AS qv, s.centroid_id AS cell,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY {_sim_sql('q.v', 's.cv')} DESC, s.centroid_id) AS rn
            FROM xq{b} q, {cfin} s) WHERE rn <= {N_PROBES}),
        xpr{b} AS MATERIALIZED (
          SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.v AS qv, s.centroid_id AS cell,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY {_sim_sql('q.v', 's.cv')} DESC, s.centroid_id) AS rn
            FROM xq{b} q, {rfin} s) WHERE rn <= {N_PROBES}),
        xivff{b} AS MATERIALIZED (
          SELECT query_id, point_id FROM (
            SELECT p.query_id, a.point_id,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY {_sim_sql('p.qv', 'a.pv')} DESC, a.point_id) AS rank
            FROM xpf{b} p JOIN xaf a ON p.cell = a.cell)
          WHERE rank <= {TOP_K}),
        xivfr{b} AS MATERIALIZED (
          SELECT query_id, point_id FROM (
            SELECT p.query_id, a.point_id,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY {_sim_sql('p.qv', 'a.pv')} DESC, a.point_id) AS rank
            FROM xpr{b} p JOIN xar a ON p.cell = a.cell)
          WHERE rank <= {TOP_K}),
        xagg{b} AS (
          SELECT CAST({b} AS INT) AS batch,
                 (SELECT CAST(count(*) AS BIGINT) FROM cand_rt) AS corpus_n,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST((sum(CASE WHEN f.point_id IS NOT NULL THEN 1 ELSE 0 END)
                       * 10000) // count(*) AS BIGINT) AS recall_frozen_bp,
                 CAST((sum(CASE WHEN r.point_id IS NOT NULL THEN 1 ELSE 0 END)
                       * 10000) // count(*) AS BIGINT) AS recall_retrained_bp
          FROM xtruth{b} t
          LEFT JOIN xivff{b} f
            ON t.query_id = f.query_id AND t.point_id = f.point_id
          LEFT JOIN xivfr{b} r
            ON t.query_id = r.query_id AND t.point_id = r.point_id)"""


# The retrain-execute oracle replays BOTH trajectories — the frozen
# quantizer over the original corpus and a fresh one over the grown
# corpus (same seeds: the lowest-id original candidates) — then
# recomputes per-wave truth and both probes over the grown corpus.
ORACLES["ann_retrain_execute"] = f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        gvecs AS MATERIALIZED (
          SELECT vec_id, v FROM vecs WHERE vec_id >= {N_QUERY}
          UNION ALL
          SELECT vec_id + {RECALL_O1_SQL}, list_transform(v, x -> -x)
          FROM vecs WHERE vec_id >= {N_QUERY}
          UNION ALL
          SELECT vec_id + {RECALL_O2_SQL}, list_reverse(v)
          FROM vecs WHERE vec_id >= {N_QUERY}
        ),
        {_kmeans_ctes()},
        {_kmeans_ctes(corpus="gvecs", sfx="_rt")},
        xaf AS MATERIALIZED (
          SELECT c.point_id, c.pv, -p.pick.nc AS cell FROM (
            SELECT c.point_id,
                   max(struct_pack(s := round({_DOT_FAST.format(a='c.pv', b='s.cv')}
                         / (c.pn * s.cn), 6),
                       nc := -s.centroid_id)) AS pick
            FROM cand_rt c, {_CENT_FINAL} s GROUP BY c.point_id) p
          JOIN cand_rt c USING (point_id)),
        xar AS MATERIALIZED (
          SELECT c.point_id, c.pv, -p.pick.nc AS cell FROM (
            SELECT c.point_id,
                   max(struct_pack(s := round({_DOT_FAST.format(a='c.pv', b='s.cv')}
                         / (c.pn * s.cn), 6),
                       nc := -s.centroid_id)) AS pick
            FROM cand_rt c, cent_rt{N_KMEANS_ITERS} s GROUP BY c.point_id) p
          JOIN cand_rt c USING (point_id)),
        {",".join(_retrain_wave_ctes(b) for b in (0, 1, 2))}
        SELECT * FROM xagg0
        UNION ALL SELECT * FROM xagg1
        UNION ALL SELECT * FROM xagg2
"""

# The retrain-decision oracle recomputes BOTH gauges from the trained
# trajectory (hottest cell share from the assignment histogram, worst
# wave recall from the three append waves) and replays the same four
# threshold scenarios the member runs — thresholds 2 and 3 are DERIVED
# from the gauges (hottest−1 / worst+1), so the firing branches are
# deterministic at any SF without pinning gauge values.
ORACLES["ann_retrain_decision"] = f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {_ASSIGNED_CTE},
        {",".join(_recall_stage_ctes(b) for b in (0, 1, 2))},
        gauges AS (
          SELECT
            (SELECT CAST(max(share_bp) AS BIGINT) FROM (
               SELECT (count(*) * 10000)
                        // (SELECT count(*) FROM assigned) AS share_bp
               FROM assigned GROUP BY cell)) AS hottest,
            (SELECT CAST(min(recall_bp) AS BIGINT) FROM (
               SELECT recall_bp FROM agg0
               UNION ALL SELECT recall_bp FROM agg1
               UNION ALL SELECT recall_bp FROM agg2)) AS worst
        ),
        scen AS (
          SELECT 1 AS scenario, CAST(10001 AS BIGINT) AS max_cell,
                 CAST(0 AS BIGINT) AS min_recall FROM gauges
          UNION ALL SELECT 2, hottest - 1, 0 FROM gauges
          UNION ALL SELECT 3, 10001, worst + 1 FROM gauges
          UNION ALL SELECT 4, {RETRAIN_MAX_CELL_SHARE_BP},
                            {RETRAIN_MIN_RECALL_BP} FROM gauges
        )
        SELECT CAST(s.scenario AS INT) AS scenario,
               s.max_cell AS max_cell_share_bp,
               s.min_recall AS min_recall_bp,
               g.hottest AS hottest_cell_share_bp,
               g.worst AS worst_wave_recall_bp,
               (g.hottest > s.max_cell OR g.worst < s.min_recall) AS retrain,
               concat_ws(',',
                 CASE WHEN g.hottest > s.max_cell
                      THEN 'cell_skew:' || g.hottest || 'bp>'
                           || s.max_cell || 'bp' END,
                 CASE WHEN g.worst < s.min_recall
                      THEN 'recall_drift:' || g.worst || 'bp<'
                           || s.min_recall || 'bp' END) AS reasons
        FROM scen s, gauges g
        ORDER BY scenario
"""

# The streaming maintainer lands the recrawl cohorts through
# micro-batch generations; the served result must equal the batch
# recrawl's phase 1 — assignment and probe recomputed over the
# effective corpus from the saved (original-corpus-trained) quantizers.
ORACLES["stream_ann_index_maintain"] = f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        evecs AS MATERIALIZED (
          SELECT vec_id, v FROM vecs WHERE vec_id < {N_QUERY}
          UNION ALL
          SELECT vec_id,
                 CASE WHEN vec_id % {RECRAWL_CHANGED_MOD} = 0
                      THEN list_reverse(v) ELSE v END AS v
          FROM vecs
          WHERE vec_id >= {N_QUERY}
            AND vec_id % {RECRAWL_DELETED_MOD} <> {RECRAWL_DELETED_RES}
        ),
        ecand AS MATERIALIZED (
          SELECT vec_id AS point_id, v AS pv, {_NORM_FAST.format(a='v')} AS pn
          FROM evecs WHERE vec_id >= {N_QUERY}),
        eassign AS MATERIALIZED (
          SELECT c.point_id, c.pv, c.pn, -p.pick.nc AS cell FROM (
            SELECT c.point_id,
                   max(struct_pack(s := round({_DOT_FAST.format(a='c.pv', b='s.cv')}
                         / (c.pn * s.cn), 6),
                       nc := -s.centroid_id)) AS pick
            FROM ecand c, {_CENT_FINAL} s GROUP BY c.point_id) p
          JOIN ecand c USING (point_id)),
        {_ivf_probe_ctes(N_PROBES, assigned_rel="eassign")}
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM ivf
"""

# The pressure oracle is pure counting over the id cohorts: stage 1's
# delta is the touched set (changed ∪ deleted), stage 2's base is the
# effective corpus (candidates minus the tombstoned cohort — the
# changed cohort is REPLACED, not removed).
ORACLES["ann_index_pressure"] = f"""
        WITH cand AS (
          SELECT vec_id FROM embeddings WHERE vec_id >= {N_QUERY}
        ),
        touched AS (
          SELECT vec_id FROM cand WHERE vec_id % {RECRAWL_CHANGED_MOD} = 0
          UNION
          SELECT vec_id FROM cand
          WHERE vec_id % {RECRAWL_DELETED_MOD} = {RECRAWL_DELETED_RES}
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS base FROM cand),
        t AS (SELECT CAST(count(*) AS BIGINT) AS delta FROM touched),
        g AS (SELECT CAST(count(*) AS BIGINT) AS ngone FROM cand
              WHERE vec_id % {RECRAWL_DELETED_MOD} = {RECRAWL_DELETED_RES})
        SELECT CAST(1 AS INT) AS stage, n.base AS base_ids,
               t.delta AS delta_ids,
               CAST((t.delta * 10000) // n.base AS BIGINT) AS pressure_bp,
               false AS compacted
        FROM n, t
        UNION ALL
        SELECT CAST(2 AS INT), n.base - g.ngone, CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), true
        FROM n, g
"""

# The recrawl oracle rebuilds assignment/codes/norms over the EFFECTIVE
# corpus — changed ids (vec_id%CHANGED_MOD==0) carry their reversed
# vector, deleted ids (vec_id%DELETED_MOD==DELETED_RES) are absent —
# from the SAVED quantizers (trained on the ORIGINAL corpus, exactly
# like the engine's supersede path), then replays both probes. Phases
# 1-2 (effective view) and 3-4 (post-compaction raw) must be identical,
# so the expected values are emitted twice.
ORACLES["ann_index_recrawl"] = f"""
        WITH vecs AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_kmeans_ctes()},
        {_PQ_TRAIN},
        evecs AS MATERIALIZED (
          SELECT vec_id, v FROM vecs WHERE vec_id < {N_QUERY}
          UNION ALL
          SELECT vec_id,
                 CASE WHEN vec_id % {RECRAWL_CHANGED_MOD} = 0
                      THEN list_reverse(v) ELSE v END AS v
          FROM vecs
          WHERE vec_id >= {N_QUERY}
            AND vec_id % {RECRAWL_DELETED_MOD} <> {RECRAWL_DELETED_RES}
        ),
        ecand AS MATERIALIZED (
          SELECT vec_id AS point_id, v AS pv, {_NORM_FAST.format(a='v')} AS pn
          FROM evecs WHERE vec_id >= {N_QUERY}),
        eassign AS MATERIALIZED (
          SELECT c.point_id, c.pv, c.pn, -p.pick.nc AS cell FROM (
            SELECT c.point_id,
                   max(struct_pack(s := round({_DOT_FAST.format(a='c.pv', b='s.cv')}
                         / (c.pn * s.cn), 6),
                       nc := -s.centroid_id)) AS pick
            FROM ecand c, {_CENT_FINAL} s GROUP BY c.point_id) p
          JOIN ecand c USING (point_id)),
        {_ivf_probe_ctes(N_PROBES, assigned_rel="eassign")},
        esub AS MATERIALIZED (
{_pq_sub_union("vec_id AS point_id", f"vec_id >= {N_QUERY}", rel="evecs")}
        ),
        ecodes AS MATERIALIZED (
          SELECT point_id, m, cell AS code FROM (
            SELECT s.point_id, s.m, c.j AS cell,
                   row_number() OVER (PARTITION BY s.point_id, s.m
                     ORDER BY {_L2.format(a='s.sv', b='c.cv')}, c.j) AS rn
            FROM esub s JOIN pcent{PQ_ITERS} c ON s.m = c.m) WHERE rn = 1),
        enrms AS MATERIALIZED (
          SELECT vec_id, v, {_NORM.format(a='v')} AS nrm FROM evecs),
        adc2 AS MATERIALIZED (
          SELECT l.query_id, c.point_id, SUM(l.pdot_i) AS adot_i
          FROM ecodes c JOIN lut l ON l.m = c.m AND l.j = c.code
          GROUP BY 1, 2),
        short2 AS MATERIALIZED (
          SELECT * FROM (
            SELECT a.query_id, a.point_id,
                   round(a.adot_i / 1e6 / (nq.nrm * nc.nrm), 6) AS approx_sim,
                   nq.v AS qv, nc.v AS cv, nq.nrm AS qn, nc.nrm AS cn,
                   row_number() OVER (PARTITION BY a.query_id
                     ORDER BY round(a.adot_i / 1e6 / (nq.nrm * nc.nrm), 6) DESC,
                              a.point_id) AS rn1
            FROM adc2 a JOIN enrms nq ON nq.vec_id = a.query_id
                        JOIN enrms nc ON nc.vec_id = a.point_id)
          WHERE rn1 <= {TOP_K * PQ_RERANK}),
        pq2 AS (
          SELECT query_id, point_id AS neighbor_id, approx_sim,
                 round({_DOT.format(a='qv', b='cv')} / (qn * cn), 6) AS cos_sim,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY round({_DOT.format(a='qv', b='cv')} / (qn * cn), 6) DESC,
                            point_id) AS rnk
          FROM short2)
        SELECT CAST(1 AS INT) AS phase, query_id, neighbor_id,
               CAST(NULL AS DOUBLE) AS approx_sim, cos_sim, rank
        FROM ivf
        UNION ALL
        SELECT CAST(2 AS INT) AS phase, query_id, neighbor_id, approx_sim,
               cos_sim, CAST(rnk AS INT) AS rank
        FROM pq2 WHERE rnk <= {TOP_K}
        UNION ALL
        -- phases 3/4: post-compaction raw re-serve — physical drop of
        -- superseded/tombstoned rows is a pure layout change, so the
        -- expected values are phases 1/2 re-tagged
        SELECT CAST(3 AS INT) AS phase, query_id, neighbor_id,
               CAST(NULL AS DOUBLE) AS approx_sim, cos_sim, rank
        FROM ivf
        UNION ALL
        SELECT CAST(4 AS INT) AS phase, query_id, neighbor_id, approx_sim,
               cos_sim, CAST(rnk AS INT) AS rank
        FROM pq2 WHERE rnk <= {TOP_K}
"""
