"""Similarity search over the ``embeddings`` table (array<float> column).

Brute-force cosine top-k as the correctness baseline, hyperplane LSH,
int8 and product quantization, and an IVF index (k-means cells, probed
per query) with its recall and cost audits and its persisted lifecycle.

A query member is one Spark SQL text (``relational._sql``) over
``embeddings`` and the session's memoized relations (the query
vectors, the IVF assignment, the probed cells, the PQ codes and lookup
table), passed as named frames. Each vector formula is one Spark SQL
fragment that the texts splice in and the Column helpers wrap with
``F.expr``: the ``embeddings`` cast (``vectors_sql``), the dot product
(``dot_sql``), the norm (``norm_sql``), the rounded cosine
(``cos_sql``), the hyperplane bucket (``plane_bucket_sql``) and the
int8 scale and codes (``int8_sql``); the id/vector/norm projection
(``_points_sql``), the per-query top-k window (``_topk_sql``) and the
exact-vs-approximate recall join (``_hits_sql``) are written once too.
The memo builders that score against driver-held centroids or
codebooks (Arrow UDFs) and the index-lifecycle members keep their hand
plans.

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

from generic_data_ingestor_framework_spark.llm import indexstore
from generic_data_ingestor_framework_spark.llm.dedup import ident_sql
from generic_data_ingestor_framework_spark.relational import _sql
from generic_data_ingestor_framework_spark.session import local_relation

N_QUERY = 5   # vec_id < 5 are the query vectors
TOP_K = 3
N_PLANES = 4  # LSH hyperplanes → 16 buckets


def vectors_sql(a: str) -> str:
    """The array ``a`` with its elements cast to double, before any
    product: the one spelling of the ``embeddings`` cast."""
    return f"transform({a}, x -> CAST(x AS DOUBLE))"


def dot_sql(a: str, b: str) -> str:
    """The dot product of two double arrays, folded left to right from
    ``0D`` (Spark SQL reads ``0.0`` as DECIMAL)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, t) -> acc + t)"


def norm_sql(a: str) -> str:
    """The L2 norm of a double array, the same left-to-right fold."""
    return f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"


def cos_of_sql(dot: str, an: str, bn: str) -> str:
    """The cosine from a dot product (exact, approximate or scored
    elsewhere) and the two norms, rounded to the 6-dp query contract."""
    return f"round({dot} / ({an} * {bn}), 6)"


def cos_sql(a: str, an: str, b: str, bn: str) -> str:
    """The cosine of ``a`` and ``b`` from their norms ``an``/``bn``."""
    return cos_of_sql(dot_sql(a, b), an, bn)


def plane_bucket_sql(v: str, first_plane: str | int, n_planes: int) -> str:
    """The bucket of ``v`` under ``n_planes`` hyperplanes from
    ``first_plane`` on: bit p is set when ``v`` projects positively on
    plane ``first_plane + p``. Plane q's weight on dimension i is
    ``((7·q + 11·i) mod 13) − 6`` — arithmetic, so the oracle rebuilds
    the planes exactly. ``first_plane`` may be a lambda variable."""
    return f"""aggregate(sequence(0, {n_planes - 1}), 0, (bits, p) -> bits + IF(
        aggregate(zip_with({v}, transform(sequence(0, size({v}) - 1),
                    i -> CAST((7 * ({first_plane} + p) + 11 * i) % 13 - 6 AS DOUBLE)),
                  (x, w) -> x * w), 0D, (acc, t) -> acc + t) > 0, shiftleft(1, p), 0))"""


def int8_sql(src: str) -> str:
    """The (vec_id, v) rows of ``src`` with their symmetric int8
    ``scale`` (max |x| / 127, floored at 1e-12 so a zero vector still
    divides) and codes ``q`` (round(x / scale) per element). The codes
    read ``scale`` beside passing it on: a column read once would be
    inlined into the lambda and recomputed per element."""
    return f"""(SELECT vec_id, v, scale, transform(v, x -> CAST(round(x / scale) AS INT)) AS q
        FROM (SELECT vec_id, v, greatest(array_max(transform(v, x -> abs(x))), 1e-12D) / 127D
                     AS scale FROM {src}))"""


def _points_sql(
    src: str, id_: str = "point_id", v: str = "pv", n: str = "pn",
    where: str = f"vec_id >= {N_QUERY}",
) -> str:
    """The (vec_id, v) rows of ``src`` that pass ``where``, as
    (``id_``, ``v``, ``n``): id, vector and norm, the projection every
    scoring side starts from (by default the candidates: every vector
    but the query slice)."""
    return f"(SELECT vec_id AS {id_}, v AS {v}, {norm_sql('v')} AS {n} FROM {src} WHERE {where})"


def _topk_sql(
    src: str, score: str = "cos_sim", tie: str = "neighbor_id", k: int = TOP_K,
    rank: str = "rank",
) -> str:
    """The rows of ``src`` numbered per query by ``score`` descending,
    ties on ``tie``, kept while the number ``rank`` is at most ``k``:
    the one per-query top-k window."""
    return f"""SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY {score} DESC, {tie}) AS {rank}
        FROM ({src})) WHERE {rank} <= {k}"""


# the vectors as doubles, a subquery over the table
_VECS = f"(SELECT vec_id, {vectors_sql('embedding')} AS v, label FROM {{embeddings}})"
# the query side (query_id, qv, qn) over the memoized query vectors
_QUERY_SIDE = _points_sql("{qvecs}", "query_id", "qv", "qn", "true")
# brute-force cosine top-k of each query over every candidate
_COSINE_TOPK = _topk_sql(f"""
    SELECT /*+ BROADCAST(q) */ q.query_id, c.neighbor_id,
           {cos_sql("q.qv", "q.qn", "c.cv", "c.cn")} AS cos_sim
    FROM {_points_sql(_VECS, "neighbor_id", "cv", "cn")} c CROSS JOIN {_QUERY_SIDE} q""")


def _hits_sql(approx: str) -> str:
    """Each row of the exact top-k ``exact`` (a CTE of ``_COSINE_TOPK``)
    as (query_id, hit), hit 1 when the ``approx`` text returned the
    same neighbor: the one exact-vs-approximate recall join."""
    return f"""SELECT e.query_id, IF(a.neighbor_id IS NULL, 0, 1) AS hit
        FROM exact e LEFT JOIN ({approx}) a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"""


def _recall_sql(approx: str) -> str:
    """Per-query recall of the ``approx`` top-k against exact search
    over the same candidates: (query_id, k, n_hits)."""
    return f"""WITH exact AS ({_COSINE_TOPK})
        SELECT query_id, count(1) AS k, sum(hit) AS n_hits
        FROM ({_hits_sql(approx)}) GROUP BY query_id ORDER BY query_id"""


def _double_sql(x: float) -> str:
    """The driver double ``x`` as an exact Spark SQL double: the
    shortest repr round-trips through a correctly rounded parse."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _as_double(col: str):
    """``vectors_sql`` over the column named ``col``."""
    return F.expr(vectors_sql(ident_sql(col)))


def _norm(col: str):
    """``norm_sql`` over the column named ``col``."""
    return F.expr(norm_sql(ident_sql(col)))


def _py_norm(v) -> float:
    """Driver-side L2 norm, bit-identical to ``norm_sql``: the same
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
    ``dot_sql`` computes (squared L2: the same fold over differences),
    and NumPy's elementwise binary64 ops are IEEE-exact per element, so
    every score is bit-identical to the HOF form (pinned by
    test_arrow_scorer_bit_identity)."""
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


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, label): the ``embeddings`` rows as double vectors."""
    return _sql(spark, sf_dir, f"SELECT * FROM {_VECS}")


def _candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate side (point_id, pv, pn): every vector but the
    query slice."""
    return _sql(spark, sf_dir, f"SELECT * FROM {_points_sql(_VECS)}")


def _query_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``N_QUERY`` query vectors as a LOCAL relation (vec_id, v):
    collected once per session — a driver-held handful, the same
    bounded class as the k-means centroids — then rebuilt with
    ``session.local_relation``. Every probe-side derivation (wave transforms,
    norms, probed cells) was re-scanning the corpus parquet inside its
    broadcast build for these 5 rows (r14 opt: 3–6 such scans per
    recall/retrain call). Values are the exact binary64 rows of the
    corpus scan, so every downstream expression is bit-identical."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    # memoized per session: rebuilding it per call cost ~0.1-0.2 s of py4j
    def build() -> DataFrame:
        return local_relation(
            spark, _query_vec_rows(spark, sf_dir), "vec_id bigint, v array<double>"
        )

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
        lambda: _sql(
            spark, sf_dir, f"SELECT vec_id, v FROM {_VECS} WHERE vec_id < {N_QUERY}"
        ).collect(),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: 5 query vectors vs the rest.

    The query side is broadcast; ranking is a per-query window on the
    rounded similarity (round-then-rank keeps the order deterministic
    across engines). Norms are projected once per vector before the
    cross join, so the per-pair work is one dot product; the query side
    is the memoized local relation, so the corpus is scanned once."""
    return _sql(spark, sf_dir, _COSINE_TOPK, qvecs=_query_vecs(spark, sf_dir))


def embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm and dimensionality (vector hygiene check)."""
    return _sql(spark, sf_dir, f"""
        SELECT vec_id, size(v) AS dim, round({norm_sql("v")}, 6) AS l2_norm, label
        FROM {_VECS}
    """)


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: sign pattern of N_PLANES
    deterministic pseudo-random hyperplanes (``plane_bucket_sql``) →
    16-way bucket id. Returns bucket occupancy — the pruning structure
    a scale-out ANN join builds its shuffle on."""
    return _sql(spark, sf_dir, f"""
        SELECT bucket, count(1) AS n_vectors, min(vec_id) AS min_vec_id
        FROM (SELECT vec_id, {plane_bucket_sql("v", 0, N_PLANES)} AS bucket FROM {_VECS})
        GROUP BY bucket ORDER BY bucket
    """)


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
    return _sql(spark, sf_dir, f"""
        SELECT label, pos, round(avg(x), 6) AS mean_x
        FROM (SELECT label, posexplode(v) AS (pos, x) FROM {_VECS})
        GROUP BY label, pos
    """)


def _kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer: ``N_KMEANS_ITERS`` Lloyd
    iterations over the candidate vectors (everything except the query
    slice), cosine assignment, mean update. Memoized per session
    (``clear_caches()`` forces a retrain).

    Centroids live on the driver between iterations — they are
    N_CENTROIDS × dim floats (KBs), which is exactly how Spark MLlib's
    k-means holds them; every assignment/update over the DATA is a
    distributed plan (broadcast centroid join → window argmax →
    posexplode → hash aggregate). Determinism contract: similarities
    are rounded to 6 dp before the argmax (ties broken on centroid_id)
    and centroid coordinates to 3 dp after each mean, so the DuckDB
    oracle reproduces the identical trajectory with chained CTEs."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    def build() -> list[tuple[int, list[float]]]:
        return _kmeans_over(spark, _candidates(spark, sf_dir), k)

    return shared_value(spark, ("kmeans_centroids", sf_dir, k), build)


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
    return local_relation(
        spark, _kmeans_centroids(spark, sf_dir, k), "centroid_id int, cv array<double>"
    ).withColumn("cvn", _norm("cv"))


def _frozen_cents(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS
) -> list[tuple[int, list[float], float]]:
    """The trained coarse quantizer as driver rows (cid, cv, cvn) —
    the form ``_nearest_cells`` consumes. Reads the memoized k-means
    result directly instead of round-tripping it through a local
    DataFrame and a collect job per call (r14 opt: every
    ``_nearest_cells(cdf=_centroid_df(...))`` call paid a ~0.3 s
    collect of rows the driver already held). ``_py_norm`` is the
    bit-identical fold of ``norm_sql``."""
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
    ranked: bool = False,
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
    they ever present, sort first under both forms). ``ranked`` adds
    each cell's 1-based place in that order as ``cell_rank``, so the
    first p cells of an n-cell relation are its p-probe relation."""
    cents = cents if cents is not None else _cents_rows(cdf)
    scorer = _mat_scores([cv for _, cv, _ in cents], "dot")
    # ONE parsed SQL expression instead of k× (struct, round, lit, …)
    # builder calls: the column-API form cost ~500 py4j round-trips
    # (~0.35 s of driver latency) per call site.
    norm = ident_sql(norm_col)
    parts = ", ".join(
        f"named_struct('sim', {cos_of_sql(f'`__d`[{i}]', norm, _double_sql(cvn))}, "
        f"'nid', {-cid}, 'cid', {cid})"
        for i, (cid, _cv, cvn) in enumerate(cents)
    )
    sims = F.expr(f"array({parts})")
    top = F.slice(F.reverse(F.array_sort(sims)), 1, n_cells)
    rank = [(F.col("__r") + 1).alias("cell_rank")] if ranked else []
    return (
        df.withColumn("__d", scorer(F.col(vec_col)))
        .select(id_col, vec_col, norm_col, F.posexplode(top).alias("__r", "__t"))
        .select(id_col, vec_col, norm_col, F.col("__t.cid").alias("cell"), *rank)
    )


def _query_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (query_id, qv, qn) probe side over the memoized query-vector
    rows — no corpus scan. Values are the exact binary64 rows of the
    corpus parquet (collected once per session), so every downstream
    expression is bit-identical to the filter-the-corpus form."""
    return _sql(spark, sf_dir, f"SELECT * FROM {_QUERY_SIDE}", qvecs=_query_vecs(spark, sf_dir))


def _wave_query_rows(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, list[float], float]]:
    """Driver-held (wave, query_id, qv, qn) rows for the three append
    waves (0: identity, 1: negated, 2: dimension-reversed) — the query
    side of the recall-drift / retrain A-B pairwise scorer, derived
    with ZERO jobs from the memoized query-vector rows.

    Bit-identity with the JVM-built wave relations: negation and
    reversal are exact IEEE-754 ops, and ``_py_norm`` is the same
    left-to-right binary64 fold ``norm_sql`` computes — over the
    TRANSFORMED element order, exactly as the JVM evaluated
    ``norm_sql`` over ``reverse(v)``."""
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
    bit-identical to ``cos_sql(qv, qn, pv, pn)``."""
    scorer = _mat_scores([qv for _, _, qv, _ in qrows], "dot")
    parts = ", ".join(
        f"named_struct('wave', {int(w)}, "
        f"'query_id', CAST({int(qid)} AS BIGINT), "
        f"'cos_sim', {cos_of_sql(f'`__d`[{i}]', _double_sql(qn), '`pn`')})"
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


def _pts_of(
    df: DataFrame, id_: str = "point_id", v: str = "pv", n: str = "pn"
) -> DataFrame:
    """(vec_id, v) rows → (``id_``, ``v``, ``n``) with the shared norm."""
    return _sql(
        df.sparkSession, "", f"SELECT * FROM {_points_sql('{df}', id_, v, n, 'true')}", df=df
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


def _cents_fp(cents: list[tuple[int, list[float], float]]) -> tuple:
    """The centroid set a memo scores against, as a key part: the ids
    plus a hash of the coordinates (``repr`` of a float is exact)."""
    import hashlib

    coords = repr([cv for _, cv, _ in cents]).encode()
    return tuple(c[0] for c in cents), hashlib.sha1(coords).hexdigest()


def _append_assigns(
    spark: SparkSession,
    sf_dir: str,
    crows_fr: list[tuple[int, list[float], float]],
) -> list[DataFrame]:
    """The three per-batch assignments against ``crows_fr``, eagerly
    checkpointed once per session and centroid set (encode-only: batch
    b is never re-scored when later waves arrive). Batch lineage is
    constructed INSIDE the memo builder, so warm calls pay a dict
    lookup instead of re-deriving the corpus transforms through py4j
    (r15)."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    fp = _cents_fp(crows_fr)
    out = []
    for b in range(3):
        def build(b: int = b) -> DataFrame:
            off_v, _ = _recall_scalars(spark, sf_dir)
            cb = _pts_of(_append_batches(spark, sf_dir, off_v)[b])
            return _nearest_cells(
                None, cb, "pv", "pn", "point_id", 1, cents=crows_fr
            ).localCheckpoint(eager=True)

        out.append(
            shared_value(spark, ("recall_append_assign", sf_dir, b, fp), build)
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
    return [(b, _pts_of(qs, "query_id", "qv", "qn")) for b, qs in waves]


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
    under ``key`` and the centroid set. Construction — 3
    ArrowEvalPython rounds of Python-worker latency plus their py4j
    plan building — runs only on the first call per session (r15:
    previously rebuilt per call and discarded on memo hit)."""
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

    return shared_value(spark, (*key, _cents_fp(cents)), build)


def _ivf_assigned(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS
) -> DataFrame:
    """The candidate→cell assignment IS the IVF index: built once per
    session (registry) and reused by every probe AND the cluster-
    confined semantic dedup — re-deriving it per call re-ran the
    16-centroid scoring pass over the whole corpus. A memo hit builds
    nothing."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    return shared_persist(
        spark,
        ("ivf_assigned", sf_dir, k),
        lambda: _nearest_cells(
            None,
            _candidates(spark, sf_dir),
            "pv",
            "pn",
            "point_id",
            1,
            cents=_frozen_cents(spark, sf_dir, k),
        ),
    )


def _probed_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared query→cell routing against the session-trained
    (frozen) centroids: every cell of every query, ranked
    (``cell_rank``), so ``cell_rank <= p`` is the p-probe routing for
    every probe count. Each evaluation costs an ArrowEvalPython round
    (~0.7 s of Python-worker latency for 5 query rows at sf0.1): one
    memo serves every probe count and every IVF and IVF-PQ member."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    def build() -> DataFrame:
        return _nearest_cells(
            None, _query_side(spark, sf_dir), "qv", "qn", "query_id", N_CENTROIDS,
            cents=_frozen_cents(spark, sf_dir), ranked=True,
        ).localCheckpoint(eager=True)

    return shared_value(spark, ("ivf_probed_frozen", sf_dir), build)


def _ivf_topk_sql(n_probes: int) -> str:
    """The IVF top-k text: each query's cells ranked at most
    ``n_probes`` in the ``{probed}`` frame, joined to the ``{assigned}``
    index on the cell, then the exact cosine over those candidates. The
    probe side is queries × cells rows, so it is broadcast and the
    (possibly corpus-sized) assignment never shuffles."""
    return _topk_sql(f"""
        SELECT /*+ BROADCAST(p) */ p.query_id, a.cell AS probe_centroid,
               a.point_id AS neighbor_id, {cos_sql("p.qv", "p.qn", "a.pv", "a.pn")} AS cos_sim
        FROM (SELECT * FROM {{probed}} WHERE cell_rank <= {n_probes}) p
        JOIN {{assigned}} a ON p.cell = a.cell""")


def _ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_probes: int,
    cdf: DataFrame | None = None,
    assigned: DataFrame | None = None,
    probed: DataFrame | None = None,
) -> DataFrame:
    """IVF probe with a parameterized probe count (``ann_ivf_topk`` is
    this at the tuned default). ``cdf``/``assigned`` override the
    session-built centroid table and cell assignment with LOADED
    relations (the persisted-index path — ``ann_ivf_persisted``);
    ``probed`` supplies an already-computed ranked query→cell relation
    (``_nearest_cells(..., ranked=True)``) so a caller that needed it
    for cell pruning doesn't score the queries twice.

    The scale path: candidate pruning happens via an equi-join on the
    cell, so the expensive dot products run over the probed cells
    instead of the whole corpus. Multi-probe recovers neighbors that
    fall just across a cell boundary."""
    if probed is None:
        probed = (
            _probed_frozen(spark, sf_dir)
            if cdf is None
            else _nearest_cells(
                cdf, _query_side(spark, sf_dir), "qv", "qn", "query_id", n_probes,
                ranked=True,
            )
        )
    return _sql(
        spark, sf_dir, _ivf_topk_sql(n_probes), probed=probed,
        assigned=assigned if assigned is not None else _ivf_assigned(spark, sf_dir),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means coarse quantizer (trained in-engine, see
    ``_kmeans_centroids``), every candidate assigned to its nearest
    cell, each query probing its ``N_PROBES`` nearest cells. The
    default operating point is picked off ``ann_probe_tradeoff``'s
    measured recall-vs-probes curve; ``ann_recall_report`` verifies it
    per query."""
    return _sql(
        spark, sf_dir, _ivf_topk_sql(N_PROBES),
        probed=_probed_frozen(spark, sf_dir), assigned=_ivf_assigned(spark, sf_dir),
    )


PROBE_GRID = (3, 6, 9, 12, 16)


def ann_probe_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-probe-count curve: for each probe count in
    ``PROBE_GRID``, total IVF hits against exact top-k over all queries
    — the measurement a user needs to pick an operating point (more
    probes = more candidate cells scanned = higher recall, higher
    cost). The assignment index, the ranked probe routing and the exact
    baseline are shared across the sweep; only the probe prefix
    varies."""
    sweep = "\n        UNION ALL\n".join(
        f"SELECT {p} AS n_probes, count(1) AS total_k, sum(hit) AS total_hits "
        f"FROM ({_hits_sql(_ivf_topk_sql(p))})"
        for p in PROBE_GRID
    )
    return _sql(
        spark, sf_dir,
        f"WITH exact AS ({_COSINE_TOPK}) SELECT * FROM ({sweep}) ORDER BY n_probes",
        qvecs=_query_vecs(spark, sf_dir), probed=_probed_frozen(spark, sf_dir),
        assigned=_ivf_assigned(spark, sf_dir),
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IVF recall vs exact search over the SAME candidate set
    (``ann_cosine_topk`` semantics), so the number is a pure measure of
    the coarse quantizer + multi-probe — the check a production ANN
    rollout runs before trusting the index."""
    return _sql(
        spark, sf_dir, _recall_sql(_ivf_topk_sql(N_PROBES)),
        qvecs=_query_vecs(spark, sf_dir), probed=_probed_frozen(spark, sf_dir),
        assigned=_ivf_assigned(spark, sf_dir),
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


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup pass
    of a training-data pipeline (MinHash catches lexical dups, this
    catches paraphrases).

    Scale shape mirrors ``dedup_minhash_lsh_pairs``: vectors land in
    ``EMB_BANDS`` independent hyperplane-LSH buckets (band b uses planes
    ``EMB_PLANES_PER_BAND·b`` on, so bands are independent), candidates
    are pairs sharing ANY band bucket (an equi-join on (band, bucket) —
    never an all-pairs cross join) with buckets over
    ``EMB_BUCKET_CAP`` excluded (degenerate cells — see the constant;
    ≤ EMB_BANDS × 2^planes bucket rows, broadcast), and only candidates
    pay the exact cosine, which must clear ``EMB_DUP_THRESHOLD``. The
    cosine is computed MAP-SIDE right after the bucket join and the
    pair dedup runs on (id, id, cos) only — the r8 shape shuffled both
    full vector payloads through the dedup (measured: the dominant cost
    at sf1). Deterministic arithmetic planes keep the DuckDB oracle in
    lockstep."""
    buckets = plane_bucket_sql("v", f"{EMB_PLANES_PER_BAND} * bd", EMB_PLANES_PER_BAND)
    # the id test leads the filter pushed into the join, so only one of
    # each pair pays the cosine
    return _sql(spark, sf_dir, f"""
        WITH banded_all AS (
          SELECT vec_id, v, {norm_sql("v")} AS vn,
                 posexplode(transform(sequence(0, {EMB_BANDS - 1}), bd -> {buckets}))
                   AS (band, bucket)
          FROM {_VECS}),
        banded AS (
          SELECT /*+ BROADCAST(ok) */ b.* FROM banded_all b
          JOIN (SELECT band, bucket FROM banded_all GROUP BY band, bucket
                HAVING count(1) <= {EMB_BUCKET_CAP}) ok
            ON b.band = ok.band AND b.bucket = ok.bucket)
        SELECT DISTINCT id_a, id_b, cos_sim FROM (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                 {cos_sql("x.v", "x.vn", "y.v", "y.vn")} AS cos_sim
          FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket)
        WHERE id_a < id_b AND cos_sim >= {EMB_DUP_THRESHOLD}D
    """)


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
    def coded(src: str, id_: str, v: str, q: str, sc: str, n: str) -> str:
        return f"""(SELECT vec_id AS {id_}, v AS {v}, q AS {q}, scale AS {sc},
                    {norm_sql("v")} AS {n} FROM {int8_sql(src)})"""

    # phase 1: the integer dot of the int8 codes, rescaled, over every
    # candidate; the query side is the LOCAL memoized query rows
    cands = f"(SELECT vec_id, v FROM {_VECS} WHERE vec_id >= {N_QUERY})"
    idot = ("aggregate(zip_with(q.qq, c.cq, (x, y) -> CAST(x * y AS BIGINT)), 0L,"
            " (acc, t) -> acc + t) * q.qsc * c.csc")
    phase1 = _topk_sql(f"""
        SELECT /*+ BROADCAST(q) */ q.query_id, c.neighbor_id, q.qv, q.qn, c.cv, c.cn,
               {cos_of_sql(idot, "q.qn", "c.cn")} AS approx_sim
        FROM {coded(cands, "neighbor_id", "cv", "cq", "csc", "cn")} c
        CROSS JOIN {coded("{qvecs}", "query_id", "qv", "qq", "qsc", "qn")} q""",
        score="approx_sim", k=TOP_K * RERANK_FACTOR, rank="rn1")
    # phase 2: exact cosine over the shortlist
    phase2 = _topk_sql(f"""
        SELECT query_id, neighbor_id, approx_sim, {cos_sql("qv", "qn", "cv", "cn")} AS cos_sim
        FROM ({phase1})""")
    return _sql(spark, sf_dir, f"""
        SELECT query_id, neighbor_id, approx_sim, cos_sim, rank FROM ({phase2})
    """, qvecs=_query_vecs(spark, sf_dir))


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
    # the id test leads the filter pushed into the join, so only one of
    # each pair pays the cosine
    return _sql(spark, sf_dir, f"""
        SELECT cell, vec_a, vec_b, cos_sim FROM (
          SELECT a.cell, a.point_id AS vec_a, b.point_id AS vec_b,
                 {cos_sql("a.pv", "a.pn", "b.pv", "b.pn")} AS cos_sim
          FROM {{assigned}} a JOIN {{assigned}} b ON a.cell = b.cell)
        WHERE vec_a < vec_b AND cos_sim >= {SEMDEDUP_TAU}D
    """, assigned=_ivf_assigned(spark, sf_dir, _sem_k(spark, sf_dir)))


def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4× storage/
    bandwidth compression every large-scale vector index applies before
    ANN — with the reconstruction-error report a rollout gates on.

    Row-local and map-only: scale = max|x|/127 per vector, q_i =
    round(x_i/scale), error stats via sequential array folds (bit-
    deterministic in both engines, like ``embed_norms``). Payload never
    shuffles; at 100 TB this is a narrow projection you fuse into the
    embedding scan. The error uses the full-precision scale: only the
    outer select rounds it."""
    return _sql(spark, sf_dir, f"""
        SELECT vec_id, n_dims, round(scale, 8) AS scale, round(mse_raw, 10) AS mse, q_max_abs
        FROM (SELECT vec_id, size(v) AS n_dims, scale,
                     aggregate(zip_with(v, q, (x, c) -> (x - CAST(c AS DOUBLE) * scale)
                                                      * (x - CAST(c AS DOUBLE) * scale)),
                               0D, (acc, e) -> acc + e) / size(v) AS mse_raw,
                     array_max(transform(q, c -> abs(c))) AS q_max_abs
              FROM {int8_sql(_VECS)})
    """)


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
    m-th slice, reusing the IVF seeding contract. Memoized per
    session, like ``_kmeans_centroids``."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    return shared_value(
        spark, ("pq_codebooks", sf_dir), lambda: _pq_train(spark, sf_dir)
    )


def _pq_train(spark: SparkSession, sf_dir: str) -> list[tuple[int, int, list[float]]]:
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
    return [(m, j, cv) for (m, j), cv in sorted(cents.items())]


def _pq_codebook_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return local_relation(
        spark, _pq_codebooks(spark, sf_dir), "m int, j int, cv array<double>"
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


def _pq_adc_sql(n_probes: int | None = None) -> str:
    """The ADC text: every ``{codes}`` row against every query's
    broadcast ``{lut}`` entry for its (m, code), summed per (query,
    point) into ``adot_i``. With ``n_probes``, the codes carry their
    point's IVF ``cell`` and only each query's first ``n_probes``
    ``{probed}`` cells are expanded (the gate joins before the LUT)."""
    if n_probes is None:
        gate, on, hint = "", "", "l"
    else:
        gate = (f"JOIN (SELECT query_id, cell FROM {{probed}} WHERE cell_rank <= {n_probes}) p"
                " ON p.cell = c.cell")
        on, hint = "l.query_id = p.query_id AND ", "p, l"
    return f"""
        SELECT /*+ BROADCAST({hint}) */ l.query_id, c.point_id, sum(l.pdot_i) AS adot_i
        FROM {{codes}} c {gate}
        JOIN {{lut}} l ON {on}l.m = c.m AND l.j = c.code
        GROUP BY l.query_id, c.point_id"""


# the PQ rerank's candidate side (point_id, cv, cn)
_PQ_CANDS = _points_sql(_VECS, v="cv", n="cn")


def _pq_rerank_sql(adc: str, cands: str = _PQ_CANDS) -> str:
    """The ADC shortlist (TOP_K·PQ_RERANK by approximate cosine) of the
    ``adc`` relation, reranked by exact cosine to TOP_K. ``cands`` is
    the (point_id, cv, cn) relation that resolves every shortlisted
    point's full vector; the query side is the ``{qvecs}`` frame."""
    short = _topk_sql(f"""
        SELECT /*+ BROADCAST(q) */ a.query_id, a.point_id, q.qv, q.qn, c.cv, c.cn,
               {cos_of_sql("a.adot_i / 1e6D", "q.qn", "c.cn")} AS approx_sim
        FROM {adc} a JOIN {_QUERY_SIDE} q ON a.query_id = q.query_id
        JOIN {cands} c ON a.point_id = c.point_id""",
        score="approx_sim", tie="point_id", k=TOP_K * PQ_RERANK, rank="rn1")
    exact = _topk_sql(f"""
        SELECT query_id, point_id, approx_sim, {cos_sql("qv", "qn", "cv", "cn")} AS cos_sim
        FROM ({short})""", tie="point_id")
    return f"""SELECT query_id, point_id AS neighbor_id, approx_sim, cos_sim, rank
        FROM ({exact})"""


# flat-ADC PQ top-k over the session's codes and LUT
_PQ_TOPK = _pq_rerank_sql(f"({_pq_adc_sql()})")


def _pq_adc(
    spark: SparkSession,
    sf_dir: str,
    codes: DataFrame | None = None,
    cdf: DataFrame | None = None,
) -> DataFrame:
    """Flat ADC scores (query_id, point_id, adot_i) — every code row
    against every query's LUT. ``codes``/``cdf`` override the
    session-built compressed index and codebook with LOADED relations
    (``ann_pq_persisted``)."""
    return _sql(
        spark, sf_dir, _pq_adc_sql(),
        codes=codes if codes is not None else _pq_codes_df(spark, sf_dir),
        lut=_pq_lut_df(spark, sf_dir, cdf=cdf),
    )


def _pq_rerank(
    spark: SparkSession,
    sf_dir: str,
    adc: DataFrame,
    cand_vecs: DataFrame | None = None,
) -> DataFrame:
    """ADC shortlist → exact-cosine rerank → TOP_K over an ``adc``
    frame (``_pq_rerank_sql``). ``cand_vecs`` overrides the
    candidate-vector relation — a ``(point_id, cv, cn)`` frame — for
    callers whose compressed index covers points beyond the corpus
    candidates (the crawl-appended batch in ``ann_index_crawl``); the
    exact rerank must be able to resolve every shortlisted point's full
    vector."""
    held = {} if cand_vecs is None else {"cands": cand_vecs}
    return _sql(
        spark, sf_dir, _pq_rerank_sql("{adc}", "{cands}" if held else _PQ_CANDS),
        adc=adc, qvecs=_query_vecs(spark, sf_dir), **held,
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
    return _sql(
        spark, sf_dir, _PQ_TOPK, codes=_pq_codes_df(spark, sf_dir),
        lut=_pq_lut_df(spark, sf_dir), qvecs=_query_vecs(spark, sf_dir),
    )


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

    codes_cell = shared_persist(
        spark,
        ("pq_codes_cell", sf_dir),
        lambda: _pq_codes_df(spark, sf_dir).join(
            _ivf_assigned(spark, sf_dir).select("point_id", "cell"), "point_id"
        ),
    )
    return _sql(
        spark, sf_dir, _pq_rerank_sql(f"({_pq_adc_sql(N_PROBES)})"), codes=codes_cell,
        probed=_probed_frozen(spark, sf_dir), lut=_pq_lut_df(spark, sf_dir),
        qvecs=_query_vecs(spark, sf_dir),
    )


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query PQ recall vs exact search — the rollout check next to
    ``ann_recall_report``, for the PQ operating point (M·K codebook +
    ``PQ_RERANK`` shortlist) instead of the IVF probe count."""
    return _sql(
        spark, sf_dir, _recall_sql(_PQ_TOPK), codes=_pq_codes_df(spark, sf_dir),
        lut=_pq_lut_df(spark, sf_dir), qvecs=_query_vecs(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Cross-run persistent ANN index: the vector payload of ``indexstore``
# ---------------------------------------------------------------------------

ANN_INDEX_VERSION = 3  # v3: the index-store layout (batches/<tag>/<rel>, meta)

# The assignment is PARTITIONED BY CELL: the on-disk layout IS the
# inverted list, so a probe filtered to its probed cells prunes the
# scan to n_probes/k of the index (at 100 TB, the difference between
# reading ~1% of the corpus and all of it).
ANN_INDEX = indexstore.Family(
    name="ann",
    id_col="point_id",
    deltas=("ivf_assigned", "pq_codes"),
    partition={"ivf_assigned": "cell"},
    meta=(ANN_INDEX_VERSION, "n_candidates"),
)


def _ann_index_root(spark: SparkSession, sf_dir: str) -> str:
    from generic_data_ingestor_framework_spark.fileops import sf_tag

    wh = spark.conf.get("spark.sql.warehouse.dir")
    return f"{wh}/ann_index_{sf_tag(sf_dir)}"


def save_ann_index(spark: SparkSession, sf_dir: str, root: str | None = None) -> str:
    """Persist the trained ANN index — IVF centroids + cell assignment
    and PQ codebooks + codes — into the index store at ``root``, so a
    new process (or a 100 TB query job that must never retrain) loads
    it without any metastore. Meta records the format version and the
    candidate count; ``load_ann_index`` rebuilds on a stale,
    inconsistent, or foreign index instead of silently probing it."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_value

    root = root or _ann_index_root(spark, sf_dir)
    # the corpus candidate count is deterministic per corpus — memoized
    # next to the other corpus scalars (r14 opt: a lifecycle member that
    # saves per run re-counted the corpus per save)
    n_cand = shared_value(
        spark,
        ("ann_n_cand", sf_dir),
        lambda: _vectors(spark, sf_dir).filter(F.col("vec_id") >= N_QUERY).count(),
    )
    # relations are constructed here, sequentially: the constructors
    # run the session-memoized training collects, and the cachemgr
    # memos are not thread-safe (the store overlaps only the writes)
    ANN_INDEX.save(
        spark,
        root,
        {
            "ivf_centroids": _centroid_df(spark, sf_dir),
            "ivf_assigned": _ivf_assigned(spark, sf_dir),
            "pq_codebook": _pq_codebook_df(spark, sf_dir),
            "pq_codes": _pq_codes_df(spark, sf_dir),
        },
        count=n_cand,
    )
    return root


def load_ann_index(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> dict[str, DataFrame]:
    """Session-memoized ``_load_ann_index_fresh`` (r14 opt): the
    staleness probes — meta collect, corpus count, batch listings, two
    effective-relation counts — cost ~6 driver actions (~1 s) per call,
    re-verifying an index nothing touched. The store's staleness memo
    (mutation epoch + meta fingerprint) keeps the fresh loader's
    contract at the cost of one FS metadata call."""
    root = root or _ann_index_root(spark, sf_dir)
    return indexstore.memo(
        spark, root, ("ann_index_loaded", sf_dir),
        lambda: _load_ann_index_fresh(spark, sf_dir, root),
    )


def _load_ann_index_fresh(
    spark: SparkSession, sf_dir: str, root: str
) -> dict[str, DataFrame]:
    """Load the persisted ANN index, (re)building it first when absent,
    version-mismatched, trained on a different candidate count, or
    INTERNALLY INCONSISTENT (a crash between a batch's two relation
    writes leaves assigned/codes disagreeing) — the every-job entry
    point: train once, probe forever. NOTE the staleness contract: the
    index serves the corpus at ``sf_dir``; appended batches must mirror
    corpus growth (the crawl workflow), or the next load sees a count
    mismatch and retrains from the current corpus, discarding appends."""
    from generic_data_ingestor_framework_spark.fileops import (
        hadoop_exists,
        hadoop_list_dirs,
    )

    def _tags(rel: str) -> set[str]:
        return {p.rstrip("/").rsplit("/", 2)[-2] for p in ANN_INDEX.batch_paths(spark, root, rel)}

    def _views() -> dict[str, DataFrame]:
        return {rel: ANN_INDEX.view(spark, root, rel) for rel in ANN_INDEX.deltas}

    stale = True
    if hadoop_exists(spark, f"{root}/meta"):
        meta = spark.read.parquet(f"{root}/meta").collect()[0]
        n_cand = _vectors(spark, sf_dir).filter(F.col("vec_id") >= N_QUERY).count()
        stale = (
            meta["version"] != ANN_INDEX_VERSION
            or meta["n_candidates"] != n_cand
            # batch-tag SYMMETRY: every append/supersede writes the same
            # tag for both relations, so an asymmetric set is a
            # mid-write crash. Counts alone cannot catch a half-written
            # SUPERSEDE (it replaces rows — both effective counts still
            # match the corpus), so this listing is that path's probe
            or _tags("ivf_assigned") != _tags("pq_codes")
        )
        if not stale:
            views = _views()
            stale = (
                views["ivf_assigned"].count() != n_cand
                or views["pq_codes"].count() != n_cand * PQ_M
            )
    if stale:
        # a retrain DISCARDS any batches — that is the staleness
        # contract (appends must mirror corpus growth), but losing them
        # must be observable, not silent
        batches = hadoop_list_dirs(spark, f"{root}/batches") + hadoop_list_dirs(
            spark, f"{root}/tombstones"
        )
        if batches:
            import warnings

            warnings.warn(
                f"load_ann_index: retraining {root} discards "
                f"{len(batches)} batch director"
                f"{'y' if len(batches) == 1 else 'ies'} (index does not "
                f"match the corpus at {sf_dir} — appends not mirrored by "
                f"corpus growth, or a crash left the index inconsistent)",
                RuntimeWarning,
                stacklevel=2,
            )
        save_ann_index(spark, sf_dir, root)
        views = _views()
    return {
        "ivf_centroids": spark.read.parquet(f"{root}/ivf_centroids"),
        "pq_codebook": spark.read.parquet(f"{root}/pq_codebook"),
        **views,
    }


def _encode_batch(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    batch_tag: str,
    gen: int,
    write_meta: bool,
) -> int:
    """Encode (vec_id, v) rows against the SAVED quantizers — nearest
    saved IVF centroid, saved PQ codebooks (standard IVF/PQ append: the
    quantizers are trained once, the inverted lists grow) — and write
    them as one store batch at ``gen``. Encoding is deterministic
    (rounded sims/distances, id tie-breaks), so re-encoding an
    identical vector reproduces its cell and codes exactly. Returns the
    batch's row count."""
    cdf = spark.read.parquet(f"{root}/ivf_centroids")
    codebook = spark.read.parquet(f"{root}/pq_codebook")
    new_vectors = new_vectors.persist()  # 2 writes + 1 count, 1 lineage pay
    try:
        ANN_INDEX.write_batch(
            spark,
            root,
            batch_tag,
            {
                "ivf_assigned": _nearest_cells(
                    cdf, _pts_of(new_vectors), "pv", "pn", "point_id", 1
                ),
                "pq_codes": _encode_pq(new_vectors, codebook),
            },
            gen,
            write_meta,
        )
        return new_vectors.count()
    finally:
        new_vectors.unpersist()


def append_ann_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    batch_tag: str,
    write_meta: bool = True,
) -> int:
    """Add a NEW batch of candidate vectors to a saved ANN index
    WITHOUT retraining — the every-crawl loop for vectors: a generation-0
    store batch encoded against the saved quantizers. ``new_vectors``:
    (vec_id, v array<double>) with ids disjoint from the indexed set;
    ``batch_tag`` names the crawl batch, so a retried append replaces
    itself, and meta's candidate count is RECOMPUTED from the stored
    view (a retry cannot double-count). Returns the appended row count.
    ``write_meta=False`` defers the meta commit to the last mutation of
    a back-to-back sequence (the uncommitted state equals the mid-write
    crash state the meta-last protocol already handles)."""
    return _encode_batch(spark, new_vectors, root, batch_tag, 0, write_meta)


def supersede_ann_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    batch_tag: str,
    gen: int,
    write_meta: bool = True,
) -> int:
    """Register RE-CRAWLED CHANGED vectors: the ``append_ann_index``
    encode, but ids MAY overlap the indexed set and rows carry
    generation ``gen`` (> every generation previously written for these
    ids — the crawl loop's monotonic batch counter): the effective view
    stops serving the ids' previous vectors immediately and compaction
    drops them physically."""
    return _encode_batch(spark, new_vectors, root, batch_tag, gen, write_meta)


def delete_ann_index_ids(
    spark: SparkSession,
    ids: DataFrame,
    root: str,
    batch_tag: str,
    gen: int,
    write_meta: bool = True,
) -> int:
    """Tombstone vectors (a ``vec_id`` frame) out of a saved ANN index
    at generation ``gen`` (the crawl loop's 'document gone' signal).
    Returns the effective candidate count after the delete (-1 with
    ``write_meta=False``)."""
    return ANN_INDEX.write_tombstones(
        spark, root, batch_tag, ids.select("vec_id"), gen, write_meta
    )


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
        lambda: _nearest_cells(
            cdf, _query_side(spark, sf_dir), "qv", "qn", "query_id", N_PROBES, ranked=True
        ),
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
    # the total is a window over the cell counts of the index AS STORED
    # (not a session-cached copy): building the member runs no job, and
    # running it scans the index once
    return _sql(spark, sf_dir, """
        SELECT CAST(cell AS INT) AS cell, n_points,
               (n_points * 10000) DIV sum(n_points) OVER () AS share_bp
        FROM (SELECT cell, count(1) AS n_points FROM {assigned} GROUP BY cell)
        ORDER BY cell
    """, assigned=load_ann_index(spark, sf_dir)["ivf_assigned"])


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
    enforcement arm, next to the store's ``maybe_compact`` (which keeps
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
    ``append_ann_index`` / the store's effective view, mirroring
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
    COMPACTION (``ANN_INDEX.compact``: batch subdirs folded into the
    cell-partitioned base, meta-last) — identical values with a new
    phase tag, so the gate pins layout-invariance of the compaction.
    Single-writer contract: the crawl root is namespaced per session
    (``_member_root``), so concurrent sessions sharing a
    warehouse cannot corrupt each other mid-read.

    Scale shape: identical to ``ann_ivf_persisted``/``ann_pq_persisted``
    — the probe side reads only the probed cell partitions plus the
    (batch-sized) appended subdirectories; quantizers stay trained
    once, inverted lists grow per crawl."""
    root = _member_root(spark, sf_dir, "crawl")
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
    assigned = ANN_INDEX.view(spark, root, "ivf_assigned")
    codebook = spark.read.parquet(f"{root}/pq_codebook")
    codes = ANN_INDEX.view(spark, root, "pq_codes")

    qs = _query_side(spark, sf_dir)
    probed = _nearest_cells(cdf, qs, "qv", "qn", "query_id", N_PROBES, ranked=True)
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
        _norm("v").alias("cn"),
    )
    batch_cn = batch.select(
        F.col("vec_id").alias("point_id"),
        F.col("v").alias("cv"),
        _norm("v").alias("cn"),
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
    ANN_INDEX.compact(spark, root)
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
    ``delete_ann_index_ids`` / the store's effective view /
    tombstone-dropping ``ANN_INDEX.compact``
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
    root = _member_root(spark, sf_dir, "recrawl")
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
    assigned = ANN_INDEX.view(spark, root, "ivf_assigned")
    codes = ANN_INDEX.view(spark, root, "pq_codes")

    qs = _query_side(spark, sf_dir)  # local memoized rows - no corpus scan (r15)
    probed = _nearest_cells(cdf, qs, "qv", "qn", "query_id", N_PROBES, ranked=True)
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
        .withColumn("cn", _norm("cv"))
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

    ANN_INDEX.compact(spark, root)
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


def _member_root(spark: SparkSession, sf_dir: str, kind: str) -> str:
    from generic_data_ingestor_framework_spark.fileops import sf_tag

    return indexstore.member_root(spark, f"ann_index_{sf_tag(sf_dir)}_{kind}")


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
    return local_relation(
        spark,
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
    pressure, run ``ANN_INDEX.maybe_compact`` — it MUST fire — and
    measure again. Stage 1 pins the observed pressure (delta ids = the
    touched cohort, base ids = all candidates); stage 2 pins the
    enforcement (delta drained, pressure 0, base = the effective
    corpus: candidates minus the tombstoned cohort). The DuckDB oracle
    recomputes both stages from the id cohorts alone — the pressure
    contract is pure counting.

    Scale shape: the pressure probe is parquet-metadata counts plus
    one distinct over the batch-sized marks; compaction is the one
    full rewrite the policy exists to schedule."""
    root = _member_root(spark, sf_dir, "pressure")
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
    p1 = ANN_INDEX.pressure_stats(spark, root)
    # p1 measured the exact state maybe_compact would re-measure —
    # pass it through (r14 opt: one stats pass instead of two)
    dec = ANN_INDEX.maybe_compact(spark, root, stats=p1)
    p2 = ANN_INDEX.pressure_stats(spark, root)
    rows = [
        (1, p1["base_ids"], p1["delta_ids"], p1["pressure_bp"], False),
        (2, p2["base_ids"], p2["delta_ids"], p2["pressure_bp"], dec["compacted"]),
    ]
    return local_relation(
        spark,
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

    root = _member_root(spark, sf_dir, "streamidx")
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
    assigned = ANN_INDEX.view(spark, root, "ivf_assigned")
    qs = _query_side(spark, sf_dir)  # local memoized rows - no corpus scan (r15)
    probed = _nearest_cells(cdf, qs, "qv", "qn", "query_id", N_PROBES, ranked=True)
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
    slicing; ds = len(v) // PQ_M, the slices ``_pq_train`` cuts). ``rel``
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
