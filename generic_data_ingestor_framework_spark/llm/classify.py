"""Text-classification pipeline: multinomial Naive Bayes over the
``documents`` table (train on the corpus's lang labels, predict lang
per document).

The shape a production quality/language classifier takes on Spark when
the model is trained IN the engine: every stage is a join or a
hash-aggregate of one Spark SQL text — no UDFs, no driver-side model
object, no collect, so building a member runs no Spark job.

- token counts per (lang, token) + per-lang totals → the model
- Laplace-smoothed log-likelihoods, one array per token in lang
  order, joined back onto per-doc token counts (langs × vocab is
  broadcast-sized; the doc-token relation is the big side)
- argmax over langs as a min over (−score, lang) structs (ties broken
  alphabetically)

Determinism contract for the DuckDB oracle: per-(doc, lang) scores are
rounded to 4 dp before the argmax and ties break on lang, so the two
engines' independent float summation orders cannot flip a prediction
unless two scores agree to 4 dp — in which case both engines pick the
same alphabetically-first lang.

Scale notes (100 TB): the model (langs × vocab log-probs) is a
broadcast join; doc scoring shuffles nothing (the token relation is
hashed on doc_id).
Vocabulary would be frequency-pruned at real scale (the same DF-cap
machinery as dedup.DF_CAP); accuracy is reported by
``nb_lang_confusion`` so a pruned model's cost is measurable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from generic_data_ingestor_framework_spark.llm.dedup import DOC_HASH_SQL, tokens_sql
from generic_data_ingestor_framework_spark.relational import _sql

LAPLACE = 1.0
SCORE_DP = 4  # round scores to 4 dp before argmax (cross-engine tie contract)


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, lang, token) counts, persisted once per session: the
    relation feeds the model, the priors, the scoring side, and both
    confusion queries — and repeated invocations must reuse one copy.
    Hashed on ``doc_id`` (``dedup._spread``), so the per-document
    scoring aggregates downstream need no shuffle of their own."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist
    from generic_data_ingestor_framework_spark.llm.dedup import _spread

    return shared_persist(spark, ("nb_doc_tokens", sf_dir), lambda: _sql(spark, sf_dir, f"""
        SELECT doc_id, lang, tok, count(1) AS n
        FROM (SELECT doc_id, lang, explode(toks) AS tok
              FROM (SELECT {_spread(spark)} doc_id, lang, {tokens_sql()} AS toks
                    FROM {{documents}}))
        WHERE tok != '' GROUP BY doc_id, lang, tok
    """))


# Holdout split: train on hash(doc_id)%100 < 80, score the rest — the
# same portable-hash 80/20 boundary as sampling.train_val_test_split,
# so split membership is engine- and partitioning-independent.
TRAIN_PCT = 80


def _split_sql(holdout: bool, train: bool) -> str:
    """Spark SQL predicate on ``doc_id``: the rows of the train (or the
    scored) side; every row when not ``holdout``."""
    if not holdout:
        return "true"
    return f"{DOC_HASH_SQL} % 100 {'<' if train else '>='} {TRAIN_PCT}"


def _nb_model(spark: SparkSession, sf_dir: str, holdout: bool) -> dict[str, DataFrame]:
    """The frames ``_preds_sql`` reads: ``toks`` (``_doc_tokens``),
    ``langs`` — ONE row, the array of training langs in lang order, each
    with its log-prior ``ln(nd/N)`` and Laplace denominator
    ``total + V`` — and ``model``: per corpus token, ``lps``, its
    log-likelihood under each lang of that array,
    ``ln((count in training + 1)/denom)``. A (lang, token) pair absent
    from training, or a token absent from it altogether (holdout),
    reads a count of 0, i.e. the lang's smoothing floor. Both relations
    are persisted per (sf_dir, split): the vocab size V, the doc count N
    and the lang order are in-plan aggregates, so no scalar ever leaves
    the cluster."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist

    toks = _doc_tokens(spark, sf_dir)
    train = _split_sql(holdout, True)
    langs = shared_persist(spark, ("nb_langs", sf_dir, holdout), lambda: _sql(spark, sf_dir, f"""
        WITH train AS (SELECT * FROM {{toks}} WHERE {train})
        SELECT /*+ BROADCAST(g) */
               array_sort(collect_list(named_struct('lang', lang, 'prior', ln(nd / n_docs),
                                                    'denom', total + {LAPLACE}D * v))) AS langs
        FROM (SELECT lang, sum(n) AS total, count(DISTINCT doc_id) AS nd
              FROM train GROUP BY lang)
        CROSS JOIN (SELECT count(DISTINCT tok) AS v, count(DISTINCT doc_id) AS n_docs
                    FROM train) g
    """, toks=toks))
    model = shared_persist(spark, ("nb_model", sf_dir, holdout), lambda: _sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(l) */ tok,
               transform(l.langs, x -> ln((coalesce(c[x.lang], 0) + {LAPLACE}D) / x.denom)) AS lps
        FROM (SELECT tok, map_from_entries(collect_list(struct(lang, c))) AS c
              FROM (SELECT tok, lang, sum(CASE WHEN {train} THEN n ELSE 0 END) AS c
                    FROM {{toks}} GROUP BY tok, lang)
              GROUP BY tok)
        CROSS JOIN {{langs}} l
    """, toks=toks, langs=langs))
    return {"toks": toks, "langs": langs, "model": model}


def _preds_sql(holdout: bool) -> str:
    """Spark SQL over ``_nb_model``'s frames: ``(doc_id, lang,
    pred_lang)`` for every scored document (``holdout``: the held-out
    20%, else every document).

    Scale shape: each corpus-sized token row joins the broadcast model
    ONCE, on the token, and its log-likelihood array explodes to one
    ``(i, lp)`` row per lang (the model covers every corpus token, so
    the join is inner). One aggregate gives each (doc, lang) score, and
    the argmax is a second, doc-sized aggregate: the min of (−rounded
    score, lang) structs, so 4-dp ties go to the alphabetically-first
    lang. Both are keyed by ``doc_id``, on which ``_doc_tokens`` is
    hashed, so scoring runs no shuffle."""
    return f"""
        SELECT /*+ BROADCAST(l) */ doc_id, lang,
               min(named_struct('neg', -round(s + l.langs[i].prior, {SCORE_DP}),
                                'm', l.langs[i].lang)).m AS pred_lang
        FROM (SELECT doc_id, lang, i, sum(n * lp) AS s
              FROM (SELECT /*+ BROADCAST(m) */ d.doc_id, d.lang, d.n, posexplode(m.lps) AS (i, lp)
                    FROM (SELECT * FROM {{toks}} WHERE {_split_sql(holdout, False)}) d
                    JOIN {{model}} m USING (tok))
              GROUP BY doc_id, lang, i)
        CROSS JOIN {{langs}} l
        GROUP BY doc_id, lang
    """


def nb_lang_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document predicted lang vs actual (self-train demo of the
    pipeline; ``nb_holdout_confusion`` is the honest-evaluation run)."""
    return _sql(spark, sf_dir, _preds_sql(False), **_nb_model(spark, sf_dir, False))


_CONFUSION_SQL = """
        SELECT lang, pred_lang, count(1) AS n_docs FROM ({preds})
        GROUP BY lang, pred_lang ORDER BY lang, pred_lang
"""


def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the self-train NB run (actual × predicted
    doc counts). Overstates accuracy by construction — gate rollouts on
    ``nb_holdout_confusion`` instead."""
    text = _CONFUSION_SQL.format(preds=_preds_sql(False))
    return _sql(spark, sf_dir, text, **_nb_model(spark, sf_dir, False))


def nb_holdout_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest NB evaluation: model trained on the 80% hash split, the
    confusion matrix computed only over the held-out 20% (train∩test=∅)."""
    text = _CONFUSION_SQL.format(preds=_preds_sql(True))
    return _sql(spark, sf_dir, text, **_nb_model(spark, sf_dir, True))


def classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-classifier agreement: the heuristic language-ID and the
    Naive Bayes predictions compared per document — observed agreement,
    chance agreement from the marginals, and Cohen's kappa. The model-
    governance check a pipeline runs before swapping one labeler for
    another: high raw agreement with low kappa means both are mostly
    predicting the majority class.

    Kappa is computed from INTEGER counts only —
    ``(A·n − Σ_c r_c·s_c) / (n² − Σ_c r_c·s_c)`` with A = agreements,
    r/s the per-class marginals — one division at the edge (4-dp
    floor), so both engines produce the identical value.

    Scale shape: one per-doc join, one contingency aggregate (classes²
    rows), marginal rollups on that tiny relation; the corpus is
    touched once per classifier. The contingency is persisted per
    session (its lineage is both classifier pipelines). One pass over
    it gives the per-class marginals r (rows) and s (columns) and the
    agreements; a second, class-sized aggregate folds them."""
    from generic_data_ingestor_framework_spark.cachemgr import shared_persist
    from generic_data_ingestor_framework_spark.llm.textstats import lang_id_heuristic

    cont = shared_persist(spark, ("kappa_contingency", sf_dir), lambda: _sql(spark, sf_dir, f"""
        SELECT pred_lang AS a, lang_guess AS b, count(1) AS n
        FROM ({_preds_sql(False)}) JOIN {{h}} USING (doc_id)
        GROUP BY pred_lang, lang_guess
    """, h=lang_id_heuristic(spark, sf_dir), **_nb_model(spark, sf_dir, False)))
    return _sql(spark, sf_dir, """
        SELECT n_docs, n_agree, floor(n_agree * 10000 / n_docs) / 10000 AS po,
               floor(s * 10000 / (n_docs * n_docs)) / 10000 AS pe,
               CASE WHEN n_docs * n_docs - s > 0
                    THEN floor((n_agree * n_docs - s) * 10000 / (n_docs * n_docs - s)) / 10000
                    ELSE 0.0D END AS kappa
        FROM (SELECT sum(r) AS n_docs, coalesce(sum(agree), 0) AS n_agree,
                     coalesce(sum(CASE WHEN c IS NOT NULL THEN r * s END), 0) AS s
              FROM (SELECT c, sum(r) AS r, sum(s) AS s, sum(agree) AS agree
                    FROM (SELECT inline(array(
                            named_struct('c', a, 'r', n, 's', 0L,
                                         'agree', CASE WHEN a = b THEN n END),
                            named_struct('c', b, 'r', 0L, 's', n,
                                         'agree', CAST(NULL AS BIGINT))))
                          FROM {cont})
                    GROUP BY c))
    """, cont=cont)


QUERIES = {
    "classifier_agreement_kappa": classifier_agreement_kappa,
    "nb_lang_predictions": nb_lang_predictions,
    "nb_lang_confusion": nb_lang_confusion,
    "nb_holdout_confusion": nb_holdout_confusion,
}

# portable 80/20 split boundary in DuckDB terms (same hash as Spark side)
_SPLIT_BUCKET = "(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100)"


def _nb_ctes(train_where: str = "TRUE", score_where: str = "TRUE") -> str:
    return f"""
        tok0 AS (
          SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents
        ),
        toks_all AS MATERIALIZED (
          SELECT doc_id, lang, tok, count(*) AS n FROM tok0
          WHERE tok <> '' GROUP BY doc_id, lang, tok
        ),
        toks AS MATERIALIZED (SELECT * FROM toks_all WHERE {train_where}),
        score_toks AS MATERIALIZED (SELECT * FROM toks_all WHERE {score_where}),
        lang_tok AS MATERIALIZED (
          SELECT lang, tok, sum(n) AS c FROM toks GROUP BY lang, tok
        ),
        lang_tot AS MATERIALIZED (SELECT lang, sum(c) AS total FROM lang_tok GROUP BY lang),
        vocab AS (SELECT count(DISTINCT tok) AS v FROM lang_tok),
        ndocs AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),
        priors AS (
          SELECT lang AS p_lang, ln(count(*) / (SELECT nd FROM ndocs)) AS log_prior
          FROM (SELECT DISTINCT doc_id, lang FROM toks) GROUP BY lang
        ),
        model AS MATERIALIZED (
          SELECT lt.lang AS m_lang, lt.tok,
                 ln((lt.c + {LAPLACE}) / (t.total + {LAPLACE} * (SELECT v FROM vocab))) AS log_p
          FROM lang_tok lt JOIN lang_tot t ON lt.lang = t.lang
        ),
        floors AS (
          SELECT lang AS m_lang,
                 ln({LAPLACE} / (total + {LAPLACE} * (SELECT v FROM vocab))) AS log_floor
          FROM lang_tot
        ),
        scored AS MATERIALIZED (
          SELECT d.doc_id, d.lang AS actual_lang, f.m_lang,
                 round(sum(d.n * coalesce(m.log_p, f.log_floor)) + any_value(p.log_prior),
                       {SCORE_DP}) AS score
          FROM score_toks d
          CROSS JOIN floors f
          LEFT JOIN model m ON m.m_lang = f.m_lang AND m.tok = d.tok
          JOIN priors p ON p.p_lang = f.m_lang
          GROUP BY d.doc_id, d.lang, f.m_lang
        ),
        preds AS MATERIALIZED (
          SELECT doc_id, actual_lang AS lang, m_lang AS pred_lang FROM (
            SELECT doc_id, actual_lang, m_lang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, m_lang) AS rn
            FROM scored) WHERE rn = 1
        )
"""


_HOLDOUT_CTES = _nb_ctes(
    train_where=f"{_SPLIT_BUCKET} < {TRAIN_PCT}",
    score_where=f"{_SPLIT_BUCKET} >= {TRAIN_PCT}",
)

ORACLES = {
    "nb_lang_predictions": f"""
        WITH {_nb_ctes()}
        SELECT doc_id, lang, pred_lang FROM preds
    """,
    "nb_lang_confusion": f"""
        WITH {_nb_ctes()}
        SELECT lang, pred_lang, count(*) AS n_docs
        FROM preds GROUP BY lang, pred_lang ORDER BY lang, pred_lang
    """,
    "nb_holdout_confusion": f"""
        WITH {_HOLDOUT_CTES}
        SELECT lang, pred_lang, count(*) AS n_docs
        FROM preds GROUP BY lang, pred_lang ORDER BY lang, pred_lang
    """,
}


# Agreement oracle: nests the NB-prediction and heuristic-language-ID
# oracles verbatim, then pure integer-count kappa arithmetic
from generic_data_ingestor_framework_spark.llm import textstats as _ts  # noqa: E402

ORACLES["classifier_agreement_kappa"] = f"""
        WITH nbp AS ({ORACLES["nb_lang_predictions"]}),
        hg AS ({_ts.ORACLES["lang_id_heuristic"]}),
        cont AS (
          SELECT nbp.pred_lang AS a, hg.lang_guess AS b,
                 CAST(count(*) AS BIGINT) AS n
          FROM nbp JOIN hg USING (doc_id) GROUP BY 1, 2
        ),
        ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS ra FROM cont GROUP BY a),
        rb AS (SELECT b, CAST(sum(n) AS BIGINT) AS rb FROM cont GROUP BY b),
        pe AS (SELECT CAST(COALESCE(sum(ra.ra * rb.rb), 0) AS BIGINT) AS s
               FROM ra JOIN rb ON ra.a = rb.b),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
                       CAST(COALESCE(sum(CASE WHEN a = b THEN n END), 0)
                            AS BIGINT) AS n_agree
                FROM cont)
        SELECT n_docs, n_agree,
               floor(n_agree * 10000 / n_docs) / 10000 AS po,
               floor(s * 10000 / (n_docs * n_docs)) / 10000 AS pe,
               CASE WHEN n_docs * n_docs - s > 0
                    THEN floor((n_agree * n_docs - s) * 10000
                               / (n_docs * n_docs - s)) / 10000
                    ELSE 0.0 END AS kappa
        FROM tot, pe
"""
