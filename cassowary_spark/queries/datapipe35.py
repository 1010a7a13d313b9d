"""Round-8 wave 37 (SURVEY.md §2): class-based TF-IDF label keywords
(C162) and the language-ID confusion matrix (C163) — corpus-card
analytics over the labeled slice of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.queries.llm import _duck_lang_id
from cassowary_spark.operators.text import lang_id
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# --------------------------------------------- C162 c-TF-IDF keywords

_CK_TOPK = 5
_CK_MIN_CTF = 5  # drop hapax-ish terms before scoring


@query(
    "q_label_keywords",
    oracle=f"""
    WITH d AS (
        SELECT e.label, doc.text
        FROM documents doc JOIN embeddings e ON e.vec_id = doc.doc_id
    ),
    tok AS (
        SELECT label, unnest(string_split(text, ' ')) AS term FROM d
    ),
    ctf AS (
        SELECT label, term, count(*) AS tf
        FROM tok GROUP BY label, term
        HAVING count(*) >= {_CK_MIN_CTF}
    ),
    tot AS (SELECT label, CAST(sum(tf) AS BIGINT) AS tot FROM ctf GROUP BY label),
    ldf AS (SELECT term, count(*) AS df FROM ctf GROUP BY term),
    nl AS (SELECT count(DISTINCT label) AS n_labels FROM ctf),
    scored AS (
        SELECT c.label, c.term, c.tf,
               {sql_srnd(
                   "CAST(c.tf AS DOUBLE) / CAST(t.tot AS DOUBLE)"
                   " * ln(1.0 + CAST(nl.n_labels AS DOUBLE)"
                   "            / CAST(f.df AS DOUBLE))", 8)} AS score8
        FROM ctf c
        JOIN tot t ON t.label = c.label
        JOIN ldf f ON f.term = c.term
        CROSS JOIN nl
    ),
    ranked AS (
        SELECT label, term, tf, score8,
               row_number() OVER (PARTITION BY label
                                  ORDER BY score8 DESC, term ASC) AS rnk
        FROM scored
    )
    SELECT CAST(label AS INT) AS label, term,
           CAST(tf AS BIGINT) AS tf,
           CAST(rnk AS INT) AS rnk,
           {sql_srnd("score8", 6)} AS score
    FROM ranked WHERE rnk <= {_CK_TOPK}
    """,
)
def q_label_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF keywords (C162): the top terms that
    CHARACTERIZE each label — c-TF-IDF (the BERTopic topic-labeling
    statistic): per-label term frequency normalized by the label's
    token mass, weighted by ln(1 + n_labels/df) over LABELS (not
    documents), so corpus-wide words sink and label-distinctive words
    surface. The labeled slice joins documents to embeddings on
    doc_id = vec_id.

    Determinism: counts are exact integers; the score is ONE ln over
    an identically-computed double, srnd8-quantized BEFORE ranking so
    the rank boundary cannot flip on a 1-ulp libm difference (the
    q_weighted_sample priority discipline), with a term tiebreak;
    output re-quantizes to srnd6.

    Scale shape: explode → (label, term) partial agg is the C-series
    token shape (map-side combine shrinks the shuffle to label×vocab);
    totals and label-df are rollups of that frame; n_labels rides a
    1-row cross join; the rank window partitions by label over the
    scored vocab frame, never the corpus.
    """
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    d = doc.join(emb, doc.doc_id == emb.vec_id).select("label", "text")
    tok = d.select("label", F.explode(F.split("text", " ")).alias("term"))
    ctf = persist(
        tok.groupBy("label", "term")
        .agg(F.count("*").alias("tf"))
        .filter(F.col("tf") >= _CK_MIN_CTF)
    )  # label x vocab frame; tot/ldf/nl/score reuse it
    tot = ctf.groupBy("label").agg(F.sum("tf").alias("tot"))
    ldf = ctf.groupBy("term").agg(F.count("*").alias("df"))
    nl = ctf.agg(F.countDistinct("label").alias("n_labels"))
    scored = (
        ctf.join(F.broadcast(tot), "label")
        .join(F.broadcast(ldf), "term")
        .crossJoin(F.broadcast(nl))
        .select(
            "label",
            "term",
            "tf",
            srnd(
                F.col("tf").cast("double")
                / F.col("tot").cast("double")
                * F.log(
                    F.lit(1.0)
                    + F.col("n_labels").cast("double")
                    / F.col("df").cast("double")
                ),
                8,
            ).alias("score8"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("score8"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CK_TOPK)
        .select(
            F.col("label").cast("int").alias("label"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("rnk").cast("int").alias("rnk"),
            srnd(F.col("score8"), 6).alias("score"),
        )
    )


# --------------------------------------------- C163 lang-id confusion matrix


@query(
    "q_confusion_matrix",
    oracle=f"""
    WITH p AS (
        SELECT lang, {_duck_lang_id()} AS lang_pred FROM documents
    ),
    cells AS (
        SELECT lang, lang_pred, count(*) AS n
        FROM p GROUP BY lang, lang_pred
    ),
    tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY lang)
    SELECT c.lang, c.lang_pred, CAST(c.n AS BIGINT) AS n,
           {sql_srnd(
               "CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE)", 6)} AS frac
    FROM cells c JOIN tot t ON t.lang = c.lang
    """,
)
def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (C163): true lang × predicted
    lang counts with row-normalized fractions — the evaluation view of
    the C4 lang-ID heuristic (diagonal frac = per-language recall;
    the 'und' column shows the abstention rate). Completes the
    classifier-evaluation axis next to q_roc_auc (scores),
    q_calibration_bins (probabilities) and q_cohens_kappa
    (agreement) with the multiclass count view.

    Scale shape: the predictor is a row-local JVM expression chain
    (no UDF); cells are one map-side-combining groupBy on a
    langs²-bounded key; row totals ROLL UP from the cells (no second
    corpus pass); the final join is broadcast-size.
    """
    from cassowary_spark.operators.skew import spread_narrow_input

    # r15: the per-doc lang_id expression chain ran inside a 1-2-task
    # scan stage; spread only when under-parallel (no-op at scale)
    d = spread_narrow_input(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        ),
        "doc_id",
    ).select("lang", "text")
    p = d.select("lang", lang_id(F.col("text")).alias("lang_pred"))
    cells = persist(p.groupBy("lang", "lang_pred").agg(F.count("*").alias("n")))
    tot = cells.groupBy("lang").agg(F.sum("n").alias("nt"))
    return cells.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_pred",
        F.col("n").cast("long").alias("n"),
        srnd(F.col("n").cast("double") / F.col("nt").cast("double"), 6).alias(
            "frac"
        ),
    )
