"""Round-9 wave 48 (SURVEY.md §2): conditional entropy of event
transitions (C183) and the duplicate-cluster size distribution (C184).

C183 finishes the information-theoretic battery (C69 entropy, C131
MI, C136 KL, C169 JS) with the sequence-flavored member: how
predictable is the NEXT event given the current one. C184 turns the
dedup family's cluster output into the corpus-health histogram
operators actually chart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# --------------------------- C183 transition conditional entropy


@query(
    "q_transition_entropy",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id
               ) AS nxt
        FROM events
    ),
    tr AS (
        SELECT event_type AS s, nxt AS t, CAST(count(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    per_s AS (SELECT s, CAST(sum(c) AS BIGINT) AS cs FROM tr GROUP BY 1),
    terms AS (
        SELECT tr.s, tr.t, per_s.cs,
               {sql_srnd(
                   "-(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE))"
                   " * ln(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE))",
                   8)} AS term
        FROM tr JOIN per_s USING (s)
    )
    SELECT s AS event_type, CAST(max(cs) AS BIGINT) AS n_transitions,
           {sql_srnd("list_sum(list(term ORDER BY t))", 6)} AS h_next_nats
    FROM terms GROUP BY s
    """,
)
def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy (C183): for each event type s,
    H(next | s) = −Σ_t p(t|s)·ln p(t|s) over the per-user event
    transition matrix — how predictable a user's NEXT action is
    given the current one (0 = deterministic funnel step, ln|types|
    = uniform). The sequence-flavored member of the info battery
    (C69 token entropy, C131 MI, C136 KL, C169 JS), and the number
    behind "is this surface a funnel or a browse" product questions;
    C79's top paths show WHICH sequences, this scores HOW
    concentrated.

    Transitions order by (µs-truncated ts, event_id) per user — the
    same total order C79/C130 use (immune to the ns-vs-µs read
    divergence); counts are exact BIGINTs; each term is one fixed
    IEEE sequence srnd8'd and the per-s sum folds in successor order
    (C69).

    Scale shape: one user-keyed window builds successor pairs (the
    sessionization shuffle every sequence op pays), then a
    map-side-combining groupBy to the ≤|types|² transition matrix;
    entropy is arithmetic over that marginal frame.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    tr = persist(seq.groupBy(
        F.col("event_type").alias("s"), F.col("nxt").alias("t")
    ).agg(F.count("*").cast("long").alias("c")))
    per_s = tr.groupBy("s").agg(F.sum("c").cast("long").alias("cs"))
    p = F.col("c").cast("double") / F.col("cs").cast("double")
    terms = tr.join(F.broadcast(per_s), "s").select(
        "s", "t", "cs", srnd(-p * F.log(p), 8).alias("term")
    )
    return terms.groupBy(F.col("s").alias("event_type")).agg(
        F.max("cs").cast("long").alias("n_transitions"),
        srnd(
            F.expr(
                "aggregate(array_sort(collect_list(struct(t, term))),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
            ),
            6,
        ).alias("h_next_nats"),
    )


# ------------------------- C184 duplicate-cluster size distribution


@query(
    "q_dup_cluster_sizes",
    oracle="""
    WITH h AS (
        SELECT md5(text) AS hh, CAST(count(*) AS BIGINT) AS sz
        FROM documents GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM h GROUP BY sz
    """,
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution (C184): group documents by
    exact text hash and histogram the CLUSTER sizes — how much of
    the corpus sits in singletons vs 2-copies vs mega-clusters. The
    corpus-health chart dedup operators report against (a crawl
    whose mass shifts toward big clusters has a mirror-site or
    pagination bug; C6 dedups, C172 attributes to sources, this
    shows the SHAPE), and the input to "expected tokens removed by
    dedup" capacity math: docs − clusters = rows a C6 pass drops.

    Determinism: pure integer counting over md5 equality — no
    thresholds, no floats.

    Scale shape: ONE hash-keyed partial-agg shuffle (hashes move,
    text doesn't) then a map-side-combining groupBy over cluster
    sizes — the second agg's domain is the distinct cluster sizes
    (tiny). The dedup family's standard working set end to end.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.md5("text").alias("hh")
    )
    h = d.groupBy("hh").agg(F.count("*").cast("long").alias("sz"))
    return h.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("long").alias("n_docs"),
    )
