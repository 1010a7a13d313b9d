"""Product-analytics operators (SURVEY.md §2 C52-C54): ordered funnel
conversion, retention cohort grids, and an ANALYZE-style column
profiling battery — the reporting staples an OLAP engine serves daily,
each expressed so its only corpus shuffle is the key it genuinely
needs (user for funnel/retention, none for profiling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------------------------------ C52 funnel


@query(
    "q_funnel",
    oracle=f"""
    WITH t1 AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ),
    t2 AS (
        SELECT e.user_id,
               min(CASE WHEN e.event_type = 'click'
                        AND e.ts > t1.t_view THEN e.ts END) AS t_click
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        GROUP BY e.user_id
    ),
    t3 AS (
        SELECT e.user_id,
               min(CASE WHEN e.event_type = 'purchase'
                        AND e.ts > t2.t_click THEN e.ts END) AS t_buy
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        GROUP BY e.user_id
    ),
    f AS (
        SELECT t1.user_id, t1.t_view, t2.t_click, t3.t_buy
        FROM t1 JOIN t2 ON t1.user_id = t2.user_id
                JOIN t3 ON t1.user_id = t3.user_id
    )
    SELECT 1 AS stage, 'view' AS event_type,
           CAST(count(t_view) AS BIGINT) AS n_users,
           {sql_srnd("CAST(count(t_view) AS DOUBLE) / count(*)", 4)} AS rate
    FROM f
    UNION ALL
    SELECT 2, 'click', CAST(count(t_click) AS BIGINT),
           {sql_srnd("CAST(count(t_click) AS DOUBLE) / count(*)", 4)}
    FROM f
    UNION ALL
    SELECT 3, 'purchase', CAST(count(t_buy) AS BIGINT),
           {sql_srnd("CAST(count(t_buy) AS DOUBLE) / count(*)", 4)}
    FROM f
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (C52): how many users did
    view → click → purchase IN ORDER (each stage's first qualifying
    event must be strictly after the previous stage's) — the staple
    product-analytics report, whose ordering constraint is what makes
    it harder than three counts.

    Scale shape: three window selects sharing ONE user_id shuffle
    (each stage's min is a conditional aggregate over the same
    partition — no self-joins, no re-shuffle; the oracle spells the
    same logic as grouped CTEs). The final stage counts collapse to 3
    rows. At 100 TB this is the canonical "analyze a quarter of
    clickstream in one pass" query.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_buy",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_buy").alias("t_buy"),
    )
    f = per_user.agg(
        F.count("*").alias("n_total"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_buy").alias("n_buy"),
    )
    stages = f.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage"),
                    F.lit("view").alias("event_type"),
                    F.col("n_view").alias("n_users"),
                    srnd(F.col("n_view").cast("double") / F.col("n_total"), 4).alias(
                        "rate"
                    ),
                ),
                F.struct(
                    F.lit(2).alias("stage"),
                    F.lit("click").alias("event_type"),
                    F.col("n_click").alias("n_users"),
                    srnd(
                        F.col("n_click").cast("double") / F.col("n_total"), 4
                    ).alias("rate"),
                ),
                F.struct(
                    F.lit(3).alias("stage"),
                    F.lit("purchase").alias("event_type"),
                    F.col("n_buy").alias("n_users"),
                    srnd(F.col("n_buy").cast("double") / F.col("n_total"), 4).alias(
                        "rate"
                    ),
                ),
            )
        ).alias("s")
    )
    return stages.select("s.stage", "s.event_type", "s.n_users", "s.rate")


# ------------------------------------------------------------ C53 retention


@query(
    "q_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
        GROUP BY user_id
    ),
    act AS (
        SELECT e.user_id,
               strftime(f.d0 - CAST((dayofweek(f.d0) + 6) % 7 AS INTEGER),
                        '%Y-%m-%d') AS cohort_week,
               CAST(floor(date_diff('day', f.d0, CAST(e.ts AS DATE)) / 7)
                    AS BIGINT) AS week_offset
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM act GROUP BY cohort_week, week_offset
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort grid (C53): users bucketed by first-seen week
    (cohort, anchored to that week's Monday), counted distinct in each
    subsequent week offset — the (cohort × week) retention triangle
    every growth dashboard draws.

    Scale shape: the first-seen frame is one user-keyed partial-agg
    groupBy; the activity join is user-co-partitioned (reuses the same
    hash key); the grid agg's key space is weeks², tiny, with
    count-distinct expanding over already-co-partitioned user ids. No
    window over raw events, no self-join.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    act = ev.join(first_seen, "user_id").select(
        "user_id",
        F.date_format(
            F.date_sub(F.col("d0"), ((F.dayofweek("d0") + 5) % 7)), "yyyy-MM-dd"
        ).alias("cohort_week"),
        F.floor(F.datediff("d", "d0") / 7).cast("long").alias("week_offset"),
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )


# ------------------------------------------------------------ C54 profiling

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count({c}) AS BIGINT) AS n_nonnull,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               {sql_srnd(f"min({c})", 4)} AS min_val,
               {sql_srnd(f"max({c})", 4)} AS max_val,
               {sql_srnd(f"avg({c})", 4)} AS mean_val
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@query("q_profile_stats", oracle=_profile_oracle())
def q_profile_stats(
    spark: SparkSession, sf_dir: str, *, approx: bool = False
) -> DataFrame:
    """Column profiling battery (C54): per-column row/non-null/distinct
    counts and min/max/mean — the ANALYZE TABLE statistics pass that
    feeds a cost-based optimizer and every data-quality dashboard.

    Scale shape: ONE scan computes every column's plain aggregates
    map-side; the exact distinct counts Catalyst expand-rewrites into
    a single shuffle keyed by (column-id, value) — the honest linear
    floor the sf10 rehearsal measured at α=+1.05. ``approx=True``
    SHIPS the documented 100 TB evolution (r13): n_distinct via
    approx_count_distinct (HLL, rsd 2% — fully map-side combinable),
    making the whole profile one pass with zero wide shuffles; the
    agreement gate (tests/test_analytics.py) pins the sketch within
    its rsd of the exact counts on the fixtures. The exact form stays
    the default because the oracle must be bit-checkable. The
    per-column rows unpivot from the 1-row aggregate, not from a
    per-column re-scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    nd = (
        (lambda c: F.approx_count_distinct(c, rsd=0.02))
        if approx
        else F.countDistinct
    )
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            nd(c).alias(f"nd_{c}"),
            srnd(F.min(c), 4).alias(f"mn_{c}"),
            srnd(F.max(c), 4).alias(f"mx_{c}"),
            srnd(F.avg(c), 4).alias(f"av_{c}"),
        ]
    one = li.agg(*aggs)
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col("n_rows").alias("n_rows"),
                        F.col(f"nn_{c}").alias("n_nonnull"),
                        F.col(f"nd_{c}").cast("long").alias("n_distinct"),
                        F.col(f"mn_{c}").alias("min_val"),
                        F.col(f"mx_{c}").alias("max_val"),
                        F.col(f"av_{c}").alias("mean_val"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("s")
    )
    return rows.select(
        "s.col_name",
        "s.n_rows",
        "s.n_nonnull",
        "s.n_distinct",
        "s.min_val",
        "s.max_val",
        "s.mean_val",
    )


# ------------------------------------------------- B43 multi-insert fan-out


@query(
    "q_multi_insert",
    oracle=f"""
    SELECT 'by_type' AS sink, event_type AS grp,
           CAST(count(*) AS BIGINT) AS n,
           {sql_srnd("sum(value)", 2)} AS total
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'by_hour', CAST(hour(ts) AS VARCHAR),
           CAST(count(*) AS BIGINT),
           {sql_srnd("sum(value)", 2)}
    FROM events GROUP BY hour(ts)
    """,
)
def q_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-insert fan-out (B43): Hive's ``FROM src INSERT ... INSERT
    ...`` — ONE scan of the fact table feeding two differently-grouped
    sinks (per-type and per-hour rollups), here unioned into a tagged
    result so the oracle can gate both branches.

    Scale shape: the source is scanned once and cached (Shark's CACHE
    TABLE lineage — the InMemoryRelation serves both branches, plan-
    asserted for the cached path in tests/test_plans.py); each branch
    is an ordinary partial+final agg on a tiny key space. At 100 TB
    multi-insert halves the dominant cost (the scan) versus running
    the two reports separately.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    ev = persist(ev)
    by_type = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), srnd(F.sum("value"), 2).alias("total")
    ).select(
        F.lit("by_type").alias("sink"),
        F.col("event_type").alias("grp"),
        "n",
        "total",
    )
    by_hour = ev.groupBy(F.hour("ts").alias("h")).agg(
        F.count("*").alias("n"), srnd(F.sum("value"), 2).alias("total")
    ).select(
        F.lit("by_hour").alias("sink"),
        F.col("h").cast("string").alias("grp"),
        "n",
        "total",
    )
    return by_type.unionByName(by_hour)


# ------------------------------------------------- B44 IGNORE NULLS windows


@query(
    "q_window_ignore_nulls",
    oracle="""
    SELECT event_id, user_id,
           last_value(v IGNORE NULLS) OVER w AS carried,
           first_value(v IGNORE NULLS) OVER w AS first_seen,
           nth_value(v, 2 IGNORE NULLS) OVER w AS second_seen
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    )
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
)
def q_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window battery (B44): last_value (LOCF carry-
    forward), first_value, and nth_value over a running frame where
    'error' rows null out the measure — the observe-through-gaps
    semantics sensor and clickstream pipelines lean on (C12's gap
    fill uses the same last(ignorenulls) primitive on a joined spine;
    this exercises the full IGNORE NULLS surface directly).

    Scale shape: all three functions share ONE user-keyed window
    shuffle and one running frame — no joins, no spine.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last("v", ignorenulls=True).over(w).alias("carried"),
        F.first("v", ignorenulls=True).over(w).alias("first_seen"),
        F.nth_value("v", 2, ignoreNulls=True).over(w).alias("second_seen"),
    )


# ------------------------------------------------- B45 LATERAL subquery


_LATERAL_SQL = """
    SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_extendedprice
    FROM orders o,
         LATERAL (
             SELECT l_linenumber, l_extendedprice
             FROM lineitem
             WHERE l_orderkey = o.o_orderkey
             ORDER BY l_extendedprice DESC, l_linenumber
             LIMIT 2
         ) AS l
    WHERE o.o_totalprice > 400000
"""


@query("q_lateral_subquery", oracle=_LATERAL_SQL)
def q_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (B45): for each qualifying order,
    its top-2 lineitems by price — the correlated per-row-top-k SQL
    surface (Spark 3.2+ LATERAL joins; DuckDB runs the identical
    text). The classic pre-LATERAL rewrite is the window row_number
    pattern (B29); here the engine's decorrelator does it.

    Scale shape: Catalyst rewrites the correlated LIMIT into a
    windowed rank over the l_orderkey-keyed join — one key shuffle,
    WindowGroupLimit prunes past k; the orders filter pushes to the
    scan, so only qualifying keys join at all.
    """
    for t in ["orders", "lineitem"]:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


# ------------------------------------------------- C56 distribution drift


@query(
    "q_distribution_drift",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    c AS (
        SELECT term,
               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
        FROM tok GROUP BY term
    ),
    t AS (
        SELECT CAST(sum(c_a) AS DOUBLE) AS n_a,
               CAST(sum(c_b) AS DOUBLE) AS n_b,
               CAST(count(*) AS DOUBLE) AS v
        FROM c
    )
    SELECT term, c_a, c_b,
           {sql_srnd(
               "((c_a + 1.0) / (t.n_a + t.v))"
               " * ln(((c_a + 1.0) / (t.n_a + t.v))"
               " / ((c_b + 1.0) / (t.n_b + t.v)))", 8)} AS kl_term
    FROM c, t
    """,
)
def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift report (C56): per-term KL-divergence
    contributions between two corpus halves (doc-id parity stands in
    for "yesterday's crawl vs today's") with add-1 smoothing over the
    joint vocabulary — the drift monitor a data pipeline runs before
    admitting a new batch; Σ kl_term is KL(A‖B), and the biggest
    per-term contributors ARE the drift explanation.

    Scale shape: one term-keyed partial-agg groupBy builds both halves'
    counts in the same frame (conditional sums — the two distributions
    never shuffle separately); totals ride a 1-row broadcast crossJoin;
    the per-term KL is row-local. Counts are integer-exact; the only
    floats are the final ratio/ln per row, srnd-quantized.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    c = tok.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("c_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("c_b"),
    )
    t = c.agg(
        F.sum("c_a").cast("double").alias("n_a"),
        F.sum("c_b").cast("double").alias("n_b"),
        F.count("*").cast("double").alias("v"),
    )
    j = c.crossJoin(F.broadcast(t))
    p = (F.col("c_a") + F.lit(1.0)) / (F.col("n_a") + F.col("v"))
    q_ = (F.col("c_b") + F.lit(1.0)) / (F.col("n_b") + F.col("v"))
    return j.select(
        "term", "c_a", "c_b", srnd(p * F.log(p / q_), 8).alias("kl_term")
    )


# ------------------------------------------------- C57 MAD outliers


_MAD_K = 3.0  # flag |x - median| > K * MAD


@query(
    "q_mad_outliers",
    oracle=f"""
    WITH med AS (
        SELECT user_id, {sql_srnd("quantile_cont(value, 0.5)", 4)} AS med,
               count(*) AS n
        FROM events GROUP BY user_id
    ),
    dev AS (
        SELECT e.user_id, e.event_id, e.value, m.med, m.n,
               abs(e.value - m.med) AS ad
        FROM events e JOIN med m ON e.user_id = m.user_id
    ),
    mad AS (
        SELECT user_id, {sql_srnd("quantile_cont(ad, 0.5)", 4)} AS mad
        FROM dev GROUP BY user_id
    )
    SELECT d.user_id, d.event_id, d.value,
           d.med, mad.mad
    FROM dev d JOIN mad ON d.user_id = mad.user_id
    WHERE d.n >= 10 AND mad.mad > 0
      AND {sql_srnd("abs(d.value - d.med)", 4)} > {_MAD_K} * mad.mad
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers (C57): events farther than
    3 MAD from their user's median — the ROBUST sibling of C38's
    z-score screen (a single extreme value inflates mean/stddev and
    hides itself; median/MAD don't move).

    Scale shape: two user-keyed aggregations (median, then MAD of the
    deviations) over the same hash key — the join back is
    co-partitioned, no second shuffle family; degenerate users
    (n < 10 or MAD 0) are excluded so the row set is well-defined.
    Determinism: medians and the compared deviation are srnd-quantized
    BEFORE the threshold compare, so the flagged set can't flip on a
    float boundary. At 100 TB exact medians become
    ``approx_percentile`` with a widened guard band.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    med = ev.groupBy("user_id").agg(
        srnd(F.expr("percentile(value, 0.5)"), 4).alias("med"),
        F.count("*").alias("n"),
    )
    dev = ev.join(med, "user_id").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(
        srnd(F.expr("percentile(ad, 0.5)"), 4).alias("mad")
    )
    out = dev.join(mad, "user_id").filter(
        (F.col("n") >= 10)
        & (F.col("mad") > 0)
        & (srnd(F.abs(F.col("value") - F.col("med")), 4) > _MAD_K * F.col("mad"))
    )
    return out.select("user_id", "event_id", "value", "med", "mad")


# ------------------------------------------------- C58 trailing-window rate


@query(
    "q_trailing_rate",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_trailing_hour
    FROM events
    """,
)
def q_trailing_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window event rate (C58): per event, how many of the
    same user's events fall in the trailing hour — the sliding-rate
    feature (rate limiting, burst detection, velocity scoring) that a
    tumbling window can't express because every event anchors its own
    window.

    Scale shape: ONE user-keyed window with a RANGE frame over epoch
    seconds — the frame is computed in a single sorted pass per
    partition (no self-join against the hour's events, which is the
    quadratic trap); streaming's S2 sliding window approximates the
    same signal with fixed anchors when per-event anchoring isn't
    needed.

    Determinism: the frame key is integer epoch seconds (identical
    truncation both engines), so frame membership is exact.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("long").alias("n_trailing_hour"),
    )


# ------------------------------------------------- C59 centroid affinity


@query(
    "q_centroid_affinity",
    oracle=f"""
    WITH comp AS (
        SELECT label, i AS pos,
               {sql_srnd("avg(embedding[i])", 4)} AS cv
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)
        GROUP BY label, i
    ),
    cent AS (
        SELECT label, list(cv ORDER BY pos) AS c FROM comp GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           {sql_srnd(
               "list_dot_product(a.c, b.c) /"
               " (sqrt(list_dot_product(a.c, a.c))"
               "  * sqrt(list_dot_product(b.c, b.c)))", 6)} AS cos_ab
    FROM cent a JOIN cent b ON a.label < b.label
    """,
)
def q_centroid_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid affinity matrix (C59): pairwise cosine between the
    per-label centroids — the cluster-confusability diagnostic that
    tells an IVF/routing layer which labels to merge and a curation
    pipeline which topic buckets overlap.

    Scale shape: centroids are a labels × dim frame (one corpus
    shuffle, C22's M-step), collapsing to K rows; the pairwise join is
    K×K over BROADCAST rows — corpus size never touches the pair
    stage. Upper triangle only (label_a < label_b).

    Determinism: centroid components srnd-quantized first; the dot
    products are fixed-order positional folds over identical inputs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(srnd(F.avg("val"), 4).alias("cv"))
    )
    cent = (
        comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("__s"))
        .select("label", F.expr("transform(__s, x -> x.cv)").alias("c"))
    )
    a = cent.select(F.col("label").alias("label_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    j = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
    dot_ab = F.expr(
        "aggregate(zip_with(ca, cb, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate(transform({col}, x -> x * x),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    return j.select(
        "label_a",
        "label_b",
        srnd(dot_ab / (nrm("ca") * nrm("cb")), 6).alias("cos_ab"),
    )


# ------------------------------------------------- C60 event transitions


@query(
    "q_event_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    c AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    t AS (SELECT from_type, sum(n) AS row_total FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
           {sql_srnd("CAST(c.n AS DOUBLE) / t.row_total", 4)} AS p
    FROM c JOIN t ON c.from_type = t.from_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (C60): first-order Markov counts
    and row-normalized probabilities over each user's time-ordered
    event stream — the behavioral-model input (next-action prediction,
    anomalous-flow detection) every clickstream pipeline derives.

    Scale shape: ONE user-keyed window builds the (type → next_type)
    pairs; the count groupBy's key space is event-types², tiny, with
    map-side combine; row totals join back on that same tiny frame.
    Counts are integer-exact; only the final normalization is float.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    t = c.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return c.join(t, "from_type").select(
        "from_type",
        "to_type",
        "n",
        srnd(F.col("n").cast("double") / F.col("row_total"), 4).alias("p"),
    )


# ------------------------------------------------- B46 GROUP BY ALL


_GROUP_BY_ALL_SQL = """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(floor(sum(l_quantity) * 100.0 + 0.5) AS DOUBLE) / 100.0
               AS sum_qty
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY ALL
    ORDER BY ALL
"""


@query("q_group_by_all", oracle=_GROUP_BY_ALL_SQL)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL surface (B46): the analyst-SQL
    shorthand (Spark 3.4+; DuckDB originated it) — the IDENTICAL
    statement text runs on both engines, grouping by every
    non-aggregate select item and ordering by every output column.

    Plans exactly like the explicit form: partial+final hash agg on
    the two flag columns, filter pushed to the scan.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUP_BY_ALL_SQL)


@query(
    "q_data_contract",
    oracle="""
    WITH o AS (
        SELECT count(*) AS n,
               count(*) - count(DISTINCT o_orderkey) AS pk_dups,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
               sum(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('P', 'O', 'F')
                   THEN 1 ELSE 0 END) AS bad_status,
               sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0
                   THEN 1 ELSE 0 END) AS bad_price
        FROM orders
    ),
    l AS (
        SELECT sum(CASE WHEN l_discount IS NULL
                        OR l_discount < 0.0 OR l_discount > 1.0
                   THEN 1 ELSE 0 END) AS bad_disc
        FROM lineitem
    ),
    fk AS (
        -- NOT EXISTS (not NOT IN): matches the Spark side's LEFT ANTI
        -- semantics exactly — a NULL l_orderkey counts as an orphan,
        -- and a NULL o_orderkey cannot vacuously zero the check
        SELECT count(*) AS orphans FROM lineitem l2
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o2 WHERE o2.o_orderkey = l2.l_orderkey
        )
    )
    SELECT chk.check_name,
           CAST(chk.violations AS BIGINT) AS violations,
           CASE WHEN chk.violations = 0 THEN 'pass' ELSE 'fail' END
               AS verdict
    FROM o, l, fk,
    LATERAL (VALUES
        ('pk_unique_orderkey', o.pk_dups),
        ('fk_lineitem_orders', fk.orphans),
        ('non_null_custkey', o.null_cust),
        ('status_in_domain', o.bad_status),
        ('positive_totalprice', o.bad_price),
        ('discount_in_unit_range', l.bad_disc)
    ) AS chk(check_name, violations)
    """,
)
def q_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract verification gate (C-family, Deequ-shaped): the
    named constraint battery a pipeline runs before publishing a
    table — primary-key uniqueness, referential integrity
    (lineitem→orders), completeness, domain membership, and bound
    checks — emitted as (check, violation count, verdict) rows so the
    gate is itself queryable ("fail the job if any verdict='fail'").

    Scale shape: all single-table checks ride ONE map-side partial
    agg per table (count/sum-of-CASE — no per-check scans); the PK
    uniqueness dup count is the one distinct shuffle; referential
    integrity is a LEFT ANTI join on the order key counting orphans
    (at 100 TB the anti join's right side projects the key column
    only). The verdict rows assemble from three 1-row frames — a
    broadcast-only crossJoin, then a row-local stack().
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_aggs = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("pk_dups"),
        F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).alias("null_cust"),
        # NULL is a violation for domain/bound checks (a NULL status or
        # price is exactly the broken-backfill data the gate must
        # block); without the explicit isNull the tri-valued compare
        # would fall through to otherwise(0) and NULLs would pass
        F.sum(
            F.when(
                F.col("o_orderstatus").isNull()
                | ~F.col("o_orderstatus").isin("P", "O", "F"),
                1,
            ).otherwise(0)
        ).alias("bad_status"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") <= 0.0),
                1,
            ).otherwise(0)
        ).alias("bad_price"),
    )
    l_aggs = li.agg(
        F.sum(
            F.when(
                F.col("l_discount").isNull()
                | (F.col("l_discount") < 0.0)
                | (F.col("l_discount") > 1.0),
                1,
            ).otherwise(0)
        ).alias("bad_disc")
    )
    orphans = (
        li.join(
            o.select("o_orderkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("orphans"))
    )
    one = o_aggs.crossJoin(F.broadcast(l_aggs)).crossJoin(
        F.broadcast(orphans)
    )
    stacked = one.select(
        F.expr(
            "stack(6,"
            " 'pk_unique_orderkey', pk_dups,"
            " 'fk_lineitem_orders', orphans,"
            " 'non_null_custkey', null_cust,"
            " 'status_in_domain', bad_status,"
            " 'positive_totalprice', bad_price,"
            " 'discount_in_unit_range', bad_disc"
            ") AS (check_name, violations)"
        )
    )
    return stacked.select(
        "check_name",
        F.col("violations").cast("long").alias("violations"),
        F.when(F.col("violations") == 0, "pass")
        .otherwise("fail")
        .alias("verdict"),
    )
