"""Round-6 wave 6 (SURVEY.md §2): crawl/analytics/lakehouse operators
that complete obvious gaps left by the earlier waves — URL structure
extraction (the crawl pipeline's per-domain bookkeeping), last-touch
attribution, ordered CDC-log materialization, per-document token
entropy, Pareto-dominance (skyline) filtering, and the built-in XML
connector round trip.

Every float that reaches an oracle compare goes through the
``exprs.srnd`` fixed-op rounding idiom; every unordered money/weight
reduction is integer-exact (cents / 1e-6 decay units) so totals are
bit-identical under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------------------------ C67 URL parsing

_URL_SQL_HOST = "source || '.example.org'"


@query(
    "q_url_parse",
    oracle=f"""
    SELECT {_URL_SQL_HOST} AS host,
           count(*) AS n_docs,
           count(DISTINCT '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR))
               AS n_paths,
           count(DISTINCT substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
               AS n_refs,
           CAST(sum(CASE WHEN doc_id % 10 >= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hi_pages
    FROM documents GROUP BY 1
    """,
)
def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL structure extraction (C67): synthesize one canonical URL per
    document (scheme://host/path?query — host from ``source``, path
    from ``lang``/``doc_id``, query params ``ref``/``page`` from the
    md5-prefix idiom), then recover host / path / individual query
    params with the built-in ``parse_url`` and roll up per host — the
    crawl-pipeline bookkeeping (per-domain doc counts, URL-space
    breadth, parameter distributions) that fronts per-domain caps
    (C24) and robots/blocklist policy. The oracle recomputes every
    extracted field from the source columns directly, so a parse that
    drops a query param, mangles the path, or mis-splits the authority
    fails the hash.

    Scale shape: URL synthesis and all three ``parse_url`` calls are
    row-local JVM expressions fused into the scan; the rollup is one
    host-keyed partial-agg groupBy (hosts = #sources, tiny, map-side
    combined). The two count-distincts expand per host but their
    domains (paths, 6-hex refs) are bounded by per-host doc counts —
    at 100 TB both swap to approx_count_distinct without touching the
    shuffle shape. ZERO joins.
    """
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
        F.lit("&page="),
        (F.col("doc_id") % 10).cast("string"),
    )
    parsed = d.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page"))
        .cast("int")
        .alias("page"),
    )
    return parsed.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct("ref").alias("n_refs"),
        F.sum(F.when(F.col("page") >= 5, 1).otherwise(0))
        .cast("long")
        .alias("n_hi_pages"),
    )


# -------------------------------------------- C70 last-touch attribution


@query(
    "q_attribution",
    oracle="""
    WITH t AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch
        FROM events
    )
    SELECT coalesce(touch, '__none__') AS touch_type,
           count(*) AS n_purchases,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM t WHERE event_type = 'purchase' GROUP BY 1
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (C70): credit every purchase to the same
    user's most recent PRECEDING marketing touch (view or click) —
    the conversion-credit assignment marketing analytics runs on every
    event log; purchases with no prior touch land in the ``__none__``
    bucket (organic). Completes the funnel family: C52 asks "did the
    ordered path complete", this asks "which touch gets the credit".

    Scale shape: ONE user-keyed window shuffle (ordered by ts with
    event_id tiebreak — a strict total order, so the carried-forward
    touch is engine- and partitioning-stable); the frame excludes the
    current row so a purchase can never attribute to itself. Purchase
    value is quantized to integer cents per-row BEFORE the unordered
    sum. The rollup key has ≤3 values — map-side combined. No joins,
    no spine, no self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("__none__")).alias("touch_type"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("value_cents"),
        )
    )


# ------------------------------------------------- A22 ordered CDC apply

_CDC_UPD_CENTS = 12345  # planted update delta, integer cents


@query(
    "q_cdc_apply",
    oracle=f"""
    SELECT o_orderstatus AS status,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                    + CASE WHEN o_orderkey % 7 = 0
                           THEN {_CDC_UPD_CENTS} ELSE 0 END) AS BIGINT)
               AS price_cents_sum
    FROM orders WHERE o_orderkey % 13 <> 0 GROUP BY 1
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered CDC-log materialization (A22): replay a
    Debezium-shaped change log — INSERT (seq 1, every key), UPDATE
    (seq 2, keys ≡ 0 mod 7, price bumped by a fixed cent delta),
    DELETE (seq 3, keys ≡ 0 mod 13) — into final table state: per key
    the HIGHEST-sequence op wins, and a winning DELETE removes the
    row. This is the multi-op ordered sibling of C14's single
    change-set MERGE (C14 coalesces two frames; this resolves an
    arbitrary-length per-key op history, which is what a CDC consumer
    actually faces). The oracle derives the expected final state
    independently from the arithmetic (not by simulating the log), so
    a wrong sequence order, a resurrected delete, or a lost update
    fails the hash.

    Scale shape: the log union is row-local; resolution is ONE
    pk-keyed window (row_number over seq DESC — pk is unique-ish,
    skew-free) and the rollup is a ≤3-key partial agg. Money stays in
    integer cents end-to-end. At 100 TB the same plan applies a day's
    log partition-by-partition; keys touched once short-circuit
    through WindowGroupLimit.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    ins = o.select(
        "o_orderkey",
        "o_orderstatus",
        "cents",
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("cents") + F.lit(_CDC_UPD_CENTS)).alias("cents"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    dels = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit(0).cast("long").alias("cents"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    log = ins.unionByName(upd).unionByName(dels)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    final = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return final.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").alias("price_cents_sum"),
    )


# --------------------------------------------- C69 per-doc token entropy


@query(
    "q_token_entropy",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
    t AS (
        SELECT doc_id, w, c,
               {sql_srnd("c * ln(CAST(c AS DOUBLE))", 8)} AS term
        FROM c
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_toks,
           count(*) AS n_types,
           {sql_srnd(
               "ln(CAST(sum(c) AS DOUBLE))"
               " - list_sum(list(term ORDER BY w)) / sum(c)", 4)}
               AS entropy
    FROM t GROUP BY doc_id
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy (C69): H = ln(n) − Σc·ln(c)/n
    over the doc's own token counts — the self-information quality
    signal (a compressibility proxy) that catches low-diversity docs
    C15's bigram-repetition rule misses (e.g. two tokens alternating
    perfectly: zero repeated bigram mass, minimal entropy). No corpus
    model involved — unlike C29/C47 the score is intrinsic to the doc.

    Scale shape: the explode is row-local; counts are ONE
    (doc_id, token)-keyed partial-agg groupBy, per-doc assembly reuses
    the doc_id prefix of the same key (high-card, skew-free — a doc's
    type count bounds its group). The entropy sum folds srnd-quantized
    terms in FIXED token order (collect_list → array_sort →
    aggregate), so the double reduction is bit-identical across
    engines and partitionings. No joins.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    c = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    t = c.select(
        "doc_id",
        "w",
        "c",
        srnd(F.col("c") * F.log(F.col("c").cast("double")), 8).alias("term"),
    )
    agg = t.groupBy("doc_id").agg(
        F.sum("c").alias("n_toks"),
        F.count("*").alias("n_types"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(w, term))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
        ).alias("__s"),
    )
    return agg.select(
        "doc_id",
        "n_toks",
        "n_types",
        srnd(
            F.log(F.col("n_toks").cast("double"))
            - F.col("__s") / F.col("n_toks"),
            4,
        ).alias("entropy"),
    )


# --------------------------------------------- C71 time-decayed scoring

_DECAY_ANCHOR = "2024-03-01"
_DECAY_HALF_LIFE_DAYS = 7.0


@query(
    "q_decayed_score",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(
               1000000.0 * power(0.5,
                   date_diff('day', CAST(ts AS DATE),
                             DATE '{_DECAY_ANCHOR}')
                   / {_DECAY_HALF_LIFE_DAYS}) + 0.5) AS BIGINT))
               AS BIGINT) AS score_e6,
           CAST(sum(CAST(floor(
               1000000.0 * power(0.5,
                   date_diff('day', CAST(ts AS DATE),
                             DATE '{_DECAY_ANCHOR}')
                   / {_DECAY_HALF_LIFE_DAYS}) + 0.5) AS BIGINT)
               * CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS wvalue
    FROM events GROUP BY 1
    """,
)
def q_decayed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed popularity (C71): per event type, the
    half-life-weighted event mass and value as of a fixed anchor date
    (w = 2^(−age/half_life)) — the freshness-weighted score trending /
    ranking pipelines maintain (complements C68's per-entity EWMA:
    that smooths a user's own series; this scores a population with
    recency bias). The weight is quantized to integer 1e-6 units
    per-row BEFORE any reduction, so every sum is exact integer
    arithmetic — bit-identical totals under any partitioning, and the
    weighted-value product stays well inside int64 (1e6 × 1e5-cent
    values × 1e5 rows ≈ 1e16).

    Scale shape: age (whole days, date-resolution — immune to µs/ns
    timestamp representation) and the weight are row-local
    expressions fused into the scan; the rollup is a 5-key partial-agg
    groupBy, fully map-side combined. ZERO joins, ZERO windows — this
    is scan-throughput.
    """
    ev = load_table(spark, sf_dir, "events")
    age = F.datediff(F.lit(_DECAY_ANCHOR).cast("date"), F.col("ts").cast("date"))
    w_e6 = F.floor(
        F.lit(1000000.0)
        * F.pow(F.lit(0.5), age / F.lit(_DECAY_HALF_LIFE_DAYS))
        + F.lit(0.5)
    ).cast("long")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        ev.select("event_type", w_e6.alias("w"), cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("w").alias("score_e6"),
            F.sum(F.col("w") * F.col("cents")).alias("wvalue"),
        )
    )


# ------------------------------------------------ B49 skyline (Pareto)

_SKY_BUCKET_CENTS = 1000000  # 10k-dollar local-prune buckets


@query(
    "q_skyline",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                   AS price_cents,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day
        FROM orders
    ),
    m AS (
        SELECT o_orderkey, price_cents, day,
               max(day) OVER (ORDER BY price_cents
                              RANGE BETWEEN 1 FOLLOWING
                                        AND UNBOUNDED FOLLOWING)
                   AS best_later
        FROM pts
    )
    SELECT o_orderkey, price_cents, day
    FROM m WHERE best_later IS NULL OR best_later <= day
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-dominance skyline (B49): the orders no other order
    strictly beats on BOTH price and recency — the multi-criteria
    shortlist (best trade-off frontier) classic OLAP engines ship as
    SKYLINE OF. A point is dominated iff some other point has strictly
    higher price AND strictly later date; both axes are integerized
    (cents / epoch days) so dominance is exact.

    Scale shape: the naive skyline is an O(n²) self-join; the naive
    window form (max over a [1 FOLLOWING, UNBOUNDED FOLLOWING] suffix
    frame) is O(n²) per partition too — Spark's
    UnboundedFollowingWindowFunctionFrame recomputes the aggregate
    per row (measured: 3.3 s at sf0.1 vs 0.4 s for this form). So:
    (1) CROSS-BUCKET prune — per-price-bucket max(day) is a ≤#buckets
    frame; its strict-suffix max broadcasts back and any row beaten
    by a higher bucket's best day drops row-locally (every row in a
    higher bucket has strictly higher price, so the drop is sound).
    (2) exact pass on the survivors: distinct-price max(day), then a
    RUNNING max ([UNBOUNDED PRECEDING, -1] over price DESC — the
    incremental O(n) frame) gives "best day among strictly higher
    prices"; survivors closure holds because a pruned dominator is
    itself dominated by an unpruned one (transitive chain up the
    buckets). The oracle runs the direct one-pass global form, and
    the planted test cross-checks the naive O(n²) definition.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    )
    # (1) cross-bucket prune: beaten by any strictly-pricier bucket's
    # best day → dominated (distributed, row-local after the tiny agg)
    bucket = (F.col("price_cents") / F.lit(_SKY_BUCKET_CENTS)).cast("long")
    bstats = o.groupBy(bucket.alias("__b")).agg(F.max("day").alias("__mx"))
    w_b = Window.orderBy(F.desc("__b")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bstats = bstats.withColumn("__later_mx", F.max("__mx").over(w_b)).drop(
        "__mx"
    )
    pruned = (
        o.withColumn("__b", bucket)
        .join(F.broadcast(bstats), "__b")
        .filter(
            F.col("__later_mx").isNull()
            | (F.col("__later_mx") <= F.col("day"))
        )
        .drop("__b", "__later_mx")
    )
    # (2) exact pass on the small survivor set: running (incremental)
    # max over strictly-higher distinct prices
    pm = pruned.groupBy("price_cents").agg(F.max("day").alias("__pmax"))
    w_g = Window.orderBy(F.desc("price_cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pm = pm.withColumn("best_later", F.max("__pmax").over(w_g)).drop(
        "__pmax"
    )
    return (
        pruned.join(F.broadcast(pm), "price_cents")
        .filter(
            F.col("best_later").isNull()
            | (F.col("best_later") <= F.col("day"))
        )
        .select("o_orderkey", "price_cents", "day")
    )


# --------------------------------------------- A21 XML connector round trip


@query(
    "q_xml_ingest",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           CAST(sum(length(text)) AS BIGINT) AS text_len_sum,
           count(DISTINCT md5(text)) AS n_distinct_texts
    FROM documents GROUP BY lang
    """,
)
def q_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion round trip (A21): land the documents table as XML
    records (Spark 4's built-in ``xml`` format — the Hive-era
    semi-structured feed shape next to A19's regex logs and A14's
    CSV), read it back with the SOURCE schema pinned (no inference
    drift), and prove byte fidelity per language: doc counts, char
    sums, and the distinct-md5 count of the recovered text — an
    entity-escaping or whitespace-trimming bug in either direction
    fails the hash against the original table.

    Scale shape: the XML scan splits records by rowTag like any text
    source; parsing is per-record in the scan (no shuffle); the
    rollup is a lang-keyed partial agg on a handful of keys. The
    write is a one-pass export. Schema is supplied, so no
    inference job runs at scale.
    """
    from cassowary_spark.tables import derived_fixture

    d = load_table(spark, sf_dir, "documents")
    xml_dir = derived_fixture(
        sf_dir, "documents_xml", ("documents",),
        lambda p: d.coalesce(4).write.format("xml").option("rowTag", "doc")
        .mode("overwrite").save(p),
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(d.schema)
        .load(xml_dir)
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars_sum"),
        F.sum(F.length("text")).cast("long").alias("text_len_sum"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
    )
