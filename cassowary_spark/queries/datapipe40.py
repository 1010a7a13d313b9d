"""Round-9 wave 42 (SURVEY.md §2): zone-map data skipping (A30) and
iterative-proportional-fitting corpus raking (C174).

A30 closes the lake READ-side metadata story: A10/A28 prune on
partition values, A29 GCs history — this skips FILES inside a
partition using per-file column bounds, the mechanism behind Parquet
row-group pruning, Iceberg manifest min/max filtering, and classic
zone maps. C174 pairs with C166 (Kish ESS): raking computes the
weights, Kish scores what they cost.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, load_table

# ----------------------------------------------- A30 zone-map skipping

_ZM_LO, _ZM_HI = 1000, 1400  # the pruned key-range probe


def _zm_dirs(root: str) -> tuple[str, str]:
    return os.path.join(root, "data"), os.path.join(root, "stats")


def ensure_zonemap_lake(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once) a 16-file range-clustered orders lake plus its
    ZONE MAP: one stats row per file holding the file's min/max
    orderkey — the per-file column bounds a table format records at
    write time (Iceberg manifest entries, Parquet footers)."""
    def build(root: str) -> None:
        data, stats = _zm_dirs(root)
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        # range clustering is what MAKES zone maps selective: each
        # file covers a narrow key band, so bounds actually exclude
        o.repartitionByRange(16, "o_orderkey").write.mode(
            "overwrite"
        ).parquet(data)
        (
            spark.read.parquet(data)
            .groupBy(F.col("_metadata.file_path").alias("file_path"))
            .agg(
                F.min("o_orderkey").alias("min_k"),
                F.max("o_orderkey").alias("max_k"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stats)
        )

    return _zm_dirs(derived_fixture(sf_dir, "zm_lake", ("orders",), build))


def zonemap_pruned_files(
    spark: SparkSession, sf_dir: str, lo: int, hi: int
) -> list[str]:
    """Files whose [min_k, max_k] bounds INTERSECT [lo, hi] — the
    data-skipping decision, made entirely from the stats table."""
    _, stats = ensure_zonemap_lake(spark, sf_dir)
    st = spark.read.parquet(stats)
    rows = st.filter(
        (F.col("max_k") >= lo) & (F.col("min_k") <= hi)
    ).collect()
    return sorted(r.file_path for r in rows)


@query(
    "q_zonemap_skip",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders
    WHERE o_orderkey BETWEEN {_ZM_LO} AND {_ZM_HI}
    GROUP BY o_orderstatus
    """,
)
def q_zonemap_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (A30): answer a key-range rollup by
    consulting a per-file min/max stats table FIRST and scanning only
    the files whose bounds intersect the range — the file-level
    pruning mechanism behind Iceberg manifest filtering, Parquet
    row-group skipping, and warehouse zone maps, made explicit as
    DataFrame algebra. Partition pruning (A10/A28) cuts directories;
    this cuts files WITHIN a partition, which is what remains when
    the predicate column isn't the partition key.

    The stats consult is a broadcast-sized metadata read (16 rows);
    the scan receives the surviving file list explicitly, so the
    planted test can pin that a narrow range reads ≤ a few of 16
    files while the result stays bit-equal to the full-scan oracle
    (the predicate is RE-APPLIED after the skip — bounds
    intersection is necessary, not sufficient, exactly like real
    row-group pruning).

    Scale shape: at 100 TB the stats table IS the manifest — file
    count rows, not data rows; the pruned scan is proportional to
    the selected key band because the layout is range-clustered
    (A30's selectivity depends on clustering, which is why z-order /
    range-partitioned writes exist — C-series q_zorder_layout).
    """
    data, _ = ensure_zonemap_lake(spark, sf_dir)
    files = zonemap_pruned_files(spark, sf_dir, _ZM_LO, _ZM_HI)
    scan = (
        spark.read.parquet(*files)
        if files
        else spark.read.parquet(data).limit(0)
    )
    return (
        scan.filter(F.col("o_orderkey").between(_ZM_LO, _ZM_HI))
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
    )


# ------------------------------------- C174 raking (IPF) corpus weights

# Unrolled IPF ladder: lang fit, source fit, lang fit, source fit.
# Each margin is a FIXED-ORDER fold (C69 idiom) and each weight is
# srnd10-quantized after every pass, so both engines carry
# bit-identical weights into the next pass — no window-sum fold-order
# exposure anywhere.
_RK_W_DEC = 10


def _rk_sql_fold(by: str, order: str, w: str) -> str:
    """DuckDB margin: per-`by` fixed-order fold of c·w over `order`."""
    return (
        f"SELECT {by}, list_sum(list(CAST(c AS DOUBLE) * {w} "
        f"ORDER BY {order})) AS m FROM {{src}} GROUP BY {by}"
    )


_RK_SQL = f"""
    WITH cell AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    dims AS (
        SELECT CAST(count(DISTINCT lang) AS BIGINT) AS nl,
               CAST(count(DISTINCT source) AS BIGINT) AS ns,
               CAST(sum(c) AS BIGINT) AS nn
        FROM cell
    ),
    m0 AS (SELECT lang, CAST(sum(c) AS BIGINT) AS m FROM cell GROUP BY lang),
    r1 AS (
        SELECT cell.lang, cell.source, cell.c,
               {sql_srnd(
                   "(CAST((SELECT nn FROM dims) AS DOUBLE)"
                   " / CAST((SELECT nl FROM dims) AS DOUBLE))"
                   " / CAST(m0.m AS DOUBLE)", _RK_W_DEC)} AS w
        FROM cell JOIN m0 USING (lang)
    ),
    m1 AS ({_rk_sql_fold("source", "lang", "w").format(src="r1")}),
    r2 AS (
        SELECT r1.lang, r1.source, r1.c,
               {sql_srnd(
                   "r1.w * (CAST((SELECT nn FROM dims) AS DOUBLE)"
                   " / CAST((SELECT ns FROM dims) AS DOUBLE)) / m1.m",
                   _RK_W_DEC)} AS w
        FROM r1 JOIN m1 USING (source)
    ),
    m2 AS ({_rk_sql_fold("lang", "source", "w").format(src="r2")}),
    r3 AS (
        SELECT r2.lang, r2.source, r2.c,
               {sql_srnd(
                   "r2.w * (CAST((SELECT nn FROM dims) AS DOUBLE)"
                   " / CAST((SELECT nl FROM dims) AS DOUBLE)) / m2.m",
                   _RK_W_DEC)} AS w
        FROM r2 JOIN m2 USING (lang)
    ),
    m3 AS ({_rk_sql_fold("source", "lang", "w").format(src="r3")}),
    r4 AS (
        SELECT r3.lang, r3.source, r3.c,
               {sql_srnd(
                   "r3.w * (CAST((SELECT nn FROM dims) AS DOUBLE)"
                   " / CAST((SELECT ns FROM dims) AS DOUBLE)) / m3.m",
                   _RK_W_DEC)} AS w
        FROM r3 JOIN m3 USING (source)
    )
    SELECT lang, source, c AS n_docs,
           {sql_srnd("w", 8)} AS weight,
           {sql_srnd("CAST(c AS DOUBLE) * w", 6)} AS weighted_docs
    FROM r4
"""


@query("q_raking", oracle=_RK_SQL)
def q_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / iterative proportional fitting (C174): per-(lang,
    source) document weights that rebalance the corpus to UNIFORM
    language margins and UNIFORM source margins — an unrolled IPF
    ladder (fit lang margins, fit source margins, and once more
    each). This is the survey-weighting / corpus-mix primitive that
    answers "what per-cell weights make my skewed crawl look
    balanced": C28 downsamples to a target mix, raking REWEIGHTS
    without dropping rows, and C166's Kish ESS prices the variance
    the weights cost.

    Determinism (the window-sum trap, avoided): each margin
    Σ c·w is a C69 FIXED-ORDER fold (DuckDB list(... ORDER BY key) +
    list_sum, Spark aggregate over array_sort(collect_list(struct)))
    and the weight re-quantizes to srnd10 after EVERY pass — both
    engines therefore carry bit-identical weights into each next
    pass; a plain windowed sum would expose partition fold order at
    every rung of the ladder.

    Scale shape: one corpus scan partial-aggs to the (lang × source)
    cell frame (persisted); all four fits are groupBy-fold + broadcast
    join-back over that marginal-sized frame — metadata-scale work
    regardless of corpus size. The fixed 2-iteration count is the
    production posture: dense 2-margin IPF converges geometrically —
    the LAST-fitted (source) margin is exact to quantization and the
    lang margin carries one geometric step of residual (≲1% on every
    fixture; both bounds gate-pinned). More margin precision = more
    unrolled rungs, same plan shape.
    """
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("c")
    )
    # r14: the whole 4-rung IPF ladder runs row-locally over the
    # packed marginal-sized cell array in ONE 1-row aggregate, then
    # the cells explode back out (was: per-rung fold job + broadcast
    # join + persist — 9 extra jobs and 6 cached frames for ≤ |L|·|S|
    # rows of arithmetic). Every rung keeps the C69 fixed-order fold
    # (the filtered slice of the (lang, source)-sorted array IS the
    # old struct-sorted order: lang-ordered within a source margin,
    # source-ordered within a lang margin) and re-quantizes the
    # weight to srnd10 after each rung, so the carried weights stay
    # bit-identical to the join-ladder form.
    packed = cell.agg(
        F.expr("array_sort(collect_list(struct(lang, source, c)))").alias(
            "cls"
        )
    ).select(
        "cls",
        F.expr("aggregate(cls, 0L, (a, x) -> a + x.c)").alias("nn"),
        F.expr(
            "CAST(size(array_distinct(transform(cls, x -> x.lang)))"
            " AS BIGINT)"
        ).alias("nl"),
        F.expr(
            "CAST(size(array_distinct(transform(cls, x -> x.source)))"
            " AS BIGINT)"
        ).alias("ns"),
    )
    tl = "(CAST(nn AS DOUBLE) / CAST(nl AS DOUBLE))"
    ts = "(CAST(nn AS DOUBLE) / CAST(ns AS DOUBLE))"
    q = f"1.0E{_RK_W_DEC}"
    _RK_RUNG = iter(range(2, 100))  # unique lambda-var suffix per rung

    def rung(prev: str, by: str, target: str) -> str:
        """One IPF rung: margin-fold + weight update over array `prev`.

        The singleton-array transform binds the previous rung's array
        ONCE (`p`) — naming it both as the transform input and inside
        the margin fold would re-evaluate the whole upstream ladder
        per element (2^rungs blowup, the same plan-doubling the old
        join ladder persisted against).
        """
        pv = f"p{_RK_RUNG.__next__()}"
        m = (
            f"aggregate(filter({pv}, y -> y.{by} = x.{by}),"
            " CAST(0.0 AS DOUBLE), (acc, y) ->"
            " acc + CAST(y.c AS DOUBLE) * y.w)"
        )
        return (
            f"transform(array({prev}), {pv} ->"
            f" transform({pv}, x -> struct(x.lang AS lang,"
            " x.source AS source, x.c AS c,"
            f" floor((x.w * {target} / {m}) * {q} + 0.5) / {q} AS w)))[0]"
        )

    # pass 1: lang fit over raw integer margins
    m0 = (
        "CAST(aggregate(filter(cls, y -> y.lang = x.lang), 0L,"
        " (a0, y0) -> a0 + y0.c) AS DOUBLE)"
    )
    a1 = (
        "transform(cls, x -> struct(x.lang AS lang, x.source AS source,"
        f" x.c AS c, floor(({tl} / {m0}) * {q} + 0.5) / {q} AS w))"
    )
    ladder = rung(rung(rung(a1, "source", ts), "lang", tl), "source", ts)
    r = packed.select(F.explode(F.expr(ladder)).alias("x")).select(
        F.col("x.lang").alias("lang"),
        F.col("x.source").alias("source"),
        F.col("x.c").alias("c"),
        F.col("x.w").alias("w"),
    )
    return r.select(
        "lang",
        "source",
        F.col("c").alias("n_docs"),
        srnd(F.col("w"), 8).alias("weight"),
        srnd(F.col("c").cast("double") * F.col("w"), 6).alias("weighted_docs"),
    )
