"""Physical-plan audits (SURVEY.md §4, §7 M6): the 100 TB design
assertions — pushdown reached the scan, small dims broadcast, top-k
never global-sorts, no accidental cartesian products.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from cassowary_spark import registry
from cassowary_spark.plancheck import formatted_plan

registry.load_all()

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return formatted_plan(df)


@pytest.fixture(scope="module")
def q(spark):
    return {name: fn(spark, SF) for name, fn in registry.QUERIES.items()}


def test_scan_pushdown(q):
    p = plan_of(q["q_scan"])
    assert "PushedFilters: [" in p and "IsNotNull(l_returnflag)" in p
    assert "EqualTo(l_returnflag,R)" in p
    # column pruning: only the 4 projected columns reach the reader
    read = [line for line in p.splitlines() if "ReadSchema" in line][0]
    assert "l_extendedprice" in read and "l_shipdate" not in read and "l_tax" not in read


def test_flagship_partial_agg_and_codegen(q):
    p = plan_of(q["q_flagship"])
    assert p.count("HashAggregate") >= 2  # map-side partial + final
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # under AQE codegen stages only appear in the FINAL adaptive plan,
    # i.e. after execution: run the query, then re-explain
    q["q_flagship"].collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q["q_flagship"].explain()
    final = buf.getvalue()
    assert "isFinalPlan=true" in final
    assert "*(" in final  # whole-stage-codegen'd operators


def test_star_join_broadcasts_dims(q):
    p = plan_of(q["q_star_join"])
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_orderby_take_ordered(q):
    assert "TakeOrderedAndProject" in plan_of(q["q_orderby"])


def test_topk_window_group_limit(q):
    # Spark 3.5+ pushes the rank limit below the shuffle
    assert "WindowGroupLimit" in plan_of(q["q_topk"])


def test_range_join_broadcasts_ranges(q):
    p = plan_of(q["q_join_range"])
    assert "BroadcastNestedLoopJoin" in p  # non-equi vs broadcast side
    assert "CartesianProduct" not in p


def test_no_cartesian_products_anywhere(spark):
    offenders = []
    for name, fn in registry.QUERIES.items():
        p = plan_of(fn(spark, SF))
        if "CartesianProduct" in p:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_asof_join_single_shuffle(q):
    """The as-of join must shuffle once (union-merge), not build a
    range join: no nested-loop or cartesian operator in its plan."""
    p = plan_of(q["q_join_asof"])
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert p.count("Exchange") <= 3  # key shuffle + AQE artifacts, not a join explosion


def test_sstable_lookup_pushes_in_list(q):
    p = plan_of(q["q_sstable_lookup"])
    assert "BatchScan sstable" in p
    assert "In(s_suppkey" in p  # IN-list reached the Python DataSource


def test_no_row_at_a_time_python_anywhere(q):
    # Every Python surface must be Arrow-batched: row-at-a-time UDFs
    # (BatchEvalPython) are banned from all query plans (SCALE.md).
    for name, df in q.items():
        assert "BatchEvalPython" not in plan_of(df), name


def test_bucketed_join_is_shuffle_free(spark):
    """Bucketing co-locates both join sides (SCALE.md): writing fact
    and dim bucketed+sorted by the join key makes the sort-merge join
    read bucket files directly — zero Exchange in the join subtree.
    At 100 TB this is the difference between joining in place and
    re-shuffling both tables every query."""
    import shutil

    from cassowary_spark.tables import load_table

    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("li_bucketed", "ord_bucketed"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)  # orphaned runs
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable("li_bucketed"))
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("ord_bucketed"))
    joined = spark.table("li_bucketed").join(
        spark.table("ord_bucketed"),
        spark.table("li_bucketed").l_orderkey == spark.table("ord_bucketed").o_orderkey,
    )
    # sf0.001 fits under the broadcast threshold; disable it so the
    # plan is the SMJ a 100 TB fact-fact join would get
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = plan_of(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p
    assert "Exchange" not in p  # co-located: no shuffle on either side
    assert "SelectedBucketsCount" in p
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_fuzzy_join_is_blocked_equi_join(q):
    """The symmetric-delete fuzzy join must plan as a shuffled equi-join
    on the variant hash — never a nested loop over unblocked pairs
    (the round-1 scale-killer)."""
    p = plan_of(q["q_fuzzy_join"])
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_cluster_by_single_exchange(q):
    """DISTRIBUTE BY user_id feeds the row_number window partitioned on
    the same key: Catalyst must reuse the one exchange, not stack a
    second shuffle on top."""
    import re

    p = plan_of(q["q_cluster_by"])
    # formatted explain prints each node twice (tree + detail); count
    # the numbered detail headers only
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "WindowGroupLimit" in p  # rn<=3 pushed into the sort


def test_sstable_column_pruning(spark):
    """columns= prunes the source schema itself — the Python DataSource
    API has no pruneColumns hook, so this is the documented projection
    path; the batch leaving the source must carry only key + named
    columns, and values must match the full read's."""
    from cassowary_spark.queries.scan import build_sstable_snapshot
    from cassowary_spark.sources.sstable_datasource import read_sstable

    snap = build_sstable_snapshot(SF)
    narrow = read_sstable(spark, snap, columns=["s_suppkey", "s_acctbal"])
    assert narrow.columns == ["s_suppkey", "s_acctbal"]
    p = plan_of(narrow)
    assert "s_name" not in p, "pruned column must not appear anywhere in the plan"
    full = {r.s_suppkey: r.s_acctbal for r in read_sstable(spark, snap).collect()}
    got = {r.s_suppkey: r.s_acctbal for r in narrow.collect()}
    assert got == full


def test_partitioned_lake_prunes_partitions(q):
    """The status predicate must become a PartitionFilter (directory
    pruning), never a post-scan filter over all partitions."""
    p = plan_of(q["q_partitioned_lake"])
    assert "PartitionFilters" in p
    assert "o_orderstatus" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_ann_hamming_no_exchange(q):
    """Binary-quantized ANN is scan → broadcast(1 row) → TakeOrdered:
    no shuffle Exchange anywhere — the whole search is map-local
    per-partition heaps."""
    p = plan_of(q["q_ann_hamming"])
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_sstable_to_lake_prunes_partitions(q):
    """The lake read's nationkey predicate must prune directories."""
    p = plan_of(q["q_sstable_to_lake"])
    assert "PartitionFilters" in p
    assert "s_nationkey" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_gen_diff_is_single_outer_join(q):
    """Generation CDC is ONE full-outer join — no window, no second
    join pass, no cartesian."""
    p = plan_of(q["q_sstable_gen_diff"])
    # exactly one join node ("Join type:" prints once per join detail)
    assert p.count("Join type:") == 1
    assert "FullOuter" in p
    assert "Window" not in p and "CartesianProduct" not in p


def test_pq_encode_broadcasts_codebook(q):
    """PQ encoding must broadcast the codebook to a map-local join +
    partial-agg argmin; the only corpus shuffle is the final groupBy."""
    p = plan_of(q["q_pq_encode"])
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_cache_table_in_memory_scan(spark):
    """Shark's signature CACHE TABLE: a cached temp view must serve
    subsequent queries from the in-memory columnar relation (the
    Spark lineage of Shark's cached RDD tables), not re-scan parquet."""
    from cassowary_spark.tables import load_table

    load_table(spark, SF, "nation").createOrReplaceTempView("nation_cached")
    spark.catalog.cacheTable("nation_cached")
    try:
        df = spark.sql(
            "SELECT n_regionkey, count(*) AS n FROM nation_cached GROUP BY n_regionkey"
        )
        df.collect()  # materialize the cache
        p = plan_of(df)
        # the aggregate reads "Scan In-memory table"; the parquet scan
        # appears only as the InMemoryRelation's build lineage
        assert "Scan In-memory table" in p
        assert "InMemoryRelation" in p
    finally:
        spark.catalog.uncacheTable("nation_cached")


def test_funnel_single_user_shuffle(q):
    """The three ordered-stage minima must share ONE user_id exchange —
    stacking a shuffle per stage is the funnel scale-killer."""
    import re

    p = plan_of(q["q_funnel"])
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2  # window + final agg
    assert "CartesianProduct" not in p and p.count("Join type:") == 0


def test_trailing_rate_single_window(q):
    """Per-event trailing-hour rate must be one RANGE-frame window —
    never a self-join against the hour's events."""
    p = plan_of(q["q_trailing_rate"])
    assert p.count("Join type:") == 0
    assert "Window" in p


def test_event_transitions_no_wide_shuffle(q):
    """Transition matrix: the only corpus exchange is the user window;
    the count groupBy is keyed event-types² and combines map-side."""
    p = plan_of(q["q_event_transitions"])
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2  # partial + final on the pair counts


def test_tpch_q6_pushdown_and_pruning(q):
    """Q6's four predicates must reach the parquet scan and the read
    schema must carry exactly the four referenced columns."""
    p = plan_of(q["q_tpch_q6"])
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual(l_shipda" in p  # shipdate range pushed
    read = [line for line in p.splitlines() if "ReadSchema" in line][0]
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in read
    assert "l_returnflag" not in read and "l_tax" not in read


def test_tpch_q3_no_sort_merge_at_fixture_scale(q):
    """The filtered dims must broadcast (AQE) — a sort-merge join here
    means the broadcast threshold logic regressed."""
    p = plan_of(q["q_tpch_q3"])
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_user_cadence_single_exchange(q):
    """The gap window and the percentile groupBy must share ONE
    user-keyed Exchange — the single-shuffle claim in SCALE.md."""
    p = plan_of(q["q_user_cadence"])
    assert p.count(") Exchange") == 1


def test_coverage_curve_partial_min(q):
    """min(src_rank) must fold map-side: two HashAggregates (partial +
    final) around the term-keyed exchange."""
    p = plan_of(q["q_coverage_curve"])
    assert p.count("HashAggregate") >= 2
    assert "min(" in p


def test_bm25_broadcasts_stats_no_cartesian(q):
    """idf/avgdl are broadcast; the only joins are hash joins."""
    p = plan_of(q["q_bm25"])
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_binary_ingest_no_shuffle(q):
    """The binaryFile projection is row-local — no Exchange at all."""
    p = plan_of(q["q_binary_ingest"])
    assert "Exchange" not in p


def test_ewma_single_window_shuffle(q):
    """All three lags ride one user-keyed window Exchange."""
    p = plan_of(q["q_ewma_value"])
    assert p.count(") Exchange") == 1
    assert p.count(") Window") == 1


def test_join_strategy_hints_control_physical_plan(spark):
    """§4 optimizer surface: the three join-strategy hints must reach
    the physical planner — BROADCAST forces a BroadcastHashJoin even
    on a large side, SHUFFLE_HASH forces ShuffledHashJoin, MERGE
    forces SortMergeJoin even where broadcast would win. This is the
    control a 100 TB operator reaches for when AQE's estimates are
    wrong (e.g. a filtered dim whose stats say 'huge')."""
    from cassowary_spark.tables import load_table

    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders")
    li.createOrReplaceTempView("__hint_li")
    o.createOrReplaceTempView("__hint_o")

    def plan(hint):
        return formatted_plan(
            spark.sql(
                f"SELECT /*+ {hint} */ count(*) AS n "
                "FROM __hint_li l JOIN __hint_o o "
                "ON l.l_orderkey = o.o_orderkey"
            )
        )

    assert "BroadcastHashJoin" in plan("BROADCAST(o)")
    assert "ShuffledHashJoin" in plan("SHUFFLE_HASH(o)")
    assert "SortMergeJoin" in plan("MERGE(o)")


class TestSinglePartitionCorpusWindowDetector:
    """The sp_corpus_windows parser against live plans of every shape
    it must distinguish: join branches (the ':-' tree prefix),
    partitioned vs unpartitioned windows, aggregate-collapsed and
    TakeOrdered-bounded frames."""

    def _events(self, spark, n=200):
        from pyspark.sql import functions as F

        return spark.range(n).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("v")
        )

    def test_unpartitioned_window_over_scan_flagged(self, spark, sf_dir):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cassowary_spark.plancheck import single_partition_corpus_windows
        from cassowary_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        df = d.select(F.rank().over(Window.orderBy("n_chars")).alias("r"))
        assert single_partition_corpus_windows(df) == 1

    def test_partitioned_window_over_scan_clean(self, spark, sf_dir):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cassowary_spark.plancheck import single_partition_corpus_windows
        from cassowary_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        df = d.select(
            F.rank()
            .over(Window.partitionBy("lang").orderBy("n_chars"))
            .alias("r")
        )
        assert single_partition_corpus_windows(df) == 0

    def test_window_over_aggregate_clean(self, spark, sf_dir):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cassowary_spark.plancheck import single_partition_corpus_windows
        from cassowary_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        agg = d.groupBy("lang").agg(F.count("*").alias("n"))
        df = agg.select(F.rank().over(Window.orderBy("n")).alias("r"))
        assert single_partition_corpus_windows(df) == 0

    def test_window_over_take_ordered_clean(self, spark, sf_dir):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cassowary_spark.plancheck import single_partition_corpus_windows
        from cassowary_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        top = d.orderBy(F.desc("n_chars")).limit(10)
        df = top.select(F.rank().over(Window.orderBy("n_chars")).alias("r"))
        assert single_partition_corpus_windows(df) == 0

    def test_window_above_join_branch_flagged(self, spark, sf_dir):
        # the ':-' multi-child tree prefix: a corpus scan on the LEFT
        # branch of a join must still be reachable from the window
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cassowary_spark.plancheck import single_partition_corpus_windows
        from cassowary_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        dims = (
            load_table(spark, sf_dir, "documents")
            .groupBy("lang")
            .agg(F.count("*").alias("n"))
        )
        j = d.join(F.broadcast(dims), "lang")
        df = j.select(F.rank().over(Window.orderBy("n_chars")).alias("r"))
        assert single_partition_corpus_windows(df) == 1

    def test_window_above_two_aggregated_join_sides_clean(self, spark, sf_dir):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cassowary_spark.plancheck import single_partition_corpus_windows
        from cassowary_spark.tables import load_table

        a = (
            load_table(spark, sf_dir, "documents")
            .groupBy("lang")
            .agg(F.count("*").alias("n"))
        )
        b = (
            load_table(spark, sf_dir, "documents")
            .groupBy("lang")
            .agg(F.max("n_chars").alias("mx"))
        )
        j = a.join(b, "lang")
        df = j.select(F.rank().over(Window.orderBy("n")).alias("r"))
        assert single_partition_corpus_windows(df) == 0

    def test_non_aqe_codegen_markers_parsed(self, spark, sf_dir):
        # r10-advice fix: with AQE off the tree header spells
        # '* Sort (4)' — the '*' codegen marker must not break
        # parent-child links (the detector silently counted 0 before)
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cassowary_spark.plancheck import single_partition_corpus_windows
        from cassowary_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        flagged = d.select(
            F.rank().over(Window.orderBy("n_chars")).alias("r")
        )
        clean = (
            d.groupBy("lang")
            .agg(F.count("*").alias("n"))
            .select(F.rank().over(Window.orderBy("n")).alias("r"))
        )
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            assert single_partition_corpus_windows(flagged) == 1
            assert single_partition_corpus_windows(clean) == 0
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    def test_reused_exchange_resolved_to_mirrored_subtree(
        self, spark, sf_dir
    ):
        # r10-advice fix: a Window fed via a ReusedExchange of a
        # SinglePartition corpus exchange is just as single-task as
        # the original — the mirrored subtree must be walked, not
        # treated as bounded
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cassowary_spark.plancheck import single_partition_corpus_windows
        from cassowary_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        ranked = d.select(
            "doc_id",
            F.row_number().over(Window.orderBy("n_chars")).alias("r"),
        )
        j = ranked.alias("a").join(ranked.alias("b"), "r")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            # exchange reuse fires only in non-AQE planning; both the
            # original and the mirrored window must count
            assert single_partition_corpus_windows(j) == 2
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


_CACHED_CORPUS_WINDOW_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (7)
+- Window (6)
   +- Sort (5)
      +- Exchange (4)
         +- InMemoryTableScan (1) (columnarIn=false, columnarOut=true)
               +- InMemoryRelation (2)
                     +- Scan parquet  (3)


(1) InMemoryTableScan
Output [1]: [n_chars#1L]
Arguments: [n_chars#1L]

(4) Exchange
Input [1]: [n_chars#1L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
"""


def test_annotated_header_keeps_cached_subtree_attached():
    # an InMemoryTableScan header carries a trailing annotation after
    # its (N) id and indents its child 6 columns: the scan below the
    # cache must still hang off the exchange the window reads through
    from cassowary_spark.plancheck import _plan_tree, _sp_corpus_windows_from_text

    names, children, _, _ = _plan_tree(_CACHED_CORPUS_WINDOW_PLAN)
    assert len(names) == 7
    assert children[4] == [1] and children[1] == [2] and children[2] == [3]
    assert _sp_corpus_windows_from_text(_CACHED_CORPUS_WINDOW_PLAN) == 1
