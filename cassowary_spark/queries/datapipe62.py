"""Round-12 wave 65 (SURVEY.md §2): driver-visible BATCH TWINS for
the five streaming choreographies the r11 verdict flagged as
invisible to the driver's oracle compare (S13/S14/S16/S18/S19 — each
gated only by a choreographed pytest until now, q_session_capped
precedent).

Each twin expresses the streaming job's SEMANTICS as a batch query
over the events table, with a full DuckDB oracle — a stronger gate
than the rows-only registration the verdict asked for. The streaming
forms stay in streaming/jobs.py with their pytest equivalence
choreographies; these keys give the external driver a three-way
(rows+schema+hash) check over the same algebra every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ----------------------------------- S13 full-outer interval join twin


@query(
    "q_stream_join_full",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    c AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT coalesce(v.user_id, c.user_id) AS user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           v.ts AS view_ts,
           c.ts AS click_ts
    FROM v FULL JOIN c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join (S13) — batch twin.

    Views pair with same-user clicks in [view_ts, view_ts + 30 min];
    unmatched VIEWS emit a NULL-click row and unmatched CLICKS emit a
    NULL-view row — both sides accounted, the audit shape. The
    streaming form (streaming/jobs.view_click_join_full) holds back
    each side's unmatched emission until its watermark closes the
    window; over a finished input the emitted multiset is exactly
    this batch join, which is what its choreographed pytest proves
    and what this oracle-gated twin re-checks against DuckDB.

    Scale shape: equi-join on user_id with a time-range residual — an
    ordinary hash-partitioned shuffle on both sides, never a
    cartesian; the streaming form's state is bounded by watermark +
    interval per side.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").alias("v")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    return v.join(
        c,
        F.expr(
            "v.user_id = c.user_id AND c.ts >= v.ts"
            " AND c.ts <= v.ts + INTERVAL 30 MINUTES"
        ),
        "full_outer",
    ).select(
        F.coalesce(F.col("v.user_id"), F.col("c.user_id")).alias("user_id"),
        F.col("v.event_id").alias("view_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("v.ts").alias("view_ts"),
        F.col("c.ts").alias("click_ts"),
    )


# ------------------------------------ S14 left-semi interval join twin


@query(
    "q_stream_join_semi",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts
    FROM events v
    WHERE v.event_type = 'view'
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = v.user_id
          AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
      )
    """,
)
def q_stream_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join (S14) — batch twin.

    "Which views converted?": each view emits AT MOST ONCE if any
    same-user click lands in its 30-minute window, with no click
    columns in the output — the existence-check shape an inner join
    gets wrong by duplicating the view per click. Streaming form:
    streaming/jobs.view_click_join_semi (same state bounds as the
    inner join; at-most-once left emission means downstream counts
    need no dedup).

    Scale shape: LeftSemi hash join on user_id + range residual — the
    build side carries only join keys, and emission is capped at the
    left cardinality by the join type itself (no post-dedup job).
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").alias("v")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    return v.join(
        c,
        F.expr(
            "v.user_id = c.user_id AND c.ts >= v.ts"
            " AND c.ts <= v.ts + INTERVAL 30 MINUTES"
        ),
        "left_semi",
    ).select(
        F.col("v.user_id").alias("user_id"),
        F.col("v.event_id").alias("view_id"),
        F.col("v.ts").alias("view_ts"),
    )


# ------------------------------- S16 resumable-ingest exactly-once twin

_INGEST_BATCHES = 4
_INGEST_CRASH_AFTER = 1  # sink wrote batch 1, offset commit lost


@query(
    "q_resumable_ingest_audit",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, event_id % {_INGEST_BATCHES} AS batch_id
        FROM events
    ),
    arrivals AS (
        -- run 1 delivers batches 0..crash; the offset commit for the
        -- crash batch is lost, so the restart REDELIVERS it before
        -- continuing with the remainder: batch b arrives twice iff
        -- b == crash batch, once otherwise
        SELECT batch_id,
               CAST(count(*) *
                    (CASE WHEN batch_id = {_INGEST_CRASH_AFTER}
                          THEN 2 ELSE 1 END) AS BIGINT) AS n_arrivals,
               CAST(count(*) AS BIGINT) AS n_sink
        FROM ev GROUP BY batch_id
    )
    SELECT batch_id, n_arrivals, n_sink,
           CAST(n_arrivals - n_sink AS BIGINT) AS n_deduped
    FROM arrivals
    """,
)
def q_resumable_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed resumable ingest (S16) — exactly-once audit twin.

    Models the stop/restart contract as data: ingestion is
    micro-batched (batch = event_id % {nb}), the query is killed
    after the sink wrote batch {cb} but BEFORE its offset commit, so
    the restart redelivers batch {cb} (at-least-once source) before
    continuing. The sink dedups on event_id (idempotent write), so
    every id lands exactly once: per batch the audit reports arrivals
    (double for the crash batch), sink rows (= the batch's distinct
    ids — exactly-once), and the dedup delta the idempotent sink
    absorbed. The live choreography (real kill between micro-batches,
    checkpoint offset log, restart) is streaming/jobs.resumable_ingest
    + its pytest; this twin pins the same reconciliation algebra
    under the driver's three-way gate.

    Scale shape: one map-side-combining groupBy over the ingest
    ledger; arrival/dedup arithmetic is row-local on the {nb}-row
    result. The ledger join a real sink audit needs is equi-keyed on
    (batch_id, id) — never a history scan.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("event_id") % _INGEST_BATCHES).alias("batch_id")
    )
    per_batch = ev.groupBy("batch_id").agg(
        F.count("*").cast("long").alias("n_sink")
    )
    return per_batch.select(
        "batch_id",
        (
            F.col("n_sink")
            * F.when(
                F.col("batch_id") == _INGEST_CRASH_AFTER, F.lit(2)
            ).otherwise(F.lit(1))
        )
        .cast("long")
        .alias("n_arrivals"),
        "n_sink",
    ).select(
        "batch_id",
        "n_arrivals",
        "n_sink",
        (F.col("n_arrivals") - F.col("n_sink")).cast("long").alias("n_deduped"),
    )


q_resumable_ingest_audit.__doc__ = q_resumable_ingest_audit.__doc__.format(
    nb=_INGEST_BATCHES, cb=_INGEST_CRASH_AFTER
)


# ----------------------------------------- S18 streaming CDC merge twin

_CDC_DELETE_MOD = 10


@query(
    "q_cdc_merge_batch",
    oracle=f"""
    WITH cdc AS (
        SELECT user_id AS pk,
               event_id AS seq,
               CASE WHEN event_id % {_CDC_DELETE_MOD} = 0
                    THEN 'D' ELSE 'U' END AS op,
               value
        FROM events
    ),
    resolved AS (
        SELECT pk,
               CAST(count(*) AS BIGINT) AS n_versions,
               CAST(max(seq) AS BIGINT) AS last_seq,
               arg_max(op, seq) AS last_op,
               arg_max(value, seq) AS last_value
        FROM cdc GROUP BY pk
    )
    SELECT pk, n_versions, last_seq,
           {sql_srnd("last_value", 4)} AS last_value
    FROM resolved WHERE last_op <> 'D'
    """,
)
def q_cdc_merge_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC merge (S18) — latest-wins resolution twin.

    A Debezium-shaped change stream (pk, seq, op, payload) is
    synthesized from events (pk = user_id, seq = event_id, every
    {dm}th version a DELETE) and MERGEd latest-wins: per pk the
    highest-seq version decides, and a winning DELETE removes the
    row. Latest-wins is associative/commutative/idempotent, so the
    continuous micro-batched apply (streaming/jobs.cdc_merge_stream —
    kill/restart + full-replay idempotency proven by its pytest)
    converges to exactly this one-shot resolution — the identity that
    makes at-least-once redelivery compose to exactly-once sink state
    without sink transactions.

    Scale shape: ONE map-side-combining groupBy(pk) carries the whole
    resolution (max_by for the winning op/payload, max for seq, count
    for the version depth) — no self-join, no window; the live sink
    holds one row per surviving pk.
    """
    cdc = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("pk"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_id") % _CDC_DELETE_MOD == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    resolved = cdc.groupBy("pk").agg(
        F.count("*").cast("long").alias("n_versions"),
        F.max("seq").cast("long").alias("last_seq"),
        F.max_by("op", "seq").alias("last_op"),
        F.max_by("value", "seq").alias("last_value"),
    )
    return resolved.filter(F.col("last_op") != "D").select(
        "pk",
        "n_versions",
        "last_seq",
        srnd(F.col("last_value"), 4).alias("last_value"),
    )


q_cdc_merge_batch.__doc__ = q_cdc_merge_batch.__doc__.format(
    dm=_CDC_DELETE_MOD
)


# --------------------------------------- S19 observed metrics twin

_OBS_BATCHES = 4


@query(
    "q_observed_metrics",
    oracle=f"""
    SELECT event_id % {_OBS_BATCHES} AS batch_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           {sql_srnd("sum(value)", 4)} AS sum_value
    FROM events GROUP BY 1
    """,
)
def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed streaming metrics (S19) — per-micro-batch twin.

    The metrics ``DataFrame.observe`` + a StreamingQueryListener
    report for free on the write's own scan — rows in, distinct
    users, value mass per micro-batch (batch = event_id %
    {nb}, the repo's striped-arrival convention) — expressed as the
    batch aggregation those accumulators must equal. The live form
    (streaming/jobs.observed_counts) is pytest-proven to match each
    batch's actual content; this twin pins the same totals under the
    driver gate.

    Scale shape: one map-side-combining groupBy over the ledger; the
    streaming original is explicitly ZERO extra jobs (accumulators on
    the existing pass), which is the point of observe() at 100 TB/day
    ingest volume.
    """
    return (
        load_table(spark, sf_dir, "events")
        .groupBy((F.col("event_id") % _OBS_BATCHES).alias("batch_id"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            srnd(F.sum("value"), 4).alias("sum_value"),
        )
    )


q_observed_metrics.__doc__ = q_observed_metrics.__doc__.format(
    nb=_OBS_BATCHES
)
