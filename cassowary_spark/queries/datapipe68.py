"""Round-13 wave 71 (SURVEY.md §2): driver-visible BATCH TWINS for
the last four pytest-only streaming rows (S10/S11/S12/S17) — closing
the pattern the r12 verdict asked for (Next round #5), exactly as
datapipe62 did for S13/S14/S16/S18/S19.

Each twin expresses the streaming job's SEMANTICS as a batch query
over the events table with a full DuckDB oracle, so the external
driver re-checks the same algebra (rows+schema+hash) every round;
the streaming forms stay in streaming/jobs.py with their
choreographed equivalence pytests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.queries.datapipe32 import _DP_K, _DP_TS
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ----------------------- S10 dropDuplicatesWithinWatermark batch twin

# Planted retry layout: every event is re-sent once, 10 minutes later
# for even event_ids (inside the 30-minute dedup delay → suppressed)
# and 45 minutes later for odd ones (after state eviction →
# re-emitted). With exactly one retry per id, the streaming
# first-seen-anchored eviction rule collapses to a closed form both
# engines can state: keep a row iff it is the id's first arrival OR
# it lands strictly after first_ts + delay.
_WM_DELAY = "30 MINUTE"


@query(
    "q_stream_dedup_wm",
    oracle=f"""
    WITH corpus AS (
        SELECT event_id, event_type, ts FROM events
        UNION ALL
        SELECT event_id, event_type,
               ts + CASE WHEN event_id % 2 = 0
                         THEN INTERVAL 10 MINUTE
                         ELSE INTERVAL 45 MINUTE END
        FROM events
    ),
    firsts AS (
        SELECT event_id, min(ts) AS first_ts FROM corpus GROUP BY 1
    ),
    kept AS (
        SELECT c.event_type,
               CASE WHEN c.ts = f.first_ts THEN 1 ELSE 0 END AS is_first
        FROM corpus c JOIN firsts f ON c.event_id = f.event_id
        WHERE c.ts = f.first_ts
           OR c.ts > f.first_ts + INTERVAL {_WM_DELAY}
    )
    SELECT event_type,
           CAST(sum(is_first) AS BIGINT) AS n_ids,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(is_first) AS BIGINT) AS n_reemitted
    FROM kept GROUP BY event_type
    """,
)
def q_stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state ingest dedup (S10) — batch twin of
    ``dropDuplicatesWithinWatermark``: retries of an event_id landing
    within the 30-minute delay of the FIRST arrival are suppressed;
    a retry after the watermark evicts the key's state is re-emitted
    (at-least-once ingest semantics — the consumer sees ≥1, state
    stays bounded by delay × rate; streaming form
    streaming/jobs.dedup_events_within_watermark, whose pytest
    stages the same inside/after-delay choreography cross-batch).

    The planted corpus re-sends every event once — +10 min for even
    ids (suppressed), +45 min for odd (re-emitted) — so the expected
    release is exactly: all first arrivals, plus the odd-id retries.
    With one retry per id the streaming eviction rule is the closed
    form both engines compute: keep iff first arrival OR
    ts > first_ts + delay. Output is the per-type accounting
    (unique ids, kept rows, re-emissions) a dedup audit reports.

    Determinism: timestamp arithmetic is exact µs-integer on both
    engines; pure counting after the filter.

    Scale shape: one groupBy(event_id) for the first-arrival frame
    (map-side combinable), one id-keyed equi-join back, one
    bounded-domain groupBy(event_type) — the same per-key state
    discipline the streaming operator maintains incrementally.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    retry = ev.select(
        "event_id",
        "event_type",
        F.expr(
            "ts + IF(event_id % 2 = 0,"
            " INTERVAL 10 MINUTES, INTERVAL 45 MINUTES)"
        ).alias("ts"),
    )
    corpus = ev.unionByName(retry)
    firsts = corpus.groupBy("event_id").agg(F.min("ts").alias("first_ts"))
    kept = (
        corpus.join(firsts, "event_id")
        .filter(
            (F.col("ts") == F.col("first_ts"))
            | (F.col("ts") > F.col("first_ts") + F.expr(f"INTERVAL {_WM_DELAY}"))
        )
        .select(
            "event_type",
            (F.col("ts") == F.col("first_ts")).cast("long").alias("is_first"),
        )
    )
    return kept.groupBy("event_type").agg(
        F.sum("is_first").cast("long").alias("n_ids"),
        F.count("*").cast("long").alias("n_kept"),
        (F.count("*") - F.sum("is_first")).cast("long").alias("n_reemitted"),
    )


# ------------------------- S11 transformWithStateInPandas batch twin


@query(
    "q_stream_running_totals",
    oracle=f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_srnd("sum(value)", 4)} AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful running totals (S11) — batch twin of
    ``transformWithStateInPandas`` (streaming/jobs.running_totals_tws):
    the StatefulProcessor folds each micro-batch into a per-user
    ValueState of (n, sum) and emits updates, so its LAST emission
    per key over a finished input is exactly this batch aggregate.
    The stream-vs-batch equivalence pytest proves that identity
    where the state-v2 protobuf runner exists; this oracle-gated twin
    keeps the algebra driver-checked even in environments where the
    runner cannot start (the repo's one documented permanent skip).

    Determinism: counts exact; the value sum is srnd4-quantized on
    both engines (the q_stream_static_join precedent for
    fold-order-stable double sums).

    Scale shape: one map-side-combining groupBy(user_id) — the batch
    collapse of state that the streaming form maintains as two
    scalars per key behind one state-store shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        srnd(F.sum("value"), 4).alias("sum_value"),
    )


# ------------------------------ S12 dynamic-gap session-window twin


@query(
    "q_stream_dynamic_sessions",
    oracle="""
    WITH g AS (
        SELECT user_id, event_type, ts,
               CASE WHEN event_type = 'error'
                    THEN 300000000 ELSE 1800000000 END AS gap_us,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts
               ) AS prev_us
        FROM events
    ),
    f AS (
        SELECT *,
               CASE WHEN prev_us IS NULL
                      OR epoch_us(ts) - prev_us >= gap_us
                    THEN 1 ELSE 0 END AS brk
        FROM g
    ),
    s AS (
        SELECT *,
               sum(brk) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM f
    )
    SELECT min(ts) AS session_start,
           max(ts) + CASE WHEN event_type = 'error'
                          THEN INTERVAL 5 MINUTE
                          ELSE INTERVAL 30 MINUTE END AS session_end,
           user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, event_type, sid
    """,
)
def q_stream_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows (S12) — batch twin: the SAME
    ``session_window`` expression the streaming job runs (per-row gap:
    5 minutes of silence closes an error session, 30 any other —
    incident-vs-browsing sessionization a flat gap cannot express),
    evaluated over the finished events table by calling
    streaming/jobs.dynamic_gap_sessions directly (session_window is
    batch-executable; the stream-vs-batch pytest already relies on
    that identity — this key adds the independent DuckDB derivation).

    Oracle: within (user_id, event_type) the gap is CONSTANT, so
    session_window's interval-overlap merge collapses to the lag
    rule "new session iff ts − prev_ts ≥ gap" (windows [t, t+gap)
    merge exactly when the next start lands strictly inside the
    running end); session_end = last ts + gap. Computed on exact
    epoch-µs integers; tie rows (equal ts) get brk = 0 under any
    order, so the session ids are order-invariant.

    Scale shape: both forms shuffle once on (user_id, event_type) —
    the streaming state is one open window per key, the batch window
    is key-partitioned (never single-partition); the rollup reuses
    the same partitioning.
    """
    from cassowary_spark.streaming.jobs import dynamic_gap_sessions

    ev = load_table(spark, sf_dir, "events")
    out = dynamic_gap_sessions(ev)
    return out.select(
        "session_start",
        "session_end",
        "user_id",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )


# ----------------------------- S17 noisy streaming counter twin


@query(
    "q_stream_dp_release",
    oracle=f"""
    WITH g AS (
        SELECT event_type, count(*) AS n,
               CAST('0x' || substr(md5(event_type), 1, 8)
                    AS BIGINT) AS u32
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(-{_DP_K} + list_sum(list_transform(
               {list(_DP_TS)},
               t -> CASE WHEN u32 >= t THEN 1 ELSE 0 END)) AS INT) AS noise,
           CAST(n + (-{_DP_K} + list_sum(list_transform(
               {list(_DP_TS)},
               t -> CASE WHEN u32 >= t THEN 1 ELSE 0 END))) AS BIGINT)
               AS dp_n
    FROM g
    """,
)
def q_stream_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy streaming counter release (S17) — batch twin: the FINAL
    complete-mode release of streaming/jobs.dp_type_counts over a
    finished input, computed by calling that job's own batch-capable
    body on the events table — per-event-type counts through the
    C156 discrete-Laplace staircase, noise seeded by the group key's
    md5 so every micro-batch re-emission carries the SAME draw (the
    noise-reuse posture; see q_dp_counts for the PRIVACY CAVEAT —
    public seed ⇒ mechanism shape only, no epsilon).

    The streaming pytest proves final state == this batch mechanism
    bit-for-bit; this twin makes the identical algebra oracle-gated
    (same staircase literals embedded in both
    engines — integer compares only, no transcendentals at runtime).

    Scale shape: state/output is one row per event type (bounded
    domain); noise is row-local over that tiny frame.
    """
    from cassowary_spark.streaming.jobs import dp_type_counts

    ev = load_table(spark, sf_dir, "events")
    return dp_type_counts(ev).select(
        "event_type",
        F.col("noise").cast("int").alias("noise"),
        F.col("dp_n").cast("long").alias("dp_n"),
    )
