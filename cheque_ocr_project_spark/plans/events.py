"""Events family: per-user and per-conversation operators over time.

Top-1 per user, status gates, stats and JSON properties, the as-of and
range joins, hourly rollups, the conversion funnel, gap sessionization in
its batch, chunked (whale-safe) and streaming forms, per-conversation
streaming progress, and turn repetition with its loop gate — each a Spark
query beside its DuckDB twin (a generator or a SQL constant). The chunked
and streaming forms are checked against the SAME oracle as the plain
single-window form, so the decomposition is proven equal to the plain
semantics.
"""

from __future__ import annotations

import itertools
import os
import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cheque_ocr_project_spark.operators.extract import par
from cheque_ocr_project_spark.sources import scratch
from cheque_ocr_project_spark.sources.io import (
    documents_as_transcripts, read_documents, read_events,
)
from cheque_ocr_project_spark.streaming.stateful import (
    SESSION_GAP_US, conversation_progress, streaming_sessionize,
)

# ---------------------------------------------------------------------------
# W1/W5/A2/K4/S11/S12: events-hosted operators
# ---------------------------------------------------------------------------

def q_top1_event_per_user(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        read_events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


def sql_top1_event_per_user():
    return """
SELECT user_id, event_id, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"""


def q_event_status_gate(spark, sf_dir):
    status = (
        F.when(F.col("value") >= 90.0, "AUTO-UPDATED")
        .when(F.col("value") >= 70.0, "REVIEW")
        .otherwise("REJECTED")
    )
    return (
        read_events(spark, sf_dir)
        .withColumn("status", status)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sql_event_status_gate():
    return """
SELECT CASE WHEN value >= 90.0 THEN 'AUTO-UPDATED'
            WHEN value >= 70.0 THEN 'REVIEW'
            ELSE 'REJECTED' END AS status, count(*) AS n
FROM events GROUP BY 1"""


def q_event_stats(spark, sf_dir):
    return read_events(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


def sql_event_stats():
    return """
SELECT event_type, count(*) AS n,
       round(sum(value), 4) AS sum_value,
       round(avg(value), 4) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY 1"""


def q_json_props(spark, sf_dir):
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        read_events(spark, sf_dir)
        .withColumn("k", k)
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


def sql_json_props():
    # CAST the aggregate: DuckDB sum(INTEGER) yields HUGEINT while Spark
    # sum(int) yields BIGINT — values agree but the driver hashes types too.
    return """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY 1"""


def q_union_dedup(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    a = ev.filter(F.col("event_type") == "error").select("user_id")
    b = ev.filter(F.col("value") > 95.0).select("user_id")
    return a.unionByName(b).dropDuplicates(["user_id"])


def sql_union_dedup():
    return """
SELECT DISTINCT user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT user_id FROM events WHERE value > 95.0
)"""


def q_last_tokens(spark, sf_dir):
    tokens = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
    last3 = F.array_join(F.slice(tokens, -3, 3), " ")
    return (
        par(read_documents(spark, sf_dir))
        .filter(F.size(tokens) >= 3)
        .select("doc_id", last3.alias("last_tokens"))
    )


def sql_last_tokens():
    return """
SELECT doc_id,
  array_to_string(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')[-3:], ' ') AS last_tokens
FROM documents
WHERE len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')) >= 3"""


# ---------------------------------------------------------------------------
# As-of join — the classic temporal operator Spark lacks natively. For each
# 'purchase' event: the most recent 'click' at-or-before it for the same
# user. Implemented as the scale-safe union + running-last trick: tag both
# streams, one shuffle on user_id, a running last(ignorenulls) carries the
# latest right-side row forward — NO range join, whose candidate blowup
# (every left row x every earlier right row) is the naive formulation's
# 100 TB failure mode. DuckDB's native ASOF LEFT JOIN is the oracle, so the
# semantics are checked against an independent implementation, not a mirror.
# ---------------------------------------------------------------------------

def q_asof_join(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    # ONE pruned scan tags both streams; no pre-aggregation needed — the
    # ordering (ts, side, r_id) makes the running last() pick the highest
    # click_id among clicks sharing a timestamp, which is exactly the
    # deterministic per-(user, ts) dedup the oracle states as a GROUP BY.
    side = F.when(F.col("event_type") == "click", 0).otherwise(1)
    tagged = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id", "ts", side.alias("side"),
            F.when(F.col("event_type") == "click", F.col("event_id"))
            .alias("r_id"),
            F.when(F.col("event_type") == "purchase", F.col("event_id"))
            .alias("l_id"),
        )
    )
    # side=0 sorts before side=1 at equal ts => 'at-or-before' inclusive
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("side").asc(), F.col("r_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.select(
        "user_id", "ts", "side", "l_id",
        F.last(
            F.when(F.col("side") == 0, F.struct("ts", "r_id")),
            ignorenulls=True,
        ).over(w).alias("c"),
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            F.col("l_id").alias("event_id"), "user_id", "ts",
            F.col("c.r_id").alias("click_id"),
            F.col("c.ts").alias("click_ts"),
            # exact microsecond delta: tz-independent on NTZ timestamps
            # (a cast-to-long goes through the session timezone) and free
            # of the truncate-vs-boundary-crossing divergence between
            # engines at sub-second resolution
            F.timestamp_diff("MICROSECOND", F.col("c.ts"), F.col("ts"))
            .alias("gap_us"),
        )
    )


def q_event_rollup(spark, sf_dir):
    """Hierarchical time-bucket rollup (the hypertable/continuous-
    aggregate pattern): per (event_type, hour) totals, per-type subtotals,
    and the grand total in ONE pass via ROLLUP — Catalyst expands the
    grouping sets into a single shuffle instead of three scans. Money is
    summed in exact integer cents (round(value*100)) so the cross-engine
    compare never meets float-accumulation-order noise."""
    ev = read_events(spark, sf_dir).select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return ev.rollup("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )


SQL_EVENT_ROLLUP = """
SELECT event_type, hr,
       count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
GROUP BY ROLLUP (event_type, hr)"""


# Per-stage conversion window: a later stage counts only within 24h of
# the previous one. At sf0.01 the funnel genuinely narrows:
# 150 users -> 60 click-within-24h -> 25 purchase-within-24h.
FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000


def q_funnel(spark, sf_dir):
    """Ordered three-stage conversion funnel (view -> click-within-24h ->
    purchase-within-24h): per user, the first view, the first qualifying
    click at-or-after it, the first qualifying purchase after that;
    output is the stage-reach counts.

    Deliberately the groupBy formulation, NOT a per-user window: each
    stage is a map-side-combinable aggregate joined back on user_id, so
    one bot user with 10^8 events never pins a single task (the whale
    shape the chunked operators exist to avoid — an unbounded per-user
    window would reintroduce it; locked by the whale test + plan
    assertion in test_scale_mechanics). Only stage-relevant rows ride
    the joins: clicks against stage 1, purchases against stage 2 — the
    view/signup/error majority never shuffles twice. Gap bounds compare
    exact epoch microseconds; a missing earlier stage nulls every later
    stage through the null-propagating predicates, and LEFT joins keep
    users who never reach a stage in the counts."""
    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_type")

    def within(prev_col):
        gap = F.timestamp_diff("MICROSECOND", F.col(prev_col), F.col("ts"))
        return (F.col("ts") >= F.col(prev_col)) & (gap <= FUNNEL_WINDOW_US)

    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("s1")
    )
    s2_agg = (
        ev.filter(F.col("event_type") == "click")
        .join(u, "user_id")
        .filter(within("s1"))
        .groupBy("user_id").agg(F.min("ts").alias("s2"))
    )
    c = u.join(s2_agg, "user_id", "left")
    s3_agg = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.filter(F.col("s2").isNotNull()).select("user_id", "s2"),
              "user_id")
        .filter(within("s2"))
        .groupBy("user_id").agg(F.min("ts").alias("s3"))
    )
    p = c.join(s3_agg, "user_id", "left")
    return p.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("s1").isNotNull().cast("long")).alias("reached_view"),
        F.sum(F.col("s2").isNotNull().cast("long")).alias("reached_click"),
        F.sum(F.col("s3").isNotNull().cast("long")).alias("reached_purchase"),
    )


SQL_FUNNEL = f"""
WITH u AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS s1
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, u.s1,
         min(CASE WHEN e.event_type = 'click' AND e.ts >= u.s1
                   AND epoch_us(e.ts) - epoch_us(u.s1) <= {FUNNEL_WINDOW_US}
                  THEN e.ts END) AS s2
  FROM events e JOIN u USING (user_id) GROUP BY e.user_id, u.s1
),
p AS (
  SELECT e.user_id, c.s1, c.s2,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.s2
                   AND epoch_us(e.ts) - epoch_us(c.s2) <= {FUNNEL_WINDOW_US}
                  THEN e.ts END) AS s3
  FROM events e JOIN c USING (user_id) GROUP BY e.user_id, c.s1, c.s2
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS reached_view,
       CAST(sum(CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS reached_click,
       CAST(sum(CASE WHEN s3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS reached_purchase
FROM p"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization: events of a user separated by more than
    30 minutes of inactivity start a new session — the classic
    lag + running-sum formulation. session_seq is the per-user session
    ordinal, deterministic under the (ts, event_id) ordering.

    Scale shape: ONE shuffle on the high-cardinality user key, one sort,
    both window functions (lag, running sum) share the partitioning —
    never a range join or a self-join. Gap compared in exact integer
    microseconds (no truncation-unit dialect risk)."""
    ev = read_events(spark, sf_dir).select("event_id", "user_id", "ts")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    prev_ts = F.lag("ts").over(w)
    gap_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    new_sess = F.when(
        prev_ts.isNull() | (gap_us > SESSION_GAP_US), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        ev.select(
            "event_id", "user_id", "ts", new_sess.alias("new_sess")
        )
        .select(
            "event_id", "user_id", "ts",
            F.sum("new_sess").over(run).cast("long").alias("session_seq"),
            (F.col("new_sess") == 1).alias("is_session_start"),
        )
    )


SQL_SESSIONIZE = f"""
WITH l AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), f AS (
  SELECT event_id, user_id, ts,
         CASE WHEN prev_ts IS NULL
                OR epoch_us(ts) - epoch_us(prev_ts) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM l
)
SELECT event_id, user_id, ts,
       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_seq,
       new_sess = 1 AS is_session_start
FROM f"""


# ---------------------------------------------------------------------------
# Whale-user de-skew (VERDICT r04 #3): the plain sessionize/asof windows
# partition by user_id, so one bot user with 10^8 events pins a single
# task at 100x scale — the same failure shape pack_sequences' two-pass
# prefix sum fixed in round 4. Both computations are decomposable the same
# way: partition by (user_id, ts-chunk) — bounded by the event rate times
# the chunk width, not by a user's total history — compute per-chunk
# partials, then combine across a user's chunks on the (much smaller)
# chunk-summary relation, and join the per-chunk offsets back on the keys
# the intra window already partitioned by (no extra exchange of the big
# side). Contract queries prove both variants bit-equal to the SAME DuckDB
# oracles as the single-window forms.
# ---------------------------------------------------------------------------

SESSION_CHUNK_US = 24 * 3600 * 1_000_000  # 1-day chunks: sf0.01 events span
                                          # 30 days, so ~30 chunks/user bind


def _epoch_us(col) -> "F.Column":
    """Microseconds since epoch for a TIMESTAMP_NTZ column (the events
    contract type): timestamp_diff from an NTZ epoch literal — unlike
    unix_micros/cast-to-long this neither requires an instant type nor
    consults the session timezone."""
    return F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), col
    )


def sessionize_chunked(ev: DataFrame, gap_us: int = SESSION_GAP_US,
                       chunk_us: int = SESSION_CHUNK_US) -> DataFrame:
    """Gap sessionization as a two-pass distributed running sum.

    Pass 1 (bounded partitions): within each (user_id, chunk) — chunk =
    unix_micros(ts) div chunk_us, tz-independent — lag gives each
    non-first event its new-session flag and a running intra-chunk count.
    Pass 2 (chunk summaries, one row per non-empty (user, chunk)): a lag
    over a user's chunk rows resolves each chunk's FIRST event against the
    previous chunk's last timestamp (empty chunks simply have no row), and
    a running sum of per-chunk totals yields the session-count offset each
    chunk inherits. session_seq = offset + boundary + intra running count.
    The final equi-join is on (user_id, chunk) — the exact partitioning
    the intra window already established."""
    # exact integer division (a double quotient could truncate wrong at
    # chunk boundaries); epochs are non-negative by the events contract.
    # coalesce makes chunk NON-NULLABLE: otherwise the final inner join's
    # isnotnull(chunk) null-filter re-inlines the computed expression into
    # only one branch's scan and kills ReuseExchange — the same trap
    # pack_sequences hit in round 4 (single-scan plan locked in
    # test_plan_shapes_hold).
    e = ev.select(
        "event_id", "user_id", "ts", _epoch_us(F.col("ts")).alias("__us")
    ).select(
        "event_id", "user_id", "ts",
        F.coalesce(F.expr(f"__us div {chunk_us}"), F.lit(-1)).alias("chunk"),
    )

    order = [F.col("ts").asc(), F.col("event_id").asc()]
    wc = Window.partitionBy("user_id", "chunk").orderBy(*order)
    prev_ts = F.lag("ts").over(wc)
    gap = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    intra_flag = F.when(prev_ts.isNull(), 0).otherwise(
        F.when(gap > gap_us, 1).otherwise(0)
    )
    run = wc.rowsBetween(Window.unboundedPreceding, 0)
    e = e.select(
        "event_id", "user_id", "ts", "chunk",
        prev_ts.isNull().alias("first_in_chunk"),
        intra_flag.alias("intra_flag"),
    ).withColumn("intra_run", F.sum("intra_flag").over(run))

    summary = e.groupBy("user_id", "chunk").agg(
        F.min(_epoch_us(F.col("ts"))).alias("first_us"),
        F.max(_epoch_us(F.col("ts"))).alias("last_us"),
        F.sum("intra_flag").alias("n_intra"),
    )
    ws = Window.partitionBy("user_id").orderBy(F.col("chunk").asc())
    prev_last = F.lag("last_us").over(ws)
    boundary = F.when(
        prev_last.isNull() | (F.col("first_us") - prev_last > gap_us), 1
    ).otherwise(0)
    summary = summary.withColumn("boundary", boundary).withColumn(
        "offset",
        F.coalesce(
            F.sum(F.col("boundary") + F.col("n_intra")).over(
                ws.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("user_id", "chunk", "boundary", "offset")

    joined = e.join(summary, ["user_id", "chunk"])
    new_sess = F.when(
        F.col("first_in_chunk"), F.col("boundary")
    ).otherwise(F.col("intra_flag"))
    return joined.select(
        "event_id", "user_id", "ts",
        (F.col("offset") + F.col("boundary") + F.col("intra_run"))
        .cast("long").alias("session_seq"),
        (new_sess == 1).alias("is_session_start"),
    )


def q_sessionize_chunked(spark, sf_dir):
    ev = read_events(spark, sf_dir).select("event_id", "user_id", "ts")
    return sessionize_chunked(ev)


_MEMORY_SINK_SEQ = itertools.count(1)


def _drain_to_memory(spark, stream: DataFrame, mode: str, name: str,
                     ckpt: str, progress, expected: int) -> DataFrame:
    """Harness adapter shared by the stateful-streaming contract rows: run
    ``stream`` availableNow into a memory sink table, poll until
    ``progress(table_df)`` reaches ``expected`` (availableNow does NOT
    self-terminate while applyInPandasWithState processing-time timers are
    pending — the same discipline as tests/test_stateful_streaming.py),
    stop it explicitly, and return the sink table. A sink still short of
    ``expected`` after the 240 s deadline raises rather than hand back a
    partial relation."""
    table = f"{name}_{next(_MEMORY_SINK_SEQ)}"
    q = (
        stream.writeStream.outputMode(mode)
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            if progress(spark.table(table)) >= expected:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination(60)

    got = progress(spark.table(table))
    if got != expected:
        raise RuntimeError(
            f"streaming sink {table} incomplete: {got}/{expected}"
        )
    return spark.table(table)


def q_sessionize_streaming(spark, sf_dir):
    """Driver-visible contract row for the Structured-Streaming stateful
    sessionizer (streaming/stateful.py streaming_sessionize — the
    applyInPandasWithState twin of q_sessionize; graft analog of the
    reference's incremental machinery, parallel_processor.py:113-134):
    run it in availableNow mode over the events table and return the
    collected assignment relation, oracle = the SAME SQL_SESSIONIZE the
    batch operators are checked against.

    Harness adapter notes (sandbox-only mechanics, not the production
    shape):
    - the file stream source lists a DIRECTORY, and the test parquet is a
      single file, so the file is symlinked into a scratch staging dir
      (pid-tagged; hour-old siblings of dead runs are swept); a
      production ingest already reads a directory/prefix.
    - sink is a memory sink (driver-side rows) purely so the harness can
      hand the result back as a DataFrame; production is the parquet/
      foreachBatch sink in streaming/stream.py. Row volume here is the
      events table at contract scale (10^4..10^5), not 100 TB.
    - completeness is row count == source count (_drain_to_memory).
    """
    scratch.sweep("sess_stream_")
    ev = read_events(spark, sf_dir)
    n_expected = ev.count()
    stage = scratch.mkdtemp("sess_stream_in_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(stage, "events.parquet"),
    )
    stream = spark.readStream.schema(ev.schema).parquet(stage)
    sink = _drain_to_memory(
        spark, streaming_sessionize(stream), "append", "sessionize_streaming",
        scratch.mkdtemp("sess_stream_ckpt_"), DataFrame.count, n_expected,
    )
    # ts_us (tz-independent long) -> the contract TIMESTAMP_NTZ, the
    # exact inverse of the operator's ns//1000; columns/aliases match
    # SQL_SESSIONIZE so the driver's sorted-column value hash aligns.
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return sink.select(
        "event_id",
        "user_id",
        F.timestamp_add("MICROSECOND", F.col("ts_us"), epoch).alias("ts"),
        "session_seq",
        "is_session_start",
    )


def _n_convs(df: DataFrame) -> int:
    return df.select("conv_id").distinct().count()


def q_conversation_progress(spark, sf_dir):
    """Driver-visible contract row for the OTHER stateful streaming
    operator (streaming/stateful.conversation_progress — per-conversation
    running aggregates via applyInPandasWithState; graft analog of the
    reference's in-process mutable counters, issuer_processor_v.py:63-69):
    drive it in availableNow mode over documents-as-transcripts and
    return the final per-conversation aggregates; oracle = the plain
    GROUP BY the running state converges to.

    Determinism: the staged input is written as ONE parquet file so
    availableNow runs a single micro-batch, and the idle timeout is set
    beyond the run length so no timeout-eviction rows interleave. The
    update-mode memory sink keeps every emission; since the tracked
    counters are monotone non-decreasing across emissions, max() per
    conversation is exactly the final state (and with one batch there is
    exactly one emission per conversation anyway). Harness mechanics
    (scratch staging dir, memory sink, poll-and-stop) are shared with
    q_sessionize_streaming — see its docstring."""
    scratch.sweep("conv_stream_")
    tr = documents_as_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "text"
    )
    n_convs = _n_convs(tr)
    stage = scratch.mkdtemp("conv_stream_in_")
    tr.coalesce(1).write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(tr.schema).parquet(stage)
    sink = _drain_to_memory(
        spark, conversation_progress(stream, idle_timeout_ms=3_600_000),
        "update", "conversation_progress", scratch.mkdtemp("conv_stream_ckpt_"),
        _n_convs, n_convs,
    )
    return sink.groupBy("conv_id").agg(
        F.max("turns_seen").alias("turns_seen"),
        F.max("max_turn_idx").alias("max_turn_idx"),
        F.max("payee_marker_turns").alias("payee_marker_turns"),
    )


# mirrors streaming/stateful._PAYEE_MARKERS (substring containment on the
# uppercased text, null -> '') and the documents_as_transcripts key split
# (SQL twin of the conv_id/turn_idx expressions in flagship.py)
SQL_CONVERSATION_PROGRESS = """
WITH t AS (
  SELECT source || '-' || CAST(doc_id // 2147483648 AS VARCHAR) AS conv_id,
         CAST(doc_id % 2147483648 AS INT) AS turn_idx,
         upper(coalesce(text, '')) AS u
  FROM documents
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS turns_seen,
       CAST(max(turn_idx) AS BIGINT) AS max_turn_idx,
       CAST(sum(CASE WHEN contains(u, 'PAY') OR contains(u, 'ORDER OF')
                       OR contains(u, 'FAVOUR OF')
                       OR contains(u, 'BENEFICIARY')
                     THEN 1 ELSE 0 END) AS BIGINT) AS payee_marker_turns
FROM t GROUP BY conv_id"""


REP_TURN_CHUNK = 4096  # turn_idx div 4096 bounds every lag partition


def turn_repetition_chunked(tr: DataFrame,
                            chunk_sz: int = REP_TURN_CHUNK) -> DataFrame:
    """Degenerate-loop detection over transcripts: per conversation, the
    token-set Jaccard overlap between each turn and its predecessor —
    the agent-transcript analog of rep_dup_lines (an assistant stuck
    re-emitting the same turn shows rep_ppm pinned near 1e6, and a
    training pipeline drops or truncates such conversations). Counts
    and the ppm ratio are exact integers; only turns with a
    predecessor are emitted.

    Scale shape: conv_id is LOW-cardinality by construction (the
    documents_as_transcripts split yields ~#sources conversations), so
    a lag window partitioned by conv_id alone would pin an entire
    conversation into one sort task — the whale shape
    sessionize_chunked exists to kill. Same two-pass cure: lag within
    bounded (conv_id, turn_idx-chunk) partitions; each chunk's LAST
    token set is computed as a full-frame window in the SAME stage
    (asof_join_chunked's c_full trick — a groupBy branch would not
    ReuseExchange) and carried to the next non-empty chunk's first turn
    via a lag over the small per-chunk summary relation. The final
    equi-join is on (conv_id, chunk), the partitioning the intra
    window already established."""
    toks = F.array_distinct(
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col("text"), F.lit(""))),
            F.lit("[a-z]+"), F.lit(0),
        )
    )
    t = tr.select("conv_id", "turn_idx", toks.alias("toks")).select(
        "conv_id", "turn_idx", "toks",
        # non-nullable chunk: see sessionize_chunked (ReuseExchange)
        F.coalesce(F.expr(f"turn_idx div {chunk_sz}"), F.lit(-1)).alias("chunk"),
    )
    base = Window.partitionBy("conv_id", "chunk").orderBy(
        F.col("turn_idx").asc()
    )
    staged = t.select(
        "conv_id", "turn_idx", "chunk", "toks",
        F.lag("toks").over(base).alias("prev_intra"),
        F.last("toks").over(
            base.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
        ).alias("chunk_last"),
    )
    ws = Window.partitionBy("conv_id").orderBy(F.col("chunk").asc())
    summary = (
        staged.select("conv_id", "chunk", "chunk_last").distinct()
        .select(
            "conv_id", "chunk",
            F.lag("chunk_last").over(ws).alias("carry_toks"),
        )
    )
    joined = staged.join(summary, ["conv_id", "chunk"])
    prev = F.coalesce(F.col("prev_intra"), F.col("carry_toks"))
    # toks is never null (text is coalesced), so a null lag value means
    # exactly "no predecessor in this chunk" — no flag column needed
    out = joined.filter(prev.isNotNull()).select(
        "conv_id", "turn_idx",
        F.size(F.array_intersect(F.col("toks"), prev))
        .cast("long").alias("inter_toks"),
        F.size(F.array_union(F.col("toks"), prev))
        .cast("long").alias("union_toks"),
    )
    return out.select(
        "conv_id", "turn_idx", "inter_toks", "union_toks",
        F.expr(
            "CAST((inter_toks * 1000000) div greatest(union_toks, 1) AS BIGINT)"
        ).alias("rep_ppm"),
    )


def q_turn_repetition(spark, sf_dir):
    tr = documents_as_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "text"
    )
    return turn_repetition_chunked(tr)


# the oracle is the NAIVE single-window lag — the chunked decomposition
# must be bit-equal to it (same proof obligation as sessionize_chunked
# vs SQL_SESSIONIZE); list inputs are distinct so
# |a ∪ b| = |a| + |b| - |a ∩ b|
SQL_TURN_REPETITION = """
WITH tr AS (
  SELECT source || '-' || CAST(doc_id // 2147483648 AS VARCHAR) AS conv_id,
         CAST(doc_id % 2147483648 AS INT) AS turn_idx,
         list_distinct(regexp_extract_all(lower(coalesce(text, '')),
                                          '[a-z]+')) AS toks
  FROM documents
), l AS (
  SELECT conv_id, turn_idx, toks,
         lag(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM tr
), m AS (
  SELECT conv_id, turn_idx,
         len(list_filter(toks, x -> list_contains(prev, x))) AS inter_toks,
         len(toks) + len(prev)
           - len(list_filter(toks, x -> list_contains(prev, x))) AS union_toks
  FROM l WHERE prev IS NOT NULL
)
SELECT conv_id, turn_idx,
       CAST(inter_toks AS BIGINT) AS inter_toks,
       CAST(union_toks AS BIGINT) AS union_toks,
       CAST((inter_toks * 1000000) // greatest(union_toks, 1) AS BIGINT)
         AS rep_ppm
FROM m"""


LOOP_PPM = 750_000   # a turn repeating >= 75% of the merged token set
LOOP_FRAC_PCT = 30   # flag when > 30% of scored turns are repeats
                     # (thresholds bind at sf0.01: 12 of 20 convs flag)


def q_loop_flagged_convs(spark, sf_dir):
    """The gate turn_repetition feeds: a conversation where more than
    LOOP_FRAC_PCT% of predecessor-scored turns repeat >= LOOP_PPM of
    their merged token set is a degenerate loop — a training pipeline
    drops or truncates it before packing. Cross-multiplied integer
    comparison (loop_turns*100 > scored*PCT), no division at all.

    Scale shape: one map-side-combined agg over turn_repetition's
    chunk-safe output (conv_id is low-cardinality, but the agg rolls
    up map-side before the tiny final exchange — aggregation tolerates
    the low-card key that the lag window could not)."""
    rep = q_turn_repetition(spark, sf_dir)
    agg = rep.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("scored_turns"),
        F.sum(
            F.when(F.col("rep_ppm") >= LOOP_PPM, 1).otherwise(0)
        ).alias("loop_turns"),
    )
    return agg.select(
        "conv_id",
        F.col("scored_turns").cast("long").alias("scored_turns"),
        F.col("loop_turns").cast("long").alias("loop_turns"),
        (F.col("loop_turns") * 100
         > F.col("scored_turns") * LOOP_FRAC_PCT).alias("flagged"),
    )


def sql_loop_flagged_convs():
    return f"""
WITH rep AS ({SQL_TURN_REPETITION}
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS scored_turns,
       CAST(sum(CASE WHEN rep_ppm >= {LOOP_PPM} THEN 1 ELSE 0 END) AS BIGINT)
         AS loop_turns,
       sum(CASE WHEN rep_ppm >= {LOOP_PPM} THEN 1 ELSE 0 END) * 100
         > count(*) * {LOOP_FRAC_PCT} AS flagged
FROM rep GROUP BY conv_id"""


def asof_join_chunked(ev: DataFrame,
                      chunk_us: int = SESSION_CHUNK_US) -> DataFrame:
    """As-of join as a two-pass running last: the carried latest-click
    struct is decomposable exactly like a running sum. Pass 1 carries it
    within bounded (user_id, chunk) partitions; pass 2 takes each chunk's
    last click (max struct — same (ts, r_id) order the running last uses)
    and carries the last non-null across a user's chunk summaries; the
    per-event answer is coalesce(intra carry, previous chunks' carry)."""
    # Raw event_id (not pre-derived l_id/r_id) travels through the shuffle
    # so BOTH consumers of the (user, chunk) exchange need the identical
    # column set — column pruning otherwise specializes the two scans and
    # kills ReuseExchange (the pack_sequences lesson). Ordering by
    # event_id is equivalent to the plain form's r_id ordering: among
    # clicks they coincide, and purchase order within a timestamp never
    # affects the carried value.
    side = F.when(F.col("event_type") == "click", 0).otherwise(1)
    tagged = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id", "user_id", "ts", side.alias("side"),
            _epoch_us(F.col("ts")).alias("__us"),
        )
        .select(
            "event_id", "user_id", "ts", "side",
            # non-nullable chunk: see sessionize_chunked (ReuseExchange)
            F.coalesce(F.expr(f"__us div {chunk_us}"), F.lit(-1)).alias("chunk"),
        )
    )
    click = F.when(
        F.col("side") == 0,
        F.struct(F.col("ts"), F.col("event_id").alias("r_id")),
    )
    base = (
        Window.partitionBy("user_id", "chunk")
        .orderBy(F.col("ts").asc(), F.col("side").asc(), F.col("event_id").asc())
    )
    staged = tagged.select(
        "event_id", "user_id", "ts", "side", "chunk",
        F.last(click, ignorenulls=True)
        .over(base.rowsBetween(Window.unboundedPreceding, 0))
        .alias("c_intra"),
        # constant per (user, chunk): the chunk's final carried click —
        # computed in the same window stage so the chunk-summary branch
        # shares this scan+exchange instead of re-aggregating its own
        F.last(click, ignorenulls=True)
        .over(base.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing))
        .alias("c_full"),
    )

    ws = Window.partitionBy("user_id").orderBy(F.col("chunk").asc())
    summary = (
        staged.select("user_id", "chunk", F.col("c_full").alias("chunk_last"))
        .distinct()
        .select(
            "user_id", "chunk",
            F.last("chunk_last", ignorenulls=True).over(
                ws.rowsBetween(Window.unboundedPreceding, -1)
            ).alias("c_prev"),
        )
    )

    joined = staged.join(summary, ["user_id", "chunk"])
    c = F.coalesce(F.col("c_intra"), F.col("c_prev"))
    return (
        joined.filter(F.col("side") == 1)
        .select(
            "event_id", "user_id", "ts",
            c.getField("r_id").alias("click_id"),
            c.getField("ts").alias("click_ts"),
            F.timestamp_diff("MICROSECOND", c.getField("ts"), F.col("ts"))
            .alias("gap_us"),
        )
    )


def q_asof_join_chunked(spark, sf_dir):
    return asof_join_chunked(read_events(spark, sf_dir))


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
       c.click_id AS click_id, c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts"""


RANGE_WIN_US = 3600 * 1_000_000  # each purchase opens a 1-hour lookback
RANGE_BIN_US = 3600 * 1_000_000  # 1-hour bins -> <= 2 bins per window


def q_range_join_binned(spark, sf_dir):
    """Interval-containment join (range join) in its scale-correct
    BINNED form: every click falling inside the 1-hour window before a
    purchase, joined as (click, window) pairs with the exact integer
    gap. The naive formulation is a theta-join (user match AND ts in
    (start, end]) which Spark plans as a nested loop — quadratic per
    user at 100x. Binning decomposes it into an EQUI-join on
    (user_id, time-bin): each window explodes to the bins it covers
    (bounded: window_width div bin + 1 = 2 rows here — the explode
    factor is a constant chosen with the bin width, never data-driven),
    each probe row computes its single bin, the equi-join meets exactly
    the candidate rows, and the exact range predicate removes the
    residual same-bin misses. Output pairs need no dedup: a probe's
    single bin intersects a given window's bin list at most once.

    The DuckDB oracle is the NAIVE range join, so the binned
    decomposition is proven equal to the plain semantics (same proof
    obligation as sessionize_chunked/turn_repetition). Boundary
    semantics are (start, end] — a click at exactly the purchase
    instant matches, one at exactly window open does not. Epochs are
    non-negative by the events contract (integer div truncation ==
    floor); comparisons are exact integer micros."""
    ev = read_events(spark, sf_dir)
    us = _epoch_us(F.col("ts"))
    wins = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("w_id"), "user_id",
        (us - RANGE_WIN_US).alias("w_start_us"),
        us.alias("w_end_us"),
    )
    wbins = wins.select(
        "w_id", "user_id", "w_start_us", "w_end_us",
        F.explode(
            F.expr(
                f"sequence(w_start_us div {RANGE_BIN_US}, "
                f"w_end_us div {RANGE_BIN_US})"
            )
        ).alias("bin"),
    )
    probes = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("c_us")
    ).select(
        "event_id", "user_id", "c_us",
        F.expr(f"c_us div {RANGE_BIN_US}").alias("bin"),
    )
    return (
        probes.join(wbins, ["user_id", "bin"])
        .filter(
            (F.col("c_us") > F.col("w_start_us"))
            & (F.col("c_us") <= F.col("w_end_us"))
        )
        .select(
            "w_id",
            F.col("event_id").alias("click_id"),
            "user_id",
            (F.col("w_end_us") - F.col("c_us")).cast("long").alias("gap_us"),
        )
    )


# the oracle is the NAIVE theta range join — the binned equi-join must
# reproduce it exactly
SQL_RANGE_JOIN = f"""
WITH wins AS (
  SELECT event_id AS w_id, user_id,
         epoch_us(ts) - {RANGE_WIN_US} AS w_start_us,
         epoch_us(ts) AS w_end_us
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
)
SELECT w.w_id, c.event_id AS click_id, c.user_id,
       CAST(w.w_end_us - c.c_us AS BIGINT) AS gap_us
FROM clicks c JOIN wins w
  ON c.user_id = w.user_id
 AND c.c_us > w.w_start_us AND c.c_us <= w.w_end_us"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "top1_event_per_user": (q_top1_event_per_user, sql_top1_event_per_user),
    "event_status_gate": (q_event_status_gate, sql_event_status_gate),
    "event_stats": (q_event_stats, sql_event_stats),
    "json_props": (q_json_props, sql_json_props),
    "union_dedup": (q_union_dedup, sql_union_dedup),
    "last_tokens": (q_last_tokens, sql_last_tokens),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "range_join_binned": (q_range_join_binned, SQL_RANGE_JOIN),
    "asof_join_chunked": (q_asof_join_chunked, SQL_ASOF_JOIN),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "sessionize_chunked": (q_sessionize_chunked, SQL_SESSIONIZE),
    "sessionize_streaming": (q_sessionize_streaming, SQL_SESSIONIZE),
    "conversation_progress": (
        q_conversation_progress, SQL_CONVERSATION_PROGRESS
    ),
    "funnel": (q_funnel, SQL_FUNNEL),
    "event_rollup": (q_event_rollup, SQL_EVENT_ROLLUP),
    "loop_flagged_convs": (q_loop_flagged_convs, sql_loop_flagged_convs),
    "turn_repetition": (q_turn_repetition, SQL_TURN_REPETITION),
}
