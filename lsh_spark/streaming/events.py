"""Structured Streaming over the events table: the streaming twins of the
batch queries in ``operators/relational.py``.

Patterns covered (the standard production shapes):
  * file-source stream (``readStream.parquet`` with an explicit schema —
    the same parquet files the batch path reads, so batch/stream parity is
    directly testable with ``Trigger.AvailableNow``);
  * event-time tumbling-window aggregation with a watermark bounding
    state (late rows beyond the watermark are dropped, state is evicted —
    the only way a windowed agg survives an unbounded stream);
  * arbitrary stateful processing (``applyInPandasWithState``) for
    per-user running aggregates — the custom-operator escape hatch.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from .drain import (
    _start_batches,
    drain,
    file_stream,
    run_available_now,
    scoped_state_partitions,  # noqa: F401  (re-exported)
    scratch_dir,
)

# the events parquet schema as the file stores it; read_events_stream
# reads the same schema from load_table's cache (sources/io.py)
EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType(), True),
    # parquet TIMESTAMP(NANOS): Spark 4.1 reads it as TIMESTAMP_NTZ
    # truncated to micros (forcing LongType here would ALSO yield micros,
    # not nanos — see sources/io.py).  Declaring NTZ keeps the unit
    # unambiguous; the reader casts NTZ -> timestamp.
    StructField("ts", TimestampNTZType(), True),
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file per batch).

    ``ts`` decode mirrors the batch path (``sources/io.py``): parquet
    TIMESTAMP(NANOS) arrives as TIMESTAMP_NTZ truncated to micros, and
    the NTZ value is reinterpreted as a UTC instant (session tz is UTC,
    so the cast is bit-for-bit identical to the batch result)."""
    return file_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast(TimestampType()))


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window per event_type with bounded state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


_USER_STATE_SCHEMA = StructType([
    StructField("n_events", LongType(), False),
    StructField("total_cents", LongType(), False),
])

_USER_OUT_SCHEMA = StructType([
    StructField("user_id", LongType(), False),
    StructField("n_events", LongType(), False),
    StructField("total_value", DoubleType(), False),
])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals via arbitrary stateful processing — the
    ``applyInPandasWithState`` custom-operator pattern (state is a single
    small tuple per user; timeouts left off for the finite test corpus).

    The money total accumulates in INTEGER CENTS inside the state, not
    floats: integer addition is associative, so the running total is
    independent of micro-batch boundaries and row order, and converts to
    the exact same double a DECIMAL(18,2) SQL sum yields — which is what
    makes this operator gate-checkable against a DuckDB oracle."""

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        n, cents = state.get() if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np.rint(pdf["value"].to_numpy() * 100.0).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n,
              "total_value": cents / 100.0}])

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_USER_OUT_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    events: DataFrame,
    *,
    key_cols: list[str],
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on ``key_cols``: first occurrence wins,
    duplicate arrivals within the watermark horizon are dropped, and —
    critically for an unbounded stream — per-key state is EVICTED once the
    watermark passes it.  ``dropDuplicatesWithinWatermark`` is the
    bounded-state form: plain ``dropDuplicates(key_cols)`` would keep every
    key forever unless the event-time column itself is part of the key."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols)


def streaming_minhash_signatures(events: DataFrame) -> DataFrame:
    """LSH pandas UDFs are stream-compatible (stateless scalar projection):
    banded MinHash of the event payload, per micro-batch."""
    from ..functions.lsh import lsh_min_bands_long

    return events.select(
        "event_id", "ts",
        lsh_min_bands_long(F.col("props"), 2, 4, 2, 123).alias("props_bands"),
    )


def streaming_near_dup_against_corpus(
    stream_docs: DataFrame,
    corpus: DataFrame,
    sink_table: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_width: int = 3,
    band_count: int = 8,
    band_size: int = 2,
    seed: int = 123,
    threshold: float = 0.6,
):
    """Streaming near-dup filter: every micro-batch of incoming documents
    is LSH-joined against a static reference corpus; matches land in
    ``sink_table``.  The ``foreachBatch`` pattern — the standard way to run
    a full batch operator (here the similarity join) inside a stream when
    the operator exceeds what incremental execution supports.

    The static corpus's shingle sets/bands are recomputed per batch here;
    a production deployment would precompute them to a table (see
    ``sources.formats.write_bucketed_table``) — the join logic is
    unchanged."""
    from ..operators.similarity_join import lsh_similarity_join
    from ..sources.formats import clear_stale_table_location

    corpus.sparkSession.sql(f"DROP TABLE IF EXISTS {sink_table}")
    # DROP only clears tables the catalog knows; a warehouse directory
    # orphaned by an earlier session would still fail the first append
    clear_stale_table_location(corpus.sparkSession, sink_table)
    return _start_batches(
        stream_docs,
        lambda batch: lsh_similarity_join(
            batch, corpus, text_col, text_col,
            left_id=id_col, right_id=id_col,
            ngram_width=ngram_width, band_count=band_count,
            band_size=band_size, seed=seed, threshold=threshold),
        lambda matches, _batch_id: matches.write.mode("append")
        .saveAsTable(sink_table),
        # cleared with the table: a kept checkpoint would mark every
        # input file done, and a rerun would run no batch at all
        scratch_dir(f"sink_{sink_table}"))


def events_hourly_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the hourly rollup computed by an ACTUAL
    Structured Streaming query — file-source stream → watermarked tumbling
    window → AvailableNow drain into a memory sink — then returned as the
    sink table.  Carries the same exact DuckDB oracle as the batch twin
    (``events_hourly``) minus the countDistinct (not expressible under a
    streaming watermark), so batch/stream parity is driver-checked, not
    just pytest-checked."""
    from ..sources.io import _ensure_session_confs

    _ensure_session_confs(spark)
    stream = read_events_stream(spark, sf_dir)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    run_available_now(agg, "events_hourly_streaming_sink", "complete")
    return spark.table("events_hourly_streaming_sink").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type", "n_events", "total_value",
    )


EVENTS_HOURLY_STREAMING_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value
FROM events
GROUP BY 1, 2
"""


QUERIES = {
    "events_hourly_streaming": (events_hourly_streaming,
                                EVENTS_HOURLY_STREAMING_ORACLE),
}


def events_sessions_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: per-user session aggregates via the NATIVE
    streaming session-window operator (``F.session_window`` with a 30-min
    gap), drained with AvailableNow.  Session semantics: an event extends
    its session's window by the gap; a gap ≥ 30 min splits (note the
    boundary differs from the batch ``events_sessionize`` lag-rule, whose
    strict ``>`` keeps an exactly-30-min gap together — the oracle encodes
    the session-window rule).  Session start is emitted as epoch
    microseconds so both engines compare on int64."""
    from ..sources.io import _ensure_session_confs

    _ensure_session_confs(spark)
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "n_events", "total_value",
        )
    )
    run_available_now(agg, "events_sessions_streaming_sink", "complete")
    return spark.table("events_sessions_streaming_sink")


EVENTS_SESSIONS_STREAMING_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts, value,
         (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS sid
  FROM flagged
)
SELECT user_id,
       epoch_us(min(ts))::BIGINT AS session_start_us,
       count(*)::BIGINT AS n_events,
       round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value
FROM numbered
GROUP BY user_id, sid
"""

QUERIES["events_sessions_streaming"] = (
    events_sessions_streaming, EVENTS_SESSIONS_STREAMING_ORACLE)


def events_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: streaming exact dedup — file-source stream →
    ``dropDuplicatesWithinWatermark`` on (user_id, event_type) →
    AvailableNow drain.  This is the BOUNDED-STATE form (per-key state is
    evicted once the watermark passes it — the only dedup that survives an
    unbounded stream); the single-file replay arrives as one micro-batch,
    within which every duplicate key is present before any state eviction,
    so the output key set equals the exact batch dedup.  The surviving-row
    payload depends on arrival order (non-deterministic under parallel
    file reads), so the gate output is the deduped KEY SET plus a
    deterministic per-key aggregate computed batch-side on the sink: first
    event time per key.  The oracle is plain DISTINCT + min."""
    from ..sources.io import _ensure_session_confs, load_table

    _ensure_session_confs(spark)
    stream = read_events_stream(spark, sf_dir)
    deduped = streaming_dedup(
        stream, key_cols=["user_id", "event_type"], watermark="2 hours")
    run_available_now(deduped, "events_dedup_streaming_sink", "append")
    sink = spark.table("events_dedup_streaming_sink")
    first_ts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
             .alias("first_ts"))
    )
    return (
        sink.select("user_id", "event_type")
        .join(first_ts, on=["user_id", "event_type"], how="left")
    )


EVENTS_DEDUP_STREAMING_ORACLE = """
SELECT user_id, event_type,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
FROM events
GROUP BY user_id, event_type
"""

QUERIES["events_dedup_streaming"] = (
    events_dedup_streaming, EVENTS_DEDUP_STREAMING_ORACLE)


def events_user_totals_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: per-user totals via ARBITRARY STATEFUL PROCESSING
    (``applyInPandasWithState``) — the custom-operator escape hatch, drained
    with AvailableNow in update mode.  Each micro-batch emits the user's
    running total; the gate keeps each user's LAST (= largest, counts only
    grow) update, which equals the full batch aggregate.  Exactness comes
    from the integer-cents state: the result is bit-identical to DuckDB's
    DECIMAL(18,2) sum regardless of batch boundaries or row order."""
    from ..sources.io import _ensure_session_confs

    _ensure_session_confs(spark)
    stream = read_events_stream(spark, sf_dir)
    run_available_now(running_user_totals(stream),
                      "events_user_totals_streaming_sink", "update")
    sink = spark.table("events_user_totals_streaming_sink")
    # keep each user's LAST update = the row with the highest event count
    # (n_events is genuinely monotone per user); max_by keeps the total
    # PAIRED with that row, so correctness doesn't hinge on total_value
    # itself being monotone (it wouldn't be if values could be negative)
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


EVENTS_USER_TOTALS_STREAMING_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       sum(value::DECIMAL(18,2))::DOUBLE AS total_value
FROM events
GROUP BY user_id
"""

QUERIES["events_user_totals_streaming"] = (
    events_user_totals_streaming, EVENTS_USER_TOTALS_STREAMING_ORACLE)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    by: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time interval condition —
    the canonical Spark shape for correlating two live streams: both
    sides carry watermarks and the time-range predicate bounds the join
    state (each side's buffered rows are evicted once the other side's
    watermark passes the interval), so state stays finite on unbounded
    streams.  The streaming twin of ``operators.rangejoin``.

    The right side must carry its key pre-renamed to ``__r_<by>`` (column
    names must be disjoint across a self-derived stream-stream join)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[by] == rw[f"__r_{by}"])
        & (rw[right_ts] >= lw[left_ts] - F.expr(
            f"INTERVAL {window_seconds} SECONDS"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(
            f"INTERVAL {window_seconds} SECONDS"))
    )
    return lw.join(rw, cond, "inner")


def events_error_click_pairs_streaming(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Driver-gate query: error↔click correlation as an ACTUAL
    stream-stream interval join — two watermarked file-source streams over
    the same events source (one filtered to errors, one to clicks) joined
    on user within ±30 minutes of event time, drained with AvailableNow.
    The streaming twin of the batch range join
    (``errors_with_nearby_clicks``); the oracle is the plain SQL range
    join, so batch/stream parity is driver-checked."""
    from ..sources.io import _ensure_session_confs

    _ensure_session_confs(spark)
    errors = read_events_stream(spark, sf_dir).where(
        F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"))
    clicks = read_events_stream(spark, sf_dir).where(
        F.col("event_type") == "click").select(
        F.col("user_id").alias("__r_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    joined = stream_stream_interval_join(
        errors, clicks, by="user_id", left_ts="error_ts",
        right_ts="click_ts", window_seconds=1800)
    out = joined.select("user_id", "error_id", "click_id")
    run_available_now(out, "events_error_click_pairs_sink", "append")
    return spark.table("events_error_click_pairs_sink")


EVENTS_ERROR_CLICK_PAIRS_ORACLE = """
SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id
FROM events e JOIN events c
  ON e.event_type = 'error' AND c.event_type = 'click'
 AND e.user_id = c.user_id
 AND abs(epoch(e.ts) - epoch(c.ts)) <= 1800
"""

QUERIES["events_error_click_pairs_streaming"] = (
    events_error_click_pairs_streaming, EVENTS_ERROR_CLICK_PAIRS_ORACLE)


LAST_APPEND_PROGRESS: "list | None" = None


def events_hourly_append_streaming(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Driver-gate query: the hourly rollup in APPEND mode with a REAL
    watermark lifecycle — the unbounded-stream form, where a window's row
    is emitted exactly once, after the watermark passes its end, and its
    state is evicted (``complete``-mode twins keep all window state on
    the driver; this shape is what actually survives an infinite stream).

    The events are staged as a two-file time split (early hours, then
    late hours, ordered by mtime and name) so the watermark ADVANCES
    between micro-batches and closes the early windows mid-stream —
    state eviction observably fires (pinned by
    tests/test_sources.py::test_append_mode_evicts_state), not just at
    the terminal no-data batch.  Windows inside the trailing 2-hour
    watermark horizon never emit; the oracle applies the same cutoff
    (window_end <= max(ts) - 2h, Spark's eviction predicate)."""
    import shutil
    import time

    from ..sources.io import _ensure_session_confs, load_table

    _ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut = lo.replace(minute=0, second=0, microsecond=0) + (hi - lo) / 2
    cut = cut.replace(minute=0, second=0, microsecond=0)

    stage = scratch_dir(
        f"events_hourly_append_{os.path.basename(sf_dir.rstrip('/'))}")
    os.makedirs(stage)
    # stage each half as one file; mtime + name order early-before-late so
    # the file source replays them as two in-order micro-batches
    for name, half in (("a_early", ev.where(F.col("ts") < F.lit(cut))),
                       ("b_late", ev.where(F.col("ts") >= F.lit(cut)))):
        tmp = f"{stage}/_{name}"
        half.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(f"{tmp}/{part}", f"{stage}/{name}.parquet")
        shutil.rmtree(tmp)
    now = time.time()
    os.utime(f"{stage}/a_early.parquet", (now - 60, now - 60))
    os.utime(f"{stage}/b_late.parquet", (now, now))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = run_available_now(agg, "events_hourly_append_sink", "append")
    # expose per-batch state metrics so tests can pin that eviction
    # actually fired mid-stream (numRowsRemoved > 0 before the last batch)
    global LAST_APPEND_PROGRESS
    LAST_APPEND_PROGRESS = [p for p in q.recentProgress]
    return spark.table("events_hourly_append_sink").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type", "n_events", "total_value",
    )


EVENTS_HOURLY_APPEND_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
GROUP BY 1, 2
"""

QUERIES["events_hourly_append_streaming"] = (
    events_hourly_append_streaming, EVENTS_HOURLY_APPEND_ORACLE)


def events_spikes_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the streaming TRAFFIC-ANOMALY monitor — the
    event stream contributes per-micro-batch ``(event_type, hour,
    count)`` PARTIALS (map-side-combining shape: each batch's write is
    bounded by types × hours, never by events), and the read-back sums
    partials into the exact hourly frame and applies the SAME
    trailing-window spike stage as the batch twin
    (``relational.spikes_from_hourly`` — shared code, shared oracle).
    The trailing window itself cannot run inside the stream (a rows
    frame over unbounded history is not a streaming-state shape); the
    partials-then-finalize split is the standing monitor deployment:
    cheap incremental writes, one bounded read-back per report."""
    from ..operators.relational import spikes_from_hourly

    partials = drain(
        spark, "events_spikes_streaming", sf_dir,
        read_events_stream(spark, sf_dir),
        lambda batch: (
            batch.groupBy(
                "event_type",
                F.date_format(F.date_trunc("hour", F.col("ts")),
                              "yyyy-MM-dd HH:mm:ss").alias("hour"))
            .agg(F.count(F.lit(1)).cast("long").alias("__n"))),
        "event_type string, hour string, __n long")
    return spikes_from_hourly(
        partials.groupBy("event_type", "hour")
        .agg(F.sum("__n").cast("long").alias("n_events")))


def hll_users_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the streaming DISTINCT-USERS monitor — each
    micro-batch reduces its events to per-(event_type, register)
    MAXIMA before anything is persisted (``max`` is associative AND
    idempotent, so the sketch is replay/restart-safe and the per-batch
    write is bounded by groups × 256 registers, never by events); the
    read-back merges partials by another ``max`` and finalizes through
    the SAME integer-exact stage as the batch twin
    (``pipeline_queries.hll_finalize`` — shared code, shared oracle).

    ``exact_distinct`` is gate evidence, not part of the sketch: the
    batch also writes its within-batch-distinct (group, item, register)
    rows, deduplicated again at read-back — the piece a 100 TB
    deployment drops (that is the POINT of the sketch); the mergeable
    register maxima alone are what the monitor keeps."""
    from ..operators.pipeline_queries import hll_finalize, hll_rho_rows

    def step(batch: DataFrame):
        rows = hll_rho_rows(batch, "event_type", "user_id")
        return (rows.groupBy("__grp", "__idx").agg(
                    F.max("__rho").alias("__m")),
                rows.select("__grp", "__u", "__idx").distinct())

    regs, items = drain(
        spark, "hll_users_streaming", sf_dir,
        read_events_stream(spark, sf_dir), step,
        ("__grp string, __idx int, __m int",
         "__grp string, __u string, __idx int"))
    m = regs.groupBy("__grp", "__idx").agg(F.max("__m").alias("__m"))
    nd = (items.distinct()
          .groupBy("__grp", "__idx")
          .agg(F.countDistinct("__u").alias("__nd")))
    regs = m.join(nd, ["__grp", "__idx"])
    return hll_finalize(regs, "event_type")
