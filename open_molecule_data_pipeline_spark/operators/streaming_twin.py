"""Structured Streaming batch-twin queries for the driver contract.

The streaming jobs in ``streaming/jobs.py`` are exercised by
``tests/test_streaming.py`` with file sources and memory sinks; the driver,
however, only sees ``queries()``. These twins run a REAL streaming query
(``Trigger.AvailableNow``, memory sink) to completion and return the final
result table, so the standard SQL oracle verifies the whole streaming path
(source discovery, stateful operators, sink commit) by hash.

Every twin takes its input through ONE path. A twin over a testdata table
streams it with ``catalog.stream_table``, which applies the same
normalization as the batch ``catalog.table``; with one input file and
complete output mode the result equals the batch aggregation. A twin that
needs ORDERED micro-batches (watermark late-data drop, a watermark-flushing
sentinel) stages its input with ``_stream.staged_stream``, one file per
band. Either reader returns the byte count it streams, and that count sizes
the state store in ``_stream.run_to_memory``.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ..catalog import stream_table, table
from ..registry import register
from ._stream import run_to_memory, scratch_dir, staged_stream
from ._util import lsum, s_lsum

_TUMBLING_TWIN_ORACLE = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       {s_lsum('value', 100)} AS sum_value
FROM events
GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
"""


@register(
    "stream_tumbling_twin",
    oracle=_TUMBLING_TWIN_ORACLE,
    tags=("streaming", "timeseries"),
    # demoted from the headline set r16b under the cap-34 swap policy:
    # stream_aspect_batch_twin (8.8 s sf0.1, the heaviest non-headline
    # after the r16 additions) takes the streaming slot; this 1.1 s
    # tumbling lifecycle keeps its plan tracked via the family twin
    # stream_quality_gate_twin and the full-contract sweep.
)
def stream_tumbling_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            lsum("value", 100).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    return run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)


# --------------------------------------------------------------------------
# Session-window twin: the stateful MERGING-window operator (sessions grow
# and coalesce as events arrive — a different state machine from tumbling
# windows). session_window's end = last event + gap, so the gaps-and-
# islands oracle reproduces it exactly with lag()/cumulative-sum islands.
# --------------------------------------------------------------------------

_SESSION_TWIN_ORACLE = """
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       cast(count(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS new_s
    FROM events
  ) flags
) islands
GROUP BY user_id, session_id
"""


@register(
    "stream_session_twin",
    oracle=_SESSION_TWIN_ORACLE,
    tags=("streaming", "session"),
)
def stream_session_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)


# --------------------------------------------------------------------------
# Streaming-dedup twin: dropDuplicates over a key exercises the per-key
# dedup state store (the third stateful operator family). Only the key
# columns are emitted, so which physical row won the race is irrelevant
# and the result equals batch DISTINCT — exact oracle.
# --------------------------------------------------------------------------

_DEDUP_TWIN_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register(
    "stream_dedup_twin",
    oracle=_DEDUP_TWIN_ORACLE,
    tags=("streaming", "dedup"),
)
def stream_dedup_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    deduped = events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_memory(spark, deduped, output_mode="append", input_bytes=nbytes)


# --------------------------------------------------------------------------
# transformWithStateInPandas twin: Spark 4's arbitrary-state API (typed
# ValueState per key, Arrow-batched handleInputRows) — the successor to
# applyInPandasWithState and the operator a custom 100 TB stateful pipeline
# builds on. Requires the RocksDB state-store provider; the conf is set for
# the run and restored. Per-user event count + exact scaled-integer value
# sum, so the batch SQL oracle verifies the whole state machine by hash.
# The events table is one file -> one availableNow micro-batch, so each
# key emits exactly once.
#
# RUNTIME DISPATCH: the TWS state-server protocol needs google.protobuf in
# the Python workers; without it the streaming runner crashes at init. When
# protobuf is importable the query runs the real transformWithStateInPandas
# twin; otherwise it FALLS BACK to an equivalent applyInPandasWithState
# state machine (same keyed (n, cents) state, same update-mode emission per
# key, same oracle) so the contract entry executes — and is externally
# verified — in every runtime. tests/test_streaming.py pins the dispatch
# and the fallback's values, so the substitution is explicit, not silent.
# --------------------------------------------------------------------------


def _tws_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


# Which branch the last stream_tws_user_stats call took ("tws" or
# "fallback") — lets tests assert the REAL transformWithStateInPandas
# path executes whenever google.protobuf is importable. r7 attempted to
# vendor a pure-Python protobuf wheel (VERDICT r6 #3), but this sandbox
# has no network and no wheel on disk, so the real branch remains
# environment-gated; tests/test_streaming.py carries a protobuf-gated
# test that exercises it the moment the dependency appears.
LAST_TWS_DISPATCH: str | None = None

_TWS_ORACLE = f"""
SELECT user_id,
       cast(count(*) AS BIGINT) AS n_events,
       {s_lsum('value', 100)} AS sum_value
FROM events
GROUP BY user_id
"""


class _UserStatsProcessor:
    """Lazy StatefulProcessor shim: subclassing happens at call time so the
    module imports even on builds without the TWS API."""

    def build(self):
        import pandas as pd
        from pyspark.sql.streaming import StatefulProcessor
        from pyspark.sql.types import LongType, StructField, StructType

        class P(StatefulProcessor):
            def init(self, handle) -> None:
                schema = StructType(
                    [StructField("n", LongType()), StructField("cents", LongType())]
                )
                self._state = handle.getValueState("agg", schema)

            def handleInputRows(self, key, rows, timerValues):
                n = 0
                cents = 0
                for pdf in rows:
                    n += len(pdf)
                    cents += int(
                        pdf["value"].mul(100).round().astype("int64").sum()
                    )
                if self._state.exists():
                    prev = self._state.get()
                    n += int(prev[0])
                    cents += int(prev[1])
                self._state.update((n, cents))
                yield pd.DataFrame(
                    {
                        "user_id": [int(key[0])],
                        "n_events": [n],
                        "sum_value": [cents / 100.0],
                    }
                )

            def close(self) -> None:
                pass

        return P()


def _tws_fallback_fn(key, pdfs, state):
    """applyInPandasWithState twin of ``_UserStatsProcessor``: identical
    keyed (n, cents) state tuple and update-mode emission."""
    import pandas as pd

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["value"].mul(100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
    )


@register(
    "stream_tws_user_stats",
    oracle=_TWS_ORACLE,
    tags=("streaming", "stateful", "udf"),
)
def stream_tws_user_stats(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    global LAST_TWS_DISPATCH
    events, nbytes = stream_table(spark, sf_dir, "events")
    if not _tws_available():
        # protobuf missing -> the TWS runner cannot start; run the
        # value-identical applyInPandasWithState state machine instead.
        LAST_TWS_DISPATCH = "fallback"
        from pyspark.sql.streaming.state import GroupStateTimeout

        out = events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
            _tws_fallback_fn,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return run_to_memory(spark, out, output_mode="update", input_bytes=nbytes)
    LAST_TWS_DISPATCH = "tws"
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    stats = events.select("user_id", "value").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserStatsProcessor().build(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev_provider = spark.conf.get(provider_key)
    except Exception:
        prev_provider = None
    try:
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        return run_to_memory(spark, stats, output_mode="update", input_bytes=nbytes)
    finally:
        if prev_provider is not None:
            spark.conf.set(provider_key, prev_provider)
        else:
            # don't leak RocksDB onto later stateful queries in a session
            # that had no explicit provider configured
            try:
                spark.conf.unset(provider_key)
            except Exception:
                pass


# --------------------------------------------------------------------------
# Sliding-window twin: overlapping windows (2h length, 1h slide) mean every
# event updates TWO window states — the overlapping-assignment path of the
# window operator, distinct from tumbling's 1:1 mapping. The oracle
# materializes the overlap explicitly: each event contributes to the
# buckets starting at floor_hour(ts) and floor_hour(ts) - 1h.
# --------------------------------------------------------------------------

_SLIDING_TWIN_ORACLE = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) - (k * INTERVAL 1 HOUR) AS window_start,
       event_type,
       count(*) AS n,
       {s_lsum('value', 100)} AS sum_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offsets
GROUP BY time_bucket(INTERVAL '1 hour', ts) - (k * INTERVAL 1 HOUR), event_type
"""


@register(
    "stream_sliding_twin",
    oracle=_SLIDING_TWIN_ORACLE,
    tags=("streaming", "timeseries"),
)
def stream_sliding_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            lsum("value", 100).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    return run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)


# --------------------------------------------------------------------------
# applyInPandasWithState twin: the UNGATED arbitrary-state path (the TWS
# twin above needs protobuf). Per-user count + value total kept as explicit
# state tuples; the value accumulates as a scaled int64 inside the pandas
# function, so the emitted double is a single exact division and the batch
# SQL oracle verifies the custom state machine by hash. One input file ->
# one availableNow micro-batch -> exactly one update emission per key.
# --------------------------------------------------------------------------

_STATEFUL_TWIN_ORACLE = f"""
SELECT user_id,
       cast(count(*) AS BIGINT) AS n_events,
       {s_lsum('value', 100)} AS sum_value
FROM events
GROUP BY user_id
"""


def _stateful_count_fn(key, pdfs, state):
    import pandas as pd

    n, s2 = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        s2 += int(pdf["value"].mul(100).round().astype("int64").sum())
    state.update((n, s2))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s2 / 100.0]}
    )


@register(
    "stream_stateful_count_twin",
    oracle=_STATEFUL_TWIN_ORACLE,
    tags=("streaming", "stateful"),
)
def stream_stateful_count_twin(spark, sf_dir):
    from pyspark.sql.streaming.state import GroupStateTimeout

    events, nbytes = stream_table(spark, sf_dir, "events")
    out = events.groupBy("user_id").applyInPandasWithState(
        _stateful_count_fn,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s2 long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(spark, out, output_mode="update", input_bytes=nbytes)


# --------------------------------------------------------------------------
# Stream-stream join twin: the fourth stateful operator family. Clicks and
# purchases are two watermarked streams; the inner join buffers both sides
# in the state store keyed on user_id and emits pairs where the purchase
# lands within 2 hours after the click. The event-time range condition is
# what lets the engine evict state (purchase watermark bounds how long a
# click must be retained). With availableNow over one immutable file the
# watermark never drops rows, so the batch join is the exact oracle; the
# per-user aggregation runs as a *batch* query over the memory sink
# (chaining a second stateful aggregate after a stream-stream join inside
# one streaming query is a known Spark limitation).
# --------------------------------------------------------------------------

_JOIN_TWIN_ORACLE = """
SELECT c.user_id,
       cast(count(*) AS BIGINT) AS n_pairs,
       cast(min(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS min_gap_us
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL '2 hours'
GROUP BY c.user_id
"""


@register(
    "stream_join_twin",
    oracle=_JOIN_TWIN_ORACLE,
    tags=("streaming", "join"),
)
def stream_join_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    # watermarks require TIMESTAMP (ltz); events.ts is ntz after nanos
    # normalization. The session runs in UTC (set by catalog), so the cast is
    # a pure reinterpretation — no wall-clock shift.
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").cast("timestamp").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    sunk = run_to_memory(spark, pairs, output_mode="append", input_bytes=nbytes)
    return sunk.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("min_gap_us"),
    )


# --------------------------------------------------------------------------
# Incremental materialized-view twin via foreachBatch: each micro-batch is
# merged (upsert: recompute affected keys from old MV + delta) into a
# parquet-backed view — the maintenance loop behind every "streaming
# aggregate the dashboard reads". foreachBatch is the escape hatch that
# turns a streaming query into arbitrary batch writes (MERGE, multi-sink)
# while the engine still tracks offsets/checkpoints. With availableNow
# over one immutable file the merged MV equals the batch aggregation —
# exact oracle. cf. streaming/jobs.py::stream_incremental_user_totals for
# the multi-batch pytest that exercises real incremental merges.
# --------------------------------------------------------------------------

_MV_TWIN_ORACLE = f"""
SELECT user_id,
       cast(count(*) AS BIGINT) AS n_events,
       {s_lsum('value', 100)} AS sum_value
FROM events
GROUP BY user_id
"""


@register(
    "stream_mv_twin",
    oracle=_MV_TWIN_ORACLE,
    tags=("streaming", "agg"),
)
def stream_mv_twin(spark, sf_dir):
    from pyspark.sql import functions as SF

    events, _ = stream_table(spark, sf_dir, "events")
    mv_dir = scratch_dir("omdp_stream_mv_")
    mv_path = f"{mv_dir}/mv"

    def merge_batch(batch_df, batch_id):
        delta = batch_df.groupBy("user_id").agg(
            SF.count(SF.lit(1)).alias("n_events"),
            SF.sum(SF.round(SF.col("value") * 100).cast("long")).alias("sv"),
        )
        sess = batch_df.sparkSession
        try:
            old = sess.read.parquet(mv_path)
        except Exception:
            old = None
        if old is not None:
            merged = (
                old.unionByName(delta)
                .groupBy("user_id")
                .agg(
                    SF.sum("n_events").alias("n_events"),
                    SF.sum("sv").alias("sv"),
                )
            )
        else:
            merged = delta
        # write-then-swap: the MV read path never sees a half-written dir
        tmp = f"{mv_path}_next_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        final = sess.read.parquet(tmp)
        final.write.mode("overwrite").parquet(mv_path)
        shutil.rmtree(tmp, ignore_errors=True)

    ck_dir = tempfile.mkdtemp(prefix="omdp_stream_mv_ck_", dir=mv_dir)
    try:
        query = (
            events.writeStream.foreachBatch(merge_batch)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck_dir)
            .start()
        )
        query.awaitTermination()
        # Promote the MV to a DURABLE result dir that outlives this call
        # (VERDICT r6 #7: no driver-side collect of result rows) — the
        # caller gets a parquet-backed DataFrame it may evaluate
        # arbitrarily later; the working/checkpoint scratch is deleted now
        # and stale result dirs are reaped by the >30 min sweeper below.
        res_dir = tempfile.mkdtemp(
            prefix="omdp_stream_mv_res_", dir=os.path.dirname(mv_dir)
        )
        # Register BEFORE publishing: the sweeper must never reap a result
        # dir this process still holds a DataFrame over, however old it
        # gets (ADVICE r7 — a cached/benchmarked result can be
        # re-evaluated much later). Dirs leaked by other/crashed processes
        # are not in this process's set and still get swept.
        _LIVE_MV_RESULT_DIRS.add(res_dir)
        (
            spark.read.parquet(mv_path)
            .select(
                "user_id",
                "n_events",
                (F.col("sv") / F.lit(100).cast("double")).alias("sum_value"),
            )
            .write.mode("overwrite")
            .parquet(f"{res_dir}/mv")
        )
        return spark.read.parquet(f"{res_dir}/mv")
    finally:
        shutil.rmtree(mv_dir, ignore_errors=True)
        # also sweep any dirs leaked by older versions / crashed runs
        # (including published omdp_stream_mv_res_ result dirs, which share
        # the omdp_stream_mv_ prefix)
        _sweep_stale_mv_dirs(os.path.dirname(mv_dir))


# Result dirs handed to callers as live DataFrames this process may still
# evaluate; the sweeper skips these for the lifetime of the session.
_LIVE_MV_RESULT_DIRS: set[str] = set()


def _sweep_stale_mv_dirs(root: str) -> None:
    import time as _time

    cutoff = _time.time() - 1800
    try:
        for name in os.listdir(root):
            if not name.startswith("omdp_stream_mv_"):
                continue
            path = os.path.join(root, name)
            if path in _LIVE_MV_RESULT_DIRS:
                continue
            try:
                if os.path.getmtime(path) < cutoff:
                    shutil.rmtree(path, ignore_errors=True)
            except OSError:
                pass
    except OSError:
        pass


# --------------------------------------------------------------------------
# Watermark LATE-DATA DROP twin: the one streaming semantic a single-file
# availableNow run can never exercise (the watermark starts at 0, so
# nothing is ever late). The events table is staged (``staged_stream``)
# into band files — "recent" rows first, then the older remainder — one
# file per micro-batch, so batch 1 advances the watermark to
# max(ts) - 3h and batch 2's deep-late rows (1-hour windows ending at or
# before that watermark) are genuinely DROPPED by the state store, while
# late-but-in-grace rows still update their windows. The oracle encodes
# the drop rule exactly (kept iff in batch 1 OR window_end > max(ts)-3h);
# if the engine failed to drop, the counts would not hash-match. Update
# mode emits a window per batch that touches it, so the final value per
# window is the emission with the largest n.
#
# Empirically calibrated watermark protocol (this Spark build): the
# watermark computed from batch N's data becomes OPERATIVE for input
# filtering two batches later (progress shows wm=T-3h at batch 1, yet
# batch 1's late rows pass; batch 2's are dropped — see the debug metric
# numRowsDroppedByWatermark). The band split is chosen to be LAG-AGNOSTIC
# by cutting at the WINDOW boundary, not at a raw timestamp: with
# WM = T - 3h, file B holds exactly the late rows whose 1-hour window
# ends strictly after WM (kept whether the operative watermark during
# their batch is 0 or WM), and file C holds the rows whose window ends at
# or before WM (dropped under the WM that is operative by batch 2 under
# either a one- or two-batch lag). Kept set == "in file A or window_end >
# WM" on both engines, modulo the measure-zero case of max(ts) landing on
# an exact hour.
# --------------------------------------------------------------------------

_LATE_DROP_ORACLE = f"""
WITH t AS (SELECT max(ts) AS tmax FROM events),
keep AS (
  SELECT e.ts, e.value FROM events e, t
  WHERE e.ts > t.tmax - INTERVAL 2 HOUR
     OR time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL 1 HOUR
        > t.tmax - INTERVAL 3 HOUR
)
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       cast(count(*) AS BIGINT) AS n,
       {s_lsum('value', 100)} AS sum_value
FROM keep
GROUP BY time_bucket(INTERVAL '1 hour', ts)
"""


@register(
    "stream_late_drop_twin",
    oracle=_LATE_DROP_ORACLE,
    tags=("streaming", "timeseries", "stateful"),
)
def stream_late_drop_twin(spark, sf_dir):
    events = table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "value", "event_id"
    )
    tmax = events.agg(F.max("ts").alias("tmax"))
    window_end = F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")
    # The recent band is SPLIT into two files (event_id parity; the
    # max-ts row pinned into the first) so at least two batches always
    # precede the deep-late file: the watermark set by batch 0 is then
    # operative by the deep-late batch under either a one- or two-batch
    # lag, even when the grace band is empty at tiny scale factors.
    is_recent = F.col("ts") > F.col("tmax") - F.expr("INTERVAL 2 HOURS")
    tagged = events.crossJoin(F.broadcast(tmax)).withColumn(
        "band",
        F.when(
            is_recent
            & ((F.col("event_id") % 2 == 1) | (F.col("ts") == F.col("tmax"))),
            "a_recent1",
        )
        .when(is_recent, "b_recent2")
        .when(
            window_end > F.col("tmax") - F.expr("INTERVAL 3 HOURS"), "c_grace"
        )
        .otherwise("d_deep_late"),
    )
    bands = ("a_recent1", "b_recent2", "c_grace", "d_deep_late")
    with staged_stream(
        spark, tagged.select("ts", "value", "band"), "band", bands
    ) as (stream, nbytes):
        agg = (
            stream.withWatermark("ts", "3 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                lsum("value", 100).alias("sum_value"),
            )
        )
        sunk = run_to_memory(spark, agg, output_mode="update", input_bytes=nbytes)
    # per window: the last emission is the one with the largest n.
    # ``sunk`` is rooted at the MEMORY sink's table (driver-held batches,
    # not the staged input files), so it stays valid after the staged
    # files are deleted — no collect needed (VERDICT r6 #7).
    return (
        sunk.select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n",
            "sum_value",
        )
        .groupBy("window_start")
        .agg(F.max_by(F.struct("n", "sum_value"), "n").alias("last"))
        .select("window_start", F.col("last.n").alias("n"), F.col("last.sum_value").alias("sum_value"))
    )


# --------------------------------------------------------------------------
# Stream-STATIC join twin: the stateless enrichment join (stream side
# unbounded, dimension side a plain batch DataFrame) — a different operator
# from the stream-stream join above: no join state store, no watermark
# bookkeeping on the static side; on a cluster the broadcast dimension
# makes it a map-side hash join per micro-batch, the canonical "enrich
# events with the user table" shape. Events join the customer dimension on
# user_id = c_custkey, then a tumbling-window aggregation per market
# segment proves the join output flows into stateful windowing.
# --------------------------------------------------------------------------

_STATIC_JOIN_TWIN_ORACLE = f"""
SELECT time_bucket(INTERVAL '4 hours', e.ts) AS window_start,
       c.c_mktsegment AS segment,
       count(*) AS n,
       {s_lsum('e.value', 100)} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY time_bucket(INTERVAL '4 hours', e.ts), c.c_mktsegment
"""


@register(
    "stream_static_join_twin",
    oracle=_STATIC_JOIN_TWIN_ORACLE,
    tags=("streaming", "join"),
)
def stream_static_join_twin(spark, sf_dir):
    from ..catalog import table

    events, nbytes = stream_table(spark, sf_dir, "events")
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey, "inner"
    )
    agg = (
        joined.groupBy(
            F.window("ts", "4 hours").alias("w"), F.col("c_mktsegment")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            lsum("value", 100).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n",
            "sum_value",
        )
    )
    return run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)


# --------------------------------------------------------------------------
# CHAINED stateful operators twin: a windowed aggregation whose input is
# another windowed aggregation (hourly counts rolled up to 4-hour blocks),
# running as ONE streaming query with TWO state stores — the multi-stateful
# pipeline Spark supports since 3.4 (event time propagated between stages
# via window_time(); append mode end to end). Two-band protocol: the real
# events form batch 0; a single far-future sentinel row (tmax + 30 days,
# synthesized by the operator, absent from the oracle's input) forms batch
# 1 and pushes the global watermark past every real window, so the final
# no-data micro-batch flushes BOTH state stores completely. The sentinel's
# own windows never close (watermark = sentinel - delay), so the emitted
# result is exactly the batch chain over the real events — which is what
# the oracle computes. Monetary sums stay int64 cents through both
# stateful stages; one division after the sink.
# --------------------------------------------------------------------------

_CHAINED_AGG_ORACLE = """
WITH hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS hb,
         event_type,
         cast(count(*) AS BIGINT) AS n,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sv
  FROM events
  GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
)
SELECT time_bucket(INTERVAL '4 hours', hb) AS window_start,
       event_type,
       cast(sum(n) AS BIGINT) AS total_events,
       cast(count(*) AS BIGINT) AS n_hours,
       (cast(sum(sv) AS BIGINT) / cast(100 AS DOUBLE)) AS sum_value
FROM hourly
GROUP BY time_bucket(INTERVAL '4 hours', hb), event_type
"""


@register(
    "stream_chained_agg_twin",
    oracle=_CHAINED_AGG_ORACLE,
    tags=("streaming", "stateful"),
)
def stream_chained_agg_twin(spark, sf_dir):
    events = table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    sentinel = events.agg(
        (F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit("zz_sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    bands = ("a_events", "b_sentinel")
    banded = events.withColumn("band", F.lit(bands[0])).unionByName(
        sentinel.withColumn("band", F.lit(bands[1]))
    )
    with staged_stream(spark, banded, "band", bands) as (stream, nbytes):
        hourly = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("sv"),
            )
        )
        rollup = (
            hourly.groupBy(
                F.window(F.window_time("w1"), "4 hours").alias("w2"),
                "event_type",
            )
            .agg(
                F.sum("n").cast("long").alias("total_events"),
                F.count(F.lit(1)).alias("n_hours"),
                F.sum("sv").cast("long").alias("sv"),
            )
        )
        sunk = run_to_memory(spark, rollup, output_mode="append", input_bytes=nbytes)
    # memory-sink-backed (driver-held batches), valid after the staged
    # input is deleted — no collect needed (VERDICT r6 #7)
    return sunk.select(
        F.col("w2.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "total_events",
        "n_hours",
        (F.col("sv") / F.lit(100).cast("double")).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Streaming UNION: two independent file-stream sources (disjoint
# event-type slices of the same table) merged with unionByName before one
# stateful aggregation — the fan-in topology of multi-region ingestion,
# where per-source offsets are tracked independently but state is shared
# downstream. Complete-mode memory sink; the batch oracle unions the same
# slices.
# --------------------------------------------------------------------------

_UNION_TWIN_ORACLE = f"""
SELECT event_type,
       cast(count(*) AS BIGINT) AS n,
       {s_lsum('value', 100)} AS sum_value
FROM events
WHERE event_type IN ('click', 'error')
GROUP BY event_type
"""


@register(
    "stream_union_twin",
    oracle=_UNION_TWIN_ORACLE,
    tags=("streaming",),
)
def stream_union_twin(spark, sf_dir):
    # two sources over the same file, each keeping a disjoint slice: the
    # shared state sees at most one file's worth of input
    clicks, nbytes = stream_table(spark, sf_dir, "events")
    errors, _ = stream_table(spark, sf_dir, "events")
    agg = (
        clicks.filter(F.col("event_type") == "click")
        .unionByName(errors.filter(F.col("event_type") == "error"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            lsum("value", 100).alias("sum_value"),
        )
    )
    return run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)


# --------------------------------------------------------------------------
# OHLC streaming twin (r9): the batch ts_ohlc_bars aggregation run as a
# real availableNow stream — min_by/max_by argmin state merging across
# microbatches is a different state machine from plain min/max/count
# (the store carries (ordering key, value) pairs per group and merges by
# key comparison), and this twin proves the packed decimal(38,0) ordering
# key survives partial-state merge exactly. Same oracle as the batch
# form; complete output mode (bucket count is bounded by the time span,
# so state is O(buckets x types), not rows).
# --------------------------------------------------------------------------

from .ts_extra2 import _OHLC_ORACLE as _OHLC_TWIN_ORACLE  # noqa: E402


@register(
    "stream_ohlc_twin",
    oracle=_OHLC_TWIN_ORACLE,
    tags=("streaming", "timeseries", "agg"),
)
def stream_ohlc_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    packed = (
        F.unix_micros(F.col("ts").cast("timestamp")).cast("decimal(38,0)")
        * F.expr("cast('100000000000000000000' as decimal(38,0))")
        + F.col("event_id")
    )
    agg = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
        )
        .agg(
            F.min_by("value", packed).alias("open_val"),
            F.max("value").alias("high_val"),
            F.min("value").alias("low_val"),
            F.max_by("value", packed).alias("close_val"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    return run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)


# --------------------------------------------------------------------------
# VWAP streaming twin (r10): the batch ts_vwap_hourly aggregation as a
# real availableNow stream — turnover/volume are plain commutative long
# sums so partial-state merge is trivial, but the JSON-path volume
# extraction (get_json_object in the hot path) now runs inside the
# streaming microbatch, proving the JVM JSON parser sits on the
# streaming side of the state store too. The final ratio is computed
# AFTER the stream completes, on the bounded per-hour state — identical
# arithmetic to the batch form, same oracle.
# --------------------------------------------------------------------------

from .ts_extra3 import _VWAP_ORACLE as _VWAP_TWIN_ORACLE  # noqa: E402


@register(
    "stream_vwap_twin",
    oracle=_VWAP_TWIN_ORACLE,
    tags=("streaming", "timeseries", "json"),
)
def stream_vwap_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    vol = F.get_json_object("props", "$.k").cast("long")
    agg = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.sum(F.round(F.col("value") * vol * 100).cast("long")).alias(
            "turnover_e2"
        ),
        F.sum(vol).alias("volume"),
    )
    done = run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)
    return done.select(
        "bucket",
        "turnover_e2",
        "volume",
        # same nullif guard as the batch twin (ts_extra3.ts_vwap_hourly):
        # a zero-volume hour has no defined VWAP, and ANSI mode turns a
        # bare /0 into a job-killing error (seen at sf0.001).
        F.round(
            F.col("turnover_e2").cast("double")
            / F.lit(100).cast("double")
            / F.nullif(F.col("volume"), F.lit(0)).cast("double"),
            6,
        ).alias("vwap"),
    )


# --------------------------------------------------------------------------
# Welch t-test streaming twin (r10): the profile_welch_ttest moments as a
# real availableNow stream — the point is that the ENTIRE sufficient
# statistic is six commutative int64 sums (n/Σv/Σv² per arm), i.e. the
# canonical "stats on streams" shape: state is one row regardless of
# input size, partial-state merge is addition, and the t/df scalars are
# computed AFTER the stream completes on that one-row state. Same oracle
# as the batch query (identical arithmetic).
# --------------------------------------------------------------------------

from .inference_stats import _GROUP_A as _TT_A  # noqa: E402
from .inference_stats import _GROUP_B as _TT_B  # noqa: E402
from .inference_stats import _WELCH_ORACLE as _TTEST_TWIN_ORACLE  # noqa: E402


@register(
    "stream_ttest_twin",
    oracle=_TTEST_TWIN_ORACLE,
    tags=("streaming", "stats"),
)
def stream_ttest_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    events = events.where(F.col("event_type").isin(_TT_A, _TT_B))
    v = F.round(F.col("value") * 100).cast("long")

    def moments(group: str, tag: str):
        cond = F.col("event_type") == group
        return [
            F.count(F.when(cond, F.lit(1))).cast("long").alias(f"n{tag}"),
            F.sum(F.when(cond, v)).cast("long").alias(f"s{tag}"),
            F.sum(F.when(cond, v * v)).cast("long").alias(f"q{tag}"),
        ]

    agg = events.groupBy().agg(*moments(_TT_A, "1"), *moments(_TT_B, "2"))
    done = run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)

    def mean(tag: str):
        return (
            F.col(f"s{tag}").cast("double")
            / F.col(f"n{tag}").cast("double")
            / F.lit(100).cast("double")
        )

    def var(tag: str):
        n_d = F.col(f"n{tag}").cast("double")
        s_d = F.col(f"s{tag}").cast("double")
        return (
            (F.col(f"q{tag}").cast("double") - s_d * s_d / n_d)
            / (n_d - F.lit(1).cast("double"))
            / F.lit(10000).cast("double")
        )

    d = done.select(
        "n1",
        "n2",
        mean("1").alias("m1"),
        mean("2").alias("m2"),
        var("1").alias("var1"),
        var("2").alias("var2"),
    ).select(
        "*",
        (F.col("var1") / F.col("n1").cast("double")).alias("se1"),
        (F.col("var2") / F.col("n2").cast("double")).alias("se2"),
    )
    se = F.col("se1") + F.col("se2")
    one = F.lit(1).cast("double")
    return d.select(
        "n1",
        "n2",
        F.round("m1", 6).alias("mean_a"),
        F.round("m2", 6).alias("mean_b"),
        F.round("var1", 6).alias("var_a"),
        F.round("var2", 6).alias("var_b"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se), 6).alias("t_stat"),
        F.round(
            se
            * se
            / (
                F.col("se1") * F.col("se1") / (F.col("n1").cast("double") - one)
                + F.col("se2") * F.col("se2") / (F.col("n2").cast("double") - one)
            ),
            3,
        ).alias("welch_df"),
    )


# --------------------------------------------------------------------------
# Neyman-allocation streaming twin (r13): the variance-optimal stratified
# design (sample_neyman_allocation, sampling_mix.py) computed from a real
# availableNow stream. The per-stratum moments (n, Σv, Σv²) are the
# ENTIRE sufficient statistic — the canonical "survey design on live
# telemetry" shape: streaming state is one row per stratum regardless of
# input size, partial-state merge is addition, and the std quantization +
# integer largest-remainder apportionment run AFTER the stream completes
# on that 5-row state, sharing the batch query's code path (and oracle)
# verbatim.
# --------------------------------------------------------------------------

from .sampling_mix import _NEYMAN_ORACLE as _NEYMAN_TWIN_ORACLE  # noqa: E402
from .sampling_mix import neyman_from_moments  # noqa: E402


@register(
    "stream_neyman_twin",
    oracle=_NEYMAN_TWIN_ORACLE,
    tags=("streaming", "sample", "stats"),
)
def stream_neyman_twin(spark, sf_dir):
    events, nbytes = stream_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    agg = events.groupBy(F.col("event_type").alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("q"),
    )
    done = run_to_memory(spark, agg, output_mode="complete", input_bytes=nbytes)
    return neyman_from_moments(done)
