"""Structured Streaming surface (SURVEY.md §2.10 note).

The reference is batch-cron; its "windows" are calendar weeks computed
in batch, so streaming is optional sugar for this engine.  This module
provides the micro-batch streaming shape anyway for completeness: a
file-stream source over an events directory, watermarked tumbling-
window aggregation, and a ``foreachBatch`` sink that commits each
micro-batch through the snapshot catalog (the same atomic-commit
discipline as the crawl loop).

Run with ``trigger(availableNow=True)`` in tests: processes everything
currently in the directory as micro-batches, then stops — equivalent
results to the batch groupBy, which the test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adscrawler_spark.sources.catalog import Catalog


def windowed_event_counts_stream(
    spark: SparkSession,
    events_dir: str,
    schema: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """readStream → watermark → tumbling-window counts per event_type.

    The watermark bounds state: late rows beyond it are dropped, so
    executor state stays O(active windows), which is what makes this
    viable on an unbounded 100TB/day stream."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_available_now(
    agg: DataFrame, out_dir: str, checkpoint_dir: str, table: str = "event_windows"
) -> None:
    """Drain the stream with availableNow, committing each micro-batch
    atomically via the snapshot catalog (foreachBatch sink)."""
    cat = Catalog(out_dir)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # complete output mode re-emits the full result per micro-batch;
        # the atomic snapshot overwrite makes the last commit the table.
        cat.table(table).overwrite(batch_df, {"stream_batch": batch_id})

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def batch_equivalent(spark: SparkSession, events_dir: str, schema: str,
                     window: str = "1 hour") -> DataFrame:
    """The batch twin of the streaming aggregation (for parity tests)."""
    ev = spark.read.schema(schema).parquet(events_dir)
    return (
        ev.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------
# Custom stateful operator: gap sessionization via applyInPandasWithState
# ---------------------------------------------------------------------

SESSION_GAP_MINUTES = 30  # same gap as the batch sessionize_events entry


def sessionize_stream(
    spark: SparkSession,
    events_dir: str,
    schema: str,
    gap_minutes: int = SESSION_GAP_MINUTES,
    watermark: str = "1 minute",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming gap sessionization — the custom stateful operator the
    built-in windowed aggregations can't express (sessions have
    data-dependent, unbounded extent).

    Per user_id, ``applyInPandasWithState`` keeps the user's *unflushed
    sessions* (parallel start/end/count arrays) as state.  Each
    micro-batch's events are gap-split, merged with the held sessions
    (sort by start + coalesce within gap — so a late event arriving in
    a later batch, still within the watermark, correctly extends or
    bridges earlier sessions), and a session is emitted ONLY once the
    event-time watermark has passed its ``end + gap`` — the point after
    which no admissible event (ts ≥ watermark) can touch it.  That
    makes the output correct for any arrival order within the
    watermark, not just event-time-ordered input.  State is O(sessions
    not yet watermark-final per user), bounded by the watermark exactly
    as the north_rule demands of stateful streaming at 100TB/day.

    Gap semantics match plans/benchmarks.py::sessionize_events
    (strictly > gap starts a new session), asserted by the parity test.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("starts", ArrayType(LongType())),
            StructField("ends", ArrayType(LongType())),
            StructField("ns", ArrayType(LongType())),
        ]
    )
    gap_us = gap_minutes * 60 * 1_000_000

    def _emit(user_id: int, sess: list[tuple[int, int, int]]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": np.full(len(sess), user_id, dtype="int64"),
                "session_start": pd.to_datetime(
                    [s for s, _, _ in sess], unit="us"
                ),
                "session_end": pd.to_datetime(
                    [e for _, e, _ in sess], unit="us"
                ),
                "n_events": np.array([n for _, _, n in sess], dtype="int64"),
            }
        )

    def _coalesce(sess: list[tuple[int, int, int]]) -> list[tuple[int, int, int]]:
        """Merge gap-adjacent sessions (input sorted by start)."""
        out: list[tuple[int, int, int]] = []
        for s, e, n in sess:
            if out and s - out[-1][1] <= gap_us:
                ps, pe, pn = out[-1]
                out[-1] = (ps, max(pe, e), pn + n)
            else:
                out.append((s, e, n))
        return out

    def _split_flush(
        sess: list[tuple[int, int, int]], state: GroupState
    ) -> tuple[list[tuple[int, int, int]], list[tuple[int, int, int]]]:
        """(emittable, held): a session is final once the watermark is
        strictly past end + gap — any still-admissible event (ts ≥
        watermark) would have ts − end > gap and start a new session."""
        wm_us = state.getCurrentWatermarkMs() * 1000
        done = [x for x in sess if x[1] + gap_us < wm_us]
        held = [x for x in sess if x[1] + gap_us >= wm_us]
        return done, held

    def _park(held: list[tuple[int, int, int]], state: GroupState) -> None:
        state.update(
            ([s for s, _, _ in held], [e for _, e, _ in held],
             [n for _, _, n in held])
        )
        # wake when the earliest held session can flush (timeout must
        # sit strictly beyond the current watermark)
        next_ms = min(e for _, e, _ in held) // 1000 + gap_minutes * 60 * 1000
        state.setTimeoutTimestamp(max(next_ms, state.getCurrentWatermarkMs()) + 1)

    def fn(key, pdfs, state: GroupState):
        user_id = int(key[0])
        if state.hasTimedOut:
            starts, ends, ns = state.get
            done, held = _split_flush(
                list(zip(starts, ends, ns)), state
            )
            if held:
                _park(held, state)
            else:
                state.remove()
            if done:
                yield _emit(user_id, done)
            return
        parts = [pdf["ts"] for pdf in pdfs]
        ts = (
            pd.concat(parts)
            .astype("datetime64[us]")
            .astype("int64")
            .sort_values()
            .to_numpy()
        )
        # vectorized gap split of this batch's events
        new = np.ones(len(ts), dtype=bool)
        new[1:] = (ts[1:] - ts[:-1]) > gap_us
        idx = np.flatnonzero(new)
        bounds = np.append(idx, len(ts))
        batch_sess = [
            (int(ts[bounds[i]]), int(ts[bounds[i + 1] - 1]),
             int(bounds[i + 1] - bounds[i]))
            for i in range(len(idx))
        ]
        if state.exists:
            starts, ends, ns = state.get
            batch_sess.extend(zip(starts, ends, ns))
            batch_sess.sort(key=lambda x: x[0])
        merged = _coalesce(batch_sess)
        done, held = _split_flush(merged, state)
        if held:
            _park(held, state)
        elif state.exists:
            state.remove()
        if done:
            yield _emit(user_id, done)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
        .withWatermark("ts", watermark)
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def unseen_urls_stream(
    spark: SparkSession,
    urls_dir: str,
    schema: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming URL-seen dedup — the Structured Streaming counterpart
    of the batch anti-join seen set (operators/seen.py): a
    discovered-URL stream deduped on ``url_canon`` with
    ``dropDuplicatesWithinWatermark``, so the first sighting of each
    canonical URL inside the watermark horizon passes and repeats are
    dropped while state stays bounded by the watermark (an unbounded
    plain dropDuplicates would grow state forever on a 10^10-URL
    frontier).  Exact long-horizon dedup remains the batch seen-set's
    job — this stage cheaply collapses the intra-horizon repeat storm
    (the same URL rediscovered by many pages in one crawl wave)
    before rows ever reach it."""
    stream = spark.readStream.schema(schema).parquet(urls_dir)
    return stream.withWatermark("discovered_at", watermark).dropDuplicatesWithinWatermark(
        ["url_canon"]
    )


def _last_committed_stream_batch(tbl) -> int:
    """Highest ``stream_batch`` id recorded in any committed snapshot
    of ``tbl`` (−1 when none).  Walks the snapshot manifests — a
    driver-side scan of tiny JSON files, the same place Iceberg keeps
    its commit properties."""
    cur = tbl.current_version()
    if cur is None:
        return -1
    last = -1
    for v in range(cur + 1):
        snap = tbl.snapshot(v)
        if snap is not None:
            b = snap.get("meta", {}).get("stream_batch")
            if isinstance(b, int) and b > last:
                last = b
    return last


def run_unseen_available_now(
    dedup: DataFrame, out_dir: str, checkpoint_dir: str, table: str = "frontier_ingest"
) -> None:
    """Drain the deduped URL stream with availableNow through the
    snapshot catalog.

    Replay safety: Structured Streaming re-delivers the last
    uncommitted micro-batch after a failure, and this sink APPENDS
    (unlike run_available_now's complete-mode overwrite, which is
    replay-safe for free).  So the sink is made idempotent the
    standard foreachBatch way: each commit records its ``batch_id``
    in the snapshot meta, and a batch whose id is <= the last
    committed one is skipped instead of appended — a replayed batch
    after a crash-between-checkpoint-and-commit lands exactly once."""
    cat = Catalog(out_dir)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        tbl = cat.table(table)
        if batch_id <= _last_committed_stream_batch(tbl):
            return  # replayed batch already committed — skip
        tbl.append(batch_df, {"stream_batch": batch_id})

    (
        dedup.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
