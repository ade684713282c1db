"""Structured Streaming extensions over the events table.

The reference has no streaming surface (SURVEY §2.11); these are the
additive stream operators a large-scale event pipeline needs, built on
public Structured Streaming APIs: file-source reads, watermarked
tumbling/sliding window aggregation, and a custom stateful sessionizer
via ``applyInPandasWithState``.

Each windowed operator has a *batch twin* (same transformation applied
to a batch DataFrame) — the twins power DuckDB oracle checks and let
callers run identical logic in either mode. Event time is
layout-adaptive IN THE BATCH HELPERS (``event_time`` /
``epoch_seconds``): nanosecond epoch longs (legacy driver layout) are
converted with ``timestamp_micros`` (pure epoch math), and
TIMESTAMP / TIMESTAMP_NTZ columns (current driver layout) pass
through. The STREAM source is not adaptive: ``read_events_stream``
pins ``EVENTS_SCHEMA`` (ts as TIMESTAMP_NTZ, the current layout) —
file streams need an explicit schema up front, so reading legacy
nanos-long parquet through it requires passing that legacy schema
explicitly. Epoch-seconds extraction uses ``unix_timestamp``, which for
NTZ treats the wall clock as UTC independent of the session timezone
(verified under a non-UTC session TZ) — exactly DuckDB's
``epoch(ts)`` semantics, so oracle comparisons stay timezone-proof.

Scale notes: windowed counts are partial-aggregated before the state
store; state size is bounded by (#windows in watermark horizon x
#groups). The sessionizer keys state by user_id — state volume is
O(active users), and ``GroupStateTimeout.EventTimeTimeout`` evicts idle
sessions at the watermark.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dgraph_dbpedia_spark.operators.cachectl import CacheScope

# the driver's events.parquet schema (ts is TIMESTAMP without timezone)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def event_time(df: DataFrame) -> F.Column:
    """TIMESTAMP column for any ts layout. Nanos-epoch longs become
    micros timestamps (pure epoch math). TIMESTAMP_NTZ is rebased to a
    true TIMESTAMP via epoch seconds — ``unix_timestamp`` reads the NTZ
    wall clock as UTC independent of session TZ, and watermarks REQUIRE
    TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). Second
    precision: lossless for the hour-scale windows and the
    seconds-based sessionizer built on top."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # integer `div`, not /1000: epoch nanos (~1.7e18) exceed 2^53,
        # so double division is off by up to 1us and can flip the
        # derived second vs the exact epoch_seconds() below
        return F.timestamp_micros(F.expr("`ts` div 1000"))
    if dt == "timestamp_ntz":
        return F.timestamp_seconds(F.unix_timestamp(F.col("ts")))
    return F.col("ts")


def epoch_seconds(df: DataFrame) -> F.Column:
    """Epoch seconds (long, truncated) for either ts layout. Integer
    ``div`` on the nanos path (double division loses precision above
    2^53); ``unix_timestamp`` on the timestamp path — for NTZ it reads
    the wall clock as UTC regardless of session timezone, matching
    DuckDB's ``epoch(ts)``."""
    if dict(df.dtypes).get("ts") == "bigint":
        return F.expr("`ts` div 1000000000")
    return F.unix_timestamp(F.col("ts"))


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.
    ``max_files_per_trigger`` bounds each micro-batch (1 = one file per
    batch, so watermarks advance between files — the shape a rotating
    log directory produces). The stream reads ``EVENTS_SCHEMA``."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(path)
    return stream.withColumn("event_time", event_time(stream))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per-type counts in tumbling event-time windows. Works on both
    streaming frames (state bounded by a 2-hour watermark) and batch
    frames (the watermark is a no-op in batch). One-hour windows.
    Output: (ws, event_type, n)."""
    df = events
    if "event_time" not in df.columns:
        df = df.withColumn("event_time", event_time(df))
    if df.isStreaming:
        df = df.withWatermark("event_time", "2 hours")
    return (
        df.groupBy(F.window("event_time", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        # unix_timestamp, not a long cast: NTZ windows reject the cast
        .select(F.unix_timestamp(F.col("w.start")).alias("ws"), "event_type", "n")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding-window per-type counts: one-hour windows every 30
    minutes, so each event lands in two windows; 2-hour watermark.
    Output: (ws, event_type, n)."""
    df = events
    if "event_time" not in df.columns:
        df = df.withColumn("event_time", event_time(df))
    if df.isStreaming:
        df = df.withWatermark("event_time", "2 hours")
    return (
        df.groupBy(
            F.window("event_time", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp(F.col("w.start")).alias("ws"), "event_type", "n")
    )


SESSION_GAP_SECONDS = 30 * 60

_SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("start_s", T.LongType()),
        T.StructField("end_s", T.LongType()),
    ]
)


def sessionize_batch(events: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """Batch twin of the stateful sessionizer: sessions are maximal runs
    of a user's events with inter-event gap <= gap_seconds.

    Classic lag + cumulative-sum plan: one shuffle on user_id, two
    window passes over the same partitioning (Catalyst reuses the sort).
    Output: (user_id, session_id, n_events, start_s, end_s) with
    session_id numbered 1..n per user in time order."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    with_gap = (
        events.select("event_id", "user_id", epoch_seconds(events).alias("ts_s"))
        .withColumn("prev", F.lag("ts_s").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev").isNull()
                | ((F.col("ts_s") - F.col("prev")) > gap_seconds),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
        )
    )
    return with_gap.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_s").alias("start_s"),
        F.max("ts_s").alias("end_s"),
    )


def _sessionize_group_fn(gap_seconds: int):
    """Builds the applyInPandasWithState update function for a given
    session gap, so the stream path honors the same ``gap_seconds``
    knob as :func:`sessionize_batch` (a hardcoded module constant here
    would silently diverge the twins at any non-default gap)."""

    def _sessionize_group(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                sid, n, start_s, last_s = state.get
                state.remove()
                yield pd.DataFrame(
                    [[user_id, sid, n, start_s, last_s]],
                    columns=["user_id", "session_id", "n_events", "start_s", "end_s"],
                )
            return

        rows = pd.concat(list(pdfs)).sort_values("ts_s")
        if state.exists:
            sid, n, start_s, last_s = state.get
        else:
            sid, n, start_s, last_s = 0, 0, None, None

        out = []
        for ts_s in rows["ts_s"]:
            ts_s = int(ts_s)
            if last_s is None or ts_s - last_s > gap_seconds:
                if n > 0:
                    out.append([user_id, sid, n, start_s, last_s])
                sid, n, start_s, last_s = sid + 1, 0, ts_s, ts_s
            n += 1
            # a watermark-admitted LATE event (cross-batch out-of-order)
            # extends the open session backward and must never regress
            # last_s — the old `last_s = ts_s` inverted end_s < start_s
            # and skewed every later gap decision. One documented
            # divergence from the batch twin remains: a late event
            # older than the open session's start by more than the gap
            # merges into it (single-open-session state cannot create a
            # retroactive earlier session); in-order data is bit-equal.
            if ts_s < start_s:
                start_s = ts_s
            if ts_s > last_s:
                last_s = ts_s
        state.update((sid, n, start_s, last_s))
        state.setTimeoutTimestamp(last_s * 1000 + gap_seconds * 1000)
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_id", "n_events", "start_s", "end_s"],
            )

    return _sessionize_group


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = SESSION_GAP_SECONDS,
) -> DataFrame:
    """Custom stateful operator: streaming sessionization keyed by user
    via applyInPandasWithState (arbitrary state + event-time timeout).
    Emits a row per *closed* session. ``gap_seconds`` matches
    :func:`sessionize_batch`'s parameter — the twins stay comparable at
    any gap."""
    df = events
    if "event_time" not in df.columns:
        df = df.withColumn("event_time", event_time(df))
    df = df.withWatermark("event_time", "1 hour").withColumn(
        "ts_s", epoch_seconds(events)
    )
    return (
        df.select("user_id", "event_id", "ts_s", "event_time")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group_fn(gap_seconds),
            outputStructType=_SESSION_OUTPUT,
            stateStructType="sid int, n long, start_s long, last_s long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_events(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming deduplication: keep the first event per key, with state
    bounded by a 2-hour watermark horizon (``dropDuplicatesWithinWatermark``
    — late duplicates beyond the horizon are NOT caught, which is the
    price of bounded state; unbounded ``dropDuplicates`` state would OOM
    a 100 TB stream). On a batch frame the same call degrades to plain
    ``dropDuplicates`` (exact).

    Which physical row survives per key is nondeterministic in both
    modes (first-arrival wins); project the key columns afterward when
    determinism matters (the oracle query does exactly that)."""
    keys = keys or ["event_id"]
    df = events
    if not df.isStreaming:
        # the batch twin needs no event_time — adding one would change
        # the output schema vs the input (oracle diffs would see an
        # extra column)
        return df.dropDuplicates(keys)
    if "event_time" not in df.columns:
        df = df.withColumn("event_time", event_time(df))
    return df.withWatermark("event_time", "2 hours").dropDuplicatesWithinWatermark(
        keys
    )


def enrich_events(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream
    joins the static dimension as a broadcast hash join (no stream-side
    shuffle, no state store — stream-static inner/left joins are
    stateless). The identical call works on a batch frame (the twin
    the oracle checks). The broadcast is a HARD hint — right for
    genuine dimensions; a dim above the broadcast limit (~8 GB / driver
    memory) fails the build.

    Fixed columns: join key ``user_id``."""
    return events.join(F.broadcast(dim), "user_id", "left")


def interval_join(
    left_events: DataFrame,
    right_events: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Per-user event-time interval join: each LEFT event (e.g. a click)
    matched to every RIGHT event (e.g. a view) by the same user in the
    preceding 1800 seconds (inclusive; right at-or-before left)
    — the attribution join of an event pipeline. Works on two streaming
    frames (Spark's watermarked stream-stream join: both sides' state is
    evicted once the 2-hour watermark passes the time-range bound) and on batch
    frames (watermarks are skipped; the same equi-join on ``user_id``
    plus a range filter, a hash join at any scale — never a cartesian).

    ``how="left_outer"`` keeps unattributed LEFT events with NULL
    ``r_event_id``/``lag_s`` (see :func:`interval_join_outer`). In
    streaming mode those null rows are emitted only once the watermark
    passes a left event's lookback bound — a tail event whose bound the
    final watermark never crosses stays in state and is not emitted,
    the documented semantics of Spark's watermarked outer joins.

    Output: ``(l_event_id, r_event_id, user_id, lag_s)`` with
    ``lag_s = left - right`` in truncated epoch seconds, matching the
    batch/oracle ``floor(epoch(ts))`` convention.
    """

    def side(df: DataFrame, etype: str, prefix: str) -> DataFrame:
        out = df
        if "event_time" not in out.columns:
            out = out.withColumn("event_time", event_time(out))
        out = out.where(F.col("event_type") == etype).select(
            F.col("event_id").alias(f"{prefix}_event_id"),
            F.col("user_id").alias(f"{prefix}_user_id"),
            # truncate to whole seconds: the contract (and the DuckDB
            # oracle) is floor(epoch(ts)) comparisons — without this, a
            # sub-second ts (the testdata is microsecond-precision)
            # would make boundary pairs match on one engine only
            F.timestamp_seconds(F.unix_timestamp("event_time")).alias(
                f"{prefix}_et"
            ),
        )
        if out.isStreaming:
            out = out.withWatermark(f"{prefix}_et", "2 hours")
        return out

    l = side(left_events, "click", "l")
    r = side(right_events, "view", "r")
    cond = (
        (l["l_user_id"] == r["r_user_id"])
        & (r["r_et"] <= l["l_et"])
        & (r["r_et"] >= l["l_et"] - F.expr("INTERVAL 1800 SECONDS"))
    )
    return l.join(r, cond, how).select(
        "l_event_id",
        "r_event_id",
        F.col("l_user_id").alias("user_id"),
        # unmatched left rows (outer mode): r_et is NULL -> lag_s NULL
        (F.unix_timestamp("l_et") - F.unix_timestamp("r_et")).alias("lag_s"),
    )


def interval_join_outer(left_events: DataFrame, right_events: DataFrame) -> DataFrame:
    """Left-outer :func:`interval_join`: every LEFT event appears at
    least once; events with no RIGHT match in the lookback window carry
    NULL ``r_event_id``/``lag_s`` — the "unattributed conversions" view
    of the attribution join. Streaming caveat inherited from Spark's
    watermarked left-outer join: a null row is emitted only after the
    watermark passes the left event's join bound."""
    return interval_join(
        left_events,
        right_events,
        how="left_outer",
    )


def run_to_memory(
    stream: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain a stream into an in-memory table with the available-now
    trigger (test/verification harness)."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_near_dup_batch(batch: DataFrame, state_dir: str) -> DataFrame:
    """Micro-batch NEAR-duplicate filter for document streams — the
    ``foreachBatch`` body of a streaming near-dup pipeline.

    WHY not a pure streaming operator: banded SimHash near-dup needs a
    per-doc aggregation AFTER the per-bucket stateful step (a doc is a
    dup if ANY of its 4 bands matched a prior doc), and Spark rejects
    that chain outright — probed on 4.1: applyInPandasWithState
    followed by groupBy(doc) raises
    STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION in append mode and the
    global-watermark "correctness issue" AnalysisException in update
    mode. Exact streaming dedup (:func:`dedup_events`) stays a pure
    stateful operator; near-dup uses the supported production pattern:
    foreachBatch with explicit on-disk state.

    Per micro-batch: (1) drop docs within 3 of any
    previously-seen doc — banded (chunk, value) equi-join against the
    state table, never all-pairs; (2) within-batch greedy min-id
    near-dup filter; (3) append survivors' ``(id, simhash)`` to the
    state table. Returns the surviving rows, localCheckpoint-ed BEFORE
    the state append so the returned frame cannot observe its own
    batch's state rows.

    Replay caveat (at-least-once foreachBatch): state append and the
    caller's sink write are not atomic. On micro-batch replay,
    already-registered survivors are suppressed as their own
    duplicates — the benign direction for dedup (no duplicate ever
    escapes; a crash between state and sink write loses that batch
    from the sink). Key the state layout by batchId if loss matters.

    Scale shape: state grows by survivors only and is read once per
    batch; the cross join is banded; within-batch work is
    micro-batch-sized.

    Fixed columns: id ``doc_id``, text ``text``."""
    from dgraph_dbpedia_spark.operators.dedup import (
        _simhash_chunks,
        near_dup_filter,
        simhash,
        simhash_banded_pairs,
    )
    from dgraph_dbpedia_spark.sources.parquet import fs_exists

    spark = batch.sparkSession
    # the batch fingerprints feed the state join, both within-batch
    # pair sides (via the anti-join view), and the state append — ONE
    # simhash fold per micro-batch, cached for all four consumers
    with CacheScope() as scope:
        sh = scope.persist(simhash(batch))
        # no state table yet = the first micro-batch; an EXISTING state
        # that cannot be read fails the batch loudly in the read, or
        # near-dups of registered docs would silently reach both the
        # sink and the state table
        if fs_exists(spark, state_dir):
            state = spark.read.parquet(state_dir)
            bb = sh.select(
                F.col("doc_id"),
                F.col("simhash"),
                F.posexplode(_simhash_chunks(F.col("simhash"))).alias(
                    "chunk", "val"
                ),
            )
            sb = state.select(
                F.col("simhash").alias("sim_s"),
                F.posexplode(_simhash_chunks(F.col("simhash"))).alias(
                    "chunk", "val"
                ),
            )
            # persisted: dup_ids gates the survivor rows AND both pair
            # sides — uncached it would replay the state join per branch
            dup_ids = scope.persist(
                bb.join(sb, ["chunk", "val"])
                .where(
                    F.bit_count(F.col("simhash").bitwiseXOR(F.col("sim_s")))
                    <= 3
                )
                .select(F.col("doc_id"))
                .distinct()
            )
            clean = batch.join(dup_ids, "doc_id", "left_anti")
            clean_sh = sh.join(dup_ids, "doc_id", "left_anti")
        else:
            clean = batch
            clean_sh = sh
        pairs = simhash_banded_pairs(clean_sh, 3)
        survivors = scope.checkpoint(near_dup_filter(clean, pairs))
        (
            sh.join(survivors.select(F.col("doc_id")), "doc_id", "left_semi")
            .select(F.col("doc_id"), F.col("simhash"))
            .write.mode("append")
            .parquet(state_dir)
        )
        # survivors back the returned frame; on a failed state write
        # the scope frees them with the caches, so a retried
        # micro-batch leaks nothing per attempt
        return scope.keep(survivors)


def tag_embeddings_stream(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stream-compatible semantic tagging: attach the nearest-centroid
    ``cid`` and its round-6 cosine ``sim`` to every row — the
    ingest-time topic routing / cluster labeling step of a streaming
    curation pipeline. The assignment is a STATELESS projection
    (:func:`..operators.similarity.ivf_assign` — bounded centroids
    collected once into the Arrow kernel's closure), so the IDENTICAL call works on a
    ``readStream`` frame in append mode with no state store and no
    watermark, and on a batch frame (the twin the oracle checks —
    the stream==batch equality is pinned by pytest).

    100 TB/stream shape: per micro-batch cost is one scan-fused
    projection; nothing accumulates. Returns ``(id, cid, sim)``."""
    from dgraph_dbpedia_spark.operators.similarity import ivf_assign

    out = ivf_assign(df, centroids, id_col, vec_col, sim_col="sim")
    return out.select(F.col(id_col), F.col("cid"), F.col("sim"))
