from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    sessionize_batch,
    sessionize_stream,
    sliding_counts,
    tumbling_counts,
)


@pytest.fixture(autouse=True)
def _isolate_streams(spark):
    """Order-independence guard (ADVICE r8): one shared SparkSession
    runs every module, and a memory-sink temp view plus any
    still-active stream from one test can interfere with the next
    (observed as a rare sessionize flake when run after the similarity
    suite). Stop every active stream and drop the memory-sink views a
    test registered before the next test starts."""
    before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    yield
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:
            pass
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name not in before:
            try:
                spark.catalog.dropTempView(t.name)
            except Exception:
                pass


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", os.path.join(str(d), "part-0.parquet")
    )
    return str(d)


@pytest.fixture(scope="module")
def events_batch(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def test_streaming_tumbling_matches_batch(spark, events_dir, events_batch):
    """availableNow streaming tumbling counts == batch tumbling counts."""
    stream = read_events_stream(spark, events_dir)
    run_to_memory(tumbling_counts(stream), "t_tumbling", "complete")
    got = {
        (r["ws"], r["event_type"]): r["n"] for r in spark.table("t_tumbling").collect()
    }
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in tumbling_counts(events_batch).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_sliding_matches_batch(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir)
    run_to_memory(sliding_counts(stream), "t_sliding", "complete")
    got = spark.table("t_sliding")
    want = sliding_counts(events_batch)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # sliding windows: roughly 2x the tumbling row count at slide=1/2 window
    assert got.count() > tumbling_counts(events_batch).count()


def test_sessionize_batch_gap_semantics(spark):
    ns = 1_000_000_000
    rows = [
        # user 1: two sessions (gap 31 min between event 2 and 3)
        (1, 1, 0 * ns),
        (2, 1, 60 * ns),
        (3, 1, (60 + 31 * 60) * ns),
        # user 2: one session
        (4, 2, 0 * ns),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["start_s"], r["end_s"])
        for r in sessionize_batch(df).collect()
    }
    assert out[(1, 1)] == (2, 0, 60)
    assert out[(1, 2)] == (1, 60 + 31 * 60, 60 + 31 * 60)
    assert out[(2, 1)] == (1, 0, 0)


def test_sessionize_stream_closes_sessions(spark, events_dir, events_batch):
    """Stateful streaming sessionizer emits closed sessions that agree
    with the batch twin on (user, n_events, start, end)."""
    stream = read_events_stream(spark, events_dir)
    run_to_memory(sessionize_stream(stream), "t_sessions", "append")
    got = spark.table("t_sessions")
    batch = sessionize_batch(events_batch)
    # streaming emits only *closed* sessions; every closed session must
    # exist in the batch result with identical stats
    g = {
        (r["user_id"], r["start_s"], r["end_s"]): r["n_events"]
        for r in got.collect()
    }
    b = {
        (r["user_id"], r["start_s"], r["end_s"]): r["n_events"]
        for r in batch.collect()
    }
    assert len(g) > 0
    for key, n in g.items():
        assert b.get(key) == n, key


def test_stream_dedup_drops_duplicates(spark, events_dir, events_batch):
    """Streaming dropDuplicatesWithinWatermark removes key duplicates
    within the horizon; the projected key set equals the batch twin's."""
    from dgraph_dbpedia_spark.streaming.events import dedup_events

    stream = read_events_stream(spark, events_dir)
    deduped = dedup_events(stream, keys=["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    run_to_memory(deduped, "t_dedup", "append")
    got = {
        (r["user_id"], r["event_type"]) for r in spark.table("t_dedup").collect()
    }
    want = {
        (r["user_id"], r["event_type"])
        for r in dedup_events(events_batch, keys=["user_id", "event_type"])
        .select("user_id", "event_type")
        .collect()
    }
    assert got == want and len(want) > 0
    # and the stream emitted each key exactly once
    assert spark.table("t_dedup").count() == len(want)


def test_stream_enrich_stateless_broadcast(spark, events_dir, events_batch):
    """Stream-static join enriches each micro-batch from the broadcast
    dim with no state store; totals match the batch twin."""
    from dgraph_dbpedia_spark.streaming.events import enrich_events

    dim = spark.createDataFrame(
        [(i, "seg%d" % (i % 3)) for i in range(200)], ["user_id", "segment"]
    )
    stream = read_events_stream(spark, events_dir)
    run_to_memory(
        enrich_events(stream, dim, "user_id").select("event_id", "segment"),
        "t_enrich",
        "append",
    )
    got = spark.table("t_enrich")
    want = enrich_events(events_batch, dim, "user_id").select("event_id", "segment")
    assert got.count() == want.count() == events_batch.count()
    assert got.exceptAll(want).count() == 0
    # batch twin plans a broadcast join
    plan = want._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


@pytest.fixture(scope="module")
def multi_file_events_dir(tmp_path_factory):
    """Four time-ordered parquet files (log-rotation shape): watermarks
    advance between micro-batches when maxFilesPerTrigger=1."""
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.001/events.parquet")
    t = t.sort_by([("ts", "ascending")])
    d = tmp_path_factory.mktemp("events_multi")
    n = t.num_rows // 4
    base = 1_700_000_000  # any fixed past epoch
    for i in range(4):
        chunk = t.slice(i * n, n if i < 3 else t.num_rows - 3 * n)
        path = os.path.join(str(d), f"part-{i}.parquet")
        pq.write_table(chunk, path)
        # strictly increasing mtimes: FileStreamSource orders files by
        # modification time and breaks TIES nondeterministically — four
        # files written back-to-back share an mtime, so under load a
        # later-time file could form an earlier micro-batch, advance
        # the watermark past the skipped file's events, and close
        # sessions with partial stats (the observed rare flake in
        # test_multifile_sessionize_closes_only_batch_sessions)
        os.utime(path, (base + i, base + i))
    return str(d)


def test_multifile_tumbling_and_enrich_match_batch(
    spark, multi_file_events_dir, events_batch
):
    """End-to-end over 4 micro-batches (1 file each): windowed counts
    and the stream-static enrich equal their batch twins exactly."""
    stream = read_events_stream(spark, multi_file_events_dir, max_files_per_trigger=1)
    run_to_memory(tumbling_counts(stream), "mf_tumbling", "complete")
    got = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.table("mf_tumbling").collect()
    }
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in tumbling_counts(events_batch).collect()
    }
    assert got == want and len(want) > 0

    from dgraph_dbpedia_spark.streaming.events import enrich_events

    dim = spark.createDataFrame(
        [(i, "seg%d" % (i % 3)) for i in range(200)], ["user_id", "segment"]
    )
    stream = read_events_stream(spark, multi_file_events_dir, max_files_per_trigger=1)
    run_to_memory(
        enrich_events(stream, dim, "user_id").select("event_id", "segment"),
        "mf_enrich",
        "append",
    )
    got_e = spark.table("mf_enrich")
    want_e = enrich_events(events_batch, dim, "user_id").select(
        "event_id", "segment"
    )
    assert got_e.count() == want_e.count() == events_batch.count()
    assert got_e.exceptAll(want_e).count() == 0


def test_multifile_sessionize_closes_only_batch_sessions(
    spark, multi_file_events_dir, events_batch
):
    """Sessions closed by the event-time timeout as the watermark moves
    across micro-batches must each exist in the batch twin with
    identical stats — and batches crossing files must actually close
    some (non-empty)."""
    stream = read_events_stream(spark, multi_file_events_dir, max_files_per_trigger=1)
    run_to_memory(sessionize_stream(stream), "mf_sessions", "append")
    got = {
        (r["user_id"], r["start_s"], r["end_s"]): r["n_events"]
        for r in spark.table("mf_sessions").collect()
    }
    want = {
        (r["user_id"], r["start_s"], r["end_s"]): r["n_events"]
        for r in sessionize_batch(events_batch).collect()
    }
    assert len(got) > 0
    for key, n in got.items():
        assert want.get(key) == n, key


def test_multifile_dedup_bounded_state_semantics(
    spark, multi_file_events_dir, events_batch
):
    """dropDuplicatesWithinWatermark across micro-batches: the KEY SET
    equals the batch twin's (no key is ever lost), while duplicates
    recurring beyond the watermark horizon may re-emit — the documented
    price of bounded state."""
    from dgraph_dbpedia_spark.streaming.events import dedup_events

    stream = read_events_stream(spark, multi_file_events_dir, max_files_per_trigger=1)
    deduped = dedup_events(stream, keys=["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    run_to_memory(deduped, "mf_dedup", "append")
    got_rows = spark.table("mf_dedup")
    got = {(r["user_id"], r["event_type"]) for r in got_rows.collect()}
    want = {
        (r["user_id"], r["event_type"])
        for r in dedup_events(events_batch, keys=["user_id", "event_type"])
        .select("user_id", "event_type")
        .collect()
    }
    assert got == want and len(want) > 0
    assert got_rows.count() >= len(want)


def test_interval_join_stream_matches_batch(
    spark, multi_file_events_dir, events_batch
):
    """Watermarked stream-stream interval join over 4 micro-batches
    equals the batch twin exactly (inner join: late/early state both
    bounded by the watermark + time-range condition)."""
    from dgraph_dbpedia_spark.streaming.events import interval_join

    ls = read_events_stream(spark, multi_file_events_dir, max_files_per_trigger=1)
    rs = read_events_stream(spark, multi_file_events_dir, max_files_per_trigger=1)
    run_to_memory(
        interval_join(ls, rs), "ss_interval", "append"
    )
    got = spark.table("ss_interval")
    want = interval_join(events_batch, events_batch)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_interval_join_bounds_inclusive(spark):
    """right at exactly t-lookback and at t both match; t+1s does not."""
    from dgraph_dbpedia_spark.streaming.events import interval_join
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 7, "click", 0.0, ""),
        (2, base - dt.timedelta(seconds=1800), 7, "view", 0.0, ""),  # edge
        (3, base, 7, "view", 0.0, ""),                               # same ts
        (4, base + dt.timedelta(seconds=1), 7, "view", 0.0, ""),     # after
        (5, base - dt.timedelta(seconds=1801), 7, "view", 0.0, ""),  # too old
        (6, base, 8, "view", 0.0, ""),                               # other user
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = interval_join(df, df)
    got = {(r["r_event_id"], r["lag_s"]) for r in out.collect()}
    assert got == {(2, 1800), (3, 0)}


def test_interval_join_outer_batch_keeps_unmatched_left(spark):
    """Left-outer: every click appears; no view in the lookback window
    -> NULL r_event_id/lag_s; matched clicks carry the same rows as the
    inner join."""
    from dgraph_dbpedia_spark.streaming.events import (
        interval_join,
        interval_join_outer,
    )
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 7, "click", 0.0, ""),                              # matched
        (2, base - dt.timedelta(seconds=600), 7, "view", 0.0, ""),
        (3, base, 8, "click", 0.0, ""),                              # no view
        (4, base + dt.timedelta(seconds=1), 8, "view", 0.0, ""),     # after
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    outer = interval_join_outer(df, df)
    got = {(r["l_event_id"], r["r_event_id"], r["lag_s"]) for r in outer.collect()}
    assert got == {(1, 2, 600), (3, None, None)}
    inner = interval_join(df, df)
    assert outer.where(F.col("r_event_id").isNotNull()).exceptAll(inner).count() == 0


def test_interval_join_outer_stream_subset_of_batch(
    spark, multi_file_events_dir, events_batch
):
    """Streaming left-outer interval join: the matched rows equal the
    batch twin's exactly; null (unattributed) rows are emitted only
    once the watermark passes a left event's bound, so the emitted null
    set is a SUBSET of the batch twin's null rows — Spark's documented
    watermarked outer-join semantics, not data loss (the full sweep's
    batch twin is the oracle-exact row set)."""
    from dgraph_dbpedia_spark.streaming.events import interval_join_outer

    ls = read_events_stream(spark, multi_file_events_dir, max_files_per_trigger=1)
    rs = read_events_stream(spark, multi_file_events_dir, max_files_per_trigger=1)
    run_to_memory(
        interval_join_outer(ls, rs),
        "ss_interval_outer",
        "append",
    )
    got = spark.table("ss_interval_outer")
    want = interval_join_outer(events_batch, events_batch)
    got_matched = got.where(F.col("r_event_id").isNotNull())
    want_matched = want.where(F.col("r_event_id").isNotNull())
    assert got_matched.count() == want_matched.count() > 0
    assert got_matched.exceptAll(want_matched).count() == 0
    got_nulls = got.where(F.col("r_event_id").isNull())
    want_nulls = want.where(F.col("r_event_id").isNull())
    assert got_nulls.exceptAll(want_nulls).count() == 0


def test_interval_join_subsecond_floor_semantics(spark):
    """Microsecond timestamps must compare on floored whole seconds
    (the oracle contract): a view 0.6s after a click but in the same
    floored second still matches with lag 0."""
    from dgraph_dbpedia_spark.streaming.events import interval_join
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, base + 200_000 * us, 7, "click", 0.0, ""),
        (2, base + 800_000 * us, 7, "view", 0.0, ""),   # later in same second
        (3, base - 1_800_000_000 * us + 400_000 * us, 7, "view", 0.0, ""),
        # ts floor = base-1800s exactly -> matches at the lookback edge
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {(r["r_event_id"], r["lag_s"]) for r in
           interval_join(df, df).collect()}
    assert out == {(2, 0), (3, 1800)}


def test_stream_near_dup_batch_state(spark, tmp_path):
    """Cross-batch near-dups are dropped against on-disk state,
    within-batch dups keep the min id, and state grows by survivors
    only."""
    from dgraph_dbpedia_spark.streaming.events import stream_near_dup_batch

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different text about spark query engines"),
        ],
        ["doc_id", "text"],
    )
    s1 = stream_near_dup_batch(b1, state)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 3]
    b2 = spark.createDataFrame(
        [
            # near-dup (hamming 0) of doc 1 from the PREVIOUS batch
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "novel words that appeared in no earlier micro batch"),
        ],
        ["doc_id", "text"],
    )
    s2 = stream_near_dup_batch(b2, state)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]
    reg = spark.read.parquet(state)
    assert sorted(r["doc_id"] for r in reg.collect()) == [1, 3, 11]


def test_stream_near_dup_batch_unreadable_state_raises(spark, tmp_path):
    """Only a MISSING state dir means the first micro-batch: an existing
    state that is not a Parquet table must fail the batch, not be
    treated as empty (near-dups of registered docs would pass)."""
    from dgraph_dbpedia_spark.streaming.events import stream_near_dup_batch

    state = tmp_path / "state"
    state.mkdir()
    (state / "part-00000.parquet").write_bytes(b"not a parquet file")
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    with pytest.raises(Exception, match="(?i)parquet"):
        stream_near_dup_batch(batch, str(state)).collect()
    assert [f.name for f in state.iterdir()] == ["part-00000.parquet"]


def test_stream_near_dup_foreach_batch_end_to_end(spark, tmp_path):
    """Wired into writeStream.foreachBatch over two single-file
    micro-batches: sink receives exactly the survivors the manual
    two-call sequence produces."""
    import os

    from dgraph_dbpedia_spark.streaming.events import stream_near_dup_batch

    src = str(tmp_path / "src")
    state = str(tmp_path / "state2")
    sink = str(tmp_path / "sink")
    rows1 = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    rows2 = [
        (10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        (11, "fresh unseen sentence with wholly new vocabulary"),
    ]
    for i, rows in enumerate([rows1, rows2]):
        path = f"{src}/f{i}"
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(path)
        base = 1_600_000_000
        for f in os.listdir(path):
            os.utime(f"{path}/{f}", (base + i, base + i))
        os.utime(path, (base + i, base + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _bid: stream_near_dup_batch(df, state)
            .write.mode("append")
            .parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(r["doc_id"] for r in spark.read.parquet(sink).collect()) == [1, 11]


def test_stateless_curation_composes_on_streams(spark, tmp_path):
    """The stateless curation projections (Gopher rule gate, domain
    mixture sampling, language id) are DataFrame -> DataFrame and must
    compose unchanged onto a readStream — curation-on-ingest. Stream
    result == batch result over the same files."""
    from dgraph_dbpedia_spark.operators.sampling import mixture_sample
    from dgraph_dbpedia_spark.operators.textstats import (
        gopher_quality_filter,
    )
    from dgraph_dbpedia_spark.streaming.events import run_to_memory

    src = str(tmp_path / "docs")
    batch = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(200)
        .localCheckpoint()
    )
    batch.coalesce(1).write.parquet(src)

    def curate(df):
        # filter first (mixture_sample preserves all columns), then the
        # quality projection — no joins, so the chain is stream-legal
        sampled = mixture_sample(
            df, {"src0": 1.0, "src1": 0.5}, default_weight=0.25
        )
        return (
            gopher_quality_filter(sampled)
            .where("keep")
            .select("doc_id", "n_words", "n_stopwords")
        )

    stream = spark.readStream.schema(batch.schema).parquet(src)
    run_to_memory(curate(stream), "curated_stream", "append")
    got = {tuple(r) for r in spark.table("curated_stream").collect()}
    want = {tuple(r) for r in curate(batch).collect()}
    assert got == want and len(want) > 0


def test_sessionize_stream_late_event_within_watermark(
    spark, tmp_path_factory
):
    """A cross-batch out-of-order event inside the watermark must
    extend the open session BACKWARD/inward — never regress last_s or
    invert end_s < start_s (the late-event fold bug): batch 1 has user
    1 at 12:00:00 and 12:01:00; batch 2 delivers a LATE 12:00:30 plus
    a far-future closer. Expected closed session: 3 events,
    start=12:00:00, end=12:01:00."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("events_late")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def tbl(rows):
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] for r in rows], pa.timestamp("us")
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )

    base = 1_700_000_000
    f1 = os.path.join(str(d), "part-0.parquet")
    pq.write_table(
        tbl(
            [
                (1, t0, 1, "view"),
                (2, t0 + dt.timedelta(seconds=60), 1, "view"),
            ]
        ),
        f1,
    )
    os.utime(f1, (base, base))
    f2 = os.path.join(str(d), "part-1.parquet")
    pq.write_table(
        tbl(
            [
                # LATE: 30s before batch 1's last event, well inside
                # the 1h watermark
                (3, t0 + dt.timedelta(seconds=30), 1, "view"),
                # far-future event advances the watermark and times
                # out user 1's session
                (4, t0 + dt.timedelta(hours=6), 2, "view"),
            ]
        ),
        f2,
    )
    os.utime(f2, (base + 1, base + 1))

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    run_to_memory(sessionize_stream(stream), "late_sessions", "append")
    rows = spark.table("late_sessions").collect()
    assert all(r["end_s"] >= r["start_s"] for r in rows), rows
    u1 = [r for r in rows if r["user_id"] == 1]
    assert len(u1) == 1, rows
    s0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert (u1[0]["n_events"], u1[0]["start_s"], u1[0]["end_s"]) == (
        3,
        s0,
        s0 + 60,
    )


def test_tag_embeddings_stream_matches_batch(spark, tmp_path):
    """Stateless semantic tagging: the identical call on a readStream
    frame (append mode, no watermark, no state) produces exactly the
    batch twin's (id, cid, sim) rows."""
    import pyarrow.parquet as pq_  # noqa: N813

    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_seed_centroids,
    )
    from dgraph_dbpedia_spark.streaming.events import (
        run_to_memory,
        tag_embeddings_stream,
    )

    src = "/root/testdata/sf0.001/embeddings.parquet"
    d = tmp_path / "emb_stream"
    d.mkdir()
    t = pq_.read_table(src)
    n = t.num_rows // 2
    pq_.write_table(t.slice(0, n), str(d / "part-0.parquet"))
    pq_.write_table(t.slice(n), str(d / "part-1.parquet"))

    batch = spark.read.parquet(src)
    e = batch.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = ivf_seed_centroids(e, 8, vec_col="e").localCheckpoint()

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    run_to_memory(
        tag_embeddings_stream(stream, cents), "t_semtag", "append"
    )
    got = spark.table("t_semtag")
    want = tag_embeddings_stream(batch, cents)
    assert got.count() == want.count() == batch.count()
    assert got.exceptAll(want).count() == 0
    assert {r["cid"] for r in got.select("cid").distinct().collect()} <= set(
        range(8)
    ) | {r["cid"] for r in cents.select("cid").collect()}
