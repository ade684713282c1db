"""Temporal join operators: as-of join and bucketed range join.

Spark has no native as-of or interval join (SPARK-22947 stalled); the
naive encodings — a theta-join on ``l.ts >= r.ts`` or a per-row
subquery — are O(n·m) row explosions that die long before 100 TB.
These implement the two scalable shapes:

* :func:`asof_join` — the union + sorted-window fill-forward encoding:
  ONE shuffle on the join keys, state bounded by the window sort, no
  row explosion at any scale.  The same trick streaming systems use for
  temporal table joins (Flink's event-time temporal join produces the
  same semantics with the same per-key ordered state).
* :func:`range_count_join` — the bucketize + neighbor-bucket equi-join
  encoding of ``|l.ts - r.ts| <= radius``: candidate pairs are bounded
  by bucket co-location (3 buckets per probe row), the range predicate
  is applied AFTER the equi-join, so Catalyst runs a hash join, never a
  broadcast-nested-loop.

Timestamps are treated as plain comparable integers — convert
timestamp columns up front (e.g. ``streaming.events.epoch_seconds``,
which handles both the nanos-long and TIMESTAMP_NTZ driver layouts).
Any monotonic orderable type works for :func:`asof_join` when
``tolerance`` is None; the tolerance guard and :func:`range_count_join`
need integer arithmetic (integer ``div`` — double division loses
precision above 2^53, which epoch-nanos exceeds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.cachectl import CacheScope


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts_col: str,
    payload_cols: list[str],
    order_col: str | None = None,
    tolerance: int | None = None,
    prefix: str = "matched_",
) -> DataFrame:
    """For each left row, attach the payload of the LATEST right row
    with the same ``keys`` and ``right.ts <= left.ts`` (inclusive;
    backward as-of). Left rows with no prior right row keep nulls.

    Ties on ``ts`` among right rows break by the largest ``order_col``
    (default: the first payload column) — deterministic, and matching
    ``ORDER BY ts DESC, order DESC LIMIT 1`` in a lateral-subquery
    formulation.

    Implementation: tag sides, ``unionByName``, one window per ``keys``
    ordered by ``(ts, side, order)`` with an ``ignorenulls`` ``last``
    over a STRUCT of the right payload — the struct keeps all payload
    columns from the SAME right row (per-column ``last`` could mix rows
    when a payload value is legitimately null).  Single exchange on
    ``keys``; sort-based window, no join explosion.

    ``tolerance`` (same units as ``ts_col``): matches older than
    ``left.ts - tolerance`` are nulled out — the "don't join across a
    session gap" guard every feature-store as-of join needs.
    """
    order_col = order_col or payload_cols[0]
    match_struct = F.struct(
        F.col(ts_col).alias("__ts"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    # SQL equality semantics: a NULL join key matches nothing, but
    # Window.partitionBy groups nulls TOGETHER — drop null-key right
    # rows so they can't fill forward onto null-key left rows (which
    # still pass through with a null payload, like a left join)
    null_key_free = right
    for k in keys:
        null_key_free = null_key_free.where(F.col(k).isNotNull())
    r = null_key_free.select(
        *[F.col(k) for k in keys],
        F.col(ts_col),
        F.col(order_col).alias("__ord"),
        match_struct.alias("__match"),
        F.lit(0).alias("__side"),
    )
    l = left.withColumn("__side", F.lit(1)).withColumn(
        "__ord", F.lit(None).cast(r.schema["__ord"].dataType)
    )
    u = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc(), F.col("__ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # compute the window BEFORE dropping right rows — filtering first
    # would hide the right side from the window frame
    out = u.withColumn("__m", F.last("__match", ignorenulls=True).over(w))
    matched = F.col("__m")
    if tolerance is not None:
        matched = F.when(
            matched["__ts"] >= F.col(ts_col) - F.lit(tolerance), matched
        )
    out = out.withColumn("__m", matched).where(F.col("__side") == 1)
    return out.select(
        *[c for c in left.columns],
        *[F.col("__m")[c].alias(f"{prefix}{c}") for c in payload_cols],
        (F.col(ts_col) - F.col("__m")["__ts"]).alias(f"{prefix}lag"),
    )


def range_count_join(
    probe: DataFrame,
    events: DataFrame,
    keys: list[str],
    ts_col: str,
    radius: int,
    probe_id: str = "event_id",
    count_col: str = "n_in_range",
) -> DataFrame:
    """Per probe row: how many ``events`` rows share ``keys`` and lie
    within ``|event.ts - probe.ts| <= radius``. Zero-match probes are
    kept (count 0).

    Bucket width = ``radius``: every in-range event is in the probe's
    bucket or an adjacent one, so exploding the probe side to its 3
    candidate buckets + an equi-join on ``(keys, bucket)`` finds every
    pair exactly once (each event has ONE bucket) with no row explosion
    beyond 3x on the small probe side.  The range predicate rides the
    join condition, post-hash-match.

    Bucket ids use integer ``div`` — epoch-nanos exceed 2^53, so a
    double division here would corrupt bucket boundaries.

    ``radius`` must be >= 1: radius=0 would make the bucket expression
    a silent NULL (div by zero) and every count 0; simultaneous-event
    counting is a plain equi-join on ``(keys, ts)``, not a range join.
    """
    if radius < 1:
        raise ValueError(
            "radius must be >= 1 (for exact-ts matches use an equi-join "
            "on (keys, ts))"
        )
    bucket = F.expr(f"{ts_col} div {radius}L")
    p = probe.select(
        F.col(probe_id),
        *[F.col(k) for k in keys],
        F.col(ts_col).alias("__pts"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("__bucket"),
    )
    e = events.select(
        *[F.col(k).alias(f"__e_{k}") for k in keys],
        F.col(ts_col).alias("__ets"),
        bucket.alias("__ebucket"),
    )
    cond = F.col("__bucket") == F.col("__ebucket")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__e_{k}"))
    cond = cond & (
        F.abs(F.col("__ets") - F.col("__pts")) <= F.lit(radius)
    )
    joined = p.join(e, cond, "left")
    return joined.groupBy(probe_id).agg(
        F.count("__ets").alias(count_col)
    )


def resample_events(
    events: DataFrame,
    interval_sec: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    fill: str = "zero",
) -> DataFrame:
    """Per-key fixed-interval resampling WITH gap fill — the hypertable
    rollup shape: bucket every event into ``interval_sec``-wide bins,
    aggregate per ``(key, bucket)``, then EMIT EVERY bucket between each
    key's first and last event so downstream consumers (charting,
    anomaly detection, training on regular series) never interpolate
    over silently-missing rows. Returns ``(user_col, bucket_start,
    n_events, sum_value)`` with ``bucket_start`` in epoch seconds;
    empty buckets get ``n_events = 0`` and a ``sum_value`` of 0.0
    (``fill='zero'``), the previous bucket's value carried forward
    (``fill='forward'``), or NULL (``fill='none'``).

    100 TB shape: ONE data shuffle (the partial-aggregable
    (key, bucket) groupBy); the gap spine is generated per key from its
    (min, max) bucket — sequence + explode, NEVER a driver-side range —
    and its size is bounded by span/interval per key (``interval_sec``
    is the dial; a year at 1h is 8,760 rows/key). The forward fill is a
    running ``last(ignorenulls)`` window per key, ordered by bucket —
    the asof_join fill-forward trick on the key's own timeline. Bucket
    arithmetic is integer ``div`` on epoch seconds (module-header
    precision rule)."""
    from dgraph_dbpedia_spark.streaming.events import epoch_seconds

    if interval_sec < 1:
        raise ValueError(f"interval_sec must be >= 1, got {interval_sec}")
    fills = ("zero", "forward", "none")
    if fill not in fills:
        raise ValueError(f"fill must be one of {fills}, got {fill!r}")
    agg = (
        events.select(
            F.col(user_col),
            epoch_seconds(events, ts_col).alias("__es"),
            F.col(value_col).alias("__v"),
        )
        .select(
            F.col(user_col),
            F.expr(f"__es div {interval_sec}").alias("__b"),
            F.col("__v"),
        )
        .groupBy(user_col, "__b")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("__v"), 4).alias("__s"),
        )
    )
    spine = (
        agg.groupBy(user_col)
        .agg(F.min("__b").alias("__mn"), F.max("__b").alias("__mx"))
        .select(
            F.col(user_col),
            F.explode(F.sequence(F.col("__mn"), F.col("__mx"))).alias("__b"),
        )
    )
    out = spine.join(agg, [user_col, "__b"], "left")
    filled = F.coalesce(F.col("__s"), F.lit(0.0))
    if fill == "forward":
        w = (
            Window.partitionBy(user_col)
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = F.coalesce(F.last("__s", ignorenulls=True).over(w), F.lit(0.0))
    elif fill == "none":
        filled = F.col("__s")
    return out.select(
        F.col(user_col),
        (F.col("__b") * interval_sec).alias("bucket_start"),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        filled.alias("sum_value"),
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: how many users performed step 1, then
    step 2 STRICTLY AFTER their first step 1, then step 3 strictly
    after that, ... Returns one row per step: ``(step, step_name,
    n_users)`` — the classic product-analytics conversion funnel,
    computed with sequential conditional minima (step i's anchor is the
    EARLIEST qualifying occurrence after the step i-1 anchor; ties
    inside one epoch second break by event type, the deterministic
    order both engines share).

    100 TB shape: k = len(steps) rounds, each a partial-aggregable
    filtered groupBy on the user key plus one equi-join against the
    previous (per-user, ≤1 row) anchor frame — NO per-user event
    arrays are ever collected (the collect_list fold encoding dies on
    power users; this one's state per round is one anchor row per
    user). Each anchor frame except the LAST feeds the next
    round AND its own count, so the first k-1 are persisted (the last
    has one consumer) — release via cachectl after materializing.
    The step counts union k single-row aggregates (tiny)."""
    from dgraph_dbpedia_spark.streaming.events import epoch_seconds

    if not steps:
        raise ValueError("steps must be non-empty")
    e = events.select(
        F.col(user_col),
        F.col(type_col).alias("__t"),
        F.struct(
            epoch_seconds(events, ts_col).alias("es"),
            F.col(type_col).alias("t"),
        ).alias("__k"),
    )
    with CacheScope() as scope:
        handles = []
        prev = None
        step_rows = []
        for i, s in enumerate(steps, start=1):
            f = e.where(F.col("__t") == s)
            if prev is not None:
                f = f.join(prev, user_col).where(F.col("__k") > F.col("__pk"))
            anchor = f.groupBy(user_col).agg(F.min("__k").alias("__pk"))
            if i < len(steps):
                # the last step's anchor feeds ONLY its own count — the
                # conditional-persist rule (persist = >1 consumer)
                handles.append(scope.persist(anchor))
            step_rows.append(
                anchor.agg(
                    F.lit(i).alias("step"),
                    F.lit(s).alias("step_name"),
                    F.count(F.lit(1)).alias("n_users"),
                )
            )
            prev = anchor
        out = step_rows[0]
        for r in step_rows[1:]:
            out = out.unionByName(r)
        return scope.hand(out, *handles)


def retention_cohorts(
    events: DataFrame,
    interval_sec: int = 604800,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention analysis: users are grouped by the bucket of
    their FIRST activity (the cohort), and for each ``(cohort,
    offset)`` the fraction of that cohort active ``offset`` buckets
    later is reported — the standard product-analytics retention
    matrix (weekly by default). Returns ``(cohort_start, offset,
    n_users, retention)`` with ``cohort_start`` in epoch seconds and
    ``retention = n_users / cohort_size`` rounded to 4; offset 0 is
    always retention 1.0 (a user is active in their own first bucket
    by definition — a cheap full-pipeline sanity row).

    100 TB shape: all stages are partial-aggregable or key-bounded —
    first-activity is a groupBy(user) min; the activity set is a
    distinct over (user, bucket) (bounded by events, deduped
    map-side); the cohort join is user-key equi; the matrix groupBy
    counts rows of an already-distinct frame (so count(*) IS
    count-distinct-users, no expensive distinct aggregate); cohort
    sizes re-join on the cohort key (matrix-sized, tiny). Bucket math
    is integer ``div`` (module-header precision rule)."""
    from dgraph_dbpedia_spark.streaming.events import epoch_seconds

    if interval_sec < 1:
        raise ValueError(f"interval_sec must be >= 1, got {interval_sec}")
    acts = (
        events.select(
            F.col(user_col),
            epoch_seconds(events, ts_col).alias("__es"),
        )
        .select(
            F.col(user_col), F.expr(f"__es div {interval_sec}").alias("__b")
        )
        .distinct()
    )
    first = acts.groupBy(user_col).agg(F.min("__b").alias("__c"))
    matrix = (
        acts.join(first, user_col)
        .groupBy(
            F.col("__c"), (F.col("__b") - F.col("__c")).alias("offset")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    sizes = matrix.where(F.col("offset") == 0).select(
        F.col("__c"), F.col("n_users").alias("__size")
    )
    return (
        matrix.join(sizes, "__c")
        .select(
            (F.col("__c") * interval_sec).alias("cohort_start"),
            F.col("offset"),
            F.col("n_users"),
            F.round(F.col("n_users") / F.col("__size"), 4).alias("retention"),
        )
    )
