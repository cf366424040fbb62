"""Temporal join operators over the ``events`` stream (extensions).

Two operators the reference's relational surface cannot express but a
time-series / feature-engineering pipeline needs constantly:

* as-of join  — each purchase is enriched with the latest signup of the
  same user at-or-before its timestamp. Spark has no ASOF JOIN
  operator; a naive theta-join (``r.ts <= p.ts``) plans as a
  BroadcastNestedLoopJoin and is O(n*m). The scalable formulation is
  the union-merge: tag both streams, hash-shuffle ONCE on the join key,
  sort within partition by time, and carry reference attributes forward
  with ``last(..., ignorenulls=True)`` over an ordered running frame —
  the same single-shuffle sort-merge shape kdb/Flink use, and exactly
  what a 1000-executor cluster wants (no replication, no quadratic
  work, skew bounded by the hottest user).

* range join — count purchases inside a 10-minute window after each
  error event of the same user. The naive plan is again a nested-loop
  on the interval predicate; the scale pattern is BINNING: quantize
  time into buckets as wide as the interval, expand each interval to
  the (at most 2) buckets it overlaps, equi-join on (user, bucket) —
  a plain shuffled hash join — then refine with the exact predicate
  and aggregate. Work is O(hits), not O(n*m).

Both oracles are genuinely independent computations: DuckDB's native
``ASOF LEFT JOIN`` for the first, a plain inequality join for the
second — so the cross-engine check validates semantics, not a shared
formula.

Determinism: reference rows are deduplicated to one per (user_id, ts)
(max event_id) so the "latest at-or-before" row is unique; timestamps
are compared and emitted as epoch microseconds (see
relational.events_ts_to_micros).
"""

import re

import pyspark.sql.functions as F
from pyspark.sql import Window

from spark_data_test_spark.operators.relational import cents, query, t
from spark_data_test_spark.utils.spark_utils import local_df

_RANGE_US = 600_000_000  # 10-minute window, in microseconds


def asof_join(points, ref, keys, ts):
    """Generic backward as-of join (library operator).

    Enriches every ``points`` row with the columns of the latest ``ref``
    row of the same key whose ``ts`` is at-or-before the point's ``ts``
    (NULLs when no such row — left semantics). ``ref`` must be unique
    per (keys, ts); callers with duplicates pick a winner first (see
    events_asof_join).

    Shape: union-merge — tag both inputs, ONE hash shuffle on the keys,
    sort by (ts, tag) within partition, carry reference attributes
    forward with last-ignorenulls over a running row frame. Never a
    nested-loop theta join. All of a key's rows land in one partition —
    inherent to the single-window formulation; for a pathologically hot
    key use `asof_join_split`, which windows per (key, time-chunk) with
    boundary carry-over and produces identical output.
    """
    keys = list(keys)
    excluded = set(keys) | {ts}
    ref_vals = [c for c in ref.columns if c not in excluded]
    pt_vals = [c for c in points.columns if c not in excluded]
    overlap = set(ref_vals) & set(pt_vals)
    if overlap:
        raise ValueError(f"rename overlapping non-key columns: {sorted(overlap)}")
    ref_struct_type = (
        ref.select(
            F.struct(
                *[F.col(c) for c in ref_vals], F.col(ts).alias("_asof_ts")
            ).alias("_ref")
        )
        .schema["_ref"]
        .dataType
    )
    pt_types = {f.name: f.dataType for f in points.schema.fields}

    # The whole reference row rides in ONE struct, so a matched ref row
    # with NULL attributes stays intact — per-column last(ignorenulls)
    # would stitch together fields from DIFFERENT ref rows whenever the
    # latest row has a NULL a previous row doesn't.
    merged = ref.select(
        *keys,
        ts,
        F.lit(0).alias("_is_point"),
        F.struct(*[F.col(c) for c in ref_vals], F.col(ts).alias("_asof_ts")).alias(
            "_ref"
        ),
        *[F.lit(None).cast(pt_types[c]).alias(c) for c in pt_vals],
    ).unionByName(
        points.select(
            *keys,
            ts,
            F.lit(1).alias("_is_point"),
            F.lit(None).cast(ref_struct_type).alias("_ref"),
            *[F.col(c) for c in pt_vals],
        )
    )
    # ref rows sort before point rows at equal ts (_is_point ascending),
    # so an exactly-simultaneous ref row is visible: inclusive <=
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts, "_is_point")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "_is_point",
        *keys,
        ts,
        *pt_vals,
        F.last("_ref", ignorenulls=True).over(w).alias("_ref"),
    )
    return (
        carried.where(F.col("_is_point") == 1)
        .select(
            *keys,
            ts,
            *pt_vals,
            *[F.col(f"_ref.{c}").alias(c) for c in ref_vals],
            F.col("_ref._asof_ts").alias("_asof_ts"),
        )
    )


def _floor_div_expr(sql_expr, width):
    """Exact integer floor division of a SQL expression. ``div`` alone
    truncates toward zero (so negative values misbucket); subtracting
    ``pmod`` first makes the numerator an exact multiple of ``width``,
    keeping the arithmetic integer end-to-end — no doubles."""
    return F.expr(
        f"(({sql_expr}) - pmod({sql_expr}, {width})) div {width}"
    )


def asof_join_split(points, ref, keys, ts, chunk_width):
    """Hot-key-safe backward as-of join: identical semantics and output
    to `asof_join`, but no key ever serializes all its rows through one
    window partition.

    Shape: both sides bucket into ``chunk_width``-sized time chunks
    (exact integer floor division on epoch micros) and the union-merge
    window runs per (key, chunk) — a hot key's work parallelizes across
    its chunks. Correctness across chunk boundaries is restored by a
    carry-over pass on per-(key, chunk) SUMMARIES: the latest reference
    row of each chunk (one struct per key x chunk, data-independent of
    row counts) is carried forward with a tiny per-key window over
    chunk ids, and injected into each point-bearing chunk as a
    pseudo-reference sorting before all real rows. The big windows
    touch O(rows) split across key x chunk partitions; the only per-key
    serial pass touches O(time-range / chunk_width) summary rows.
    Pick ``chunk_width`` (in the ts column's integer units; epoch
    micros for timestamps) so a hot key's per-chunk row count fits an
    executor — e.g. one hour for a key logging millions of events/day.
    """
    from pyspark.sql.types import TimestampType

    keys = list(keys)
    excluded = set(keys) | {ts}
    ref_vals = [c for c in ref.columns if c not in excluded]
    pt_vals = [c for c in points.columns if c not in excluded]
    overlap = set(ref_vals) & set(pt_vals)
    if overlap:
        raise ValueError(f"rename overlapping non-key columns: {sorted(overlap)}")
    ts_is_timestamp = isinstance(points.schema[ts].dataType, TimestampType)

    def tsn(col_name):
        col_obj = F.col(col_name)
        return F.unix_micros(col_obj) if ts_is_timestamp else col_obj.cast("long")

    ref_struct = F.struct(
        *[F.col(c) for c in ref_vals], F.col(ts).alias("_asof_ts")
    )
    ref_struct_type = ref.select(ref_struct.alias("_ref")).schema["_ref"].dataType
    pt_types = {f.name: f.dataType for f in points.schema.fields}

    refm = ref.select(*keys, ref_struct.alias("_ref"), tsn(ts).alias("_tsn"))
    refm = refm.withColumn("_chunk", _floor_div_expr("_tsn", chunk_width))
    ptm = points.select(*keys, ts, *pt_vals, tsn(ts).alias("_tsn"))
    ptm = ptm.withColumn("_chunk", _floor_div_expr("_tsn", chunk_width))

    # per-(key, chunk) summary: the chunk's latest ref row (ref is
    # unique per (keys, ts), so max _tsn is unambiguous)
    w_sum = Window.partitionBy(*keys, "_chunk").orderBy(F.col("_tsn").desc())
    summaries = (
        refm.withColumn("_rn", F.row_number().over(w_sum))
        .where(F.col("_rn") == 1)
        .select(*keys, "_chunk", "_ref")
    )
    point_chunks = ptm.select(*keys, "_chunk").distinct()

    # carry-over: for each point-bearing chunk, the latest summary from
    # any STRICTLY EARLIER chunk (summaries of the same chunk are
    # visible in-partition below and must not leak to earlier points).
    # Serial work per key = one row per populated chunk, not per event.
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy("_chunk", "_is_sum")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = (
        summaries.select(*keys, "_chunk", F.lit(1).alias("_is_sum"), "_ref")
        .unionByName(
            point_chunks.select(
                *keys,
                "_chunk",
                F.lit(0).alias("_is_sum"),
                F.lit(None).cast(ref_struct_type).alias("_ref"),
            )
        )
        .withColumn("_carry", F.last("_ref", ignorenulls=True).over(w_carry))
        .where((F.col("_is_sum") == 0) & F.col("_carry").isNotNull())
        .select(*keys, "_chunk", F.col("_carry").alias("_ref"))
    )

    null_pts = [F.lit(None).cast(pt_types[c]).alias(c) for c in pt_vals]
    null_ts = F.lit(None).cast(pt_types[ts]).alias(ts)
    merged = (
        # carry pseudo-refs sort before every real row of their chunk:
        # chunk_start <= all in-chunk _tsn (floor-div guarantee), and
        # _is_point -1 breaks the tie against a real ref at chunk start
        carry.select(
            *keys,
            "_chunk",
            (F.col("_chunk") * chunk_width).alias("_tsn"),
            F.lit(-1).alias("_is_point"),
            "_ref",
            null_ts,
            *null_pts,
        )
        .unionByName(
            refm.select(
                *keys,
                "_chunk",
                "_tsn",
                F.lit(0).alias("_is_point"),
                "_ref",
                null_ts,
                *null_pts,
            )
        )
        .unionByName(
            ptm.select(
                *keys,
                "_chunk",
                "_tsn",
                F.lit(1).alias("_is_point"),
                F.lit(None).cast(ref_struct_type).alias("_ref"),
                ts,
                *pt_vals,
            )
        )
    )
    w = (
        Window.partitionBy(*keys, "_chunk")
        .orderBy("_tsn", "_is_point")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "_is_point",
        *keys,
        ts,
        *pt_vals,
        F.last("_ref", ignorenulls=True).over(w).alias("_ref"),
    )
    return carried.where(F.col("_is_point") == 1).select(
        *keys,
        ts,
        *pt_vals,
        *[F.col(f"_ref.{c}").alias(c) for c in ref_vals],
        F.col("_ref._asof_ts").alias("_asof_ts"),
    )


def range_join_binned(intervals, points, keys, start, end, ts, bucket_width):
    """Generic interval-point range join (library operator).

    Returns interval rows paired with every ``points`` row of the same
    key whose ``ts`` falls in [start, end) — as a plain hash equi-join,
    never a nested loop: intervals expand to the time buckets they
    overlap, points carry their own bucket, the join runs on
    (keys, bucket) and the exact predicate refines post-join.

    Hits are exact for any ``bucket_width`` (a point has exactly one
    bucket, and an interval's expansion contains it at most once — no
    dedup pass ever); width only sets cost. Pick it at-or-above the
    typical interval length so intervals expand to <=2 buckets. All
    time columns are integer units (e.g. epoch micros).
    """
    keys = list(keys)
    # exact integer floor-div bucketing on both sides: identical
    # monotone mapping by construction, correct for negative times too
    first_bucket = _floor_div_expr(f"`{start}`", bucket_width)
    # clamp: an empty/inverted interval (end <= start) must not hand
    # sequence() a descending range — that would EXPLODE one row per
    # bucket between end and start (unbounded for bad data); the single
    # clamped row is discarded by the exact refine below
    last_bucket = F.greatest(
        first_bucket, _floor_div_expr(f"`{end}` - 1", bucket_width)
    )
    expanded = intervals.withColumn(
        "_bucket", F.explode(F.sequence(first_bucket, last_bucket))
    )
    pts = points.withColumn("_bucket", _floor_div_expr(f"`{ts}`", bucket_width))
    return (
        expanded.join(pts, [*keys, "_bucket"])
        .where((F.col(ts) >= F.col(start)) & (F.col(ts) < F.col(end)))
        .drop("_bucket")
    )


@query(
    "events_asof_join",
    """
    WITH ref AS (
      SELECT user_id, ts, event_id AS signup_event_id
      FROM events WHERE event_type = 'signup'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) = 1),
    pts AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, r.signup_event_id,
           epoch_us(p.ts) - epoch_us(r.ts) AS since_signup_us
    FROM pts p ASOF LEFT JOIN ref r
      ON p.user_id = r.user_id AND p.ts >= r.ts
    """,
)
def events_asof_join(spark, sf_dir):
    """As-of join via union-merge: one shuffle on user_id, one sort.

    The merged stream orders reference rows before point rows at equal
    timestamps (``is_point`` ascending), so an exactly-simultaneous
    signup is visible to the purchase — matching ASOF's inclusive
    ``>=``. Purchases before any signup keep NULL enrichment (left
    semantics).
    """
    ev = t(spark, sf_dir, "events")
    ref = (
        ev.where(F.col("event_type") == "signup")
        .select("user_id", "ts", F.col("event_id").alias("signup_event_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "ts").orderBy(
                    F.col("signup_event_id").desc()
                )
            ),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    pts = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    enriched = asof_join(pts, ref, keys=["user_id"], ts="ts")
    return enriched.select(
        "event_id",
        "user_id",
        "signup_event_id",
        (F.unix_micros("ts") - F.unix_micros("_asof_ts")).alias(
            "since_signup_us"
        ),
    )


@query(
    "events_range_join",
    f"""
    WITH err AS (
      SELECT event_id AS err_id, user_id, epoch_us(ts) AS us0
      FROM events WHERE event_type = 'error'),
    pur AS (
      SELECT user_id, epoch_us(ts) AS pus,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase')
    SELECT e.err_id,
           COUNT(p.pus) AS n_purchases,
           CAST(SUM(p.c) AS BIGINT) AS purchase_cents
    FROM err e LEFT JOIN pur p
      ON p.user_id = e.user_id
     AND p.pus >= e.us0 AND p.pus < e.us0 + {_RANGE_US}
    GROUP BY e.err_id
    """,
)
def events_range_join(spark, sf_dir):
    """Binned range join: purchases within 10 minutes after each error.

    Intervals expand to the <=2 time buckets they overlap; the join is
    a hash equi-join on (user_id, bucket); the exact interval predicate
    refines post-join. A purchase can land in two expanded buckets of
    the SAME interval only if buckets were narrower than the interval —
    bucket width == interval width makes (err, purchase) hits unique,
    so no dedup pass is needed before aggregation.
    """
    ev = t(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.unix_micros("ts").alias("us0"),
        (F.unix_micros("ts") + _RANGE_US).alias("us1"),
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("pus"),
        cents(F.col("value")).alias("c"),
    )
    hits = range_join_binned(
        err, pur, keys=["user_id"], start="us0", end="us1", ts="pus",
        bucket_width=_RANGE_US,
    )
    # re-anchor on err so zero-hit errors keep a row (count 0, NULL sum
    # — matching the oracle's LEFT JOIN aggregate semantics)
    agg = hits.groupBy("err_id").agg(
        F.count("pus").alias("n_purchases"),
        F.sum("c").alias("purchase_cents"),
    )
    return (
        err.select("err_id")
        .join(agg, "err_id", "left")
        .select(
            "err_id",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            "purchase_cents",
        )
    )


_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000


def _epoch_day(ts_col):
    """``day``: the UTC epoch day of a timestamp column (integer
    ``div`` on epoch micros, the oracles' ``epoch_us(ts) // _DAY_US``)."""
    return F.expr(f"unix_micros({ts_col}) div {_DAY_US}").alias("day")


@query(
    "events_hypertable_rollup",
    f"""
    WITH base AS (
      SELECT epoch_us(ts) // {_DAY_US} AS day,
             epoch_us(ts) // {_HOUR_US} AS hour,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events)
    SELECT day, hour, COUNT(*) AS n_events,
           CAST(SUM(c) AS BIGINT) AS value_cents
    FROM base
    GROUP BY ROLLUP (day, hour)
    """,
)
def events_hypertable_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: hourly, daily, and grand
    totals from ONE pass over the event stream (time-hierarchy ROLLUP —
    hour ids nest inside day ids, so the hierarchy is genuine).

    At scale this is the materialization pattern for multi-resolution
    dashboards: Spark's partial aggregation combines map-side per
    (day, hour) before the single shuffle, and coarser levels reduce
    from the finer — no per-resolution re-scan of raw events. Runs
    `hypertable_rollup`.
    """
    ev = t(spark, sf_dir, "events").select("ts", cents(F.col("value")).alias("c"))
    return hypertable_rollup(
        ev,
        "ts",
        [F.count(F.lit(1)).alias("n_events"), F.sum("c").alias("value_cents")],
        {"day": _DAY_US // 1_000_000, "hour": _HOUR_US // 1_000_000},
    )


@query(
    "events_funnel_analysis",
    """
    WITH per_event AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    s1 AS (
      SELECT user_id, us, event_type,
             MIN(CASE WHEN event_type = 'signup' THEN us END)
               OVER (PARTITION BY user_id) AS t_signup
      FROM per_event),
    s2 AS (
      SELECT user_id, us, event_type, t_signup,
             MIN(CASE WHEN event_type = 'click' AND us >= t_signup THEN us END)
               OVER (PARTITION BY user_id) AS t_click
      FROM s1),
    s3 AS (
      SELECT user_id, t_signup, t_click,
             MIN(CASE WHEN event_type = 'purchase' AND us >= t_click THEN us END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM s2),
    per_user AS (
      SELECT user_id, MAX(t_signup) AS t_signup, MAX(t_click) AS t_click,
             MAX(t_purchase) AS t_purchase
      FROM s3 GROUP BY user_id)
    SELECT COUNT(t_signup) AS n_signup,
           COUNT(t_click) AS n_click,
           COUNT(t_purchase) AS n_purchase
    FROM per_user
    """,
)
def events_funnel_analysis(spark, sf_dir):
    """Ordered conversion funnel (signup -> click -> purchase) in ONE
    shuffle: three chained conditional-min windows over the same user
    partition resolve each stage's earliest qualifying timestamp (stage
    N+1 only counts events at-or-after stage N's time), then a per-user
    reduce and a global count. No per-stage self-joins — the naive
    formulation shuffles the events table once per funnel step; this
    shape scales with funnel depth for free since every window shares
    one partitioning. Runs the `_funnel_times` stage `funnel` runs."""
    steps = ("signup", "click", "purchase")
    per_user = _funnel_times(t(spark, sf_dir, "events"), steps)
    return per_user.agg(
        *[F.count(f"_t{i}").alias(f"n_{s}") for i, s in enumerate(steps)]
    )


_SESSION_GAP_US = 1_800_000_000  # 30 minutes


@query(
    "events_session_window_native",
    f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events),
    flagged AS (
      SELECT user_id, event_id, us, c,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w >= {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    sess AS (
      SELECT user_id, us, c,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged)
    SELECT user_id,
           MIN(us) AS session_start_us,
           MAX(us) + {_SESSION_GAP_US} AS session_end_us,
           COUNT(*) AS n_events,
           CAST(SUM(c) AS BIGINT) AS value_cents
    FROM sess GROUP BY user_id, sid
    """,
)
def events_session_window_native(spark, sf_dir):
    """Sessionization via Spark's BUILT-IN ``session_window`` grouping
    (one aggregation operator — the engine merges overlapping per-event
    windows internally) instead of the manual gap-flag + cumsum
    formulation; the oracle replays the manual formulation, so the two
    are proven equivalent. Window end = last event + gap, per
    session_window semantics."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
            "value_cents",
        )
    )


@query(
    "events_retention_cohorts",
    f"""
    WITH act AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events),
    firsts AS (SELECT user_id, MIN(day) AS d0 FROM act GROUP BY user_id),
    weeks AS (
      SELECT a.user_id, f.d0 // 7 AS cohort_week,
             (a.day - f.d0) // 7 AS week_offset
      FROM act a JOIN firsts f ON f.user_id = a.user_id)
    SELECT cohort_week, week_offset,
           COUNT(DISTINCT user_id) AS n_users
    FROM weeks GROUP BY cohort_week, week_offset
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    counted in each subsequent week they return — the standard
    product-analytics retention triangle, on integer epoch-day
    arithmetic (exact in both engines).

    Shape at 100 TB: activity dedups to (user, day) with map-side
    partial aggregation, first-day is one groupBy on user_id, and the
    join back is user-keyed — the cohort matrix itself is tiny
    (weeks x offsets), so the final aggregate collapses fast. No
    per-cohort re-scan of raw events. Runs `retention_cohorts`."""
    ev = t(spark, sf_dir, "events").select("user_id", _epoch_day("ts"))
    return retention_cohorts(ev, "user_id", "day").select(
        F.col("cohort").alias("cohort_week"),
        F.col("period_offset").alias("week_offset"),
        "n_users",
    )


@query(
    "events_scd2_history",
    """
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS tsn, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      FROM events),
    chg AS (
      SELECT user_id, event_type, tsn, event_id FROM seq
      WHERE prev IS DISTINCT FROM event_type)
    SELECT user_id, event_type,
           tsn AS valid_from_us,
           LEAD(tsn) OVER (
             PARTITION BY user_id ORDER BY tsn, event_id) AS valid_to_us,
           ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY tsn, event_id) AS version
    FROM chg
    """,
)
def events_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension (type 2) history build: collapse each
    user's event stream into attribute VERSIONS — one row per change of
    ``event_type``, with [valid_from, valid_to) validity (open-ended
    for the current version) and a per-user version number. The
    warehouse pattern for turning a CDC/event feed into a queryable
    dimension history (``FROM dim WHERE ts >= valid_from AND ts <
    valid_to``).

    Shape at 100 TB: both windows partition on user_id, so the whole
    build is ONE hash shuffle + per-user sort; the change filter between
    them is partition-local (Spark reuses the sort order — no second
    exchange). Change detection is null-safe in both engines (eqNullSafe
    / IS DISTINCT FROM), so a non-null first event opens version 1 and
    NULL transitions like any other value. Ties on ts break by
    event_id in every window, making versions and validity bounds
    bit-deterministic."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tsn"),
        "event_id",
    )
    return scd2_build(
        ev, key="user_id", attr="event_type", ts="tsn", tie="event_id"
    ).select(
        "user_id",
        "event_type",
        F.col("tsn").alias("valid_from_us"),
        "valid_to_us",
        "version",
    )


def scd2_build(df, key, attr, ts, tie):
    """Library operator: SCD type-2 versions of ``attr`` per ``key``.

    Emits one row per null-safe change of ``attr`` in (ts, tie) order,
    with ``valid_to_us`` = the next change's ``ts`` (NULL for the open
    current version) and ``version`` = 1..k per key. One window spec
    serves change detection AND versioning (same partition + order, so
    no second exchange — a single key-hashed shuffle total). Change
    detection is null-safe (eqNullSafe; IS DISTINCT FROM in oracles),
    so a NULL attribute value transitions like any other value —
    except a leading NULL run, which is indistinguishable from "no
    previous row" under null-safe equality and opens no version.
    ``tie`` must be unique within (key, ts) for bit-determinism.
    """
    w = Window.partitionBy(key).orderBy(ts, tie)
    chg = df.withColumn("_prev", F.lag(attr).over(w)).where(
        ~F.col("_prev").eqNullSafe(F.col(attr))
    )
    return chg.select(
        *df.columns,
        F.lead(ts).over(w).alias("valid_to_us"),
        F.row_number().over(w).alias("version"),
    )


@query(
    "events_attribution_last_touch",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS channel
      FROM events)
    SELECT COALESCE(channel, '(none)') AS channel,
           COUNT(*) AS n_conversions,
           CAST(SUM(value_cents) AS BIGINT) AS value_cents
    FROM seq WHERE event_type = 'purchase'
    GROUP BY COALESCE(channel, '(none)')
    """,
)
def events_attribution_last_touch(spark, sf_dir):
    """Last-touch conversion attribution: each purchase is credited to
    the user's most recent non-purchase event type at-or-before it
    (purchases with no preceding touch land in '(none)'), then the
    attribution report aggregates conversions and value per channel.

    The carry-forward is ``last(channel, ignorenulls=True)`` over a
    running per-user frame — the same single-shuffle union-merge shape
    as the as-of join above (attribution IS an as-of join of purchases
    against touches, fused into one stream instead of two). One hash
    shuffle on user_id, partial aggregation on the tiny channel
    dimension after; value sums ride integer cents. Runs
    `last_touch_attribution`."""
    ev = t(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, "user_id", "ts", "event_type", "event_id", "purchase",
        value_col=cents(F.col("value")),
    ).withColumnRenamed("value", "value_cents")


@query(
    "events_gap_fill",
    f"""
    WITH act AS (
      SELECT user_id, epoch_us(ts) // {_DAY_US} AS day, COUNT(*) AS n
      FROM events GROUP BY user_id, epoch_us(ts) // {_DAY_US}),
    span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      FROM act GROUP BY user_id),
    days AS (
      SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span)
    SELECT d.user_id, d.day,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
           CAST(CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gap_filled
    FROM days d LEFT JOIN act a ON a.user_id = d.user_id AND a.day = d.day
    """,
)
def events_gap_fill(spark, sf_dir):
    """Time-series gap filling: densify each user's activity to one row
    per day between their first and last active day, zero-filling the
    silent days (the TimescaleDB ``time_bucket_gapfill`` shape).

    Shape at 100 TB: the generated day spine explodes BOUNDED per-user
    ranges (span, not corpus, drives the blowup), and the fill join is
    a (user, day) equi-join between two frames already aggregated from
    one scan — partial aggregation map-side, one shuffle each, never a
    calendar cross join. Runs `gap_fill`."""
    ev = t(spark, sf_dir, "events")
    act = ev.groupBy("user_id", _epoch_day("ts")).agg(F.count(F.lit(1)).alias("n"))
    return gap_fill(act, ["user_id"], "day", ["n"]).select(
        "user_id", "day", F.col("n").cast("long").alias("n_events"), "gap_filled"
    )


@query(
    "events_anomaly_daily",
    f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY event_type, epoch_us(ts) // {_DAY_US}),
    stats AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(n_events) AS BIGINT) AS s,
             CAST(SUM(n_events * n_events) AS BIGINT) AS ss
      FROM daily GROUP BY event_type)
    SELECT d.event_type, d.day, d.n_events,
           CAST(CASE WHEN
               CAST(st.n * d.n_events - st.s AS DOUBLE)
                 * CAST(st.n * d.n_events - st.s AS DOUBLE)
               > 9.0 * CAST(st.n * st.ss - st.s * st.s AS DOUBLE)
             THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM daily d JOIN stats st ON st.event_type = d.event_type
    """,
)
def events_anomaly_daily(spark, sf_dir):
    """Daily-volume anomaly detection: a day is anomalous for an event
    type when its count sits more than 3 population standard deviations
    from that type's mean — the monitoring primitive a pipeline runs
    over ingest volumes to catch upstream breakage.

    The z-test never materializes mean or sigma: |x - S/n| > 3*sigma is
    cross-multiplied into (n*x - S)^2 > 9*(n*SS - S^2), where n/S/SS
    are exact integer day-count/sum/sum-of-squares per type. The final
    squares are compared as doubles purely for headroom (the operands
    are integers; the comparison is the identical IEEE op tree in both
    engines, hence bit-deterministic — exact while |n*x - S| < 2^26.5,
    far above any real daily skew; go decimal(38) past that).

    Shape at 100 TB: two map-side-combinable aggregates (events ->
    (type, day), then (type)) and a broadcast-size stats join back —
    the daily frame is bounded by types x days, never by event
    volume. Runs `anomaly_zscore`."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", _epoch_day("ts")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return anomaly_zscore(daily, "event_type", "day", "n_events", 3)


_ROLL_US = 3_600_000_000  # trailing 1-hour frame, in microseconds


@query(
    "events_rolling_window_avg",
    f"""
    WITH ev AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events)
    SELECT event_id, user_id, ts_us,
           CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
           CAST(SUM(c) OVER w AS BIGINT) AS roll_cents,
           CAST(SUM(c) OVER w AS DOUBLE)
             / CAST(100 * COUNT(*) OVER w AS DOUBLE) AS roll_avg
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN {_ROLL_US} PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_window_avg(spark, sf_dir):
    """Per-event trailing time window: for every event, the count, sum,
    and mean of ``value`` over the same user's events in the preceding
    hour (inclusive) — the feature-engineering primitive behind rate
    limits, rolling spend, and velocity features. Unlike
    ``events_sliding_window`` (grouped, fixed window grid) this is a
    per-ROW frame, and unlike ``window_running_sum`` (ROWS frame) the
    frame is bounded by TIME: a RANGE frame over the numeric epoch key,
    which neither a groupBy nor a self-join expresses without O(n*m)
    expansion.

    Determinism: RANGE frames include all order-key peers in both
    engines; the frame aggregate is an integer-cents sum, so in-frame
    order is irrelevant; the mean is ONE IEEE division of identical
    exact integers.

    Shape at 100 TB: one hash shuffle on user_id, in-partition sort by
    time, then a streaming two-pointer frame scan — Spark's window
    operator keeps only the active frame in memory, so cost is
    O(n log n) in partition size and state is bounded by the densest
    single hour of one user. Skew bound = hottest user, same contract
    as asof_join (use the time-chunk split variant's technique if a
    single user dominates)."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        cents(F.col("value")).alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_ROLL_US, Window.currentRow)
    )
    roll_n = F.count(F.lit(1)).over(w)
    roll_cents = F.sum("c").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        roll_n.alias("roll_n"),
        roll_cents.alias("roll_cents"),
        (
            roll_cents.cast("double") / (100 * roll_n).cast("double")
        ).alias("roll_avg"),
    )


@query(
    "events_cumulative_distinct_users",
    f"""
    WITH first_seen AS (
      SELECT user_id, MIN(epoch_us(ts) // {_DAY_US}) AS day
      FROM events GROUP BY user_id),
    daily_new AS (
      SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY day)
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_users
    FROM daily_new
    """,
)
def events_cumulative_distinct_users(spark, sf_dir):
    """Cumulative distinct users per day — the growth curve every
    product dashboard wants, and a window COUNT(DISTINCT) Spark (and
    SQL generally) cannot express directly. The scalable rewrite is the
    FIRST-TOUCH trick: a user contributes to the cumulative count
    exactly once, on their first-seen day, so distinct-over-prefix
    collapses to min-day per user -> new-users per day -> running sum.
    Two map-side-combinable aggregates and ONE window over the tiny
    day-level frame — event volume never reaches the window, and the
    only per-user shuffle is the first aggregate. The naive
    formulation (per-day distinct over an expanding self-join) is
    O(days * events); this is O(events + days). Runs
    `cumulative_distinct`."""
    ev = t(spark, sf_dir, "events").select("user_id", _epoch_day("ts"))
    return cumulative_distinct(ev, "user_id", "day").select(
        "day",
        F.col("new_entities").alias("new_users"),
        F.col("cumulative_entities").alias("cumulative_users"),
    )


@query(
    "events_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
    FROM trans
    """,
)
def events_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    sequence: counts and conditional probabilities of event_type B
    following A — the sequence-mining primitive behind next-action
    prediction, anomalous-flow detection, and session modeling (the
    funnel query is the fixed-path special case; this is the full
    matrix). Ties on ts break by event_id, the module-wide sequence
    contract.

    Shape at 100 TB: ONE shuffle on user_id for the lag window (state
    = one previous row per partition stream), then a
    map-side-combinable count into a (types x types)-bounded frame;
    row totals come from a SUM window over that tiny frame rather than
    a self-join (a join on `trans` would plan the whole scan->window->
    agg pipeline twice — measured 5 exchanges and a double events scan
    vs 3 exchanges, of which two move only the types^2 frame). Each
    probability is a single IEEE division of exact counts. Runs
    `transition_matrix`."""
    ev = t(spark, sf_dir, "events")
    return transition_matrix(ev, order_cols=("ts", "event_id")).select(
        F.col("prev_state").alias("prev_type"),
        F.col("next_state").alias("next_type"),
        "n",
        "p",
    )


_PATH_TOP_K = 20
_PATH_GAP_US = 30 * 60 * 1_000_000


@query(
    "events_top_session_paths",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) -
                       LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                       > {_PATH_GAP_US}
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM ordered),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sessions GROUP BY user_id, session_id)
    SELECT path, n_sessions FROM (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS rn
      FROM paths GROUP BY path)
    WHERE rn <= {_PATH_TOP_K}
    """,
)
def events_top_session_paths(spark, sf_dir):
    """PATH analysis — the product-analytics flow report: each session
    (30-minute gap rule, the module-wide sessionization contract)
    collapses to its ordered event-type sequence, and the top-20 paths
    by session count rank the dominant user flows. The per-session
    collapse is the one subtle step: ``collect_list`` has NO ordering
    contract under partitioned execution, so the portable form collects
    (ts, event_id, type) structs and sorts INSIDE the row —
    ``sort_array`` on the struct's lexicographic order IS the session
    order, making the path string deterministic on any cluster; the
    oracle's ``string_agg(... ORDER BY ts, event_id)`` is the
    independent formulation.

    Shapes: sessionization and the collapse ride ONE user-keyed
    shuffle (the window and groupBy share partitioning); path state is
    bounded by session length (cap ultra-long sessions upstream if a
    bot's session would blow a row); the final top-k is an
    ``orderBy().limit()`` over the distinct-path counts — planned as
    TakeOrderedAndProject (per-partition top-k heaps merged on the
    driver), never a single-task global-sort window, because path
    cardinality grows with users x sessions. The full tie-break
    (n_sessions desc, path) keeps the cut deterministic."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.lag(F.unix_micros("ts")).over(w)
    sessions = ev.withColumn(
        "new_session",
        F.when(
            lag_us.isNull() | (F.unix_micros("ts") - lag_us > _PATH_GAP_US), 1
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(ts, event_id,"
                    " event_type))), x -> x.event_type)"
                ),
                ">",
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        counts.orderBy(F.desc("n_sessions"), "path")
        .limit(_PATH_TOP_K)
        .select("path", "n_sessions")
    )


_SEASON_DAYS = 7  # weekly seasonality for the naive baseline


@query(
    "events_seasonal_naive_backtest",
    f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    scored AS (
      SELECT d.event_type,
             abs(d.c - p.c) AS abs_err,
             d.c - p.c AS err
      FROM daily d
      JOIN daily p ON p.event_type = d.event_type
                  AND p.day = d.day - {_SEASON_DAYS})
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_forecast_days,
           CAST(SUM(abs_err) AS BIGINT) AS total_abs_err_cents,
           CAST(SUM(err) AS BIGINT) AS bias_cents,
           CAST(SUM(abs_err) // COUNT(*) AS BIGINT) AS mae_cents
    FROM scored GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_seasonal_naive_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest — the baseline every demand /
    volume forecasting pipeline must beat (forecast for day d = the
    actual {_SEASON_DAYS} days earlier), scored over the historical
    window: per event type, the number of backtestable days, total and
    mean absolute error, and the signed bias. All money flows in exact
    integer cents and MAE is truncating integer division, so the
    report is bit-identical across engines. Days with no prior-season
    actual (the first week, gaps in the series) drop out of scoring on
    both engines identically via the inner self-join on day - 7.

    Shape at 100 TB: one partial-agg-friendly groupBy to the daily
    grain (map-side combines do the heavy lifting; the daily frame is
    types x days), then a tiny equi self-join on (type, day-7) and a
    per-type roll-up — the raw event scan happens exactly once. Runs
    `seasonal_backtest`."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", _epoch_day("ts"), cents(F.col("value")).alias("c")
    )
    return (
        seasonal_backtest(ev, "event_type", "day", "c", _SEASON_DAYS)
        .select(
            "event_type",
            F.col("n_forecast").alias("n_forecast_days"),
            F.col("total_abs_err").cast("long").alias("total_abs_err_cents"),
            F.col("bias").cast("long").alias("bias_cents"),
            F.col("mae").cast("long").alias("mae_cents"),
        )
        .orderBy("event_type")
    )


def seasonal_backtest(df, keys, period_col, value_col, season):
    """Library operator: seasonal-naive forecast backtest — the
    frame-level form of `events_seasonal_naive_backtest`, generalized
    to any series. ``df`` holds observations at ANY grain; they are
    first summed to the (keys, period) grain (map-side combinable —
    the raw scan's heavy lifting), then each period is scored against
    the actual ``season`` periods earlier (the naive baseline every
    forecasting pipeline must beat) via a tiny equi self-join on the
    aggregated series. Periods with no prior-season actual (the first
    season, gaps) drop out of scoring — inner-join semantics.

    Returns per-key (n_forecast, total_abs_err, bias, mae) with MAE
    as truncating integer division when the summed values are
    integers (bit-deterministic — keep values in integer micro-units
    for cross-engine identity). Shape at 100 TB: one partial-agg
    groupBy to the series grain, then a series-sized (not data-sized)
    self-join and roll-up."""
    if isinstance(keys, str):
        keys = [keys]
    keys = list(keys)
    season = int(season)
    if season < 1:
        raise ValueError("seasonal_backtest: season must be >= 1")
    series = df.groupBy(*keys, F.col(period_col).alias("_p")).agg(
        F.sum(value_col).alias("_c")
    )
    prior = series.select(
        *keys, (F.col("_p") + season).alias("_p"), F.col("_c").alias("_pc")
    )
    scored = series.join(prior, keys + ["_p"]).select(
        *keys,
        F.abs(F.col("_c") - F.col("_pc")).alias("_abs_err"),
        (F.col("_c") - F.col("_pc")).alias("_err"),
    )
    return scored.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_forecast"),
        F.sum("_abs_err").alias("total_abs_err"),
        F.sum("_err").alias("bias"),
        F.expr("sum(_abs_err) div count(*)").alias("mae"),
    )


@query(
    "events_cohort_ltv",
    f"""
    WITH ev0 AS (
      SELECT user_id, epoch_us(ts) // {_DAY_US} AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events),
    firsts AS (SELECT user_id, MIN(day) AS d0 FROM ev0 GROUP BY user_id),
    wk AS (
      SELECT f.d0 // 7 AS cohort_week,
             (e.day - f.d0) // 7 AS week_offset, e.c
      FROM ev0 e JOIN firsts f ON f.user_id = e.user_id),
    csize AS (
      SELECT d0 // 7 AS cohort_week, COUNT(*) AS cohort_users
      FROM firsts GROUP BY 1),
    weekly AS (
      SELECT cohort_week, week_offset,
             CAST(SUM(c) AS BIGINT) AS weekly_value_cents
      FROM wk GROUP BY 1, 2),
    cum AS (
      SELECT cohort_week, week_offset, weekly_value_cents,
             CAST(SUM(weekly_value_cents) OVER (
               PARTITION BY cohort_week ORDER BY week_offset)
               AS BIGINT) AS cum_value_cents
      FROM weekly)
    SELECT c.cohort_week, c.week_offset, c.weekly_value_cents,
           c.cum_value_cents,
           CAST(s.cohort_users AS BIGINT) AS cohort_users,
           CAST(c.cum_value_cents // s.cohort_users AS BIGINT)
             AS ltv_per_user_cents
    FROM cum c JOIN csize s ON s.cohort_week = c.cohort_week
    ORDER BY c.cohort_week, c.week_offset
    """,
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves — the value companion to
    `events_retention_cohorts`' count triangle: users grouped by
    first-activity week, their event value accumulated per
    week-of-life, with cumulative cohort value and per-user LTV (exact
    integer cents; truncating division matches across engines). The
    curve a growth team reads to see how much a signup week is worth
    by week N — retention tells you WHO comes back, this tells you
    what that's WORTH.

    Shape at 100 TB: first-day is one user-keyed groupBy, the join
    back is user-keyed, and everything after lives on the tiny
    (cohorts x offsets) grid — the cumulative window and the
    per-cohort size join never touch raw events. One scan, two
    user-keyed shuffles, then grid-sized work. Runs `cohort_ltv`."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", _epoch_day("ts"), cents(F.col("value")).alias("c")
    )
    return (
        cohort_ltv(ev, "user_id", "day", "c", 7)
        .select(
            F.col("cohort").alias("cohort_week"),
            F.col("period_offset").alias("week_offset"),
            F.col("period_value").cast("long").alias("weekly_value_cents"),
            F.col("cum_value").cast("long").alias("cum_value_cents"),
            F.col("cohort_users").cast("long").alias("cohort_users"),
            F.expr("cast(cum_value div cohort_users AS bigint)").alias(
                "ltv_per_user_cents"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


def gap_fill(df, keys, bucket_col, value_cols=(), step=1):
    """Library operator: per-key time-series densification — one row
    per integer bucket between each key group's first and last
    observed bucket, zero-filling the silent buckets (the TimescaleDB
    ``time_bucket_gapfill`` shape the registered `events_gap_fill`
    query pins). ``df`` must already be aggregated to one row per
    (keys..., bucket); ``value_cols`` are zero-filled on generated
    rows and a ``gap_filled`` flag marks them. With ``step > 1`` the
    spine walks the grid anchored at each key's first bucket, and
    observed rows OFF that grid are dropped (the caller's bucketing
    is expected to match the step).

    Shape at 100 TB: the generated spine explodes BOUNDED per-key
    ranges (span drives the blowup, never the corpus), and the fill
    join is an equi-join on (keys..., bucket) between two frames
    aggregated from one scan — no calendar cross join anywhere."""
    keys = list(keys)
    value_cols = list(value_cols)
    span = df.groupBy(*keys).agg(
        F.min(bucket_col).alias("_d0"), F.max(bucket_col).alias("_d1")
    )
    spine = span.select(
        *keys,
        F.explode(F.expr(f"sequence(_d0, _d1, {int(step)})")).alias(
            bucket_col
        ),
    )
    # one struct of the keys joins NULL keys too (a struct equals a
    # struct with the same NULL fields), so a NULL-keyed observed row
    # is never reported as a filled gap
    k = F.struct(*keys).alias("_k")
    filled = spine.select("*", k).join(
        df.select(k, *[c for c in df.columns if c not in keys]),
        ["_k", bucket_col],
        "left",
    )
    # the gap flag reads a value column BEFORE the zero-fill coalesce
    # rewrites it (generated spine rows have NULL there by definition)
    probe = value_cols[0] if value_cols else None
    return filled.select(
        *(keys + [bucket_col]),
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in value_cols],
        (
            F.when(F.col(probe).isNull(), 1).otherwise(0)
            if probe is not None
            else F.lit(0)
        )
        .cast("long")
        .alias("gap_filled"),
    )


def retention_cohorts(
    events, user_col="user_id", bucket_col="day", period=7
):
    """Library operator: cohort retention matrix over an arbitrary
    activity frame — users grouped by first-activity period, counted
    in each later period they return (the product-analytics retention
    triangle the registered `events_retention_cohorts` query pins, on
    exact integer bucket arithmetic). ``events`` carries a user column
    and an INTEGER activity bucket (e.g. epoch days); ``period``
    buckets per cohort row (7 = weekly cohorts over daily activity).
    Returns ``(cohort, period_offset, n_users)``.

    Shape at 100 TB: activity dedups to (user, bucket) with map-side
    partial aggregation, first-bucket is one user-keyed groupBy, the
    join back is user-keyed, and the matrix itself is tiny
    (cohorts x offsets) — raw events are never re-scanned per cohort."""
    act = events.select(
        F.col(user_col).alias("_u"), F.col(bucket_col).alias("_b")
    ).distinct()
    firsts = act.groupBy("_u").agg(F.min("_b").alias("_b0"))
    offsets = act.join(firsts, "_u").select(
        "_u",
        F.expr(f"_b0 div {int(period)}").alias("cohort"),
        F.expr(f"(_b - _b0) div {int(period)}").alias("period_offset"),
    )
    return offsets.groupBy("cohort", "period_offset").agg(
        F.countDistinct("_u").alias("n_users")
    )


def sessionize(events, gap="30 minutes", keys="user_id", ts_col="ts"):
    """Library operator: gap-based sessionization for arbitrary frames
    — the frame-level form of the registered `events_sessionization`
    query (and the batch twin of `streaming.windows.sessionize_stateful`).
    Events belonging to the same ``keys`` group whose timestamps are
    within ``gap`` of the previous event share a session. Returns one
    row per session: ``(keys..., session_start, session_end,
    n_events)`` where start/end are the min/max event timestamps in
    the session.

    Implementation is Spark's native ``F.session_window`` — a single
    hash-shuffle on the keys with Catalyst's built-in gap merging, the
    exact plan Structured Streaming uses for stateful session windows,
    so the batch and streaming paths stay one semantics. (Note
    ``session_window.end`` is last-event + gap by contract; this
    returns the OBSERVED extent, ``max(ts)``, which is what batch
    analytics over closed sessions wants.)

    Shape at 100 TB: one shuffle on the session keys; per-key work is
    linear in that key's events; skew is bounded by the hottest key
    (the same bound the gaps-and-islands window formulation has, minus
    its second windowed pass)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return (
        events.groupBy(
            *keys, F.session_window(ts_col, gap).alias("_w")
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select(*keys, "session_start", "session_end", "n_events")
    )


def transition_matrix(
    events, state_col="event_type", keys="user_id", order_cols=("ts",)
):
    """Library operator: first-order Markov transition matrix for
    arbitrary frames — the frame-level form of the registered
    `events_transition_matrix` query. Each ``keys`` group is ordered
    by ``order_cols`` and every consecutive (prev, next) state pair is
    counted; returns ``(prev_state, next_state, n, p)`` where ``p`` is
    the row-conditional probability P(next | prev).

    Shape at 100 TB: ONE shuffle on the keys for the lag window
    (per-partition state is one previous row), a map-side-combinable
    count into a (states x states)-bounded frame, and row totals from
    a SUM window over that tiny frame — never a self-join (which would
    re-plan the scan->window->agg pipeline twice; see the registered
    query's plan note)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    order_cols = list(order_cols)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    seq = events.select(
        F.col(state_col).alias("next_state"),
        F.lag(state_col).over(w).alias("prev_state"),
    ).where(F.col("prev_state").isNotNull())
    trans = seq.groupBy("prev_state", "next_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(Window.partitionBy("prev_state"))
    return trans.select(
        "prev_state",
        "next_state",
        "n",
        (F.col("n").cast("double") / total.cast("double")).alias("p"),
    )


def _funnel_times(events, steps, keys="user_id", state_col="event_type", ts_col="ts"):
    """Per-key funnel stage times: ``(keys..., _t0, ..., _t{n-1})``,
    ``_ti`` the epoch micros of the earliest step-``i`` event at-or-after
    ``_t{i-1}`` (NULL when the key never converts through step ``i``).
    Chained conditional-min windows over one key partitioning, then a
    per-key max — the stage `funnel` and `events_funnel_analysis` share."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys)
    cur = events.select(
        *keys, F.col(state_col).alias("_state"), F.unix_micros(ts_col).alias("_us")
    )
    for i, step in enumerate(steps):
        cond = F.col("_state") == F.lit(step)
        if i:
            cond = cond & (F.col("_us") >= F.col(f"_t{i - 1}"))
        cur = cur.withColumn(f"_t{i}", F.min(F.when(cond, F.col("_us"))).over(w))
    return cur.groupBy(*keys).agg(
        *[F.max(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))]
    )


def funnel(events, steps, keys="user_id", state_col="event_type", ts_col="ts"):
    """Library operator: ordered conversion funnel over arbitrary
    frames — the frame-level, depth-generic form of the registered
    `events_funnel_analysis` query. ``steps`` is the ordered list of
    state values; a key converts through step N+1 only with an event
    at-or-after its step-N conversion time (earliest qualifying event
    wins each stage). Returns one row per step:
    ``(step_idx, step, n_converted)`` with ``step_idx`` 1-based.

    Shape at 100 TB: ONE shuffle total — every step is a chained
    conditional-min window over the same key partitioning, so funnel
    depth adds map-side expressions, not shuffles (the naive
    formulation self-joins the event table once per step). The final
    rollup is a per-key reduce plus one count aggregate per step over
    the key-level frame."""
    steps = list(steps)
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    per_key = _funnel_times(events, steps, keys, state_col, ts_col)
    counts = per_key.agg(
        *[F.count(f"_t{i}").cast("long").alias(f"_n{i}") for i in range(len(steps))]
    )
    spark = events.sparkSession
    step_names = local_df(
        spark,
        [(i + 1, s) for i, s in enumerate(steps)],
        "step_idx int, step string",
    )
    stacked = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("step_idx"),
                        F.col(f"_n{i}").alias("n_converted"),
                    )
                    for i in range(len(steps))
                ]
            )
        ).alias("_s")
    ).select("_s.step_idx", "_s.n_converted")
    return (
        step_names.join(stacked, "step_idx")
        .select("step_idx", "step", "n_converted")
        .orderBy("step_idx")
    )


def anomaly_zscore(df, keys, bucket_col, value_col, n_sigmas=3):
    """Library operator: per-key z-score anomaly flags for an already
    bucketed series — the frame-level form of the registered
    `events_anomaly_daily` query. A (keys..., bucket) row is anomalous
    when its value sits more than ``n_sigmas`` population standard
    deviations from that key group's mean. Returns the input columns
    plus ``is_anomaly``.

    Mean and sigma are never materialized: |x - S/n| > k*sigma is
    cross-multiplied into (n*x - S)^2 > k^2 * (n*SS - S^2) with exact
    integer n/S/SS per key — deterministic across engines while
    |n*x - S| < 2^26.5 (go decimal(38) past that).

    Shape at 100 TB: one map-side-combinable stats aggregate over the
    (already bounded) bucketed frame and a broadcast join back —
    per-key stats are three integers."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    k2 = float(n_sigmas) * float(n_sigmas)
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(value_col).alias("_s"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("_ss"),
    )
    dev = (F.col("_n") * F.col(value_col) - F.col("_s")).cast("double")
    spread = (
        F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")
    ).cast("double")
    return df.join(F.broadcast(stats), keys).select(
        *keys,
        bucket_col,
        value_col,
        F.when(dev * dev > k2 * spread, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_anomaly"),
    )


def cumulative_distinct(df, entity_col, bucket_col):
    """Library operator: cumulative distinct entities per bucket — the
    growth curve (`events_cumulative_distinct_users` generalized), a
    windowed COUNT(DISTINCT) SQL cannot express directly. The scalable
    rewrite is the FIRST-TOUCH trick: an entity contributes exactly
    once, at its min bucket, so distinct-over-prefix collapses to
    min-bucket per entity -> new per bucket -> running sum. Returns
    ``(bucket_col, new_entities, cumulative_entities)``.

    Shape at 100 TB: two map-side-combinable aggregates and ONE window
    over the tiny bucket-level frame — row volume never reaches the
    window; the only entity-level shuffle is the first aggregate. The
    naive per-bucket expanding distinct is O(buckets * rows); this is
    O(rows + buckets)."""
    first_seen = df.groupBy(entity_col).agg(
        F.min(bucket_col).alias(bucket_col)
    )
    per_bucket = first_seen.groupBy(bucket_col).agg(
        F.count(F.lit(1)).alias("new_entities")
    )
    w = Window.orderBy(bucket_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        bucket_col,
        "new_entities",
        F.sum("new_entities").over(w).alias("cumulative_entities"),
    )


def rolling_agg(df, keys, ts_col, value_col, window):
    """Library operator: per-row trailing TIME window aggregate — for
    every row, the count/sum/mean of ``value_col`` over the same key
    group's rows in the preceding ``window`` (inclusive of the current
    timestamp; a `datetime.timedelta`, a number of seconds, or an
    interval string like ``"1 hour"``). The frame-level form of the
    registered `events_rolling_window_avg` query: a RANGE frame over
    the numeric epoch key, which neither a groupBy (fixed grid) nor a
    self-join (O(n*m)) expresses. Returns the input key/ts/value
    columns plus ``roll_n``, ``roll_sum``, ``roll_avg``.

    Determinism: RANGE frames include all order-key peers in both
    engines, and the frame aggregates are order-insensitive.

    Shape at 100 TB: one hash shuffle on the keys, in-partition sort
    by time, then a streaming two-pointer frame scan — state is
    bounded by the densest single window of one key; skew bound is the
    hottest key."""
    import datetime as _dt

    keys = [keys] if isinstance(keys, str) else list(keys)
    if isinstance(window, _dt.timedelta):
        span_us = int(window.total_seconds() * 1_000_000)
    elif isinstance(window, (int, float)):
        span_us = int(window * 1_000_000)
    else:
        m = re.match(
            r"\s*(\d+)\s*(second|minute|hour|day)s?\s*$", str(window)
        )
        if not m:
            raise ValueError(f"rolling_agg: unparseable window {window!r}")
        mult = {
            "second": 1,
            "minute": 60,
            "hour": 3600,
            "day": 86400,
        }[m.group(2)]
        span_us = int(m.group(1)) * mult * 1_000_000
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.unix_micros(F.col(ts_col)))
        .rangeBetween(-span_us, 0)
    )
    roll_n = F.count(value_col).over(w).cast("long")
    roll_sum = F.sum(value_col).over(w)
    return df.select(
        *keys,
        ts_col,
        value_col,
        roll_n.alias("roll_n"),
        roll_sum.alias("roll_sum"),
        (roll_sum.cast("double") / roll_n.cast("double")).alias("roll_avg"),
    )


def top_session_paths(
    events,
    k=20,
    keys="user_id",
    state_col="event_type",
    ts_col="ts",
    gap="30 minutes",
    sep=">",
):
    """Library operator: PATH analysis for arbitrary frames — each
    gap-bounded session collapses to its ordered state sequence and
    the top-``k`` paths by session count come back as
    ``(path, n_sessions)`` (ties by path ascending) — the frame-level
    form of the registered `events_top_session_paths` query, riding
    the same native `F.session_window` the `sessionize` export uses.
    Within a session, events order by (ts, state) — pass data with a
    tie-breaking timestamp if exact intra-second ordering matters.

    Shape at 100 TB: one shuffle on the keys for the session window,
    one per-session aggregate (collect_list is bounded by the longest
    single session), a path-level count with map-side partials, and a
    top-k planned as TakeOrderedAndProject (per-partition heaps merged
    on the driver) — never a single-task global-sort window, because
    distinct-path cardinality grows with users x sessions."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    paths = (
        events.groupBy(
            *keys, F.session_window(ts_col, gap).alias("_w")
        )
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct("
                    f"{ts_col} AS _t, {state_col} AS _s))), x -> x._s)"
                ),
                sep,
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    return (
        counts.orderBy(F.desc("n_sessions"), "path")
        .limit(int(k))
        .select("path", "n_sessions")
    )


def hypertable_rollup(df, ts_col, aggs, buckets, keys=()):
    """Library operator: hypertable-style continuous aggregate — every
    resolution of a NESTED time hierarchy (plus the per-key total) from
    ONE pass over the raw frame, the frame-level form of the registered
    `events_hypertable_rollup`. ``buckets`` maps output column name ->
    bucket width in SECONDS, e.g. ``{"day": 86400, "hour": 3600}``;
    widths must strictly decrease and each coarser width must be an
    exact multiple of the next finer one, so the hierarchy genuinely
    nests (a 7-day bucket over 1-day nests; 1-day over 7-hour does not
    — rejected rather than silently producing overlapping windows).
    ``aggs`` are ready-aliased aggregate Columns; ``keys`` are fixed
    grouping dimensions present at EVERY resolution.

    Output: one row per (keys, bucket-prefix) grouping set — finest
    first conceptually: (keys, b1..bn), (keys, b1..bn-1), ..., (keys,)
    — with rolled-up bucket columns NULL, exactly like SQL ROLLUP
    restricted to the time hierarchy while keys stay fixed.

    At 100 TB this is the multi-resolution dashboard materialization:
    GROUPING SETS plans as one aggregate over an Expand, partial
    aggregation combines map-side per finest bucket before the single
    shuffle, and coarser levels reduce from the finer — no
    per-resolution re-scan of raw events."""
    items = list(buckets.items())
    if not items:
        raise ValueError("hypertable_rollup: at least one bucket required")
    for name, width in items:
        if int(width) < 1:
            raise ValueError(
                f"hypertable_rollup: bucket {name!r} width must be >= 1s"
            )
    for (cn, cw), (fn, fw) in zip(items, items[1:]):
        if int(cw) <= int(fw) or int(cw) % int(fw) != 0:
            raise ValueError(
                "hypertable_rollup: buckets must nest - "
                f"{cn!r} ({cw}s) must be a strict exact multiple of "
                f"{fn!r} ({fw}s)"
            )
    keys = list(keys)
    staged = df
    for name, width in items:
        # truncating `div` on micros: bucket ids nest exactly because
        # the widths do (validated above). The cast accepts
        # TIMESTAMP_NTZ sources too (interpreted in the session
        # timezone — pin it to UTC, as this engine's sessions do, for
        # deterministic bucket ids).
        staged = staged.withColumn(
            name,
            F.expr(
                f"unix_micros(cast(`{ts_col}` as timestamp)) "
                f"div {int(width) * 1_000_000}"
            ),
        )
    names = [n for n, _ in items]
    sets = [
        keys + names[: i]
        for i in range(len(names), -1, -1)
    ]
    return staged.groupingSets(
        [[F.col(c) for c in s] for s in sets], *[F.col(c) for c in keys + names]
    ).agg(*aggs)


def last_touch_attribution(
    df,
    user_col,
    ts_col,
    type_col,
    tie_col,
    conv_type,
    value_col=None,
    none_label="(none)",
):
    """Library operator: last-touch conversion attribution — the
    frame-level form of the registered `events_attribution_last_touch`.
    Rows whose ``type_col`` equals ``conv_type`` are conversions;
    every other row is a touch. Each conversion is credited to the
    user's most recent touch type at-or-before it (conversions with no
    preceding touch land in ``none_label``), then the report
    aggregates ``(channel, n_conversions[, value])``.

    The carry-forward is ``last(touch, ignorenulls=True)`` over a
    running per-user frame — attribution IS an as-of join of
    conversions against touches, fused into one stream instead of
    two, so the whole operator costs ONE hash shuffle on the user key
    plus a partial aggregation over the tiny channel dimension.
    ``tie_col`` must be unique within (user, ts) for bit-determinism
    when a touch and a conversion share a timestamp (the touch
    ordered before the conversion IS credited to it)."""
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, tie_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(F.col(type_col) != F.lit(conv_type), F.col(type_col))
    conv = df.withColumn(
        "_ch", F.last(touch, ignorenulls=True).over(w)
    ).where(F.col(type_col) == F.lit(conv_type))
    aggs = [F.count(F.lit(1)).alias("n_conversions")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("value"))
    return conv.groupBy(
        F.coalesce("_ch", F.lit(none_label)).alias("channel")
    ).agg(*aggs)


def cohort_ltv(df, user_col, bucket_col, value_col, cohort_width=7):
    """Library operator: cohort value (LTV) curves — the frame-level
    form of the registered `events_cohort_ltv`. Input is any frame
    with a user key, an INTEGER time bucket (e.g. day number; bucket
    upstream with the same floor discipline as `gap_fill`), and a
    numeric value. Users are cohorted by the floor-``cohort_width``
    period of their FIRST bucket; output is one row per
    (cohort, period_offset): the cohort's value in that period of
    life, the running cumulative, the cohort's user count, and
    per-user LTV (``cum_value / cohort_users`` as double — callers on
    the integer-cents discipline can recompute the truncating-div
    form from the exact columns).

    Shape at 100 TB: first-bucket is one user-keyed groupBy, the join
    back is user-keyed, and everything after lives on the tiny
    (cohorts x offsets) grid — the cumulative window and the cohort
    size join never touch raw rows. Cohort assignment uses the
    pmod/floor identity, so pre-epoch (negative) buckets land in the
    correct cohort instead of truncating toward zero."""
    w = int(cohort_width)
    if w < 1:
        raise ValueError("cohort_ltv: cohort_width must be >= 1")
    ev = df.select(
        F.col(user_col).alias("_u"),
        F.col(bucket_col).cast("long").alias("_d"),
        F.col(value_col).alias("_v"),
    )
    firsts = ev.groupBy("_u").agg(F.min("_d").alias("_d0"))
    cohort = F.expr(f"(_d0 - pmod(_d0, {w})) div {w}")
    per = (
        ev.join(firsts, "_u")
        .select(
            cohort.alias("cohort"),
            F.expr(f"(_d - _d0) div {w}").alias("period_offset"),
            "_v",
        )
        .groupBy("cohort", "period_offset")
        .agg(F.sum("_v").alias("period_value"))
    )
    csize = (
        firsts.select(cohort.alias("cohort"))
        .groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("cohort_users"))
    )
    cw = Window.partitionBy("cohort").orderBy("period_offset")
    return (
        per.withColumn("cum_value", F.sum("period_value").over(cw))
        .join(csize, "cohort")
        .select(
            "cohort",
            "period_offset",
            "period_value",
            "cum_value",
            "cohort_users",
            (F.col("cum_value") / F.col("cohort_users")).alias(
                "ltv_per_user"
            ),
        )
    )
