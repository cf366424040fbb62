"""Mergeable-sketch aggregations (north-star extensions).

The 100 TB pattern these exist for: a sketch is a small, MERGEABLE
partial state — executors build per-partition sketches map-side, the
shuffle moves kilobytes instead of the keyed data, and yesterday's
stored sketch unions with today's without rescanning history. That
last property (re-aggregable rollups) is what COUNT(DISTINCT) can
never give an incremental pipeline.

A raw sketch estimate is a function of the sketch implementation
(Datasketches HLL register layout, GK summary compression), not of the
data alone, so no independent engine can replay the estimate itself.
Instead of going oracle-less, both queries emit a CHECKABLE shape
(VERDICT r3 item 3): the exact answer (or exact group size) plus a
boolean asserting the estimate satisfies its accuracy contract — the
oracle checks the exact columns and expects the flags TRUE, so the
accuracy contract itself is the hash-checked value.
tests/test_graph_model_ext.py additionally pins the numeric error
bounds against exact answers.
"""

import pyspark.sql.functions as F

from spark_data_test_spark.operators.relational import query, t
from spark_data_test_spark.utils.spark_utils import FrameCache

# The per-type sketch frame is read twice (estimate rows + union row);
# memoized like every other cross-read frame so the second read hits
# cached sketch bytes, not a second scan of events.
_SKETCH_CACHE = FrameCache(max_entries=2)


_HLL_BOUND = 0.05  # acceptance bound; lgk=12 registers give ~1.6% rse


def hll_within_bound(est, exact):
    """The hash-checked HLL acceptance predicate, shared by every
    checkable-shape rollup (batch per-type, sliding-window, streaming
    fold): |est - exact| <= _HLL_BOUND * exact. One definition — the
    batch and streaming variants must agree on the very flag the
    oracles pin."""
    return (
        F.abs(est.cast("double") - exact.cast("double"))
        <= _HLL_BOUND * exact.cast("double")
    )


def _per_type_sketches(spark, sf_dir):
    """Cached (event_type, sk, exact) frame shared by the rollup query
    and the estimate helper."""
    return _SKETCH_CACHE.get_or_create(
        (spark.sparkContext.applicationId, sf_dir),
        lambda: t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("hll_sketch_agg(user_id)").alias("sk"),
            F.countDistinct("user_id").alias("exact"),
        )
        .persist(),
    )


def hll_estimates(spark, sf_dir):
    """Raw HLL estimates per event type plus the '__all__' union row —
    the implementation-defined values the registered query folds into
    ``within_bound`` flags; tests pin their numeric accuracy here."""
    per_type = _per_type_sketches(spark, sf_dir)
    typed = per_type.select(
        "event_type",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("distinct_users_est"),
    )
    overall = per_type.agg(F.expr("hll_union_agg(sk)").alias("u")).select(
        F.lit("__all__").alias("event_type"),
        F.expr("hll_sketch_estimate(u)").cast("long").alias("distinct_users_est"),
    )
    return typed.unionByName(overall)


@query(
    "sketch_hll_rollup",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users_exact,
           TRUE AS within_bound
    FROM events
    """,
)
def sketch_hll_rollup(spark, sf_dir):
    """Distinct users per event type AND overall, via Datasketches HLL:
    per-type sketches are built in one map-side-combinable aggregate,
    then the overall row comes from ``hll_union_agg`` over the stored
    per-type sketches — history is never rescanned, which is the whole
    point of sketch rollups (a daily job stores the sketch column and
    unions arbitrary date ranges later). HLL registers are max-merged,
    so estimates are insert-order- and partitioning-insensitive —
    deterministic on any cluster layout.

    Checkable shape: the estimate itself is implementation-defined, so
    the output carries the EXACT distinct count next to a
    ``within_bound`` flag (|est - exact| <= 5% of exact) — the oracle
    replays the exact counts and expects every flag TRUE. The exact
    columns exist for the cross-engine gate; a production rollup would
    ship only the sketch column."""
    per_type = _per_type_sketches(spark, sf_dir)
    typed = per_type.select(
        "event_type",
        F.col("exact").alias("distinct_users_exact"),
        hll_within_bound(
            F.expr("hll_sketch_estimate(sk)"), F.col("exact")
        ).alias("within_bound"),
    )
    # overall: sketch side merges the stored per-type sketches (the
    # mergeability being demonstrated); the exact side must rescan —
    # exactly the cost the sketch rollup exists to avoid
    exact_all = t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("exact")
    )
    overall = (
        per_type.agg(F.expr("hll_union_agg(sk)").alias("u"))
        .crossJoin(F.broadcast(exact_all))
        .select(
            F.lit("__all__").alias("event_type"),
            F.col("exact").alias("distinct_users_exact"),
            hll_within_bound(
                F.expr("hll_sketch_estimate(u)"), F.col("exact")
            ).alias("within_bound"),
        )
    )
    return typed.unionByName(overall)


_QUANT_PROBS = (0.5, 0.9, 0.99)
_QUANT_ACC = 10_000  # GK accuracy: eps = 1/accuracy of rank error


def _cents_frame(spark, sf_dir):
    return t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


def _quantile_agg(o):
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            f"approx_percentile(cents, array({', '.join(map(str, _QUANT_PROBS))}),"
            f" {_QUANT_ACC})"
        ).alias("q")
    )


def quantile_values(spark, sf_dir):
    """Raw GK quantile elements per priority — the implementation-
    defined values the registered query folds into rank-contract flags;
    tests pin their numeric rank error here."""
    return _quantile_agg(_cents_frame(spark, sf_dir)).select(
        "o_orderpriority",
        F.col("q")[0].alias("p50_cents"),
        F.col("q")[1].alias("p90_cents"),
        F.col("q")[2].alias("p99_cents"),
    )


@query(
    "sketch_approx_quantiles",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def sketch_approx_quantiles(spark, sf_dir):
    """Order-value quantiles per order priority via ``approx_percentile``
    (Greenwald-Khanna summaries): each partition builds a bounded
    summary, summaries merge in the combiner — rank error <=
    1/_QUANT_ACC (= 1/10000) of n, state O(_QUANT_ACC) per group
    regardless of n. Exact percentiles at 100 TB need a full sort per
    group; the sketch needs one map-side-combined aggregate.

    Checkable shape: the returned element is implementation-defined, so
    the output verifies the GK RANK CONTRACT instead of emitting the
    raw value — for each probability p the returned element's rank
    interval [count(< q) + 1, count(<= q)] must intersect
    [p*n - eps*n - 1, p*n + eps*n + 1] (eps = 1/accuracy, +-1 absorbs
    the rank-convention off-by-one between floor/ceil definitions).
    The oracle emits the exact group sizes and expects every flag TRUE:
    the sketch's accuracy guarantee is the hash-checked value. The
    verification join is one broadcast of the 5-row sketch output back
    over the orders scan — two passes total, no sort."""
    o = _cents_frame(spark, sf_dir)
    agg = _quantile_agg(o)
    joined = o.join(F.broadcast(agg), "o_orderpriority")
    rank_aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(len(_QUANT_PROBS)):
        qv = F.col("q").getItem(i)
        rank_aggs.append(
            F.sum((F.col("cents") < qv).cast("long")).alias(f"lt{i}")
        )
        rank_aggs.append(
            F.sum((F.col("cents") <= qv).cast("long")).alias(f"le{i}")
        )
    ranks = joined.groupBy("o_orderpriority").agg(*rank_aggs)
    sel = [F.col("o_orderpriority"), F.col("n")]
    for i, (p, label) in enumerate(zip(_QUANT_PROBS, ("p50", "p90", "p99"))):
        nd = F.col("n").cast("double")
        target = F.lit(p) * nd
        slack = nd / _QUANT_ACC + 1.0
        ok = (
            (F.col(f"lt{i}") + 1).cast("double") <= target + slack
        ) & (F.col(f"le{i}").cast("double") >= target - slack)
        sel.append(ok.alias(f"{label}_ok"))
    return ranks.select(*sel)


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters: bounded-state candidates + exact verify
# ---------------------------------------------------------------------------

_MG_COUNTERS = 1024  # per-partition counter budget k
_HH_DENOM = 1000  # report items with count*_HH_DENOM > stream length

# MG summary frame (candidates + per-partition totals): read twice
# (candidate set, stream length); without a persist each read re-runs
# the full MG scan.
_MG_CACHE = FrameCache(max_entries=2)

# MG guarantee (mergeable-summaries form, Agarwal et al. 2012): after
# merging per-partition summaries, every item's undercount error is at
# most n/(k+1). With k=1024 > _HH_DENOM, any item with true count
# > n/1000 has a strictly positive merged count, so the candidate set
# provably contains every reported heavy hitter — which is what makes
# the exact-verified output deterministic regardless of partitioning.


def bigrams_of(docs_df):
    """(g) word-bigram rows of a documents frame — pure Catalyst:
    split, filter empties, sequence+transform to adjacent pairs,
    explode."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    return docs_df.where(F.size(toks) >= 2).select(
        F.explode(grams).alias("g")
    )


def _bigram_stream(spark, sf_dir):
    """Word-bigram stream over the documents table.

    The doc scan is repartitioned to the session parallelism BEFORE the
    explode: the corpus arrives as few fat parquet splits, and without
    the spread the tokenize/explode/MG chain runs on 1-2 tasks (the
    shuffle moves doc rows — cheap — so every core works the n-gram
    stream; at cluster scale the input arrives pre-split and Catalyst
    elides nothing it needs)."""
    return bigrams_of(
        t(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
    )


def _mg_summaries(iterator):
    """Per-partition Misra-Gries over arrow batches: merge each batch's
    counts into the running summary, then compress to k counters by
    subtracting the (k+1)-th largest count (the mergeable-MG step).
    Also emits one ``g IS NULL`` row carrying the partition's TOTAL
    item count, so the stream length needs no second scan."""
    from collections import Counter

    import pandas as pd

    counts = Counter()
    total = 0
    for pdf in iterator:
        total += len(pdf)
        counts.update(Counter(pdf["g"].value_counts().to_dict()))
        if len(counts) > _MG_COUNTERS:
            kth = sorted(counts.values(), reverse=True)[_MG_COUNTERS]
            counts = Counter(
                {g: c - kth for g, c in counts.items() if c > kth}
            )
    if total:
        yield pd.DataFrame(
            {
                "g": list(counts.keys()) + [None],
                "mg_cnt": list(counts.values()) + [total],
            }
        )


# One oracle for BOTH heavy-hitter variants (batch MG and streaming MG
# state): the exact bigram counts above the share threshold. The batch
# and streaming queries must stay output-identical; sharing the string
# makes that structural.
HEAVY_HITTERS_ORACLE_SQL = f"""
    WITH docs AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
               AS toks
      FROM documents),
    grams AS (
      SELECT d.toks[u.i] || ' ' || d.toks[u.i + 1] AS g
      FROM docs d, unnest(range(1, len(d.toks))) u(i)
      WHERE len(d.toks) >= 2),
    c AS (SELECT g AS gram, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM grams GROUP BY g),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tok FROM c)
    SELECT gram, cnt, n_tok, TRUE AS mg_candidate
    FROM c, tot
    WHERE cnt * {_HH_DENOM} > n_tok
    ORDER BY cnt DESC, gram
    """


def verify_heavy_hitters(grams, cands, total):
    """Shared exact-verify/report tail of both heavy-hitter variants:
    count the gram stream restricted to the (broadcast) candidate set,
    apply the share threshold against the (broadcast) 1-row stream
    length, and emit the report shape the oracle pins."""
    exact = (
        grams.join(F.broadcast(cands), "g")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * _HH_DENOM > F.col("n_tok"))
        .select(
            F.col("g").alias("gram"),
            "cnt",
            "n_tok",
            F.lit(True).alias("mg_candidate"),
        )
        .orderBy(F.col("cnt").desc(), "gram")
    )


@query("text_heavy_hitters", HEAVY_HITTERS_ORACLE_SQL)
def text_heavy_hitters(spark, sf_dir):
    """phi-heavy hitters (word bigrams with share > 1/1000) by the
    candidate-then-verify sketch pattern: per-partition Misra-Gries
    summaries (<= 1024 counters each, built in one Arrow `mapInPandas`
    pass), merged into a candidate set, then ONE exact counting pass
    restricted to candidates via broadcast semi-join.

    Why this is the 100 TB shape: a direct `groupBy(gram).count()`
    shuffles the full vocabulary (n-gram vocabularies run to billions
    of keys); MG moves <= k rows per partition — kilobytes — and the
    exact-verify shuffle is bounded by the candidate set, not the
    vocabulary. The mergeable-MG error bound (n/(k+1), k=1024 > 1000)
    proves the candidates contain every reported item, so the
    exact-verified output is deterministic for ANY partitioning — the
    `mg_candidate` flag is that guarantee as a hash-checked value (a
    missed hitter would surface as a missing row vs the oracle).
    """
    grams = _bigram_stream(spark, sf_dir)
    summaries = _MG_CACHE.get_or_create(
        (spark.sparkContext.applicationId, sf_dir),
        lambda: grams.mapInPandas(
            _mg_summaries, "g string, mg_cnt long"
        ).persist(),
    )
    cands = summaries.where(F.col("g").isNotNull()).select("g").distinct()
    total = summaries.where(F.col("g").isNull()).agg(
        F.sum("mg_cnt").alias("n_tok")
    )
    return verify_heavy_hitters(grams, cands, total)


# ---------------------------------------------------------------------------
# Sliding-window distinct counts from mergeable bucket sketches
# ---------------------------------------------------------------------------

_SLIDE_BUCKET_US = 600_000_000  # 10-minute base buckets
_SLIDE_WINDOW_BUCKETS = 3  # 30-minute windows, sliding every bucket


def sliding_distinct_estimates(spark, sf_dir):
    """(window_start_us, est) — HLL estimate of distinct users per
    30-minute sliding window, computed WITHOUT touching raw user rows
    per window: one sketch per 10-minute base bucket, each bucket's
    sketch exploded into its 3 covering windows, union-merged per
    window. The raw estimates are implementation-defined; the
    registered query folds them into `within_bound` flags and tests
    pin the numeric error here."""
    ev = t(spark, sf_dir, "events")
    buckets = (
        ev.select(
            F.expr(f"unix_micros(ts) div {_SLIDE_BUCKET_US}").alias("b"),
            "user_id",
        )
        .groupBy("b")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    covering = F.array(
        *[F.col("b") - i for i in range(_SLIDE_WINDOW_BUCKETS)]
    )
    return (
        buckets.select(F.explode(covering).alias("w"), "sk")
        .where(F.col("w") >= 0)
        .groupBy("w")
        .agg(F.expr("hll_union_agg(sk)").alias("u"))
        .select(
            (F.col("w") * _SLIDE_BUCKET_US).alias("window_start_us"),
            F.expr("hll_sketch_estimate(u)").cast("long").alias("est"),
        )
    )


@query(
    "events_sliding_distinct_users",
    f"""
    WITH grid AS (
      SELECT user_id, w_start
      FROM (SELECT user_id,
                   epoch_us(ts) // {_SLIDE_BUCKET_US} AS b
            FROM events),
      LATERAL (SELECT unnest(generate_series(b - {_SLIDE_WINDOW_BUCKETS - 1},
                                             b)) * {_SLIDE_BUCKET_US}
                 AS w_start) g
      WHERE w_start >= 0)
    SELECT w_start AS window_start_us,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users_exact,
           TRUE AS within_bound
    FROM grid GROUP BY w_start
    """,
)
def events_sliding_distinct_users(spark, sf_dir):
    """Distinct users per 30-minute SLIDING window (10-minute step) by
    the mergeable-sketch pattern: COUNT(DISTINCT) cannot be merged
    across overlapping windows, so the naive plan re-shuffles every
    raw user row into each of its 3 covering windows; the sketch plan
    builds ONE HLL per base bucket (map-side combinable) and merges 3
    kilobyte sketches per window — at 100 TB the shuffle carries
    bucket sketches, not user traffic, and yesterday's stored bucket
    sketches extend tomorrow's windows without rescanning. Checkable
    shape (VERDICT r3 item 3): the query emits the exact per-window
    distinct count alongside a flag asserting the sketch estimate
    landed within the {_HLL_BOUND:.0%} accuracy contract — the oracle
    checks the exact column and expects every flag TRUE; the raw
    estimates stay pytest-pinned via `sliding_distinct_estimates`."""
    ev = t(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.expr(f"unix_micros(ts) div {_SLIDE_BUCKET_US}").alias("b"),
            "user_id",
        )
        .select(
            F.explode(
                F.array(
                    *[F.col("b") - i for i in range(_SLIDE_WINDOW_BUCKETS)]
                )
            ).alias("w"),
            "user_id",
        )
        .where(F.col("w") >= 0)
    )
    exact = grid.groupBy("w").agg(
        F.countDistinct("user_id").alias("distinct_users_exact")
    )
    est = sliding_distinct_estimates(spark, sf_dir).withColumn(
        "w", F.expr(f"window_start_us div {_SLIDE_BUCKET_US}")
    )
    bound = hll_within_bound(F.col("est"), F.col("distinct_users_exact"))
    return (
        exact.join(est, "w")
        .select(
            (F.col("w") * _SLIDE_BUCKET_US).alias("window_start_us"),
            "distinct_users_exact",
            bound.alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Library surface: frame-level heavy hitters (round 8)
# ---------------------------------------------------------------------------


def heavy_hitters(items, item_col="g", denom=_HH_DENOM):
    """Library operator: EXACT phi-heavy hitters over an arbitrary
    frame's ``item_col`` — every item whose count exceeds
    ``1/denom`` of the stream length, by the registered
    `text_heavy_hitters` candidate-then-verify pattern. One Arrow
    ``mapInPandas`` pass builds per-partition Misra-Gries summaries
    (bounded at 1024 counters each — kilobytes per partition, never
    the vocabulary); the mergeable-summaries bound (undercount at most
    n/(k+1), Agarwal et al. 2012) proves the merged candidates contain
    every true hitter while ``denom <= 1024``, so the single exact
    counting pass restricted to the broadcast candidate set is
    deterministic for ANY partitioning. ``denom > 1024`` raises — the
    guarantee would be silently broken. Returns
    ``(item, cnt, n_total)`` ordered by descending count."""
    if not 1 <= denom <= _MG_COUNTERS:
        raise ValueError(
            f"denom must be in [1, {_MG_COUNTERS}]: the Misra-Gries "
            f"counter budget bounds the undercount at n/{_MG_COUNTERS + 1}, "
            "so larger thresholds could miss true hitters"
        )
    g = items.select(F.col(item_col).cast("string").alias("g"))
    summaries = g.mapInPandas(_mg_summaries, "g string, mg_cnt long").persist()
    try:
        cands = summaries.where(F.col("g").isNotNull()).select("g").distinct()
        total = summaries.where(F.col("g").isNull()).agg(
            F.sum("mg_cnt").alias("n_tok")
        )
        exact = (
            g.join(F.broadcast(cands), "g")
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            exact.crossJoin(F.broadcast(total))
            .where(F.col("cnt") * F.lit(int(denom)) > F.col("n_tok"))
            .select(
                F.col("g").alias("item"),
                "cnt",
                F.col("n_tok").alias("n_total"),
            )
            .orderBy(F.col("cnt").desc(), "item")
            .localCheckpoint(eager=True)
        )
    finally:
        summaries.unpersist()


def distinct_sketch(df, keys, value_col, lg_k=12):
    """Library operator: MERGEABLE per-group distinct-count sketches —
    one Apache DataSketches HLL sketch per ``keys`` group over
    ``value_col`` (Spark's built-in ``hll_sketch_agg``; ``lg_k`` sets
    the register count, 2^12 by default ~ 1.6% relative error).
    Returns ``(keys..., sketch binary, estimate long)``.

    This is the pre-aggregation 100 TB pattern the exact
    `approx_count_distinct_parts` / `sketch_hll_rollup` queries pin:
    persist the per-partition/per-day SKETCHES, answer any distinct
    question later by `sketch_union` — never rescan raw data. Union is
    lossless in the HLL register representation (register-wise max),
    but DataSketches keeps SMALL sketches in exact sparse modes while
    the union gadget works in dense HLL, so a rolled-up estimate can
    differ slightly from a single-pass sketch — both stay within the
    configured error (pinned in tests)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    sk = F.hll_sketch_agg(value_col, F.lit(int(lg_k)))
    return df.groupBy(*keys).agg(
        sk.alias("sketch")
    ).withColumn("estimate", F.hll_sketch_estimate("sketch"))


def sketch_union(df, keys, sketch_col="sketch"):
    """Library operator: fold persisted HLL sketches up a hierarchy —
    group by the coarser ``keys`` and union the sketches
    (``hll_union_agg``; register-wise max, one combinable aggregate).
    Returns ``(keys..., sketch, estimate)`` so further roll-ups chain.
    The companion to `distinct_sketch`."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return (
        df.groupBy(*keys)
        .agg(F.hll_union_agg(sketch_col).alias("sketch"))
        .withColumn("estimate", F.hll_sketch_estimate("sketch"))
    )
