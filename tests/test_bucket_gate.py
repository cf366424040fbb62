"""Round-19 tests for the size-GATED in-task pair expansion
(`spark_utils.bucket_pairs` and its simhash composition
`dedup._sp_gid_pairs`) — VERDICT r18 item 2: LSH band buckets had no
size bound, so a degenerate signature could materialize a
corpus-proportional array in one aggregation buffer. The gate routes
oversized buckets through the old streaming self-join; these tests pin
(a) exact output parity with the brute-force bucket self-join on inputs
that exercise BOTH branches, (b) the degenerate thousands-in-one-bucket
case at the production cap, and (c) the cap value itself.
"""

import pyspark.sql.functions as F
import pytest

from spark_data_test_spark.utils.spark_utils import bucket_pairs


def _brute_pairs(spark, rows):
    """Reference: the old streaming bucket self-join, computed naively
    on the driver — every unordered member pair sharing a bucket, one
    output row per (bucket, pair)."""
    out = []
    buckets = {}
    for k, m in rows:
        buckets.setdefault(k, []).append(m)
    # a NULL bucket key still forms a bucket (groupBy keeps the NULL
    # group; the gate matches it null-safely, so an over-cap NULL
    # bucket takes the fallback); NULL members never pair (collect_set
    # drops them, < is never true)
    for ms in buckets.values():
        ms = [m for m in ms if m is not None]
        for i in range(len(ms)):
            for j in range(len(ms)):
                if ms[i] < ms[j]:
                    out.append((ms[i], ms[j]))
    return sorted(out)


@pytest.mark.parametrize("cap", [2, 3, 8, None])
def test_bucket_pairs_matches_bruteforce_across_the_gate(spark, cap):
    """Mixed bucket sizes straddling the cap: singleton (no pairs),
    pair, exactly-cap, cap+1 and 3x-cap buckets, plus a NULL member
    (never pairs) and a NULL bucket key under and over the cap — the
    cold expansion and the hot fallback must together emit exactly
    the self-join's rows. ``cap=None`` expands every bucket in-task."""
    n = 8 if cap is None else cap
    rows = []
    rows += [("single", 10)]
    rows += [("dup", 1), ("dup", 2)]
    rows += [("atcap", m) for m in range(n)]
    rows += [("overcap", m) for m in range(n + 1)]
    rows += [("big", m) for m in range(3 * n)]
    rows += [("withnull", 5), ("withnull", None), ("withnull", 7)]
    cold_null = rows + [(None, 100), (None, 101)]  # NULL bucket key: cold path
    # NULL bucket key over the cap: matched null-safely, so it streams
    # through the fallback instead of escaping the gate
    hot_null = rows + [(None, 100 + m) for m in range(n + 1)]
    for case in (cold_null, hot_null):
        df = spark.createDataFrame(case, "k string, m long")
        got = sorted(
            tuple(r)
            for r in bucket_pairs(df, ("k",), "m", cap)
            .select("m_a", "m_b")
            .collect()
        )
        assert got == _brute_pairs(spark, case)


def _in_task_agg_rows(spark):
    """Rows out of the collect_set (ObjectHashAggregate) nodes of the
    last SQL execution, read from Spark's SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    runs = store.executionsList()
    eid = runs.apply(runs.size() - 1).executionId()
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    total = 0
    for i in range(nodes.size()):
        if nodes.apply(i).name() != "ObjectHashAggregate":
            continue
        metrics = nodes.apply(i).metrics()
        for j in range(metrics.size()):
            if metrics.apply(j).name() == "number of output rows":
                v = values.get(metrics.apply(j).accumulatorId())
                total += int(v.get().replace(",", "")) if v.isDefined() else 0
    return total


def test_bucket_pairs_gates_an_over_cap_null_key(spark):
    """ADVICE r19: an over-cap bucket whose key is NULL must take the
    streaming fallback, not the in-task aggregate — the gate matches
    keys null-safely. The control (an under-cap bucket) shows the
    metric does count in-task rows."""
    hot = spark.createDataFrame([(None, m) for m in range(5)], "k string, m long")
    assert len(bucket_pairs(hot, ("k",), "m", 2).collect()) == 10
    assert _in_task_agg_rows(spark) == 0
    cold = spark.createDataFrame([(None, 1), (None, 2)], "k string, m long")
    assert len(bucket_pairs(cold, ("k",), "m", 2).collect()) == 1
    assert _in_task_agg_rows(spark) > 0


def test_bucket_pairs_degenerate_bucket_at_production_cap(spark):
    """VERDICT r18 item 2's done-condition: thousands of members
    sharing ONE bucket key (the degenerate-signature shape) at the
    production cap — the oversized bucket must route through the
    streaming fallback (no bucket-sized aggregation buffer) and still
    produce the exact quadratic pair count, while a second small
    bucket rides the in-task expansion in the same run."""
    from spark_data_test_spark.operators.dedup import _BUCKET_CAP

    n = _BUCKET_CAP + 1000
    big = spark.range(n).select(F.lit("degenerate").alias("k"), F.col("id").alias("m"))
    small = spark.range(3).select(F.lit("small").alias("k"), (F.col("id") + 10**6).alias("m"))
    out = bucket_pairs(big.unionByName(small), ("k",), "m", _BUCKET_CAP)
    assert out.count() == n * (n - 1) // 2 + 3


def test_bucket_cap_values_are_pinned():
    """The production caps are deliberate (documented per site); a
    silent change should trip review."""
    from spark_data_test_spark.operators.analytics import _BASKET_CAP
    from spark_data_test_spark.operators.dedup import _BUCKET_CAP

    assert _BUCKET_CAP == 4096
    assert _BASKET_CAP == 4096


def test_bucket_pairs_rejects_tiny_cap(spark):
    df = spark.createDataFrame([("k", 1)], "k string, m long")
    with pytest.raises(ValueError):
        bucket_pairs(df, ("k",), "m", 1)


@pytest.mark.parametrize("cap", [2, 16])
def test_sp_bucket_pairs_matches_self_join(spark, cap):
    """The simhash composition (`bucket_pairs` over a struct member,
    hamming verify on its output) against the old banding self-join
    formulation, on synthetic packed fingerprints whose band buckets
    straddle the cap."""
    from spark_data_test_spark.operators.dedup import (
        _SP_HAM_K,
        _sp_banded,
        _sp_gid_pairs,
    )

    rows = []
    # one shared-sig cluster of cap+2 similar fingerprints (hamming 0/1
    # inside), plus a handful of scattered ones
    for i in range(cap + 2):
        rows.append((f"g{i:04d}", 0x1111222233330000 | (i % 2), 0x0123456701234567))
    for i in range(5):
        rows.append((f"h{i:04d}", (i + 3) * 0x0101010101010101, (i + 3) * 0x1010101010101010))
    fp = spark.createDataFrame(rows, "gid string, lo long, hi long")
    bands = _sp_banded(fp).persist()
    try:
        got = sorted(tuple(r) for r in _sp_gid_pairs(bands, cap=cap).collect())
        a, b = bands.alias("a"), bands.alias("b")
        ref = sorted(
            tuple(r)
            for r in a.join(b, ["band", "sig"])
            .where(F.expr("a.gid < b.gid"))
            .select(
                F.expr("a.gid").alias("gid_a"),
                F.expr("b.gid").alias("gid_b"),
                F.expr(
                    "CAST(bit_count(a.lo ^ b.lo)"
                    " + bit_count(a.hi ^ b.hi) AS BIGINT)"
                ).alias("hamming"),
            )
            .where(F.col("hamming") <= _SP_HAM_K)
            .groupBy("gid_a", "gid_b")
            .agg(F.min("hamming").alias("hamming"))
            .collect()
        )
        assert got == ref
        assert got, "fixture must produce at least one qualifying pair"
    finally:
        bands.unpersist()


def test_market_basket_null_keys_match_join_shape(spark):
    """VERDICT r18 item 6: the library `market_basket` now runs its
    pair step through the null-filtered gated fold. NULL basket keys
    never equi-join and NULL items never satisfy item_a < item_b, so
    the fold over the null-filtered slice must equal the old self-join
    shape EXACTLY — including counts/lift, which still aggregate over
    the full distinct frame (a non-null item's count includes its
    NULL-basket rows)."""
    from spark_data_test_spark.operators.analytics import market_basket

    rows = [
        ("b1", "x"), ("b1", "y"), ("b1", "z"),
        ("b2", "x"), ("b2", "y"),
        ("b2", "x"),            # duplicate row: deduped first
        (None, "x"), (None, "y"),   # NULL basket: counts, never pairs
        ("b3", None), ("b3", "x"),  # NULL item: never pairs
        ("b4", "q"),
    ]
    df = spark.createDataFrame(rows, "b string, i string")
    got = sorted(
        tuple(r) for r in market_basket(df, "b", "i").collect()
    )
    # reference: the pre-r19 self-join shape, verbatim
    items = df.select(F.col("b").alias("_b"), F.col("i").alias("_i")).distinct()
    a = items.select("_b", F.col("_i").alias("item_a"))
    bb = items.select("_b", F.col("_i").alias("item_b"))
    pairs = (
        a.join(bb, "_b")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    counts = items.groupBy("_i").agg(F.count(F.lit(1)).alias("_c"))
    nb = items.agg(F.count_distinct("_b").alias("_nb"))
    ref = sorted(
        tuple(r)
        for r in pairs.join(
            counts.select(F.col("_i").alias("item_a"), F.col("_c").alias("count_a")),
            "item_a",
        )
        .join(
            counts.select(F.col("_i").alias("item_b"), F.col("_c").alias("count_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "support",
            "count_a",
            "count_b",
            (
                F.col("support").cast("double")
                * F.col("_nb")
                / (F.col("count_a") * F.col("count_b"))
            ).alias("lift"),
        )
        .collect()
    )
    assert got == ref
    assert got, "fixture must produce pairs"


def test_market_basket_hot_basket_takes_the_fallback(spark):
    """A basket over `_BASKET_CAP` items still produces the exact pair
    support set (through the streaming fallback, never a basket-sized
    buffer)."""
    from spark_data_test_spark.operators.analytics import (
        _BASKET_CAP,
        market_basket,
    )

    n = _BASKET_CAP + 50
    df = spark.range(n).select(
        F.lit("hot").alias("b"), F.col("id").alias("i")
    ).unionByName(
        spark.range(2).select(
            F.lit("cold").alias("b"), (F.col("id") + 10**6).alias("i")
        )
    )
    out = market_basket(df, "b", "i")
    assert out.count() == n * (n - 1) // 2 + 1
