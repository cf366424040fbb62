"""Property tests for the round-3 extension operators: graph analytics,
model-based quality filtering, RANGE-frame rolling windows, and
survivorship. check_oracle.py pins cross-engine equality; these pin the
SEMANTIC invariants an oracle replay can't (brute-force equivalence,
conservation laws, per-cluster decision rules)."""

import pyspark.sql.functions as F

from spark_data_test_spark.operators import dedup, graph, temporal, text
from spark_data_test_spark.operators.relational import t
from spark_data_test_spark.utils.spark_utils import clear_all


def test_rolling_window_matches_bruteforce(spark, sf_dir):
    """The RANGE-frame trailing hour equals a per-user brute-force scan."""
    rows = temporal.events_rolling_window_avg(spark, sf_dir).collect()
    ev = sorted(
        (
            (r.user_id, r.ts_us, r.event_id, r.c)
            for r in t(spark, sf_dir, "events")
            .select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                "event_id",
                F.round(F.col("value") * 100).cast("long").alias("c"),
            )
            .collect()
        )
    )
    by_user = {}
    for u, ts, eid, c in ev:
        by_user.setdefault(u, []).append((ts, eid, c))
    expected = {}
    for u, lst in by_user.items():
        for ts, eid, _ in lst:
            frame = [c for ts2, _, c in lst if ts - 3_600_000_000 <= ts2 <= ts]
            expected[eid] = (len(frame), sum(frame))
    assert len(rows) == len(expected)
    for r in rows:
        n, cents = expected[r.event_id]
        assert (r.roll_n, r.roll_cents) == (n, cents)
        assert r.roll_avg == cents / (100 * n)


def test_triangle_count_invariants(spark, sf_dir):
    row = graph.graph_triangle_count(spark, sf_dir).collect()[0]
    # handshake double-count and wedge/triangle consistency
    deg = (
        graph.graph_degree_distribution(spark, sf_dir)
        .agg(
            F.sum(F.col("degree") * F.col("n_nodes")).alias("dsum"),
            F.sum("n_nodes").alias("nodes"),
        )
        .collect()[0]
    )
    assert deg.dsum == 2 * row.n_edges
    assert deg.nodes == row.n_nodes
    # every triangle contributes 3 closed wedges
    assert 0 <= 3 * row.n_triangles <= row.n_wedges
    assert row.clustering_coefficient == 3 * row.n_triangles / row.n_wedges


def test_triangle_count_on_known_graph(spark, sf_dir, tmp_path):
    """K4 plus a pendant vertex: C(4,3)=4 triangles, coefficient known.
    Drives the full query (projection included) through a staged
    lineitem where order 1 holds the K4 basket and order 2 the pendant
    edge."""
    li = spark.createDataFrame(
        [(1, p) for p in (10, 20, 30, 40)] + [(2, 40), (2, 50)],
        "l_orderkey long, l_partkey long",
    )
    sf = str(tmp_path / "sf")
    li.write.parquet(f"{sf}/lineitem.parquet")
    clear_all()
    row = graph.graph_triangle_count(spark, sf).collect()[0]
    clear_all()
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 7, 4)
    # wedges: deg 3,3,3,4,1 -> 3+3+3+6+0 = 15
    assert row.n_wedges == 15
    assert row.clustering_coefficient == 12 / 15


def test_pagerank_fixed_point_properties(spark, sf_dir):
    rows = graph.graph_pagerank_fixed(spark, sf_dir).collect()
    n = len(rows)
    base = 1_000_000 - 850_000
    # every node keeps at least the teleport mass; integer-truncation
    # only LOSES mass, so total rank never exceeds the initial n * 1.0
    assert all(r.rank_micro >= base for r in rows)
    assert sum(r.rank_micro for r in rows) <= n * 1_000_000
    # non-degenerate: ranks must separate hubs from leaves
    assert len({r.rank_micro for r in rows}) > 1
    # determinism across runs (fixed point, no float, no rand)
    again = graph.graph_pagerank_fixed(spark, sf_dir).collect()
    assert sorted((r.node, r.rank_micro) for r in rows) == sorted(
        (r.node, r.rank_micro) for r in again
    )


def test_survivorship_rules(spark, sf_dir):
    rows = dedup.dedup_survivorship(spark, sf_dir).collect()
    assert rows, "candidate graph is never empty at sf0.001"
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    for comp, members in by_comp.items():
        survivors = [m for m in members if m.is_survivor == 1]
        assert len(survivors) == 1
        s = survivors[0]
        best = max(members, key=lambda m: (m.n_chars, -m.doc_id))
        assert s.doc_id == best.doc_id
        assert all(m.survivor_doc_id == s.doc_id for m in members)


def test_quality_model_score_threshold(spark, sf_dir):
    rows = text.text_quality_model_score(spark, sf_dir).collect()
    w0, ww, wc, wd, ws = text._QM_WEIGHTS
    for r in rows:
        z = w0 + ww * r.n_words + wc * r.n_chars + wd * r.n_digit_runs + ws * r.n_stop
        assert r.score_milli == z
        assert r.keep == (1 if z >= text._QM_KEEP_MILLI else 0)
    # the model must actually separate: both classes present
    kept = sum(r.keep for r in rows)
    assert 0 < kept < len(rows)


def test_bigram_familiarity_bounds(spark, sf_dir):
    rows = text.text_bigram_familiarity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.matched_bigrams <= r.total_bigrams
        assert r.familiarity == r.matched_bigrams / r.total_bigrams


def test_hll_rollup_accuracy(spark, sf_dir):
    from spark_data_test_spark.operators import sketches

    rows = {
        r.event_type: r.distinct_users_est
        for r in sketches.hll_estimates(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.d
        for r in t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    exact["__all__"] = (
        t(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert set(rows) == set(exact)
    for k, est in rows.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (k, est, exact[k])
    # order/partitioning insensitivity: rerun must match exactly
    clear_all()
    again = {
        r.event_type: r.distinct_users_est
        for r in sketches.hll_estimates(spark, sf_dir).collect()
    }
    assert rows == again
    # the registered (oracle-checked) shape must report every estimate
    # within bound and carry the exact counts
    for r in sketches.sketch_hll_rollup(spark, sf_dir).collect():
        assert r.within_bound, r
        assert r.distinct_users_exact == exact[r.event_type]


def test_approx_quantiles_rank_error(spark, sf_dir):
    from spark_data_test_spark.operators import sketches

    rows = sketches.quantile_values(spark, sf_dir).collect()
    assert rows
    # the registered (oracle-checked) shape must report the contract met
    for r in sketches.sketch_approx_quantiles(spark, sf_dir).collect():
        assert r.p50_ok and r.p90_ok and r.p99_ok, r
    vals = {}
    for r in (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    ):
        vals.setdefault(r.o_orderpriority, []).append(r.cents)
    for r in rows:
        sorted_v = sorted(vals[r.o_orderpriority])
        n = len(sorted_v)
        for p, got in ((0.5, r.p50_cents), (0.9, r.p90_cents), (0.99, r.p99_cents)):
            # rank of the returned value must sit within eps*n + 1 of p*n
            import bisect

            lo = bisect.bisect_left(sorted_v, got)
            hi = bisect.bisect_right(sorted_v, got)
            target = p * (n - 1)
            eps_ranks = n / 10_000 + 1
            assert lo - eps_ranks <= target <= hi + eps_ranks, (
                r.o_orderpriority,
                p,
                got,
            )


def test_ols_matches_numpy(spark, sf_dir):
    import numpy as np

    from spark_data_test_spark.operators import ml

    row = ml.ml_linear_regression_train(spark, sf_dir).collect()[0]
    xy = (
        t(spark, sf_dir, "documents")
        .select(
            (
                F.length(F.trim(F.col("text")))
                - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
                + 1
            ).alias("x"),
            F.length("text").alias("y"),
        )
        .collect()
    )
    x = np.array([r.x for r in xy], dtype=float)
    y = np.array([r.y for r in xy], dtype=float)
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(row.slope - slope) < 1e-6 * max(1, abs(slope))
    assert abs(row.intercept - intercept) < 1e-6 * max(1, abs(intercept))
    r = np.corrcoef(x, y)[0, 1]
    assert abs(row.r_squared - r * r) < 1e-9
    assert 0 <= row.r_squared <= 1


def test_dq_constraints_on_clean_and_dirty_data(spark, sf_dir, tmp_path):
    from spark_data_test_spark.operators.relational_ext import dq_constraint_report

    clean = {r.constraint_name: r for r in dq_constraint_report(spark, sf_dir).collect()}
    assert set(clean) == {
        "orders_pk_unique",
        "orders_custkey_fk",
        "orders_not_null_and_range",
        "lineitem_quantity_range",
        "lineitem_orderkey_fk",
    }
    # the provided testdata satisfies every constraint
    assert all(r.violations == 0 and r.passed == 1 for r in clean.values())

    # plant violations: dup PK; one row with an orphan custkey AND a
    # negative price (two counters on purpose); one lineitem per
    # lineitem rule so those counters stay independent
    sf = str(tmp_path / "sf")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    c = t(spark, sf_dir, "customer")
    first = o.limit(1)
    bad_orders = o.unionByName(first).unionByName(
        first.withColumn("o_orderkey", F.lit(-1))
        .withColumn("o_custkey", F.lit(-999))
        .withColumn("o_totalprice", F.lit(-5.0))
    )
    li_first = li.limit(1)
    bad_li = li.unionByName(
        li_first.withColumn("l_quantity", F.lit(99.0))
    ).unionByName(
        li_first.withColumn("l_orderkey", F.lit(-12345))
    )
    bad_orders.write.parquet(f"{sf}/orders.parquet")
    bad_li.write.parquet(f"{sf}/lineitem.parquet")
    c.write.parquet(f"{sf}/customer.parquet")
    dirty = {r.constraint_name: r.violations for r in dq_constraint_report(spark, sf).collect()}
    assert dirty["orders_pk_unique"] == 1
    assert dirty["orders_custkey_fk"] == 1
    assert dirty["orders_not_null_and_range"] == 1
    assert dirty["lineitem_quantity_range"] == 1
    assert dirty["lineitem_orderkey_fk"] == 1

    # EMPTY tables: every constraint is vacuously satisfied — SUM over
    # zero rows is NULL and must coalesce to 0, not fail the gate
    sf_empty = str(tmp_path / "sf_empty")
    o.limit(0).write.parquet(f"{sf_empty}/orders.parquet")
    li.limit(0).write.parquet(f"{sf_empty}/lineitem.parquet")
    c.limit(0).write.parquet(f"{sf_empty}/customer.parquet")
    empty = dq_constraint_report(spark, sf_empty).collect()
    assert all(r.violations == 0 and r.passed == 1 for r in empty)


def test_fuzzy_match_is_exact_within_block(spark, sf_dir):
    from spark_data_test_spark.operators.relational_ext import (
        _FUZZY_MAX_DIST,
        part_fuzzy_match,
    )

    got = {(r.name_a, r.name_b): r.edit_distance for r in part_fuzzy_match(spark, sf_dir).collect()}
    assert got, "the part vocabulary always contains near-identical names"
    names = [r.p_name for r in t(spark, sf_dir, "part").select("p_name").distinct().collect()]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = {}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            x, y = sorted((a, b))
            if x.rsplit(" ", 1)[-1] == y.rsplit(" ", 1)[-1]:
                d = lev(x, y)
                if d <= _FUZZY_MAX_DIST:
                    expected[(x, y)] = d
    assert got == expected


def test_quality_deciles_partition_docs(spark, sf_dir):
    from spark_data_test_spark.operators.text import (
        text_quality_deciles,
        text_quality_model_score,
    )

    rows = sorted(text_quality_deciles(spark, sf_dir).collect(), key=lambda r: r.decile)
    n_docs = text_quality_model_score(spark, sf_dir).count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert [r.decile for r in rows] == list(range(1, 11))
    # deciles are score-ordered and near-equal in size
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_score_milli <= hi.min_score_milli
        assert abs(lo.n_docs - hi.n_docs) <= 1


def test_library_triangle_count_on_edge_frame(spark):
    from spark_data_test_spark import triangle_count

    # K4 (10,20,30,40) + pendant edge 40-50
    k4 = [(a, b) for a in (10, 20, 30, 40) for b in (10, 20, 30, 40) if a < b]
    edges = spark.createDataFrame(k4 + [(40, 50)], "u long, v long")
    row = triangle_count(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles, row.n_wedges) == (5, 7, 4, 15)


def test_library_pagerank_fixed_hand_computed(spark):
    from spark_data_test_spark import pagerank_fixed

    # star 1-2, 1-3: three rounds of the fixed-point recurrence by hand
    edges = spark.createDataFrame([(1, 2), (1, 3)], "u long, v long")
    got = {r.node: r.rank_micro for r in pagerank_fixed(edges).collect()}
    assert got == {1: 1741625, 2: 629187, 3: 629187}


def test_library_ols_fit_exact_line(spark):
    from spark_data_test_spark import ols_fit

    df = spark.createDataFrame([(1, 2), (2, 4), (3, 6)], "a long, b long")
    row = ols_fit(df, "a", "b").collect()[0]
    assert (row.n, row.sx, row.sy, row.sxy, row.sxx) == (3, 6, 12, 28, 14)
    assert row.slope == 2.0 and row.intercept == 0.0 and row.r_squared == 1.0


def test_library_blocked_fuzzy_pairs(spark):
    from spark_data_test_spark import blocked_fuzzy_pairs

    df = spark.createDataFrame(
        [("cold anvil", "anvil"), ("old anvil", "anvil"),
         ("old anvil", "anvil"),  # duplicate row: entity-level dedup
         ("blue anvil", "anvil"), ("cold widget", "widget")],
        "name string, noun string",
    )
    got = {(r.value_a, r.value_b): r.edit_distance
           for r in blocked_fuzzy_pairs(df, "name", "noun", 2).collect()}
    # "blue anvil" is 4 edits from both others; cross-block pairs never form
    assert got == {("cold anvil", "old anvil"): 1}


def test_langid_confusion_totals(spark, sf_dir):
    rows = text.text_langid_confusion(spark, sf_dir).collect()
    n_docs = t(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    labels = {
        r.lang for r in t(spark, sf_dir, "documents").select("lang").distinct().collect()
    }
    assert {r.labeled_lang for r in rows} == labels
    # predictions stay inside the detector's 4-class vocabulary; the
    # matrix's JOB is to expose degeneracy (this synthetic corpus has
    # no real language signal, so the detector collapses to the
    # tie-break class — exactly what the eval must reveal, hence no
    # accuracy bar here)
    assert {r.pred_lang for r in rows} <= {"en", "de", "fr", "es"}


def test_open_backlog_conserves_orders(spark, sf_dir):
    from spark_data_test_spark.operators.analytics import orders_open_backlog_daily

    rows = sorted(
        orders_open_backlog_daily(spark, sf_dir).collect(), key=lambda r: r.day
    )
    n_orders = t(spark, sf_dir, "orders").count()
    assert sum(r.opened for r in rows) == n_orders
    assert sum(r.closed for r in rows) == n_orders
    # every order closes 30 days after opening: the curve ends at zero
    assert rows[-1].open_backlog == 0
    assert all(r.open_backlog >= 0 for r in rows)
    # running sum consistency
    run = 0
    for r in rows:
        run += r.opened - r.closed
        assert r.open_backlog == run


def test_ab_readout_null_experiment(spark, sf_dir):
    """Hash-split arms draw from the SAME distribution (an A/A test):
    z-scores must be unremarkable and means close."""
    from spark_data_test_spark.operators.analytics import events_ab_test_readout

    rows = events_ab_test_readout(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.na > 1 and r.nb > 1
        assert abs(r.z_score) < 5, (r.event_type, r.z_score)
        assert abs(r.mean_a - r.mean_b) / max(abs(r.mean_a), 1e-9) < 0.5
    # determinism: identical rerun
    again = events_ab_test_readout(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_library_connected_components(spark):
    from spark_data_test_spark import connected_components

    # two components: {1,2,3} chained, {10,11}; seed = vertex id
    und = [(1, 2), (2, 3), (10, 11)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "a long, b long"
    )
    verts = edges.selectExpr("a AS gid").distinct().selectExpr(
        "gid", "gid AS component_id"
    )
    got = {r.gid: r.component_id for r in connected_components(verts, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_library_connected_components_rejects_partial_seed(spark):
    import pytest

    from spark_data_test_spark import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (3, 2)], "a long, b long")
    partial = spark.createDataFrame([(1, 1)], "gid long, component_id long")
    with pytest.raises(ValueError, match="absent from"):
        connected_components(partial, edges)


def test_hierarchy_guard_fires_on_deep_tree(spark, sf_dir, tmp_path):
    """A chain deeper than _HIER_ROUNDS must raise, not silently
    truncate (the one failure the oracle replay cannot catch)."""
    import pytest

    from spark_data_test_spark.operators.analytics import (
        supplier_hierarchy_rollup,
    )

    # chain 0 <- 1*10^0... keys 0,1,11,111,1111,11111,111111: parent
    # (k-1) div 10 links each to the previous -> depth 6 > 5 rounds
    keys = [0, 1, 11, 111, 1111, 11111, 111111]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(k, 1.0) for k in keys], "s_suppkey long, s_acctbal double"
    ).write.parquet(f"{sf}/supplier.parquet")
    with pytest.raises(RuntimeError, match="deeper than"):
        supplier_hierarchy_rollup(spark, sf)


def test_library_logit_fit_matches_bruteforce(spark):
    import math

    from spark_data_test_spark import logit_fit

    def rhalf(x):
        # Spark round() on double = BigDecimal HALF_UP: half away from zero
        return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    rows = [
        # (y, f1, f2) — non-binary small-int features
        (1, 3, 0), (1, 5, 1), (0, 0, 2), (0, 1, 4), (1, 4, 1),
        (0, 2, 3), (1, 6, 0), (0, 0, 5), (1, 3, 2), (0, 1, 1),
    ]
    df = spark.createDataFrame(rows, "y long, f1 long, f2 long")

    iters, lr = 3, 4
    w = [0, 0, 0]
    for _ in range(iters):
        g = [0, 0, 0]
        for y, f1, f2 in rows:
            z = float(w[0] + w[1] * f1 + w[2] * f2) / 1000000
            ri = rhalf((y - (0.5 + (z / 2) / (1 + abs(z)))) * 1000000)
            g[0] += ri
            g[1] += f1 * ri
            g[2] += f2 * ri
        w = [w[j] + tdiv(lr * g[j], len(rows)) for j in range(3)]
    n_correct = sum(
        1
        for y, f1, f2 in rows
        if (w[0] + w[1] * f1 + w[2] * f2 >= 0) == (y == 1)
    )

    got = logit_fit(df, ["f1", "f2"], "y", iters=iters, lr_num=lr).collect()[0]
    assert (got.w0_1e6, got.w1_1e6, got.w2_1e6) == tuple(w)
    assert got.n == len(rows)
    assert got.n_correct == n_correct
    assert got.accuracy_pct == (100 * n_correct) // len(rows)


def test_library_logit_fit_parity_with_registered_trainer(spark):
    from spark_data_test_spark import logit_fit
    import duckdb

    from spark_data_test_spark.operators.ml import _GD_ITERS, _fit_logistic, _gd_ctes

    rows = [
        (1, 1, 0, 1), (1, 1, 1, 0), (0, 0, 0, 1), (0, 0, 1, 0),
        (1, 1, 1, 1), (0, 0, 0, 0), (1, 0, 1, 1), (0, 1, 0, 0),
    ]
    feat = spark.createDataFrame(rows, "y long, x1 long, x2 long, x3 long")
    # the oracle's CTE chain: the CASE WHEN x=1 THEN ri gradient
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE feat AS SELECT * FROM (VALUES "
        + ", ".join(str(r) for r in rows)
        + ") t(y, x1, x2, x3)"
    )
    want = list(
        con.execute(
            f"WITH {_gd_ctes()} SELECT w0, w1, w2, w3 FROM w{_GD_ITERS}"
        ).fetchone()
    )
    got = logit_fit(feat, ["x1", "x2", "x3"], "y", iters=_GD_ITERS).collect()[0]
    # sum(x·ri) == CASE WHEN x=1 THEN ri form on indicator features
    assert [got.w0_1e6, got.w1_1e6, got.w2_1e6, got.w3_1e6] == want
    assert _fit_logistic(feat) == want  # the registered queries' fit


def test_library_logit_fit_null_rows_excluded(spark):
    from spark_data_test_spark import logit_fit

    base = [(1, 2, 1), (0, 0, 3), (1, 4, 0), (0, 1, 2)]
    clean = spark.createDataFrame(base, "y long, f1 long, f2 long")
    dirty = spark.createDataFrame(
        base + [(None, 1, 1), (1, None, 0), (0, 2, None)],
        "y long, f1 long, f2 long",
    )
    a = logit_fit(clean, ["f1", "f2"], "y").collect()[0]
    b = logit_fit(dirty, ["f1", "f2"], "y").collect()[0]
    assert a == b and a.n == len(base)

    empty = spark.createDataFrame([], "y long, f1 long, f2 long")
    try:
        logit_fit(empty, ["f1"], "y")
        assert False, "expected ValueError on zero training rows"
    except ValueError:
        pass
    for bad in (
        {"x_cols": [], "y_col": "y"},
        {"x_cols": ["f1", "f1"], "y_col": "y"},
        {"x_cols": ["f1"], "y_col": "y", "iters": 0},
        {"x_cols": ["f1"], "y_col": "y", "lr_num": 0},
    ):
        try:
            logit_fit(clean, **bad)
            assert False, f"expected ValueError for {bad}"
        except ValueError:
            pass
