"""Physical-plan regression gates (SURVEY.md §4, 100 TB checklist).

These don't check answers (the oracle harness does); they check that
Catalyst produced the plan we *want* — pushdown, pruning, broadcast,
partial aggregation, codegen — so de-optimizations fail loudly.
"""

from spark_data_test_spark.operators.relational import (
    left_join_enrich,
    scan_filter_project,
    tpch_q1_pricing_summary,
    tpch_q5_local_supplier,
)
from spark_data_test_spark.plans.audit import (
    count_shuffles,
    has_broadcast_join,
    has_partial_aggregation,
    has_pushed_filter,
    in_wholestage_codegen,
    plan_op_counts,
    scan_read_schema,
)
from spark_data_test_spark.utils.spark_utils import clear_all


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = scan_filter_project(spark, sf_dir)
    assert has_pushed_filter(df, "l_quantity")


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = scan_filter_project(spark, sf_dir)
    schemas = scan_read_schema(df)
    assert schemas, "expected a parquet scan"
    # only the 4 projected columns are read, not all 11
    assert all(s.count(":") == 4 for s in schemas), schemas


def test_dimension_join_is_broadcast(spark, sf_dir):
    assert has_broadcast_join(left_join_enrich(spark, sf_dir))


def test_star_join_broadcasts_all_dimensions(spark, sf_dir):
    df = tpch_q5_local_supplier(spark, sf_dir)
    assert has_broadcast_join(df)
    # Only the fact-fact join (lineitem x orders) and the final agg may
    # shuffle; every dimension join must be broadcast. AQE may add a
    # read-side exchange but the count must stay small.
    assert count_shuffles(df) <= 4


def test_aggregate_is_partial(spark, sf_dir):
    df = tpch_q1_pricing_summary(spark, sf_dir)
    assert has_partial_aggregation(df)


def test_q1_wholestage_codegen(spark, sf_dir):
    # AQE's pre-execution plan hides codegen subtrees; plan once with
    # AQE off to observe the compiled pipelines.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = tpch_q1_pricing_summary(spark, sf_dir)
        assert in_wholestage_codegen(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q1_single_shuffle(spark, sf_dir):
    # scan -> partial agg -> exchange -> final agg: exactly one shuffle
    assert count_shuffles(tpch_q1_pricing_summary(spark, sf_dir)) == 1


def test_q19_disjunction_pushes_to_both_scans(spark, sf_dir):
    from spark_data_test_spark.operators.analytics import (
        tpch_q19_disjunctive_revenue,
    )
    from spark_data_test_spark.plans.audit import simple_plan

    plan = simple_plan(tpch_q19_disjunctive_revenue(spark, sf_dir))
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    part_scan = [l for l in scans if "p_brand" in l]
    li_scan = [l for l in scans if "l_extendedprice" in l]
    # the OR-of-ANDs must split: brand/size prefix on the part scan,
    # quantity prefix on the lineitem scan — not a bare post-join
    # filter. Parse the DataFilters list itself: the trailing ReadSchema
    # also mentions l_quantity, so a substring check on the whole line
    # would pass vacuously.
    assert part_scan and "Brand#1" in part_scan[0]

    def data_filters(line):
        if "DataFilters: [" not in line:
            return ""
        return line.split("DataFilters: [", 1)[1].split("]", 1)[0]

    assert li_scan and "l_quantity" in data_filters(li_scan[0])


def test_q4_exists_is_semi_join(spark, sf_dir):
    from spark_data_test_spark.operators.analytics import (
        tpch_q4_priority_check,
    )
    from spark_data_test_spark.plans.audit import simple_plan

    plan = simple_plan(tpch_q4_priority_check(spark, sf_dir))
    assert "LeftSemi" in plan  # no row multiplication, no distinct


def test_partitioned_sink_scan_prunes_partitions(spark, sf_dir, tmp_path):
    # write events partitioned by event_type, read back with a filter on
    # the partition column: the scan must show a PartitionFilters entry
    # and read only the matching directory (partition pruning — the
    # mechanism that turns a 100 TB scan into a one-partition scan)
    import pyspark.sql.functions as F

    from spark_data_test_spark.operators.relational import t as _t
    from spark_data_test_spark.plans.audit import simple_plan

    out = str(tmp_path / "events_by_type")
    (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    df = spark.read.parquet(out).where(F.col("event_type") == "purchase")
    plan = simple_plan(df)
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters" in scan
    assert "purchase" in scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # and the filtered read returns exactly the purchases
    want = (
        _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase").count()
    )
    assert df.count() == want


def test_embedding_dedup_join_discipline(spark, sf_dir):
    # The IVF candidate stage must stay an equi-join on the cell id:
    # a CartesianProduct anywhere in the pair pipeline is the O(n^2)
    # de-optimization this family exists to avoid. (Broadcast
    # nested-loop against the ncells-row centroid frame is fine — the
    # small side is bounded by sqrt(n).)
    from spark_data_test_spark.operators import dedup
    from spark_data_test_spark.plans.audit import simple_plan

    clear_all()
    try:
        df = dedup.dedup_embedding_cosine(spark, sf_dir)
        assert "CartesianProduct" not in simple_plan(df)
    finally:
        clear_all()


def test_observe_metrics_ride_the_action(spark, sf_dir):
    # df.observe collects aggregates DURING the action — no second scan;
    # the pattern for row-count/quality accounting on 100 TB writes
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from spark_data_test_spark.operators.relational import t as _t

    obs = Observation("ingest_metrics")
    ev = _t(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("null_values"),
    )
    total = ev.count()
    assert obs.get["n_rows"] == total
    assert obs.get["null_values"] == 0


def test_model_score_has_no_shuffle(spark, sf_dir):
    """Model inference is scan-side: featurize + broadcast weights +
    filter must plan with ZERO exchanges."""
    from spark_data_test_spark.operators.text import text_quality_model_score

    df = text_quality_model_score(spark, sf_dir)
    assert count_shuffles(df) == 0
    assert has_broadcast_join(df) or "BroadcastNestedLoop" in df._jdf.queryExecution().executedPlan().toString()


def test_transition_matrix_single_user_shuffle(spark, sf_dir):
    """The lag window is the only event-volume shuffle; the total comes
    from a window over the types^2 frame, never a self-join that would
    scan events twice."""
    from spark_data_test_spark.operators.temporal import events_transition_matrix

    df = events_transition_matrix(spark, sf_dir)
    assert count_shuffles(df) <= 3
    assert len(scan_read_schema(df)) == 1, "events must be scanned once"


def test_rolling_window_single_shuffle(spark, sf_dir):
    from spark_data_test_spark.operators.temporal import events_rolling_window_avg

    df = events_rolling_window_avg(spark, sf_dir)
    assert count_shuffles(df) == 1


def test_cumulative_distinct_keeps_window_off_events(spark, sf_dir):
    """Event volume reaches only the first aggregate; the running-sum
    window runs over the day-level frame (single-partition window is
    fine THERE because its input is bounded by distinct days)."""
    from spark_data_test_spark.operators.temporal import (
        events_cumulative_distinct_users,
    )

    df = events_cumulative_distinct_users(spark, sf_dir)
    assert count_shuffles(df) <= 3


def test_ngram_novelty_joins_at_doc_level(spark, sf_dir):
    """The first_seen relation must fold to per-doc counts BEFORE any
    join: the only join in the plan runs at document cardinality (a
    shingle-keyed join back onto the full shingle set would shuffle
    the corpus's shingles a third time for nothing)."""
    from spark_data_test_spark.operators.text import text_ngram_novelty

    df = text_ngram_novelty(spark, sf_dir)
    ops = plan_op_counts(df)
    assert ops["Scan parquet "] <= 2, "documents scanned more than twice"
    assert count_shuffles(df) <= 6


def test_source_similarity_has_no_shingle_self_join(spark, sf_dir):
    """Source-pair expansion happens inside a post-aggregate array
    transform (bounded by the source count), never a shingle-keyed
    self-join — at corpus scale the self-join's probe side would be
    every (source, shingle) row."""
    from spark_data_test_spark.operators.dedup import corpus_source_similarity

    df = corpus_source_similarity(spark, sf_dir)
    ops = plan_op_counts(df)
    assert "SortMergeJoin" not in ops, "shingle-cardinality join crept in"
    assert "CartesianProduct" not in ops
    assert ops["Scan parquet "] <= 3


def test_bucketed_index_probe_index_side_is_exchange_free(spark, sf_dir):
    """With the shard too big to broadcast (threshold forced off), the
    probe sort-merge-joins against the bucketed index and the ONLY
    exchange (and the only sort) in the join stage belongs to the
    shard side: the bucketed-sorted scan itself satisfies the join's
    distribution and ordering for the index. This is the property that
    lets a multi-TB fingerprint index be probed by repeated ingests
    without ever being shuffled."""
    from spark_data_test_spark.operators import dedup

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # one-file-per-bucket scans only report their in-bucket sort order
    # under this flag (off by default since 3.0); without it the scan
    # satisfies the join's distribution but not its ordering
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    try:
        dedup.dedup_bucketed_index_probe(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )
    plan = dedup._last_bucketed_probe_plan
    assert plan is not None, "probe plan hook was not captured"
    assert "SortMergeJoin" in plan, "expected SMJ with broadcast off"
    assert "Bucketed: true" in plan
    tree = plan.split("\n\n")[0]  # the numbered operator tree
    lines = tree.splitlines()
    smj = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
    # child-drawing column of the SMJ: its children are drawn with
    # ":-"/"+-" at the SMJ's text indent; LEFT-subtree lines keep a
    # ":" continuation at that column, the RIGHT (index) chain does not
    col = lines[smj].index(lines[smj].lstrip("*: +-")[0])
    right = [
        l for l in lines[smj + 1 :]
        if len(l) > col and l[col] != ":"
    ]
    # the right chain runs from the SMJ straight down to the bucketed
    # scan: no Exchange (bucketing provides distribution) and no Sort
    # (in-bucket sortBy provides ordering)
    assert any("Scan" in l for l in right), right
    assert not any("Exchange" in l for l in right), right
    assert not any(l.strip().lstrip(":+- *").startswith("Sort ") for l in right), right


def test_pair_frame_memos_are_shared(spark, sf_dir):
    # Round-9 contract: the final verified PAIR frames are session
    # memos, so the second consumer in each family rides an
    # InMemoryTableScan instead of re-running the sibling's pipeline
    # (the cross-consumer recompute PLANS_r08.md flagged). Plans are
    # inspected WITHOUT executing; caches cleared after.
    from spark_data_test_spark.operators import dedup, multimodal
    from spark_data_test_spark.plans.audit import simple_plan

    clear_all()
    try:
        dedup.dedup_embedding_cosine(spark, sf_dir)  # owns the memo
        curve_plan = simple_plan(
            dedup.dedup_semantic_prune_curve(spark, sf_dir)
        )
        assert "InMemoryTableScan" in curve_plan
        # the curve must NOT re-plan the cell self-join: the memoized
        # pair frame means no scan of the embeddings payload beyond the
        # n_total count aggregate (ReadSchema of the count scan is
        # empty), and no cartesian anywhere
        assert "CartesianProduct" not in curve_plan

        multimodal.multimodal_phash_neardup(spark, sf_dir)
        cm_plan = simple_plan(
            multimodal.multimodal_crossmodal_agreement(spark, sf_dir)
        )
        assert "InMemoryTableScan" in cm_plan
    finally:
        clear_all()


def test_dq_check_row_rules_fuse_into_one_scan(spark, sf_dir):
    """Round-11 pin (VERDICT r10 item 4): every not_null/expr rule in a
    dq_check gate fuses into ONE conditional aggregate — adding a rule
    adds a CASE column, never a pass over the data. Four row-predicate
    rules = exactly one parquet scan and one (partial-agg) shuffle; a
    unique rule adds exactly its own keyed-count scan."""
    from spark_data_test_spark import dq_check
    from spark_data_test_spark.plans.audit import simple_plan

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rules = [
        {"name": "a", "type": "not_null", "cols": ["o_custkey"]},
        {"name": "b", "type": "expr", "expr": "o_totalprice > 0"},
        {"name": "c", "type": "expr",
         "expr": "o_orderstatus in ('O','F','P')"},
        {"name": "d", "type": "not_null",
         "cols": ["o_orderdate", "o_orderpriority"]},
    ]
    fused = dq_check(orders, rules)
    plan = simple_plan(fused)
    assert plan.count("Scan parquet") == 1, plan
    assert count_shuffles(fused) == 1, plan
    with_unique = dq_check(
        orders, rules + [{"name": "pk", "type": "unique",
                          "cols": ["o_orderkey"]}]
    )
    assert simple_plan(with_unique).count("Scan parquet") == 2


def test_ivf_index_probe_constant_plan_shape(spark, sf_dir, tmp_path):
    """Round-11 pin (VERDICT r10 item 3): `ivf_index_probe` answers a
    batch from the COMMITTED index with a corpus-size-independent plan
    shape — a bounded, constant number of shuffles (probe-cell window,
    postings latest-wins resolve, final rank window), no cartesian
    product, and the only unconditional broadcast is the ~sqrt(n)
    centroid frame. Cost tracks batch x probed cells (the x10/x30
    slope study records the measurement; this pins the shape)."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe
    from spark_data_test_spark.plans.audit import simple_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(emb, idx, id_col="vec_id", vec_col="embedding")
    res = ivf_index_probe(
        emb.limit(8), idx, k=3, nprobe=2,
        id_col="vec_id", vec_col="embedding",
    )
    plan = simple_plan(res)
    assert count_shuffles(res) <= 4, plan
    assert "CartesianProduct" not in plan
    # postings log (1 committed version) + centroids + 2 query-side
    # reads of the persisted batch: the corpus itself is NEVER rescanned
    assert plan.count("Scan parquet") <= 4, plan


def test_fuzzy_match_is_block_equi_join(spark, sf_dir):
    """`fuzzy_match` must stay an equi-join on the blocking key with
    the levenshtein refine INSIDE the join stage — never a cartesian —
    and a bounded shuffle count (two side-distincts + pair dedupe;
    keep="best" adds one keyed aggregate, not a window over all
    candidates)."""
    from spark_data_test_spark import fuzzy_match
    from spark_data_test_spark.plans.audit import simple_plan

    a = spark.read.parquet(f"{sf_dir}/part.parquet").selectExpr(
        "p_name", "split_part(p_name, ' ', -1) AS blk"
    )
    b = a.selectExpr("p_name AS label", "blk AS grp")
    for keep, max_shuffles in (("all", 3), ("best", 4)):
        f = fuzzy_match(
            a, b, "p_name", "blk",
            value_col_b="label", block_col_b="grp", keep=keep,
        )
        plan = simple_plan(f)
        assert "CartesianProduct" not in plan
        assert count_shuffles(f) <= max_shuffles, (keep, plan)


def test_hypertable_rollup_is_one_expand_aggregate(spark, sf_dir):
    """`hypertable_rollup` must plan as ONE aggregate over an Expand
    (every resolution from one pass — no per-resolution rescan or
    union of grouped subplans): exactly one scan of the input and one
    shuffle."""
    from pyspark.sql import functions as F

    from spark_data_test_spark import hypertable_rollup
    from spark_data_test_spark.plans.audit import simple_plan

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = hypertable_rollup(
        ev, "ts",
        [F.count(F.lit(1)).alias("n")],
        {"day": 86400, "hour": 3600},
        keys=["event_type"],
    )
    plan = simple_plan(res)
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1, plan
    assert count_shuffles(res) == 1, plan


def test_containment_family_broadcast_discipline(spark, sf_dir):
    """Round-12 pin (VERDICT r11 item 1): the containment family's only
    FORCED broadcast is the small Zipf-head HOT shingle list — the
    rare-shingle restriction is a left_anti join against it (rare =
    all − hot), and every per-text frame (sizes, hot arrays) joins by
    key with NO hint so AQE decides. With the auto-broadcast threshold
    disabled, any BroadcastHashJoin left in the plan is a forced hint —
    assert each one is keyed on the shingle column, never on the
    corpus-cardinality gid/doc keys. Checked on the one build's plan
    hook after each entry point (registered query, `containment_pairs`)."""
    from spark_data_test_spark import containment_pairs
    from spark_data_test_spark.operators import dedup

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    clear_all()  # force a fresh gid-co build
    plans = []
    try:
        dedup._last_gid_co_plan = None
        dedup.dedup_containment(spark, sf_dir)
        plans.append(dedup._last_gid_co_plan)
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "text")
            .limit(200)
        )
        dedup._last_gid_co_plan = None
        containment_pairs(docs)
        plans.append(dedup._last_gid_co_plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        clear_all()
    for plan in plans:
        assert plan is not None, "plan hooks were not captured"
        bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
        assert bhj, "the forced hot-list broadcast must survive"
        for line in bhj:
            assert "[sh#" in line, line  # keyed on the shingle column
            for bad in ("[ga#", "[gb#", "[gid", "[doc_id"):
                assert bad not in line, line
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_market_basket_query_topk_is_take_ordered(spark, sf_dir):
    """Round-13 pin (VERDICT r12 item 1a): the registered
    `orders_market_basket` top-25 plans as TakeOrderedAndProject —
    per-partition partial top-k merged on the driver — never a
    row_number window whose unpartitioned sort funnels the entire
    part-pair support set (linear in the corpus) through ONE task."""
    from spark_data_test_spark.operators.analytics import orders_market_basket
    from spark_data_test_spark.plans.audit import simple_plan

    plan = simple_plan(orders_market_basket(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Sort [support" not in plan, plan


def test_top_session_paths_query_topk_is_take_ordered(spark, sf_dir):
    """Round-13 pin (VERDICT r12 item 1b): the registered
    `events_top_session_paths` top-20 plans as TakeOrderedAndProject.
    Path cardinality grows with users x sessions, so a global-sort
    window over the distinct-path counts is the condemned single-task
    shape. The sessionization windows (partitioned by user_id) stay;
    only an UNPARTITIONED sort of the path counts is banned."""
    from spark_data_test_spark.operators.temporal import (
        events_top_session_paths,
    )
    from spark_data_test_spark.plans.audit import simple_plan

    plan = simple_plan(events_top_session_paths(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [n_sessions" not in plan, plan
    # every Window left in the plan is the user-partitioned
    # sessionization pair, never a global ranking window
    for line in simple_plan(events_top_session_paths(spark, sf_dir)).splitlines():
        if "Window" in line:
            assert "user_id" in line, line


def test_quality_deciles_has_no_global_sort_window(spark, sf_dir):
    """Round-13 pin (VERDICT r12 item 1c): `text_quality_deciles`
    computes the global rank with the two-phase bucket decomposition
    (partition-local row_number + broadcast prefix offsets), so the
    only Window over the doc-cardinality frame is PARTITIONED by the
    score bucket; no global ntile/row_number sort survives, and the
    bucket-prefix window runs over the tiny per-bucket count frame."""
    from spark_data_test_spark.operators.text import text_quality_deciles
    from spark_data_test_spark.plans.audit import simple_plan

    df = text_quality_deciles(spark, sf_dir)
    plan = simple_plan(df)
    assert "ntile" not in plan, plan
    for line in plan.splitlines():
        if "Window [" not in line:
            continue
        # each window is either the bkt-partitioned intra-bucket rank
        # or the bucket-count prefix sum (input = per-bucket counts,
        # identifiable by its bn/prefix sum expression)
        assert ("[bkt#" in line) or ("bn#" in line), line


def test_global_window_whitelist_matches_code(spark, sf_dir):
    """Round-13 guard (VERDICT r12 item 3): `scripts/audit_plans.py`
    whitelists the queries allowed to plan a Window with an empty
    partition spec (bounded-input sites only). Keep the list honest in
    both directions: every whitelisted query must still HAVE such a
    window (else the entry is stale), and the three sites the wart-fix
    rewrote must have NONE (the class stays closed; new instances are
    caught registry-wide by the audit script itself, which exits
    non-zero on any unwhitelisted hit)."""
    import importlib.util

    from spark_data_test_spark.plans.audit import global_window_nodes

    spec = importlib.util.spec_from_file_location(
        "audit_plans", "scripts/audit_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in mod.GLOBAL_WINDOW_WHITELIST:
        assert global_window_nodes(qs[name](spark, sf_dir)), (
            f"{name} is whitelisted but plans no global window — stale entry"
        )
    for name in (
        "orders_market_basket",
        "events_top_session_paths",
        "text_quality_deciles",
    ):
        hits = global_window_nodes(qs[name](spark, sf_dir))
        if name == "text_quality_deciles":
            # its one remaining global window is the whitelisted
            # bucket-count prefix sum, never a doc-cardinality rank
            assert all("sum(bn" in h for h in hits), hits
        else:
            assert not hits, hits


def test_refined_ann_and_index_probe_plan_discipline(spark, sf_dir):
    """Round-15 pin (VERDICT r14 items 2-3): the registered persisted-
    index lifecycle queries and the shortlist+refine composition keep
    the ANN family's plan rules — no cartesian product, every rank
    window partitioned by query (no unpartitioned/global window), and
    the only broadcasts are model-sized or query-batch-sized (the
    resolver/postings joins stay unhinted for AQE)."""
    import __spark_entry__ as entry_mod
    from spark_data_test_spark.plans.audit import (
        global_window_nodes,
        simple_plan,
    )

    qmap = entry_mod.queries()
    for name in (
        "similarity_refined_ann",
        "similarity_pq_index_probe",
        "similarity_ivfpq_index_probe",
        "similarity_ivf_index_probe",
    ):
        df = qmap[name](spark, sf_dir)
        plan = simple_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert global_window_nodes(df) == [], (name, plan)


def test_argmax_fold_evaluates_once(spark):
    """Round-18 pin (the lambda-CSE gotcha): the packed-model argmax
    fold must route through a Generate (explode of a one-element
    array), under both cosine trees, so it materializes ONCE per row — lambda
    expressions are excluded from common-subexpression elimination, so
    a projected fold referenced by the null filter plus the field
    extractions would re-run the whole ncells x dim fold 2-3x per row
    (measured ~1.8x slower). The fold expression must therefore appear
    exactly once in the physical plan, inside a Generate."""
    from pyspark.sql import functions as F

    from spark_data_test_spark.operators.similarity import (
        _COS_D_CT,
        _COS_INT_CT,
        _argmax_cell,
    )
    from spark_data_test_spark.plans.audit import formatted_plan

    emb = spark.createDataFrame(
        [(1, [1, 2], 5)], "vec_id long, e array<int>, n2 long"
    )
    cents = spark.createDataFrame(
        [(7, [1, 0], 1), (8, [0, 1], 1)],
        "cent_id long, ce array<int>, cn2 long",
    )
    plan = formatted_plan(_argmax_cell(emb, cents, _COS_INT_CT))
    assert plan.count("zip_with") == 1, plan
    assert "Generate" in plan, plan

    frame = spark.createDataFrame(
        [(1, [1.0, 2.0], 5.0)], "_id long, _v array<double>, _n2 double"
    )
    cents_d = spark.createDataFrame(
        [(7, [1.0, 0.0], 1.0), (8, [0.0, 1.0], 1.0)],
        "cent_id long, _cv array<double>, _cn2 double",
    )
    plan_d = formatted_plan(_argmax_cell(frame, cents_d, _COS_D_CT))
    assert plan_d.count("zip_with") == 1, plan_d
    assert "Generate" in plan_d, plan_d


def test_dedup_exact_is_single_partial_aggregate(spark, sf_dir):
    """Round-18 pin (optimization round 1, guide §2.2): `dedup_exact`'s
    survivor rule (min doc_id) and lineage count fold into ONE
    map-side-combinable aggregate — the exchange carries per-hash
    partials, never the whole corpus, and no Window (whose shuffle
    ships every row and sorts each hash group) may reappear."""
    from spark_data_test_spark.operators.dedup import dedup_exact
    from spark_data_test_spark.plans.audit import simple_plan

    df = dedup_exact(spark, sf_dir)
    plan = simple_plan(df)
    assert "Window" not in plan, plan
    assert has_partial_aggregation(df)
    assert count_shuffles(df) == 1, plan


def test_basket_pair_expansion_is_in_task(spark, sf_dir):
    """Round-18 pin (optimization round 1, guide §2.1): the registered
    `orders_market_basket` expands each order's sorted distinct-part
    basket IN-TASK (Generate over the basket collect_set aggregate)
    instead of the old distinct -> self-join-on-orderkey — no join node
    may reappear anywhere in the plan, and the pair-support aggregate
    must stay map-side partial."""
    from spark_data_test_spark.operators.analytics import orders_market_basket
    from spark_data_test_spark.plans.audit import simple_plan

    df = orders_market_basket(spark, sf_dir)
    plan = simple_plan(df)
    assert "Generate" in plan, plan
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan
    assert has_partial_aggregation(df)


def test_band_pairs_expansion_is_in_task(spark, sf_dir):
    """Round-19 pin (guide §2.1 + §5, VERDICT r18 item 2): the MinHash
    banding candidate build collects each at-or-under-`_BUCKET_CAP`
    (band, sig) bucket with one aggregate and expands pairs in-task
    (two-level explode). The bucket SELF-join survives ONLY as the
    size-gated hot-bucket fallback behind the broadcast oversized-key
    gate, so the plan must contain the LeftAnti gate, the expansion
    Generates and the collect_set ObjectHashAggregate, and AT MOST ONE
    non-broadcast join (the fallback). Pinned on the internal build
    frame because every registered consumer reads it through an eager
    localCheckpoint leaf."""
    from spark_data_test_spark.operators import dedup
    from spark_data_test_spark.plans.audit import plan_op_counts, simple_plan

    sets = dedup._cached_sets(spark, sf_dir).withColumnRenamed("gid", "doc_id")
    df = dedup._band_pairs(dedup._band_index(dedup._signatures(sets)))
    counts = plan_op_counts(df)
    assert counts["SortMergeJoin"] + counts["ShuffledHashJoin"] <= 1, counts
    assert counts["CartesianProduct"] == 0, counts
    assert counts["BroadcastNestedLoopJoin"] == 0, counts
    # two Generates: posexplode over the bucket, explode of the i-tail
    # (plus the band explode itself); the collect_set bucket aggregate
    # is an ObjectHashAggregate with a partial mode
    assert counts["Generate"] >= 3, counts
    assert counts["ObjectHashAggregate"] >= 1, counts
    assert "LeftAnti" in simple_plan(df)  # the broadcast hot-key gate


def test_minhash_fingerprint_stage_plans_one_exchange(spark, sf_dir):
    """The MinHash fingerprint stage (distinct texts -> shingle sets ->
    signatures) plans exactly ONE Exchange, the fixed-width gid
    repartition that dedups texts (never coalesced into one task by
    AQE), then computes every shingle set and md5 signature in-row: no
    shuffle of shingle rows (no Generate anywhere) and no join against
    a shingle hash dictionary."""
    from spark_data_test_spark.operators import dedup
    from spark_data_test_spark.operators.relational import t
    from spark_data_test_spark.plans.audit import plan_op_counts, simple_plan

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    _, sets = dedup._text_groups(docs)
    df = dedup._signatures(sets, "gid")
    counts = plan_op_counts(df)
    plan = simple_plan(df)
    assert counts["Exchange"] == 1, counts
    assert "hashpartitioning(gid" in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert counts["Generate"] == 0, counts
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert counts[join] == 0, counts


def test_simhash_pair_banding_is_in_task(spark, sf_dir):
    """Round-19 pin (guide §2.1 + §5, VERDICT r18 item 2): the simhash
    banding candidates expand in-task from per-bucket member arrays
    (`bucket_pairs`) with the exact-hamming verify pushed right after
    the expansion; buckets over `_BUCKET_CAP` stream through the gated
    fallback self-join (verify in its join condition). At most ONE
    join line may mention the band/sig keys — the gated fallback — and
    the broadcast LeftAnti gate plus the collect_set
    ObjectHashAggregate must be present. The other joins are the
    membership expansion joins, all keyed on gid."""
    from spark_data_test_spark.operators.dedup import dedup_simhash_pairs
    from spark_data_test_spark.plans.audit import simple_plan

    plan = simple_plan(dedup_simhash_pairs(spark, sf_dir))
    band_joins = [
        line
        for line in plan.splitlines()
        if ("SortMergeJoin" in line or "ShuffledHashJoin" in line)
        and ("band" in line or "sig" in line)
    ]
    assert len(band_joins) <= 1, band_joins
    assert "LeftAnti" in plan, plan
    assert "ObjectHashAggregate" in plan, plan
    # the hamming predicate filters right after the in-task expansion:
    # no Exchange between the i-tail Generate and the verify Filter
    lines = plan.splitlines()
    gen = next(i for i, l in enumerate(lines) if "Generate explode(slice(" in l)
    verify = max(
        i for i in range(gen) if "Filter" in lines[i] and "bit_count" in lines[i]
    )
    assert not any("Exchange" in l for l in lines[verify:gen]), lines[verify : gen + 1]


def test_gid_co_discovery_is_in_task(spark, sf_dir):
    """Round-18 pin (optimization round 1, guide §2.1): the containment
    family's rare-shingle discovery expands pairs in-task from the
    stop-capped posting lists — no shuffled join keyed on the shingle
    column may reappear (the only sh-keyed joins are the broadcast
    hot-list anti/inner attaches, covered by the broadcast-discipline
    pin). Asserted on the pre-persist build hook after each entry
    point: the registered query and `containment_pairs` run one build."""
    from spark_data_test_spark import containment_pairs
    from spark_data_test_spark.operators import dedup

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("doc_id", "text")
        .limit(200)
    )
    clear_all()
    try:
        for run in (
            lambda: dedup.dedup_containment(spark, sf_dir),
            lambda: containment_pairs(docs),
        ):
            dedup._last_gid_co_plan = None
            run()
            plan = dedup._last_gid_co_plan
            assert plan is not None, "plan hook was not captured"
            for line in plan.splitlines():
                if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
                    assert "sh#" not in line, line
            assert "Generate" in plan, plan
    finally:
        clear_all()


def test_ngram_partner_expansion_is_in_task(spark, sf_dir):
    """Round-18 pin (optimization round 1, guide §2.1): the duplicated-
    n-gram partner counts expand in-task from per-dup-gram posting
    lists (collected AFTER the df-cap join, so mega-grams are never
    collected) — the second gram-keyed pass over the full inverted
    index is gone: at most one join keyed on the gram column may
    remain (the df-cap gate), with no self-join condition."""
    from spark_data_test_spark.operators.dedup import corpus_duplicate_ngrams
    from spark_data_test_spark.plans.audit import simple_plan

    plan = simple_plan(corpus_duplicate_ngrams(spark, sf_dir))
    gram_joins = [
        l for l in plan.splitlines()
        if ("Join" in l and "g#" in l and "NOT" not in l)
    ]
    # the df-cap gate joins per_doc's and the posting build's gram rows
    # against dup_grams; the old shape additionally self-joined the
    # full gram table (visible as a join line with a doc_id inequality)
    assert not any("doc_id" in l for l in gram_joins), gram_joins
    assert "ObjectHashAggregate" in plan, plan


def test_graph_edges_build_has_no_self_join(spark, sf_dir):
    """Round-18 pin (optimization round 1, guide §2.1): the shared
    co-purchase edge-list build collects each order's basket with one
    aggregate and expands pairs in-task — the (ok, pk) distinct and the
    self-join on the order key are gone, so no join node may appear in
    the cached build plan (the InMemoryRelation section of the explain
    output carries the build subtree)."""
    from spark_data_test_spark.operators.graph import _edges
    from spark_data_test_spark.plans.audit import formatted_plan

    clear_all()
    try:
        plan = formatted_plan(_edges(spark, sf_dir))
        assert "Generate" in plan, plan
        for join in ("SortMergeJoin", "ShuffledHashJoin",
                     "BroadcastHashJoin", "CartesianProduct"):
            assert join not in plan, plan
    finally:
        clear_all()
