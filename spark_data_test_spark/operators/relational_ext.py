"""Extended relational coverage beyond the reference's operator set.

Semi/anti joins (SURVEY.md §2.3 notes them as the natural internal
rewrite for missing-row detection — cheaper than the NULL-checksum test
because the build side carries no payload), multi-level aggregations
(rollup / cube / grouping sets), set operations (intersect / except),
and approximate aggregates (rows-only check: HLL sketches are
engine-specific by construction).
"""

import pyspark.sql.functions as F

from spark_data_test_spark.operators.relational import cents, query, t


@query(
    "left_semi_join",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
    """,
)
def left_semi_join(spark, sf_dir):
    """Semi join: orders having at least one near-max-quantity line.
    The probe side never materializes lineitem payload columns."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return o.join(
        li, o.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@query(
    "left_anti_join",
    """
    SELECT o_orderkey FROM orders
    WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    """,
)
def left_anti_join(spark, sf_dir):
    """Anti join: orders with no line items — the missing-row primitive
    (equivalent to the engine's NULL-checksum test, one shuffle, no
    payload)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey"
    )


@query(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark, sf_dir):
    """Hierarchical totals: (flag, status), (flag), () — one pass."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(cents(F.col("l_quantity"))).alias("qty_cents"),
        )
    )


@query(
    "cube_agg",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark, sf_dir):
    """All grouping combinations of (status, priority)."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "grouping_sets_agg",
    """
    SELECT l_returnflag, l_shipmode_bucket, COUNT(*) AS cnt FROM (
      SELECT l_returnflag,
             CASE WHEN l_quantity < 25 THEN 'small' ELSE 'large' END AS l_shipmode_bucket
      FROM lineitem)
    GROUP BY GROUPING SETS ((l_returnflag), (l_shipmode_bucket))
    """,
)
def grouping_sets_agg(spark, sf_dir):
    """Explicit grouping sets: per-flag and per-bucket marginals in one
    aggregation pass (DataFrame.groupingSets — no session-global temp
    view, thread-safe on a shared session)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.when(F.col("l_quantity") < 25, "small")
        .otherwise("large")
        .alias("l_shipmode_bucket"),
    )
    return li.groupingSets(
        [["l_returnflag"], ["l_shipmode_bucket"]],
        "l_returnflag",
        "l_shipmode_bucket",
    ).agg(F.count("*").alias("cnt"))


@query(
    "intersect_rows",
    """
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= 25
    INTERSECT
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 25
    """,
)
def intersect_rows(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") <= 25).select("l_returnflag", "l_linestatus")
    b = li.where(F.col("l_quantity") > 25).select("l_returnflag", "l_linestatus")
    return a.intersect(b)


@query(
    "except_rows",
    """
    SELECT o_orderpriority FROM orders WHERE o_totalprice >= 100000
    EXCEPT
    SELECT o_orderpriority FROM orders WHERE o_totalprice < 2000
    """,
)
def except_rows(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") >= 100000).select("o_orderpriority")
    b = o.where(F.col("o_totalprice") < 2000).select("o_orderpriority")
    return a.subtract(b)  # EXCEPT (distinct semantics), matching SQL


@query(
    "approx_count_distinct_parts",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_count_distinct_parts(spark, sf_dir):
    """Approximate distinct counts (HLL++) in a CHECKABLE shape: the
    raw estimate is engine-specific (a function of the sketch
    implementation, not the data), so the output carries the exact
    COUNT(DISTINCT) plus a ``within_bound`` flag asserting the estimate
    landed within 5x the configured relative error — the oracle checks
    the exact column and expects the flag TRUE, turning the sketch's
    accuracy contract itself into the hash-checked value (VERDICT r3
    item 3). rsd = 0.01 (std err 1%) against a 5% acceptance bound
    keeps the flag deterministic-in-practice at every sf."""
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
    )
    err = F.abs(F.col("approx_parts") - F.col("exact_parts")).cast("double")
    return g.select(
        "l_returnflag",
        "cnt",
        "exact_parts",
        (err <= 0.05 * F.col("exact_parts").cast("double")).alias("within_bound"),
    )


@query(
    "percentile_exact",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           quantile_cont(l_quantity, 0.5) AS median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_exact(spark, sf_dir):
    """Exact interpolated percentiles — Spark's percentile() and
    DuckDB's quantile_cont share the (n-1)*p linear-interpolation
    definition, so results are bit-identical. (The approximate sketch
    variant is approx_count_distinct_parts / percentile_approx — kept
    rows-only since sketches are engine-specific.)"""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        )
    )


@query(
    "array_higher_order_stats",
    """
    SELECT vec_id,
           CAST(COUNT(*) AS INTEGER) AS dim,
           CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_pos,
           MAX(v) AS max_q, MIN(v) AS min_q,
           CAST(SUM(ABS(v)) AS BIGINT) AS l1_q
    FROM (
      SELECT vec_id, e[i] AS v
      FROM (SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(round(x * 1000000) AS BIGINT)) AS e
            FROM embeddings),
           unnest(generate_series(1, 64)) AS u(i))
    GROUP BY vec_id
    """,
)
def array_higher_order_stats(spark, sf_dir):
    """Higher-order array functions (transform / filter / aggregate /
    array_max / array_min) over the quantized embedding — per-element
    logic stays JVM-side, no explode shuffle, no Python."""
    emb = t(spark, sf_dir, "embeddings").withColumn(
        "e",
        F.expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"),
    )
    return emb.select(
        "vec_id",
        F.size("e").alias("dim"),
        F.size(F.expr("filter(e, x -> x > 0)")).alias("n_pos"),
        F.array_max("e").alias("max_q"),
        F.array_min("e").alias("min_q"),
        F.expr("aggregate(e, cast(0 as bigint), (acc, x) -> acc + abs(x))").alias("l1_q"),
    )


@query(
    "map_functions_props",
    """
    SELECT k, COUNT(*) AS cnt
    FROM (SELECT unnest(json_keys(props)) AS k FROM events)
    GROUP BY k
    """,
)
def map_functions_props(spark, sf_dir):
    """Map-typed columns end-to-end: parse the JSON payload into a
    map<string,bigint>, explode map_keys, aggregate."""
    ev = t(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return (
        ev.select(F.explode(F.map_keys(m)).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark, sf_dir):
    """Pivot (long -> wide): order counts per priority x status. Pivot
    values are declared explicitly — at scale an implicit pivot runs an
    extra distinct job just to discover the columns."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "window_distribution_funcs",
    """
    SELECT o_orderkey,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution_funcs(spark, sf_dir):
    """Distribution window functions (W-family depth): quartile
    assignment, percent rank, cumulative distribution per priority
    partition. The ORDER BY is fully tie-broken by the unique order key
    so NTILE's positional split is deterministic; percent_rank and
    cume_dist are exact integer ratios, bit-identical across engines.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]


@query(
    "profile_columns",
    """
    WITH stats AS (
      SELECT
    """
    + ",\n".join(
        f"""        COUNT(*) - COUNT({c}) AS nulls_{c},
        COUNT(DISTINCT {c}) AS distinct_{c}"""
        for c in _PROFILE_COLS
    )
    + """
      FROM orders)
    """
    + "\n    UNION ALL\n".join(
        f"    SELECT '{c}' AS column_name, nulls_{c} AS n_nulls,"
        f" distinct_{c} AS n_distinct FROM stats"
        for c in _PROFILE_COLS
    ),
)
def profile_columns(spark, sf_dir):
    """Data-profiling operator: per-column null and exact distinct
    counts in ONE aggregation job over the table, unpivoted to long
    form. Multiple exact COUNT(DISTINCT) in one agg plan through
    Spark's Expand (one pass over the input, one row-replica per
    distinct aggregate) — still a single job and shuffle set, vs the
    naive one-job-per-column profiler. At 100 TB swap exact distincts
    for approx_count_distinct to drop the Expand replication; the exact
    form is kept here because sketches can't be oracle-checked. The
    call of `profile` over the four columns."""
    return profile(t(spark, sf_dir, "orders"), _PROFILE_COLS)


@query(
    "upsert_latest_wins",
    """
    WITH updates AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND((o_totalprice + 10.0) * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT -(o_orderkey + 1) AS o_orderkey, 'N' AS o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 50 = 0),
    base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders),
    merged AS (
      SELECT * FROM updates
      UNION ALL
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM updates u
                        WHERE u.o_orderkey = b.o_orderkey))
    SELECT o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(price_cents) AS BIGINT) AS price_cents_total
    FROM merged GROUP BY o_orderstatus
    """,
)
def upsert_latest_wins(spark, sf_dir):
    """MERGE/upsert without a table format: last-write-wins keyed merge
    of a base table with an update batch (modified rows + brand-new
    keys) in ONE shuffle — union both sides tagged with a recency rank,
    keep row_number()=1 per key. This is the Spark-native upsert shape
    when Delta/Iceberg MERGE isn't available; at scale pair it with
    dynamic partition overwrite so only touched partitions rewrite.
    The oracle merges via anti-join instead (an independent
    formulation of the same semantics). The call of `latest_wins`
    plus the per-status count."""
    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", cents(F.col("o_totalprice")).alias("price_cents")
    )
    updates = (
        o.where(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            cents(F.col("o_totalprice") + 10.0).alias("price_cents"),
        )
        .unionByName(
            # brand-new keys are NEGATED existing keys: collision-free
            # with the positive base key space at ANY scale factor, so
            # every key appears at most once per rank and the
            # row_number pick is fully determined
            o.where(F.col("o_orderkey") % 50 == 0).select(
                (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                cents(F.col("o_totalprice")).alias("price_cents"),
            )
        )
    )
    return (
        latest_wins(base, updates, "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("price_cents").alias("price_cents_total"),
        )
    )


@query(
    "variant_json_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS k_bucket,
           COUNT(*) AS cnt
    FROM events GROUP BY 1
    """,
)
def variant_json_props(spark, sf_dir):
    """Semi-structured data through the VARIANT type (Spark 4): parse
    the JSON payload once into a binary variant (no per-access
    re-parsing, unlike get_json_object chains) and extract typed fields
    with variant_get. The shredded binary form is the 100 TB posture
    for JSON-heavy tables — parse cost is paid once at ingest, reads
    are typed offset lookups."""
    ev = t(spark, sf_dir, "events")
    v = ev.select(F.parse_json(F.col("props")).alias("v"))
    return (
        v.select(
            F.expr("variant_get(v, '$.k', 'bigint')").alias("k")
        )
        .select(F.expr("k div 25").alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "dq_constraint_report",
    """
    WITH checks AS (
      SELECT 'orders_pk_unique' AS constraint_name,
             CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS violations
      FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM orders
            GROUP BY o_orderkey HAVING COUNT(*) > 1)
      UNION ALL
      SELECT 'orders_custkey_fk',
             CAST(COUNT(*) AS BIGINT)
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_custkey IS NULL
      UNION ALL
      SELECT 'orders_not_null_and_range',
             CAST(COALESCE(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem_quantity_range',
             CAST(COALESCE(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                           THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_orderkey_fk',
             CAST(COUNT(*) AS BIGINT)
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey IS NULL)
    SELECT constraint_name, violations,
           CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM checks
    """,
)
def dq_constraint_report(spark, sf_dir):
    """Declarative data-quality gate (the dbt-test / expectations
    pattern): PK uniqueness, FK integrity, NOT NULL, and range
    constraints evaluated in one job, one row per constraint with its
    violation count — the report a pipeline blocks a publish on.

    Shapes, each the scale-correct form of its check: uniqueness is a
    keyed count (one shuffle, map-side combined); FK orphans are
    LEFT-ANTI probes (the dimension side broadcasts when small, AQE
    decides); all single-table row predicates FUSE into one conditional
    aggregate — one scan covers every NOT NULL + range rule on the
    table, instead of a scan per rule. Adding a rule is adding a CASE
    column, not a pass over 100 TB. The uniqueness and FK pieces are
    the `_dq_unique` / `_dq_fk` stages `dq_check` runs; the row rules
    stay here, because this report sums three CASE counts into one
    constraint and `dq_check` gives each rule its own row."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    lineitem = t(spark, sf_dir, "lineitem")

    pk = _dq_unique(orders, "o_orderkey", "orders_pk_unique")
    fk_cust = _dq_fk(
        orders, "o_custkey", customer, "c_custkey", "orders_custkey_fk", 0
    )
    row_rules = orders.agg(
        # coalesce: SUM over an EMPTY table is NULL, which would report
        # a vacuously-satisfied constraint as passed=0
        F.coalesce(
            F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0))
            + F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
            + F.sum(
                F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("violations")
    ).select(
        F.lit("orders_not_null_and_range").alias("constraint_name"), "violations"
    )
    qty = lineitem.agg(
        F.coalesce(
            F.sum(
                F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("violations")
    ).select(
        F.lit("lineitem_quantity_range").alias("constraint_name"), "violations"
    )
    fk_order = _dq_fk(
        lineitem, "l_orderkey", orders, "o_orderkey", "lineitem_orderkey_fk", 1
    )
    checks = pk.unionByName(fk_cust).unionByName(row_rules).unionByName(qty).unionByName(fk_order)
    return checks.select(
        "constraint_name",
        "violations",
        F.when(F.col("violations") == 0, 1).otherwise(0).cast("long").alias("passed"),
    )


_FUZZY_MAX_DIST = 2


@query(
    "part_fuzzy_match",
    f"""
    WITH named AS (
      SELECT DISTINCT p_name, split_part(p_name, ' ', -1) AS blk_noun
      FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
    FROM named a JOIN named b
      ON a.blk_noun = b.blk_noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    """,
)
def part_fuzzy_match(spark, sf_dir):
    """Record linkage by BLOCKED fuzzy matching: near-identical part
    names (edit distance <= 2 — one-to-two-typo variants like "cold
    anvil"/"old anvil") found without an all-pairs scan. The
    ENTITY-level shape: names are deduplicated FIRST (the same
    distinct-value-first discipline as the text dedup family — edit
    distance depends only on the strings, so k parts sharing a name
    cost nothing extra), candidate pairs come from an equi-join on a
    BLOCKING key (the name's final noun), and the quadratic
    edit-distance work runs only inside each block. This is the
    standard entity-resolution shape (Fellegi-Sunter style pipelines):
    recall is bounded by the blocking key by design (a typo in the
    noun escapes the block — production runs several complementary
    blocking passes, each this same plan), precision by the exact
    distance refine.

    At 100 TB: one hash shuffle on the blocking key; per-block fan-out
    is the known quadratic cost over DISTINCT values, so key choice —
    not join strategy — is the scale lever (length bands or phonetic
    keys split hot blocks). Levenshtein evaluates inside the join
    stage; only (name, name, distance) survivors shuffle onward."""
    named = t(spark, sf_dir, "part").select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("blk")
    )
    return blocked_fuzzy_pairs(named, "p_name", "blk", _FUZZY_MAX_DIST).select(
        F.col("value_a").alias("name_a"),
        F.col("value_b").alias("name_b"),
        "edit_distance",
    )


def blocked_fuzzy_pairs(df, value_col, block_col, max_dist):
    """Library operator: entity-level blocked fuzzy matching. Input is
    any frame carrying a string ``value_col`` and a ``block_col``
    blocking key; output is every DISTINCT value pair sharing a block
    with levenshtein distance <= ``max_dist``, as (value_a, value_b,
    edit_distance) with value_a < value_b. Values are deduplicated
    before the block self-join, so cost tracks distinct values per
    block, not row counts; the output is deduplicated too, so a value
    pair sharing several blocks (the multi-blocking-pass shape) is
    still emitted once. The self-link of `fuzzy_match`, each
    unordered pair kept once."""
    return fuzzy_match(df, df, value_col, block_col, max_dist).where(
        F.col("value_a") < F.col("value_b")
    )


def fuzzy_match(
    df_a,
    df_b,
    value_col,
    block_col,
    max_dist=2,
    value_col_b=None,
    block_col_b=None,
    keep="all",
):
    """Library operator: cross-frame record linkage by blocked fuzzy
    matching — the two-dataset form of `blocked_fuzzy_pairs` (one
    frame linked against itself) and the frame-level form of the
    registered `part_fuzzy_match` gate. Each side is deduplicated to
    its DISTINCT (value, block) entities first (edit distance depends
    only on the strings, so k rows sharing a value cost nothing
    extra), candidate pairs come from an equi-join on the blocking
    key, and levenshtein refines inside the join stage. ``value_col_b``
    / ``block_col_b`` default to the left-side names, so differently
    named columns link without a rename pass.

    Returns ``(value_a, value_b, edit_distance)``. With
    ``keep="all"`` every within-threshold pair is emitted once (a pair
    sharing several blocks still appears once); with ``keep="best"``
    each left value keeps only its single best partner — smallest
    distance, then smallest value_b — computed as a map-combinable
    min_by aggregate, never a window over all candidates.

    At 100 TB: one hash shuffle per side on the blocking key; the
    quadratic refine is confined to each block over distinct values,
    so blocking-key choice is the scale lever (run several
    complementary passes and union them — the output dedupe makes
    that safe). Recall is bounded by the blocking key BY DESIGN: a
    typo in the key escapes the block, exactly as in the registered
    gate's docstring."""
    if keep not in ("all", "best"):
        raise ValueError(f"fuzzy_match: keep must be all|best, got {keep!r}")
    vb = value_col_b if value_col_b is not None else value_col
    bb = block_col_b if block_col_b is not None else block_col
    a = df_a.select(
        F.col(value_col).alias("value_a"), F.col(block_col).alias("_blk")
    ).distinct()
    b = df_b.select(
        F.col(vb).alias("value_b"), F.col(bb).alias("_blk")
    ).distinct()
    dist = F.levenshtein(F.col("value_a"), F.col("value_b"))
    pairs = (
        a.join(b, "_blk")
        .where(dist <= int(max_dist))
        .select(
            "value_a", "value_b", dist.cast("long").alias("edit_distance")
        )
        .distinct()
    )
    if keep == "all":
        return pairs
    return (
        pairs.groupBy("value_a")
        .agg(
            F.min_by(
                F.struct("value_b", "edit_distance"),
                F.struct("edit_distance", "value_b"),
            ).alias("_best")
        )
        .select("value_a", "_best.value_b", "_best.edit_distance")
    )


def schema_drift(source_df, target_df):
    """Library operator: per-column schema-drift report between two
    frames — the frame-level form of the registered
    `schema_drift_report` (same statuses: MATCHED / TYPE_MISMATCH /
    MISSING_AT_SOURCE / MISSING_AT_TARGET). Pure catalog metadata: no
    job runs, the result is a 1-partition local frame at any data
    scale — run it as the free pre-flight gate before a comparison or
    ingest touches data. Duplicate column names on either side are
    rejected (they would silently collapse in a name-keyed report —
    exactly the conflict the gate exists to catch)."""
    from spark_data_test_spark.operators.schema_drift import (
        compare_schemas,
    )

    return compare_schemas(source_df.sparkSession, source_df, target_df)


_SQL_API_QUERY = """
    SELECT n.n_name AS nation,
           o.o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM sds_orders o
    JOIN sds_customer c ON c.c_custkey = o.o_custkey
    JOIN sds_nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, o.o_orderpriority
"""


@query(
    "sql_api_query",
    _SQL_API_QUERY.replace("sds_orders", "orders")
    .replace("sds_customer", "customer")
    .replace("sds_nation", "nation"),
)
def sql_api_query(spark, sf_dir):
    """The SQL-first surface: tables registered as temp views and the
    query expressed as ONE ``spark.sql`` string — the interface a
    SQL-native user (or a BI tool) drives the engine through. The
    string is the SAME text the DuckDB oracle runs (modulo view
    prefixes), which is the portability claim made concrete: Catalyst
    plans it identically to the DataFrame formulation (same pushdown,
    same broadcast dimensions), because both lower to the same logical
    plan — the API choice is syntax, not a different engine path.
    View names carry an sf_dir digest: a fixed name would let a
    concurrent caller on another sf_dir clobber the views between
    registration and analysis (and collide with the caller's own
    registrations)."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    for name in ("orders", "customer", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(f"sds_{tag}_{name}")
    return spark.sql(
        _SQL_API_QUERY.replace("sds_", f"sds_{tag}_")
    )


@query(
    "orders_incremental_agg_merge",
    """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def orders_incremental_agg_merge(spark, sf_dir):
    """Incremental MATERIALIZED-VIEW maintenance for distributive
    aggregates: yesterday's aggregate state merges with the new
    batch's partial aggregate — count adds, sum adds, max maxes — and
    the result must equal a full recompute, which is exactly what the
    oracle checks (it aggregates the whole table; the query only ever
    aggregates the two halves and MERGES). This is the algebra behind
    every incremental ETL rollup: history is never rescanned, the
    update cost is O(batch + groups). Non-distributive measures (exact
    median, exact distinct) don't merge — they need the sketch
    variants (`sketch_*`), which is the design reason those exist.

    The split is deterministic (even/odd key) purely to stage the
    demonstration; in production the halves are yesterday's stored
    state and today's partition. The merge is `merge_agg_state`."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", cents(F.col("o_totalprice")).alias("c")
    )

    def agg_state(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("c").alias("total_cents"),
            F.max("c").alias("max_cents"),
        )

    return merge_agg_state(
        agg_state(o.where(F.col("o_orderkey") % 2 == 1)),
        agg_state(o.where(F.col("o_orderkey") % 2 == 0)),
        "o_orderstatus",
        {"n_orders": "sum", "total_cents": "sum", "max_cents": "max"},
    )


_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def merge_agg_state(state, delta, keys, merge_spec):
    """Library operator: incremental materialized-view maintenance for
    distributive aggregates — the frame-level form of
    `orders_incremental_agg_merge`. ``state`` is yesterday's stored
    aggregate, ``delta`` the new batch's partial aggregate over the
    SAME schema; ``merge_spec`` maps each measure column to its merge
    function (``"sum"`` | ``"min"`` | ``"max"`` — count state is a
    count column merged by ``"sum"``). Returns the merged state ==
    a full recompute, at O(batch + groups) cost: history is never
    rescanned. Groups present on only one side pass through unchanged
    (union + re-aggregate handles them; no outer-join NULL pitfalls).
    Non-distributive measures (exact median/distinct) don't merge —
    use the sketch variants (`distinct_sketch`/`sketch_union`,
    `value_histogram`), which is the design reason those exist.

    At 100 TB this is THE rollup maintenance pattern: one shuffle of
    (groups_state + groups_batch) rows — group-cardinality-sized, not
    data-sized."""
    if isinstance(keys, str):
        keys = [keys]
    keys = list(keys)
    if not keys or not merge_spec:
        raise ValueError("merge_agg_state: keys and merge_spec required")
    bad = [f for f in merge_spec.values() if f not in _MERGE_FNS]
    if bad:
        raise ValueError(
            f"merge_agg_state: unsupported merge fn(s) {bad}; "
            f"supported: {sorted(_MERGE_FNS)}"
        )
    overlap = set(keys) & set(merge_spec)
    if overlap:
        raise ValueError(
            f"merge_agg_state: {sorted(overlap)} appear in both keys "
            "and merge_spec"
        )
    cols = keys + list(merge_spec)
    for side, df in (("state", state), ("delta", delta)):
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"merge_agg_state: {side} missing {missing}")
    return (
        state.select(*cols)
        .unionByName(delta.select(*cols))
        .groupBy(*keys)
        .agg(*[_MERGE_FNS[fn](c).alias(c) for c, fn in merge_spec.items()])
    )


@query(
    "null_safe_join",
    """
    WITH keyed AS (
      SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id % 50 END AS k,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events),
    dim AS (
      SELECT CASE WHEN g = 50 THEN NULL ELSE g END AS k,
             CASE WHEN g = 50 THEN 'unknown' ELSE 'bucket_' || (g % 5) END
               AS segment
      FROM (SELECT unnest(generate_series(0, 50)) AS g))
    SELECT d.segment, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(e.c) AS BIGINT) AS value_cents
    FROM keyed e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
    GROUP BY d.segment
    """,
)
def null_safe_join(spark, sf_dir):
    """NULL-SAFE equi-join (``<=>`` / IS NOT DISTINCT FROM): rows whose
    key is NULL match the dimension's NULL row instead of silently
    dropping — the semantics a dimension lookup with an explicit
    'unknown' member needs (a plain equi-join discards every NULL-keyed
    fact, which is the classic silent-data-loss bug in enrichment
    joins; `eq_null_safe` covers the scalar predicate, this covers the
    JOIN operator). Catalyst plans ``eqNullSafe`` as a hash join —
    NULL hashes like any value under null-safe equality — and the tiny
    dimension broadcasts, so the NULL-match semantics cost nothing
    over the plain join."""
    ev = t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("user_id") % 50)
        .alias("k"),
        cents(F.col("value")).alias("c"),
    )
    spark_sess = ev.sparkSession
    dim = spark_sess.range(0, 51).select(
        F.when(F.col("id") == 50, F.lit(None)).otherwise(F.col("id")).alias("k"),
        F.when(F.col("id") == 50, F.lit("unknown"))
        .otherwise(F.concat(F.lit("bucket_"), (F.col("id") % 5).cast("string")))
        .alias("segment"),
    )
    return (
        ev.join(F.broadcast(dim), ev.k.eqNullSafe(dim.k))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("c").alias("value_cents"),
        )
    )


@query(
    "orders_status_listagg",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def orders_status_listagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/string_agg): the distinct
    statuses per priority as one sorted comma-joined string. Collapsing
    a group to a delimited list is only deterministic when an explicit
    order is imposed — Spark's collect_set has no ordering contract, so
    the portable form is collect_set -> array_sort -> array_join,
    matching SQL's ``string_agg(DISTINCT ... ORDER BY ...)``. State is
    bounded by distinct values per group (collect_LIST on a 100 TB
    group is the OOM to refuse; the distinct set here is tiny by
    domain)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), ","
            ).alias("statuses"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
        )
    )


# ---------------------------------------------------------------------------
# Broadcast bloom-bitmap prefilter ahead of a shuffle join
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 20  # bitmap size (128 KiB as 16Ki x int64 words)


def bloom_prefilter(fact, fact_key, dim_keys):
    """Library operator: drop ``fact`` rows whose ``fact_key`` cannot
    be in ``dim_keys``, using a broadcast hash bitmap (a k=1 Bloom
    filter) built with one aggregate over the dim keys.

    The 100 TB pattern: when the dimension side of a shuffle join is
    too large to broadcast as rows but its KEY FINGERPRINT fits in a
    bitmap (2^20 bits here; any sizing works), prefiltering the fact
    by the bitmap eliminates most non-matching rows BEFORE the join
    shuffle — the same effect as Spark's runtime bloom-filter
    injection, expressed explicitly so the reduction is guaranteed and
    tunable. False positives only (no false negatives): hash(k) of a
    present key always has its bit set, so the subsequent exact join
    sees every true match and the prefilter never changes semantics.

    Built as (_bf_word_idx -> bit_or(1 << bit)) rows — a 16Ki-row
    frame — then broadcast-joined to the fact on the word index with a
    bit test; fact rows hashing into absent words drop at the join,
    rows in present words drop on the bit test. All plumbing columns
    carry a ``_bf_`` prefix so a fact table that already has ``word``
    or ``word_idx`` columns passes through untouched."""
    dim_col = dim_keys.columns[0]
    bitmap = (
        dim_keys.select(
            F.expr(f"pmod(xxhash64({dim_col}), {_BLOOM_BITS})").alias("_bf_h")
        )
        .select(
            F.expr("_bf_h div 64").alias("_bf_word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_bf_h % 64 AS INT))"
            ).alias("_bf_bit"),
        )
        .groupBy("_bf_word_idx")
        .agg(F.expr("bit_or(_bf_bit)").alias("_bf_word"))
    )
    return (
        fact.withColumn(
            "_bf_fact_h", F.expr(f"pmod(xxhash64({fact_key}), {_BLOOM_BITS})")
        )
        .withColumn("_bf_fact_word_idx", F.expr("_bf_fact_h div 64"))
        .join(
            F.broadcast(bitmap),
            F.col("_bf_fact_word_idx") == F.col("_bf_word_idx"),
        )
        .where(
            F.expr("shiftright(_bf_word, CAST(_bf_fact_h % 64 AS INT)) & 1 = 1")
        )
        .drop("_bf_fact_h", "_bf_fact_word_idx", "_bf_word_idx", "_bf_word")
    )


@query(
    "part_bloom_prefilter_join",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#19'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def part_bloom_prefilter_join(spark, sf_dir):
    """Revenue by return flag for one brand's parts, with the lineitem
    scan prefiltered by a broadcast Bloom bitmap of the qualifying
    part keys before the key join (`bloom_prefilter`). At this SF the
    dim side is broadcastable anyway; the query exists to keep the
    explicit bitmap path — the shape that survives when the dim is
    100 GB of keys and only its 128 KiB fingerprint can ship — oracle-
    checked end-to-end: the DuckDB side is the PLAIN join, so the hash
    match proves the prefilter is semantics-free (no false negatives).
    """
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#19")
    dim_keys = p.select("p_partkey")
    pref = bloom_prefilter(li, "l_partkey", dim_keys)
    return (
        pref.join(p.select("p_partkey"), pref.l_partkey == F.col("p_partkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


def latest_wins(base, updates, keys, order_col=None):
    """Library operator: last-write-wins keyed MERGE without a table
    format — the frame-level form of the registered
    `upsert_latest_wins` query. Union both sides tagged with recency
    and keep one row per key in ONE shuffle; ``updates`` beats
    ``base`` on a key collision. With ``order_col`` the largest order
    value wins ACROSS both frames (side only breaks order ties), which
    is the CDC-batch shape where updates may carry several versions of
    a key. Without ``order_col`` each side should carry at most one
    row per key or the winner within a side is undefined.

    This is the Spark-native upsert when Delta/Iceberg MERGE isn't
    available; at scale pair it with dynamic partition overwrite so
    only touched partitions rewrite."""
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    tagged = base.withColumn("_side", F.lit(0)).unionByName(
        updates.withColumn("_side", F.lit(1))
    )
    order = [F.col("_side").desc()]
    if order_col is not None:
        order = [F.col(order_col).desc(), F.col("_side").desc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_side", "_rn")
    )


def cdc_apply(
    base,
    changes,
    keys,
    order_col,
    op_col="op",
    delete_ops=("D", "delete"),
    tiebreak_cols=(),
):
    """Library operator: full CDC merge — `latest_wins` plus DELETE
    semantics, the batch form of a Debezium/DMS change feed apply
    when no table format provides MERGE. ``changes`` carries an
    ``op_col`` whose values in ``delete_ops`` mark tombstones; every
    other value (and NULL) is an upsert. Per key, the winning row
    across base + changes is the largest ``order_col`` (a change
    beats a base row on an order tie — the same recency rule as
    `latest_wins`); if the winner is a tombstone the key disappears,
    else the winner survives. A delete older than the live row is
    correctly ignored, and a delete for an absent key is a no-op —
    both fall out of the one window, not special cases.

    TIE RULE: a change feed should carry a unique ``order_col`` per
    key (an LSN / binlog offset is); when two CHANGE rows for one key
    tie on it anyway, ``tiebreak_cols`` (ordered descending, after
    the recency comparison) resolves them deterministically, and an
    exact tie even after that resolves TOMBSTONE-WINS — deleting is
    the conservative reading of simultaneous contradictory changes,
    and a fixed rule beats a row_number coin flip that could flip a
    key between keep and delete across runs.

    ``base`` must not carry ``op_col`` (a state table has no op
    column; raising beats silently treating state rows as changes),
    and ``changes`` minus ``op_col`` must match base's columns.
    One shuffle (the per-key window); at 100 TB pair with dynamic
    partition overwrite so only touched partitions rewrite, or feed
    it to `write_state_version` per micro-batch as
    `streaming_cdc_upsert`'s foreachBatch does for the upsert-only
    case."""
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    if op_col in base.columns:
        raise ValueError(
            f"cdc_apply: base must not carry the op column {op_col!r}"
        )
    if op_col not in changes.columns:
        raise ValueError(f"cdc_apply: changes missing op column {op_col!r}")
    if set(changes.columns) - {op_col} != set(base.columns):
        raise ValueError(
            "cdc_apply: changes (minus op) and base columns differ: "
            f"{sorted(set(changes.columns) - {op_col})} vs "
            f"{sorted(base.columns)}"
        )
    tagged = base.withColumn("_del", F.lit(False)).withColumn(
        "_side", F.lit(0)
    ).unionByName(
        changes.withColumn(
            "_del",
            F.coalesce(
                F.col(op_col).isin(list(delete_ops)), F.lit(False)
            ),
        )
        .drop(op_col)
        .withColumn("_side", F.lit(1))
    )
    tiebreak_cols = (
        [tiebreak_cols]
        if isinstance(tiebreak_cols, str)
        else list(tiebreak_cols)
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(),
        F.col("_side").desc(),
        *[F.col(c).desc() for c in tiebreak_cols],
        F.col("_del").desc(),
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & ~F.col("_del"))
        .drop("_side", "_del", "_rn")
    )


def _dq_unique(df, cols, name):
    """One ``(constraint_name, violations)`` row: the surplus rows of
    duplicated ``cols`` tuples, sum(count - 1) over the keys seen more
    than once — a keyed count, one map-side-combined shuffle."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") > 1)
        .agg(
            F.coalesce(F.sum(F.col("_cnt") - 1), F.lit(0))
            .cast("long")
            .alias("violations")
        )
        .select(F.lit(name).alias("constraint_name"), "violations")
    )


def _dq_fk(df, cols, src, ref_cols, name, tag):
    """One ``(constraint_name, violations)`` row: the rows of ``df``
    whose ``cols`` tuple finds no partner among ``src``'s ``ref_cols``
    (a LEFT ANTI probe; the ref side broadcasts when small, AQE
    decides). The ref columns get collision-proof aliases (``tag`` in
    the name) and are referenced through the aliased frame OBJECT, so
    a df that itself carries a ``_dq0_ref0``-style column (or a ref
    derived from df) can never make the join condition ambiguous."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    ref_cols = [ref_cols] if isinstance(ref_cols, str) else list(ref_cols)
    ref = src.select(
        *[src[rc].alias(f"_dq{tag}_ref{j}") for j, rc in enumerate(ref_cols)]
    )
    cond = None
    for j, c in enumerate(cols):
        term = df[c] == ref[f"_dq{tag}_ref{j}"]
        cond = term if cond is None else cond & term
    return (
        df.join(ref, cond, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit(name).alias("constraint_name"), "violations")
    )


# ---------------------------------------------------------------------------
# Library surface: frame-level warehouse gates (round 10) — the
# arbitrary-frame forms of `dq_constraint_report` (fused declarative
# constraint gate) and `profile_columns` (one-pass column profiler).
# ---------------------------------------------------------------------------


def dq_check(df, rules):
    """Library operator: declarative data-quality gate over an
    arbitrary frame — the dbt-test / expectations pattern of the
    registered `dq_constraint_report`, parameterized. ``rules`` is a
    list of dicts, each with a ``name`` and a ``type``:

    - ``{"name", "type": "not_null", "cols": [...]}`` — violations =
      total NULLs across the listed columns.
    - ``{"name", "type": "expr", "expr": "<boolean SQL>"}`` — a row
      violates when the predicate is NOT satisfied; a NULL predicate
      counts as a violation (unknown does not pass a gate).
    - ``{"name", "type": "unique", "cols": [...]}`` — violations =
      sum(group count - 1) over duplicated key tuples (the number of
      surplus rows, matching the registered gate).
    - ``{"name", "type": "fk", "cols": [...], "ref": <DataFrame>,
      "ref_cols": [...]}`` — violations = rows whose key tuple finds
      no partner in ``ref`` (LEFT ANTI probe; a NULL foreign key never
      matches and therefore counts — add a not_null rule or pre-filter
      if NULLs are legitimate).

    Returns one row per rule: ``(constraint_name, violations,
    passed)``. The plan keeps the registered gate's 100 TB shape:
    every not_null/expr rule FUSES into ONE conditional aggregate —
    one scan covers all row-predicate rules, adding a rule adds a CASE
    column, not a pass over the data — while each unique rule is a
    keyed count (one map-side-combined shuffle) and each fk rule a
    LEFT ANTI probe (the ref side broadcasts when small, AQE
    decides)."""
    fused_exprs = []
    fused = []  # (constraint name, its alias in the fused agg row)
    pieces = []
    for i, rule in enumerate(rules):
        name, typ = rule["name"], rule["type"]
        if typ == "not_null":
            cols = rule["cols"]
            cols = [cols] if isinstance(cols, str) else list(cols)
            v = None
            for c in cols:
                term = F.sum(F.when(df[c].isNull(), 1).otherwise(0))
                v = term if v is None else v + term
            fused_exprs.append(
                F.coalesce(v, F.lit(0)).cast("long").alias(f"_v{i}")
            )
            fused.append((name, f"_v{i}"))
        elif typ == "expr":
            pred = F.expr(rule["expr"])
            fused_exprs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            ~F.coalesce(pred, F.lit(False)), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"_v{i}")
            )
            fused.append((name, f"_v{i}"))
        elif typ == "unique":
            pieces.append(_dq_unique(df, rule["cols"], name))
        elif typ == "fk":
            pieces.append(
                _dq_fk(
                    df,
                    rule["cols"],
                    rule["ref"],
                    rule.get("ref_cols", rule["cols"]),
                    name,
                    i,
                )
            )
        else:
            raise ValueError(f"dq_check: unknown rule type {typ!r}")
    if fused_exprs:
        fused_frame = df.agg(*fused_exprs).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("constraint_name"),
                            F.col(alias).alias("violations"),
                        )
                        for n, alias in fused
                    ]
                )
            ).alias("r")
        ).select("r.constraint_name", "r.violations")
        pieces.insert(0, fused_frame)
    if not pieces:
        raise ValueError("dq_check: no rules given")
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select(
        "constraint_name",
        "violations",
        F.when(F.col("violations") == 0, 1)
        .otherwise(0)
        .cast("long")
        .alias("passed"),
    )


def profile(df, cols=None, approx=False, rsd=0.05):
    """Library operator: per-column profiling for an arbitrary frame —
    the frame-level form of the registered `profile_columns`: exact
    NULL and distinct counts for every named column (default: all
    columns) in ONE aggregation job, unpivoted to
    ``(column_name, n_nulls, n_distinct)``. Multiple exact
    COUNT(DISTINCT) ride one agg plan through Spark's Expand — a
    single pass and shuffle set, vs the naive one-job-per-column
    profiler. ``approx=True`` is the 100 TB lever: HLL++
    ``approx_count_distinct`` (relative error ``rsd``) replaces the
    exact distincts, dropping the Expand's row-per-column replication
    — the whole profile becomes one ordinary map-combined pass whose
    shuffle carries only fixed-size sketches. The exact form is the
    testable contract; the approx form is cross-checked against it
    within rsd in pytest."""
    cols = list(cols) if cols is not None else list(df.columns)
    # de-duplicate (first occurrence wins) so a repeated entry can't
    # produce duplicate aggregate aliases; aliases are POSITIONAL and
    # lookups backtick-quote the raw name, so a column whose NAME
    # contains a dot profiles as itself, not as a struct-field path
    cols = list(dict.fromkeys(cols))
    if not cols:
        raise ValueError("profile: no columns to profile")

    def _q(c):
        return F.col("`" + c.replace("`", "``") + "`")

    def _distinct(c):
        if approx:
            return F.approx_count_distinct(_q(c), rsd=float(rsd))
        return F.count_distinct(_q(c))

    stats = df.agg(
        *[
            e
            for i, c in enumerate(cols)
            for e in (
                (F.count(F.lit(1)) - F.count(_q(c))).alias(f"_nulls_{i}"),
                _distinct(c).alias(f"_distinct_{i}"),
            )
        ]
    )
    return stats.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"_nulls_{i}").alias("n_nulls"),
                        F.col(f"_distinct_{i}").alias("n_distinct"),
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("p")
    ).select("p.column_name", "p.n_nulls", "p.n_distinct")
