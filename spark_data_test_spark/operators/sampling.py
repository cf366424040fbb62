"""Deterministic sampling / mixing / packing over ``documents``.

Training-data pipeline primitives that must be REPRODUCIBLE across
engines, reruns, and cluster sizes — so none of them touch ``rand()``:

* train/val/test split — Knuth multiplicative hash of the stable doc_id
  (reduce mod a ~2^20 prime with a positive mod, then
  ``* 2654435761 mod 1000``) bucketed 80/10/10. Pure overflow-free
  int64 arithmetic, well-defined for every int64 id (negative included)
  and identical in Spark and DuckDB, so the oracle replays it
  bit-for-bit; swap in ``xxhash64(id)`` for stronger mixing when
  cross-engine replay isn't needed.

* weighted source mixing — per-source keep-rates applied with the same
  hash (a different salt), the standard way to re-weight domains
  (web/wiki/code/...) in a pretraining mix without materializing a
  shuffle: a scan-side filter, embarrassingly parallel, zero shuffles
  before the composition aggregate.

* sequence packing — documents are greedily packed, in stable doc_id
  order within a language, into fixed token-budget bins (next-fit:
  ``bin = cum_tokens_before // budget``). One window cumsum per
  language partition — a single shuffle+sort; at 100 TB partition by
  (lang, shard) so no single partition serializes the cumsum.

All three are scan-dominated with at most one shuffle, the shapes you
want at scale; the oracles replay the identical integer arithmetic.
"""

import pyspark.sql.functions as F
from pyspark.sql import Window

from spark_data_test_spark.operators.relational import query, t

_KNUTH = 2654435761  # 2^32 * golden-ratio conjugate
_HASH_PRIME = 1_000_003  # pre-multiply reduction keeps the product < 2^52
_PACK_BUDGET = 2048  # tokens per packed sequence

# whitespace token count, (spaces after trim) + 1 — ONE definition
# shared by pack_sequences and sample_token_budget in both engines, so
# a tokenization change can never desynchronize the two queries
_N_TOK_SQL = "(length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1"


def _n_tok_col():
    return (
        F.length(F.trim(F.col("text")))
        - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
        + 1
    )


def _hash_bucket(col, salt=0):
    """Deterministic bucket in [0, 1000) from ANY int64 id.

    The id is first reduced mod a ~2^20 prime with a positive mod, so
    the Knuth multiply never overflows int64 (a raw ``id * 2654435761``
    wraps negative above ~2^31.7 — and Spark's sign-preserving ``%``
    would then emit a negative bucket that lands every row below any
    split boundary) and negative ids bucket correctly.
    """
    reduced = F.pmod(col + F.lit(salt), F.lit(_HASH_PRIME))
    return F.pmod(reduced * F.lit(_KNUTH), F.lit(1000))


def _bucket_sql(expr, salt=0):
    """The identical arithmetic as DuckDB SQL (emulating pmod)."""
    salted = f"({expr} + {salt})" if salt else f"({expr})"
    reduced = f"((({salted} % {_HASH_PRIME}) + {_HASH_PRIME}) % {_HASH_PRIME})"
    return f"(({reduced} * {_KNUTH}) % 1000)"


def split_assign(df, id_col, splits=(("train", 800), ("val", 900), ("test", 1000)), salt=0):
    """Library operator: add a deterministic ``split`` column.

    ``splits`` is an ordered (name, upper_bound-of-1000) ladder — the
    default is the 80/10/10 split. Assignment is a pure function of the
    id, so adding or removing other rows never reassigns a row.
    """
    b = _hash_bucket(F.col(id_col), salt)
    expr = None
    for name, bound in splits[:-1]:
        expr = F.when(b < bound, name) if expr is None else expr.when(b < bound, name)
    last_name = splits[-1][0]
    expr = F.lit(last_name) if expr is None else expr.otherwise(last_name)
    return df.withColumn("split", expr)


def pack_bins(df, partition_cols, order_col, size_col, budget, bin_col="bin"):
    """Library operator: next-fit packing into fixed-budget bins.

    Adds ``bin_col`` = (cumulative size before this row) // budget,
    computed per partition in stable ``order_col`` order — one window
    cumsum, a single shuffle+sort. Rows straddling a boundary stay in
    the earlier bin (next-fit). ``order_col`` must be unique within a
    partition for a deterministic packing.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_cum", F.sum(size_col).over(w))
        .withColumn(
            bin_col,
            F.expr(f"cast((_cum - {size_col}) div {budget} as bigint)"),
        )
        .drop("_cum")
    )


def token_budget(df, group_cols, id_col, size_col, budget, salt=0):
    """Library operator: per-group budget-capped sampling — the
    frame-level form of `sample_token_budget`. Each group keeps its
    prefix of rows, in deterministic hash order of ``id_col`` (a
    stable "random" order: a pure function of the id, so re-running
    never reshuffles the sample), until the cumulative ``size_col``
    reaches ``budget``; the straddling row is KEPT (greedy next-fit,
    the `pack_bins` boundary rule). Re-running with a bigger budget
    EXTENDS each group's sample instead of resampling it — the
    property that keeps dataset ablations comparable.

    Returns the surviving rows with the original columns. One window
    cumsum partitioned by the group (a single shuffle); at 100 TB the
    per-group sort is the cost, so group by a real domain column —
    an empty ``group_cols`` means ONE global budget computed in a
    single task (fine for reports, wrong for corpus-scale data).
    Rows with a NULL ``size_col`` are dropped (a NULL cumsum can
    never pass the budget predicate); ``id_col`` must be int64 (the
    same contract as `split_assign` / `hash_sample`)."""
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    budget = int(budget)
    if budget < 1:
        raise ValueError("token_budget: budget must be >= 1")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(_hash_bucket(F.col(id_col), salt), id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_cum", F.sum(size_col).over(w))
        .where((F.col("_cum") - F.col(size_col)) < budget)
        .drop("_cum")
    )


@query(
    "sample_split_stratified",
    f"""
    WITH tagged AS (
      SELECT lang, n_chars,
             CASE WHEN {_bucket_sql("doc_id")} < 800 THEN 'train'
                  WHEN {_bucket_sql("doc_id")} < 900 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM tagged GROUP BY lang, split
    """,
)
def sample_split_stratified(spark, sf_dir):
    """80/10/10 split assignment + per-(lang, split) composition check.

    The split column is a pure function of doc_id: adding or removing
    other rows never reassigns a document (unlike ``rand()`` or
    row-number slicing), which is what makes incremental dataset builds
    reproducible.
    """
    d = t(spark, sf_dir, "documents")
    return (
        split_assign(d.select("doc_id", "lang", "n_chars"), "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
    )


# per-source keep-rate out of 1000: even sources are down-sampled to
# half, src0/src10 to a tenth — a stand-in for a real domain-weighting
# table, which at scale arrives as a broadcast dimension instead of an
# inline CASE
_MIX_DEFAULT = 500
_MIX_RATES = {"src0": 100, "src10": 100, "src5": 1000, "src15": 1000}

_MIX_RATE_SQL = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {r}" for s, r in sorted(_MIX_RATES.items())
) + f" ELSE {_MIX_DEFAULT} END"


@query(
    "mix_weighted_sources",
    f"""
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM documents
    WHERE {_bucket_sql("doc_id", salt=7)} < ({_MIX_RATE_SQL})
    GROUP BY source
    """,
)
def mix_weighted_sources(spark, sf_dir):
    """Domain re-weighting: keep each doc iff its (salted) hash bucket
    falls under the source's keep-rate, then report the realized mix."""
    d = t(spark, sf_dir, "documents")
    rate = F.lit(_MIX_DEFAULT)
    for s, r in sorted(_MIX_RATES.items()):
        rate = F.when(F.col("source") == s, r).otherwise(rate)
    return (
        d.where(_hash_bucket(F.col("doc_id"), salt=7) < rate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
    )


@query(
    "pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, {_N_TOK_SQL} AS n_tok
      FROM documents),
    packed AS (
      SELECT lang, n_tok,
             CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tok) // {_PACK_BUDGET} AS BIGINT) AS bin
      FROM toks)
    SELECT lang, bin, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tok_total
    FROM packed GROUP BY lang, bin
    """,
)
def pack_sequences(spark, sf_dir):
    """Next-fit sequence packing: cumulative whitespace-token count per
    language (stable doc_id order), bin = tokens-before // budget.

    Docs straddling a boundary stay in the earlier bin (next-fit, the
    streaming-friendly variant — first-fit-decreasing would need a
    global sort by size). Returns per-bin composition for inspection.
    """
    d = t(spark, sf_dir, "documents")
    packed = pack_bins(
        d.select("doc_id", "lang", _n_tok_col().alias("n_tok")),
        partition_cols=["lang"],
        order_col="doc_id",
        size_col="n_tok",
        budget=_PACK_BUDGET,
    )
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tok_total"),
    )


_N_SHARDS = 8  # 1000 hash buckets / 8 = 125 per shard, exactly even
_ORD_SHIFT = 1 << 40  # order key = bucket * 2^40 + doc_id (doc_id < 2^40)


@query(
    "corpus_shard_assignment",
    f"""
    WITH sharded AS (
      SELECT doc_id, n_chars,
             {_bucket_sql("doc_id", salt=31)} // {1000 // _N_SHARDS} AS shard_id,
             {_bucket_sql("doc_id", salt=47)} * {_ORD_SHIFT} + doc_id AS ok
      FROM documents)
    SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(MIN(ok) % {_ORD_SHIFT} AS BIGINT) AS head_doc,
           CAST(MAX(ok) % {_ORD_SHIFT} AS BIGINT) AS tail_doc
    FROM sharded GROUP BY shard_id
    """,
)
def corpus_shard_assignment(spark, sf_dir):
    """Training-shard assignment: every document lands in one of
    ``_N_SHARDS`` shards by stable hash (even 125-bucket ranges of the
    [0,1000) hash space) and gets a deterministic intra-shard order from
    a SECOND independent hash (salt 47) — the global-shuffle step of a
    training pipeline, with membership and order both pure functions of
    doc_id (resumable, replayable, cluster-size-independent, no
    ``rand()``/``repartition`` nondeterminism).

    The report pins composition AND ordering: head/tail docs come from
    min/max over the packed order key ``bucket * 2^40 + doc_id``
    (injective while doc_id < 2^40), so any engine that orders a shard
    differently hash-mismatches. One map-side-combinable aggregate over
    a scan — zero shuffles beyond the 8-row grid."""
    d = t(spark, sf_dir, "documents")
    ok = _hash_bucket(F.col("doc_id"), salt=47) * _ORD_SHIFT + F.col("doc_id")
    sharded = d.select(
        "n_chars",
        # _bucket_sql's ((x % p) + p) % p arithmetic is engine-neutral
        # (sign-preserving % in both Spark and DuckDB), so the same
        # string works as a Spark expression
        F.expr(f"({_bucket_sql('doc_id', salt=31)}) div {1000 // _N_SHARDS}").alias(
            "shard_id"
        ),
        ok.alias("ok"),
    )
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
        (F.min("ok") % _ORD_SHIFT).alias("head_doc"),
        (F.max("ok") % _ORD_SHIFT).alias("tail_doc"),
    )


_TOK_BUDGET = 800  # tokens per source


@query(
    "sample_token_budget",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_N_TOK_SQL} AS n_tok,
             {_bucket_sql("doc_id", salt=53)} AS ob
      FROM documents),
    cum AS (
      SELECT source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY ob, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM toks)
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tok_kept
    FROM cum WHERE c - n_tok < {_TOK_BUDGET}
    GROUP BY source
    """,
)
def sample_token_budget(spark, sf_dir):
    """Token-budget sampling: each source contributes documents — in
    deterministic hash order, so the selection is a stable "random"
    sample — until its cumulative token count reaches the budget (the
    straddling document is kept: greedy next-fit, same boundary rule as
    ``pack_sequences``). This is how pretraining mixes cap low-value
    domains by token count rather than document count.

    One window cumsum partitioned by source (single shuffle); the kept
    set is a prefix in hash order, so re-running with a bigger budget
    EXTENDS the sample instead of reshuffling it — the property that
    makes dataset ablations comparable. The call of `token_budget`
    plus the per-source count."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", _n_tok_col().alias("n_tok")
    )
    return (
        token_budget(d, "source", "doc_id", "n_tok", _TOK_BUDGET, salt=53)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tok").alias("tok_kept"),
        )
    )


_EVAL_K = 5


@query(
    "sample_topk_per_group",
    f"""
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_bucket_sql("doc_id", salt=99)}, doc_id) AS rn
      FROM documents)
    WHERE rn <= {_EVAL_K}
    """,
)
def sample_topk_per_group(spark, sf_dir):
    """Deterministic eval-set selection: k documents per language,
    chosen by hash order (salted so it is independent of the train/val
    split hash), fully tie-broken by doc_id. Hash-ordering beats "first
    k by id" (id order correlates with crawl order) and beats rand()
    (not reproducible); one window shuffle, no global sort."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        _hash_bucket(F.col("doc_id"), salt=99), "doc_id"
    )
    return (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _EVAL_K)
        .drop("rn")
    )


# Temperature exponent alpha = 1/2, realized as INTEGER sqrt of the
# per-language token supply — floor(sqrt(bigint)) is bit-identical in
# Spark and DuckDB (IEEE sqrt is correctly rounded, inputs < 2^52),
# and all shares/boosts below are truncating integer division, so the
# whole table is order-independent exact integers.
_TEMP_ISQRT_SQL = "CAST(floor(sqrt(CAST({t} AS DOUBLE))) AS BIGINT)"


@query(
    "mix_temperature_rebalance",
    f"""
    WITH toks AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM({_N_TOK_SQL}) AS BIGINT) AS tok_total
      FROM documents GROUP BY lang),
    wts AS (
      SELECT lang, n_docs, tok_total,
             {_TEMP_ISQRT_SQL.format(t="tok_total")} AS w
      FROM toks),
    tot AS (
      SELECT CAST(SUM(tok_total) AS BIGINT) AS tok_all,
             CAST(SUM(w) AS BIGINT) AS w_all
      FROM wts)
    SELECT w.lang, w.n_docs, w.tok_total,
           CAST(w.tok_total * 1000000 // t.tok_all AS BIGINT)
             AS natural_share_1e6,
           CAST(w.w * 1000000 // t.w_all AS BIGINT) AS temp_share_1e6,
           CAST((w.w * 1000000 // t.w_all) * 1000000
                // GREATEST(w.tok_total * 1000000 // t.tok_all, 1) AS BIGINT)
             AS boost_1e6
    FROM wts w, tot t
    ORDER BY lang
    """,
)
def mix_temperature_rebalance(spark, sf_dir):
    """Temperature-scaled language re-balancing — the mT5/XLM-R
    sampling rule ``p_i ∝ share_i^alpha`` at alpha = 1/2, computed
    FROM the corpus (vs `mix_weighted_sources`' fixed keep-rates):
    per language, the natural token share, the temperature-flattened
    sampling share, and the resulting up/down-sampling boost a
    multilingual training pipeline applies so high-resource languages
    stop drowning out the tail. Exactness discipline: the temperature
    power is an integer sqrt of the token supply and every share is
    micro-unit truncating division, so both engines produce identical
    rows with no cross-row float accumulation anywhere.

    Shape at 100 TB: one partial-agg-friendly groupBy(lang) over the
    corpus (map-side combine does nearly all the work; language
    cardinality is tiny), then a broadcast 1-row total joined onto the
    per-language frame — no window over the corpus, no second scan."""
    d = t(spark, sf_dir, "documents")
    toks = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_n_tok_col()).cast("long").alias("tok_total"),
    )
    wts = toks.withColumn(
        "w",
        F.expr(_TEMP_ISQRT_SQL.format(t="tok_total")),
    )
    tot = wts.agg(
        F.sum("tok_total").cast("long").alias("tok_all"),
        F.sum("w").cast("long").alias("w_all"),
    )
    natural = F.expr("tok_total * 1000000 div tok_all")
    temp = F.expr("w * 1000000 div w_all")
    return (
        wts.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "tok_total",
            natural.cast("long").alias("natural_share_1e6"),
            temp.cast("long").alias("temp_share_1e6"),
            (temp * 1000000)
            .cast("long")
            .alias("_t"),
            natural.cast("long").alias("_n"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "tok_total",
            "natural_share_1e6",
            "temp_share_1e6",
            # greatest(..., 1) guard: a sub-ppm language truncates its
            # natural share to 0; the boost then reads as the raw
            # temperature share instead of dividing by zero (DuckDB //0
            # errors, Spark div 0 returns NULL — neither is a report)
            "cast(_t div greatest(_n, 1) AS bigint) AS boost_1e6",
        )
        .orderBy("lang")
    )


def temperature_shares(df, source_col, weight_col=None, alpha=0.5):
    """Library operator: temperature-scaled source re-balancing for
    arbitrary frames — the mT5/XLM-R sampling rule ``p_i ∝ share_i^α``
    (Xue et al. 2021), the frame-level generalization of the
    registered `mix_temperature_rebalance` query (which pins α = 1/2
    in integer arithmetic for the oracle; this export takes any
    0 < α <= 1 and returns doubles). Per source: row count, weight
    total (``weight_col``; 1 per row when None), the natural share,
    the temperature-flattened sampling share, and the up/down-sampling
    ``boost = temp_share / natural_share`` a mixing pipeline applies so
    high-resource sources stop drowning out the tail.

    Shape at 100 TB: one map-side-combinable groupBy(source) over the
    corpus (source cardinality is tiny), then a broadcast 1-row total
    joined back — no window over the corpus, no second scan."""
    if not (0 < alpha <= 1):
        raise ValueError(f"temperature_shares: alpha must be in (0, 1], got {alpha}")
    w = F.lit(1) if weight_col is None else F.col(weight_col)
    per_src = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(w).cast("double").alias("weight_total"),
    )
    tot = per_src.agg(
        F.sum("weight_total").alias("_wall"),
    )
    shared = per_src.crossJoin(F.broadcast(tot)).withColumn(
        "natural_share", F.col("weight_total") / F.col("_wall")
    ).withColumn("_pow", F.pow("natural_share", F.lit(float(alpha))))
    pow_tot = shared.agg(F.sum("_pow").alias("_pall"))
    return (
        shared.crossJoin(F.broadcast(pow_tot))
        .withColumn("temp_share", F.col("_pow") / F.col("_pall"))
        .select(
            "source",
            "n_rows",
            "weight_total",
            "natural_share",
            "temp_share",
            (F.col("temp_share") / F.col("natural_share")).alias("boost"),
        )
        .orderBy("source")
    )


def hash_sample(df, fraction, cols, salt=0):
    """Library operator: deterministic, reproducible sampling — keep a
    row iff ``xxhash64(cols..., salt)`` lands below ``fraction`` of the
    hash space. Unlike ``df.sample()`` (rand()-seeded per task,
    partitioning-dependent), the verdict is a pure function of the
    named columns: re-running, repartitioning, or growing the dataset
    never changes which rows are kept, and hashing an ENTITY column
    (e.g. user_id) keeps each entity's rows together — the consistent
    sampling a privacy-safe panel or a train-set downsample needs.
    ``salt`` selects an independent sample. Scan-side codegen filter;
    zero shuffles."""
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"hash_sample: fraction must be in [0, 1], got {fraction}")
    cols = [cols] if isinstance(cols, str) else list(cols)
    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in cols], F.lit(int(salt))),
        F.lit(1_000_000),
    )
    return df.where(bucket < F.lit(int(round(fraction * 1_000_000))))


def topk_per_group(df, keys, order_col, k=1, descending=True, tie_cols=()):
    """Library operator: the top-``k`` rows of each ``keys`` group by
    ``order_col`` (ties broken by ``tie_cols``, then arbitrary),
    returning the input columns plus ``rank``. The plan embodies the
    argmax lesson: at ``k = 1`` this is a ``max_by``/``min_by``
    AGGREGATE over a packed struct — map-side combinable, the shuffle
    carries ONE row per group — while ``k > 1`` uses the row_number
    window (one shuffle + in-partition sort, state bounded by the
    frame). A row_number window at k=1 would shuffle every row of
    every group instead.

    Tie semantics match across both paths: with ``descending`` the
    largest (order, ties...) tuple wins; ascending, the smallest.
    NULL contract, also identical across both paths: rows whose
    ``order_col`` is NULL never qualify (a group of only-NULL order
    values emits no rows). Without the explicit filter the paths would
    diverge — max_by/min_by skips null-ordered rows while row_number
    sorts them NULLS LAST — so the same data would answer differently
    depending on k."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    df = df.where(F.col(order_col).isNotNull())
    tie_cols = list(tie_cols)
    payload_cols = [c for c in df.columns if c not in keys]
    if int(k) == 1:
        ordering = F.struct(
            F.col(order_col), *[F.col(c) for c in tie_cols]
        )
        pick = F.max_by if descending else F.min_by
        agg = df.groupBy(*keys).agg(
            pick(F.struct(*payload_cols), ordering).alias("_row")
        )
        return agg.select(
            *keys,
            *[F.col(f"_row.{c}").alias(c) for c in payload_cols],
            F.lit(1).alias("rank"),
        )
    order = [
        F.col(c).desc() if descending else F.col(c).asc()
        for c in [order_col, *tie_cols]
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
    )


def stratified_sample(df, strata_col, rates, cols, salt=0, default_rate=0.0):
    """Library operator: per-stratum deterministic sampling — the
    corpus-mixing primitive ("keep all of wiki, 10% of crawl, none of
    spam") with `hash_sample`'s pure-function verdict. ``rates`` maps
    ``strata_col`` values to keep fractions; rows of unlisted strata
    fall back to ``default_rate``. The verdict is
    ``xxhash64(cols..., salt) < fraction-of-hash-space``, a pure
    function of the named columns: re-running, repartitioning, or
    growing the corpus never flips a row, hashing an ENTITY column
    keeps each entity together, and because every stratum shares one
    hash, raising a stratum's rate only ADDS rows (nested samples —
    the property that lets a mixing sweep reuse its largest sample).
    With every rate equal this IS `hash_sample` row-for-row.

    Scale shape: the rate table compiles to a LITERAL in-row map
    lookup — zero joins, zero shuffles, scan-side codegen filter.
    That sizes the operator to mixing-pipeline strata counts (dozens
    to hundreds of sources); thousands of strata would bloat the
    compiled plan — pre-bucket first, as `source_overlap` documents
    for the same regime."""
    rates = dict(rates)
    for v, r in rates.items():
        if not (0.0 <= float(r) <= 1.0):
            raise ValueError(
                f"stratified_sample: rate for {v!r} must be in [0, 1],"
                f" got {r}"
            )
    if not (0.0 <= float(default_rate) <= 1.0):
        raise ValueError(
            "stratified_sample: default_rate must be in [0, 1],"
            f" got {default_rate}"
        )
    cols = [cols] if isinstance(cols, str) else list(cols)
    # backtick-quote user-supplied names so dotted columns resolve as
    # top-level names, matching the module-wide quoting convention
    def q(c):
        return F.col("`" + c.replace("`", "``") + "`")

    entries = []
    for v, r in rates.items():
        entries += [F.lit(v), F.lit(int(round(float(r) * 1_000_000)))]
    thresh = F.lit(int(round(float(default_rate) * 1_000_000)))
    if entries:
        thresh = F.coalesce(
            F.create_map(*entries).getItem(q(strata_col)), thresh
        )
    bucket = F.pmod(
        F.xxhash64(*[q(c) for c in cols], F.lit(int(salt))),
        F.lit(1_000_000),
    )
    return df.where(bucket < thresh)
