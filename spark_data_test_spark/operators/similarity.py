"""Embedding similarity search over ``embeddings`` (north-star).

Brute-force cosine top-k (the correctness baseline) and an IVF ANN
(the scale path: assign vectors to **trained** centroid cells, probe
only the nearest cells per query).

Centroid training is a deterministic spherical k-means: seeds are the
``ceil(sqrt(n))`` vectors with the smallest LCG-mixed ``vec_id`` (a
seeded sample that needs no global sort — TakeOrdered top-k), followed
by ``_KM_ROUNDS`` Lloyd rounds where each vector joins its argmax-cosine
centroid and the new centroid is the element-wise truncated mean of its
members. Centroid state lives on the driver between rounds (MLlib
KMeans does the same) — it is ``ncells * dim`` integers, ~16 MB even at
n = 10^9 — and every data-sized step is a hash-partitioned DataFrame
aggregation. With ``ncells ~ sqrt(n)`` the candidate volume of a
cell-equi-join is ~``nprobe^2 * n^1.5`` instead of n^2: genuinely
sub-quadratic, the 100 TB shape.

Determinism across engines: embeddings are quantized per-element to
integer micro-units (``round(x * 1e6) -> bigint``), so dot products,
norms, and centroid element sums are **exact integer arithmetic**
(order-independent); means are truncated through an exact double
division (magnitudes < 2^53). The only floats are final
``dot / (sqrt(n2_q) * sqrt(n2_c))`` expressions evaluated with the
identical op tree in Spark and DuckDB — bit-identical results, fully
tie-broken ranks. The DuckDB oracle replays the training verbatim as an
unrolled CTE chain (`_kmeans_ctes`).

Everything data-sized is JVM-side higher-order array functions
(``transform``, ``zip_with``, ``aggregate``) — no Python in the loop.
"""

import functools
import hashlib
import math
import operator
import os
from typing import Callable, NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Window

from spark_data_test_spark.operators.relational import query, t
from spark_data_test_spark.utils.spark_utils import FrameCache, local_df

_DIM = 64
_NQ = 8  # query vectors: vec_id < 8
_TOPK = 5
_NPROBE = 2
_IVF_TOPK = 3
_KM_ROUNDS = 2  # Lloyd rounds (unrolled in the oracle CTE chain)
# LCG mix for the deterministic seeded sample of initial centroids
_MIX_A, _MIX_C, _MIX_M = 1103515245, 12345, 2147483648

_INT_EMB = (
    "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"
)
_NORM2 = "aggregate(e, cast(0 as bigint), (acc, x) -> acc + x * x)"
_DOT = "aggregate(zip_with(qe, ce, (x, y) -> x * y), cast(0 as bigint), (acc, x) -> acc + x)"

# Shared DuckDB machinery: quantize, flatten, norms, exact integer dots.
_ORACLE_BASE = f"""
ei AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS e
  FROM embeddings),
flat AS (
  SELECT vec_id, i, e[i] AS v
  FROM ei, unnest(generate_series(1, {_DIM})) AS u(i)),
norms AS (SELECT vec_id, SUM(v * v) AS n2 FROM flat GROUP BY vec_id)
"""


def _kmeans_ctes(rounds=_KM_ROUNDS):
    """DuckDB CTE chain replaying `train_ivf_centroids` exactly:
    seeded sample -> `rounds` unrolled Lloyd rounds. Exposes
    ``cflat{rounds}`` (cent_id, i, v) and ``cn{rounds}`` (cent_id, n2)
    as the trained-centroid relations."""
    ctes = [
        f"""ncells AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS nc FROM ei),
seeds AS (
  SELECT vec_id AS cent_id, e AS ce
  FROM (SELECT vec_id, e,
               ROW_NUMBER() OVER (
                 ORDER BY (vec_id * {_MIX_A} + {_MIX_C}) % {_MIX_M}, vec_id) AS rn
        FROM ei), ncells
  WHERE rn <= nc),
cflat0 AS (SELECT cent_id, i, ce[i] AS v
           FROM seeds, unnest(generate_series(1, {_DIM})) AS u(i)),
cn0 AS (SELECT cent_id, CAST(SUM(v * v) AS BIGINT) AS n2 FROM cflat0 GROUP BY 1)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""adot{r} AS (
  SELECT f.vec_id, c.cent_id, CAST(SUM(f.v * c.v) AS BIGINT) AS dot
  FROM flat f JOIN cflat{p} c ON f.i = c.i GROUP BY 1, 2),
assign{r} AS (
  SELECT vec_id, cent_id AS cell
  FROM (SELECT a.vec_id, a.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY CAST(a.dot AS DOUBLE) /
                          (sqrt(CAST(vn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) DESC,
                          a.cent_id) AS rn
        FROM adot{r} a
        JOIN norms vn ON vn.vec_id = a.vec_id
        JOIN cn{p} cn ON cn.cent_id = a.cent_id)
  WHERE rn = 1),
cflat{r} AS (
  SELECT s.cell AS cent_id, f.i,
         CAST(trunc(CAST(SUM(f.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM assign{r} s JOIN flat f ON f.vec_id = s.vec_id
  GROUP BY 1, 2),
cn{r} AS (SELECT cent_id, CAST(SUM(v * v) AS BIGINT) AS n2 FROM cflat{r} GROUP BY 1)"""
        )
    return ",\n".join(ctes)


def _final_assign_ctes(rounds=_KM_ROUNDS):
    """Score every vector against the trained centroids: ``fscore``
    (vec_id, cent_id, cos) ready for rn=1 assignment / rn<=nprobe
    probing."""
    return f"""fdot AS (
  SELECT f.vec_id, c.cent_id, CAST(SUM(f.v * c.v) AS BIGINT) AS dot
  FROM flat f JOIN cflat{rounds} c ON f.i = c.i GROUP BY 1, 2),
fscore AS (
  SELECT fdot.vec_id, fdot.cent_id,
         CAST(dot AS DOUBLE) /
           (sqrt(CAST(vn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos
  FROM fdot
  JOIN norms vn ON vn.vec_id = fdot.vec_id
  JOIN cn{rounds} cn ON cn.cent_id = fdot.cent_id)"""


def _int_embeddings(spark, sf_dir):
    return t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_INT_EMB).alias("e")
    ).withColumn("n2", F.expr(_NORM2))


def _cosine(dot_col, qn2, cn2):
    return dot_col.cast("double") / (
        F.sqrt(qn2.cast("double")) * F.sqrt(cn2.cast("double"))
    )


def _score_against_cents(emb, cents):
    """Every vector scored against every (broadcast) centroid —
    retained for QUERY-batch-sized scoring tables (the round-18
    fold-assign helpers below replace it on every corpus-sized path:
    the n x ncells row explosion plus the argmax/window shuffle
    collapse into a per-row fold over the packed model)."""
    return (
        emb.select("vec_id", F.col("e").alias("qe"), F.col("n2").alias("qn2"))
        .crossJoin(F.broadcast(cents))
        .withColumn("dot", F.expr(_DOT))
        .withColumn("cos", _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
    )


def _cents_packed(cents):
    """The whole broadcast-sized centroid model as ONE single-row frame
    holding a cent_id-sorted array<struct<cent_id, ce, cn2>>. Attaching
    it is a 1-row broadcast nested-loop join: each vector row gains the
    model as an array column and folds over it IN PLACE, instead of
    `_score_against_cents`'s n x ncells row explosion plus an n-row
    argmax/window exchange (guide §2.4 — the shuffle disappears; the
    per-row arithmetic is the identical expression tree). collect_list
    order is nondeterministic but array_sort on the unique cent_id
    makes the packed array — and every fold below — deterministic."""
    return F.broadcast(
        cents.agg(
            F.array_sort(
                F.collect_list(F.struct("cent_id", "ce", "cn2"))
            ).alias("_cents")
        )
    )


# Per-centroid cosine inside the fold: the same _DOT / _cosine
# expression tree as `_score_against_cents` evaluated against the
# packed entry `ct` — exact bigint dot, then the identical
# double-division, so every cosine is bit-identical to the old path.
_COS_INT_CT = (
    "cast(aggregate(zip_with(e, ct.ce, (x, y) -> x * y),"
    " cast(0 as bigint), (acc, x) -> acc + x) as double)"
    " / (sqrt(cast(n2 as double)) * sqrt(cast(ct.cn2 as double)))"
)

# Fold-argmax over the packed model: array_max's lexicographic struct
# comparison on ('c', 'nc') IS max_by's / ROW_NUMBER's
# (cos DESC, cent_id ASC) tie-break (nc = -cent_id, unique).
_BEST_CELL_INT = (
    "array_max(transform(_cents, ct -> named_struct("
    f"'c', {_COS_INT_CT}, 'nc', -ct.cent_id, 'cid', ct.cent_id)))"
)


def _argmax_cell_int(emb, cents):
    """Input columns + (_cell, _cos): each vector's argmax-cosine
    trained cell and its winning cosine, computed as a pure per-row
    fold — no row explosion, no exchange. Bit-identical to the rn=1
    row of the old window / max_by assignment (empty-model edge:
    array_max over an empty packed array is NULL, filtered here,
    matching the old crossJoin-with-empty's zero rows).

    The fold is routed through explode(array(...)) so the Generate
    node materializes `_best` ONCE per row as an attribute: lambda
    expressions are excluded from Spark's common-subexpression
    elimination, so filtering and field-extracting a projected fold
    would re-run the whole ncells x dim fold 2-3x per row (measured
    1.8x slower than the window shape it replaces; with the single
    evaluation the fold wins on both CPU and shuffle)."""
    cols = list(emb.columns)
    return (
        emb.crossJoin(_cents_packed(cents))
        .select(
            *cols, F.explode(F.array(F.expr(_BEST_CELL_INT))).alias("_best")
        )
        .where(F.col("_best").isNotNull())
        .select(
            *cols,
            F.col("_best.cid").alias("_cell"),
            F.col("_best.c").alias("_cos"),
        )
    )


def _topn_cells_int(emb, cents, nprobe):
    """Input columns + cell: each vector's ``nprobe`` best cells by the
    same (cos DESC, cent_id ASC) comparator the old row_number window
    ordered by — an in-place sort of the packed model, sliced to
    nprobe, exploded (one output row per kept cell, same multiplicity
    as the rn <= nprobe filter)."""
    order = (
        "(l, r) -> CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1"
        " WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1"
        " ELSE 0 END"
    )
    topn = (
        "transform(slice(array_sort(transform(_cents, ct -> named_struct("
        f"'c', {_COS_INT_CT}, 'cid', ct.cent_id)), {order}),"
        f" 1, {int(nprobe)}), p -> p.cid)"
    )
    cols = list(emb.columns)
    return (
        emb.crossJoin(_cents_packed(cents))
        .select(*cols, F.explode(F.expr(topn)).alias("cell"))
    )


def _assign_cells(emb, cents, nprobe):
    """Multi-probe cell assignment: each vector lands in its ``nprobe``
    argmax-cosine centroid cells (deterministic cent_id tie-break)."""
    if int(nprobe) == 1:
        return _argmax_cell_int(emb, cents).select(
            "vec_id", F.col("_cell").alias("cell")
        )
    return _topn_cells_int(emb, cents, nprobe).select("vec_id", "cell")


# Trained centroids memo: (sf_dir, rounds) -> (rows, schema). Centroid
# state is driver-resident between Lloyd rounds anyway (ncells * dim
# ints), so memoizing the collected rows is free; bench clears this
# between passes via clear_similarity_cache.
_CENTROID_MEMO = {}

# Bump whenever the TRAINING ARITHMETIC changes: persisted centroid
# state trained by older code must be invisible to newer code (the
# data fingerprint alone cannot see code changes).
_TRAIN_STATE_VERSION = 1


def clear_similarity_cache():
    """Drop the in-session centroid memo and the PQ frames. The
    PERSISTED trained state (parquet under _centroid_state_path)
    survives on purpose — that is the production shape: training is a
    separate, stored step and the ANN queries read trained centroids
    (VERDICT r3 item 2)."""
    _CENTROID_MEMO.clear()
    _PQ_CODEBOOK_CACHE.clear()
    _PQ_CODES_CACHE.clear()


def _emb_fingerprint(sf_dir):
    """Digest of the embeddings source (shared `source_fingerprint`):
    trained-centroid state is valid only for the exact data it was
    trained on, so regenerated testdata flows to a fresh state root
    automatically instead of serving stale centroids."""
    from spark_data_test_spark.utils.spark_utils import source_fingerprint

    return source_fingerprint(f"{sf_dir}/embeddings.parquet")


def _centroid_state_path(sf_dir, rounds):
    return (
        "/tmp/spark_graft_ivf/"
        f"{_emb_fingerprint(sf_dir)}_r{rounds}_v{_TRAIN_STATE_VERSION}"
    )


def train_ivf_centroids(spark, sf_dir, rounds=_KM_ROUNDS, force_retrain=False):
    """Deterministic spherical k-means over the full embeddings table,
    staged as a separate persisted step.

    Returns a broadcast-sized DataFrame (cent_id, ce, cn2). Mirrors
    `_kmeans_ctes` bit-for-bit: exact integer sums/dots, truncated-mean
    updates through exact double division, cosine argmax assignment
    with cent_id tie-break. Empty cells drop out (same in the oracle).

    Resolution order: session memo -> persisted versioned state table
    (keyed by the embeddings-file fingerprint, committed via the
    `_SUCCESS`-gated `write_state_version` machinery) -> train + persist.
    The ANN/near-dup queries therefore pay a broadcast-sized parquet
    read in steady state, never a training pass; `similarity_ivf_train`
    (``force_retrain=True``) IS the training job and always recomputes
    and re-commits the state."""
    from spark_data_test_spark.streaming.windows import (
        read_state_table,
        write_state_version,
    )

    key = (sf_dir, rounds)
    memo = None if force_retrain else _CENTROID_MEMO.get(key)
    state_path = _centroid_state_path(sf_dir, rounds)
    if memo is None and not force_retrain:
        state = read_state_table(spark, state_path)
        if state is not None:
            cents = state.select("cent_id", "ce", "cn2")
            _CENTROID_MEMO[key] = memo = (cents.collect(), cents.schema)
    if memo is None:
        # persisted for the duration of training: seeds + every Lloyd
        # round re-consume the quantized vectors; at scale this is the
        # standard iterate-over-cached-features shape
        emb = _int_embeddings(spark, sf_dir).persist()
        n = emb.count()
        ncells = int(math.ceil(math.sqrt(n)))
        # seeded sample: smallest LCG-mix of vec_id — TakeOrdered, no
        # global sort
        seeds = (
            emb.withColumn(
                "mix", (F.col("vec_id") * _MIX_A + _MIX_C) % F.lit(_MIX_M)
            )
            .orderBy("mix", "vec_id")
            .limit(ncells)
            .select(
                F.col("vec_id").alias("cent_id"),
                F.col("e").alias("ce"),
                F.col("n2").alias("cn2"),
            )
        )
        # Lloyd rounds CHAIN LAZILY: each round's centroid frame is the
        # (unmaterialized) aggregate of the previous one, broadcast into
        # the next scoring pass, and ONE collect at the end runs the
        # whole chain — 2 driver sync points (count + final collect)
        # instead of 2 + rounds. Identical arithmetic and results to the
        # per-round-collect formulation (the oracle CTE chain is exactly
        # this lazy composition); fewer barriers is what a 1000-executor
        # cluster wants. emb stays persisted, so each chained round
        # re-reads the cached vectors, not storage.
        cents = seeds
        for _ in range(rounds):
            # Lloyd round in ONE map-side-combinable aggregation (round
            # 18, guide §2.4): the argmax assignment is a pure per-row
            # fold over the packed broadcast model (`_argmax_cell_int`
            # — no n*ncells explosion, no n-row argmax shuffle; the
            # fold's array_max on (cos, -cent_id) reproduces the
            # oracle's ROW_NUMBER(ORDER BY cos DESC, cent_id) argmax
            # bit-for-bit), so the only exchange left per round is the
            # ncells-row centroid-mean aggregate below.
            per_vec = _argmax_cell_int(emb, cents).select(
                "vec_id", F.col("_cell").alias("cell"), "e"
            )
            # element-wise integer mean: exact bigint sums, truncated
            # through exact double division — identical to the oracle's
            # per-(cell, i) formulation
            sums = per_vec.groupBy("cell").agg(
                F.count("*").alias("c"),
                *[F.sum(F.col("e")[i]).alias(f"s{i}") for i in range(_DIM)],
            )
            newc = sums.select(
                F.col("cell").alias("cent_id"),
                F.array(
                    *[
                        F.expr(f"cast(cast(s{i} as double) / c as bigint)")
                        for i in range(_DIM)
                    ]
                ).alias("ce"),
            ).withColumn(
                "cn2",
                F.expr("aggregate(ce, cast(0 as bigint), (acc, x) -> acc + x * x)"),
            )
            cents = newc
        rows, schema = cents.collect(), seeds.schema
        emb.unpersist()
        _CENTROID_MEMO[key] = memo = (rows, schema)
        # commit the trained state (crash-safe versioned write; readers
        # see the old version until the new _SUCCESS lands). The state
        # root is shared across PROCESSES (keyed by data fingerprint),
        # so retain=2 keeps the previous committed version on disk —
        # a concurrent reader mid-scan of vN survives a retrainer
        # committing vN+1 (only vN-1 is pruned). The remaining window —
        # two same-version writers interleaving deletes inside one
        # uncommitted directory — yields a failed/retriable write, not
        # a wrong read: _SUCCESS-gated readers never see partial state.
        os.makedirs(state_path, exist_ok=True)
        write_state_version(
            local_df(spark, rows, schema), state_path, retain=2
        )
    rows, schema = memo
    return local_df(spark, rows, schema)


@query(
    "similarity_ivf_train",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()}
    SELECT cent_id, CAST(i AS INTEGER) AS dim_i, v
    FROM cflat{_KM_ROUNDS}
    """,
)
def similarity_ivf_train(spark, sf_dir):
    """The IVF TRAINING JOB as its own registered step: run the
    deterministic spherical k-means end-to-end, commit the trained
    centroids to the versioned state table, and emit them element-wise
    (cent_id, dim_i, v) so the DuckDB oracle — the unrolled Lloyd CTE
    chain `_kmeans_ctes` — can hash-check every trained value. This is
    the production staging the ANN family assumes: train once, store,
    and let `similarity_ivf_ann` / `dedup_embedding_cosine` read trained
    centroids instead of billing a training pass to every query."""
    cents = train_ivf_centroids(spark, sf_dir, force_retrain=True)
    return cents.select(
        "cent_id", F.posexplode("ce").alias("pos", "v")
    ).select(
        "cent_id",
        (F.col("pos") + 1).cast("int").alias("dim_i"),
        "v",
    )


@query(
    "similarity_cosine_topk",
    f"""
    WITH {_ORACLE_BASE.strip()},
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.v * c.v) AS dot
      FROM flat q JOIN flat c ON q.i = c.i
      WHERE q.vec_id < {_NQ} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) /
               (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos
      FROM dots
      JOIN norms qn ON qn.vec_id = query_id
      JOIN norms cn ON cn.vec_id = neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank,
           CAST(ROUND(cos * 1000000) AS BIGINT) AS score_1e6
    FROM ranked WHERE rank <= {_TOPK}
    """,
)
def similarity_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: query set broadcast, one scan of the
    corpus, per-query window top-k."""
    emb = _int_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", F.expr(_DOT))
        .withColumn("cos", _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("cos") * 1000000).cast("long").alias("score_1e6"),
        )
    )


@query(
    "similarity_ivf_ann",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    {_final_assign_ctes()},
    fassign AS (
      SELECT vec_id, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore WHERE vec_id < {_NQ})
      WHERE rn <= {_NPROBE}),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN fassign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    dots AS (
      SELECT cand.query_id, cand.neighbor_id, SUM(q.v * c.v) AS dot
      FROM cand
      JOIN flat q ON q.vec_id = cand.query_id
      JOIN flat c ON c.vec_id = cand.neighbor_id AND c.i = q.i
      GROUP BY 1, 2),
    scored AS (
      SELECT dots.query_id, dots.neighbor_id,
             CAST(dot AS DOUBLE) /
               (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos
      FROM dots
      JOIN norms qn ON qn.vec_id = dots.query_id
      JOIN norms cn ON cn.vec_id = dots.neighbor_id)
    SELECT query_id, neighbor_id, rank
    FROM (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {_IVF_TOPK}
    """,
)
def similarity_ivf_ann(spark, sf_dir):
    """IVF ANN over TRAINED centroids (`train_ivf_centroids`):
    ``ncells = ceil(sqrt(n))`` cells, every vector assigned to its
    nearest cell, each query (vec_id < nq) probes its nprobe nearest
    cells and exact-rescores only those candidates — the scanned
    fraction drops to ~nprobe/sqrt(n) and keeps shrinking as the corpus
    grows, unlike a fixed centroid count."""
    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir)
    assign = _assign_cells(emb, cents, nprobe=1)
    probes = _assign_cells(
        emb.where(F.col("vec_id") < _NQ), cents, _NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        probes.join(assign, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    qe = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    ce = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    scored = (
        cand.join(F.broadcast(qe.where(F.col("query_id") < _NQ)), "query_id")
        .join(ce, "neighbor_id")
        .withColumn("dot", F.expr(_DOT))
        .withColumn("cos", _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "neighbor_id", "rank")
    )


@query(
    "similarity_ann_recall_report",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    {_final_assign_ctes()},
    fassign AS (
      SELECT vec_id, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore WHERE vec_id < {_NQ})
      WHERE rn <= {_NPROBE}),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN fassign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    exdots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.v * c.v) AS dot
      FROM flat q JOIN flat c ON q.i = c.i
      WHERE q.vec_id < {_NQ} AND c.vec_id <> q.vec_id
      GROUP BY 1, 2),
    exact AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY query_id
                     ORDER BY CAST(dot AS DOUBLE) /
                              (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) DESC,
                              neighbor_id) AS rank
            FROM exdots
            JOIN norms qn ON qn.vec_id = query_id
            JOIN norms cn ON cn.vec_id = neighbor_id)
      WHERE rank <= {_TOPK})
    SELECT e.query_id, CAST({_TOPK} AS BIGINT) AS exact_k,
           COUNT(c.neighbor_id) AS hits,
           CAST(COUNT(c.neighbor_id) * 100 / {_TOPK} AS BIGINT) AS recall_pct
    FROM exact e
    LEFT JOIN cand c
      ON c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def similarity_ann_recall_report(spark, sf_dir):
    """ANN quality diagnostic: recall of the IVF candidate stage
    against the exact top-k, per query — the completeness check a
    production ANN pipeline ships next to the index (is the cell/probe
    configuration actually finding the true neighbors?).

    ``recall_pct`` is exact integer arithmetic (hits * 100 / k with k
    dividing 100), so the report hash-matches the oracle bit-for-bit.
    Cost: the brute-force side is one broadcast-queries scan of the
    corpus (same shape as ``similarity_cosine_topk``, bounded by the
    nq query vectors, not n^2); the candidate side reuses the
    trained-centroid assignment."""
    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir)

    # candidate stage (same plan as similarity_ivf_ann's cand)
    assign = _assign_cells(emb, cents, nprobe=1)
    probes = _assign_cells(
        emb.where(F.col("vec_id") < _NQ), cents, _NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        probes.join(assign, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
        .withColumn("is_cand", F.lit(1))
    )

    # exact top-k stage (same plan as similarity_cosine_topk)
    q = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    w_ex = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", F.expr(_DOT))
        .withColumn("cos", _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
        .withColumn("rank", F.row_number().over(w_ex))
        .where(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id")
    )

    return (
        exact.join(cand, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("is_cand").alias("hits"))
        .select(
            "query_id",
            F.lit(_TOPK).cast("long").alias("exact_k"),
            F.col("hits"),
            (F.col("hits") * 100 / _TOPK).cast("long").alias("recall_pct"),
        )
        .orderBy("query_id")
    )


@query(
    "similarity_cell_report",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    {_final_assign_ctes()},
    fassign AS (
      SELECT vec_id, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore)
      WHERE rn = 1)
    SELECT cell, COUNT(*) AS n_vectors,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec,
           CAST(MAX(vec_id) AS BIGINT) AS max_vec
    FROM fassign GROUP BY cell
    """,
)
def similarity_cell_report(spark, sf_dir):
    """IVF index balance diagnostic: per trained cell, how many vectors
    landed in it (plus min/max member ids pinning the assignment) — the
    health check a production ANN index ships with, since one
    overloaded cell turns every probe touching it into a partial scan.
    Empty cells drop out (inner semantics), matching the trained state.

    Reuses the deterministic k-means (`train_ivf_centroids`) and the
    same argmax-cosine assignment as `similarity_ivf_ann`; the report
    itself is one map-side-combinable aggregate over the assignment —
    ~sqrt(n) rows out."""
    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir)
    # nprobe=1 IS the argmax assignment — same helper, same tie-break
    # as similarity_ivf_ann's fassign
    assign = _assign_cells(emb, cents, nprobe=1)
    return assign.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): subspace codebooks + ADC approximate search
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUBDIM = _DIM // _PQ_M  # dims per subspace (16)
_PQ_K = 16  # codebook entries per subspace
_PQ_TOPK = 3

# Integer L2 over a subvector pair — exact bigint, so every PQ ranking
# below is bit-deterministic (no float comparisons anywhere).
_PQ_L2 = (
    "aggregate(zip_with(sub, csub, (x, y) -> (x - y) * (x - y)), "
    "cast(0 as bigint), (acc, x) -> acc + x)"
)

_PQ_CODEBOOK_CACHE = FrameCache(max_entries=2)
_PQ_CODES_CACHE = FrameCache(max_entries=2)


def _pq_ctes():
    """DuckDB CTE chain replaying PQ training + encoding exactly:
    subvector split -> seeded initial codebooks -> one Lloyd round in
    integer L2 -> per-subspace codes. Exposes ``cb1`` (s, cent_id, j, v)
    and ``codes`` (vec_id, s, cent_id)."""
    return f"""sub0 AS (
  SELECT vec_id, (i - 1) // {_PQ_SUBDIM} AS s,
         (i - 1) % {_PQ_SUBDIM} + 1 AS j, v
  FROM flat),
seedord AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (
           ORDER BY (vec_id * {_MIX_A} + {_MIX_C}) % {_MIX_M}, vec_id) AS rn
  FROM ei),
cb0 AS (
  SELECT sb.s, so.vec_id AS cent_id, sb.j, sb.v
  FROM seedord so JOIN sub0 sb ON sb.vec_id = so.vec_id
  WHERE so.rn <= {_PQ_K}),
ad1 AS (
  SELECT x.vec_id, x.s, c.cent_id,
         CAST(SUM((x.v - c.v) * (x.v - c.v)) AS BIGINT) AS d
  FROM sub0 x JOIN cb0 c ON c.s = x.s AND c.j = x.j
  GROUP BY 1, 2, 3),
as1 AS (
  SELECT vec_id, s, cent_id FROM (
    SELECT vec_id, s, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d, cent_id) AS rn
    FROM ad1)
  WHERE rn = 1),
cb1 AS (
  SELECT a.s, a.cent_id, x.j,
         CAST(trunc(CAST(SUM(x.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM as1 a JOIN sub0 x ON x.vec_id = a.vec_id AND x.s = a.s
  GROUP BY 1, 2, 3),
ad2 AS (
  SELECT x.vec_id, x.s, c.cent_id,
         CAST(SUM((x.v - c.v) * (x.v - c.v)) AS BIGINT) AS d
  FROM sub0 x JOIN cb1 c ON c.s = x.s AND c.j = x.j
  GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, s, cent_id FROM (
    SELECT vec_id, s, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d, cent_id) AS rn
    FROM ad2)
  WHERE rn = 1)"""


def _pq_subvectors(emb):
    """(vec_id, s, sub) — each quantized vector split into _PQ_M
    16-dim subvectors, one row per subspace."""
    return emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.expr(
                            f"slice(e, {s * _PQ_SUBDIM + 1}, {_PQ_SUBDIM})"
                        ).alias("sub"),
                    )
                    for s in range(_PQ_M)
                ]
            )
        ).alias("r"),
    ).select("vec_id", "r.s", "r.sub")


def _pq_cb_packed(codebook):
    """The PQ codebook packed per subspace: ``(s, _cb)`` where ``_cb``
    is a cent_id-sorted array<struct<cent_id, csub>> — m broadcast
    rows, so joining it on ``s`` attaches a subspace's whole codebook
    to each subvector row WITHOUT the sub x ncodes row explosion
    (guide §2.4; array_sort on the unique cent_id makes the fold
    below deterministic despite collect_list's free ordering)."""
    return F.broadcast(
        codebook.groupBy("s").agg(
            F.array_sort(
                F.collect_list(F.struct("cent_id", "csub"))
            ).alias("_cb")
        )
    )


# Fold-argmin over the packed subspace codebook: the same exact-bigint
# _PQ_L2 per entry, and array_min's struct comparison on ('d', 'cid')
# IS min_by's (d, cent_id) tie-break.
_BEST_CODE_INT = (
    "array_min(transform(_cb, cb -> named_struct("
    "'d', aggregate(zip_with(sub, cb.csub, (x, y) -> (x - y) * (x - y)),"
    " cast(0 as bigint), (acc, x) -> acc + x),"
    "'cid', cb.cent_id)))"
)


def _pq_assign(sub, codebook):
    """Nearest codebook entry per (vec_id, subspace) by exact integer
    L2 with cent_id tie-break — a pure per-row fold over the packed
    broadcast codebook (round 18): no sub x ncodes explosion, no
    argmin shuffle; bit-identical distances and the identical
    (d, cent_id) winner rule as the old min_by aggregate."""
    return (
        sub.join(_pq_cb_packed(codebook), "s")
        .withColumn("_best", F.expr(_BEST_CODE_INT))
        .select(
            "vec_id", "s", F.col("_best.cid").alias("cent_id"), "sub"
        )
    )


def _pq_codebook(spark, sf_dir):
    """Trained PQ codebook (s, cent_id, csub): seeded initial entries
    (the same LCG-ordered sample as IVF training, subvector-split) plus
    ONE Lloyd round in integer L2 with truncated-mean updates. The
    whole model is _PQ_M * _PQ_K tiny rows — broadcast-sized by
    construction at any corpus size."""

    def build():
        emb = _int_embeddings(spark, sf_dir)
        sub = _pq_subvectors(emb)
        seeds = (
            emb.withColumn(
                "mix", (F.col("vec_id") * _MIX_A + _MIX_C) % F.lit(_MIX_M)
            )
            .orderBy("mix", "vec_id")
            .limit(_PQ_K)
            .select(F.col("vec_id").alias("cent_id"))
        )
        cb0 = (
            _pq_subvectors(
                emb.join(F.broadcast(seeds), emb.vec_id == seeds.cent_id)
                .select("vec_id", "e", "n2")
            )
            .select(F.col("vec_id").alias("cent_id"), "s",
                    F.col("sub").alias("csub"))
        )
        a1 = _pq_assign(sub, cb0)
        sums = a1.groupBy("s", F.col("cent_id").alias("cell")).agg(
            F.count(F.lit(1)).alias("c"),
            *[
                F.sum(F.col("sub")[j]).alias(f"s{j}")
                for j in range(_PQ_SUBDIM)
            ],
        )
        return sums.select(
            "s",
            F.col("cell").alias("cent_id"),
            F.array(
                *[
                    F.expr(f"cast(cast(s{j} as double) / c as bigint)")
                    for j in range(_PQ_SUBDIM)
                ]
            ).alias("csub"),
        ).persist()

    return _PQ_CODEBOOK_CACHE.get_or_create(
        (spark.sparkContext.applicationId, sf_dir), build
    )


def _pq_codes(spark, sf_dir):
    """(vec_id, s, cent_id) — every vector encoded against the trained
    codebook: the 64-dim float vector compressed to _PQ_M small codes,
    the representation ADC search scans INSTEAD of raw vectors."""
    return _PQ_CODES_CACHE.get_or_create(
        (spark.sparkContext.applicationId, sf_dir),
        lambda: _pq_assign(
            _pq_subvectors(_int_embeddings(spark, sf_dir)),
            _pq_codebook(spark, sf_dir),
        )
        .select("vec_id", "s", "cent_id")
        .persist(),
    )


def _pq_qd_cte():
    """The ``qd`` half of `_pq_adc_ctes` — the per-query exact integer
    L2 distance TABLE to every trained codebook entry — factored out so
    the persisted-index oracles (`similarity_pq_index_probe`,
    `similarity_ivfpq_index_probe`) reuse the ONE canonical definition
    against their own candidate sets instead of carrying drift-prone
    copies (DuckDB does not execute unused CTEs, so reuse is free)."""
    return f"""qd AS (
      SELECT q.vec_id AS q, c.s, c.cent_id,
             CAST(SUM((q.v - c.v) * (q.v - c.v)) AS BIGINT) AS d
      FROM sub0 q JOIN cb1 c ON c.s = q.s AND c.j = q.j
      WHERE q.vec_id < {_NQ}
      GROUP BY 1, 2, 3)"""


def _pq_adc_ctes():
    """Shared ADC oracle machinery: ``qd`` (see `_pq_qd_cte`) plus
    ``adc`` (the all-candidates ADC distances, canonical columns
    q/x/adc_dist). Consumed by all three PQ oracles;
    `similarity_ivfpq_ann` reuses ``qd`` and restricts its own adc to
    the probed candidates."""
    return f"""{_pq_qd_cte()},
    adc AS (
      SELECT qd.q, codes.vec_id AS x, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
      FROM codes JOIN qd ON qd.s = codes.s AND qd.cent_id = codes.cent_id
      WHERE codes.vec_id <> qd.q
      GROUP BY 1, 2)"""


@query(
    "similarity_pq_train",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_pq_ctes()}
    SELECT s, cent_id, CAST(j AS INTEGER) AS dim_j, v
    FROM cb1 ORDER BY s, cent_id, dim_j
    """,
)
def similarity_pq_train(spark, sf_dir):
    """PQ codebook TRAINING as a query: emit the trained codebook
    element-wise against the unrolled SQL replay (seeded sample -> one
    integer-L2 Lloyd round -> truncated-mean update). All arithmetic is
    exact bigint until the final truncating division, so the codebook
    is bit-identical across engines — same contract as
    `similarity_ivf_train`, per-subspace."""
    cb = _pq_codebook(spark, sf_dir)
    return (
        cb.select(
            "s",
            "cent_id",
            F.posexplode("csub").alias("j0", "v"),
        )
        .select(
            "s",
            "cent_id",
            (F.col("j0") + 1).cast("int").alias("dim_j"),
            "v",
        )
        .orderBy("s", "cent_id", "dim_j")
    )


@query(
    "similarity_pq_ann",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_pq_ctes()},
    {_pq_adc_ctes()}
    SELECT q AS q_vec_id, x AS neighbor_id, adc_dist,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT q, x, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY q
                                    ORDER BY adc_dist, x) AS rn
          FROM adc)
    WHERE rn <= {_PQ_TOPK}
    ORDER BY q_vec_id, rank
    """,
)
def similarity_pq_ann(spark, sf_dir):
    """Approximate nearest neighbors by PQ + ADC (asymmetric distance
    computation): each query precomputes its tiny distance table to
    every codebook entry (_PQ_M x _PQ_K integer L2 values), then scans
    only the CODES — the distance to a database vector is the sum of 4
    table lookups, never a touch of its raw floats.

    Why this is the third leg of the ANN family (brute-force / IVF /
    PQ): IVF prunes WHICH vectors to score, PQ compresses WHAT is
    scored (64 floats -> 4 codes, a 64x memory cut at this config; at
    100 TB the codes fit where raw vectors cannot, and the scan is
    bandwidth-bound on kilobyte tables). The broadcast is the distance
    table (_NQ * 64 rows); the only shuffle is the final per-query
    top-k. Exact integer arithmetic end-to-end makes the approximate
    ranking itself bit-deterministic — the oracle replays training,
    encoding, and ADC in SQL and the hash must match."""
    codes = _pq_codes(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir)
    queries_sub = _pq_subvectors(
        _int_embeddings(spark, sf_dir).where(F.col("vec_id") < _NQ)
    )
    qd = (
        queries_sub.join(F.broadcast(cb), "s")
        .withColumn("d", F.expr(_PQ_L2))
        .select(F.col("vec_id").alias("q"), "s", "cent_id", "d")
    )
    adc = (
        codes.join(F.broadcast(qd), ["s", "cent_id"])
        .where(F.col("vec_id") != F.col("q"))
        .groupBy("q", F.col("vec_id").alias("x"))
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("q").orderBy("adc_dist", "x")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _PQ_TOPK)
        .select(
            F.col("q").alias("q_vec_id"),
            F.col("x").alias("neighbor_id"),
            "adc_dist",
            F.col("rn").cast("long").alias("rank"),
        )
        .orderBy("q_vec_id", "rank")
    )


@query(
    "similarity_ivfpq_ann",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    {_final_assign_ctes()},
    {_pq_ctes()},
    fassign AS (
      SELECT vec_id, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore WHERE vec_id < {_NQ})
      WHERE rn <= {_NPROBE}),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN fassign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    {_pq_adc_ctes()},
    cand_adc AS (
      SELECT c.query_id, c.neighbor_id, a.adc_dist
      FROM cand c
      JOIN adc a ON a.q = c.query_id AND a.x = c.neighbor_id)
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
    FROM (SELECT query_id, neighbor_id, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist, neighbor_id) AS rank
          FROM cand_adc)
    WHERE rank <= {_IVF_TOPK}
    ORDER BY query_id, rank
    """,
)
def similarity_ivfpq_ann(spark, sf_dir):
    """IVF-PQ — the composed production ANN architecture (the FAISS
    IVFPQ shape): the trained IVF coarse quantizer prunes WHICH vectors
    each query inspects (nprobe cells of ~sqrt(n)), and PQ compresses
    WHAT is scored there (4 codes per candidate, ADC table lookups —
    never the raw floats). At 100 TB the cell lists hold only
    (vec_id, 4 codes) — the inverted lists fit in memory where raw
    vectors cannot, the probed fraction shrinks as the corpus grows,
    and the per-candidate cost is constant. Both stages reuse their
    standalone trained models (`train_ivf_centroids` persisted state,
    `_pq_codebook`); the oracle replays coarse training, probing, PQ
    training, encoding, and ADC in one CTE chain."""
    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir)
    assign = _assign_cells(emb, cents, nprobe=1)
    probes = _assign_cells(
        emb.where(F.col("vec_id") < _NQ), cents, _NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        probes.join(assign, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    cb = _pq_codebook(spark, sf_dir)
    codes = _pq_codes(spark, sf_dir)
    qd = (
        _pq_subvectors(emb.where(F.col("vec_id") < _NQ))
        .join(F.broadcast(cb), "s")
        .withColumn("d", F.expr(_PQ_L2))
        .select(F.col("vec_id").alias("query_id"), "s", "cent_id", "d")
    )
    adc = (
        cand.join(
            codes.select(F.col("vec_id").alias("neighbor_id"), "s", "cent_id"),
            "neighbor_id",
        )
        .join(F.broadcast(qd), ["query_id", "s", "cent_id"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= _IVF_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


@query(
    "similarity_pq_recall_report",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_pq_ctes()},
    {_pq_adc_ctes()},
    adc_topk AS (
      SELECT q AS query_id, x AS neighbor_id
      FROM (SELECT q, x,
                   ROW_NUMBER() OVER (PARTITION BY q
                                      ORDER BY adc_dist, x) AS rn
            FROM adc)
      WHERE rn <= {_PQ_TOPK}),
    exd AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             CAST(SUM((q.v - x.v) * (q.v - x.v)) AS BIGINT) AS l2
      FROM flat q JOIN flat x ON x.i = q.i
      WHERE q.vec_id < {_NQ} AND x.vec_id <> q.vec_id
      GROUP BY 1, 2),
    exact_topk AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY l2, neighbor_id) AS rn
            FROM exd)
      WHERE rn <= {_PQ_TOPK})
    SELECT e.query_id, CAST({_PQ_TOPK} AS BIGINT) AS exact_k,
           COUNT(a.neighbor_id) AS hits,
           (COUNT(a.neighbor_id) * 100) // {_PQ_TOPK}
             AS recall_pct
    FROM exact_topk e
    LEFT JOIN adc_topk a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def similarity_pq_recall_report(spark, sf_dir):
    """Recall EVALUATION of PQ/ADC against the exact integer-L2 ground
    truth (same metric the quantizer approximates): per query, how many
    of the true top-{k} nearest neighbors the ADC top-{k} recovered.
    The quality gate a PQ deployment runs on a sampled slice before
    trusting (m, K) at full scale — the third member of the recall
    family (`dedup_lsh_recall_report`, `similarity_ann_recall_report`).
    Both rankings are exact-integer and fully tie-broken, so the recall
    numbers are bit-deterministic and the oracle replays them
    verbatim."""
    emb = _int_embeddings(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir)
    codes = _pq_codes(spark, sf_dir)
    qd = (
        _pq_subvectors(emb.where(F.col("vec_id") < _NQ))
        .join(F.broadcast(cb), "s")
        .withColumn("d", F.expr(_PQ_L2))
        .select(F.col("vec_id").alias("q"), "s", "cent_id", "d")
    )
    adc = (
        codes.join(F.broadcast(qd), ["s", "cent_id"])
        .where(F.col("vec_id") != F.col("q"))
        .groupBy(F.col("q").alias("query_id"), F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_dist"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    adc_topk = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= _PQ_TOPK)
        .select("query_id", "neighbor_id")
    )

    qe = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    xe = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("xe"),
        F.col("n2").alias("xn2"),
    )
    # exact integer L2 = qn2 + xn2 - 2*dot: one broadcast of the 8
    # query vectors over the corpus scan, no pair materialization
    exd = (
        xe.crossJoin(F.broadcast(qe))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "dot",
            F.expr(
                "aggregate(zip_with(qe, xe, (x, y) -> x * y), "
                "cast(0 as bigint), (acc, x) -> acc + x)"
            ),
        )
        .select(
            "query_id",
            "neighbor_id",
            (F.col("qn2") + F.col("xn2") - 2 * F.col("dot")).alias("l2"),
        )
    )
    w_ex = Window.partitionBy("query_id").orderBy("l2", "neighbor_id")
    exact_topk = (
        exd.withColumn("rn", F.row_number().over(w_ex))
        .where(F.col("rn") <= _PQ_TOPK)
        .select("query_id", "neighbor_id")
    )
    hits = exact_topk.join(
        adc_topk.withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"))
        .select(
            "query_id",
            F.lit(_PQ_TOPK).cast("long").alias("exact_k"),
            "hits",
            F.expr(f"hits * 100 div {_PQ_TOPK}").cast("long").alias(
                "recall_pct"
            ),
        )
        .orderBy("query_id")
    )


@query(
    "similarity_cluster_purity",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    {_final_assign_ctes()},
    fassign AS (
      SELECT vec_id, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore)
      WHERE rn = 1),
    labeled AS (
      SELECT a.cell, e.label, CAST(COUNT(*) AS BIGINT) AS n
      FROM fassign a JOIN embeddings e ON e.vec_id = a.vec_id
      GROUP BY 1, 2),
    tops AS (
      SELECT cell, label AS top_label, n AS top_label_n
      FROM (SELECT cell, label, n,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY n DESC, label) AS rn
            FROM labeled)
      WHERE rn = 1),
    sizes AS (
      SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vectors FROM labeled
      GROUP BY cell)
    SELECT s.cell, s.n_vectors, t.top_label, t.top_label_n,
           (100 * t.top_label_n) // s.n_vectors AS purity_pct
    FROM sizes s JOIN tops t ON t.cell = s.cell
    ORDER BY s.cell
    """,
)
def similarity_cluster_purity(spark, sf_dir):
    """Clustering-quality EVALUATION against the labeled ground truth:
    per trained-IVF cell, the dominant label and its share (purity) —
    the external-validity check a clustering deployment runs before
    trusting cell assignments for downstream routing (the label column
    is exactly the held-out signal such an eval uses). One broadcast
    scoring pass for the argmax assignment (same tie-break as
    `similarity_ivf_ann`), one (cell, label)-keyed aggregate, one tiny
    per-cell window — the eval costs one scan regardless of corpus
    size. Purity is an integer percentage (floor), so the report is
    bit-deterministic with a label-ascending tie-break on equal
    counts."""
    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir)
    assign = _assign_cells(emb, cents, nprobe=1)
    lab = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    labeled = (
        assign.join(lab, "vec_id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cell").orderBy(F.col("n").desc(), "label")
    tops = (
        labeled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cell", F.col("label").alias("top_label"),
                F.col("n").alias("top_label_n"))
    )
    sizes = labeled.groupBy("cell").agg(F.sum("n").alias("n_vectors"))
    return (
        sizes.join(tops, "cell")
        .select(
            "cell",
            "n_vectors",
            "top_label",
            "top_label_n",
            F.expr("100 * top_label_n div n_vectors").alias("purity_pct"),
        )
        .orderBy("cell")
    )


@query(
    "similarity_centroid_outliers",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    {_final_assign_ctes()},
    fassign AS (
      SELECT vec_id, cent_id AS cell, cos
      FROM (SELECT vec_id, cent_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore)
      WHERE rn = 1)
    SELECT cell, rank, vec_id,
           CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_1e6
    FROM (SELECT cell, vec_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY cell
                                    ORDER BY cos ASC, vec_id) AS rank
          FROM fassign)
    WHERE rank <= 5
    ORDER BY cell, rank
    """,
)
def similarity_centroid_outliers(spark, sf_dir):
    """Embedding-quality OUTLIER detection: per trained-IVF cell, the
    5 vectors farthest (lowest cosine) from their own argmax centroid —
    the curation signal a training-data pipeline uses to surface
    mislabeled / out-of-distribution embeddings before they poison a
    similarity index (the same per-cell review queue FAISS users build
    from IVF assignment distances). Reads the COMMITTED trained
    centroids (never retrains — `train_ivf_centroids` serves the
    versioned state), scores every vector against the broadcast
    centroid table in one pass, then runs a per-cell bottom-5 window;
    cost is one scan + a window over cell-partitioned rows, and the
    output is ~5 rows per cell regardless of corpus size. Exact
    integer dot products make the cosine — and therefore the ranking
    and the emitted cos_1e6 — bit-deterministic against the DuckDB
    replay (ties broken vec_id-ascending).

    Scale note (round-7 decomposition, tightened round 18): the
    growing term is the argmax over the N x k scores. A row_number
    window shuffled ALL N x k rows on vec_id; the round-7 max-struct
    aggregate pre-combined them map-side (~N rows crossed); the
    round-18 `_argmax_cell_int` fold computes the same argmax
    (lexicographic max on (cos, -cent_id) == cos desc, cent_id asc —
    the oracle's fassign rule) per row over the packed broadcast
    model, so NO assignment rows cross an exchange at all — the only
    remaining shuffle is the per-cell bottom-5 window."""
    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir)
    assigned = _argmax_cell_int(emb, cents).select(
        "vec_id",
        F.col("_cell").alias("cell"),
        F.col("_cos").alias("cos"),
    )
    w_outlier = Window.partitionBy("cell").orderBy(F.col("cos").asc(), "vec_id")
    return (
        assigned.withColumn("rank", F.row_number().over(w_outlier))
        .where(F.col("rank") <= 5)
        .select(
            "cell",
            "rank",
            "vec_id",
            F.expr("cast(round(cos * 1000000) as bigint)").alias("cos_1e6"),
        )
        .orderBy("cell", "rank")
    )




_INGEST_OFFSET = 10_000_000  # planted ANN-ingest arrivals
_vec_headroom_checked = set()


def _assert_vec_headroom(sf_dir):
    """Fail fast if natural vec_ids reach the planted-ingest offset
    range — bench.py's amplified staging shifts vec_id by 1e5 per
    copy, so a 1e5 offset would collide with any amplified run (the
    same failure mode the dedup family guards with
    `_assert_offset_headroom`). Footer-stats only, no Spark job;
    tolerant of directory-shaped datasets and stats-less part files."""
    if sf_dir in _vec_headroom_checked:
        return
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/embeddings.parquet"
    files = (
        sorted(glob.glob(f"{path}/*.parquet"))
        if os.path.isdir(path)
        else [path]
    )
    mx = None
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        if md.num_row_groups == 0:
            continue
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "vec_id"
        )
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is not None:
                mx = st.max if mx is None else max(mx, st.max)
    if mx is not None and mx >= _INGEST_OFFSET:
        raise ValueError(
            f"similarity ingest: max(vec_id)={mx} in {path} reaches the "
            f"planted-arrival offset (_INGEST_OFFSET={_INGEST_OFFSET}); "
            f"raise the offset so planted ids cannot collide with "
            f"natural ones"
        )
    _vec_headroom_checked.add(sf_dir)


@query(
    "similarity_incremental_ingest",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    nei AS (
      SELECT vec_id + 10000000 AS vec_id,
             list_transform(
               embedding::DOUBLE[],
               x -> -CAST(round(x * 1000000) AS BIGINT)) AS e
      FROM embeddings WHERE vec_id % 7 = 0),
    nflat AS (
      SELECT vec_id, i, e[i] AS v
      FROM nei, unnest(generate_series(1, {_DIM})) AS u(i)),
    nnorms AS (SELECT vec_id, SUM(v * v) AS n2 FROM nflat GROUP BY vec_id),
    ndot AS (
      SELECT f.vec_id, c.cent_id, CAST(SUM(f.v * c.v) AS BIGINT) AS dot
      FROM nflat f JOIN cflat{_KM_ROUNDS} c ON f.i = c.i GROUP BY 1, 2),
    nscore AS (
      SELECT d.vec_id, d.cent_id,
             CAST(d.dot AS DOUBLE) /
               (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE)))
               AS cos
      FROM ndot d
      JOIN nnorms n ON n.vec_id = d.vec_id
      JOIN cn{_KM_ROUNDS} cn ON cn.cent_id = d.cent_id)
    SELECT vec_id, cent_id AS cell,
           CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_1e6
    FROM (SELECT vec_id, cent_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, cent_id) AS rn
          FROM nscore)
    WHERE rn = 1
    ORDER BY vec_id
    """,
)
def similarity_incremental_ingest(spark, sf_dir):
    """INCREMENTAL ANN ingest — the similarity-side twin of the
    incremental dedup family: a shard of NEW vectors (planted as
    negations of every 7th corpus vector under shifted ids, so both
    engines derive them by pure arithmetic) is assigned to cells of
    the COMMITTED trained centroids — never a retrain, exactly how a
    FAISS IVF index absorbs adds — and the merged (cell, vec_id)
    posting table commits as the next versioned-state snapshot so the
    ANN queries' probe surface includes the arrivals. Cold start
    scores the corpus once to seed v0 postings; every later ingest
    pays one broadcast scoring pass over the SHARD alone plus a
    postings-sized union write — shard-proportional compute, exactly
    like the dedup index probes. The emitted report is the shard's
    argmax-cell assignment with integer-exact cosine, which the oracle
    replays from scratch (training chain included), so a drifted
    centroid snapshot or a wrong merge breaks the hash. Negation is
    applied to the QUANTIZED integers on both sides, so no rounding
    asymmetry can creep in."""
    import os

    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )
    from spark_data_test_spark.utils.spark_utils import (
        source_fingerprint,
    )

    _assert_vec_headroom(sf_dir)
    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir)
    shard = (
        emb.where(F.col("vec_id") % 7 == 0)
        .select(
            (F.col("vec_id") + _INGEST_OFFSET).alias("vec_id"),
            F.expr("transform(e, v -> -v)").alias("e"),
        )
        .withColumn("n2", F.expr(_NORM2))
    )
    assigned = _argmax_cell_int(shard, cents).select(
        "vec_id",
        F.col("_cell").alias("cell"),
        F.expr("cast(round(_cos * 1000000) as bigint)").alias("cos_1e6"),
    )
    fp = source_fingerprint(f"{sf_dir}/embeddings.parquet")
    state_path = f"/tmp/spark_graft_ivfpost/{fp}_v1"
    postings = read_state_table(spark, state_path)
    if postings is None:
        # cold start: seed v0 with the corpus's own cell assignments
        corpus_assign = _assign_cells(emb, cents, nprobe=1).select(
            "cell", "vec_id"
        )
        os.makedirs(state_path, exist_ok=True)
        write_state_version(corpus_assign, state_path, retain=2)
        postings = read_state_table(spark, state_path)
    result = assigned.orderBy("vec_id").localCheckpoint()
    merged = (
        postings.select("cell", "vec_id")
        .unionByName(result.select("cell", "vec_id"))
        .distinct()
    )
    write_state_version(merged, state_path, retain=2)
    return result


# Lifecycle slices for the persisted-index registered queries (round
# 15): SF-independent id arithmetic, present in full at every scale
# factor (the smallest fixture has 500 dense vec_ids), so DuckDB can
# replay the exact same build / ingest / update / delete sequence.
_PQIDX_APPEND_LIM = 448  # %7 ids below this ingest as +OFFSET arrivals
_PQIDX_UPDATE_LIM = 260  # %13==5 ids below this re-ingest NEGATED
_PQIDX_DEL_MOD = 11  # live ids = 3 (mod 11) are then taken down


def _pqidx_ingest_shard(emb):
    """The planted ingest batch both engines derive by pure
    arithmetic: 64 NEW arrivals (negated %7 vectors under shifted ids
    — same planting as `similarity_incremental_ingest`) plus 20
    in-place UPDATES (negated %13==5 vectors under their OWN ids, so
    latest-wins must atomically replace their committed rows).
    Negation applies to the QUANTIZED integers, so no rounding
    asymmetry can creep in."""
    return (
        emb.where(
            (F.col("vec_id") % 7 == 0)
            & (F.col("vec_id") < _PQIDX_APPEND_LIM)
        )
        .select(
            (F.col("vec_id") + _INGEST_OFFSET).alias("vec_id"),
            F.expr("transform(e, v -> -v)").alias("e"),
        )
        .unionByName(
            emb.where(
                (F.col("vec_id") % 13 == 5)
                & (F.col("vec_id") < _PQIDX_UPDATE_LIM)
            ).select("vec_id", F.expr("transform(e, v -> -v)").alias("e"))
        )
    )


def _pqidx_delete_ids(emb):
    """Takedown set: every LIVE id = 3 (mod _PQIDX_DEL_MOD), drawn
    from both the natural corpus and the shifted arrivals — tombstones
    must land on base rows and ingest-delta rows alike."""
    return (
        emb.select("vec_id")
        .unionByName(
            emb.where(
                (F.col("vec_id") % 7 == 0)
                & (F.col("vec_id") < _PQIDX_APPEND_LIM)
            ).select((F.col("vec_id") + _INGEST_OFFSET).alias("vec_id"))
        )
        .where(F.col("vec_id") % _PQIDX_DEL_MOD == 3)
    )


# Shared oracle machinery for the persisted-index queries: the ingest
# shard's codes (negated vectors encoded against the trained cb1) and
# the latest-wins/tombstone-resolved live code set.
_PQIDX_STATE_CTES = f"""nsrc AS (
      SELECT vec_id + {_INGEST_OFFSET} AS vec_id, i, -v AS v
      FROM flat WHERE vec_id % 7 = 0 AND vec_id < {_PQIDX_APPEND_LIM}
      UNION ALL
      SELECT vec_id, i, -v FROM flat
      WHERE vec_id % 13 = 5 AND vec_id < {_PQIDX_UPDATE_LIM}),
    nsub AS (
      SELECT vec_id, (i - 1) // {_PQ_SUBDIM} AS s,
             (i - 1) % {_PQ_SUBDIM} + 1 AS j, v
      FROM nsrc),
    nad AS (
      SELECT x.vec_id, x.s, c.cent_id,
             CAST(SUM((x.v - c.v) * (x.v - c.v)) AS BIGINT) AS d
      FROM nsub x JOIN cb1 c ON c.s = x.s AND c.j = x.j
      GROUP BY 1, 2, 3),
    ncodes AS (
      SELECT vec_id, s, cent_id FROM (
        SELECT vec_id, s, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, cent_id) AS rn
        FROM nad) WHERE rn = 1),
    live AS (
      SELECT * FROM codes
      WHERE NOT (vec_id % 13 = 5 AND vec_id < {_PQIDX_UPDATE_LIM})
      UNION ALL
      SELECT * FROM ncodes),
    kept AS (
      SELECT * FROM live WHERE vec_id % {_PQIDX_DEL_MOD} <> 3)"""


@query(
    "similarity_pq_index_probe",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_pq_ctes()},
    {_PQIDX_STATE_CTES},
    {_pq_qd_cte()},
    adc AS (
      SELECT qd.q, k.vec_id AS x, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
      FROM kept k JOIN qd ON qd.s = k.s AND qd.cent_id = k.cent_id
      WHERE k.vec_id <> qd.q
      GROUP BY 1, 2)
    SELECT q AS query_id, x AS neighbor_id, CAST(rn AS BIGINT) AS rank,
           adc_dist
    FROM (SELECT q, x, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY q
                                    ORDER BY adc_dist, x) AS rn
          FROM adc)
    WHERE rn <= {_PQ_TOPK}
    ORDER BY query_id, rank
    """,
)
def similarity_pq_index_probe(spark, sf_dir):
    """The PERSISTED PQ index's full LSM lifecycle as one hash-checked
    query (round 15, VERDICT r14 item 2): `pq_index_build` commits the
    registered deterministic codebook (`_pq_codebook` injected via the
    build's pre-trained-model path) and the corpus codes into a fresh
    run root; `pq_index_ingest` appends the planted shard (64 shifted
    arrivals + 20 in-place updates whose codes must atomically
    replace their base rows under latest-wins) — round 18: the
    ingest-only entry point, so the commit no longer pays the flat
    ADC scan the probe-then-commit path owes its own answer
    (VERDICT r17 item 2: that scan was the entire x30 lifecycle
    slope);
    `pq_index_delete` tombstones every live id = 3 (mod 11) across
    base AND delta rows; and the final probe answers the {_NQ}-query
    batch over the RESOLVED live codes. The oracle replays the entire
    committed-state math from scratch — training, encoding, the
    negated-shard encoding, latest-wins supersession, tombstone drops,
    and ADC ranking — so a wrong merge rule, a missed tombstone, or a
    drifted codebook breaks the hash. All arithmetic is integer-exact
    (quantized micro-units; ADC sums < 2^53 stay exact in doubles), so
    the ranking is bit-deterministic. Scale shape: the committed index
    is probed, never rebuilt per batch — build O(corpus), ingest
    O(shard x codes), delete O(tombstones), probe O(batch x codes) —
    and every join rides the broadcast model or the (s, cent_id)
    equi-key."""
    from spark_data_test_spark.state import fresh_run_root

    _assert_vec_headroom(sf_dir)
    emb = _int_embeddings(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir)
    root = fresh_run_root("pq_index_probe", key=sf_dir)
    idx = f"{root}/index"
    pq_index_build(
        emb.select("vec_id", "e"), idx, codebook=cb, vec_col="e"
    )
    pq_index_ingest(_pqidx_ingest_shard(emb), idx, vec_col="e")
    pq_index_delete(spark, idx, _pqidx_delete_ids(emb))
    res = pq_index_probe(
        emb.where(F.col("vec_id") < _NQ).select("vec_id", "e"),
        idx,
        k=_PQ_TOPK,
        vec_col="e",
    )
    return (
        res.select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("adc_dist").cast("long").alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )


@query(
    "similarity_ivfpq_index_probe",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    {_pq_ctes()},
    lfdot AS (
      SELECT f.vec_id, c.cent_id, CAST(SUM(f.v * c.v) AS BIGINT) AS dot
      FROM flat f JOIN cflat{_KM_ROUNDS} c ON f.i = c.i GROUP BY 1, 2),
    lscore AS (
      SELECT d.vec_id, d.cent_id,
             CAST(d.dot AS DOUBLE) /
               sqrt(CAST(vn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) AS cos
      FROM lfdot d
      JOIN norms vn ON vn.vec_id = d.vec_id AND vn.n2 > 0
      JOIN cn{_KM_ROUNDS} cn ON cn.cent_id = d.cent_id),
    fassign AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cent_id) AS rn
        FROM lscore) WHERE rn = 1),
    {_PQIDX_STATE_CTES},
    nnorm AS (SELECT vec_id, SUM(v * v) AS n2 FROM nsrc GROUP BY 1),
    nfdot AS (
      SELECT x.vec_id, c.cent_id, CAST(SUM(x.v * c.v) AS BIGINT) AS dot
      FROM nsrc x JOIN cflat{_KM_ROUNDS} c ON c.i = x.i GROUP BY 1, 2),
    nscore AS (
      SELECT d.vec_id, d.cent_id,
             CAST(d.dot AS DOUBLE) /
               sqrt(CAST(vn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) AS cos
      FROM nfdot d
      JOIN nnorm vn ON vn.vec_id = d.vec_id AND vn.n2 > 0
      JOIN cn{_KM_ROUNDS} cn ON cn.cent_id = d.cent_id),
    nassign AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cent_id) AS rn
        FROM nscore) WHERE rn = 1),
    keptp AS (
      SELECT k.vec_id, a.cell, k.s, k.cent_id
      FROM kept k
      JOIN (SELECT * FROM fassign
            WHERE NOT (vec_id % 13 = 5 AND vec_id < {_PQIDX_UPDATE_LIM})
            UNION ALL SELECT * FROM nassign) a
        ON a.vec_id = k.vec_id),
    probes AS (
      SELECT vec_id AS query_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cent_id) AS rn
        FROM lscore WHERE vec_id < {_NQ}) WHERE rn <= {_NPROBE}),
    {_pq_qd_cte()},
    adc AS (
      SELECT p.query_id AS q, k.vec_id AS x,
             CAST(SUM(qd.d) AS BIGINT) AS adc_dist
      FROM probes p
      JOIN keptp k ON k.cell = p.cell
      JOIN qd ON qd.q = p.query_id AND qd.s = k.s
             AND qd.cent_id = k.cent_id
      WHERE k.vec_id <> p.query_id
      GROUP BY 1, 2)
    SELECT q AS query_id, x AS neighbor_id, CAST(rn AS BIGINT) AS rank,
           adc_dist
    FROM (SELECT q, x, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY q
                                    ORDER BY adc_dist, x) AS rn
          FROM adc)
    WHERE rn <= {_IVF_TOPK}
    ORDER BY query_id, rank
    """,
)
def similarity_ivfpq_index_probe(spark, sf_dir):
    """The PERSISTED IVF-PQ index's full lifecycle as one hash-checked
    query (round 15, VERDICT r14 item 2) — the composed twin of
    `similarity_pq_index_probe`: `ivfpq_index_build` commits BOTH
    registered deterministic models (the trained IVF centroids and the
    PQ codebook, injected via the build's pre-trained-model path) plus
    the (vec_id, cell, codes) postings log; the same planted shard
    ingests through `ivfpq_index_ingest` (each arrival is
    cell-assigned AND encoded — one atomic posting row; round 18:
    ingest-only, no probe work on the pure-ingest step);
    `ivfpq_index_delete` tombstones the %{_PQIDX_DEL_MOD}=3 live set;
    and the final probe prunes to each query's {_NPROBE} best cells
    before ADC-ranking only those cells' resolved rows. The oracle
    replays coarse training, the library's cell-assignment cosine
    (``dot / sqrt(n2 * cn2)`` — the exact op tree `_argmax_cell_d`
    evaluates, so assignment ties break identically), PQ encoding for
    base and shard, latest-wins supersession, tombstones, probing, and
    candidate-restricted ADC. Scale shape: probes touch O(batch x
    nprobe cells) CODE rows — never raw vectors, never unprobed cells
    — the exact 100 TB posture `BENCH_INDEX_PROBE_r14.json`
    measures."""
    from spark_data_test_spark.state import fresh_run_root

    _assert_vec_headroom(sf_dir)
    emb = _int_embeddings(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir).select(
        "cent_id", F.col("ce").alias("cv"), F.col("cn2").alias("cn2")
    )
    root = fresh_run_root("ivfpq_index_probe", key=sf_dir)
    idx = f"{root}/index"
    ivfpq_index_build(
        emb.select("vec_id", "e"),
        idx,
        centroids=cents,
        codebook=cb,
        vec_col="e",
    )
    ivfpq_index_ingest(_pqidx_ingest_shard(emb), idx, vec_col="e")
    ivfpq_index_delete(spark, idx, _pqidx_delete_ids(emb))
    res = ivfpq_index_probe(
        emb.where(F.col("vec_id") < _NQ).select("vec_id", "e"),
        idx,
        k=_IVF_TOPK,
        nprobe=_NPROBE,
        vec_col="e",
    )
    return (
        res.select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("adc_dist").cast("long").alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )


@query(
    "similarity_ivf_index_probe",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    lfdot AS (
      SELECT f.vec_id, c.cent_id, CAST(SUM(f.v * c.v) AS BIGINT) AS dot
      FROM flat f JOIN cflat{_KM_ROUNDS} c ON f.i = c.i GROUP BY 1, 2),
    lscore AS (
      SELECT d.vec_id, d.cent_id,
             CAST(d.dot AS DOUBLE) /
               sqrt(CAST(vn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) AS cos
      FROM lfdot d
      JOIN norms vn ON vn.vec_id = d.vec_id AND vn.n2 > 0
      JOIN cn{_KM_ROUNDS} cn ON cn.cent_id = d.cent_id),
    fassign AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cent_id) AS rn
        FROM lscore) WHERE rn = 1),
    nsrc AS (
      SELECT vec_id + {_INGEST_OFFSET} AS vec_id, i, -v AS v
      FROM flat WHERE vec_id % 7 = 0 AND vec_id < {_PQIDX_APPEND_LIM}
      UNION ALL
      SELECT vec_id, i, -v FROM flat
      WHERE vec_id % 13 = 5 AND vec_id < {_PQIDX_UPDATE_LIM}),
    nnorm AS (SELECT vec_id, SUM(v * v) AS n2 FROM nsrc GROUP BY 1),
    nfdot AS (
      SELECT x.vec_id, c.cent_id, CAST(SUM(x.v * c.v) AS BIGINT) AS dot
      FROM nsrc x JOIN cflat{_KM_ROUNDS} c ON c.i = x.i GROUP BY 1, 2),
    nscore AS (
      SELECT d.vec_id, d.cent_id,
             CAST(d.dot AS DOUBLE) /
               sqrt(CAST(vn.n2 AS DOUBLE) * CAST(cn.n2 AS DOUBLE)) AS cos
      FROM nfdot d
      JOIN nnorm vn ON vn.vec_id = d.vec_id AND vn.n2 > 0
      JOIN cn{_KM_ROUNDS} cn ON cn.cent_id = d.cent_id),
    nassign AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cent_id) AS rn
        FROM nscore) WHERE rn = 1),
    keptvec AS (
      SELECT vec_id, i, v FROM (
        SELECT vec_id, i, v FROM flat
        WHERE NOT (vec_id % 13 = 5 AND vec_id < {_PQIDX_UPDATE_LIM})
        UNION ALL
        SELECT vec_id, i, v FROM nsrc)
      WHERE vec_id % {_PQIDX_DEL_MOD} <> 3),
    keptn2 AS (
      SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS n2
      FROM keptvec GROUP BY 1),
    keptcell AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell FROM fassign
        WHERE NOT (vec_id % 13 = 5 AND vec_id < {_PQIDX_UPDATE_LIM})
        UNION ALL SELECT vec_id, cell FROM nassign)
      WHERE vec_id % {_PQIDX_DEL_MOD} <> 3),
    probes AS (
      SELECT vec_id AS query_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cent_id) AS rn
        FROM lscore WHERE vec_id < {_NQ}) WHERE rn <= {_NPROBE}),
    idot AS (
      SELECT p.query_id, kc.vec_id AS x,
             CAST(SUM(q.v * kv.v) AS BIGINT) AS dot
      FROM probes p
      JOIN keptcell kc ON kc.cell = p.cell AND kc.vec_id <> p.query_id
      JOIN flat q ON q.vec_id = p.query_id
      JOIN keptvec kv ON kv.vec_id = kc.vec_id AND kv.i = q.i
      GROUP BY 1, 2),
    iscore AS (
      SELECT d.query_id, d.x,
             CAST(d.dot AS DOUBLE) /
               sqrt(CAST(qn.n2 AS DOUBLE) * CAST(xn.n2 AS DOUBLE)) AS cos
      FROM idot d
      JOIN norms qn ON qn.vec_id = d.query_id AND qn.n2 > 0
      JOIN keptn2 xn ON xn.vec_id = d.x AND xn.n2 > 0)
    SELECT query_id, x AS neighbor_id, CAST(rn AS BIGINT) AS rank,
           CAST(round(cos * 1000000) AS BIGINT) AS cos_1e6
    FROM (SELECT query_id, x, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, x) AS rn
          FROM iscore)
    WHERE rn <= {_IVF_TOPK}
    ORDER BY query_id, rank
    """,
)
def similarity_ivf_index_probe(spark, sf_dir):
    """The PERSISTED IVF-Flat index's full LSM lifecycle as one
    hash-checked query (round 16, VERDICT r15 item 2 — completes the
    three-index symmetry with `similarity_pq_index_probe` and
    `similarity_ivfpq_index_probe`): `ivf_index_build` commits the
    registered deterministic trained centroids (injected via the
    build's pre-trained-model path — the train-on-a-sample 100 TB
    shape) plus the raw-vector postings log (IVF-Flat: the inverted
    lists CARRY the vectors); `ivf_index_ingest` appends the planted
    shard (64 shifted arrivals + 20 in-place updates whose vector AND
    cell must atomically replace their base rows under latest-wins —
    a negated vector lands in a different cell; round 18:
    ingest-only, no probe work on the pure-ingest step);
    `ivf_index_delete` tombstones every live id = 3 (mod
    {_PQIDX_DEL_MOD}) across base and delta rows; and the final probe
    answers the {_NQ}-query batch over each query's {_NPROBE} best
    cells with EXACT cosine rescoring of only those cells' resolved
    live vectors. The oracle replays the entire committed-state math
    from scratch — coarse training, the library's cell-assignment
    cosine for base AND negated-shard rows, latest-wins supersession,
    tombstone drops, cell-restricted exact rescoring — so a wrong
    merge rule, a missed tombstone, or drifted centroids breaks the
    hash. This also puts the round-15 hardening of exactly this code
    path (up-front dup-id collapse, build stamps / `_stamp_guard`)
    under the driver's hash check each round. Scale shape: the
    committed index is probed, never rebuilt per batch — build
    O(corpus) assignment-only under an injected model, ingest
    O(shard), delete O(tombstones), probe O(batch x nprobe cells) —
    and every join rides the broadcast centroid frame or the cell /
    vec_id equi-keys (plan-pinned in tests/test_plans.py)."""
    from spark_data_test_spark.state import fresh_run_root

    _assert_vec_headroom(sf_dir)
    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir).select(
        "cent_id", F.col("ce").alias("cv"), F.col("cn2").alias("cn2")
    )
    root = fresh_run_root("ivf_index_probe", key=sf_dir)
    idx = f"{root}/index"
    ivf_index_build(
        emb.select("vec_id", "e"), idx, centroids=cents, vec_col="e"
    )
    ivf_index_ingest(_pqidx_ingest_shard(emb), idx, vec_col="e")
    ivf_index_delete(spark, idx, _pqidx_delete_ids(emb))
    res = ivf_index_probe(
        emb.where(F.col("vec_id") < _NQ).select("vec_id", "e"),
        idx,
        k=_IVF_TOPK,
        nprobe=_NPROBE,
        vec_col="e",
    )
    return (
        res.select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.expr(
                "cast(round(cosine * 1000000) as bigint)"
            ).alias("cos_1e6"),
        )
        .orderBy("query_id", "rank")
    )


@query(
    "similarity_refined_ann",
    f"""
    WITH {_ORACLE_BASE.strip()},
    {_pq_ctes()},
    {_pq_adc_ctes()},
    sl AS (
      SELECT q AS query_id, x AS neighbor_id
      FROM (SELECT q, x,
                   ROW_NUMBER() OVER (PARTITION BY q
                                      ORDER BY adc_dist, x) AS rn
            FROM adc)
      WHERE rn <= {4 * _PQ_TOPK}),
    exd AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(SUM((q.v - x.v) * (q.v - x.v)) AS BIGINT) AS l2_dist
      FROM sl s
      JOIN flat q ON q.vec_id = s.query_id
      JOIN flat x ON x.vec_id = s.neighbor_id AND x.i = q.i
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, l2_dist
    FROM (SELECT query_id, neighbor_id, l2_dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY l2_dist, neighbor_id) AS rn
          FROM exd)
    WHERE rn <= {_PQ_TOPK}
    ORDER BY query_id, rank
    """,
)
def similarity_refined_ann(spark, sf_dir):
    """Two-stage ANN: a cheap compressed-domain shortlist re-scored
    EXACTLY by `refine_topk` (round 15, VERDICT r14 item 3 — the
    FAISS IndexRefineFlat architecture as a driver-checked row). Stage
    one ranks every candidate by PQ/ADC distance and keeps the top 4k
    per query (k' = {4 * _PQ_TOPK}); stage two resolves ONLY those
    shortlisted rows against the raw corpus, computes exact integer
    L2, and re-cuts to k = {_PQ_TOPK}. The oracle replays BOTH stages
    — PQ training/encoding/ADC, the 4k shortlist cut, then exact L2
    re-ranking restricted to the shortlist — so the hash pins every
    mechanical step of the composition bit-for-bit: the shortlist
    restriction, the self-exclusion, the exact rescoring, and both
    tie-broken rankings. (End-to-end equality with brute-force search
    additionally needs a first stage whose recall@4k is total; that
    property holds on clustered corpora and is pinned in
    tests/test_ivfpq_index_api.py::test_refine_topk_recovers_exact_l2
    — this fixture's near-uniform vectors are deliberately the HARD
    case for a 64x quantizer, so the registered row pins the
    machinery, not a data-dependent recall claim.) Scale shape: stage
    one scans CODES (the memory-bounded form), stage two touches raw
    vectors for batch x shortlist rows only — never the corpus — and
    both stages rank in per-query windows."""
    emb = _int_embeddings(spark, sf_dir)
    codes = _pq_codes(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir)
    qd = (
        _pq_subvectors(emb.where(F.col("vec_id") < _NQ))
        .join(F.broadcast(cb), "s")
        .withColumn("d", F.expr(_PQ_L2))
        .select(F.col("vec_id").alias("q"), "s", "cent_id", "d")
    )
    adc = (
        codes.join(F.broadcast(qd), ["s", "cent_id"])
        .where(F.col("vec_id") != F.col("q"))
        .groupBy("q", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("q").orderBy("adc_dist", "vec_id")
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 4 * _PQ_TOPK)
        .select(
            F.col("q").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
        )
    )
    refined = refine_topk(
        shortlist,
        emb.where(F.col("vec_id") < _NQ).select("vec_id", "e"),
        emb.select("vec_id", "e"),
        k=_PQ_TOPK,
        metric="l2",
        vec_col="e",
    )
    return (
        refined.select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("l2_dist").cast("long").alias("l2_dist"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Library surface: frame-level ANN baseline (round 8)
# ---------------------------------------------------------------------------


def cosine_topk(corpus, queries, k=10, id_col="vec_id", vec_col="emb"):
    """Library operator: brute-force cosine top-k over arbitrary frames
    — ``corpus`` and ``queries`` each carry an id column and a numeric
    array column (named by ``id_col``/``vec_col``). The deliberate
    EXACT baseline, same topology as the registered
    `similarity_cosine_topk`: the query set is broadcast, the corpus is
    scanned once, the dot product runs as a JVM-side
    ``zip_with``/``aggregate`` (no Python in the loop), and a per-query
    window keeps the top ``k``. Returns
    ``(query_id, neighbor_id, rank, cosine)`` with ties broken by
    ``neighbor_id``; a corpus row sharing the query's id is excluded
    (self-match), and zero-norm vectors on either side are dropped
    (cosine undefined). Use the trained IVF/PQ family when the query
    set no longer broadcasts or the corpus no longer rescans."""
    qn2 = F.expr(
        "aggregate(qe, cast(0.0 AS double), (acc, x) ->"
        " acc + cast(x AS double) * cast(x AS double))"
    )
    cn2 = F.expr(
        "aggregate(ce, cast(0.0 AS double), (acc, x) ->"
        " acc + cast(x AS double) * cast(x AS double))"
    )
    dot = F.expr(
        "aggregate(zip_with(qe, ce, (x, y) ->"
        " cast(x AS double) * cast(y AS double)),"
        " cast(0.0 AS double), (acc, x) -> acc + x)"
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
        )
        .withColumn("qn2", qn2)
        .where(F.col("qn2") > 0)
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ce")
        )
        .withColumn("cn2", cn2)
        .where(F.col("cn2") > 0)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", dot / F.sqrt(F.col("qn2") * F.col("cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _norm_vectors(frame, id_col, vec_col, op):
    """(_id, _v double array, _n2) with zero-norm vectors dropped —
    the shared entry normalization of the frame-level ANN operators."""
    if frame.select(F.size(F.col(vec_col)).alias("d")).first() is None:
        raise ValueError(f"{op}: input frame is empty")
    as_vec = f"transform({vec_col}, x -> cast(x AS double))"
    norm2 = "aggregate(_v, cast(0.0 AS double), (acc, x) -> acc + x * x)"
    return (
        frame.select(F.col(id_col).alias("_id"), F.expr(as_vec).alias("_v"))
        .withColumn("_n2", F.expr(norm2))
        .where(F.col("_n2") > 0)
    )


def _cents_packed_d(cents):
    """Double-family twin of `_cents_packed`: the (cent_id, _cv, _cn2)
    model as ONE single-row broadcast frame holding a cent_id-sorted
    struct array, so assignment is a per-row fold instead of an
    n x ncells crossJoin + argmax shuffle (guide §2.4)."""
    return F.broadcast(
        cents.agg(
            F.array_sort(
                F.collect_list(F.struct("cent_id", "_cv", "_cn2"))
            ).alias("_cents")
        )
    )


# Per-centroid cosine inside the fold: ``dot / sqrt(n2 * cn2)`` with
# the dot folded in dimension order and a single sqrt of the norm
# product — the op tree the registered oracles replay.
_COS_D_CT = (
    "aggregate(zip_with(_v, ct._cv, (x, y) -> x * y),"
    " cast(0.0 AS double), (acc, x) -> acc + x)"
    " / sqrt(_n2 * ct._cn2)"
)

# array_max's struct comparison on ('c', 'nc') IS max_by's /
# ROW_NUMBER's (cos DESC, cent_id ASC) tie-break (nc = -cent_id).
_BEST_CELL_D = (
    "array_max(transform(_cents, ct -> named_struct("
    f"'c', {_COS_D_CT}, 'nc', -ct.cent_id, 'cid', ct.cent_id)))"
)


def _argmax_cell_d(frame, cents):
    """Input columns + _cell: each (_id, _v, _n2) row's argmax-cosine
    cell under the broadcast model, as a pure per-row fold — the
    shared assignment core of `_train_double_cells`' Lloyd rounds,
    `ivf_topk`, and every index build/ingest/commit path — the same
    winners a crossJoin + max_by((cos, -cent_id)) aggregate picks
    (empty-model edge: the NULL best is filtered, matching an empty
    crossJoin).
    Routed through explode(array(...)) so the fold evaluates ONCE per
    row — see `_argmax_cell_int`'s lambda-CSE note."""
    cols = list(frame.columns)
    return (
        frame.crossJoin(_cents_packed_d(cents))
        .select(
            *cols, F.explode(F.array(F.expr(_BEST_CELL_D))).alias("_best")
        )
        .where(F.col("_best").isNotNull())
        .select(*cols, F.col("_best.cid").alias("_cell"))
    )


def _topn_cells_d(frame, cents, nprobe):
    """Input columns + _cell, one row per kept cell: each row's
    ``nprobe`` best cells by the (cos DESC, cent_id ASC) comparator a
    row_number window over a crossJoin would order by — an in-place
    sort of the packed model, sliced and exploded; the cell pick of
    `ivf_topk`, `semantic_prune` and every index probe."""
    order = (
        "(l, r) -> CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1"
        " WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1"
        " ELSE 0 END"
    )
    topn = (
        "transform(slice(array_sort(transform(_cents, ct -> named_struct("
        f"'c', {_COS_D_CT}, 'cid', ct.cent_id)), {order}),"
        f" 1, {int(nprobe)}), p -> p.cid)"
    )
    cols = list(frame.columns)
    return (
        frame.crossJoin(_cents_packed_d(cents))
        .select(*cols, F.explode(F.expr(topn)).alias("_cell"))
    )


def _train_double_cells(c, ncells, rounds, op):
    """Deterministic spherical k-means over a persisted (_id, _v, _n2)
    frame: ``ncells = ceil(sqrt(n))`` by default, seeds = smallest
    xxhash64 mix of the id (a TakeOrdered, no global sort), ``rounds``
    Lloyd rounds chained LAZILY (each round two map-side-combinable
    aggregations; per-dim means as known-width sum columns so every
    aggregate stays whole-stage-codegen) with ONE driver collect at
    the end. Returns the broadcast-wrapped local centroid frame
    (cent_id, _cv, _cn2)."""
    spark = c.sparkSession
    dim = c.select(F.size("_v").alias("d")).first()["d"]
    n = c.count()
    if n == 0:
        raise ValueError(f"{op}: corpus has no nonzero vectors")
    cells = int(ncells) if ncells else int(math.ceil(math.sqrt(n)))
    seeds = (
        c.withColumn("_mix", F.xxhash64(F.col("_id").cast("string")))
        .orderBy("_mix", "_id")
        .limit(cells)
        .select(
            F.row_number()
            .over(Window.orderBy("_mix", "_id"))
            .cast("long")
            .alias("cent_id"),
            F.col("_v").alias("_cv"),
            F.col("_n2").alias("_cn2"),
        )
    )
    cents = seeds
    for _ in range(int(rounds)):
        per_vec = _argmax_cell_d(c, cents).select("_id", "_cell", "_v")
        sums = per_vec.groupBy("_cell").agg(
            F.count("*").alias("_c"),
            *[F.sum(F.col("_v")[i]).alias(f"_s{i}") for i in range(dim)],
        )
        cents = sums.select(
            F.col("_cell").alias("cent_id"),
            F.array(
                *[(F.col(f"_s{i}") / F.col("_c")) for i in range(dim)]
            ).alias("_cv"),
        ).withColumn(
            "_cn2",
            F.expr(
                "aggregate(_cv, cast(0.0 AS double),"
                " (acc, x) -> acc + x * x)"
            ),
        )
    # one driver materialization of the broadcast-sized centroid frame
    # (the lazy Lloyd chain otherwise re-trains once per consumer)
    rows = cents.collect()
    return F.broadcast(local_df(spark, rows, cents.schema))


def ivf_topk(
    corpus,
    queries,
    k=10,
    nprobe=2,
    ncells=None,
    rounds=2,
    id_col="vec_id",
    vec_col="emb",
):
    """Library operator: TRAINED-IVF approximate top-k over arbitrary
    frames — the scale path complementing the exact `cosine_topk`
    baseline (same output shape: ``(query_id, neighbor_id, rank,
    cosine)``, same (cosine desc, neighbor_id) tie-break, same
    self-match and zero-norm exclusions, so the two are drop-in
    comparable and recall is a direct frame diff).

    The FAISS IVF-Flat architecture re-expressed as DataFrame ops, the
    same plan the registered `similarity_ivf_ann` family runs on the
    embeddings table: deterministic spherical k-means over the corpus
    (``ncells = ceil(sqrt(n))`` by default, seeds = smallest xxhash64
    mix of the id — no global sort, a TakeOrdered; ``rounds`` Lloyd
    rounds chained LAZILY with ONE driver collect at the end, each
    round two map-side-combinable aggregations), corpus vectors
    assigned to their argmax-cosine cell, queries probing their
    ``nprobe`` nearest cells, and the exact cosine re-scored only
    inside the probed cells — the scanned fraction is ~nprobe/sqrt(n)
    and keeps SHRINKING as the corpus grows. With ``nprobe >= ncells``
    the probe set is every cell and the result provably equals
    `cosine_topk` (pinned in tests/test_similarity_api.py).

    Scale posture: centroids are broadcast-sized (~sqrt(n) rows) and
    ride F.broadcast; the only corpus-sized shuffles are the per-round
    assignment aggregate and the final cell equi-join; the per-dim
    mean uses known-width sum columns (dimension read once from the
    first corpus row), keeping every aggregation whole-stage-codegen.
    Vectors are cast to double once on entry, so integer and float
    embedding columns both work.

    Cache lifetime: the normalized corpus projection is persisted for
    the call (training forces it; the returned frame's assignment and
    rescore sides reuse it). The blocks use Spark's default
    MEMORY_AND_DISK storage and are LRU-evicted under pressure; call
    ``spark.catalog.clearCache()`` (or unpersist via the storage tab)
    to reclaim them eagerly after consuming the result."""
    c = _norm_vectors(corpus, id_col, vec_col, "ivf_topk")
    q = _norm_vectors(queries, id_col, vec_col, "ivf_topk")

    # -- train: deterministic spherical k-means on the corpus ---------
    c = c.persist()  # seeds + every Lloyd round + assignment re-consume it
    cents = _train_double_cells(c, ncells, rounds, "ivf_topk")

    # -- probe: corpus -> argmax cell, queries -> nprobe cells --------
    assign = _argmax_cell_d(c, cents).select(
        F.col("_id").alias("neighbor_id"), "_cell"
    )
    probes = _topn_cells_d(q, cents, nprobe).select(
        F.col("_id").alias("query_id"), "_cell"
    )
    cand = (
        probes.join(assign, "_cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    # -- exact rescore inside the probed cells ------------------------
    qe = q.select(
        F.col("_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n2").alias("_qn2"),
    )
    ce = c.select(
        F.col("_id").alias("neighbor_id"),
        F.col("_v").alias("_cv2"),
        F.col("_n2").alias("_cn22"),
    )
    exact_dot = F.expr(
        "aggregate(zip_with(_qv, _cv2, (x, y) -> x * y),"
        " cast(0.0 AS double), (acc, x) -> acc + x)"
    )
    # no broadcast hint on the query side: queries can be corpus-sized
    # (all-pairs recall studies probe the corpus against itself), and a
    # forced broadcast of an arbitrary frame risks driver/executor OOM.
    # AQE picks broadcast on its own when qe is genuinely small; only
    # the ~sqrt(n) centroid frame is unconditionally broadcast above.
    scored = (
        cand.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .withColumn(
            "cosine", exact_dot / F.sqrt(F.col("_qn2") * F.col("_cn22"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semantic_prune(
    vectors,
    tau=0.95,
    nprobe=2,
    ncells=None,
    rounds=2,
    id_col="vec_id",
    vec_col="emb",
):
    """Library operator: SemDeDup-style semantic pruning for arbitrary
    frames (Abbas et al. 2023: drop near-identical embeddings inside
    trained cells, keep one representative per semantic-duplicate
    group) — the frame-level form of the registered
    `dedup_embedding_cosine` + `dedup_semantic_prune_curve` pair. A
    vector is PRUNED when any smaller-id vector shares a probed IVF
    cell with it at cosine >= ``tau`` (the deterministic min-id
    survivor rule the exact/minhash dedup family uses — SemDeDup keeps
    a random cluster member; min-id is the reproducible choice).
    Returns one row per nonzero input vector:
    ``(id_col, gid, is_survivor, pruned_by)`` where ``gid`` is the
    min-id of the vector's EXACT-duplicate group and ``pruned_by`` is
    the smallest id that prunes it (NULL for survivors).

    Architecture, same as the registered pipeline:
    EXACT-DEDUP-BEFORE-ANN — identical vectors collapse into groups
    (one shuffle on the vector itself; k copies shrink the cell
    self-join by k^2 — the dup-heavy 100 TB shape), only group
    representatives are multi-probe assigned to their ``nprobe``
    nearest trained cells, candidate pairs are representatives sharing
    a cell, every candidate is exact-rescored INSIDE the join and
    threshold-filtered before any pair-level shuffle. Non-representative
    members are pruned by their group's min id (cosine exactly 1);
    representatives are pruned by the smallest smaller-id
    representative within ``tau``. With ``nprobe >= ncells`` candidacy
    is all-pairs and the result is the exact threshold dedup (pinned
    in tests/test_similarity_api.py); at real nprobe the miss rate is
    the IVF recall trade-off the registered recall report measures.

    Cache lifetime: same contract as `ivf_topk` (the normalized
    projection and group frame persist for the call)."""
    if not (-1.0 <= tau <= 1.0):
        raise ValueError(f"semantic_prune: tau must be in [-1, 1], got {tau}")
    v = _norm_vectors(vectors, id_col, vec_col, "semantic_prune")
    memb = v.withColumn(
        "_gid", F.min("_id").over(Window.partitionBy("_v"))
    ).persist()
    reps = memb.where(F.col("_id") == F.col("_gid")).select("_id", "_v", "_n2")
    reps = reps.persist()
    cents = _train_double_cells(reps, ncells, rounds, "semantic_prune")

    assign = _topn_cells_d(reps, cents, nprobe).select("_id", "_cell")
    payload = assign.join(reps, "_id")
    a = payload.select(
        F.col("_id").alias("_ga"),
        "_cell",
        F.col("_v").alias("_va"),
        F.col("_n2").alias("_na"),
    )
    b = payload.select(
        F.col("_id").alias("_gb"),
        "_cell",
        F.col("_v").alias("_vb"),
        F.col("_n2").alias("_nb"),
    )
    dot = F.expr(
        "aggregate(zip_with(_va, _vb, (x, y) -> x * y),"
        " cast(0.0 AS double), (acc, x) -> acc + x)"
    )
    # filter INSIDE the join, before the pair-level groupBy shuffle
    rep_pruned = (
        a.join(b, "_cell")
        .where(F.col("_ga") < F.col("_gb"))
        .withColumn("_cos", dot / F.sqrt(F.col("_na") * F.col("_nb")))
        .where(F.col("_cos") >= F.lit(float(tau)))
        .groupBy(F.col("_gb").alias("_gid"))
        .agg(F.min("_ga").alias("_rep_pruned_by"))
    )
    return (
        memb.join(rep_pruned, "_gid", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_gid").alias("gid"),
            # a non-rep member is pruned by its group min id; a rep is
            # pruned by the smallest cell-sharing rep within tau
            F.when(F.col("_id") != F.col("_gid"), F.col("_gid"))
            .otherwise(F.col("_rep_pruned_by"))
            .alias("pruned_by"),
        )
        .withColumn("is_survivor", F.col("pruned_by").isNull())
        .select(id_col, "gid", "is_survivor", "pruned_by")
    )


# ---------------------------------------------------------------------------
# Library surface: persisted ANN indexes — the embedding analog of
# dedup.minhash_index_build / minhash_index_probe: "the index is the
# asset". Three families, ONE log-structured lifecycle:
#
#   family  model snapshot(s)      log table  log payload
#   ivf     centroids              postings   (cell, v, n2)
#   pq      codebook               codes      (codes)
#   ivfpq   centroids + codebook   postings   (cell, codes)
#
# Each family is an `_IndexSpec` (its tables, payload, tombstone
# encoding and live predicate, plus the codec hooks that validate a
# batch, encode it into log rows and score a probe); ONE skeleton
# function per lifecycle step serves all three:
#
# - BUILD (`_index_build`): the family wrapper trains its model(s) —
#   or takes injected pre-trained ones, the train-on-a-sample pattern —
#   and the shared tail pins every model with an eager
#   ``localCheckpoint`` so it evaluates exactly ONCE (encoding, stamp
#   and commit all read the same rows, so a nondeterministic injected
#   frame can never leave log rows encoded under a different evaluation
#   than probes will read), stamps every log row with the build stamp,
#   and commits at the END, models first: each model is a SNAPSHOT
#   (retain=2 keeps the previous one for time travel) and the log BASE
#   commits with retain=1, so a same-path rebuild RESETS the log (old
#   cells/codes are meaningless under retrained models). A mid-build
#   failure leaves the old index serving. The commits are not atomic
#   together, but a crash between them is DETECTED by the stamps. The
#   pins are released after the final commit (`_release_pin`) on
#   success and failure paths; pinned blocks are non-reliable storage,
#   so an executor lost mid-build fails the build loudly (re-run it).
# - STAMPS: every live log row carries ``build_id`` — the XOR of the
#   content hashes (`_model_build_hash`) of the family's committed
#   models — and ``stamp_fmt`` (`_STAMP_FMT`). Probes verify resolved
#   live rows scan-side (`_stamp_guard`); every append first verifies
#   the newest live log row (`_assert_log_stamp`).
# - RESOLVE (`_resolved_log`): latest-wins per vec_id on the commit
#   version (the whole payload + stamp as ONE atomic unit), THEN
#   tombstone winners drop — so a delete raced by an older ingest
#   still deletes, a later re-ingest resurrects, and an identical
#   re-commit is idempotent.
# - PROBE (`_index_probe`): answers a batch against the committed
#   models + resolved log, no retraining. Batch ids collapse up front
#   (`_pq_dedup_ids`). With ``commit=True`` the gate-checkpoint-append
#   tail runs: stamp gate, eager ``localCheckpoint`` of the answer (a
#   CALLER-owned pin — release it with `release_model_pin`), then the
#   batch's delta appends with RETAIN_ALL (the log IS the index).
# - INGEST (`_index_ingest`): the identical delta without the probe; a
#   plain count, and a degenerate batch is a no-op returning 0.
# - DELETE (`_index_delete`): one tombstone row per distinct id as the
#   next delta; deleting an unknown id is a no-op.
# - COMPACT (`_index_compact`): commits the RESOLVED view as the new
#   base (retain=1) — NOT the generic `compact_state_versions`, which
#   would freeze superseded rows at their replacements' version.
# - STATS (`_index_stats`): one summary row; stats MEASURE damage and
#   never raise — a log whose model snapshot is missing reads out with
#   ``model_hash`` NULL and ``n_stale`` = ``n_live``.
#
# Model drift under heavy ingest is the documented limit of every
# family; a fresh same-path build is the retrain lever.
# ---------------------------------------------------------------------------

# Tombstone marker of the cell-keyed logs: real cells are nonnegative
# cent_ids, so a posting row with this cell is a committed DELETE (the
# codes log marks deletes with NULL codes instead).
_TOMBSTONE_CELL = -1

# Build-stamp FORMULA version, persisted as `stamp_fmt` alongside
# `build_id` on every stamped log row (ADVICE r16): probes can then
# tell "committed under an older formula — rebuild to migrate" apart
# from genuine crashed-rebuild corruption, and any future formula
# change bumps this constant instead of hitting the same wall.
# History: 1 = bare bit_xor of per-row xxhash64 (rounds <= 15, never
# persisted — those logs carry no stamp_fmt column and resolve to
# NULL); 2 = xxhash64(xor, count, masked sum) (round 16+, see
# `_build_hash_expr`; the column itself lands in round 17, so a
# NULL stamp_fmt means a round-16-or-earlier writer). Note (VERDICT
# r17): NULL therefore covers TWO populations with different
# outcomes — round-16 logs were stamped under the CURRENT formula 2
# and verify cleanly, while <= r15 logs carry formula-1 stamps and
# trip `_stamp_guard` with its predates-versioning diagnosis; both
# behaviors are correct, the version column just cannot distinguish
# the two retroactively.
_STAMP_FMT = 2


def _release_pin(df):
    """Best-effort release of an eager ``localCheckpoint`` pin's blocks
    (ADVICE r16): the checkpointed RDD is not in the cache manager, so
    ``df.unpersist()`` cannot reach it and the blocks otherwise live
    until the ContextCleaner garbage-collects the frame — many builds
    in one long-lived session would accumulate pinned model-sized
    blocks. The analyzed plan of a localCheckpoint IS the LogicalRDD
    wrapping the checkpointed RDD; unpersist that RDD directly. Only
    ever called AFTER the final commit reads the pin, and best-effort
    by design: a Py4J surface change degrades back to the documented
    GC backstop, never fails a build that already committed.

    VERSION PIN (VERDICT r17): this reaches classic-mode Py4J
    internals — ``_jdf.queryExecution().analyzed()`` and the
    ``LogicalRDD`` class name — which are Spark 3.5/4.x-classic
    surface, not public API; re-verify the pytest pin
    (tests/test_pq_index_api.py) deliberately on any Spark version
    bump. Under SPARK CONNECT there is no ``_jdf`` at all, so pin
    release is structurally unavailable (the plan lives server-side);
    that case is detected explicitly below and the server's
    ContextCleaner remains the only reclaim path (ADVICE r17 — an
    intentional no-op, not an exception-swallow)."""
    if not hasattr(df, "_jdf"):
        return  # Spark Connect frame: no Py4J plan handle exists
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # GC/ContextCleaner remains the backstop


def release_model_pin(model):
    """Library operator: release the checkpoint blocks behind an
    eagerly-``localCheckpoint``ed frame this library handed out, once
    a long-lived session is done with it — the public counterpart of
    the internal pin release the index builds perform (ADVICE r16),
    at the same altitude as `release_comparison_result` for comparison
    reports. ``df.unpersist()`` cannot reach a localCheckpoint's
    blocks (they are not in the cache manager), so without this call
    each pinned frame lives until the ContextCleaner collects it.
    Covers BOTH caller-held pinned frames the library returns:

    - `pq_train` models — the inject-a-pretrained-model pattern
      becomes: train once, pass the frame into any number of
      ``*_index_build(..., codebook=cb)`` calls, then
      ``release_model_pin(cb)``.
    - ``*_index_probe(..., commit=True)`` results (ADVICE r17) — the
      probe-then-commit path pins its answer so the commit can never
      re-evaluate it; that pin is CALLER-owned, so an ingest loop
      that keeps committing batches should release each result once
      read (``r = pq_index_probe(b, p, commit=True); use(r);
      release_model_pin(r)``) — or use the ``*_index_ingest``
      entry points, which commit without returning a pinned frame at
      all.

    After release the frame is DEAD — any further read raises
    (checkpoint block not found). Safe no-op on frames that are not
    localCheckpoints; best-effort by design. LIMIT: under Spark
    Connect there is no client-side plan handle, so this is an
    intentional no-op and the server's ContextCleaner remains the
    only reclaim path (see `_release_pin`)."""
    _release_pin(model)


def _model_build_hash(model, cols):
    """Order-independent content hash of a small model frame —
    ``xxhash64(xor, count, masked sum)`` over per-row xxhash64s of the
    named columns, the exact aggregate `_build_hash_expr` defines —
    the BUILD STAMP that makes a crashed rebuild detectable: every
    build stamps the hash of the model(s) it committed into the log
    rows it writes, and every probe recomputes it from the COMMITTED
    model(s) and verifies each resolved live row matches. A crash
    between a rebuild's model commit and its log commit (either order)
    leaves rows stamped with a DIFFERENT build than the committed
    model hashes to, so the next probe fails loudly instead of
    silently scoring stale rows against the wrong model. The hash
    identifies model CONTENT, not the build event: an identical
    retrain re-stamps identically, which is exactly right. One
    model-sized aggregate, no corpus touch.

    A bare bit_xor is multiplicity-blind (pairs of identical rows
    cancel to 0, so a doubled table would hash like an empty one and
    an empty model would stamp as 0) — ADVICE r15. The stamp therefore
    folds the row COUNT and a masked per-row hash SUM in alongside the
    xor: duplicate-row corruption changes count and sum even when the
    xor cancels, and an empty model hashes the (NULL, 0, NULL)
    aggregate triple — a fixed value distinct from any row's. The sum
    masks each row hash to 31 non-negative bits so the exact long sum
    cannot reach ANSI overflow until ~2^32 rows — far past any model
    size. NOTE: this formula replaced a bare bit_xor in round 16;
    indexes committed under the old formula fail their next probe's
    stamp check and need one rebuild (`_stamp_guard` says so). Since
    round 17 every stamped row also persists the formula VERSION
    (`_STAMP_FMT` as ``stamp_fmt``), so the guard diagnoses a future
    formula change as a migration instead of corruption."""
    row = model.agg(F.expr(_build_hash_expr(cols)).alias("h")).first()
    return 0 if row is None or row.h is None else int(row.h)


def _build_hash_expr(cols):
    """The build-stamp aggregate as a SQL expression string, so the
    model agg that also reads a model's shape (`_model_stamp`)
    evaluates the exact formula `_model_build_hash` defines — one
    definition, no drift between the stamping and checking sides."""
    rh = f"xxhash64({', '.join(cols)})"
    return f"xxhash64(bit_xor({rh}), count(*), sum({rh} & 2147483647))"


def _stamp_guard(frame, payload_col, expected, op, live):
    """Scan-side build-stamp check (the `assert_true` idiom — no extra
    action): rewrites ``payload_col`` so any resolved LIVE row whose
    ``build_id`` differs from the committed model's content hash raises
    during the probe's own scan. NULL stamps on live rows also trip
    (eqNullSafe): live rows are always stamped by their writer. The
    ``live`` predicate is part of the guard CONDITION, not just an
    upstream filter, because the optimizer may elide a redundant
    tombstone filter (e.g. under a posexplode, which drops NULL arrays
    by itself) and the guard must never fire on a tombstone winner's
    NULL stamp.

    The error is DIAGNOSED via the persisted ``stamp_fmt`` column
    (ADVICE r16): a live row carrying a known-but-different formula
    version raises the migration message ("old formula — rebuild, not
    corruption"); a same-version or NULL-version mismatch raises the
    crashed-rebuild message (NULL means the row predates stamp-format
    versioning — round 16 and earlier — where the two cases are
    genuinely indistinguishable)."""
    mismatch = live & ~F.col("build_id").eqNullSafe(F.lit(int(expected)))
    foreign_fmt = F.col("stamp_fmt").isNotNull() & (
        F.col("stamp_fmt") != F.lit(_STAMP_FMT)
    )
    msg = F.when(
        foreign_fmt,
        F.concat(
            F.lit(f"{op}: log rows are stamped under stamp-format "),
            F.col("stamp_fmt").cast("string"),
            F.lit(
                f" but this release checks format {_STAMP_FMT} — an"
                " older/newer formula, NOT corruption; re-run the"
                " build at this index path to migrate the stamps"
            ),
        ),
    ).otherwise(
        F.lit(
            f"{op}: committed model and log rows carry different"
            " build stamps — a rebuild crashed between its commits,"
            " or (NULL stamp_fmt) the log predates build stamping /"
            " stamp-format versioning (pre-r16 logs used the"
            " bare-bit_xor formula; r16 logs carry no format column);"
            " re-run the build at this index path"
        )
    )
    return frame.withColumn(
        payload_col,
        F.when(mismatch, F.assert_true(F.lit(False), msg)).otherwise(
            F.col(payload_col)
        ),
    )


def _assert_log_stamp(spark, log_path, expected, op, live):
    """Crashed-rebuild gate for every LOG-APPENDING path at O(newest
    live row), not O(index): walk the log's committed versions NEWEST
    FIRST and verify the first live row found carries the committed
    model's content hash. The probes additionally verify the live rows
    their ANSWER resolves scan-side (`_stamp_guard`), but that alone
    cannot gate a commit: a cell-pruned (or empty) answer may evaluate
    no pre-existing row at all, and one commit landing on a
    crashed-rebuild log would stamp a NEW-model delta on top of an
    all-old-stamped log — permanently blinding this gate's
    newest-live-row witness for every later append, and the repair (a
    same-path rebuild, which resets the log) would then silently
    discard the appended batches. A crashed rebuild leaves the ENTIRE
    existing log stamped under the old model, so the newest live row
    alone witnesses it. ``live`` returns the family's non-tombstone
    predicate (tombstones deliberately carry NULL stamps and prove
    nothing about the log's model). Cost shape: on an ingest cadence
    the newest version IS the previous batch delta, so this reads one
    batch-sized file; tombstone-only deltas step back one version. A
    log with no live row anywhere cannot contradict the model —
    appending is safe."""
    from spark_data_test_spark.state import _committed_state_version

    cur = _committed_state_version(log_path)
    if cur is None:
        return
    for v in range(int(cur), -1, -1):
        if not os.path.exists(f"{log_path}/v{v}/_SUCCESS"):
            continue
        part = spark.read.parquet(f"{log_path}/v{v}")
        if "build_id" not in part.columns:
            # pre-stamping release wrote this version: its live rows
            # resolve with NULL stamps, which every probe rejects
            part = part.withColumn("build_id", F.lit(None).cast("long"))
        row = part.where(live()).select("build_id").first()
        if row is None:
            continue  # tombstone-only delta: step back one version
        if row.build_id is None or int(row.build_id) != int(expected):
            raise ValueError(
                f"{op}: the committed model and the newest live log"
                " rows carry different build stamps — a rebuild"
                " crashed between its commits, or the log predates"
                " build stamping; re-run the build at this index path"
                " before appending (appending now would stamp new rows"
                " under a model the existing log was not built"
                " against, and the rebuild that repairs the index"
                " would discard them)"
            )
        return


class _Model(NamedTuple):
    """One committed model snapshot of an index family."""

    table: str
    hash_cols: tuple  # the build-stamp hash covers these columns
    shape: Callable  # () -> shape agg columns, folded into the stamp agg
    stats: tuple  # shape columns the family's stats report


_CENTROIDS = _Model(
    "centroids",
    ("cent_id", "cv", "cn2"),
    lambda: [F.max(F.size("cv")).alias("dim")],
    (),
)
_CODEBOOK = _Model(
    "codebook",
    ("s", "cent_id", "csub"),
    lambda: [
        (F.max("s") + 1).cast("long").alias("m"),
        F.max(F.size("csub")).alias("subdim"),
        F.count(F.lit(1)).alias("n_code_rows"),
    ],
    ("m", "n_code_rows"),
)


class _IndexSpec(NamedTuple):
    """One persisted-index family: everything the shared lifecycle
    skeleton needs to know about it (see the section comment)."""

    name: str  # public prefix of the family's ``{name}_index_*`` calls
    models: tuple  # `_Model` snapshots, in commit order
    model_noun: str  # names the models in the half-built-index error
    log: str  # log table under the index path
    payload: tuple  # log columns between vec_id and the stamps
    tombstone: dict  # payload column -> tombstone value (others NULL)
    live: Callable  # () -> the non-tombstone predicate
    guard_col: str  # payload column the scan-side stamp guard rewrites
    # (deduped batch, committed, op, id_col, vec_col) -> the validated
    # (_id, _v[, _n2]) batch, or None when it holds no nonzero vector
    batch: Callable
    # ((_id, _v, _n2) vectors, {table: model frame}) -> (vec_id, *payload)
    encode: Callable
    # (batch, resolved log, committed, nprobe) -> (query_id, vec_id, score)
    score: Callable
    score_col: str
    score_desc: bool
    # (resolved log, stale predicate) -> one-row live-side stats frame
    stats_live: Callable
    stats_cols: tuple  # the family's public stats column order


class _Committed(NamedTuple):
    """The committed models of an index, verified-stamp ready."""

    frames: dict  # table -> committed model frame
    stamp: int  # the build stamp live log rows must carry
    shape: dict  # merged shape-agg values of every model


def _model_stamp(spec, frames):
    """(build stamp, shape) of ``frames`` ({table: model frame or
    None}) in ONE model-sized agg per present model: the content hash
    (`_build_hash_expr`) and the model's shape columns ride the same
    action. The stamp is the XOR of every model's hash, or None when a
    model is missing."""
    hashes, shape = [], {}
    for m in spec.models:
        frame = frames[m.table]
        if frame is None:
            continue
        row = frame.agg(
            F.expr(_build_hash_expr(m.hash_cols)).alias("_h"), *m.shape()
        ).first().asDict()
        hashes.append(int(row.pop("_h") or 0))
        shape.update(row)
    if len(hashes) < len(spec.models):
        return None, shape
    return functools.reduce(operator.xor, hashes, 0), shape


def _read_models(spec, spark, index_path):
    from spark_data_test_spark.state import read_state_table

    return {
        m.table: read_state_table(spark, f"{index_path}/{m.table}")
        for m in spec.models
    }


def _read_log(spec, spark, index_path):
    """Every committed log version, each row tagged with its version
    ``_pv``; None for a missing log."""
    from spark_data_test_spark.state import read_state_union

    return read_state_union(
        spark,
        f"{index_path}/{spec.log}",
        version_col="_pv",
        allow_missing_columns=True,
    )


def _committed(spec, spark, index_path, op):
    """The committed models of the index every probe and ingest reads,
    raising on a missing index and on a half-built one (models
    committed but no log — a build that crashed between its commits:
    never graft deltas onto or score against half an index)."""
    from spark_data_test_spark.state import _committed_state_version

    frames = _read_models(spec, spark, index_path)
    if any(f is None for f in frames.values()):
        raise ValueError(
            f"{op}: no committed index at {index_path}"
            f" (run {spec.name}_index_build first)"
        )
    if _committed_state_version(f"{index_path}/{spec.log}") is None:
        raise ValueError(
            f"{op}: index at {index_path} has {spec.model_noun} but no"
            f" committed {spec.log} (re-run {spec.name}_index_build)"
        )
    return _Committed(frames, *_model_stamp(spec, frames))


def _stamped(rows, stamp):
    """Log rows stamped with the build stamp and the formula version."""
    return rows.withColumn("build_id", F.lit(int(stamp))).withColumn(
        "stamp_fmt", F.lit(_STAMP_FMT).cast("integer")
    )


def _resolved_log(spec, spark, index_path, expect_build=None):
    """LATEST-WINS view of an index log: per vec_id the newest commit's
    payload and stamps win as ONE atomic unit (max_by on the version —
    deterministic, and an id can never occupy two ranks), THEN
    tombstone winners drop, so the newest commit decides whether an id
    is live. Same shuffle cost as a plain dropDuplicates over the log.
    Logs written before build stamping (no ``build_id``) or before
    stamp-format versioning (no ``stamp_fmt``) resolve with NULLs,
    which the probe guard reads as stale. With ``expect_build`` every
    surviving row's stamp is verified scan-side (`_stamp_guard`).
    Returns None for a missing log."""
    log = _read_log(spec, spark, index_path)
    if log is None:
        return None
    for col, typ in (("build_id", "long"), ("stamp_fmt", "integer")):
        if col not in log.columns:
            log = log.withColumn(col, F.lit(None).cast(typ))
    cols = [*spec.payload, "build_id", "stamp_fmt"]
    out = (
        log.groupBy("vec_id")
        .agg(F.max_by(F.struct(*cols), F.col("_pv")).alias("_p"))
        .select("vec_id", *[f"_p.{c}" for c in cols])
        .where(spec.live())
    )
    if expect_build is not None:
        out = _stamp_guard(
            out, spec.guard_col, expect_build, f"{spec.name}_index_probe",
            live=spec.live(),
        )
    return out


def _index_build(spec, index_path, vectors, models):
    """The shared build tail: pin, stamp, encode ``vectors`` and commit
    (see the section comment). ``models`` maps each model table to
    ``(frame, already_pinned)`` — a model the wrapper trained itself is
    already `pq_train`'s eager pin (re-pinning would copy it twice and
    leak the inner pin); only the rest are pinned here. Returns the
    number of indexed vectors."""
    from spark_data_test_spark.state import write_state_version

    pins = {t: f for t, (f, pinned) in models.items() if pinned}
    try:
        for m in spec.models:
            if m.table not in pins:
                pins[m.table] = models[m.table][0].localCheckpoint(
                    eager=True
                )
        stamp, _ = _model_stamp(spec, pins)
        rows = _stamped(spec.encode(vectors, pins), stamp).persist()
        try:
            n = rows.count()
            os.makedirs(index_path, exist_ok=True)
            for m in spec.models:
                write_state_version(
                    pins[m.table], f"{index_path}/{m.table}", retain=2
                )
            write_state_version(rows, f"{index_path}/{spec.log}", retain=1)
        finally:
            rows.unpersist()
        return n
    finally:
        for frame in pins.values():
            _release_pin(frame)


def _index_probe(
    spec, queries, index_path, k, nprobe, id_col, vec_col, commit
):
    from spark_data_test_spark.state import RETAIN_ALL, write_state_version

    op = f"{spec.name}_index_probe"
    spark = queries.sparkSession
    committed = _committed(spec, spark, index_path, op)
    log = _resolved_log(spec, spark, index_path, expect_build=committed.stamp)
    # a dup batch id would interleave two vectors' candidates in ONE
    # rank window (duplicate neighbors, corrupt ranks); persisted
    # BEFORE the validation first()s so the dedup shuffle runs once
    d = _pq_dedup_ids(queries, id_col, vec_col).persist()
    try:
        q = spec.batch(d, committed, op, id_col, vec_col)
        if q is None:
            raise ValueError(f"{op}: query batch has no nonzero vectors")
        score = F.col(spec.score_col)
        w = Window.partitionBy("query_id").orderBy(
            score.desc() if spec.score_desc else score.asc(),
            F.col("vec_id").asc(),
        )
        result = (
            spec.score(q, log, committed, nprobe)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(k))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                "rank",
                spec.score_col,
            )
        )
        if not commit:
            return result
        log_path = f"{index_path}/{spec.log}"
        _assert_log_stamp(spark, log_path, committed.stamp, op, spec.live)
        result = result.localCheckpoint(eager=True)
        # the delta is encoded from the SAME validated batch the answer
        # used: a row dropped from the answer never reaches the log
        write_state_version(
            _stamped(spec.encode(q, committed.frames), committed.stamp),
            log_path,
            retain=RETAIN_ALL,
        )
        return result
    finally:
        d.unpersist()


def _index_ingest(spec, batch, index_path, id_col, vec_col):
    from spark_data_test_spark.state import RETAIN_ALL, write_state_version

    op = f"{spec.name}_index_ingest"
    spark = batch.sparkSession
    committed = _committed(spec, spark, index_path, op)
    log_path = f"{index_path}/{spec.log}"
    _assert_log_stamp(spark, log_path, committed.stamp, op, spec.live)
    d = _pq_dedup_ids(batch, id_col, vec_col).persist()
    try:
        if d.first() is None:
            return 0
        q = spec.batch(d, committed, op, id_col, vec_col)
        if q is None:
            return 0
        delta = _stamped(
            spec.encode(q, committed.frames), committed.stamp
        ).persist()
        try:
            n = delta.count()
            if n:
                write_state_version(delta, log_path, retain=RETAIN_ALL)
        finally:
            delta.unpersist()
        return n
    finally:
        d.unpersist()


def _index_delete(spec, spark, index_path, ids, id_col):
    from pyspark.sql import DataFrame

    from spark_data_test_spark.state import (
        RETAIN_ALL,
        read_state_table,
        write_state_version,
    )

    op = f"{spec.name}_index_delete"
    base = read_state_table(spark, f"{index_path}/{spec.log}")
    if base is None:
        raise ValueError(
            f"{op}: no committed {spec.log} at {index_path}"
            f" (run {spec.name}_index_build first)"
        )
    types = {f.name: f.dataType for f in base.schema.fields}
    if "build_id" not in types:
        raise ValueError(
            f"{op}: the log at {index_path} predates build"
            f" stamping (committed by an earlier release) — re-run"
            f" {spec.name}_index_build to upgrade it before deleting"
        )
    if isinstance(ids, DataFrame):
        idf = ids.select(F.col(id_col).alias("vec_id")).distinct()
    else:
        ids = list(ids)
        if not ids:
            raise ValueError(f"{op}: empty id set")
        idf = spark.createDataFrame([(i,) for i in ids], ["vec_id"]).distinct()
    # tombstones carry no stamp (and no stamp format): they never
    # survive resolution, so the probe-side check never sees them
    tomb = idf.select(
        F.col("vec_id").cast(types["vec_id"]),
        *[
            F.lit(spec.tombstone.get(c)).cast(types[c]).alias(c)
            for c in spec.payload
        ],
        F.lit(None).cast(types["build_id"]).alias("build_id"),
        F.lit(None).cast("integer").alias("stamp_fmt"),
    )
    return write_state_version(
        tomb, f"{index_path}/{spec.log}", retain=RETAIN_ALL
    )


def _index_compact(spec, spark, index_path):
    from spark_data_test_spark.state import write_state_version

    resolved = _resolved_log(spec, spark, index_path)
    if resolved is None:
        return None
    return write_state_version(
        resolved, f"{index_path}/{spec.log}", retain=1
    )


def _index_stats(spec, spark, index_path):
    """The shared stats readout: the family's live-side aggregates over
    the resolved log, the log-side volume (``n_log_rows``,
    ``n_versions``, ``n_tombstones``), the model stamp as
    ``model_hash`` and the models' shape columns, in the family's
    column order. All aggregates run distributed; only the one summary
    row is collected."""
    log = _read_log(spec, spark, index_path)
    if log is None:
        return None
    stamp, shape = _model_stamp(spec, _read_models(spec, spark, index_path))
    if stamp is None:
        # a log without its committed model(s) is CORRUPTED state (the
        # build commits models before the log): every live row is
        # unverifiable, so all of them count stale
        model_hash = F.lit(None).cast("long")
        stale = F.lit(True)
    else:
        model_hash = F.lit(stamp).cast("long")
        stale = ~F.col("build_id").eqNullSafe(model_hash)
    live = spec.stats_live(_resolved_log(spec, spark, index_path), stale)
    raw = log.agg(
        F.count(F.lit(1)).alias("n_log_rows"),
        F.count_distinct("_pv").alias("n_versions"),
        F.coalesce(F.sum((~spec.live()).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_tombstones"),
    )
    fixed = {"model_hash": model_hash}
    for m in spec.models:
        for c in m.stats:
            fixed[c] = F.lit(shape.get(c)).cast("long")
    return live.crossJoin(F.broadcast(raw)).select(
        *[fixed.get(c, F.col(c)).alias(c) for c in spec.stats_cols]
    )


def _pq_dedup_ids(corpus, id_col, vec_col):
    """One row per id, deterministically: a batch (or corpus) may carry
    the same id twice with DIFFERENT vectors; both would land in ONE
    commit version, where the latest-wins read's max_by on the version
    ties arbitrarily. Keep the greatest (squared-norm, vector) pair per
    id — norm first so a zero-norm duplicate can never outrank a live
    vector and then silently vanish in the IVF family's zero-norm drop
    (ADVICE r15: lexicographic-greatest alone kept e.g. [0,0] over
    [-1,-5], erasing the id from both the answer and the commit);
    vector order (arrays are orderable) breaks exact-norm ties."""
    v = F.col(vec_col)
    n2 = F.expr(
        f"aggregate({vec_col}, cast(0.0 as double), (a, x) -> a + x * x)"
    )
    return (
        corpus.select(
            F.col(id_col).alias(id_col),
            F.col(vec_col).cast("array<double>").alias(vec_col),
        )
        .where(v.isNotNull())
        .groupBy(id_col)
        .agg(F.max_by(vec_col, F.struct(n2, v)).alias(vec_col))
    )


def _pq_pack_codes(codes, id_col):
    """(id, s, code) x m -> one (vec_id, codes array) row per id: the
    log-table unit, so latest-wins resolves a re-ingested id's m codes
    as ONE atomic replacement (never a mix of old and new subspaces)."""
    return (
        codes.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "code"))).alias("_p")
        )
        .select(
            F.col(id_col).alias("vec_id"),
            F.expr("transform(_p, r -> r.code)").alias("codes"),
        )
    )


# -- family codec hooks -----------------------------------------------------


def _dim_locked(q):
    """First-row dim lock over a ``_v`` frame: ``(rows of that dim,
    dim)`` — ragged rows are a data bug upstream and drop rather than
    mis-split or NULL-pad a ``zip_with`` — or ``(q, None)`` when the
    frame is empty."""
    first = q.select(F.size("_v").alias("d")).first()
    if first is None:
        return q, None
    dim = int(first.d)
    return q.where(F.size("_v") == dim), dim


def _check_pq_dims(dim, committed, op):
    m, subdim = int(committed.shape["m"]), int(committed.shape["subdim"])
    if dim % m:
        raise ValueError(
            f"{op}: vector dim {dim} not divisible by"
            f" the committed codebook's m={m}"
        )
    if dim // m != subdim:
        raise ValueError(
            f"{op}: subvector dim {dim // m} != committed codebook"
            f" subvector dim {subdim} (dim {dim}, m={m})"
        )


def _ivf_batch(d, committed, op, id_col, vec_col):
    """Zero-norm drop + dim lock against the COMMITTED centroid dim: a
    mismatched vector would NULL-pad the cosine fold and land an
    unsound posting row. An all-zero-norm batch passes through empty
    (the probe answers nothing, the ingest commits nothing)."""
    q, dim = _dim_locked(_norm_vectors(d, id_col, vec_col, op))
    cdim = int(committed.shape["dim"] or 0)
    if dim is not None and dim != cdim:
        raise ValueError(
            f"{op}: batch vector dim {dim} != committed centroid dim {cdim}"
        )
    return q


def _pq_batch(d, committed, op, id_col, vec_col):
    q, dim = _pq_frame(d, id_col, vec_col, op)
    _check_pq_dims(dim, committed, op)
    return q


def _ivfpq_batch(d, committed, op, id_col, vec_col):
    """Zero-norm drop (a zero vector has no coarse cell), then the
    codebook shape checks; None for an all-zero-norm batch."""
    q, dim = _dim_locked(_norm_vectors(d, id_col, vec_col, op))
    if dim is None:
        return None
    _check_pq_dims(dim, committed, op)
    return q


def _cents(frames):
    """The committed centroids under the cell folds' column names, in
    ONE partition: the folds pack the model with a global agg, which
    then plans no exchange (the model is ~sqrt(n) rows)."""
    return frames["centroids"].coalesce(1).select(
        "cent_id", F.col("cv").alias("_cv"), F.col("cn2").alias("_cn2")
    )


def _probed_cells(q, committed, nprobe):
    """(query_id, cell): each query's ``nprobe`` best committed cells."""
    return _topn_cells_d(q, _cents(committed.frames), nprobe).select(
        F.col("_id").alias("query_id"), F.col("_cell").alias("cell")
    )


def _packed_codes(vectors, frames):
    """(vec_id, codes): each vector encoded against the committed
    codebook, its m codes packed into one atomic log row."""
    return _pq_pack_codes(
        pq_encode(vectors, frames["codebook"], id_col="_id", vec_col="_v"),
        "_id",
    )


def _ivf_encode(vectors, frames):
    """(vec_id, cell, v, n2): each vector's argmax-cosine committed
    cell, carrying the vector itself (IVF-Flat inverted lists)."""
    return _argmax_cell_d(vectors, _cents(frames)).select(
        F.col("_id").alias("vec_id"),
        F.col("_cell").alias("cell"),
        F.col("_v").alias("v"),
        F.col("_n2").alias("n2"),
    )


def _ivfpq_encode(vectors, frames):
    """(vec_id, cell, codes): cell and codes as one atomic log row."""
    return (
        _ivf_encode(vectors, frames)
        .select("vec_id", "cell")
        .join(_packed_codes(vectors, frames), "vec_id")
    )


def _ivf_score(q, log, committed, nprobe):
    # the posting lists carry the vectors: exact cosine inside the
    # probed cells; the query side joins unhinted (AQE broadcasts
    # small batches, only the centroid frame is force-broadcast)
    qe = q.select(
        F.col("_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n2").alias("_qn2"),
    )
    dot = F.expr(
        "aggregate(zip_with(_qv, v, (x, y) -> x * y),"
        " cast(0.0 AS double), (acc, x) -> acc + x)"
    )
    return (
        _probed_cells(q, committed, nprobe)
        .join(log, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(qe, "query_id")
        .withColumn("cosine", dot / F.sqrt(F.col("_qn2") * F.col("n2")))
    )


def _adc(candidates, q, committed, keys):
    """(query_id, vec_id, adc_dist): each candidate's ADC distance, the
    sum of its m lookups in the query's exact float distance table to
    every codebook entry (nq x m x ncodes rows, joined WITHOUT a hint —
    AQE broadcasts modest batches); self-matches excluded."""
    m, subdim = int(committed.shape["m"]), int(committed.shape["subdim"])
    tables = (
        _pq_split(q, m, subdim)
        .join(F.broadcast(committed.frames["codebook"]), "s")
        .withColumn("d", F.expr(_PQ_L2F))
        .select(F.col("_id").alias("query_id"), "s", "cent_id", "d")
    )
    return (
        candidates.join(tables, keys)
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )


def _pq_score(q, log, committed, nprobe):
    # flat PQ: every live code row is a candidate (O(index) per query)
    flat = log.select("vec_id", F.posexplode("codes").alias("s", "cent_id"))
    return _adc(flat, q, committed, ["s", "cent_id"])


def _ivfpq_score(q, log, committed, nprobe):
    # only the probed cells' CODE rows are candidates
    flat = log.select(
        "vec_id", "cell", F.posexplode("codes").alias("s", "cent_id")
    )
    cand = _probed_cells(q, committed, nprobe).join(flat, "cell")
    return _adc(cand, q, committed, ["query_id", "s", "cent_id"])


def _cell_stats(resolved, stale):
    # n_live and the stale count fold out of the per-cell histogram,
    # so the resolve subplan executes ONCE for all live-side stats
    per_cell = resolved.groupBy("cell").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(stale.cast("long")).alias("_st"),
    )
    return per_cell.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_live"),
        F.count(F.lit(1)).alias("n_cells_used"),
        F.coalesce(F.max("_n"), F.lit(0)).cast("long").alias(
            "max_cell_rows"
        ),
        F.coalesce(F.sum("_st"), F.lit(0)).cast("long").alias("n_stale"),
    )


def _code_stats(resolved, stale):
    per_bucket = (
        resolved.select(
            F.posexplode("codes").alias("s", "code"),
            stale.cast("long").alias("_st"),
        )
        .groupBy("s", "code")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_st").alias("_sts"))
    )
    # every live row contributes exactly ONE code in subspace 0
    # whatever m it was encoded under, so row counts fold out of the
    # s=0 buckets — never divide by the CURRENT codebook's m, which
    # miscounts rows a crashed retrain left encoded under an old model
    # with a different m (the exact damage n_stale exists to measure)
    s0 = F.col("s") == 0
    return per_bucket.agg(
        F.coalesce(F.max("_n"), F.lit(0)).cast("long").alias(
            "max_code_rows"
        ),
        F.coalesce(F.sum(F.when(s0, F.col("_n"))), F.lit(0))
        .cast("long")
        .alias("n_live"),
        F.coalesce(F.sum(F.when(s0, F.col("_sts"))), F.lit(0))
        .cast("long")
        .alias("n_stale"),
    )


_IVF_FLAT = _IndexSpec(
    name="ivf",
    models=(_CENTROIDS,),
    model_noun="centroids",
    log="postings",
    payload=("cell", "v", "n2"),
    tombstone={"cell": _TOMBSTONE_CELL},
    live=lambda: F.col("cell") >= 0,
    guard_col="v",
    batch=_ivf_batch,
    encode=_ivf_encode,
    score=_ivf_score,
    score_col="cosine",
    score_desc=True,
    stats_live=_cell_stats,
    stats_cols=(
        "n_live", "n_cells_used", "n_log_rows", "n_versions",
        "n_tombstones", "max_cell_rows", "model_hash", "n_stale",
    ),
)
_PQ = _IndexSpec(
    name="pq",
    models=(_CODEBOOK,),
    model_noun="a codebook",
    log="codes",
    payload=("codes",),
    tombstone={},
    live=lambda: F.col("codes").isNotNull(),
    guard_col="codes",
    batch=_pq_batch,
    encode=_packed_codes,
    score=_pq_score,
    score_col="adc_dist",
    score_desc=False,
    stats_live=_code_stats,
    stats_cols=(
        "n_live", "m", "n_code_rows", "n_log_rows", "n_versions",
        "n_tombstones", "max_code_rows", "model_hash", "n_stale",
    ),
)
_IVF_PQ = _IndexSpec(
    name="ivfpq",
    models=(_CENTROIDS, _CODEBOOK),
    model_noun="models",
    log="postings",
    payload=("cell", "codes"),
    tombstone={"cell": _TOMBSTONE_CELL},
    live=lambda: F.col("cell") >= 0,
    guard_col="codes",
    batch=_ivfpq_batch,
    encode=_ivfpq_encode,
    score=_ivfpq_score,
    score_col="adc_dist",
    score_desc=False,
    stats_live=_cell_stats,
    stats_cols=(
        "n_live", "n_cells_used", "max_cell_rows", "m", "n_code_rows",
        "n_log_rows", "n_versions", "n_tombstones", "model_hash",
        "n_stale",
    ),
)

# the per-family latest-wins views, by their long-standing names
_resolved_postings = functools.partial(_resolved_log, _IVF_FLAT)
_resolved_codes = functools.partial(_resolved_log, _PQ)
_resolved_ivfpq_postings = functools.partial(_resolved_log, _IVF_PQ)


def _trained_centroids(c, ncells, rounds, op):
    """Committed-schema (cent_id, cv, cn2) centroids trained over a
    normalized (_id, _v, _n2) frame."""
    return _train_double_cells(c, ncells, rounds, op).select(
        "cent_id", F.col("_cv").alias("cv"), F.col("_cn2").alias("cn2")
    )


# -- IVF-Flat index ---------------------------------------------------------


def ivf_index_build(
    corpus,
    index_path,
    ncells=None,
    rounds=2,
    id_col="vec_id",
    vec_col="emb",
    centroids=None,
):
    """Library operator: train an IVF-Flat index over ``corpus`` and
    COMMIT it under ``index_path`` as ``centroids/`` (the trained
    spherical k-means cells, ~sqrt(n) rows) and ``postings/`` (the
    inverted lists: one row per corpus vector with its argmax cell AND
    the vector itself). Training and assignment ride the exact
    machinery of `ivf_topk` (deterministic seeds, lazily-chained Lloyd
    rounds, broadcast centroids, one collect of the centroid
    frame), so a probe-all read of the committed index provably equals
    `cosine_topk` (pinned in tests/test_similarity_api.py). Pass
    pre-trained ``centroids`` (``(cent_id, cv, cn2)``, as committed by
    any build of this family) to skip training and index the full
    corpus under them; ``ncells`` / ``rounds`` are then ignored.
    `BENCH_INDEX_PROBE_r16.json` records that path as
    `ivf_flat_assign_only`: the sample-trained build collapses to
    ~assignment cost. Returns the number of indexed vectors
    (zero-norm vectors are dropped: cosine is undefined for them).
    Corpus ids are expected unique (the FAISS add-with-ids contract;
    only probe/ingest BATCHES collapse duplicate ids). Commit, pin and
    stamp rules: see the persisted-index section comment."""
    c = _norm_vectors(corpus, id_col, vec_col, "ivf_index_build").persist()
    try:
        if centroids is None:
            centroids = _trained_centroids(
                c, ncells, rounds, "ivf_index_build"
            )
        return _index_build(
            _IVF_FLAT,
            index_path,
            c,
            {"centroids": (centroids.select("cent_id", "cv", "cn2"), False)},
        )
    finally:
        c.unpersist()


def ivf_index_probe(
    queries,
    index_path,
    k=10,
    nprobe=2,
    id_col="vec_id",
    vec_col="emb",
    commit=False,
):
    """Library operator: answer an ANN query batch against the
    COMMITTED IVF-Flat index — no retraining, no corpus rescan: cost
    is O(batch x probed cells). Each query probes its ``nprobe`` best
    cells under the broadcast committed centroids and exact-rescores
    only those cells' posting rows (the postings carry the vectors).
    Returns ``(query_id, neighbor_id, rank, cosine)``: (cosine desc,
    neighbor_id) tie-break, self-matches excluded, zero-norm queries
    dropped (an all-zero-norm batch answers no rows), a batch of the
    wrong dim raises. With ``nprobe`` >= the committed cell count the
    probe is exhaustive and provably equals `cosine_topk` over the
    indexed corpus.

    With ``commit=True`` the batch's vectors are assigned to their
    argmax committed cell and appended as the next postings delta
    after the answer materializes (FAISS IVF ``add`` without retrain);
    the answer is a CALLER-owned eager ``localCheckpoint`` — release it
    with `release_model_pin`. A pure-ingest workload should call
    `ivf_index_ingest` instead (identical delta, no probe work, no
    pinned frame). Latest-wins, tombstone and compaction rules: see
    the persisted-index section comment."""
    return _index_probe(
        _IVF_FLAT, queries, index_path, k, nprobe, id_col, vec_col, commit
    )


def ivf_index_ingest(batch, index_path, id_col="vec_id", vec_col="emb"):
    """Library operator: APPEND a batch to the committed IVF-Flat
    index WITHOUT answering a query against it — each row assigned to
    its argmax committed cell, landing with its raw vector as the next
    postings delta, O(batch) work. For every batch that commits at
    least one row the delta is IDENTICAL to what ``ivf_index_probe(
    batch, ..., commit=True)`` would commit (pinned in
    tests/test_similarity_api.py). A batch that is empty or all
    zero-norm is a no-op returning 0. Returns the number of rows
    committed."""
    return _index_ingest(_IVF_FLAT, batch, index_path, id_col, vec_col)


def ivf_index_delete(spark, index_path, ids, id_col="vec_id"):
    """Library operator: REMOVE vectors from the committed IVF-Flat
    index without a rebuild — one tombstone posting row (cell = -1, no
    vector) per distinct id as the next log delta; a deleted id
    vanishes from every later probe, a later re-ingest resurrects it,
    and `ivf_index_compact` physically drops it. ``ids`` is an
    iterable of id values or a DataFrame whose ``id_col`` holds them.
    Returns the committed delta version."""
    return _index_delete(_IVF_FLAT, spark, index_path, ids, id_col)


def ivf_index_compact(spark, index_path):
    """Library operator: fold the IVF-Flat postings LOG into one
    resolved snapshot (newest commit per vec_id, tombstones dropped)
    that later deltas extend. Returns the committed snapshot version,
    or None for a missing index."""
    return _index_compact(_IVF_FLAT, spark, index_path)


def ivf_index_stats(spark, index_path):
    """Library operator: observability readout for the persisted
    IVF-Flat index — the numbers that schedule compaction and
    retrains. Returns a single-row frame:

    - ``n_live`` / ``n_cells_used``: resolved live vectors and the
      distinct cells they occupy (cell skew -> retrain signal),
    - ``n_log_rows`` / ``n_versions``: raw postings-log volume and
      committed version count (log depth -> compaction signal),
    - ``n_tombstones``: committed delete markers still in the log,
    - ``max_cell_rows``: the hottest cell's live row count (probe
      latency is bounded by the probed cells' sizes),
    - ``model_hash`` / ``n_stale``: the committed centroids' content
      hash and the count of live rows stamped with a DIFFERENT build
      (NULL and ``n_live`` when the centroids are missing).

    Returns None for a missing index."""
    return _index_stats(_IVF_FLAT, spark, index_path)


# ---------------------------------------------------------------------------
# Frame-level PQ (product quantization) — round 12. The registered PQ
# family (`similarity_pq_train` / `similarity_pq_ann` /
# `similarity_ivfpq_ann`, ref: none — north-star extension) is bound to
# the synthetic embeddings table with integer micro-unit quantization
# and an LCG seed order so DuckDB can replay it bit-for-bit; these
# exports generalize the same architecture (subvector split -> seeded
# deterministic Lloyd -> per-subspace codes -> ADC distance tables) to
# ANY (id, vector) frame: float arithmetic, any dim divisible by m,
# ids of any orderable type (seed order is xxhash64 of the id string —
# the engine's pure-function sampling trick — instead of the integer
# LCG the oracle replays).
# ---------------------------------------------------------------------------

_PQ_L2F = (
    "aggregate(zip_with(sub, csub, (x, y) -> (x - y) * (x - y)), "
    "cast(0.0 as double), (acc, x) -> acc + x)"
)


def _pq_frame(corpus, id_col, vec_col, op):
    f = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).where(F.col("_v").isNotNull())
    f, dim = _dim_locked(f)
    if dim is None:
        raise ValueError(f"{op}: empty input frame")
    return f, dim


def _pq_split(frame, m, subdim):
    """(_id, s, sub): each vector split into m contiguous subvectors."""
    return frame.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.expr(
                            f"slice(_v, {s * subdim + 1}, {subdim})"
                        ).alias("sub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("r"),
    ).select("_id", "r.s", "r.sub")


def _pq_cb_packed_f(codebook):
    """Float-family twin of `_pq_cb_packed`: the codebook packed per
    subspace as ``(s, _cb)`` with ``_cb`` a cent_id-sorted
    array<struct<cent_id, csub>> — m broadcast rows, so joining on
    ``s`` attaches a subspace's whole codebook to each subvector row
    without the sub x ncodes row explosion (array_sort on the unique
    cent_id makes the fold deterministic despite collect_list's free
    ordering; cent_id is any orderable id type here, which struct
    comparison handles the same way min_by's tie-break struct did)."""
    return F.broadcast(
        codebook.groupBy("s").agg(
            F.array_sort(
                F.collect_list(F.struct("cent_id", "csub"))
            ).alias("_cb")
        )
    )


# Fold-argmin over the packed float codebook: the same `_PQ_L2F`
# expression per entry (identical double fold order), and array_min's
# struct comparison on ('d', 'cid') IS min_by's (d, cent_id) tie-break.
_BEST_CODE_F = (
    "array_min(transform(_cb, cb -> named_struct("
    "'d', aggregate(zip_with(sub, cb.csub, (x, y) -> (x - y) * (x - y)),"
    " cast(0.0 as double), (acc, x) -> acc + x),"
    "'cid', cb.cent_id)))"
)


def _pq_nearest(sub, codebook):
    """Nearest codebook entry per (_id, s): exact float L2 with cent_id
    tie-break, as a pure per-row fold over the packed broadcast
    codebook (the model is m x ncodes rows — broadcast-sized at any
    corpus size, same argument as the registered `_pq_assign`, whose
    integer fold this mirrors): bit-identical distances and the
    identical (d, cent_id) winner rule as the old min_by aggregate,
    with no sub x ncodes explosion and no corpus-sized argmin
    exchange."""
    return (
        sub.join(_pq_cb_packed_f(codebook), "s")
        .withColumn("_best", F.expr(_BEST_CODE_F))
        .select("_id", "s", F.col("_best.cid").alias("cent_id"), "sub")
    )


def pq_train(
    corpus, m=4, ncodes=16, rounds=1, id_col="vec_id", vec_col="emb"
):
    """Library operator: train a product-quantization codebook over an
    arbitrary ``(id, vector)`` frame — the compression model ADC search
    (`pq_topk`) scans instead of raw vectors (FAISS's PQ stage;
    Jegou et al. 2011). Returns ``(s, cent_id, csub)``: per subspace
    ``s`` (the vector split into ``m`` contiguous ``dim/m``-dim
    pieces), at most ``ncodes`` centroid subvectors, trained by
    ``rounds`` Lloyd iterations from a deterministic seed sample
    (xxhash64 order over the id — growth-stable and replayable, the
    generalized form of the registered LCG seed order). cent_id values
    are the seed row ids, so the codebook is self-describing; a Lloyd
    cell that loses every member drops out (standard k-means dropout).

    Scale shape: every iteration is ONE corpus-sized shuffle (the
    per-(id, s) nearest-entry aggregate) plus a model-sized centroid
    update — the codebook itself stays m x ncodes rows and is
    broadcast everywhere it is consumed; nothing corpus-sized is ever
    collected."""
    m, ncodes, rounds = int(m), int(ncodes), int(rounds)
    if m < 1 or ncodes < 1 or rounds < 0:
        raise ValueError("pq_train: m, ncodes >= 1 and rounds >= 0")
    frame, dim = _pq_frame(corpus, id_col, vec_col, "pq_train")
    if dim % m:
        raise ValueError(
            f"pq_train: vector dim {dim} not divisible by m={m}"
        )
    subdim = dim // m
    seeds = (
        frame.select("_id")
        .distinct()
        .orderBy(
            F.xxhash64(F.col("_id").cast("string")),
            F.col("_id").cast("string"),
        )
        .limit(ncodes)
    )
    cb = _pq_split(frame.join(seeds, "_id"), m, subdim).select(
        F.col("_id").alias("cent_id"), "s", F.col("sub").alias("csub")
    )
    sub = None
    for _ in range(rounds):
        if sub is None:
            sub = _pq_split(frame, m, subdim).persist()
        asg = _pq_nearest(sub, cb)
        cb = (
            asg.select("s", "cent_id", F.posexplode("sub").alias("j", "x"))
            .groupBy("s", "cent_id", "j")
            .agg(F.avg("x").alias("mv"))
            .groupBy("s", "cent_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("j", "mv"))).alias(
                    "_p"
                )
            )
            .select(
                "s",
                "cent_id",
                F.expr("transform(_p, r -> r.mv)").alias("csub"),
            )
        )
    out = cb.select("s", "cent_id", "csub").localCheckpoint(eager=True)
    if sub is not None:
        sub.unpersist()
    return out


def pq_encode(corpus, codebook, id_col="vec_id", vec_col="emb"):
    """Library operator: encode every vector against a trained PQ
    codebook — ``(id, s, code)``, the vector compressed to ``m`` small
    codes (the representation `pq_topk`'s ADC scan reads instead of
    raw floats: 4 codes vs a 256-byte vector is the memory story that
    makes billion-vector search feasible). One corpus-sized shuffle;
    the codebook is broadcast."""
    m = codebook.select(F.max("s")).first()[0]
    if m is None:
        raise ValueError("pq_encode: empty codebook")
    m = int(m) + 1
    frame, dim = _pq_frame(corpus, id_col, vec_col, "pq_encode")
    if dim % m:
        raise ValueError(
            f"pq_encode: vector dim {dim} not divisible by the "
            f"codebook's m={m}"
        )
    return _pq_nearest(_pq_split(frame, m, dim // m), codebook).select(
        F.col("_id").alias(id_col), "s", F.col("cent_id").alias("code")
    )


def pq_topk(
    corpus,
    queries,
    k=10,
    m=4,
    ncodes=16,
    rounds=1,
    id_col="vec_id",
    vec_col="emb",
    codebook=None,
):
    """Library operator: asymmetric-distance (ADC) approximate top-k
    over an arbitrary ``(id, vector)`` frame — the frame-level,
    generalized form of the registered `similarity_pq_ann`. Each query
    builds a distance TABLE to every codebook entry (m x ncodes exact
    float L2 rows — the asymmetric trick: the query stays exact, only
    the corpus is quantized), and every corpus vector's ADC distance
    is the sum of m table lookups on its codes. Returns
    ``(query_id, neighbor_id, rank, adc_dist)`` ranked per query by
    (adc_dist asc, neighbor_id) with self-matches (equal ids)
    excluded. Pass a ``codebook`` from `pq_train` to reuse a model
    (and make repeated batches O(encode + scan)); otherwise one is
    trained on the corpus with the given (m, ncodes, rounds).

    Scale shape: codebook broadcast; codes = one corpus shuffle; the
    ADC scan joins codes to the query distance tables on (s, code) —
    query-batch x ncodes rows, AQE-broadcast while the batch is
    modest — and aggregates per (query, candidate): cost is linear in
    the corpus CODES per query, which is the honest ADC contract
    (IVF-PQ composes `ivf_index_*` cells in front of this scan to cut
    the candidate set; the registered `similarity_ivfpq_ann` shows
    that composition)."""
    if codebook is None:
        codebook = pq_train(
            corpus, m=m, ncodes=ncodes, rounds=rounds,
            id_col=id_col, vec_col=vec_col,
        )
    codes = pq_encode(corpus, codebook, id_col=id_col, vec_col=vec_col)
    cb_row = codebook.select(
        F.max("s").alias("m1"), F.max(F.size("csub")).alias("subdim")
    ).first()
    mq = int(cb_row.m1) + 1
    qframe, dim = _pq_frame(queries, id_col, vec_col, "pq_topk")
    # mirror pq_encode's corpus-side checks for the QUERY frame: a dim
    # not divisible by m would silently truncate in _pq_split, and a
    # wrong subdim would null-pad the zip_with so every adc_dist comes
    # back NULL — garbage neighbors instead of an error
    if dim % mq:
        raise ValueError(
            f"pq_topk: query vector dim {dim} not divisible by the "
            f"codebook's m={mq}"
        )
    if dim // mq != int(cb_row.subdim):
        raise ValueError(
            f"pq_topk: query subvector dim {dim // mq} != codebook "
            f"subvector dim {int(cb_row.subdim)} (query dim {dim}, "
            f"m={mq})"
        )
    qsub = _pq_split(qframe, mq, dim // mq)
    # per-query distance table to every codebook entry: nq x m x
    # ncodes rows — joined to the corpus codes WITHOUT a hint (AQE
    # broadcasts modest batches; a huge batch shuffles on (s, code))
    qd = (
        qsub.join(F.broadcast(codebook), "s")
        .withColumn("d", F.expr(_PQ_L2F))
        .select(F.col("_id").alias("_q"), "s", "cent_id", "d")
    )
    adc = (
        codes.withColumnRenamed("code", "cent_id")
        .join(qd, ["s", "cent_id"])
        .where(F.col(id_col) != F.col("_q"))
        .groupBy("_q", id_col)
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("_q").orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            F.col("_q").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            "rank",
            "adc_dist",
        )
    )


# -- PQ index ---------------------------------------------------------------


def pq_index_build(
    corpus,
    index_path,
    m=4,
    ncodes=16,
    rounds=1,
    id_col="vec_id",
    vec_col="emb",
    codebook=None,
):
    """Library operator: train a PQ codebook over ``corpus`` and COMMIT
    it under ``index_path`` as ``codebook/`` (the `pq_train` model, m x
    ncodes rows) and ``codes/`` (one row per corpus vector with its m
    packed codes). The committed index stores CODES, not vectors — 4
    small ints instead of a 256-byte vector, the memory-bounded form a
    100 TB embedding corpus deploys. Pass a pre-trained ``codebook``
    (a `pq_train` frame) to skip training and encode the corpus
    against it — FAISS trains on a slice, then ``add``s everything;
    ``m`` / ``ncodes`` / ``rounds`` are then ignored. Duplicate corpus
    ids collapse deterministically (greatest (squared-norm, vector)
    pair). Returns the number of indexed vectors. Commit, pin and
    stamp rules: see the persisted-index section comment."""
    c = _pq_dedup_ids(corpus, id_col, vec_col)
    trained_here = codebook is None
    if trained_here:
        codebook = pq_train(
            c, m=m, ncodes=ncodes, rounds=rounds,
            id_col=id_col, vec_col=vec_col,
        )
    return _index_build(
        _PQ,
        index_path,
        c.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        {"codebook": (codebook, trained_here)},
    )


def pq_index_probe(
    queries, index_path, k=10, id_col="vec_id", vec_col="emb", commit=False
):
    """Library operator: answer an ANN query batch against the
    COMMITTED PQ index — no retraining, no raw corpus: each query
    builds an exact float distance TABLE to every codebook entry (the
    asymmetric-distance trick: the query stays exact, only the corpus
    is quantized) and every live code row's ADC distance is the sum of
    m table lookups — O(index) per call. Returns ``(query_id,
    neighbor_id, rank, adc_dist)`` with `pq_topk`'s contract: (adc_dist
    asc, neighbor_id) tie-break, self-matches excluded; an empty batch
    or one whose dim does not fit the committed codebook raises. A
    probe provably equals `pq_topk(corpus, queries, codebook=<committed
    model>)` (pinned in tests/test_pq_index_api.py).

    With ``commit=True`` the batch is encoded against the committed
    codebook and appended as the next codes delta after the answer
    materializes; the answer is a CALLER-owned eager
    ``localCheckpoint`` — release it with `release_model_pin`. A
    pure-ingest workload should call `pq_index_ingest`: the identical
    delta WITHOUT the O(index) ADC scan (the measured x30 lifecycle
    slope, DECOMP_INDEX_LIFECYCLE r17) and no pinned frame."""
    return _index_probe(
        _PQ, queries, index_path, k, None, id_col, vec_col, commit
    )


def pq_index_ingest(batch, index_path, id_col="vec_id", vec_col="emb"):
    """Library operator: APPEND a batch to the committed PQ index
    WITHOUT answering a query against it — the batch is encoded against
    the committed codebook and its packed codes land as the next codes
    delta, O(batch x codebook) work. For every batch that commits at
    least one row the delta is IDENTICAL to what ``pq_index_probe(
    batch, ..., commit=True)`` would commit (pinned in
    tests/test_pq_index_api.py); duplicates of ids ALREADY in the
    index need no probe, they resolve latest-wins at read. An empty
    batch is a no-op returning 0. Returns the number of rows
    committed."""
    return _index_ingest(_PQ, batch, index_path, id_col, vec_col)


def pq_index_delete(spark, index_path, ids, id_col="vec_id"):
    """Library operator: REMOVE vectors from the committed PQ index —
    one NULL-codes tombstone row per distinct id as the next log delta
    (the `ivf_index_delete` contract). ``ids`` is an iterable of id
    values or a DataFrame whose ``id_col`` holds them. Returns the
    committed delta version."""
    return _index_delete(_PQ, spark, index_path, ids, id_col)


def pq_index_compact(spark, index_path):
    """Library operator: fold the PQ codes LOG into one resolved
    snapshot. Returns the committed snapshot version, or None for a
    missing index."""
    return _index_compact(_PQ, spark, index_path)


def pq_index_stats(spark, index_path):
    """Library operator: observability readout for the persisted PQ
    index. Returns a single-row frame:

    - ``n_live``: resolved live vectors,
    - ``m`` / ``n_code_rows``: committed model shape (subspaces and
      codebook rows — dropout makes n_code_rows <= m x ncodes),
    - ``n_log_rows`` / ``n_versions``: raw codes-log volume and
      committed version count (log depth -> compaction signal),
    - ``n_tombstones``: committed delete markers still in the log,
    - ``max_code_rows``: the hottest (s, code) bucket among live codes
      (the ADC join's skew signal — a bucket holding half the corpus
      means the codebook no longer separates it; retrain),
    - ``model_hash`` / ``n_stale``: the committed codebook's content
      hash and the count of live rows stamped with a DIFFERENT build
      (``model_hash`` / ``m`` / ``n_code_rows`` NULL and ``n_stale`` =
      ``n_live`` when the codebook is missing).

    Returns None for a missing index."""
    return _index_stats(_PQ, spark, index_path)


# -- IVF-PQ index -----------------------------------------------------------
# The composed production ANN architecture (the FAISS IVFPQ shape; the
# registered `similarity_ivfpq_ann` proves the frame-level math): the
# coarse quantizer prunes WHICH vectors each query inspects (nprobe
# cells), PQ compresses WHAT is scored there (m codes per candidate).
# At 100 TB the inverted lists hold only ids, cells and codes, so they
# fit where raw vectors cannot.


def ivfpq_index_build(
    corpus,
    index_path,
    ncells=None,
    m=4,
    ncodes=16,
    rounds=2,
    pq_rounds=1,
    id_col="vec_id",
    vec_col="emb",
    centroids=None,
    codebook=None,
):
    """Library operator: train BOTH ANN models over ``corpus`` — the
    IVF coarse quantizer (`_train_double_cells`' deterministic seeds
    and lazily-chained Lloyd rounds) and the PQ codebook (`pq_train`
    on the same surviving vectors, raw-vector encoding exactly as the
    registered `similarity_ivfpq_ann` composes them) — and COMMIT
    ``centroids/`` and ``codebook/`` plus ``postings/``, one
    ``(vec_id, cell, codes)`` row per vector, stamped with the XOR of
    BOTH models' content hashes. Duplicate ids collapse
    deterministically (greatest (squared-norm, vector) pair);
    zero-norm vectors are dropped (no cosine cell). Pass pre-trained
    ``centroids`` (``(cent_id, cv, cn2)``) and/or ``codebook`` (a
    `pq_train` frame) to skip that training stage. Returns the number
    of indexed vectors. Commit, pin and stamp rules: see the
    persisted-index section comment."""
    c = _norm_vectors(
        _pq_dedup_ids(corpus, id_col, vec_col),
        id_col, vec_col, "ivfpq_index_build",
    ).persist()
    try:
        if centroids is None:
            centroids = _trained_centroids(
                c, ncells, rounds, "ivfpq_index_build"
            )
        cb_trained_here = codebook is None
        if cb_trained_here:
            codebook = pq_train(
                c, m=m, ncodes=ncodes, rounds=pq_rounds,
                id_col="_id", vec_col="_v",
            )
        return _index_build(
            _IVF_PQ,
            index_path,
            c,
            {
                "centroids": (
                    centroids.select("cent_id", "cv", "cn2"), False
                ),
                "codebook": (codebook, cb_trained_here),
            },
        )
    finally:
        c.unpersist()


def ivfpq_index_probe(
    queries,
    index_path,
    k=10,
    nprobe=2,
    id_col="vec_id",
    vec_col="emb",
    commit=False,
):
    """Library operator: answer an ANN query batch against the
    COMMITTED IVF-PQ index — O(batch x probed cells), and the probed
    rows are CODES, not vectors: each query keeps its ``nprobe`` best
    cells under the broadcast centroids and ranks only those cells'
    posting rows by ADC distance. Returns ``(query_id, neighbor_id,
    rank, adc_dist)``: (adc_dist asc, neighbor_id) tie-break,
    self-matches excluded, zero-norm queries dropped (they have no
    coarse cell) — a batch with NO nonzero vector raises. With
    ``nprobe`` >= the committed cell count the probe is exhaustive and
    provably equals `pq_topk` with the committed codebook over the
    live corpus (pinned in tests/test_ivfpq_index_api.py).

    With ``commit=True`` the batch is cell-assigned AND encoded against
    the committed models, then appended as the next postings delta
    after the answer materializes; the answer is a CALLER-owned eager
    ``localCheckpoint`` — release it with `release_model_pin`. A
    pure-ingest workload should call `ivfpq_index_ingest` instead
    (identical delta, no probe work, no pinned frame)."""
    return _index_probe(
        _IVF_PQ, queries, index_path, k, nprobe, id_col, vec_col, commit
    )


def ivfpq_index_ingest(batch, index_path, id_col="vec_id", vec_col="emb"):
    """Library operator: APPEND a batch to the committed IVF-PQ index
    WITHOUT answering a query against it — each row cell-assigned
    against the committed centroids and encoded against the committed
    codebook, landing as the next postings delta, O(batch x models)
    work. For every batch that commits at least one row the delta is
    IDENTICAL to what ``ivfpq_index_probe(batch, ..., commit=True)``
    would commit (pinned in tests/test_ivfpq_index_api.py). A batch
    that is empty, or emptied by the zero-norm / ragged filters, is a
    no-op returning 0 (where the probe raises on an all-zero-norm
    batch). Returns the number of rows committed."""
    return _index_ingest(_IVF_PQ, batch, index_path, id_col, vec_col)


def ivfpq_index_delete(spark, index_path, ids, id_col="vec_id"):
    """Library operator: REMOVE vectors from the committed IVF-PQ
    index — one tombstone posting row (cell = -1, NULL codes) per
    distinct id as the next log delta (the `ivf_index_delete`
    contract). ``ids`` is an iterable of id values or a DataFrame whose
    ``id_col`` holds them. Returns the committed delta version."""
    return _index_delete(_IVF_PQ, spark, index_path, ids, id_col)


def ivfpq_index_compact(spark, index_path):
    """Library operator: fold the IVF-PQ postings LOG into one resolved
    snapshot. Returns the committed snapshot version, or None for a
    missing index."""
    return _index_compact(_IVF_PQ, spark, index_path)


def ivfpq_index_stats(spark, index_path):
    """Library operator: observability readout for the persisted
    IVF-PQ index — the union of the IVF-Flat and PQ readouts, since
    both failure modes apply: cell skew says the coarse quantizer no
    longer balances probes, log depth says compact. Single-row frame:
    ``n_live``, ``n_cells_used``, ``max_cell_rows`` (hottest cell's
    live rows — probe latency bound), ``m`` / ``n_code_rows`` (the
    committed PQ model's shape), ``n_log_rows`` / ``n_versions`` /
    ``n_tombstones`` (log depth -> compaction signal), and
    ``model_hash`` / ``n_stale`` (the XOR-combined content hash of BOTH
    committed models and the count of live rows stamped with a
    different build; ``model_hash`` NULL and ``n_stale`` = ``n_live``
    when either model is missing, plus ``m`` / ``n_code_rows`` NULL
    when the codebook is the missing one). Returns None for a missing
    index."""
    return _index_stats(_IVF_PQ, spark, index_path)


def refine_topk(
    shortlist,
    queries,
    resolver,
    k=10,
    metric="l2",
    query_id_col="query_id",
    neighbor_id_col="neighbor_id",
    id_col="vec_id",
    vec_col="emb",
):
    """Library operator: EXACT second-stage rescoring of an ANN
    shortlist — the refine step every production IVFPQ deployment runs
    (FAISS IndexRefineFlat): a cheap first stage (`pq_topk`,
    `pq_index_probe`, `ivfpq_index_probe` with ``k`` = a few times the
    final k) proposes candidates from compressed codes, then the
    shortlist — and ONLY the shortlist — is re-scored with exact float
    distances against the raw vectors in ``resolver`` and re-cut to
    ``k``. This recovers the quantization error on exactly the rows
    that matter while touching raw vectors for batch x shortlist rows,
    never the corpus. Self-pairs (equal ids) never rank — the family
    contract, enforced here too so ad-hoc shortlists behave like
    library-built ones.

    ``shortlist`` needs ``(query_id_col, neighbor_id_col)`` (extra
    columns ignored); ``resolver`` maps ``id_col`` to ``vec_col`` raw
    vectors (the corpus frame itself, or any projection of it);
    ``queries`` supplies the exact query vectors. ``metric`` is
    ``"l2"`` (ascending ``l2_dist``) or ``"cosine"`` (descending
    ``cosine``; zero-norm rows are dropped, the ANN-family contract).
    Returns ``(query_id, neighbor_id, rank, l2_dist|cosine)`` ranked
    per query with the id tie-break. Candidates missing from the
    resolver are dropped (refining against a partial resolver is the
    caller's call — pass the full corpus for the standard contract).

    Scale shape: two equi-joins keyed on ids (shortlist x resolver,
    then x queries — both unhinted, AQE broadcasts modest batches), a
    scan-side exact distance, and a per-query WindowGroupLimit top-k;
    nothing corpus-sized is collected and no unpartitioned window is
    planned."""
    if metric not in ("l2", "cosine"):
        raise ValueError(
            f"refine_topk: metric must be 'l2' or 'cosine', got {metric!r}"
        )
    sl = (
        shortlist.select(
            F.col(query_id_col).alias("_q"),
            F.col(neighbor_id_col).alias("_nb"),
        )
        # the family contract: self-matches never rank (a first stage
        # built on this library already excludes them, but an ad-hoc
        # shortlist may not)
        .where(F.col("_nb") != F.col("_q"))
        .distinct()
    )
    # duplicate ids in either frame would rank one candidate twice /
    # interleave two rows of one query in the same rank window —
    # collapse deterministically (greatest (norm, vector) pair), the
    # family rule
    resolver = _pq_dedup_ids(resolver, id_col, vec_col)
    queries = _pq_dedup_ids(queries, id_col, vec_col)
    if metric == "cosine":
        r = _norm_vectors(resolver, id_col, vec_col, "refine_topk")
        q = _norm_vectors(queries, id_col, vec_col, "refine_topk")
    else:
        # zero-norm vectors ARE meaningful under L2 (only cosine is
        # undefined at zero norm), so the l2 path keeps them; the
        # dedupe above already cast to array<double> and dropped NULLs
        r = resolver.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.lit(0.0).alias("_n2"),
        )
        q = queries.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.lit(0.0).alias("_n2"),
        )
    joined = (
        sl.join(
            r.select(
                F.col("_id").alias("_nb"),
                F.col("_v").alias("_nv"),
                F.col("_n2").alias("_nn2"),
            ),
            "_nb",
        )
        .join(
            q.select(
                F.col("_id").alias("_q"),
                F.col("_v").alias("_qv"),
                F.col("_n2").alias("_qn2"),
            ),
            "_q",
        )
        # a ragged resolver or query row would null-pad zip_with into a
        # NULL distance that ranks FIRST under ASC, silently displacing
        # a true neighbor — drop mismatched-dim pairs like _pq_frame
        # drops deviant-length rows (the family contract: ragged vector
        # columns are a data bug upstream, never a ranked candidate)
        .where(F.size("_qv") == F.size("_nv"))
    )
    if metric == "l2":
        dist = F.expr(
            "aggregate(zip_with(_qv, _nv, (x, y) -> (x - y) * (x - y)),"
            " cast(0.0 AS double), (acc, x) -> acc + x)"
        ).alias("l2_dist")
        # nulls_last is belt-and-braces: the size filter above already
        # excludes the only NULL-distance source
        order = [F.col("l2_dist").asc_nulls_last(), F.col("_nb").asc()]
        out_col = "l2_dist"
    else:
        dot = F.expr(
            "aggregate(zip_with(_qv, _nv, (x, y) -> x * y),"
            " cast(0.0 AS double), (acc, x) -> acc + x)"
        )
        dist = (dot / F.sqrt(F.col("_qn2") * F.col("_nn2"))).alias("cosine")
        order = [F.col("cosine").desc(), F.col("_nb").asc()]
        out_col = "cosine"
    w = Window.partitionBy("_q").orderBy(*order)
    return (
        joined.select("_q", "_nb", dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            F.col("_q").alias("query_id"),
            F.col("_nb").alias("neighbor_id"),
            "rank",
            out_col,
        )
    )
