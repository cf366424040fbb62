"""Deduplication operators over ``documents`` (north-star).

Each family is a driver-contract query with a DuckDB oracle:

* exact       — hash-groupBy on md5(text), keep the minimum doc_id;
* MinHash+LSH — strided char-8-gram shingles -> 12 md5-seeded minhashes
                -> 4 bands of 3 -> band-bucket self-join for candidates;
* SimHash     — 32-bit weighted-token fingerprint, plus a 64-bit
                bit-sampling-LSH pair query with pigeonhole-exact
                recall at hamming <= 7;
* n-gram Jaccard — exact set similarity on LSH candidates (verify step);
* embedding   — cosine near-dup through trained IVF cells over distinct
                vectors;
* clustering  — connected components over the LSH candidate pairs.

The table has no natural duplicates (seed-42 texts are unique), so each
query plants deterministic (near-)duplicates inline: exact copies at
``doc_id % 17 = 0`` (+1e7) and tail-perturbed near-copies at
``doc_id % 13 = 0`` (+2e7). Measured on the synthetic corpus:
random-pair shingle Jaccard tops out ~0.09 while near-dup pairs are
>0.5, and the 4x3 LSH recalls every planted pair at every sf while
keeping false candidates ~J^3 per band (4x2 banding admitted ~n^2
random collisions at the x10-amplified scale: 1.32M candidates for 54k
docs, 24x fewer at 4x3).

100 TB notes: shingle sets and MinHash signatures are in-row maps over
the distinct texts (one exchange, on the text hash); banding and
verify are hash-partitioned aggregates/joins on band signatures and
candidate pairs; the only quadratic step —
pair verification — is restricted to LSH candidates, which is the point
of banding. md5 is used as the portable seeded hash family so the DuckDB
oracle reproduces signatures bit-for-bit; a production deployment can
swap ``xxhash64(sh, seed)`` for ~10x hash throughput without changing
shape.
"""

import contextlib

import pyspark.sql.functions as F
from pyspark.sql import Window

from spark_data_test_spark.operators.relational import query, t
from spark_data_test_spark.operators.similarity import (
    _ORACLE_BASE as _SIM_ORACLE_BASE,
    _final_assign_ctes,
    _kmeans_ctes,
)
from spark_data_test_spark.utils.spark_utils import (
    FrameCache,
    bucket_pairs,
    checkpointed,
    expand_group_pairs as _expand_group_pairs,
    local_df,
    release_frame,
)

_N_HASHES = 12
_BANDS = 4  # rows-per-band = 3

# Size gate for the LSH banding expansions (`spark_utils.bucket_pairs`):
# a band bucket above this many members streams through the bucket
# self-join instead of one corpus-proportional aggregation buffer.
# 4096 members is a few-hundred-KB array, far under any executor
# limit, while buckets that large (8M pairs each) are already
# pathological for LSH. The stop-capped sites (containment rare
# shingles <= _STOP_SH_DF, n-gram postings <= _NGRAM_STOP_DF) are
# bounded by construction and pass ``cap=None``.
_BUCKET_CAP = 4096

# --- shared SQL fragments -------------------------------------------------

# Planted-copy id offsets for the BATCH dedup corpora. 1e7/2e7 (not
# the historical 1e5/2e5): bench.py's amplified staging shifts doc_id
# by 1e4 per copy, so a x11+ staging's natural ids would collide with
# a 1e5 exact offset — planted ids must clear every natural range the
# engine is ever benched on (natural ids stay under the incremental
# family's 3e5 guard floor; 1e7 clears a x1000 staging).
_EXACT_PLANT_OFFSET = 10_000_000
_NEAR_PLANT_OFFSET = 20_000_000

_EXACT_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_EXACT_PLANT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 17 = 0)
"""

_NEAR_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_NEAR_PLANT_OFFSET} AS doc_id,
         text || ' extra tail token' AS text
  FROM documents WHERE doc_id % 13 = 0)
"""

_SHINGLES_SQL = """
sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 8) AS sh
  FROM corpus, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)
  WHERE length(text) >= 8)
"""

_MINHASH_SQL = "mh AS (SELECT doc_id, " + ", ".join(
    f"min(md5(sh || '#{k}')) AS h{k}" for k in range(_N_HASHES)
) + " FROM sh GROUP BY doc_id)"

_BANDS_SQL = "bands AS (" + " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, h{3*b} || h{3*b+1} || h{3*b+2} AS sig FROM mh"
    for b in range(_BANDS)
) + ")"

_PAIRS_SQL = """
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
"""


def _exact_corpus(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.where(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + _EXACT_PLANT_OFFSET).alias("doc_id"), "text"
    )
    return d.unionByName(planted)


def _near_corpus(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + _NEAR_PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail token")).alias("text"),
    )
    return d.unionByName(planted)


# The ONE definition of the engine's shingling: strided char-8-grams.
# Every MinHash site consumes it as a per-text SET column
# (`_shingle_sets`: array_distinct of this expression, one map-side
# projection); sites that need (id, sh) rows explode that set.
SHINGLES_EXPR = (
    "transform(sequence(1, length(text) - 7, 4),"
    " i -> substring(text, i, 8))"
)


def _shingle_sets(docs, id_col="doc_id"):
    """``(id_col, sa)``: the distinct strided char-8-gram shingle SET of
    each text at least 8 characters long, in-row (no shuffle)."""
    return docs.where(F.length("text") >= 8).select(
        id_col, F.expr(f"array_distinct({SHINGLES_EXPR})").alias("sa")
    )


def _shingle_rows(sets, id_col="doc_id"):
    """``(id_col, sh)`` rows of a `_shingle_sets` frame: one row per set
    element, distinct per id by construction."""
    return sets.select(id_col, F.explode("sa").alias("sh"))


def _signatures(sets, id_col="doc_id"):
    """MinHash signature stage: ``(id_col, h0..h11)``, each ``h{k}`` the
    minimum of ``md5(sh || '#k')`` over the row's shingle set, computed
    in-row from the set column — the same values the DuckDB oracles'
    ``min(md5(sh || '#k')) ... GROUP BY`` produce. Hashing every set
    element is more md5 work than hashing a corpus dictionary of
    distinct shingles once, but it needs no shingle-row shuffle, no
    broadcast vocabulary and no signature groupBy; the dictionary
    chain it replaced cost perfbench `curate`'s `near_dup_pairs`
    about 19 s of CPU against about 11 s (DESIGN.md §3)."""
    return sets.select(
        id_col,
        *[
            F.array_min(
                F.expr(f"transform(sa, s -> md5(concat(s, '#{k}')))")
            ).alias(f"h{k}")
            for k in range(_N_HASHES)
        ],
    )


def _set_jaccard():
    """``(i, jac)``: the intersection size of the ``sa`` and ``sb``
    shingle-set columns and their Jaccard in micro-units — the double
    the DuckDB oracles' ``1000000.0 * i / (na + nb - i)`` computes."""
    i = F.size(F.array_intersect("sa", "sb")).cast("long")
    n = F.size("sa").cast("long") + F.size("sb").cast("long")
    return i, F.lit(1000000.0) * i / (n - i)


def _attach_sets(pairs, a, sets_a, b, sets_b):
    """Join the ``(id, set)`` frames ``sets_a`` onto the ``a`` column
    of ``pairs`` as ``sa`` and ``sets_b`` onto the ``b`` column as
    ``sb`` — the candidate-sized attach every verify intersects
    in-task."""
    return pairs.join(sets_a.toDF(a, "sa"), a).join(sets_b.toDF(b, "sb"), b)


def _members(docs):
    """``(doc_id, gid)`` text-group membership, ``gid = md5(text)``."""
    return docs.select("doc_id", F.md5("text").alias("gid"))


def _reps(docs):
    """``(gid, text)``: one row per DISTINCT text."""
    return docs.select(F.md5("text").alias("gid"), "text").dropDuplicates(["gid"])


@contextlib.contextmanager
def _scoped(*frames):
    """Release persisted or checkpointed ``frames`` when the ``with``
    block exits; ``persist()`` returns its frame, so
    ``with _scoped(df.persist()) as (df,):`` persists for the block."""
    try:
        yield frames
    finally:
        for frame in frames:
            release_frame(frame)


# --- dedup stages -----------------------------------------------------------
#
# Each twinned operator (registered ``(spark, sf_dir)`` query and
# root-exported ``docs -> frame`` function) is one chain of the stages
# below. Stages build frames and leave lifetimes to the caller: the
# registered query holds their results in the FrameCache memos, the
# library export persists, checkpoints and releases its own. The
# context-manager stages own scaffolding that must outlive only the
# caller's materialization, and release it when the block exits.


def _text_groups(docs, keep_short=False):
    """Text-groups stage: ``(members, sets)`` — the ``(doc_id, gid)``
    members and the ``(gid, sa)`` shingle set of each distinct text of
    a ``(doc_id, text)`` frame, one row per distinct text of length
    >= 8. Texts are deduped BEFORE shingling, so shingling and
    fingerprinting cost track the distinct-text count, not the doc
    count. The dedup is ONE exchange, a fixed-width repartition on
    gid: AQE coalesces a plain distinct's small text shuffle into a
    single task, which then ran every text's md5 work alone (sf0.1
    `near_dup_pairs` wall 7.9-9.1 s -> 13.9-17.1 s); a repartition by
    number is never coalesced, and the dropDuplicates on the same key
    plans no second exchange. Members cover the docs that can shingle
    at all (length >= 8) — the only docs the registered pipeline could
    ever pair; the library exports pass ``keep_short=True`` so
    identical short texts still pair through the group expansion."""
    long_docs = docs.where(F.length("text") >= 8)
    members = _members(docs if keep_short else long_docs)
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    reps = (
        long_docs.select(F.md5("text").alias("gid"), "text")
        .repartition(n, "gid")
        .dropDuplicates(["gid"])
    )
    return members, _shingle_sets(reps, "gid")


@contextlib.contextmanager
def _minhash_gid_pairs(sets):
    """MinHash group-pair candidates stage: distinct ``(gid_a, gid_b)``
    (``gid_a < gid_b``) band collisions of the ``(gid, sa)`` sets. The
    band index is eagerly checkpointed because the gated expansion
    reads it three times — each read would otherwise re-run the whole
    signature subtree — and released when the block exits, so the
    caller materializes what it keeps inside the block."""
    bands = checkpointed(
        _band_index(_signatures(sets.withColumnRenamed("gid", "doc_id")))
    )
    with _scoped(bands):
        yield _band_pairs(bands).select(
            F.col("doc_a").alias("gid_a"), F.col("doc_b").alias("gid_b")
        )


# EXACT-DEDUP-BEFORE-NEAR-DUP: every text-derived structure (shingle sets,
# minhash signatures, band buckets, jaccard intersections) depends only
# on the TEXT, so the whole LSH pipeline runs once per DISTINCT text
# ("group", keyed by md5(text)) and candidate group pairs are expanded
# back to doc pairs at the end. On a dup-heavy corpus this is the 100 TB
# shape: k exact copies of a text shrink banding's bucket self-join by
# k^2 and jaccard verification by k^2, while the (provably identical)
# output pair set is reconstructed by a cheap members join. The caches
# below are memoized per (application, sf_dir) and bounded (shared
# FrameCache: LRU refresh on hit, unpersist on eviction/clear).
_MEMBERS_CACHE = FrameCache(max_entries=2)
_SETS_CACHE = FrameCache(max_entries=2)
_GID_PAIRS_CACHE = FrameCache(max_entries=2)
_PAIRS_CACHE = FrameCache(max_entries=2)
# (vec_id, cell, e, n2) assignment payload for embedding dedup: the cell
# self-join consumes it TWICE (build and probe side), and without a
# persist each side re-evaluates the whole train/score/window lineage —
# measured 7-9 s vs 4.1-4.6 s at sf0.1.
_EMB_PAYLOAD_CACHE = FrameCache(max_entries=2)
# (vec_id, e, n2, gid) exact-dup vector groups: consumed by the rep
# filter, both expansion joins, and the intra-group pair join.
_EMB_GROUPS_CACHE = FrameCache(max_entries=2)
# (vec_a, vec_b, cos_1e6) the FINAL verified embedding near-dup pair
# frame: `dedup_embedding_cosine` returns it and
# `dedup_semantic_prune_curve` sweeps its threshold grid over it —
# before this memo the curve re-executed the whole cell self-join per
# consumer (the cross-consumer recompute wart PLANS_r08.md:62-70
# logged; the payload/group memos above were shared, the pair frame
# was not).
_EMB_PAIRS_CACHE = FrameCache(max_entries=2)
# (gid, simhash) per-distinct-text fingerprints and (gid, doc_id)
# membership for the simhash pair query: the banding, both verify
# joins, and both expansion joins reference them — without a persist
# each reference re-tokenizes and re-votes the whole corpus (measured
# 24 shuffles in the uncached plan vs 5 cached).
_SIM_FP_CACHE = FrameCache(max_entries=2)
_SIM_MEMB_CACHE = FrameCache(max_entries=2)
# (doc_id, g) distinct word-8-gram inverted-index input: consumed by
# the df-stats aggregate, the per-doc rollup, and both sides of the
# partner expansion — four subtree reads of one explode.
_NGRAM_CACHE = FrameCache(max_entries=2)


def _key(spark, sf_dir):
    return (spark.sparkContext.applicationId, sf_dir)


def _cached_members(spark, sf_dir):
    """Memoized `_text_groups` members of the near-dup corpus."""
    return _MEMBERS_CACHE.get_or_create(
        _key(spark, sf_dir),
        lambda: _text_groups(_near_corpus(spark, sf_dir))[0].persist(),
    )


def _cached_sets(spark, sf_dir):
    """Memoized `_text_groups` shingle sets of the near-dup corpus."""
    return _SETS_CACHE.get_or_create(
        _key(spark, sf_dir),
        lambda: _text_groups(_near_corpus(spark, sf_dir))[1].persist(),
    )


def _cached_gid_pairs(spark, sf_dir):
    """Memoized `_minhash_gid_pairs` over the cached sets, checkpointed
    (a leaf scan: the lineage would re-analyze on the driver for every
    downstream consumer)."""

    def build():
        with _minhash_gid_pairs(_cached_sets(spark, sf_dir)) as gpairs:
            return checkpointed(gpairs)

    return _GID_PAIRS_CACHE.get_or_create(_key(spark, sf_dir), build)


def _cached_band_pairs(spark, sf_dir):
    return _PAIRS_CACHE.get_or_create(
        _key(spark, sf_dir),
        lambda: _expand_group_pairs(
            _cached_members(spark, sf_dir), _cached_gid_pairs(spark, sf_dir)
        ).persist(),
    )


def _band_pairs(bands):
    """(band, sig) buckets of a `_band_index` frame -> distinct
    candidate pairs (``doc_a < doc_b``) through the gated
    `bucket_pairs` at `_BUCKET_CAP`. The bands frame must be cheap to
    rescan (the gate reads it three times): production eagerly
    checkpoints the band index first."""
    return bucket_pairs(
        bands,
        ("band", "sig"),
        "doc_id",
        _BUCKET_CAP,
        out_a="doc_a",
        out_b="doc_b",
    ).distinct()


# --- queries --------------------------------------------------------------


@query(
    "dedup_exact",
    f"""
    WITH {_EXACT_CORPUS_SQL.strip()},
    ranked AS (
      SELECT doc_id, md5(text) AS text_hash,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
      FROM corpus)
    SELECT doc_id, text_hash, n_copies FROM ranked WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: one hash-shuffle on the content hash, survivor =
    min doc_id, with the copy count retained for lineage.

    Round-18 shape (guide §2.2 — shuffle fewer bytes): the survivor
    rule (rn = 1 ordered by doc_id) IS min(doc_id) and the lineage
    count IS count(*), so the window (which shuffles every corpus row
    and sorts each hash group) folds into ONE map-side-combinable
    aggregate — the exchange now carries one partial (min, count) row
    per distinct hash per map task instead of the whole corpus, and
    the per-group sort disappears. Same rows, bit-identical."""
    corpus = _exact_corpus(spark, sf_dir).withColumn("text_hash", F.md5("text"))
    return corpus.groupBy("text_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("doc_id", "text_hash", "n_copies")


@query(
    "dedup_minhash_lsh",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    {_SHINGLES_SQL.strip()},
    {_MINHASH_SQL},
    {_BANDS_SQL},
    {_PAIRS_SQL.strip()}
    SELECT doc_a, doc_b FROM pairs
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: exact-dedup texts into groups ->
    shingle each distinct text -> 12 seeded minhashes -> 4 bands of 3 ->
    band-bucket self-join over GROUPS -> expand group pairs to doc
    pairs (cross pairs via a members join, intra-group pairs directly —
    identical texts share every band by construction). The join key is
    (band, sig), so candidate generation is a hash join, never
    all-pairs, and on a corpus with k exact copies per text the bucket
    self-join shrinks by k^2 versus per-doc banding. The shingle-set,
    membership, and pair tables are persisted (session-memoized, see
    _cached_sets/_cached_members/_cached_band_pairs): they feed the
    Jaccard verify step, and recomputing them means re-shingling and
    re-hashing the corpus."""
    return _cached_band_pairs(spark, sf_dir)


_SIM_BITS = 32

_SIM_SUMS_SQL = ", ".join(
    f"SUM(CASE WHEN substr(h, {p + 1}, 1) BETWEEN '8' AND '9'"
    f" OR substr(h, {p + 1}, 1) BETWEEN 'a' AND 'f' THEN 1 ELSE -1 END) AS s{p}"
    for p in range(_SIM_BITS)
)
_SIM_CONCAT_SQL = " || ".join(
    f"CASE WHEN s{p} >= 0 THEN '1' ELSE '0' END" for p in range(_SIM_BITS)
)


@query(
    "dedup_simhash",
    f"""
    WITH tokens AS (
      SELECT doc_id, md5(tok) AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> ''),
    sums AS (SELECT doc_id, {_SIM_SUMS_SQL} FROM tokens GROUP BY doc_id)
    SELECT doc_id, {_SIM_CONCAT_SQL} AS simhash FROM sums
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash: each token votes ±1 per bit position (top bit of each
    md5 nibble); fingerprint = sign vector as a 32-char bitstring.
    Near-identical docs land within small Hamming distance.

    The md5 + 32 nibble tests run once per *distinct* token (the
    vocabulary dictionary), not once per occurrence; occurrences join
    the broadcast dictionary and the per-doc vote is 32 integer sums
    over precomputed ±1 columns — pure map-side partial
    aggregation."""
    d = t(spark, sf_dir, "documents")
    # fingerprint depends only on the text: tokenize each DISTINCT text
    # once (gid = md5(text)) and join fingerprints back to docs — on a
    # corpus with k exact copies per text the explode+vote shrinks k-fold
    tokens = _reps(d).select(
        "gid", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    nib = lambda p: F.substring(F.md5("tok"), p + 1, 1)
    vocabulary = tokens.select("tok").distinct().select(
        "tok",
        *[
            F.when(
                nib(p).between("8", "9") | nib(p).between("a", "f"), 1
            )
            .otherwise(-1)
            .alias(f"b{p}")
            for p in range(_SIM_BITS)
        ],
    )
    # explicit hint — post-explode row counts are invisible to the
    # size estimator, which otherwise broadcasts the occurrence side
    sums = (
        tokens.join(F.broadcast(vocabulary), "tok")
        .groupBy("gid")
        .agg(*[F.sum(f"b{p}").alias(f"s{p}") for p in range(_SIM_BITS)])
    )
    fp = sums.select(
        "gid",
        F.concat(
            *[
                F.when(F.col(f"s{p}") >= 0, "1").otherwise("0")
                for p in range(_SIM_BITS)
            ]
        ).alias("simhash"),
    )
    # inner join: docs whose text yields zero tokens have no fingerprint
    # row, exactly as in the per-doc formulation
    return _members(d).join(fp, "gid").select("doc_id", "simhash")


_SP_BITS = 64  # pair query uses the 64-bit fingerprint of Manku et al.
_SP_BANDS = 8  # 8 bands of 8 bits
_SP_HAM_K = 7  # emit pairs at hamming <= K; 8 bands make recall at
#                K=7 EXACT by pigeonhole (7 diffs can dirty at most 7
#                of 8 bands). Measured at sf0.01 with centered votes:
#                90% of planted near-dups within K, ~25x less
#                boilerplate noise than the 32-bit uncentered radius.
# two md5 lanes give 64 per-token vote bits
_SP_SUMS_SQL = ", ".join(
    (
        f"SUM(CASE WHEN substr(h1, {p + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s{p}"
        if p < 32
        else f"SUM(CASE WHEN substr(h2, {p - 31}, 1) >= '8' THEN 1 ELSE -1 END) AS s{p}"
    )
    for p in range(_SP_BITS)
)
_SP_TOTALS_SQL = "COUNT(*) AS d, " + ", ".join(
    f"SUM(s{p}) AS t{p}" for p in range(_SP_BITS)
)
# corpus-mean-centered sign: bit p = 1 iff s_p >= mean(s_p) over the
# distinct texts, as the exact integer comparison s_p * d >= t_p.
# The fingerprint is packed into two BIGINT halves so hamming distance
# is two xor+bit_count ops (identical semantics in Spark and DuckDB).
_SP_LO_SQL = "CAST(" + " + ".join(
    f"(CASE WHEN s{p} * d >= t{p} THEN {1 << p} ELSE 0 END)" for p in range(32)
) + " AS BIGINT)"
_SP_HI_SQL = "CAST(" + " + ".join(
    f"(CASE WHEN s{p} * d >= t{p} THEN {1 << (p - 32)} ELSE 0 END)"
    for p in range(32, _SP_BITS)
) + " AS BIGINT)"


def _sp_vote_sums(corpus):
    """Per-DISTINCT-TEXT 64-bit vote sums ``(gid, s0..s63)`` — the
    fingerprint front half shared by the batch pair query and the
    incremental shard probe. Every wide (64-column) projection is
    built as ONE selectExpr/expr string call, not 64 chained Column
    objects: each Column operation is a py4j round trip, and the
    when/between/alias trees for 64 bits cost ~2.5 s of pure driver
    time per cold build at sf0.1 (measured) — the string form hands
    the whole projection to the JVM parser in a handful of calls and
    compiles to the identical plan. The bit test
    ``substr(md5(tok), p, 1) >= '8'`` is the top bit of a hex nibble,
    exactly the oracle's formulation; vote bits are pure md5 functions
    of the token, so shard-only sums are bit-identical to what a full
    rebuild would produce."""
    tokens = _reps(corpus).select(
        "gid", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    # two md5 lanes -> 64 vote bits per distinct token
    vocabulary = tokens.select("tok").distinct().selectExpr(
        "tok",
        *[
            f"CASE WHEN substr(md5(tok), {p + 1}, 1) >= '8'"
            f" THEN 1 ELSE -1 END AS b{p}"
            if p < 32
            else f"CASE WHEN substr(md5(concat(tok, '#')), {p - 31}, 1)"
            f" >= '8' THEN 1 ELSE -1 END AS b{p}"
            for p in range(_SP_BITS)
        ],
    )
    return tokens.join(F.broadcast(vocabulary), "tok").groupBy("gid").agg(
        F.expr("sum(b0) AS s0"),
        *[F.expr(f"sum(b{p}) AS s{p}") for p in range(1, _SP_BITS)],
    )


@contextlib.contextmanager
def _sp_fingerprints(docs):
    """Centred SimHash fingerprint stage: ``(fp, totals)`` with ``fp``
    the packed per-distinct-text ``(gid, lo, hi)`` fingerprints of a
    ``(doc_id, text)`` frame and ``totals`` the one-row centring vector
    ``(d, t0..t63)``. Bits are corpus-mean-centred signs (exact
    integers: ``s_p * d >= t_p``): the tiny shared vocabulary makes raw
    vote sums heavily biased, collapsing 60% of fingerprints into one
    band bucket; centring rebalances every bit (at sf0.1 the band
    candidate volume drops 12.5M -> 1.8M while planted recall RISES).
    The vote sums are eagerly checkpointed BEFORE centring — the totals
    aggregate and the packing projection both consume them, and without
    the truncation the plan runs the explode+join+64-agg subtree twice
    — and released when the block exits, so the caller materializes
    (checkpoints, writes) what it keeps inside the block. The packing
    projection reuses the oracle's `_SP_LO_SQL`/`_SP_HI_SQL` strings,
    valid Spark SQL too, so both engines parse the same text."""
    sums = checkpointed(_sp_vote_sums(docs))
    with _scoped(sums):
        totals = sums.agg(
            F.expr("count(*) AS d"),
            *[F.expr(f"sum(s{p}) AS t{p}") for p in range(_SP_BITS)],
        )
        yield sums.crossJoin(F.broadcast(totals)).selectExpr(
            "gid", f"{_SP_LO_SQL} AS lo", f"{_SP_HI_SQL} AS hi"
        ), totals


def _sp_banded(fp):
    """(gid, lo, hi, band, sig) band rows from a packed-fingerprint
    frame: band b of the fingerprint is one byte of lo (b < 4) or hi
    (b >= 4), extracted with shift+mask. The packed fingerprint (two
    longs, 16 bytes) RIDES ALONG on each band row so candidate
    verification happens INSIDE the banding expansion — fetching lo/hi
    through joins after banding added two sort-merge joins (four
    shuffles) carrying the full raw candidate volume."""
    return fp.select(
        "gid",
        "lo",
        "hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"shiftright(lo, {8 * b}) & 255"
                            if b < 4
                            else f"shiftright(hi, {8 * (b - 4)}) & 255"
                        ).alias("sig"),
                    )
                    for b in range(_SP_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("gid", "lo", "hi", "bs.band", "bs.sig")


def _sp_gid_pairs(bands, max_hamming=_SP_HAM_K, cap=_BUCKET_CAP):
    """Verified simhash group pairs ``(gid_a, gid_b, hamming)`` with
    ``gid_a < gid_b`` and ``hamming <= max_hamming`` from `_sp_banded`
    rows. Each band bucket's packed fingerprints expand through the
    gated `bucket_pairs`; the exact hamming filter is pushed into both
    of its branches (right after the in-task expansion, and into the
    fallback join's condition), so the only shuffle proportional to
    candidate volume is the groupBy(min) that dedups a pair's several
    band collisions, and it sees just the survivors. Every caller
    derives the bands from an eagerly checkpointed fingerprint frame,
    so the gate's three reads are explodes over a leaf scan."""
    members = bands.select("band", "sig", F.struct("gid", "lo", "hi").alias("m"))
    return (
        bucket_pairs(members, ("band", "sig"), "m", cap)
        .select(
            F.col("m_a.gid").alias("gid_a"),
            F.col("m_b.gid").alias("gid_b"),
            F.expr(
                "CAST(bit_count(m_a.lo ^ m_b.lo)"
                " + bit_count(m_a.hi ^ m_b.hi) AS BIGINT)"
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(int(max_hamming)))
        .groupBy("gid_a", "gid_b")
        .agg(F.min("hamming").alias("hamming"))
    )


@query(
    "dedup_simhash_pairs",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    reps AS (
      SELECT md5(text) AS gid, MIN(text) AS text FROM corpus GROUP BY md5(text)),
    tokens AS (
      SELECT gid, md5(tok) AS h1, md5(tok || '#') AS h2
      FROM (SELECT gid, unnest(string_split(text, ' ')) AS tok FROM reps)
      WHERE tok <> ''),
    sums AS (SELECT gid, {_SP_SUMS_SQL} FROM tokens GROUP BY gid),
    totals AS (SELECT {_SP_TOTALS_SQL} FROM sums),
    fpg AS (SELECT gid, {_SP_LO_SQL} AS lo, {_SP_HI_SQL} AS hi
            FROM sums, totals),
    fp AS (
      SELECT c.doc_id, f.lo, f.hi
      FROM corpus c JOIN fpg f ON f.gid = md5(c.text))
    SELECT doc_a, doc_b, hamming FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
                  AS BIGINT) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
    WHERE hamming <= {_SP_HAM_K}
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS with exact recall: emit exactly the doc
    pairs whose 64-bit fingerprints differ in <= 7 positions (the
    f=64 web-dedup setup of Manku, Jain & Das Sarma, WWW'07).

    Bit-sampling LSH: the fingerprint splits into 8 bands of 8 bits and
    candidates are (distinct-text) pairs sharing at least one band — by
    pigeonhole a pair within hamming 7 cannot dirty all 8 bands, so
    banding loses NOTHING at K=7 and the banded plan provably equals
    the all-pairs formulation (the DuckDB oracle IS the independent
    all-pairs brute force — the hash-match is the proof, per sf).
    Verification re-scores candidates with the exact positionwise
    hamming distance, so false band collisions never leak. Group-level
    like the rest of the family: fingerprints, banding, and hamming run
    once per DISTINCT text; group pairs expand to doc pairs (identical
    texts pair at hamming 0). Two measured design choices: (a) 64 bits
    beat 32 — CLT narrows the random-pair distance distribution as
    bits grow, so the same relative radius admits ~5x less boilerplate
    noise at better recall; (b) votes are corpus-MEAN-CENTERED before
    the sign (exact integer comparison s_p * d >= t_p) — biased bits
    collapse band buckets (one bucket held 60% of all fingerprints on
    this small-vocabulary corpus), and centering rebalances them,
    cutting band candidates 12.5M -> 1.8M at sf0.1 with planted recall
    up to 90%. The fingerprint is packed into two BIGINT halves:
    hamming is two xor+bit_count ops and band signatures are byte
    extractions — identical arithmetic in Spark and DuckDB, ~6x faster
    than per-position string comparison on both engines. At 100 TB:
    banding is one exchange of the band rows plus the gated in-task
    expansion (`_sp_gid_pairs`; the byte-band key space is only
    8 x 256, so bucket size grows with the corpus by construction and
    the `_BUCKET_CAP` gate matters here); a pair's candidates dedup
    AFTER the <= K filter, so no shuffle carries the raw collision
    volume."""
    corpus = _near_corpus(spark, sf_dir)
    key = _key(spark, sf_dir)

    def build_fp():
        # a checkpoint, not a persist: every downstream consumer
        # (banding, membership) re-ANALYZES the fingerprint lineage on
        # the driver; a leaf scan collapses that to milliseconds
        with _sp_fingerprints(corpus) as (fp, _):
            return checkpointed(fp)

    fp = _SIM_FP_CACHE.get_or_create(key, build_fp)
    # membership restricted to groups that HAVE a fingerprint (zero-token
    # texts drop out, as in the per-doc oracle)
    memb = _SIM_MEMB_CACHE.get_or_create(
        key, lambda: _members(corpus).join(fp.select("gid"), "gid").persist()
    )
    return _expand_group_pairs(memb, _sp_gid_pairs(_sp_banded(fp)), hamming=0)


def _jaccard_verify(sets, gpairs, tau_1e6):
    """Exact shingle-set Jaccard on candidate group pairs: ``(gid_a,
    gid_b, jaccard_1e6)`` for the pairs of ``gpairs`` whose Jaccard
    over the ``(gid, sa)`` sets is at least ``tau_1e6`` micro-units.
    Both sets attach to each candidate pair and intersect in-task, so
    the verify is two candidate-sized joins — no shingle-row self-join
    and no size aggregates. ``i > 0`` keeps the oracle's inner shingle
    join, which never emits a pair with no shared shingle. Join
    strategies are left to AQE: on a dup-heavy corpus the candidate
    set is bounded only by duplicate density, and a forced broadcast
    would OOM the driver exactly when dedup matters most. The double
    compare is the one the DuckDB oracles replay."""
    i, jac = _set_jaccard()
    return (
        _attach_sets(gpairs, "gid_a", sets, "gid_b", sets)
        .where((i > 0) & (jac >= F.lit(int(tau_1e6))))
        .select("gid_a", "gid_b", F.round(jac).cast("long").alias("jaccard_1e6"))
    )


@query(
    "dedup_near_jaccard",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    {_SHINGLES_SQL.strip()},
    {_MINHASH_SQL},
    {_BANDS_SQL},
    {_PAIRS_SQL.strip()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS i
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
      GROUP BY p.doc_a, p.doc_b)
    SELECT doc_a, doc_b,
           CAST(ROUND(1000000.0 * i / (sa.n + sb.n - i)) AS BIGINT) AS jaccard_1e6
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 1000000.0 * i / (sa.n + sb.n - i) >= 500000
    """,
)
def dedup_near_jaccard(spark, sf_dir):
    """LSH verify step: exact shingle-set Jaccard on the candidate
    pairs, keeping true near-dups (>= 0.5). Quadratic work is bounded
    by the candidate GROUP set, not the corpus: Jaccard depends only on
    the two texts, so each intersection is computed once per distinct
    candidate text pair and expanded to doc pairs afterwards (identical
    texts in the same group get Jaccard exactly 1e6 — i = n, so
    1e6 * n / (n + n - n) — without computing anything). On a corpus
    with k exact copies per text this cuts the verify join by k^2
    (`_jaccard_verify` runs on the candidate slice)."""
    gpairs = _jaccard_verify(
        _cached_sets(spark, sf_dir), _cached_gid_pairs(spark, sf_dir), 500000
    )
    return _expand_group_pairs(
        _cached_members(spark, sf_dir), gpairs, jaccard_1e6=1_000_000
    )


_EMB_NPROBE = 3  # trained cells each vector lands in (multi-probe)

# Dialect-shared CTE chain ending in `apairs` (vec_a, vec_b, cos_1e6):
# the IVF-cell embedding near-dup pairs. Shared by the pair query's
# oracle and the SemDeDup prune-curve oracle.
_EMB_PAIRS_CTE_SQL = f"""{_SIM_ORACLE_BASE.strip()},
    {_kmeans_ctes()},
    {_final_assign_ctes()},
    vgroups AS (
      SELECT vec_id, MIN(vec_id) OVER (PARTITION BY e) AS gid FROM ei),
    fassign AS (
      SELECT vec_id AS gid, cent_id AS cell
      FROM (SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id) AS rn
            FROM fscore)
      WHERE rn <= {_EMB_NPROBE}
        AND vec_id IN (SELECT gid FROM vgroups)),
    gpairs AS (
      SELECT DISTINCT a.gid AS gid_a, b.gid AS gid_b
      FROM fassign a JOIN fassign b
        ON a.cell = b.cell AND a.gid < b.gid),
    gdots AS (
      SELECT p.gid_a, p.gid_b, CAST(SUM(qa.v * qb.v) AS BIGINT) AS dot
      FROM gpairs p
      JOIN flat qa ON qa.vec_id = p.gid_a
      JOIN flat qb ON qb.vec_id = p.gid_b AND qb.i = qa.i
      GROUP BY 1, 2),
    gscored AS (
      SELECT gid_a, gid_b,
             CAST(dot AS DOUBLE) /
               (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
      FROM gdots
      JOIN norms na ON na.vec_id = gid_a
      JOIN norms nb ON nb.vec_id = gid_b
      WHERE CAST(dot AS DOUBLE) /
            (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.3),
    apairs AS (
      SELECT LEAST(ma.vec_id, mb.vec_id) AS vec_a,
             GREATEST(ma.vec_id, mb.vec_id) AS vec_b,
             CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_1e6
      FROM gscored
      JOIN vgroups ma ON ma.gid = gid_a
      JOIN vgroups mb ON mb.gid = gid_b
      UNION ALL
      SELECT m1.vec_id AS vec_a, m2.vec_id AS vec_b,
             CAST(1000000 AS BIGINT) AS cos_1e6
      FROM vgroups m1 JOIN vgroups m2
        ON m1.gid = m2.gid AND m1.vec_id < m2.vec_id)"""


@query(
    "dedup_embedding_cosine",
    f"""
    WITH {_EMB_PAIRS_CTE_SQL}
    SELECT vec_a, vec_b, cos_1e6 FROM apairs
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup over the FULL table through trained
    IVF cells — never all-pairs, and exact-dedup-before-ANN.

    Centroids come from `train_ivf_centroids` (deterministic spherical
    k-means, ``ncells = ceil(sqrt(n))``, 2 Lloyd rounds); the pipeline
    then runs PER DISTINCT VECTOR ("group", keyed by min vec_id): each
    group representative is multi-probe assigned to its nprobe nearest
    cells and candidate pairs are representatives sharing a cell — a
    hash equi-join on the cell id, so candidate volume is
    ~``nprobe^2 * d^1.5`` for d distinct vectors and the scanned
    fraction keeps SHRINKING as n grows (vs n^2 all-pairs). Group
    pairs expand back to vec pairs at the end: k exact copies of a
    vector shrink the cell self-join by k^2 (identical vectors always
    receive identical assignments, so the expanded pair set is provably
    the ungrouped result — pinned in tests/test_northstar.py), the
    dup-heavy-corpus 100 TB shape shared with the text dedup family.
    Precision is exact — every emitted pair is re-scored with the exact
    integer dot product; intra-group pairs are identical vectors, cos
    exactly 1. Recall is the IVF trade-off and this synthetic corpus
    is the worst case (isotropic, no cluster structure; planted pairs
    sit at cos 0.3-0.5, barely above noise — there are no true
    near-duplicates to anchor cells): measured recall at nprobe=3 is
    0.74 @ sf0.01 (n=500, ncells=23) and 0.54 @ sf0.1 (n=2000,
    ncells=45) while scoring only ~nprobe^2/ncells of all pairs
    (9/45 = 20% @ sf0.1, shrinking with n); the floor is pinned in
    tests/test_northstar.py. On real clustered data the same plan
    prunes harder at higher recall. The oracle replays the identical
    training + grouping + assignment, so the result is
    bit-deterministic. The pair frame itself is the `_embedding_pairs`
    session memo shared with `dedup_semantic_prune_curve`."""
    return _embedding_pairs(spark, sf_dir)


def _embedding_pairs(spark, sf_dir):
    """(vec_a, vec_b, cos_1e6) — the verified embedding near-dup pair
    frame, memoized per (application, sf_dir) and persisted so each
    consumer pays the IVF cell self-join at most once per session."""
    key = _key(spark, sf_dir)
    return _EMB_PAIRS_CACHE.get_or_create(
        key, lambda: _build_embedding_pairs(spark, sf_dir).persist()
    )


def _build_embedding_pairs(spark, sf_dir):
    from spark_data_test_spark.operators.similarity import (
        _DOT,
        _assign_cells,
        _cosine,
        _int_embeddings,
        train_ivf_centroids,
    )

    emb = _int_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(spark, sf_dir)
    # Exact-dup groups: one shuffle on the quantized vector itself.
    # Identical vectors score identically against every centroid (same
    # deterministic tie-break), so assigning only the representative
    # loses nothing while the cell self-join shrinks k^2 per k-dup
    # group — measured 19.1 s -> ~4 s at the x10-amplified scale where
    # every vector has 10 exact copies.
    key = _key(spark, sf_dir)
    memb = _EMB_GROUPS_CACHE.get_or_create(
        key,
        lambda: emb.withColumn(
            "gid", F.min("vec_id").over(Window.partitionBy("e"))
        ).persist(),
    )
    reps = memb.where(F.col("vec_id") == F.col("gid")).select("vec_id", "e", "n2")
    assign = _assign_cells(reps, cents, _EMB_NPROBE)
    # Pair-level shuffle discipline (the part that decides 100 TB
    # viability): arrays ride only the O(d * nprobe) ASSIGNMENT rows
    # into the cell self-join; each candidate pair is scored inside the
    # join and threshold-filtered BEFORE any pair-level shuffle, so the
    # only shuffle proportional to candidate volume carries nothing —
    # the groupBy dedup of multi-cell co-occurrences (a pair can share
    # up to nprobe cells; its exact dot is identical in each, so max()
    # is the value) sees just the ~threshold survivors. The previous
    # shape (distinct on all pairs, then two joins attaching arrays to
    # every pair row) shuffled 64-element arrays per CANDIDATE —
    # measured 100 s vs ~21 s at the x10-amplified scale (n=20000).
    # localCheckpoint: the payload lineage is the k-means scoring
    # crossJoin + assignment window; both self-join sides re-analyze it
    # otherwise (same driver-side cost as the simhash fingerprints)
    payload = _EMB_PAYLOAD_CACHE.get_or_create(
        key, lambda: checkpointed(assign.join(reps, "vec_id"))
    )
    a = payload.select(
        F.col("vec_id").alias("gid_a"),
        "cell",
        F.col("e").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    b = payload.select(
        F.col("vec_id").alias("gid_b"),
        "cell",
        F.col("e").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    gscored = (
        a.join(b, "cell")
        .where(F.col("gid_a") < F.col("gid_b"))
        .withColumn("dot", F.expr(_DOT))
        .withColumn("cos", _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
        .where(F.col("cos") >= 0.3)
        .groupBy("gid_a", "gid_b")
        .agg(F.max("cos").alias("cos"))
    )
    ma = memb.select(F.col("gid").alias("gid_a"), F.col("vec_id").alias("_va"))
    mb = memb.select(F.col("gid").alias("gid_b"), F.col("vec_id").alias("_vb"))
    cross = (
        gscored.join(ma, "gid_a")
        .join(mb, "gid_b")
        .select(
            F.least("_va", "_vb").alias("vec_a"),
            F.greatest("_va", "_vb").alias("vec_b"),
            F.round(F.col("cos") * 1000000).cast("long").alias("cos_1e6"),
        )
    )
    m1 = memb.select("gid", F.col("vec_id").alias("_va"))
    m2 = memb.select("gid", F.col("vec_id").alias("_vb"))
    intra = (
        m1.join(m2, "gid")
        .where(F.col("_va") < F.col("_vb"))
        .select(
            F.col("_va").alias("vec_a"),
            F.col("_vb").alias("vec_b"),
            F.lit(1000000).cast("long").alias("cos_1e6"),
        )
    )
    return cross.unionByName(intra)


# SemDeDup prune thresholds (cos * 1e6): the sweep a curation team
# runs before committing a semantic-dedup pass — exact copies only
# (1.0), near-identical (0.95), paraphrase-radius (0.5), and the pair
# frame's own floor (0.3).
_SEMDEDUP_TAUS = [300000, 500000, 950000, 1000000]


@query(
    "dedup_semantic_prune_curve",
    f"""
    WITH {_EMB_PAIRS_CTE_SQL},
    taus AS (SELECT * FROM (VALUES (300000), (500000), (950000),
                                   (1000000)) AS t(tau_1e6)),
    tot AS (SELECT COUNT(*) AS n_total FROM norms),
    pruned AS (
      SELECT t.tau_1e6, COUNT(DISTINCT p.vec_b) AS n_pruned
      FROM taus t LEFT JOIN apairs p ON p.cos_1e6 >= t.tau_1e6
      GROUP BY t.tau_1e6)
    SELECT CAST(pr.tau_1e6 AS BIGINT) AS tau_1e6,
           CAST(tot.n_total AS BIGINT) AS n_total,
           CAST(pr.n_pruned AS BIGINT) AS n_pruned,
           CAST(tot.n_total - pr.n_pruned AS BIGINT) AS n_kept
    FROM pruned pr, tot
    ORDER BY tau_1e6
    """,
)
def dedup_semantic_prune_curve(spark, sf_dir):
    """SemDeDup-style semantic prune curve (Abbas et al. 2023: prune
    near-identical embeddings inside k-means cells, keep one
    representative per semantic-duplicate group) swept over a
    threshold grid — the kept/pruned accounting a curation team reads
    before committing a semantic-dedup pass at a given radius.

    Semantics: a vector is PRUNED at threshold tau if any
    smaller-vec_id vector shares an IVF cell with it at cosine >= tau
    (the deterministic min-id survivor rule the exact/minhash dedup
    family uses, applied per semantic group — SemDeDup keeps a random
    cluster member; min-id is the reproducible choice). The pair frame
    is `dedup_embedding_cosine`'s — trained IVF cells, multi-probe
    assignment, exact integer re-scoring, never all-pairs — so this
    query adds only: a broadcast 4-row threshold grid joined against
    the ~threshold-survivor pairs, a distinct on (tau, pruned vec),
    and one count per tau. All the heavy state (centroids, groups,
    assignment payload) comes from the session memos shared with the
    pair query, so the marginal cost is the curve itself.

    Shape at 100 TB: the curve inherits the pair frame's posture
    (candidate-bounded cell self-join, filter before pair shuffle);
    the sweep multiplies the SURVIVOR pairs by 4 grid rows, not the
    candidates. The oracle replays training + grouping + assignment +
    scoring + the EXISTS-smaller-neighbor rule analytically
    (`_EMB_PAIRS_CTE_SQL`), so the curve is bit-deterministic."""
    from spark_data_test_spark.operators.similarity import _int_embeddings

    pairs = _embedding_pairs(spark, sf_dir)
    taus = local_df(
        spark,
        [(t,) for t in _SEMDEDUP_TAUS],
        "tau_1e6 long",
    )
    total = _int_embeddings(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    pruned = (
        F.broadcast(taus)
        .join(pairs, pairs["cos_1e6"] >= taus["tau_1e6"])
        .select("tau_1e6", "vec_b")
        .distinct()
        .groupBy("tau_1e6")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pruned"))
    )
    return (
        taus.join(pruned, "tau_1e6", "left")
        .withColumn("n_pruned", F.coalesce("n_pruned", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "tau_1e6",
            "n_total",
            "n_pruned",
            (F.col("n_total") - F.col("n_pruned")).cast("long").alias("n_kept"),
        )
        .orderBy("tau_1e6")
    )


@query(
    "dedup_connected_components",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    {_SHINGLES_SQL.strip()},
    {_MINHASH_SQL},
    {_BANDS_SQL},
    {_PAIRS_SQL.strip()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs),
    verts AS (
      SELECT DISTINCT a AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS other FROM verts
      UNION
      SELECT r.doc_id, e.b AS other
      FROM reach r JOIN edges e ON e.a = r.other)
    SELECT doc_id, MIN(other) AS component_id
    FROM reach GROUP BY doc_id
    """.replace("WITH corpus", "WITH RECURSIVE corpus"),
)
def dedup_connected_components(spark, sf_dir):
    """Duplicate CLUSTERING: connected components over the LSH
    candidate-pair graph, so transitively-linked near-dups (A~B, B~C)
    collapse into one group with a canonical representative (the
    minimum doc_id in the component) — the step a real dedup pipeline
    runs after pair generation, since keep/drop decisions are per
    cluster, not per pair.

    Iterative min-label propagation (the BSP formulation GraphX/
    Pregel uses, expressed in plain DataFrames) — run on the TEXT-GROUP
    graph, not the doc graph: expansion is complete within and across
    groups, so group connectivity equals doc connectivity, and each
    group's seed label is its minimum member doc_id. Every iterative
    round therefore joins/aggregates the (k^2-smaller on a dup-heavy
    corpus) group edge set; doc-level components come from one final
    members join. Vertices are groups with >= 2 members (intra pairs)
    or >= 1 candidate cross pair, exactly the docs the per-doc graph
    contained. Rounds are bounded by the graph diameter (LSH duplicate
    clusters are shallow — a handful of rounds); ``localCheckpoint``
    truncates the plan lineage so the loop doesn't compound (the
    standard Spark iterative-algorithm pattern). The oracle replays
    the closure with a recursive CTE — an independent fixed-point
    formulation over the doc graph.
    """
    members = _cached_members(spark, sf_dir)
    gpairs = _cached_gid_pairs(spark, sf_dir)
    msize = members.groupBy("gid").agg(
        F.min("doc_id").alias("min_doc"), F.count(F.lit(1)).alias("nm")
    )
    cross_gids = (
        gpairs.select(F.col("gid_a").alias("gid"))
        .union(gpairs.select(F.col("gid_b").alias("gid")))
        .distinct()
    )
    verts = (
        msize.where(F.col("nm") >= 2)
        .select("gid", "min_doc")
        .unionByName(
            msize.join(cross_gids, "gid", "left_semi").select("gid", "min_doc")
        )
        .distinct()
    )
    edges = (
        gpairs.select(F.col("gid_a").alias("a"), F.col("gid_b").alias("b"))
        .unionByName(
            gpairs.select(F.col("gid_b").alias("a"), F.col("gid_a").alias("b"))
        )
        .persist()
    )
    from spark_data_test_spark.operators.graph import connected_components

    labels = connected_components(
        verts.select("gid", F.col("min_doc").alias("component_id")), edges
    )
    edges.unpersist()
    return members.join(labels, "gid").select("doc_id", "component_id")


@query(
    "dedup_cluster_size_stats",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    {_SHINGLES_SQL.strip()},
    {_MINHASH_SQL},
    {_BANDS_SQL},
    {_PAIRS_SQL.strip()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs),
    verts AS (
      SELECT DISTINCT a AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS other FROM verts
      UNION
      SELECT r.doc_id, e.b AS other
      FROM reach r JOIN edges e ON e.a = r.other),
    comp AS (
      SELECT doc_id, MIN(other) AS component_id FROM reach GROUP BY doc_id),
    sizes AS (
      SELECT component_id, COUNT(*) AS cluster_size FROM comp
      GROUP BY component_id)
    SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """.replace("WITH corpus", "WITH RECURSIVE corpus"),
)
def dedup_cluster_size_stats(spark, sf_dir):
    """Duplicate-cluster size distribution: how many near-dup clusters
    exist at each size, and how many documents they absorb — the
    dedup-health dashboard a corpus pipeline watches (a sudden giant
    cluster means boilerplate or a template leak; the doc mass in
    size>=2 clusters is the dedup savings estimate).

    Two tiny aggregates over the connected-components labeling (which
    reuses the cached LSH pipeline); the distribution is bounded by
    distinct cluster sizes, so the result is driver-small at any
    corpus scale. Oracle: the independent recursive-CTE closure,
    aggregated the same way."""
    comp = dedup_connected_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


@query(
    "dedup_survivorship",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    {_SHINGLES_SQL.strip()},
    {_MINHASH_SQL},
    {_BANDS_SQL},
    {_PAIRS_SQL.strip()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs),
    verts AS (
      SELECT DISTINCT a AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS other FROM verts
      UNION
      SELECT r.doc_id, e.b AS other
      FROM reach r JOIN edges e ON e.a = r.other),
    comp AS (
      SELECT doc_id, MIN(other) AS component_id FROM reach GROUP BY doc_id),
    ranked AS (
      SELECT c.doc_id, c.component_id, d.n_chars, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY c.component_id
               ORDER BY d.n_chars DESC, c.doc_id) AS rk
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT doc_id, component_id, n_chars, source,
           CAST(MIN(CASE WHEN rk = 1 THEN doc_id END)
                  OVER (PARTITION BY component_id) AS BIGINT)
             AS survivor_doc_id,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
    FROM ranked
    """.replace("WITH corpus", "WITH RECURSIVE corpus"),
)
def dedup_survivorship(spark, sf_dir):
    """Survivorship: the keep/drop DECISION a dedup pipeline emits
    after clustering — per near-dup cluster, keep the richest document
    (max ``n_chars``, ties to the smallest ``doc_id``) and mark every
    other member dropped, with the survivor's id on each row so the
    drop set carries its replacement (the audit trail a training-data
    pipeline stores next to the pruned corpus).

    One metadata join (doc_id-keyed, the narrow documents projection)
    onto the connected-components labeling, then a single per-cluster
    window for both the rank-1 pick and its broadcast onto members —
    partition size = cluster size, so the window state is bounded by
    the largest duplicate cluster, not the corpus. Oracle: the
    independent recursive-CTE closure plus the same rule in SQL."""
    comp = dedup_connected_components(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    ranked = comp.join(docs, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("component_id").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        ),
    )
    wc = Window.partitionBy("component_id")
    return ranked.select(
        "doc_id",
        "component_id",
        "n_chars",
        "source",
        F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).over(wc).alias(
            "survivor_doc_id"
        ),
        F.when(F.col("rk") == 1, 1).otherwise(0).cast("long").alias("is_survivor"),
    )



# Shared SQL: distinct-text shingle sets -> inverted-index pair
# intersections with both set sizes attached (the exact-truth engine
# for the recall report and containment queries). Pair DISCOVERY is
# stop-shingle capped (df <= _STOP_SH_DF): a pair enters cosz only by
# sharing at least one NON-hot shingle, but its intersection count i
# stays the full exact value. See _cached_gid_co_counts for why.
_STOP_SH_DF = 128  # discovery cap: shingles in more docs than this
#                    are "stop shingles" and cannot DISCOVER a pair
#                    (they still count toward i once discovered)

_GID_CO_SQL = f"""
    gtexts AS (
      SELECT DISTINCT md5(text) AS gid, text
      FROM corpus WHERE length(text) >= 8),
    gsh AS (
      SELECT DISTINCT gid, substr(text, i, 8) AS sh
      FROM gtexts, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)),
    sizes AS (SELECT gid, COUNT(*) AS n FROM gsh GROUP BY gid),
    shdf AS (SELECT sh, COUNT(*) AS df FROM gsh GROUP BY sh),
    co AS (
      SELECT a.gid AS ga, b.gid AS gb, COUNT(*) AS i,
             COUNT(*) FILTER (d.df <= {_STOP_SH_DF}) AS i_rare
      FROM gsh a
      JOIN shdf d ON d.sh = a.sh
      JOIN gsh b ON b.sh = a.sh AND a.gid < b.gid
      GROUP BY 1, 2),
    cosz AS (
      SELECT ga, gb, i, sa.n AS na, sb.n AS nb
      FROM co
      JOIN sizes sa ON sa.gid = ga
      JOIN sizes sb ON sb.gid = gb
      WHERE i_rare > 0)
"""


_GID_CO_CACHE = FrameCache(max_entries=2)

# Plan of the most recent `_gid_co_counts` build (either entry point),
# captured before the caller persists or checkpoints it so
# tests/test_plans.py can assert the broadcast discipline — the
# returned frames are leaf scans, so the assertion cannot be made on
# them (same pattern as _last_bucketed_probe_plan).
_last_gid_co_plan = None

# Deterministic eval slice for the recall report: keep the distinct
# texts whose md5 starts with a hex digit <= '7' (8 of 16 first chars,
# an unbiased 1/2 sample — md5 is uniform and both engines produce the
# same lowercase hex). Pair-level retention is rate^2 = 1/4, which is
# what bounds the truth side's inverted-index self-join at scale.
_EVAL_SAMPLE_PRED = "substr(md5(text), 1, 1) <= '7'"

_GID_CO_SAMPLED_SQL = _GID_CO_SQL.replace(
    "FROM corpus WHERE length(text) >= 8",
    f"FROM corpus WHERE length(text) >= 8 AND {_EVAL_SAMPLE_PRED}",
)


@contextlib.contextmanager
def _gid_co_counts(sets, stop_df=_STOP_SH_DF, sampled=False):
    """gid co-count stage: ``(ga, gb, i, na, nb)`` — the EXACT
    shared-shingle count of each distinct-text pair of the ``(gid, sa)``
    shingle sets with both set sizes, from the shingle inverted index
    (the exploded sets) with STOP-SHINGLE-CAPPED discovery:

    * discovery: restricted to shingles with document frequency
      <= ``stop_df``, so its volume is bounded by per-RARE-shingle df
      squares — measured at sf0.1 the discovery input drops
      64.2M -> 20.8M rows and the discovered pair set 10.9M -> 6.2M,
      with ZERO truth (J >= 0.5) or containment (>= 0.8) pairs lost
      (every qualifying pair shares at least one sub-cap shingle; a
      pair ALL of whose shared shingles sit in more than ``stop_df``
      docs is boilerplate overlap by construction). Pairs expand
      in-task from the rare-shingle posting lists, each bounded at
      ``stop_df`` gids by the hot anti-join. At 100 TB this cap is the
      difference between an inverted-index plan and a licence-header
      cross-join — same rule as the n-gram stop grams.
    * exactness: i is still the FULL intersection — discovery
      contributes i_rare, and the hot remainder comes from per-text HOT
      ARRAYS (at most total-occurrences / cap shingles can exceed the
      cap, 318 at sf0.1), joined by gid and intersected in-task. No
      second self-join over the hot shingles ever runs.

    The ONLY forced broadcast is the HOT shingle list (the genuinely
    small Zipf head): rare = all − hot, so the discovery restriction is
    a LEFT ANTI join against broadcast(hot) rather than an inner join
    against the corpus-cardinality rare list. The per-text frames
    (sizes, hot arrays) join by gid with NO hint — AQE broadcasts them
    while they fit on the driver and shuffles when they don't.

    ``sampled=True`` (the recall report's eval slice, whose caller has
    already restricted ``sets``) keeps the persisted rare-shingle
    self-join for discovery — on the quartered volume the in-task
    expansion measured ~1.3x slower end-to-end — and PREFILTERS
    discovered pairs by a conservative Jaccard upper bound
    (i <= i_rare + min(hot-array sizes)) at the recall threshold before
    the hot-array attach: the eval only reads truth pairs (J >= 0.5),
    the bound can never evict one, and it collapses the frame from
    ~1.85M rows to the few thousand that could qualify. Rows below the
    bound are absent — exact i is guaranteed only at or above it.

    The scaffolding frames are persisted for the block (each reference
    below re-executes its subplan otherwise: hot twice, ha, hb and
    sizes twice — measured 2x the whole build at sf0.1; the exploded
    rows feed three of them, and re-exploding the sets for each cost
    `dedup_containment` about 1.5 s at sf0.1) and released when it
    exits, so the caller materializes the result inside it."""
    from spark_data_test_spark.plans.audit import simple_plan

    global _last_gid_co_plan
    gsh = _shingle_rows(sets, "gid")
    sizes = sets.select("gid", F.size("sa").cast("long").alias("n"))
    shdf = gsh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    hot = shdf.where(F.col("df") > stop_df).select("sh")
    ghot = (
        gsh.join(F.broadcast(hot), "sh")
        .groupBy("gid")
        .agg(F.collect_set("sh").alias("hs"))
    )
    shr = gsh.join(F.broadcast(hot), "sh", "left_anti")
    scaffolds = (gsh, sizes, shdf, ghot) + ((shr,) if sampled else ())
    with _scoped(*(frame.persist() for frame in scaffolds)):
        if sampled:
            a, b = shr.alias("a"), shr.alias("b")
            co = a.join(
                b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.gid") < F.col("b.gid"))
            ).groupBy(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        else:
            co = bucket_pairs(
                shr, ("sh",), "gid", None, out_a="ga", out_b="gb"
            ).groupBy("ga", "gb")
        co = (
            co.agg(F.count(F.lit(1)).alias("i_rare"))
            .join(sizes.toDF("ga", "na"), "ga")
            .join(sizes.toDF("gb", "nb"), "gb")
        )
        if sampled:
            hsz = ghot.select("gid", F.size("hs"))
            i_max = F.col("i_rare") + F.least(
                F.coalesce(F.col("nha"), F.lit(0)),
                F.coalesce(F.col("nhb"), F.lit(0)),
            )
            co = (
                co.join(hsz.toDF("ga", "nha"), "ga", "left")
                .join(hsz.toDF("gb", "nhb"), "gb", "left")
                .where(F.lit(2) * i_max >= F.col("na") + F.col("nb") - i_max)
                .drop("nha", "nhb")
            )
        i_hot = F.when(
            F.col("ha").isNotNull() & F.col("hb").isNotNull(),
            F.size(F.array_intersect("ha", "hb")),
        ).otherwise(0)
        res = (
            co.join(ghot.toDF("ga", "ha"), "ga", "left")
            .join(ghot.toDF("gb", "hb"), "gb", "left")
            .withColumn("i", (F.col("i_rare") + i_hot).cast("long"))
            .select("ga", "gb", "i", "na", "nb")
        )
        _last_gid_co_plan = simple_plan(res)
        yield res


def _cached_gid_co_counts(spark, sf_dir, sampled=False):
    """Memoized `_gid_co_counts` over the cached sets: the recall
    report reads the ``sampled`` build over the deterministic
    `_EVAL_SAMPLE_PRED` slice of distinct texts (input rows halve, join
    output quarters), containment the full build."""

    def build():
        sets = _cached_sets(spark, sf_dir)
        if sampled:
            # gid IS md5(text), so the slice predicate is a cheap
            # first-character test on the key itself
            sets = sets.where(F.substring("gid", 1, 1) <= "7")
        with _gid_co_counts(sets, sampled=sampled) as co:
            out = co.persist()
            out.count()  # materialize before the scaffolds are released
            return out

    return _GID_CO_CACHE.get_or_create(_key(spark, sf_dir) + (sampled,), build)


@query(
    "dedup_lsh_recall_report",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    {_GID_CO_SAMPLED_SQL.strip()},
    truth AS (
      SELECT ga, gb FROM cosz
      WHERE 1000000.0 * i / (na + nb - i) >= 500000),
    sh AS (SELECT gid AS doc_id, sh FROM gsh),
    {_MINHASH_SQL},
    {_BANDS_SQL},
    {_PAIRS_SQL.strip()},
    hits AS (
      SELECT t.ga FROM truth t
      JOIN pairs p ON p.doc_a = t.ga AND p.doc_b = t.gb)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
           CAST(ROUND(1000000.0 * (SELECT COUNT(*) FROM hits)
                      / (SELECT COUNT(*) FROM truth)) AS BIGINT)
             AS recall_1e6
    """,
)
def dedup_lsh_recall_report(spark, sf_dir):
    """Recall EVALUATION of the MinHash-LSH pipeline: exact ground
    truth (every distinct-text pair with true shingle Jaccard >= 0.5)
    versus the banding candidates, reported as one row — the quality
    gate a dedup pipeline runs on a sampled slice before trusting LSH
    parameters at full scale (the ANN analog is
    `similarity_ann_recall_report`).

    The exact truth is NOT an all-pairs scan: Jaccard >= tau implies a
    shared shingle, so truth pairs come from the shingle INVERTED INDEX
    (self-join on the shingle, i.e. one shuffle keyed by shingle; work
    is sum of per-shingle doc-count squares, not corpus^2) with
    STOP-SHINGLE-CAPPED discovery — a truth pair must share at least
    one shingle in <= _STOP_SH_DF docs, which cannot evict a
    tau >= 0.5 pair unless ALL its shared shingles are that hot
    (measured: zero qualifying pairs lost at sf0.1, while the
    discovery join shrinks 3x and the pair set 10.9M -> 6.2M; see
    _cached_gid_co_counts).

    The eval runs on the HASH-SAMPLED SLICE its role demands
    (`_EVAL_SAMPLE_PRED`: distinct texts whose md5 starts <= '7', an
    unbiased deterministic 1/2 sample, identical in the DuckDB
    oracle): recall is a population ESTIMATE, so paying the full
    quadratic truth build is exactly the cost the eval exists to
    avoid — pair retention is rate^2 = 1/4, which is what bounds the
    truth self-join at 100 TB. Sampling reaches both sides
    consistently: the truth build's inverted index is restricted
    before its self-join, while candidates post-filter the SHARED
    cached banding pair set to sampled endpoints — algebraically
    identical to banding the sampled docs (signatures are doc-local)
    but reusing the frame the other dedup queries already built. Both
    truth and candidates are computed per DISTINCT text (group), which
    is also what makes recall well-defined on a dup-heavy corpus:
    identical copies pair by construction and would inflate recall if
    counted."""
    cosz = _cached_gid_co_counts(spark, sf_dir, sampled=True)
    jac = (
        F.lit(1000000.0)
        * F.col("i")
        / (F.col("na") + F.col("nb") - F.col("i"))
    )
    truth = cosz.where(jac >= 500000).select("ga", "gb")
    cands = _cached_gid_pairs(spark, sf_dir).where(
        (F.substring("gid_a", 1, 1) <= "7")
        & (F.substring("gid_b", 1, 1) <= "7")
    )
    hits = truth.join(
        cands,
        (F.col("ga") == F.col("gid_a")) & (F.col("gb") == F.col("gid_b")),
        "left_semi",
    )
    summary = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(F.broadcast(cands.agg(F.count(F.lit(1)).alias("n_candidates"))))
        .crossJoin(F.broadcast(hits.agg(F.count(F.lit(1)).alias("n_hits"))))
    )
    return summary.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.round(
            F.lit(1000000.0) * F.col("n_hits") / F.col("n_truth")
        ).cast("long").alias("recall_1e6"),
    )


_CONTAIN_1E6 = 800_000  # containment threshold: 80% of the smaller set


@query(
    "dedup_containment",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    {_GID_CO_SQL.strip()}
    SELECT CASE WHEN na <= nb THEN ga ELSE gb END AS contained_gid,
           CASE WHEN na <= nb THEN gb ELSE ga END AS container_gid,
           CAST(ROUND(1000000.0 * i / LEAST(na, nb)) AS BIGINT)
             AS containment_1e6
    FROM cosz
    WHERE 1000000.0 * i / LEAST(na, nb) >= {_CONTAIN_1E6}
      AND na <> nb
    """,
)
def dedup_containment(spark, sf_dir):
    """CONTAINMENT detection: pairs where the smaller document's
    shingle set is >= 80% inside the larger's — the duplication mode
    Jaccard misses by construction (a paragraph quoted inside a long
    article has tiny Jaccard but containment ~1), and the signal
    contamination tracing actually needs (benchmark questions EMBEDDED
    in training documents). Same stop-shingle-capped inverted-index
    shape as `dedup_lsh_recall_report`'s truth side — one shuffle
    keyed by RARE shingles, work bounded by per-rare-shingle frequency
    squares, hot remainders folded in from broadcast per-doc arrays
    (exact i; a contained doc shares >= 80% of its shingles, so a
    qualifying pair all of whose shared shingles are stop shingles
    does not occur — measured zero lost at sf0.1) — with the
    asymmetric i/min(|A|,|B|) score and the (contained, container)
    orientation resolved by set size. Equal-size pairs are excluded: at i/min >= 0.8 they are
    ordinary near-dups, already owned by the Jaccard query."""
    return _contained(_cached_gid_co_counts(spark, sf_dir), _CONTAIN_1E6).toDF(
        "contained_gid", "container_gid", "containment_1e6"
    )


def _contained(co, tau_1e6):
    """``(gid_s, gid_l, containment_1e6)``: the `_gid_co_counts` pairs
    whose smaller set lies at least ``tau_1e6`` micro-units inside the
    larger, oriented (contained, container) by set size; equal-size
    pairs are dropped (near-dups, the Jaccard family's jurisdiction)."""
    score = F.lit(1000000.0) * F.col("i") / F.least("na", "nb")
    small_first = F.col("na") <= F.col("nb")
    return co.where(
        (score >= F.lit(tau_1e6)) & (F.col("na") != F.col("nb"))
    ).select(
        F.when(small_first, F.col("ga")).otherwise(F.col("gb")).alias("gid_s"),
        F.when(small_first, F.col("gb")).otherwise(F.col("ga")).alias("gid_l"),
        F.round(score).cast("long").alias("containment_1e6"),
    )


# ---------------------------------------------------------------------------
# Exact duplicated n-gram spans (Lee et al. 2022 substring-dedup shape)
# ---------------------------------------------------------------------------

_NGRAM_N = 8  # word n-gram length for exact span duplication
_NGRAM_STOP_DF = 1000  # scale guard: drop grams present in > this many docs


@query(
    "corpus_duplicate_ngrams",
    f"""
    WITH docs AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
               AS toks
      FROM documents),
    grams AS (
      SELECT DISTINCT d.doc_id,
             array_to_string(d.toks[u.i:u.i + {_NGRAM_N - 1}], ' ') AS g
      FROM docs d, unnest(range(1, len(d.toks) - {_NGRAM_N - 2})) u(i)
      WHERE len(d.toks) >= {_NGRAM_N}),
    gstats AS (
      SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
    dup_grams AS (
      SELECT g FROM gstats WHERE df >= 2 AND df <= {_NGRAM_STOP_DF}),
    per_doc AS (
      SELECT gr.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(*) FILTER (dg.g IS NOT NULL) AS BIGINT)
               AS n_dup_grams
      FROM grams gr LEFT JOIN dup_grams dg ON gr.g = dg.g
      GROUP BY gr.doc_id),
    partners AS (
      SELECT a.doc_id, CAST(COUNT(DISTINCT b.doc_id) AS BIGINT)
               AS n_partner_docs
      FROM grams a
      JOIN dup_grams dg ON a.g = dg.g
      JOIN grams b ON b.g = a.g AND b.doc_id <> a.doc_id
      GROUP BY a.doc_id)
    SELECT p.doc_id, d.n_grams, d.n_dup_grams, p.n_partner_docs,
           (1000 * d.n_dup_grams) // d.n_grams AS dup_permille
    FROM per_doc d JOIN partners p ON d.doc_id = p.doc_id
    WHERE d.n_dup_grams > 0
    ORDER BY p.doc_id
    """,
)
def corpus_duplicate_ngrams(spark, sf_dir):
    """EXACT duplicated-span detection (the substring-dedup signal of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", at word-8-gram granularity): for every document
    sharing at least one exact 8-gram with another document, report
    how much of it is duplicated (distinct grams, duplicated grams,
    partner-document count, duplicated permille).

    Plan shape: tokens -> adjacent-slice 8-grams (pure Catalyst
    ``transform(sequence(...))`` — no Python), distinct per doc, then
    ONE shuffle keyed by gram builds the inverted index. Document
    frequency per gram gates everything: only grams with 2 <= df <=
    1000 expand into partner pairs, so the quadratic step is bounded
    by per-gram df squares (boilerplate mega-grams are dropped by the
    stop-gram cap exactly like the shingle pipeline's stop-shingle
    rule — at 100 TB the cap is what keeps licence headers from
    becoming a cross-join). Per-doc rollups are two further
    gram/doc-keyed aggregates — no all-pairs step anywhere."""
    grams = _NGRAM_CACHE.get_or_create(
        _key(spark, sf_dir),
        lambda: _ngrams(t(spark, sf_dir, "documents"), _NGRAM_N).persist(),
    )
    return _ngram_spans(grams, _NGRAM_STOP_DF).orderBy("doc_id")


def _ngrams(docs, n):
    """``(doc_id, g)``: the distinct word-``n``-grams of each doc of a
    ``(doc_id, text)`` frame (adjacent slices of the non-empty
    whitespace tokens; docs with fewer than ``n`` tokens carry none)."""
    return (
        docs.selectExpr("doc_id", "filter(split(text, ' '), x -> x != '') AS toks")
        .where(F.expr(f"size(toks) >= {n}"))
        .selectExpr(
            "doc_id",
            f"explode(transform(sequence(1, size(toks) - {n - 1}),"
            f" i -> array_join(slice(toks, i, {n}), ' '))) AS g",
        )
        .distinct()
    )


def _ngram_spans(grams, stop_df):
    """n-gram partner stats stage: ``(doc_id, n_grams, n_dup_grams,
    n_partner_docs, dup_permille)`` for every doc of the ``(doc_id, g)``
    rows sharing a gram with 2 <= df <= ``stop_df``. ``grams`` is read
    four times (df stats, per-doc rollup, posting build), so callers
    persist it.

    Partner pairs expand IN-TASK from per-dup-gram posting lists instead
    of a second gram-keyed self-join of the full inverted index. The
    posting lists are built ONLY for dup grams (the join against the
    df-capped ``dup_grams`` runs first, so a boilerplate mega-gram above
    the stop cap is never collected into an array), each list is
    bounded at ``stop_df`` docs by that cap, and the directed (doc,
    partner) rows stream from a two-level explode with O(list) per-row
    transient memory. The join's output is already hash-partitioned by
    g, so the posting aggregate adds no exchange."""
    gstats = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    dup_grams = gstats.where(
        (F.col("df") >= 2) & (F.col("df") <= stop_df)
    ).select("g")
    per_doc = (
        grams.join(dup_grams.withColumn("is_dup", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_grams"),
        )
    )
    partners = (
        grams.join(dup_grams, "g")
        .groupBy("g")
        .agg(F.collect_set("doc_id").alias("ds"))
        .select(F.col("ds"), F.explode("ds").alias("doc_id"))
        .select(
            "doc_id",
            F.explode(F.expr("filter(ds, y -> y != doc_id)")).alias("partner"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("partner").alias("n_partner_docs"))
    )
    return (
        per_doc.where(F.col("n_dup_grams") > 0)
        .join(partners, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            "n_partner_docs",
            F.expr("1000 * n_dup_grams div n_grams").alias("dup_permille"),
        )
    )


def duplicate_ngram_spans(
    docs, n=_NGRAM_N, stop_df=_NGRAM_STOP_DF, id_col="doc_id",
    text_col="text",
):
    """Library operator: EXACT duplicated-span detection over an
    arbitrary ``(id, text)`` frame — the frame-level, parameterized
    form of `corpus_duplicate_ngrams` (the substring-dedup signal of
    Lee et al. 2022 at word-``n``-gram granularity; parity with the
    registered query pinned in tests). For every document sharing at
    least one exact ``n``-gram with another document, returns
    ``(id, n_grams, n_dup_grams, n_partner_docs, dup_permille)`` —
    how much of it is duplicated and across how many partners.

    Plan shape (identical to the registered query): tokens ->
    adjacent-slice n-grams (pure Catalyst transform/sequence, no
    Python), distinct per doc, ONE shuffle keyed by gram builds the
    inverted index. Only grams with 2 <= df <= ``stop_df`` expand
    into partner pairs, so the quadratic step is bounded by per-gram
    df squares — at 100 TB the stop-gram cap is what keeps licence
    headers from becoming a cross-join. Documents with fewer than
    ``n`` whitespace tokens carry no grams and never appear."""
    n = int(n)
    stop_df = int(stop_df)
    if n < 1:
        raise ValueError("duplicate_ngram_spans: n must be >= 1")
    if stop_df < 2:
        raise ValueError(
            "duplicate_ngram_spans: stop_df must be >= 2 (a dup gram "
            "needs df >= 2)"
        )
    tcol = "`" + text_col.replace("`", "``") + "`"
    icol = "`" + id_col.replace("`", "``") + "`"
    docs = docs.select(F.col(icol).alias("doc_id"), F.col(tcol).alias("text"))
    with _scoped(_ngrams(docs, n).persist()) as (grams,):
        return (
            _ngram_spans(grams, stop_df)
            .withColumnRenamed("doc_id", id_col)
            .localCheckpoint(eager=True)
        )


# ---------------------------------------------------------------------------
# Incremental dedup against a PERSISTED index (the production shape)
# ---------------------------------------------------------------------------
#
# Every dedup query above recomputes fingerprints from the full corpus.
# The production LLM-pipeline shape is different: the historical corpus
# already has a committed fingerprint index, and each arriving shard is
# deduped AGAINST that index — the incremental cost tracks the SHARD,
# never the history. These queries compose the existing builders with
# the versioned-state machinery (state.py): build the historical index
# once and commit it (`dedup_index_build`), then shingle/minhash ONLY
# the new shard, probe the persisted index buckets, verify candidates
# with exact Jaccard, and commit the MERGED index as the next state
# version so the following shard sees this one (`dedup_incremental_*`).
#
# Split model (derived from doc_id, so both engines agree exactly):
# historical = documents with doc_id % 4 <> 3; the new shard is the
# remaining quarter plus planted arrivals copied from HISTORICAL docs —
# tail-perturbed near-dups at +300000 (doc_id % 11 = 0) for the MinHash
# flavor and exact copies at +400000 (doc_id % 19 = 0) for the
# hash-index flavor — so every planted arrival has a true partner in
# the index. Matching always restricts partners to historical doc_ids,
# which makes the queries idempotent even after the merged index
# (history + this shard) has been committed: re-runs read the merged
# state, filter it back to the historical slice, and produce the same
# rows, while the state root still genuinely advances (retain=2 keeps
# the pre-merge version for time travel).

_INC_NEAR_OFFSET = 300000  # planted near-dup arrivals (MinHash flavor)
_INC_EXACT_OFFSET = 400000  # planted exact-copy arrivals (hash flavor)
_INC_SIM_OFFSET = 500000  # planted near-dup arrivals (SimHash flavor)
_INC_STATE_VERSION = 1  # bump when index layout/params change

_INC_HIST_SQL = """
hist AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3)
"""

_INC_NEW_NEAR_SQL = f"""
shard AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
  UNION ALL
  SELECT doc_id + {_INC_NEAR_OFFSET} AS doc_id,
         text || ' extra tail token' AS text
  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 4 <> 3)
"""

_INC_NEW_EXACT_SQL = f"""
shard AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
  UNION ALL
  SELECT doc_id + {_INC_EXACT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 19 = 0 AND doc_id % 4 <> 3)
"""


def _inc_sh_sql(src, name):
    """Named variant of _SHINGLES_SQL over an arbitrary corpus CTE."""
    return f"""{name} AS (
  SELECT DISTINCT doc_id, substr(text, i, 8) AS sh
  FROM {src}, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)
  WHERE length(text) >= 8)"""


def _inc_mh_sql(src, name):
    return (
        f"{name} AS (SELECT doc_id, "
        + ", ".join(f"min(md5(sh || '#{k}')) AS h{k}" for k in range(_N_HASHES))
        + f" FROM {src} GROUP BY doc_id)"
    )


def _inc_bands_sql(src, name):
    return (
        f"{name} AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band,"
            f" h{3*b} || h{3*b+1} || h{3*b+2} AS sig FROM {src}"
            for b in range(_BANDS)
        )
        + ")"
    )


_inc_headroom_checked = set()


def _assert_offset_headroom(sf_dir):
    """Fail fast if the corpus has outgrown the planted-arrival offset
    range: `_is_historical` caps historical membership at
    doc_id < _INC_NEAR_OFFSET (so committed planted arrivals are never
    mistaken for history on re-runs), but the DuckDB oracle's `hist`
    CTE has no such cap — if natural doc_ids ever reach the offset
    range the two silently diverge and planted ids collide with real
    ones. Cheap check: read max(doc_id) from the parquet footer
    statistics (no Spark job), once per sf_dir per process."""
    if sf_dir in _inc_headroom_checked:
        return
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/documents.parquet"
    # Spark-written datasets are DIRECTORIES of part files (the staged
    # amplified tables take this shape); the provided testdata is a
    # single file. Either way the check stays footer-only — no Spark job.
    files = (
        sorted(glob.glob(f"{path}/*.parquet"))
        if os.path.isdir(path)
        else [path]
    )

    def _file_max(fp):
        """Max doc_id in one part file's footer, or None when the file
        is empty (zero row groups — an empty write task's output) or
        carries no statistics: such a file holds no doc_ids that could
        violate headroom, so it is skipped, not fatal."""
        md = pq.ParquetFile(fp).metadata
        if md.num_row_groups == 0:
            return None
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "doc_id"
        )
        maxes = [
            md.row_group(g).column(idx).statistics.max
            for g in range(md.num_row_groups)
            if md.row_group(g).column(idx).statistics is not None
        ]
        return max(maxes) if maxes else None

    file_maxes = [m for m in (_file_max(fp) for fp in files) if m is not None]
    if not file_maxes:
        _inc_headroom_checked.add(sf_dir)
        return
    mx = max(file_maxes)
    if mx >= _INC_NEAR_OFFSET:
        raise ValueError(
            f"incremental dedup: max(doc_id)={mx} in {path} reaches the "
            f"planted-arrival offset range (_INC_NEAR_OFFSET="
            f"{_INC_NEAR_OFFSET}); raise the offsets (and "
            f"_INC_STATE_VERSION) so planted ids cannot collide with "
            f"natural ones and _is_historical stays consistent with the "
            f"oracle's uncapped hist CTE"
        )
    _inc_headroom_checked.add(sf_dir)


def _hist_docs(spark, sf_dir):
    _assert_offset_headroom(sf_dir)
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 4 != 3)
    )


def _new_shard(spark, sf_dir, offset, modulus):
    _assert_offset_headroom(sf_dir)
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    arrived = d.where(F.col("doc_id") % 4 == 3)
    suffix = (
        " extra tail token"
        if offset in (_INC_NEAR_OFFSET, _INC_SIM_OFFSET)
        else ""
    )
    planted = d.where(
        (F.col("doc_id") % modulus == 0) & (F.col("doc_id") % 4 != 3)
    ).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat(F.col("text"), F.lit(suffix)).alias("text")
        if suffix
        else F.col("text").alias("text"),
    )
    return arrived.unionByName(planted)


def _is_historical(col):
    """Historical-slice membership derived purely from the doc_id —
    what keeps index probes deterministic after the merged commit."""
    return (col % 4 != 3) & (col < _INC_NEAR_OFFSET)


def _band_index(mh):
    """(doc_id, band, sig) exploded band index rows from a signature
    table — the persisted layout: probing is a hash join on
    (band, sig), and at 100 TB the parquet artifact would be
    bucketed/sorted by sig so probes co-locate without a shuffle."""
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.concat(
                            F.col(f"h{3*b}"),
                            F.col(f"h{3*b+1}"),
                            F.col(f"h{3*b+2}"),
                        ).alias("sig"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")


def _minhash_index_path(sf_dir):
    from spark_data_test_spark.utils.spark_utils import source_fingerprint

    fp = source_fingerprint(f"{sf_dir}/documents.parquet")
    return f"/tmp/spark_graft_mhidx/{fp}_v{_INC_STATE_VERSION}"


def _exact_index_path(sf_dir):
    from spark_data_test_spark.utils.spark_utils import source_fingerprint

    fp = source_fingerprint(f"{sf_dir}/documents.parquet")
    return f"/tmp/spark_graft_exidx/{fp}_v{_INC_STATE_VERSION}"


def _load_or_build_minhash_index(spark, sf_dir, force_rebuild=False):
    """Committed (doc_id, band, sig) index: versioned state if present,
    else build from the historical slice and commit v0. Returned as a
    DataFrame, never collected — unlike the IVF centroids (broadcast-
    sized by construction) a fingerprint index is a TABLE that scales
    with the corpus; reading it back as a parquet scan is the shape
    that survives 100 TB."""
    import os

    from spark_data_test_spark.state import read_state_table, write_state_version

    state_path = _minhash_index_path(sf_dir)
    if not force_rebuild:
        state = read_state_table(spark, state_path)
        if state is not None:
            return state.select("doc_id", "band", "sig")
    index = minhash_band_index(_hist_docs(spark, sf_dir))
    os.makedirs(state_path, exist_ok=True)
    write_state_version(index, state_path, retain=2)
    return read_state_table(spark, state_path).select("doc_id", "band", "sig")


@query(
    "dedup_index_build",
    f"""
    WITH {_INC_HIST_SQL.strip()},
    {_inc_sh_sql("hist", "hsh")},
    {_inc_mh_sql("hsh", "hmh")},
    {_inc_bands_sql("hmh", "hbands")}
    SELECT doc_id, band, sig FROM hbands ORDER BY doc_id, band
    """,
)
def dedup_index_build(spark, sf_dir):
    """The INDEX BUILD as its own registered step (the dedup analog of
    `similarity_ivf_train`): shingle -> minhash -> band-explode the
    HISTORICAL corpus slice into the persisted (doc_id, band, sig)
    layout, commit it through the crash-safe versioned-state machinery,
    and emit the committed rows so the DuckDB oracle — the same CTE
    chain the batch LSH query uses, restricted to the historical
    slice — hash-checks every entry the index claims to hold. One
    shuffle builds it (the minhash groupBy; the band explode is narrow)
    and incremental arrivals never pay it again."""
    import os

    from spark_data_test_spark.state import read_state_table, write_state_version

    index = minhash_band_index(_hist_docs(spark, sf_dir))
    state_path = _minhash_index_path(sf_dir)
    os.makedirs(state_path, exist_ok=True)
    write_state_version(index, state_path, retain=2)
    return read_state_table(spark, state_path).select(
        "doc_id", "band", "sig"
    ).orderBy("doc_id", "band")


@query(
    "dedup_incremental_minhash",
    f"""
    WITH {_INC_HIST_SQL.strip()},
    {_INC_NEW_NEAR_SQL.strip()},
    {_inc_sh_sql("hist", "hsh")},
    {_inc_mh_sql("hsh", "hmh")},
    {_inc_bands_sql("hmh", "hbands")},
    {_inc_sh_sql("shard", "nsh")},
    {_inc_mh_sql("nsh", "nmh")},
    {_inc_bands_sql("nmh", "nbands")},
    cand AS (
      SELECT DISTINCT n.doc_id AS new_doc_id, h.doc_id AS dup_of
      FROM nbands n JOIN hbands h ON n.band = h.band AND n.sig = h.sig),
    nsz AS (SELECT doc_id, COUNT(*) AS n FROM nsh GROUP BY doc_id),
    hsz AS (SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY doc_id),
    inter AS (
      SELECT c.new_doc_id, c.dup_of, COUNT(*) AS i
      FROM cand c
      JOIN nsh a ON a.doc_id = c.new_doc_id
      JOIN hsh b ON b.doc_id = c.dup_of AND b.sh = a.sh
      GROUP BY c.new_doc_id, c.dup_of)
    SELECT i.new_doc_id, i.dup_of,
           CAST(ROUND(1000000.0 * i.i / (sa.n + sb.n - i.i)) AS BIGINT)
             AS jaccard_1e6,
           1000000.0 * i.i / (sa.n + sb.n - i.i) >= 500000 AS is_dup
    FROM inter i
    JOIN nsz sa ON sa.doc_id = i.new_doc_id
    JOIN hsz sb ON sb.doc_id = i.dup_of
    ORDER BY i.new_doc_id, i.dup_of
    """,
)
def dedup_incremental_minhash(spark, sf_dir):
    """INCREMENTAL near-dedup: dedup an arriving shard against the
    PERSISTED MinHash index instead of refingerprinting the corpus —
    the shape a 100 TB ingest actually runs (the index is the asset;
    history is cold storage). Steps: (1) read the committed
    (doc_id, band, sig) index from versioned state (building and
    committing it first if this is the cold start); (2) shingle and
    minhash ONLY the shard — the incremental cost; (3) probe the index
    buckets with a broadcast hash join on (band, sig) (the shard side
    is the small side by construction; at 100 TB the index side would
    additionally be bucketed by sig so repeated ingests never shuffle
    it); (4) verify candidates with exact shingle Jaccard, re-shingling
    ONLY the matched historical partners (a semi-join slice, not
    history); (5) commit index + shard fingerprints as the next state
    version (retain=2 keeps the pre-merge snapshot for time travel),
    so the NEXT shard probes this one too. Matching filters partners
    to the historical slice (pure doc_id predicate), which is what
    keeps the query idempotent after the merged commit — re-runs see
    the merged index, slice it back, and emit identical rows. The
    DuckDB oracle recomputes both sides from scratch; the hash-match
    proves the persisted round trip loses nothing."""
    import os

    from spark_data_test_spark.state import write_state_version

    index = _load_or_build_minhash_index(spark, sf_dir)
    hist_index = index.where(_is_historical(F.col("doc_id")))
    shard = _new_shard(spark, sf_dir, _INC_NEAR_OFFSET, 11)
    nset = _shingle_sets(shard).persist()
    try:
        nbands = _band_index(_signatures(nset)).persist()
        try:
            cand = (
                hist_index.alias("h")
                .join(
                    F.broadcast(nbands.alias("n")),
                    (F.col("h.band") == F.col("n.band"))
                    & (F.col("h.sig") == F.col("n.sig")),
                )
                .select(
                    F.col("n.doc_id").alias("new_doc_id"),
                    F.col("h.doc_id").alias("dup_of"),
                )
                .distinct()
            )
            # exact-verify slice: shingle only the matched partners
            partners = cand.select(F.col("dup_of").alias("doc_id")).distinct()
            hset = _shingle_sets(
                _hist_docs(spark, sf_dir).join(partners, "doc_id", "left_semi")
            )
            i, jac = _set_jaccard()
            result = (
                _attach_sets(cand, "new_doc_id", nset, "dup_of", hset)
                .where(i > 0)
                .select(
                    "new_doc_id",
                    "dup_of",
                    F.round(jac).cast("long").alias("jaccard_1e6"),
                    (jac >= 500000).alias("is_dup"),
                )
                .orderBy("new_doc_id", "dup_of")
            )
            # Materialize DISTRIBUTED (executor-local checkpoint, no
            # driver collect — result volume is real-dup-pair-
            # proportional and driver memory must not bound it) BEFORE
            # the commit below prunes the pre-merge version the lineage
            # reads, and before the finally-unpersists release the
            # frames it derives from.
            result = result.localCheckpoint()
            # advance the index: history + this shard, committed as the
            # next version — the durable side effect the next shard's
            # probe reads
            state_path = _minhash_index_path(sf_dir)
            os.makedirs(state_path, exist_ok=True)
            write_state_version(
                hist_index.unionByName(nbands), state_path, retain=2
            )
        finally:
            nbands.unpersist()
    finally:
        nset.unpersist()
    return result


@query(
    "dedup_incremental_exact",
    f"""
    WITH {_INC_HIST_SQL.strip()},
    {_INC_NEW_EXACT_SQL.strip()}
    SELECT s.doc_id AS new_doc_id, h.doc_id AS dup_of,
           md5(s.text) AS text_hash
    FROM shard s JOIN hist h ON md5(h.text) = md5(s.text)
    ORDER BY new_doc_id, dup_of
    """,
)
def dedup_incremental_exact(spark, sf_dir):
    """INCREMENTAL exact dedup against a persisted content-hash index:
    the cheap first gate every ingest runs before near-dedup. The
    historical (text_hash, doc_id) index lives in versioned state
    (built and committed on cold start); the arriving shard hashes its
    OWN texts only and probes the index with a hash join that AQE
    plans from the shard's MEASURED size: broadcast while the shard
    fits executor memory (the common ingest case), degrading to a
    shuffled hash join on text_hash when it doesn't — no forced hint,
    so outgrowing broadcast changes the plan, not the outcome — at
    100 TB the probe is one scan of the shard against a hash table,
    zero history recompute. The merged index (history +
    shard hashes) commits as the next version. Partner filtering to
    the historical slice keeps re-runs deterministic after the merge,
    exactly like `dedup_incremental_minhash`."""
    import os

    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    state_path = _exact_index_path(sf_dir)
    index = read_state_table(spark, state_path)
    if index is None:
        built = _hist_docs(spark, sf_dir).select(
            F.md5("text").alias("text_hash"), "doc_id"
        )
        os.makedirs(state_path, exist_ok=True)
        write_state_version(built, state_path, retain=2)
        index = read_state_table(spark, state_path)
    hist_index = index.select("text_hash", "doc_id").where(
        _is_historical(F.col("doc_id"))
    )
    shard = _new_shard(spark, sf_dir, _INC_EXACT_OFFSET, 19).select(
        F.col("doc_id").alias("new_doc_id"), F.md5("text").alias("text_hash")
    )
    # no broadcast HINT: the shard is broadcast-sized in the common
    # case and AQE promotes the join from its measured size; a forced
    # hint would OOM the day a shard outgrows executor memory instead
    # of degrading to a shuffled hash join
    result = (
        hist_index.join(shard, "text_hash")
        .select(
            "new_doc_id",
            F.col("doc_id").alias("dup_of"),
            "text_hash",
        )
        .orderBy("new_doc_id", "dup_of")
    )
    # distributed materialization before the merged commit (see the
    # minhash flavor) — no driver collect on a dup-proportional frame
    result = result.localCheckpoint()
    write_state_version(
        hist_index.unionByName(
            shard.select("text_hash", F.col("new_doc_id").alias("doc_id"))
        ),
        state_path,
        retain=2,
    )
    return result


_INC_SIM_MOD = 13  # planted simhash arrivals: doc_id % 13 == 0

_INC_NEW_SIM_SQL = f"""
shard AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
  UNION ALL
  SELECT doc_id + {_INC_SIM_OFFSET} AS doc_id,
         text || ' extra tail token' AS text
  FROM documents WHERE doc_id % {_INC_SIM_MOD} = 0 AND doc_id % 4 <> 3)
"""


def _inc_sp_tokens_sql(src, name):
    """64-bit two-md5-lane token CTE over an arbitrary reps CTE."""
    return f"""{name} AS (
  SELECT gid, md5(tok) AS h1, md5(tok || '#') AS h2
  FROM (SELECT gid, unnest(string_split(text, ' ')) AS tok FROM {src})
  WHERE tok <> '')"""


def _sim_index_path(sf_dir):
    from spark_data_test_spark.utils.spark_utils import source_fingerprint

    fp = source_fingerprint(f"{sf_dir}/documents.parquet")
    return f"/tmp/spark_graft_smidx/{fp}_v{_INC_STATE_VERSION}"


def _sp_band_rows(docfp):
    """Exploded (doc_id, band, sig, lo, hi) band rows from packed
    per-doc fingerprints — the persisted simhash index layout. The
    packed halves RIDE ALONG on every band row so the probe verifies
    exact hamming inside the banding join (same one-join discipline as
    the batch pair query); at 100 TB the artifact would be bucketed by
    (band, sig) so repeated ingests probe without shuffling it."""
    return docfp.select(
        "doc_id",
        "lo",
        "hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.expr(
                            f"shiftright(lo, {8 * b}) & 255"
                            if b < 4
                            else f"shiftright(hi, {8 * (b - 4)}) & 255"
                        ).cast("long").alias("sig"),
                    )
                    for b in range(_SP_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig", "lo", "hi")


def _load_or_build_simhash_index(spark, sf_dir):
    """Committed simhash index: historical band rows (doc_id >= 0)
    PLUS the frozen centering vector as marker rows (doc_id = -1,
    band = -1, sig = bit position p, lo = t_p; the sig = 64 row
    carries the distinct-text count d) — the "model card" commits in
    the SAME atomic state version as the index it normalizes, so a
    reader can never pair fingerprints with a different centering
    epoch than the one that produced them."""
    import os

    from spark_data_test_spark.state import read_state_table, write_state_version

    state_path = _sim_index_path(sf_dir)
    state = read_state_table(spark, state_path)
    if state is not None:
        return state
    hist = _hist_docs(spark, sf_dir)
    with _sp_fingerprints(hist) as (fp, totals):
        docfp = _members(hist).join(fp, "gid").select("doc_id", "lo", "hi")
        meta = totals.selectExpr(
            "explode(array("
            + ", ".join(
                [
                    f"named_struct('sig', CAST({p} AS BIGINT),"
                    f" 'lo', CAST(t{p} AS BIGINT))"
                    for p in range(_SP_BITS)
                ]
                + [
                    f"named_struct('sig', CAST({_SP_BITS} AS BIGINT),"
                    " 'lo', CAST(d AS BIGINT))"
                ]
            )
            + ")) AS m"
        ).selectExpr(
            "CAST(-1 AS BIGINT) AS doc_id",
            "CAST(-1 AS INT) AS band",
            "m.sig AS sig",
            "m.lo AS lo",
            "CAST(0 AS BIGINT) AS hi",
        )
        os.makedirs(state_path, exist_ok=True)
        write_state_version(
            _sp_band_rows(docfp).unionByName(meta), state_path, retain=2
        )
    return read_state_table(spark, state_path)


@query(
    "dedup_incremental_simhash",
    f"""
    WITH {_INC_HIST_SQL.strip()},
    {_INC_NEW_SIM_SQL.strip()},
    hreps AS (
      SELECT md5(text) AS gid, MIN(text) AS text
      FROM hist GROUP BY md5(text)),
    {_inc_sp_tokens_sql("hreps", "htokens")},
    hsums AS (SELECT gid, {_SP_SUMS_SQL} FROM htokens GROUP BY gid),
    totals AS (SELECT {_SP_TOTALS_SQL} FROM hsums),
    hfpg AS (SELECT gid, {_SP_LO_SQL} AS lo, {_SP_HI_SQL} AS hi
             FROM hsums, totals),
    hfp AS (
      SELECT h.doc_id, f.lo, f.hi
      FROM hist h JOIN hfpg f ON f.gid = md5(h.text)),
    sreps AS (
      SELECT md5(text) AS gid, MIN(text) AS text
      FROM shard GROUP BY md5(text)),
    {_inc_sp_tokens_sql("sreps", "stokens")},
    ssums AS (SELECT gid, {_SP_SUMS_SQL} FROM stokens GROUP BY gid),
    sfpg AS (SELECT gid, {_SP_LO_SQL} AS lo, {_SP_HI_SQL} AS hi
             FROM ssums, totals),
    sfp AS (
      SELECT s.doc_id, f.lo, f.hi
      FROM shard s JOIN sfpg f ON f.gid = md5(s.text))
    SELECT s.doc_id AS new_doc_id, h.doc_id AS dup_of,
           CAST(bit_count(xor(s.lo, h.lo)) + bit_count(xor(s.hi, h.hi))
                AS BIGINT) AS hamming
    FROM sfp s JOIN hfp h
      ON bit_count(xor(s.lo, h.lo)) + bit_count(xor(s.hi, h.hi))
         <= {_SP_HAM_K}
    ORDER BY new_doc_id, dup_of
    """,
)
def dedup_incremental_simhash(spark, sf_dir):
    """INCREMENTAL SimHash near-dedup: probe an arriving shard's
    64-bit fingerprints against the PERSISTED band index — completing
    the production ingest triad (exact / minhash / simhash) over one
    index lifecycle. The wrinkle simhash adds over the minhash flavor
    is the CENTERING EPOCH: fingerprint bits are corpus-mean-centered
    votes (s_p * d >= t_p), so a shard fingerprinted against *today's*
    corpus mean would not be comparable with index entries built
    against *yesterday's*. The index therefore commits its frozen
    centering vector (65 marker rows: t_0..t_63 and d) in the SAME
    atomic state version as the band rows, and every shard is packed
    with those frozen totals — inlined as literals into one selectExpr
    (65 bounded scalars on the driver; zero joins) — exactly how a
    production model card travels with the artifact it parameterizes.

    Steps: (1) read the committed index (build-and-commit from the
    historical slice on cold start); (2) vote-sum ONLY the shard's
    distinct texts (`_sp_vote_sums` — the incremental cost) and pack
    with the frozen centering; (3) probe index bands with a broadcast
    hash join on (band, sig), the packed halves riding the band rows
    so exact hamming verifies INSIDE the join — by pigeonhole (8 bands,
    hamming <= 7) banding loses nothing, and the DuckDB oracle IS the
    all-pairs shard x history brute force with recomputed-from-scratch
    centering, so the hash-match proves both the banding equivalence
    and that the persisted round trip (band rows + model card) loses
    nothing; (4) commit index + shard band rows + the unchanged
    centering rows as the next version (retain=2 keeps the pre-merge
    snapshot). Partner filtering to the historical slice keeps re-runs
    idempotent after the merge, exactly like the sibling flavors."""
    import os

    from spark_data_test_spark.state import write_state_version

    state = _load_or_build_simhash_index(spark, sf_dir)
    meta = state.where(F.col("band") == -1)
    # 65 bounded rows — the frozen centering "model card", never
    # data-proportional
    tvals = {
        int(r["sig"]): int(r["lo"])
        for r in meta.select("sig", "lo").collect()
    }
    d = tvals.pop(_SP_BITS)
    lo_sql = "CAST(" + " + ".join(
        f"(CASE WHEN s{p} * CAST({d} AS BIGINT) >="
        f" CAST({tvals[p]} AS BIGINT) THEN {1 << p} ELSE 0 END)"
        for p in range(32)
    ) + " AS BIGINT)"
    hi_sql = "CAST(" + " + ".join(
        f"(CASE WHEN s{p} * CAST({d} AS BIGINT) >="
        f" CAST({tvals[p]} AS BIGINT) THEN {1 << (p - 32)} ELSE 0 END)"
        for p in range(32, _SP_BITS)
    ) + " AS BIGINT)"
    hist_index = state.where(
        (F.col("band") >= 0) & _is_historical(F.col("doc_id"))
    )
    shard = _new_shard(spark, sf_dir, _INC_SIM_OFFSET, _INC_SIM_MOD)
    sfp = _sp_vote_sums(shard).selectExpr(
        "gid", f"{lo_sql} AS lo", f"{hi_sql} AS hi"
    )
    sbands = _sp_band_rows(
        _members(shard).join(sfp, "gid").select("doc_id", "lo", "hi")
    )
    ham = F.expr("bit_count(h.lo ^ n.lo) + bit_count(h.hi ^ n.hi)").cast(
        "long"
    )
    result = (
        hist_index.alias("h")
        .join(
            F.broadcast(sbands.alias("n")),
            (F.col("h.band") == F.col("n.band"))
            & (F.col("h.sig") == F.col("n.sig")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("h.doc_id").alias("dup_of"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= _SP_HAM_K)
        # a pair sharing k bands appears k times at the same exact
        # hamming; dedup AFTER the <= K filter so the only shuffle
        # proportional to candidate volume is this survivor groupBy
        .groupBy("new_doc_id", "dup_of")
        .agg(F.min("hamming").alias("hamming"))
        .orderBy("new_doc_id", "dup_of")
    )
    # distributed materialization before the merged commit (see the
    # minhash flavor) — no driver collect on a dup-proportional frame
    result = result.localCheckpoint()
    state_path = _sim_index_path(sf_dir)
    os.makedirs(state_path, exist_ok=True)
    write_state_version(
        hist_index.unionByName(sbands).unionByName(meta),
        state_path,
        retain=2,
    )
    return result


@query(
    "corpus_source_similarity",
    """
    WITH ssh AS (
      SELECT DISTINCT source, substr(text, i, 8) AS sh
      FROM documents, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)
      WHERE length(text) >= 8),
    sizes AS (SELECT source, COUNT(*) AS n FROM ssh GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_shared
      FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2)
    SELECT s.source_a, s.source_b, s.n_shared,
           sa.n AS n_a, sb.n AS n_b,
           CAST(ROUND(1000000.0 * s.n_shared / (sa.n + sb.n - s.n_shared))
                AS BIGINT) AS jaccard_1e6
    FROM shared s
    JOIN sizes sa ON sa.source = s.source_a
    JOIN sizes sb ON sb.source = s.source_b
    ORDER BY s.source_a, s.source_b
    """,
)
def corpus_source_similarity(spark, sf_dir):
    """SOURCE-level content-overlap matrix: exact shingle Jaccard
    between every pair of document sources (char-8-gram stride-4
    shingles, the dedup family's scheme) — the cross-source
    contamination / redundancy readout a corpus-mixing pipeline
    consults before assigning per-source sampling weights (two crawls
    of the same site should not both get full weight, and an eval
    source overlapping a training source is a leak). Plan shape: one
    shingle explode + per-source distinct (hash aggregate), an in-task
    per-shingle pair expansion whose fan-out is bounded by the SOURCE
    count squared per shingle — independent of corpus size — and a
    tiny per-pair aggregate; only pairs with at least one shared
    shingle are emitted. At thousands of sources the exact join would
    give way to per-source MinHash sketches (`dedup_minhash_lsh`'s
    signature machinery over source-concatenated shingle sets); at
    typical mixing-pipeline source counts (dozens) exact is cheaper
    and exact."""
    return (
        _shingle_overlap(t(spark, sf_dir, "documents"), "source", "text")
        .toDF("source_a", "source_b", "n_shared", "n_a", "n_b", "jaccard_1e6")
        .orderBy("source_a", "source_b")
    )


def _shingle_overlap(docs, group_col, text_col):
    """Per-group shingle overlap stage: ``(group_a, group_b, n_shared,
    n_a, n_b, jaccard_1e6)`` — exact shingle-set Jaccard between every
    pair of non-NULL ``group_col`` values sharing at least one shingle,
    ``group_a < group_b``. Pairs expand in-task from each shingle's
    group set, whose width is the group count, never corpus-sized — no
    shingle-keyed self-join."""
    gq = "`" + group_col.replace("`", "``") + "`"
    tq = "`" + text_col.replace("`", "``") + "`"
    ssh = _shingle_rows(
        _shingle_sets(
            docs.select(F.col(gq).alias("_grp"), F.col(tq).alias("text")).where(
                F.col("_grp").isNotNull()
            ),
            "_grp",
        ),
        "_grp",
    ).distinct()
    shared = (
        bucket_pairs(ssh, ("sh",), "_grp", None, "group_a", "group_b")
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = ssh.groupBy("_grp").agg(F.count(F.lit(1)).alias("n"))
    return (
        shared.join(F.broadcast(sizes.toDF("group_a", "n_a")), "group_a")
        .join(F.broadcast(sizes.toDF("group_b", "n_b")), "group_b")
        .select(
            "group_a",
            "group_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "cast(round(1000000.0 * n_shared / (n_a + n_b - n_shared))"
                " as bigint)"
            ).alias("jaccard_1e6"),
        )
    )


def source_overlap(docs, group_col="source", text_col="text", max_groups=512):
    """Library operator: group-level content-overlap matrix — the
    frame-level, parameterized form of `corpus_source_similarity`
    (parity pinned in tests). Exact shingle Jaccard between every
    pair of ``group_col`` values (char-8-gram stride-4 shingles, the
    dedup family's scheme): the cross-source contamination /
    redundancy readout a corpus-mixing pipeline consults before
    assigning per-source sampling weights, generalized to any
    grouping column (crawl snapshot, language, license bucket).
    Returns ``(group_a, group_b, n_shared, n_a, n_b, jaccard_1e6)``
    for pairs sharing at least one shingle, with ``group_a <
    group_b`` (sort order of the group values).

    Plan shape: shingle explode + per-group distinct, then one
    aggregate collapses each shingle to its (bounded-by-group-count)
    member set — pair expansion happens AFTER the aggregate on rows
    whose width is the group count, never corpus-sized, so no
    shingle-keyed self-join ever runs. At thousands of groups switch
    to per-group MinHash sketches; at mixing-pipeline group counts
    (dozens) exact is cheaper and exact. NULL group values are
    excluded (a NULL cannot be a mixing weight's key).

    ``max_groups`` ENFORCES that contract (round-12 guard): the
    per-shingle member arrays and their pair expansion are quadratic
    in the group count, so a caller pointing ``group_col`` at a
    high-cardinality column (doc id, URL) would silently build huge
    arrays per shingle. Above the bound the operator raises with the
    measured cardinality instead — raise it deliberately if your
    cluster has the memory, or pre-bucket the groups."""
    gq = "`" + group_col.replace("`", "``") + "`"
    n_groups = (
        docs.where(F.col(gq).isNotNull()).select(F.col(gq)).distinct().count()
    )
    if n_groups > int(max_groups):
        raise ValueError(
            f"source_overlap: {n_groups} distinct {group_col!r} values "
            f"exceed max_groups={max_groups}; the exact matrix is "
            "quadratic in the group count — pre-bucket the groups or "
            "switch to per-group MinHash sketches (raise max_groups "
            "only if the cluster can hold group-count-wide arrays "
            "per shingle)"
        )
    return _shingle_overlap(docs, group_col, text_col)


# Test-visible hook: formatted physical plan of the most recent
# bucketed-index probe join, captured inside the managed table's
# lifecycle (the table is dropped before the caller sees the result,
# and the returned frame is an executor-local checkpoint whose plan is
# a block scan — the exchange-free assertion cannot be made on it).
_last_bucketed_probe_plan = None


@query(
    "dedup_bucketed_index_probe",
    f"""
    WITH {_INC_HIST_SQL.strip()},
    {_INC_NEW_NEAR_SQL.strip()},
    {_inc_sh_sql("hist", "hsh")},
    {_inc_mh_sql("hsh", "hmh")},
    {_inc_bands_sql("hmh", "hbands")},
    {_inc_sh_sql("shard", "nsh")},
    {_inc_mh_sql("nsh", "nmh")},
    {_inc_bands_sql("nmh", "nbands")}
    SELECT DISTINCT n.doc_id AS new_doc_id, h.doc_id AS dup_of
    FROM nbands n JOIN hbands h ON n.band = h.band AND n.sig = h.sig
    ORDER BY 1, 2
    """,
)
def dedup_bucketed_index_probe(spark, sf_dir):
    """The 100 TB index layout the incremental family's docstrings
    promise, actually built: the historical (band, sig) MinHash index
    persisted as a catalog table BUCKETED AND SORTED by the probe key
    (band and sig fused into one `sigb` column so bucket hashing,
    in-bucket sort order, and the join key are the SAME column), then
    probed by shard band rows. Because the scan itself delivers
    hash-distributed sorted partitions, a shard too large to broadcast
    sort-merge-joins against the index with ZERO exchange on the index
    side — and zero sort too when the reader is told to trust the
    one-file-per-bucket order (spark.sql.legacy.bucketedTableScan.
    outputOrdering; write_bucketed's pre-write repartition guarantees
    the one-file layout) — repeated ingests never shuffle the index,
    which is the property that makes a fingerprint index viable when
    it is itself tens of terabytes (pinned by tests/test_plans.py via
    the `_last_bucketed_probe_plan` hook; at this SF the default plan
    broadcasts the shard, which is also exchange-free on the index).
    Candidates emitted are exactly the incremental minhash oracle's
    `cand` CTE — fusing the key loses nothing (sigb equality iff band
    and sig both equal). The managed table is uuid-scoped and dropped
    in ``finally``; at 100 TB it would be the permanent asset."""
    import uuid as uuidlib

    from spark_data_test_spark.plans.audit import formatted_plan
    from spark_data_test_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )
    global _last_bucketed_probe_plan

    def sigb(df):
        return df.select(
            F.concat_ws(
                ":", F.col("band").cast("string"), F.col("sig")
            ).alias("sigb"),
            "doc_id",
        )

    index = sigb(minhash_band_index(_hist_docs(spark, sf_dir)))
    table = f"spark_graft_bidx_{uuidlib.uuid4().hex[:10]}"
    write_bucketed(index, table, keys=["sigb"], num_buckets=16)
    try:
        idx = read_bucketed(spark, table)
        shard_bands = sigb(
            minhash_band_index(_new_shard(spark, sf_dir, _INC_NEAR_OFFSET, 11))
        ).withColumnRenamed("doc_id", "new_doc_id")
        joined = shard_bands.join(idx, "sigb").select(
            "new_doc_id", F.col("doc_id").alias("dup_of")
        )
        # hook captures the JOIN stage alone: the exchange-free-index
        # property lives there; distinct/orderBy add their own
        # (result-sized) exchanges that would drown the assertion
        _last_bucketed_probe_plan = formatted_plan(joined)
        # distributed materialization (pair volume is dup-proportional
        # — same reasoning as the incremental family's checkpoints);
        # the checkpoint decouples the frame from the table dropped in
        # finally without a driver-memory bound
        probe = (
            joined.distinct()
            .orderBy("new_doc_id", "dup_of")
            .localCheckpoint()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    return probe


@query(
    "text_knn_graph",
    f"""
    WITH {_NEAR_CORPUS_SQL.strip()},
    gtexts AS (
      SELECT DISTINCT md5(text) AS gid, text
      FROM corpus WHERE length(text) >= 8),
    gsh AS (
      SELECT DISTINCT gid, substr(text, i, 8) AS sh
      FROM gtexts, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)),
    sh AS (SELECT gid AS doc_id, sh FROM gsh),
    {_MINHASH_SQL},
    {_BANDS_SQL},
    {_PAIRS_SQL.strip()},
    sizes AS (SELECT gid, COUNT(*) AS n FROM gsh GROUP BY gid),
    ci AS (
      SELECT p.doc_a AS ga, p.doc_b AS gb, COUNT(b.sh) AS i
      FROM pairs p
      JOIN gsh a ON a.gid = p.doc_a
      LEFT JOIN gsh b ON b.gid = p.doc_b AND b.sh = a.sh
      GROUP BY 1, 2),
    cosz AS (
      SELECT ga, gb, i, sa.n AS na, sb.n AS nb
      FROM ci
      JOIN sizes sa ON sa.gid = ga
      JOIN sizes sb ON sb.gid = gb),
    sym AS (
      SELECT ga AS g, gb AS p, i, na AS n_self, nb AS n_peer FROM cosz
      UNION ALL
      SELECT gb AS g, ga AS p, i, nb AS n_self, na AS n_peer FROM cosz)
    SELECT g AS gid, rank, p AS peer_gid,
           CAST(ROUND(1000000.0 * i / (n_self + n_peer - i)) AS BIGINT)
             AS jaccard_1e6
    FROM (SELECT g, p, i, n_self, n_peer,
                 ROW_NUMBER() OVER (
                   PARTITION BY g
                   ORDER BY 1000000.0 * i / (n_self + n_peer - i) DESC, p)
                   AS rank
          FROM sym)
    WHERE rank <= 3
    ORDER BY gid, rank
    """,
)
def text_knn_graph(spark, sf_dir):
    """k-NEAREST-NEIGHBOR text graph (k=3) over the BANDED CANDIDATE
    SET: for every distinct text, its top-3 most-similar peers by
    EXACT shingle Jaccard among the MinHash-LSH candidates — the edge
    list a corpus-curation pipeline feeds into clustering, diversity
    sampling, or near-dup triage when a binary is-dup verdict is too
    coarse.

    Round-7 cut (VERDICT r6 item 2): the earlier build ranked peers
    from the full stop-shingle-capped co-count truth frame, paying the
    unsampled inverted-index self-join (9.6 s at sf0.1, the top bench
    line). Peer DISCOVERY now reuses the memoized banding candidate
    pairs (`_cached_gid_pairs`) that minhash dedup, the recall eval,
    and jaccard verification already share, and the EXACT intersection
    is computed only for those candidates via a per-distinct-text
    shingle-array join (two hash joins sized by the dup-proportional
    candidate count; `array_intersect` in-task; no self-join anywhere).
    Exactness argument for the range that matters: with {_N_HASHES}
    hashes in {_BANDS} bands of 3 rows, a pair at Jaccard J is a
    candidate with probability 1-(1-J^3)^{_BANDS} — 94% at J=0.8,
    99.5% at J=0.9, and exact duplicates (identical signatures) pair
    always; `dedup_lsh_recall_report` MEASURES the tail of this curve
    each round at tau=0.5 on the same shared frames. Below the
    near-dup range candidacy decays by design — that decay is what
    bounds edge volume at 100 TB, where an exact all-range k-NN graph
    has no sub-quadratic plan. Ranking ties break on peer gid
    ascending, so the graph is bit-deterministic against the oracle,
    which replays the identical minhash/banding pipeline in DuckDB."""
    sets = _cached_sets(spark, sf_dir)
    _, jac = _set_jaccard()
    cosz = _attach_sets(
        _cached_gid_pairs(spark, sf_dir), "gid_a", sets, "gid_b", sets
    ).select("gid_a", "gid_b", jac.alias("jac"))
    return (
        _top_k(cosz, 3, "gid", "peer_gid")
        .select(
            "gid", "rank", "peer_gid", F.round("jac").cast("long").alias("jaccard_1e6")
        )
        .orderBy("gid", "rank")
    )


def _top_k(edges, k, node, peer):
    """Top-k ranking stage: symmetrize the ``(a, b, score)`` edges and
    keep each ``node``'s ``k`` best peers, score descending, ties broken
    by ``peer`` ascending, as ``(node, peer, score, rank)``. The window
    shuffles edges, never the corpus."""
    a, b, score = edges.columns
    sym = edges.toDF(node, peer, score).unionByName(
        edges.select(F.col(b).alias(node), F.col(a).alias(peer), score)
    )
    w = Window.partitionBy(node).orderBy(F.col(score).desc(), peer)
    return sym.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= F.lit(int(k))
    )


# ---------------------------------------------------------------------------
# Library surface: frame-level dedup APIs (round 8)
# ---------------------------------------------------------------------------


def exact_dup_groups(docs):
    """Library operator: exact duplicate grouping over an arbitrary
    ``(doc_id, text)`` frame. Returns ``(doc_id, gid, is_survivor)``
    where ``gid = md5(text)`` is the content-hash group and the
    survivor is the group's minimum ``doc_id`` — the same
    content-hash-groupBy + min-id survivorship rule the registered
    `dedup_exact`/`dedup_survivorship` queries pin against their
    oracles, exposed for frames the registry does not know about.
    One shuffle (the group-min aggregate); the join back is
    AQE-planned, broadcast while the group table is small."""
    g = _members(docs)
    mins = g.groupBy("gid").agg(F.min("doc_id").alias("_survivor"))
    return g.join(mins, "gid").select(
        "doc_id",
        "gid",
        (F.col("doc_id") == F.col("_survivor")).alias("is_survivor"),
    )


def minhash_band_index(docs):
    """Library operator: banded MinHash fingerprint rows
    ``(doc_id, band, sig)`` for an arbitrary ``(doc_id, text)`` frame —
    the exact persisted-index layout the incremental dedup family
    probes (``_N_HASHES`` = 12 hashes in ``_BANDS`` = 4 bands of 3;
    strided char-8-gram shingle sets; docs shorter than 8 chars produce
    no rows). Two frames with equal texts produce identical rows, so an
    index built here is probe-compatible with every banding join in
    the engine."""
    sets = _shingle_sets(docs.select("doc_id", "text"))
    return _band_index(_signatures(sets))


def near_dup_pairs(docs, tau_1e6=500000):
    """Library operator: MinHash-LSH verified near-duplicate pairs over
    an arbitrary ``(doc_id, text)`` frame. Returns
    ``(doc_a, doc_b, jaccard_1e6)`` with ``doc_a < doc_b``. A pair with
    DIFFERENT texts appears iff its distinct-text groups collide in at
    least one band AND their exact shingle-set Jaccard (integer
    micro-units) is ``>= tau_1e6``; pairs with IDENTICAL texts are
    always emitted with ``jaccard_1e6 = 1000000`` (exact dups need no
    fingerprint — this includes texts shorter than the 8-char shingle
    width, which have no bands at all).

    Architecture matches the registered pipeline
    (`dedup_minhash_lsh` -> `dedup_near_jaccard`):
    EXACT-DEDUP-BEFORE-NEAR-DUP — the whole LSH pipeline runs once per
    DISTINCT text, the gated banding expansion (`_band_pairs`) and
    the Jaccard verify (`_jaccard_verify`) are bounded by candidate
    GROUPS (k exact copies of a text shrink both by k^2), and doc
    pairs are reconstructed by a members join at the end. The returned
    frame is an executor-local checkpoint (pair-volume-sized,
    dup-proportional) so the internal caches are released before the
    caller executes it."""
    members, sets = _text_groups(docs.select("doc_id", "text"), keep_short=True)
    with _scoped(members.persist(), sets.persist()), _minhash_gid_pairs(sets) as gp:
        return _expand_group_pairs(
            members, _jaccard_verify(sets, gp, tau_1e6), jaccard_1e6=1_000_000
        ).localCheckpoint(eager=True)


def containment_pairs(docs, tau_1e6=_CONTAIN_1E6, stop_df=_STOP_SH_DF):
    """Library operator: asymmetric CONTAINMENT pairs over an arbitrary
    ``(doc_id, text)`` frame — the frame-level form of
    `dedup_containment`, detecting the duplication mode Jaccard misses
    by construction (a short doc quoted inside a long one has tiny
    Jaccard but containment ~1 — the signal contamination tracing
    needs). Returns ``(contained_id, container_id, containment_1e6)``
    where containment = |A∩B| / min(|A|,|B|) over the engine's strided
    char-8-gram shingle sets and the orientation is resolved by
    shingle-set size. Pairs with EQUAL set sizes are excluded (at
    containment >= 0.8 they are ordinary near-dups — `near_dup_pairs`'
    jurisdiction), identical texts never pair, and docs shorter than
    the 8-char shingle width have no set and never pair.

    NOT an LSH plan: MinHash banding targets Jaccard and provably
    misses low-Jaccard containment pairs, so discovery runs on the
    shingle INVERTED INDEX with stop-shingle-capped discovery —
    restricted to shingles in <= ``stop_df`` distinct texts and
    expanded IN-TASK from per-shingle posting lists bounded at
    ``stop_df`` gids each (work bounded by per-rare-shingle frequency
    squares; at 100 TB the cap is the difference between an index
    plan and a licence-header cross-join) while the intersection
    stays EXACT:
    the hot remainder folds in from per-text hot-shingle arrays
    joined by gid (the only FORCED broadcast anywhere is the small
    Zipf-head hot-shingle list; rare = all − hot rides a left_anti
    join against it), no second self-join. The one documented miss
    (shared with
    the registered query): a qualifying pair ALL of whose shared
    shingles sit in more than ``stop_df`` texts — boilerplate-only
    overlap by construction, measured zero lost at sf0.1. Group-level
    like the rest of the family: everything runs once per DISTINCT
    text; doc pairs are reconstructed by a members join, and the
    result is an executor-local checkpoint so the scaffolding caches
    release before the caller executes it."""
    tau_1e6 = int(tau_1e6)
    if not 0 < tau_1e6 <= 1_000_000:
        raise ValueError(
            "containment_pairs: tau_1e6 must be in (0, 1000000]"
        )
    members, sets = _text_groups(docs.select("doc_id", "text"), keep_short=True)
    with _scoped(members.persist(), sets.persist()), _gid_co_counts(sets, stop_df) as co:
        return (
            _contained(co, tau_1e6)
            .join(
                members.select(
                    F.col("gid").alias("gid_s"), F.col("doc_id").alias("contained_id")
                ),
                "gid_s",
            )
            .join(
                members.select(
                    F.col("gid").alias("gid_l"), F.col("doc_id").alias("container_id")
                ),
                "gid_l",
            )
            .select("contained_id", "container_id", "containment_1e6")
            .localCheckpoint(eager=True)
        )


def simhash_near_dup_pairs(docs, max_hamming=_SP_HAM_K):
    """Library operator: SimHash near-duplicate pairs over an arbitrary
    ``(doc_id, text)`` frame with EXACT recall. Returns
    ``(doc_a, doc_b, hamming)`` with ``doc_a < doc_b``: every pair of
    docs whose 64-bit mean-centered Manku fingerprints differ in at
    most ``max_hamming`` positions, plus identical-text pairs at
    hamming 0. ``max_hamming`` must stay <= 7: recall is exact by
    pigeonhole over the 8 bands (7 differing bits cannot dirty all 8),
    so the banded plan provably equals the all-pairs brute force — the
    same contract the registered `dedup_simhash_pairs` hash-matches
    per SF. Docs with no whitespace tokens carry no fingerprint and
    never pair (matching the registered query's semantics).

    Group-level like the rest of the family: fingerprints, banding,
    and the packed-popcount hamming verify (pushed into the gated
    banding expansion, `_sp_gid_pairs`) run once per DISTINCT text; doc pairs
    are reconstructed by a members join. The result is an
    executor-local checkpoint (pair-volume-sized) so the fingerprint
    checkpoints release before the caller executes it."""
    if not 0 <= max_hamming <= _SP_HAM_K:
        raise ValueError(
            f"max_hamming must be in [0, {_SP_HAM_K}] — banding recall "
            f"is only exact up to {_SP_HAM_K} differing bits"
        )
    docs = docs.select("doc_id", "text")
    with _sp_fingerprints(docs) as (fp, _), _scoped(
        checkpointed(fp), _members(docs).persist()
    ) as (fp, members):
        gpairs = _sp_gid_pairs(_sp_banded(fp), max_hamming=max_hamming)
        m_fp = members.join(fp.select("gid"), "gid")
        return _expand_group_pairs(m_fp, gpairs, hamming=0).localCheckpoint(
            eager=True
        )


def knn_text_graph(docs, k=3):
    """Library operator: k-nearest-neighbor TEXT graph over the banded
    candidate set — for every document, its top-``k`` most-similar
    peers by exact shingle Jaccard among the MinHash-LSH candidates
    (the frame-level form of the registered `text_knn_graph` query;
    the edge list a corpus-curation pipeline feeds into clustering,
    diversity sampling, or near-dup triage when a binary is-dup
    verdict is too coarse). Returns ``(doc_id, peer_id, rank,
    jaccard_1e6)`` with rank 1..k per doc, ties broken by peer id
    ascending. Exact-dup texts are each other's strongest neighbors
    (jaccard 1e6); documents with no banding candidate emit no rows.

    Candidacy is the LSH contract, not all-pairs: a pair at Jaccard J
    collides in >= 1 of the 4 bands with probability 1-(1-J^3)^4 (94%
    at J=0.8; always, for exact dups), and below the near-dup range
    candidacy decays by design — that decay is what bounds edge volume
    at 100 TB, where an exact all-range k-NN graph has no
    sub-quadratic plan. The pipeline is `near_dup_pairs` at the
    minimum verify floor (any shared shingle), so the whole build is
    bounded by candidate pairs; the top-k window shuffles edges, not
    the corpus."""
    return _top_k(near_dup_pairs(docs, tau_1e6=1), k, "doc_id", "peer_id").select(
        "doc_id", "peer_id", "rank", "jaccard_1e6"
    )


def dedup_corpus(docs, tau_1e6=500000, min_chars=8):
    """Library operator: the full curation dedup WATERFALL for an
    arbitrary ``(doc_id, text)`` frame — short-text filter -> exact
    dedup (min-id survivor per byte-identical text) -> MinHash+LSH
    near-dedup (banded candidates, exact-Jaccard >= ``tau_1e6``
    verify, min-id survivor), each stage running only on the previous
    stage's survivors (the frame-level form of the registered
    `corpus_dedup_waterfall`, which reports the per-stage counts this
    returns per-document). Returns one row per input doc:
    ``(doc_id, stage, survivor_of)`` where ``stage`` is the stage that
    removed the doc (``'short'`` | ``'exact'`` | ``'near'``) or
    ``'kept'``, and ``survivor_of`` is the doc it deduplicated to
    (NULL for kept/short rows).

    Removal rule at stage 3 matches the family's survivorship
    semantics: a doc is removed when ANY verified partner has a
    smaller id (reproducible min-id, not order-dependent greedy); its
    ``survivor_of`` is the smallest such partner. Exact-before-near is
    the production ordering because it makes the band self-join run
    over distinct texts only (k exact copies shrink the buckets by
    k^2) — here obtained structurally, since stage 3's input is one
    doc per distinct text. NULL or sub-``min_chars`` texts drop at
    stage 1 (too short to shingle). ``survivor_of`` keeps the input
    ``doc_id`` type (string ids — which the rest of the family
    supports — must not be cast away into NULLs)."""
    docs = docs.select("doc_id", "text")
    id_type = docs.schema["doc_id"].dataType
    is_short = F.col("text").isNull() | (F.length("text") < int(min_chars))
    base = docs.withColumn("_short", is_short)
    long_docs = base.where(~F.col("_short"))
    grouped = long_docs.withColumn(
        "_smin", F.min("doc_id").over(Window.partitionBy("text"))
    )
    survivors2 = grouped.where(F.col("doc_id") == F.col("_smin")).select(
        "doc_id", "text"
    )
    pairs = near_dup_pairs(survivors2, tau_1e6=tau_1e6)
    near_removed = pairs.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.min("doc_a").alias("_near_by")
    )
    verdicts = (
        base.join(
            grouped.select("doc_id", "_smin"), "doc_id", "left"
        )
        .join(near_removed, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_short"), "short")
            .when(F.col("doc_id") != F.col("_smin"), "exact")
            .when(F.col("_near_by").isNotNull(), "near")
            .otherwise("kept")
            .alias("stage"),
            F.when(F.col("_short"), F.lit(None).cast(id_type))
            .when(F.col("doc_id") != F.col("_smin"), F.col("_smin"))
            .otherwise(F.col("_near_by"))
            .cast(id_type)
            .alias("survivor_of"),
        )
    )
    return verdicts


def minhash_index_build(docs, index_path):
    """Library operator: commit the banded MinHash fingerprint rows of
    ``docs`` as version 0 of a persisted, versioned index at
    ``index_path`` — "the index is the asset": history is fingerprinted
    ONCE, and every later arrival batch probes the committed rows
    instead of re-fingerprinting the corpus (the incremental posture
    the registered `dedup_index_build` / `dedup_incremental_minhash` /
    `streaming_incremental_minhash` family runs). The write is the
    engine's crash-safe `write_state_version` commit (scratch write +
    atomic rename; readers never see a partial index)."""
    import os

    from spark_data_test_spark.state import write_state_version

    os.makedirs(index_path, exist_ok=True)
    write_state_version(minhash_band_index(docs), index_path, retain=2)


# Tombstone marker in the band-index log: real band ids are
# nonnegative, so a row with this band is a committed DELETE of its
# doc_id (`minhash_index_delete`). The live view drops a doc's band
# rows committed at-or-before its newest tombstone, so a later
# re-ingest (higher version) resurrects the doc — the same LSM rule
# as the IVF postings log.
_MH_TOMBSTONE_BAND = -1


def _live_band_rows(log):
    """Resolve a version-tagged band-index log (columns doc_id, band,
    sig, _mv) to its LIVE rows: per doc, band rows newer than the
    doc's newest tombstone survive. The tombstone frame is
    deleted-docs-sized (one aggregate row per doc ever deleted), so
    the left join broadcasts under AQE while small and shuffles
    doc-keyed when it is not."""
    tombs = (
        log.where(F.col("band") == _MH_TOMBSTONE_BAND)
        .groupBy("doc_id")
        .agg(F.max("_mv").alias("_tv"))
    )
    return (
        log.where(F.col("band") != _MH_TOMBSTONE_BAND)
        .join(tombs, "doc_id", "left")
        .where(F.col("_tv").isNull() | (F.col("_mv") > F.col("_tv")))
        .drop("_tv", "_mv")
    )


def minhash_index_delete(spark, index_path, ids, id_col="doc_id"):
    """Library operator: REMOVE documents from the committed band
    index — the takedown event for the text-dedup index, mirroring
    `ivf_index_delete` for the ANN index. Commits one TOMBSTONE row
    per distinct id (band = -1, no signature) as the next log delta;
    probes resolve each doc against its newest tombstone, so a deleted
    doc stops matching as a partner, a later `minhash_index_probe(
    commit=True)` re-ingest resurrects it, and deleting an unknown id
    is a harmless no-op. `minhash_index_compact` folds the log through
    this live view, physically dropping tombstoned rows. ``ids`` is an
    iterable of id values or a DataFrame whose ``id_col`` holds them.
    Returns the committed delta version."""
    from pyspark.sql import DataFrame

    from spark_data_test_spark.state import (
        RETAIN_ALL,
        read_state_table,
        write_state_version,
    )

    base = read_state_table(spark, index_path)
    if base is None:
        raise ValueError(
            f"minhash_index_delete: no committed index at {index_path}"
            " (run minhash_index_build first)"
        )
    types = {f.name: f.dataType for f in base.schema.fields}
    if isinstance(ids, DataFrame):
        idf = ids.select(F.col(id_col).alias("doc_id")).distinct()
    else:
        ids = list(ids)
        if not ids:
            raise ValueError("minhash_index_delete: empty id set")
        idf = spark.createDataFrame(
            [(i,) for i in ids], ["doc_id"]
        ).distinct()
    tomb = idf.select(
        F.col("doc_id").cast(types["doc_id"]),
        F.lit(_MH_TOMBSTONE_BAND).cast(types["band"]).alias("band"),
        F.lit(None).cast(types["sig"]).alias("sig"),
    )
    return write_state_version(tomb, index_path, retain=RETAIN_ALL)


def minhash_index_compact(spark, index_path):
    """Library operator: fold the band-index LOG into one live-rows
    snapshot — the resolving LSM compaction for the text-dedup index.
    NOT the generic `compact_state_versions`: that folds the raw
    union, which would freeze tombstones and the rows they superseded
    at ONE version and break the delete semantics (the same gotcha
    `ivf_index_compact` documents for the postings log). This
    compactor applies the index's live view BEFORE committing, so the
    folded snapshot holds exactly the band rows a probe would match;
    later probe/commit deltas extend the log from this fresh base.
    Returns the committed snapshot version, or None for a missing
    index."""
    from spark_data_test_spark.state import (
        read_state_union,
        write_state_version,
    )

    log = read_state_union(spark, index_path, version_col="_mv")
    if log is None:
        return None
    return write_state_version(
        _live_band_rows(log), index_path, retain=1
    )


def minhash_index_probe(
    new_docs, index_path, resolver, tau_1e6=500000, commit=False
):
    """Library operator: incremental near-dup detection — fingerprint
    ONLY ``new_docs`` and probe the persisted band index (every
    committed version unioned, so earlier committed batches count as
    history too). Returns ``(new_doc_id, dup_of, jaccard_1e6)``: one
    row per (new doc, indexed partner) pair that collides in >= 1 band
    AND verifies at exact shingle Jaccard >= ``tau_1e6``. ``resolver``
    is a ``(doc_id, text)`` frame that can resolve partner ids to
    texts (the historical corpus frame is fine — only the matched
    partner SLICE is ever shingled, via a semi-join). With
    ``commit=True`` the batch's own band rows are appended as the next
    delta version after the probe plan is built, making the call an
    ingestion step (probe-then-commit, the log-structured pattern the
    streaming family uses). Delta commits retain EVERY version — the
    log IS the index, so pruning would silently lose history (base
    snapshot first, as an advisory review pointed out); space is
    reclaimed by folding the log with `minhash_index_compact`, the
    RESOLVING compactor (since `minhash_index_delete` landed, the log
    can carry tombstones, so the generic `compact_state_versions`
    would freeze deletes — same rule as the IVF postings log), safe
    at any cadence.

    Pairs WITHIN ``new_docs`` are deliberately out of scope — run
    `near_dup_pairs(new_docs)` for those; this operator's cost is
    O(batch) fingerprinting + a candidate-bounded verify, never
    O(history). Docs shorter than the 8-char shingle width produce no
    bands and therefore no probe hits."""
    from spark_data_test_spark.state import (
        read_state_union,
        write_state_version,
    )

    spark = new_docs.sparkSession
    new_docs = new_docs.select("doc_id", "text")
    log = read_state_union(spark, index_path, version_col="_mv")
    if log is None:
        raise ValueError(
            f"minhash_index_probe: no committed index at {index_path}"
            " (run minhash_index_build first)"
        )
    # resolve tombstones (`minhash_index_delete`) to the LIVE view:
    # deleted docs stop matching; re-ingested docs match again
    idx = _live_band_rows(log)
    bands = minhash_band_index(new_docs).persist()
    try:
        cand = (
            bands.alias("s")
            .join(idx.alias("p"), ["band", "sig"])
            .select(
                F.col("s.doc_id").alias("new_doc_id"),
                F.col("p.doc_id").alias("dup_of"),
            )
            .distinct()
        )
        # exact verify on the candidate slice only: per-doc shingle
        # SETS attach to the pair frame and intersect in-task
        partners = resolver.select("doc_id", "text").join(
            cand.select(F.col("dup_of").alias("doc_id")).distinct(), "doc_id"
        )
        _, jac = _set_jaccard()
        result = (
            _attach_sets(
                cand,
                "new_doc_id",
                _shingle_sets(new_docs),
                "dup_of",
                _shingle_sets(partners),
            )
            .where(F.round(jac).cast("long") >= int(tau_1e6))
            .select(
                "new_doc_id",
                "dup_of",
                F.round(jac).cast("long").alias("jaccard_1e6"),
            )
            .localCheckpoint(eager=True)
        )
        if commit:
            # The band index is a LOG table: a finite retain would
            # prune v0 — the full-corpus base fingerprints — and probes
            # would silently stop matching history (state.RETAIN_ALL
            # documents the convention; compact_state_versions is the
            # space lever).
            from spark_data_test_spark.state import RETAIN_ALL

            write_state_version(bands, index_path, retain=RETAIN_ALL)
        return result
    finally:
        bands.unpersist()


def minhash_index_stats(spark, index_path):
    """Library operator: observability readout for the persisted band
    index — `ivf_index_stats`'s sibling for the text-dedup side.
    Returns a single-row frame:

    - ``n_live_docs`` / ``n_live_rows``: distinct documents with live
      band rows, and the live rows themselves,
    - ``n_log_rows`` / ``n_versions``: raw log volume and committed
      version count (depth -> `minhash_index_compact` signal),
    - ``n_tombstones``: committed delete markers still in the log,
    - ``max_bucket_rows``: the hottest (band, sig) bucket's live row
      count — probe joins collide on these buckets, so this is the
      skew signal (a boilerplate-heavy corpus shows up here first).

    One aggregation pass over the live view plus one over the raw
    log; only the summary row reaches the driver. Returns None for a
    missing index."""
    from spark_data_test_spark.state import read_state_union

    log = read_state_union(spark, index_path, version_col="_mv")
    if log is None:
        return None
    live = _live_band_rows(log)
    per_bucket = live.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct("doc_id").alias("_d"),
    )
    # n_live_rows folds out of the bucket histogram (one live-view
    # execution); distinct docs need their own keyed aggregate
    buckets = per_bucket.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias(
            "n_live_rows"
        ),
        F.coalesce(F.max("_n"), F.lit(0)).cast("long").alias(
            "max_bucket_rows"
        ),
    )
    docs = live.agg(F.count_distinct("doc_id").alias("n_live_docs"))
    raw = log.agg(
        F.count(F.lit(1)).alias("n_log_rows"),
        F.count_distinct("_mv").alias("n_versions"),
        F.sum(
            (F.col("band") == F.lit(_MH_TOMBSTONE_BAND)).cast("long")
        ).alias("n_tombstones"),
    )
    return (
        docs.crossJoin(F.broadcast(buckets))
        .crossJoin(F.broadcast(raw))
        .select(
            "n_live_docs",
            "n_live_rows",
            "n_log_rows",
            "n_versions",
            F.coalesce("n_tombstones", F.lit(0)).cast("long").alias(
                "n_tombstones"
            ),
            "max_bucket_rows",
        )
    )
