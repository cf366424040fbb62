"""Small column helpers shared across operators."""

import pyspark.sql.functions as F


def set_value_ifnull(column_name, value):
    """NULL-default (SURVEY.md §2.2 P7); reference spark_utils.py:4-5."""
    return F.when(F.col(column_name).isNull(), value).otherwise(F.col(column_name))


def get_session(app_name="spark-data-test-spark", master=None, shuffle_partitions=None):
    """Build a SparkSession tuned for this engine.

    AQE is enabled (runtime partition coalescing + skew-join splitting)
    — the default posture for the 100 TB design target.
    """
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder.getOrCreate()


def local_df(spark, rows, schema):
    """Single-partition DataFrame from driver-local rows.

    ``createDataFrame`` parallelizes even a 1-row list into
    defaultParallelism slices, and ``.coalesce(1)`` on that is WORSE:
    one task that sequentially evaluates all 32 empty parent
    partitions, ~3 s per action on local[32] (measured). Parallelizing
    into one slice up front makes every later action on the (tiny)
    frame a genuine single-task job."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def checkpointed(df):
    """``localCheckpoint(eager=True)`` that stays releasable.

    Checkpointing truncates a wide logical lineage to a leaf scan
    (downstream consumers stop re-analyzing the build tree on the
    driver), but ``DataFrame.unpersist()`` does NOT free a checkpoint's
    storage blocks — only the internal checkpointed RDD's ``unpersist``
    does, and by default nothing holds a handle to it, so evicted
    frames would pin executor storage until driver GC. This helper
    grabs that RDD (from the LogicalRDD plan the checkpoint produces)
    and stashes it on the DataFrame for `release_frame`."""
    ck = df.localCheckpoint(eager=True)
    try:
        ck._spark_graft_ckpt_rdd = ck._jdf.queryExecution().logical().rdd()
    except Exception:
        ck._spark_graft_ckpt_rdd = None  # internal API moved: GC fallback
    return ck


def release_frame(df, release_checkpoint=True):
    """Release a frame produced by ``persist`` OR `checkpointed` —
    the default FrameCache release callback.

    ``release_checkpoint=False`` keeps a localCheckpoint's RDD blocks
    alive: unlike a persisted frame (which recomputes on access after
    unpersist), a checkpointed frame whose blocks are freed is
    permanently unexecutable — so capacity eviction, where an evicted
    frame may still be referenced by an in-flight plan, must not free
    them; only ``FrameCache.clear()`` / explicit teardown does."""
    if release_checkpoint:
        jrdd = getattr(df, "_spark_graft_ckpt_rdd", None)
        if jrdd is not None:
            try:
                jrdd.unpersist(False)
            except Exception:
                pass
    try:
        df.unpersist()
    except Exception:
        pass


# Every session memo in the package. FrameCache instances add
# themselves on construction and plain dict memos through
# `register_memo`, so only imported modules (the only ones whose memos
# can hold anything) appear here and no hand-kept list can go stale.
_MEMOS = []


def register_memo(store):
    """Add a session memo (anything with ``clear()``) to the set that
    `clear_all` resets; returns ``store`` for ``_MEMO = register_memo({})``."""
    _MEMOS.append(store)
    return store


def clear_all():
    """Reset every registered session memo: cached frames are released
    (blocks included) and their entries dropped. Timing harnesses call
    this between passes so a pass measures real work, not memo hits."""
    for store in _MEMOS:
        store.clear()


class FrameCache:
    """Bounded keyed memo of persisted DataFrames, shared by the engine
    and the dedup pipeline. Eviction is LRU (a cache hit refreshes the
    entry's position); evicted and cleared entries are released through
    the supplied callback so cached blocks never outlive their use.
    Every instance registers itself for `clear_all`.

    Thread-safe: store mutations hold a lock (drivers submitting jobs
    from a ThreadPoolExecutor are a supported caller). The builder runs
    OUTSIDE the lock — builds can take seconds and must not serialize
    unrelated cache traffic — so two threads may race to build the same
    key; the loser's frame is released, the winner's is kept and both
    callers receive the same winner (loser-releases strategy).
    """

    def __init__(self, max_entries=2, release=None):
        import threading

        self._store = {}
        self._max = max_entries
        self._release = release or release_frame
        # Capacity-evicted frames may still be referenced by in-flight
        # plans; freeing a localCheckpoint's blocks would make those
        # frames permanently unexecutable (persist merely recomputes).
        # Eviction therefore keeps checkpoint blocks (driver GC reaps
        # them eventually); clear()/teardown does the full release.
        self._evict_release = (
            (lambda df: release_frame(df, release_checkpoint=False))
            if release is None
            else self._release
        )
        self._lock = threading.Lock()
        register_memo(self)

    def _safe_release(self, value, evict=False):
        try:
            (self._evict_release if evict else self._release)(value)
        except Exception:
            pass

    def get_or_create(self, key, builder):
        with self._lock:
            value = self._store.pop(key, None)
            if value is not None:
                self._store[key] = value  # LRU refresh
                return value
        built = builder()
        race_loser = None
        evicted = []
        with self._lock:
            value = self._store.pop(key, None)
            if value is not None:
                # another thread built and inserted first: keep theirs
                self._store[key] = value
                race_loser = built
            else:
                while len(self._store) >= self._max:
                    evicted.append(self._store.pop(next(iter(self._store))))
                self._store[key] = value = built
        # The race loser was never handed to any caller, so a FULL
        # release (checkpoint blocks included) is safe — unlike
        # capacity-evicted entries, which in-flight plans may still
        # reference.
        if race_loser is not None:
            self._safe_release(race_loser)
        for stale in evicted:
            self._safe_release(stale, evict=True)
        return value

    def clear(self):
        with self._lock:
            values, self._store = list(self._store.values()), {}
        for value in values:
            self._safe_release(value)


def bucket_pairs(rows, key_cols, member_col, cap, out_a="m_a", out_b="m_b"):
    """Unordered member pairs per bucket — the one bucket-to-pair
    expansion behind every banding, inverted-index and co-occurrence
    site.

    Input: one row per (bucket key, member). Output: one row per
    (bucket, unordered member pair) with ``out_a < out_b`` by the
    member column's natural ordering (a struct member orders by its
    first field, so put the unique id first); a pair sharing several
    buckets appears once per bucket, so callers dedup (``distinct``)
    or aggregate (pair support counts, ``min`` of a verify score)
    downstream. NULL members never pair; a NULL bucket key forms a
    bucket (groupBy semantics) on both branches below.

    Buckets at or under ``cap`` members expand IN-TASK from one sorted
    map-side-combinable ``collect_set`` aggregate (one exchange of the
    bucket rows, no join), via a two-level explode (posexplode, then
    the i-tail slice) so per-row transient memory is O(bucket), never
    O(bucket^2). Buckets ABOVE ``cap`` — degenerate keys such as an
    empty-text band signature or a boilerplate mega-bucket — would
    otherwise materialize a corpus-proportional array in a single
    aggregation buffer, so they fall back to the streaming bucket
    self-join: identical pair set, O(1) memory per comparison. The
    oversized-key list comes from one count aggregate and is broadcast
    (it holds at most total-rows / cap keys); both the gate and the
    fallback match keys null-safely, so a NULL-keyed mega-bucket takes
    the fallback like any other. Gated, ``rows`` must be unique per
    (key, member) — the self-join does not dedup — and cheap to
    rescan (persisted, checkpointed, or a narrow projection of one):
    it is read three times (size pass, cold aggregate, hot join).

    ``cap=None`` skips the size pass and the fallback: every bucket
    expands in-task. Only for sites whose buckets are bounded by
    construction (a stop-df cap, a group-count limit, a basket-size
    data contract); duplicate rows are then harmless."""
    keys = list(key_cols)

    def in_task(bucket_rows, by):
        return (
            bucket_rows.groupBy(*by)
            .agg(F.sort_array(F.collect_set(member_col)).alias("_ms"))
            .where(F.size("_ms") >= 2)
            .select(F.col("_ms"), F.posexplode("_ms").alias("_pos", out_a))
            .select(
                out_a,
                F.explode(F.expr("slice(_ms, _pos + 2, size(_ms))")).alias(
                    out_b
                ),
            )
        )

    if cap is None:
        return in_task(rows, keys)
    cap = int(cap)
    if cap < 2:
        raise ValueError("bucket_pairs: cap must be >= 2 (or None)")
    # One struct bucket key: a struct is never NULL, so plain equi-joins
    # on it match NULL key parts null-safely, and Catalyst still sees
    # the hot list's keys as distinct (a `<=>` join hides that and
    # inflates the hot rows' size estimate past the broadcast limit).
    keyed = rows.select(F.struct(*keys).alias("_bk"), member_col)
    hot = (
        keyed.groupBy("_bk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > cap)
        .select("_bk")
    )
    hot_rows = keyed.join(F.broadcast(hot), "_bk")
    a, b = hot_rows.alias("a"), hot_rows.alias("b")
    hot_pairs = (
        a.join(b, "_bk")
        .where(F.col(f"a.{member_col}") < F.col(f"b.{member_col}"))
        .select(
            F.col(f"a.{member_col}").alias(out_a),
            F.col(f"b.{member_col}").alias(out_b),
        )
    )
    cold_pairs = in_task(keyed.join(F.broadcast(hot), "_bk", "left_anti"), ["_bk"])
    return cold_pairs.unionByName(hot_pairs)


def expand_group_pairs(members, gid_pairs, **intra):
    """Group pairs -> doc pairs ``(doc_a, doc_b, *carried)`` with
    ``doc_a < doc_b`` — the one group-to-doc expansion behind every
    exact-dedup-before-near-dup pipeline.

    ``members`` holds ``(gid, doc_id)`` rows; ``gid_pairs`` holds
    candidate ``(gid_a, gid_b, ...)`` rows of two DIFFERENT groups.
    Every cross pair of a candidate group pair is emitted, carrying
    every non-key column of ``gid_pairs`` (a hamming distance, a
    Jaccard score); every pair inside one group is emitted too,
    because identical contents pair with themselves, and gets the
    constants named in ``intra`` (e.g. ``hamming=0``), cast to the
    carried column's type. A doc listed under two groups (one id, two
    texts) never pairs with itself. The two halves are disjoint (same
    versus different gid), so no distinct is needed."""
    carried = [c for c in gid_pairs.columns if c not in ("gid_a", "gid_b")]
    if sorted(intra) != sorted(carried):
        raise ValueError(
            f"expand_group_pairs: intra constants {sorted(intra)} must "
            f"name exactly the carried columns {sorted(carried)}"
        )
    ma = members.select(F.col("gid").alias("gid_a"), F.col("doc_id").alias("_da"))
    mb = members.select(F.col("gid").alias("gid_b"), F.col("doc_id").alias("_db"))
    cross = (
        gid_pairs.join(ma, "gid_a")
        .join(mb, "gid_b")
        .where(F.col("_da") != F.col("_db"))
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            *carried,
        )
    )
    m1 = members.select("gid", F.col("doc_id").alias("_da"))
    m2 = members.select("gid", F.col("doc_id").alias("_db"))
    dtypes = dict(gid_pairs.dtypes)
    within = (
        m1.join(m2, "gid")
        .where(F.col("_da") < F.col("_db"))
        .select(
            F.col("_da").alias("doc_a"),
            F.col("_db").alias("doc_b"),
            *[F.lit(intra[c]).cast(dtypes[c]).alias(c) for c in carried],
        )
    )
    return cross.unionByName(within)


def source_fingerprint(path):
    """Digest of a source file OR directory-layout dataset: per part
    file name|mtime|size (directories enumerate their entries — a
    rewrite that swaps part contents without changing the directory
    entry itself must still change the digest). Staged artifacts keyed
    by this digest (trained centroids, planted PNG corpora) refresh
    automatically when the testdata is regenerated."""
    import hashlib
    import os

    parts = [path]
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            st = os.stat(f"{path}/{name}")
            parts.append(f"{name}|{st.st_mtime_ns}|{st.st_size}")
    else:
        st = os.stat(path)
        parts.append(f"{st.st_mtime_ns}|{st.st_size}")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:16]
