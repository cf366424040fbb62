"""Multi-batch stateful sessionization: state must carry across
micro-batches.

The driver-contract query runs one availableNow batch; these tests
split the events table into two files processed as two micro-batches
(maxFilesPerTrigger=1), so sessions spanning the split exercise real
state handoff in applyInPandasWithState. The session store must equal
the batch gaps-and-islands oracle DIRECTLY — no consumer-side dedup —
in both arrival orders (in-order and fully reversed)."""

import os

import pyspark.sql.functions as F

from spark_data_test_spark.operators.relational import events_sessionization, t
from spark_data_test_spark.streaming.windows import (
    read_state_table,
    sessionize_to_store,
)


def _run_two_batch_store(spark, sf_dir, tmp_path, order):
    ev = t(spark, sf_dir, "events")
    median_us = ev.selectExpr("unix_micros(ts) AS us").approxQuantile(
        "us", [0.5], 0.0
    )[0]
    early = F.unix_micros(F.col("ts")) <= F.lit(int(median_us))

    stage = str(tmp_path / "events_stream")
    os.makedirs(stage, exist_ok=True)
    halves = {"early": early, "late": ~early}
    for i, half in enumerate(order):
        d = f"{stage}/batch_{i}"
        ev.where(halves[half]).coalesce(1).write.mode("overwrite").parquet(d)
        # order micro-batches deterministically (source sorts by mtime)
        for f in os.listdir(d):
            os.utime(f"{d}/{f}", (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/batch_*")
    )
    store = str(tmp_path / "session_store")
    q = sessionize_to_store(stream, store, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert q.lastProgress is not None
    return read_state_table(spark, store).select(
        "user_id", "session_start_us", "n_events"
    )


def _assert_equals_batch_oracle(spark, sf_dir, got_df):
    got = sorted(tuple(r) for r in got_df.collect())
    expected = sorted(
        tuple(r)
        for r in events_sessionization(spark, sf_dir)
        .select("user_id", "session_start_us", F.col("n_events").cast("long"))
        .collect()
    )
    assert got == expected


def test_state_carries_across_microbatches(spark, sf_dir, tmp_path):
    got = _run_two_batch_store(spark, sf_dir, tmp_path, ["early", "late"])
    _assert_equals_batch_oracle(spark, sf_dir, got)


def test_out_of_order_batches_converge(spark, sf_dir, tmp_path):
    # second micro-batch is entirely OLDER than the first: sessions
    # merge and re-split inside the state buffer, and the per-user
    # replace in the store must retire every superseded row
    got = _run_two_batch_store(spark, sf_dir, tmp_path, ["late", "early"])
    _assert_equals_batch_oracle(spark, sf_dir, got)


def test_foreachbatch_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the production sink pattern — each micro-batch is a
    normal DataFrame written with full batch APIs (here: parquet
    partitioned by event_type)."""
    import pyspark.sql.functions as F

    from spark_data_test_spark.streaming.windows import read_events_stream

    out = str(tmp_path / "sink")

    def write_batch(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("event_type")
            .parquet(out)
        )

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(out)
    source = t(spark, sf_dir, "events")
    assert written.count() == source.count()
    assert set(written.select("event_type").distinct().toPandas()["event_type"]) == set(
        source.select("event_type").distinct().toPandas()["event_type"]
    )


def test_append_mode_withholds_unfinalized_windows(spark, sf_dir, tmp_path):
    """Watermark semantics under append-mode tumbling aggregation: only
    windows whose end precedes the watermark are emitted; the trailing
    (possibly-still-growing) windows are withheld from the sink.

    (Observed Spark 4.1 behavior note: under availableNow, rows arriving
    in a later micro-batch behind the watermark still surface when their
    windows finalize at termination — late-row *dropping* is not
    observable this way, so this test pins the emission boundary, which
    is the contract consumers rely on.)"""
    ev = t(spark, sf_dir, "events")
    median_us = ev.selectExpr("unix_micros(ts) AS us").approxQuantile(
        "us", [0.5], 0.0
    )[0]
    newer = F.unix_micros(F.col("ts")) > F.lit(int(median_us))

    stage = str(tmp_path / "late_stream")
    os.makedirs(stage, exist_ok=True)
    # batch 1 = NEWER half; batch 2 = OLDER half (arrives "late")
    ev.where(newer).coalesce(1).write.mode("overwrite").parquet(f"{stage}/b1")
    ev.where(~newer).coalesce(1).write.mode("overwrite").parquet(f"{stage}/b2")
    for i, d in enumerate(["b1", "b2"]):
        for f_name in os.listdir(f"{stage}/{d}"):
            os.utime(f"{stage}/{d}/{f_name}", (1_700_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/b*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_micros(F.col("w.start")).alias("hour_us"), "cnt")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted_hours = {r["hour_us"] for r in spark.table("late_sink").collect()}
    assert emitted_hours, "append sink should contain finalized windows"

    max_ts_us = ev.agg(F.max(F.unix_micros(F.col("ts")))).first()[0]
    watermark_us = max_ts_us - 3600 * 1_000_000
    # every emitted window is fully before the final watermark...
    assert all(h + 3600 * 1_000_000 <= watermark_us for h in emitted_hours)
    # ...and the trailing windows (watermark..max_ts) were withheld
    all_hours = {
        r["h"]
        for r in ev.select(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("h")
        )
        .distinct()
        .collect()
    }
    withheld = {h for h in all_hours if h + 3600 * 1_000_000 > watermark_us}
    assert withheld and not (withheld & emitted_hours)


def test_versioned_state_survives_crashed_write(spark, tmp_path):
    """A crash mid-write leaves an uncommitted version directory (no
    _SUCCESS). Readers must keep serving the last committed version and
    the next writer must clobber the leftover, not fail or read partial
    state."""
    from spark_data_test_spark.streaming.windows import (
        write_state_version,
    )

    state = str(tmp_path / "state")
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    write_state_version(df1, state)
    assert [tuple(r) for r in read_state_table(spark, state).collect()] == [(1, "a")]

    # simulate a crash: v1 exists but never got its _SUCCESS marker
    crashed = f"{state}/v1"
    os.makedirs(crashed)
    with open(f"{crashed}/part-00000.parquet", "w") as f:
        f.write("partial garbage")
    assert [tuple(r) for r in read_state_table(spark, state).collect()] == [(1, "a")]

    # the retried batch advances over the leftover cleanly
    df2 = spark.createDataFrame([(2, "b")], "k long, v string")
    write_state_version(df2, state)
    assert [tuple(r) for r in read_state_table(spark, state).collect()] == [(2, "b")]
    assert sorted(os.listdir(state)) == ["v1"]


def test_cdc_upsert_merges_across_microbatches(spark, sf_dir, tmp_path):
    # two micro-batches split by event time: the second batch must MERGE
    # into the first batch's state (not replace it), and a key updated
    # in both batches must keep the later row — exercising the
    # cross-batch branch of cdc_apply_batch that the single-batch
    # driver query never reaches
    from spark_data_test_spark.streaming.windows import cdc_apply_batch

    ev = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", F.unix_micros("ts").alias("us"))
    )
    cut = ev.agg(F.expr("percentile(us, 0.5)")).first()[0]
    stage = str(tmp_path / "cdc_src")
    os.makedirs(stage, exist_ok=True)
    early = ev.where(F.col("us") <= cut).drop("us")
    late = ev.where(F.col("us") > cut).drop("us")
    early.coalesce(1).write.mode("overwrite").parquet(f"{stage}/batch_a")
    late.coalesce(1).write.mode("overwrite").parquet(f"{stage}/batch_b")
    for i, d in enumerate(["batch_a", "batch_b"]):
        for f in os.listdir(f"{stage}/{d}"):
            os.utime(f"{stage}/{d}/{f}", (1_700_000_000 + i, 1_700_000_000 + i))

    state = str(tmp_path / "cdc_state")
    stream = (
        spark.readStream.schema(early.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/batch_*")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: cdc_apply_batch(df, state)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from spark_data_test_spark.streaming.windows import read_state_table

    got = {
        r["user_id"]: r["event_id"]
        for r in read_state_table(spark, state).collect()
    }
    # expected: latest event per user over the WHOLE table
    want = {
        r["user_id"]: r["event_id"]
        for r in ev.groupBy("user_id")
        .agg(F.max(F.struct("us", "event_id")).alias("m"))
        .select("user_id", F.col("m.event_id").alias("event_id"))
        .collect()
    }
    assert got == want
    # users active ONLY in the early batch must survive the merge
    early_only = set(
        r["user_id"] for r in early.select("user_id").distinct().collect()
    ) - set(r["user_id"] for r in late.select("user_id").distinct().collect())
    assert early_only <= set(got)


def test_sketch_rollup_equals_batch_across_microbatches(spark, sf_dir, tmp_path):
    """Two-batch HLL fold must equal the one-shot batch rollup EXACTLY
    (register max-merge is associative + idempotent)."""
    from spark_data_test_spark.operators.sketches import hll_estimates
    from spark_data_test_spark.streaming.windows import (
        read_state_table,
        sketch_apply_batch,
    )
    from spark_data_test_spark.utils.spark_utils import clear_all

    ev = t(spark, sf_dir, "events")
    median_us = ev.selectExpr("unix_micros(ts) AS us").approxQuantile(
        "us", [0.5], 0.0
    )[0]
    early = F.unix_micros(F.col("ts")) <= F.lit(int(median_us))

    stage = str(tmp_path / "events_stream")
    os.makedirs(stage, exist_ok=True)
    for i, pred in enumerate((early, ~early)):
        d = f"{stage}/batch_{i}"
        ev.where(pred).coalesce(1).write.mode("overwrite").parquet(d)
        for f in os.listdir(d):
            os.utime(f"{d}/{f}", (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/batch_*")
        .select("event_type", "user_id")
    )
    state = str(tmp_path / "sketch_state")
    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: sketch_apply_batch(batch_df, state)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = {
        r.event_type: r.est
        for r in read_state_table(spark, state)
        .select(
            "event_type",
            F.expr("hll_sketch_estimate(sk)").cast("long").alias("est"),
        )
        .collect()
    }
    clear_all()
    batch = {
        r.event_type: r.distinct_users_est
        for r in hll_estimates(spark, sf_dir).collect()
        if r.event_type != "__all__"
    }
    assert streamed == batch


def test_log_structured_union_and_compaction(spark, tmp_path):
    """The delta-commit lifecycle the streaming incremental dedup runs:
    v0 base + per-batch deltas read through read_state_union; compaction
    folds the log into one snapshot whose content is the same union and
    prunes the log behind it (crash-safe ordinary commit)."""
    from spark_data_test_spark.state import (
        _committed_state_version,
        compact_state_versions,
        read_state_table,
        read_state_union,
        write_state_version,
    )

    root = str(tmp_path / "log_state")
    assert read_state_union(spark, root) is None
    assert compact_state_versions(spark, root) is None

    def frame(rows):
        return spark.createDataFrame(rows, "h string, doc_id long")

    write_state_version(frame([("a", 1), ("b", 2)]), root)  # v0 base
    write_state_version(frame([("c", 3)]), root, retain=64)  # delta v1
    write_state_version(frame([("a", 4)]), root, retain=64)  # delta v2

    union = read_state_union(spark, root)
    got = sorted((r.h, r.doc_id) for r in union.collect())
    assert got == [("a", 1), ("a", 4), ("b", 2), ("c", 3)]

    snap_v = compact_state_versions(spark, root)
    assert snap_v == 3
    assert _committed_state_version(root) == 3
    # the log is pruned; the folded snapshot carries the full union
    assert not os.path.exists(f"{root}/v0")
    snap = read_state_table(spark, root)
    assert sorted((r.h, r.doc_id) for r in snap.collect()) == got
    # union read after compaction sees exactly the surviving snapshot
    assert sorted(
        (r.h, r.doc_id) for r in read_state_union(spark, root).collect()
    ) == got
    # the log can keep growing on top of the folded snapshot
    write_state_version(frame([("d", 5)]), root, retain=64)
    assert (
        len(read_state_union(spark, root).collect()) == 5
    )
    # version_col tags each row with its commit version (LONG), so a
    # reader can resolve re-committed keys latest-wins
    tagged = read_state_union(spark, root, version_col="_v")
    assert dict(tagged.dtypes)["_v"] == "bigint"
    got_v = sorted((r.h, r.doc_id, r._v) for r in tagged.collect())
    assert got_v == [
        ("a", 1, 3), ("a", 4, 3), ("b", 2, 3), ("c", 3, 3), ("d", 5, 4)
    ]


def test_fresh_run_root_outlives_call_and_prunes_by_age(spark, tmp_path):
    """The persistent-run-root lifecycle behind the lazy state-query
    returns (VERDICT r7 item 2): a root must outlive the function that
    created it so the returned lazy frame stays readable; the NEXT
    run's setup prunes stale siblings by age, and a live sibling (a
    concurrent run) is never deleted."""
    import time

    from spark_data_test_spark.state import (
        fresh_run_root,
        write_state_version,
    )

    base = str(tmp_path / "runs")

    def produce():
        root = fresh_run_root("demo", "k1", base=base, ttl_seconds=3600)
        df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
        write_state_version(df, f"{root}/state")
        # the LAZY read is the whole point: nothing collected here
        return read_state_table(spark, f"{root}/state"), root

    lazy, root = produce()
    # readable AFTER the producing function returned
    assert sorted(tuple(r) for r in lazy.collect()) == [(1, 10), (2, 20)]
    assert os.path.isdir(root)

    parent = os.path.dirname(root)
    stale = f"{parent}/stalerun"
    os.makedirs(stale)
    os.utime(stale, (time.time() - 7200,) * 2)
    live = f"{parent}/liverun"
    os.makedirs(live)  # fresh mtime: a concurrent run's root

    root2 = fresh_run_root("demo", "k1", base=base, ttl_seconds=3600)
    assert not os.path.exists(stale), "stale sibling must be pruned"
    assert os.path.isdir(live), "live sibling must survive"
    assert os.path.isdir(root), "recent root must survive"
    assert root2 != root and os.path.isdir(root2)
    # different key -> different namespace, old roots untouched
    other = fresh_run_root("demo", "k2", base=base, ttl_seconds=3600)
    assert os.path.dirname(other) != parent
