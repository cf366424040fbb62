"""Stage-level floor decomposition of `streaming_late_data_audit`
(VERDICT r9 item 3, the same treatment `decompose_incminhash.py` gave
the minhash line): splits the two-run watermark audit into

  stage       what                                        scales with
  ---------   -----------------------------------------   -----------
  split       percentile arrival cut + staging the two    events
              source tranches as parquet
  agg_run1    hourly windowed count over the on-time      on-time rows
              tranche + first count-store commit
  late_merge  watermark filter over the late tranche      late rows ->
              (keep iff window_end > max(run1 ts) - 24d,  KEPT keys
              the engine's eviction boundary), re-count
              affected keys, key-replacement merge +
              second commit
  report      read the final count store + collect        bounded
                                                          (windows x
                                                          types)

by replaying the exact engine computation batch-side (same cut, same
watermark arithmetic, same `_late_counts_apply_batch` key-replacement
merge against the same versioned store). What is NOT replayed is the
availableNow streaming harness itself — two micro-batch runs, the
checkpoint write + restart recovery between them, per-run source
listing and sink bookkeeping. The difference between this script's
total and the recorded bench line is that harness floor, which the
round-9 verdict asked to make auditable (the claim "the 4.7 s line is
mostly harness" was previously asserted, not measured).

Counts per factor make the drop accounting auditable too: late rows
split deterministically into kept (window still live at the persisted
watermark) and dropped (window evicted), and the final report is
bounded by (windows x event types), never event volume.

Usage: python scripts/decompose_lateaudit.py [factor ...]
Writes DECOMP_LATEAUDIT.json (one entry per factor, min of two passes
per stage; counts from the first pass).
"""

import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, "/root/repo")


def main():
    factors = [int(a) for a in sys.argv[1:]] or [1, 30]
    sf_base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import bench
    from spark_data_test_spark.utils.spark_utils import clear_all

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("spark-data-test-decompose-lateaudit")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from spark_data_test_spark.operators.relational import t
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )
    from spark_data_test_spark.streaming.windows import (
        _LATE_CUT_Q,
        _LATE_DELAY_US,
        _late_counts_apply_batch,
    )

    def hourly_counts(df):
        return (
            df.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.unix_micros(F.col("w.start")).alias("hour_us"),
                "event_type",
                "cnt",
            )
        )

    def run_factor(factor):
        sf_dir = (
            bench._stage_amplified(spark, sf_base_dir, factor)
            if factor > 1
            else sf_base_dir
        )
        stages = {
            "split": 0.0,
            "agg_run1": 0.0,
            "late_merge": 0.0,
            "report": 0.0,
        }
        counts = {}
        run_root = f"/tmp/spark_late_decomp/{uuid.uuid4().hex[:12]}"
        src = f"{run_root}/src"
        store = f"{run_root}/store"
        os.makedirs(src, exist_ok=True)
        try:
            ev = t(spark, sf_dir, "events").select("ts", "event_type")

            t0 = time.time()
            cut = ev.agg(
                F.expr(
                    f"percentile(unix_micros(ts), {_LATE_CUT_Q})"
                ).alias("p")
            ).first()["p"]
            newer = F.unix_micros(F.col("ts")) > F.lit(int(cut))
            ev.where(newer).coalesce(1).write.mode("append").parquet(src)
            late_src = f"{run_root}/late"
            ev.where(~newer).coalesce(1).write.mode("append").parquet(
                late_src
            )
            stages["split"] += time.time() - t0

            on_time = spark.read.parquet(src)
            late = spark.read.parquet(late_src)
            counts["on_time_rows"] = on_time.count()
            counts["late_rows"] = late.count()

            # run 1 engine work: hourly windowed count + first commit
            # (_late_counts_apply_batch with an empty store is a plain
            # versioned write; we call the real merge for parity)
            t0 = time.time()
            _late_counts_apply_batch(hourly_counts(on_time), store)
            stages["agg_run1"] += time.time() - t0

            # run 2 engine work: the persisted watermark stands at
            # max(run-1 event time) - 24d; a late row is kept iff its
            # hour window's END is above it (drop iff window_end <= wm,
            # the eviction boundary the oracle replays). Update mode
            # re-emits each affected key's NEW TOTAL (prior state +
            # late rows), then the store merge replaces those keys.
            t0 = time.time()
            wm = (
                on_time.agg(F.max(F.unix_micros("ts")).alias("m")).first()[
                    "m"
                ]
                - _LATE_DELAY_US
            )
            hour_end_us = (
                F.unix_micros(F.date_trunc("hour", F.col("ts")))
                + 3_600_000_000
            )
            kept = late.where(hour_end_us > F.lit(int(wm))).persist()
            n_kept = kept.count()
            late_counts = hourly_counts(kept)
            prior = read_state_table(spark, store)
            updated = (
                late_counts.alias("l")
                .join(
                    prior.alias("p"), ["hour_us", "event_type"], "left"
                )
                .select(
                    "hour_us",
                    "event_type",
                    (
                        F.col("l.cnt")
                        + F.coalesce(F.col("p.cnt"), F.lit(0))
                    ).alias("cnt"),
                )
            )
            _late_counts_apply_batch(updated, store)
            kept.unpersist()
            stages["late_merge"] += time.time() - t0
            counts["late_kept_rows"] = n_kept
            counts["late_dropped_rows"] = counts["late_rows"] - n_kept

            t0 = time.time()
            final = read_state_table(spark, store).select(
                "hour_us", "event_type", "cnt"
            )
            rows = final.collect()
            stages["report"] += time.time() - t0
            counts["report_keys"] = len(rows)
            counts["total_cnt"] = sum(r["cnt"] for r in rows)
        finally:
            shutil.rmtree(run_root, ignore_errors=True)
        return {k: round(v, 3) for k, v in stages.items()}, counts

    results = {}
    for factor in factors:
        best, counts = None, None
        for _ in range(2):
            clear_all()
            stages, cts = run_factor(factor)
            if best is None:
                best, counts = stages, cts
            else:
                best = {k: min(best[k], stages[k]) for k in best}
        total = round(sum(best.values()), 3)
        results[f"x{factor}"] = {
            "stages_sec": best,
            "total_sec": total,
            "counts": counts,
        }
        print(f"x{factor}: total={total}s stages={best} counts={counts}")

    out = {
        "metric": "lateaudit_stage_decomposition",
        "unit": "sec",
        "note": (
            "Per-stage batch replay of streaming_late_data_audit's "
            "engine computation (same percentile cut, watermark "
            "arithmetic, update-mode key-replacement merge into the "
            "same versioned count store; forced materialization "
            "between stages). NOT replayed: the availableNow harness "
            "- two micro-batch runs, checkpoint write + restart "
            "recovery, per-run source listing. bench line minus "
            "total_sec = that harness floor. min of two passes per "
            "factor; counts from the first pass; report size is "
            "bounded by windows x event types, never event volume."
        ),
        "results": results,
    }
    with open("/root/repo/DECOMP_LATEAUDIT.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v["stages_sec"] for k, v in results.items()}))


if __name__ == "__main__":
    main()
