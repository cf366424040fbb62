"""Stage-level floor decomposition of `streaming_incremental_dedup`
(VERDICT r10 item 5 — the last heavy streaming line without its own
stage replay; same treatment as `decompose_incminhash.py` /
`decompose_lateaudit.py`): splits the per-batch work into

  stage     what                                          scales with
  -------   -------------------------------------------   -----------
  staging   md5 content hash over the batch + persist     batch rows
  probe     hash equi-join vs persisted historical index  batch rows
            union committed stream deltas, plus the       (index probe)
            in-batch self-join, materialized as the
            pair report
  commit    write_state_version of the batch's own        batch rows
            hashes (the O(batch) delta)

by replaying the exact foreachBatch pipeline (same internals: the
`_exact_index_path` load-or-build asset, `_is_historical` slice,
log-structured `read_state_union` probe view, O(batch) delta commit)
over the same three deterministic arrival batches (b from the shard's
residue arithmetic), with a forced materialization between stages.
The streaming harness itself (availableNow micro-batch scheduling,
checkpoint commits, arrival-file staging and sink bookkeeping) is NOT
replayed — the difference between this script's total and the
recorded bench line is that harness floor, which `bench.py`'s
`streaming_harness_share` note cites.

Counts per batch make the probe accounting auditable: pairs track the
planted duplicate arms, not shard volume, and the commit is always
batch-sized.

Usage: python scripts/decompose_incdedup.py [factor ...]
Writes DECOMP_INCDEDUP.json (one entry per factor, min of two passes
per stage; counts from the first pass).
"""

import json
import os
import sys
import time

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
        .appName("spark-data-test-decompose-incdedup")
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

    from spark_data_test_spark.operators.dedup import (
        _exact_index_path,
        _hist_docs,
        _is_historical,
    )
    from spark_data_test_spark.operators.relational import t
    from spark_data_test_spark.state import (
        fresh_run_root,
        read_state_table,
        read_state_union,
        write_state_version,
    )

    def run_factor(factor):
        sf_dir = (
            bench._stage_amplified(spark, sf_base_dir, factor)
            if factor > 1
            else sf_base_dir
        )
        d = t(spark, sf_dir, "documents").select("doc_id", "text")
        base = d.where(F.col("doc_id") % 4 == 3)
        shard = (
            base.select("doc_id", "text", (F.col("doc_id") % 3).alias("b"))
            .unionByName(
                d.where(
                    (F.col("doc_id") % 23 == 0) & (F.col("doc_id") % 4 != 3)
                ).select(
                    (F.col("doc_id") + 600000).alias("doc_id"),
                    "text",
                    (F.col("doc_id") % 3).alias("b"),
                )
            )
            .unionByName(
                base.where(F.col("doc_id") % 29 == 0).select(
                    (F.col("doc_id") + 900000).alias("doc_id"),
                    "text",
                    ((F.col("doc_id") + 1) % 3).alias("b"),
                )
            )
            .unionByName(
                base.where(F.col("doc_id") % 31 == 0).select(
                    (F.col("doc_id") + 1200000).alias("doc_id"),
                    "text",
                    (F.col("doc_id") % 3).alias("b"),
                )
            )
            .persist()
        )
        shard.count()

        # the persisted content-hash index is the asset — the same
        # load-or-build the query (and dedup_incremental_exact) runs
        idx_path = _exact_index_path(sf_dir)
        index = read_state_table(spark, idx_path)
        if index is None:
            built = _hist_docs(spark, sf_dir).select(
                F.md5("text").alias("text_hash"), "doc_id"
            )
            os.makedirs(idx_path, exist_ok=True)
            write_state_version(built, idx_path, retain=2)
            index = read_state_table(spark, idx_path)
        hist_idx = index.where(_is_historical(F.col("doc_id"))).select(
            F.col("text_hash").alias("h"),
            "doc_id",
            F.lit("history").alias("src"),
        )

        stages = {"staging": 0.0, "probe": 0.0, "commit": 0.0}
        counts = {"batch_rows": [], "pairs": []}
        run_root = fresh_run_root("incdedup_decomp", sf_dir)
        state_path = f"{run_root}/state"
        out_dir = f"{run_root}/out"
        os.makedirs(state_path, exist_ok=True)

        for bno in range(3):
            batch_df = shard.where(F.col("b") == bno).select(
                "doc_id", "text"
            )
            deltas = read_state_union(spark, state_path)
            idx = (
                hist_idx
                if deltas is None
                else hist_idx.unionByName(deltas)
            )

            t0 = time.time()
            b = batch_df.select(F.md5("text").alias("h"), "doc_id").persist()
            n_rows = b.count()
            stages["staging"] += time.time() - t0
            counts["batch_rows"].append(n_rows)

            t0 = time.time()
            index_pairs = (
                b.alias("s")
                .join(idx.alias("p"), "h")
                .select(
                    F.col("s.doc_id").alias("new_doc_id"),
                    F.col("p.doc_id").alias("dup_of"),
                    F.col("p.src").alias("partner"),
                )
            )
            in_batch = (
                b.alias("s")
                .join(b.alias("p"), "h")
                .where(F.col("p.doc_id") < F.col("s.doc_id"))
                .select(
                    F.col("s.doc_id").alias("new_doc_id"),
                    F.col("p.doc_id").alias("dup_of"),
                    F.lit("stream").alias("partner"),
                )
            )
            index_pairs.unionByName(in_batch).write.mode("append").parquet(
                out_dir
            )
            stages["probe"] += time.time() - t0

            t0 = time.time()
            write_state_version(
                b.select("h", "doc_id", F.lit("stream").alias("src")),
                state_path,
                retain=64,
            )
            stages["commit"] += time.time() - t0
            b.unpersist()

        n_pairs = spark.read.parquet(out_dir).count()
        counts["pairs"].append(n_pairs)
        shard.unpersist()
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
        "metric": "incdedup_stage_decomposition",
        "unit": "sec",
        "note": (
            "Per-stage replay of streaming_incremental_dedup's "
            "foreachBatch pipeline (same internals: persisted "
            "content-hash index load-or-build, log-structured delta "
            "probe view, O(batch) delta commit; streaming harness "
            "excluded). min of two passes per factor; counts from the "
            "first pass. staging/commit scale with batch rows, probe "
            "with batch rows against the persisted index; pairs track "
            "the planted duplicate arms."
        ),
        "results": results,
    }
    with open("/root/repo/DECOMP_INCDEDUP.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v["stages_sec"] for k, v in results.items()}))


if __name__ == "__main__":
    main()
