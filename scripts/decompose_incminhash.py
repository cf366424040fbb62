"""Stage-level floor decomposition of `streaming_incremental_minhash`
at amplified scale (VERDICT r8 item 4): splits the per-batch work into

  stage     what                                          scales with
  -------   -------------------------------------------   -----------
  staging   shingle-set + in-row fingerprints + banding   batch rows
  probe     band equi-join vs persisted index + deltas    batch bands
            plus the in-batch band self-join              (index probe)
  verify    resolver semi-join slice + exact Jaccard      CANDIDATES
            intersect                                     (the delta)
  commit    write_state_version of the batch's bands      batch bands

by replaying the exact foreachBatch stage pipeline (same internals:
the MinHash kernel's `_shingle_sets`, `_signatures`, `_band_index`,
persisted-index probe, `_attach_sets`/`_set_jaccard` verify) over
the same three deterministic arrival batches (b = doc_id % 3), with
a forced materialization between stages. The
streaming harness itself (availableNow micro-batch scheduling,
checkpoint commits, sink append) is NOT replayed — the difference
between this script's total and the recorded bench line is the harness
floor.

Each stage reports per-batch row counts alongside seconds so the
"verify cost is delta-proportional" claim is auditable: verify input
is the candidate count, not the shard size.

Usage: python scripts/decompose_incminhash.py [factor ...]
Writes DECOMP_INCMINHASH.json (one entry per factor, min of two
passes per stage).
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
        .appName("spark-data-test-decompose-incminhash")
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
        _attach_sets,
        _band_index,
        _hist_docs,
        _is_historical,
        _load_or_build_minhash_index,
        _set_jaccard,
        _shingle_sets,
        _signatures,
    )
    from spark_data_test_spark.operators.relational import t
    from spark_data_test_spark.state import (
        fresh_run_root,
        read_state_union,
        write_state_version,
    )
    from spark_data_test_spark.streaming.windows import (
        _STREAM_NEAR_BASE_OFFSET,
        _STREAM_NEAR_HIST_OFFSET,
    )

    def run_factor(factor):
        sf_dir = (
            bench._stage_amplified(spark, sf_base_dir, factor)
            if factor > 1
            else sf_base_dir
        )
        d = t(spark, sf_dir, "documents").select("doc_id", "text")
        base = d.where(F.col("doc_id") % 4 == 3)
        tail = F.concat(F.col("text"), F.lit(" extra tail token"))
        shard = (
            base.select("doc_id", "text", (F.col("doc_id") % 3).alias("b"))
            .unionByName(
                d.where(
                    (F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 4 != 3)
                ).select(
                    (F.col("doc_id") + _STREAM_NEAR_HIST_OFFSET).alias(
                        "doc_id"
                    ),
                    tail.alias("text"),
                    (F.col("doc_id") % 3).alias("b"),
                )
            )
            .unionByName(
                base.where(F.col("doc_id") % 29 == 0).select(
                    (F.col("doc_id") + _STREAM_NEAR_BASE_OFFSET).alias(
                        "doc_id"
                    ),
                    tail.alias("text"),
                    ((F.col("doc_id") + 1) % 3).alias("b"),
                )
            )
            .persist()
        )
        shard.count()
        resolver = (
            _hist_docs(spark, sf_dir)
            .unionByName(shard.select("doc_id", "text"))
            .persist()
        )
        resolver.count()
        hist_idx = (
            _load_or_build_minhash_index(spark, sf_dir)
            .where(_is_historical(F.col("doc_id")))
            .select("doc_id", "band", "sig", F.lit("history").alias("src"))
        )

        stages = {"staging": 0.0, "probe": 0.0, "verify": 0.0, "commit": 0.0}
        counts = {"batch_rows": [], "batch_bands": [], "candidates": [],
                  "verified_pairs": []}
        run_root = fresh_run_root("incmh_decomp", sf_dir)
        state_path = f"{run_root}/state"
        os.makedirs(state_path, exist_ok=True)

        for b in range(3):
            batch_df = shard.where(F.col("b") == b).select("doc_id", "text")
            deltas = read_state_union(spark, state_path)
            idx = hist_idx if deltas is None else hist_idx.unionByName(deltas)

            t0 = time.time()
            bset = _shingle_sets(batch_df).persist()
            bands = _band_index(_signatures(bset)).persist()
            n_bands = bands.count()
            n_rows = bset.count()
            stages["staging"] += time.time() - t0
            counts["batch_rows"].append(n_rows)
            counts["batch_bands"].append(n_bands)

            t0 = time.time()
            probe = (
                bands.alias("s")
                .join(idx.alias("p"), ["band", "sig"])
                .select(
                    F.col("s.doc_id").alias("new_doc_id"),
                    F.col("p.doc_id").alias("dup_of"),
                    F.col("p.src").alias("partner"),
                )
            )
            in_batch = (
                bands.alias("s")
                .join(bands.alias("p"), ["band", "sig"])
                .where(F.col("p.doc_id") < F.col("s.doc_id"))
                .select(
                    F.col("s.doc_id").alias("new_doc_id"),
                    F.col("p.doc_id").alias("dup_of"),
                    F.lit("stream").alias("partner"),
                )
            )
            cand = probe.unionByName(in_batch).distinct().persist()
            n_cand = cand.count()
            stages["probe"] += time.time() - t0
            counts["candidates"].append(n_cand)

            t0 = time.time()
            partners = resolver.join(
                cand.select(F.col("dup_of").alias("doc_id")).distinct(),
                "doc_id",
            )
            i, jac = _set_jaccard()
            verified = (
                _attach_sets(
                    cand, "new_doc_id", bset, "dup_of", _shingle_sets(partners)
                )
                .where(i > 0)
                .select(
                    "new_doc_id",
                    "dup_of",
                    "partner",
                    F.round(jac).cast("long").alias("jaccard_1e6"),
                    (jac >= 500000).alias("is_dup"),
                )
            )
            n_ver = verified.count()
            stages["verify"] += time.time() - t0
            counts["verified_pairs"].append(n_ver)

            t0 = time.time()
            write_state_version(
                bands.select(
                    "doc_id", "band", "sig", F.lit("stream").alias("src")
                ),
                state_path,
                retain=64,
            )
            stages["commit"] += time.time() - t0
            cand.unpersist()
            bands.unpersist()
            bset.unpersist()

        resolver.unpersist()
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
        "metric": "incminhash_stage_decomposition",
        "unit": "sec",
        "note": (
            "Per-stage replay of streaming_incremental_minhash's "
            "foreachBatch pipeline (same internals, forced "
            "materialization between stages; streaming harness "
            "excluded). min of two passes per factor; counts are "
            "per-batch from the first pass. staging/commit scale with "
            "batch rows, probe with batch bands against the persisted "
            "index, verify with CANDIDATES (the delta) - see counts."
        ),
        "results": results,
    }
    with open("/root/repo/DECOMP_INCMINHASH.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v["stages_sec"] for k, v in results.items()}))


if __name__ == "__main__":
    main()
