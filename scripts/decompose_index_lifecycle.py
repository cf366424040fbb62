"""Stage-level decomposition of the IVF-Flat and flat-PQ persisted-
index lifecycle rows at x1/x30 (VERDICT r16 item 4): the amplified
slope of `similarity_pq_index_probe` steepened 2.44x (r15) -> 4.07x
(r16) and the new `similarity_ivf_index_probe` sits at 5.44x; the
stated explanations — the pq row's probe is a LINEAR flat ADC scan by
contract, and the ivf row's postings log carries RAW 64-double
vectors — must be attributed to the stage that owns them by
construction, not by narrative.

Each registered row is replayed as its exact five lifecycle stages
(same internals, same fresh run root, forced materialization between
stages — builds count, ingest commits, deletes commit, the final
probe writes to the noop sink):

  stage    what                                         scales with
  ------   ------------------------------------------   -------------
  model    model RESOLUTION under bench conditions:     ~constant
           bench.py clears session memos once per PASS  (memo hit)
           and `similarity_pq_train` (HEADLINE pos 79)
           / `similarity_ivf_train` (pos 42) warm the
           codebook / centroid memos BEFORE the
           lifecycle rows (pos 96 / 101) run, so the
           registered lines resolve models from the
           memo — this script replays that exactly: a
           per-pass clear, an UNTIMED warm of both
           model memos, then the stages
  build    *_index_build under the injected model:      corpus
           encode/assign every vector + two commits     (1 scan)
  ingest   *_index_ingest(shard): the FIXED 84-row      shard only
           planted shard, encoded/assigned and          (round 18:
           appended WITHOUT probe work — round 18       ingest-only
           replaced the probe(commit=True) ingest,      entry; was
           whose k=1 flat-PQ answer ADC-scanned ALL n   O(index) for
           codes and owned the entire 4.15x x30 slope   pq at r17)
           (VERDICT r17 item 2)
  delete   tombstone commit for the n/11 takedown ids   corpus/11
  probe    the final 8-query batch over resolved state  pq: all codes;
                                                        ivf: nprobe
                                                        cells

The registered line is also timed end-to-end in the same pass so the
stage sum's coverage is auditable (sum ~= total; the residual is
driver orchestration).

Protocol: min of THREE passes per stage — an interleaved A/B check
showed the first x30 pass after staging the amplified tables runs
2-3x hot (page cache + JIT warmup), so min-of-two can freeze a
warmup-inflated stage line; by pass 3 the mins are steady-state.

Usage: python scripts/decompose_index_lifecycle.py [factor ...]
Writes DECOMP_INDEX_LIFECYCLE.json.
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

    import __spark_entry__ as entry_mod
    import bench
    from spark_data_test_spark.utils.spark_utils import clear_all

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("spark-data-test-decompose-index-lifecycle")
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

    from spark_data_test_spark.operators.similarity import (
        _IVF_TOPK,
        _NPROBE,
        _NQ,
        _PQ_TOPK,
        _int_embeddings,
        _pq_codebook,
        _pqidx_delete_ids,
        _pqidx_ingest_shard,
        ivf_index_build,
        ivf_index_delete,
        ivf_index_ingest,
        ivf_index_probe,
        pq_index_build,
        pq_index_delete,
        pq_index_ingest,
        pq_index_probe,
        train_ivf_centroids,
    )
    from spark_data_test_spark.state import fresh_run_root

    qmap = entry_mod.queries()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def stages_pq(sf_dir, counts):
        emb = _int_embeddings(spark, sf_dir)
        root = fresh_run_root("decomp_pqidx", key=sf_dir)
        idx = f"{root}/index"

        def s_model():
            counts["pq_codebook_rows"] = _pq_codebook(spark, sf_dir).count()

        def s_build():
            counts["pq_indexed"] = pq_index_build(
                emb.select("vec_id", "e"), idx, codebook=_pq_codebook(
                    spark, sf_dir
                ), vec_col="e",
            )

        def s_ingest():
            pq_index_ingest(_pqidx_ingest_shard(emb), idx, vec_col="e")

        def s_delete():
            pq_index_delete(spark, idx, _pqidx_delete_ids(emb))

        def s_probe():
            noop(
                pq_index_probe(
                    emb.where(F.col("vec_id") < _NQ).select("vec_id", "e"),
                    idx,
                    k=_PQ_TOPK,
                    vec_col="e",
                )
            )

        return [
            ("model", s_model),
            ("build", s_build),
            ("ingest", s_ingest),
            ("delete", s_delete),
            ("probe", s_probe),
        ]

    def stages_ivf(sf_dir, counts):
        emb = _int_embeddings(spark, sf_dir)
        root = fresh_run_root("decomp_ivfidx", key=sf_dir)
        idx = f"{root}/index"

        def cents():
            return train_ivf_centroids(spark, sf_dir).select(
                "cent_id", F.col("ce").alias("cv"),
                F.col("cn2").alias("cn2"),
            )

        def s_model():
            counts["ivf_centroid_rows"] = cents().count()

        def s_build():
            counts["ivf_indexed"] = ivf_index_build(
                emb.select("vec_id", "e"), idx, centroids=cents(),
                vec_col="e",
            )

        def s_ingest():
            ivf_index_ingest(_pqidx_ingest_shard(emb), idx, vec_col="e")

        def s_delete():
            ivf_index_delete(spark, idx, _pqidx_delete_ids(emb))

        def s_probe():
            noop(
                ivf_index_probe(
                    emb.where(F.col("vec_id") < _NQ).select("vec_id", "e"),
                    idx,
                    k=_IVF_TOPK,
                    nprobe=_NPROBE,
                    vec_col="e",
                )
            )

        return [
            ("model", s_model),
            ("build", s_build),
            ("ingest", s_ingest),
            ("delete", s_delete),
            ("probe", s_probe),
        ]

    per_factor = {}
    for factor in factors:
        sf_dir = (
            sf_base_dir
            if factor == 1
            else bench._stage_amplified(spark, sf_base_dir, factor)
        )
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        entry = {}
        counts = {}
        for _pass in range(3):
            # replicate the bench pass EXACTLY: one memo clear per
            # pass, then the model memos warmed by earlier HEADLINE
            # rows (similarity_pq_train / similarity_ivf_train run
            # before the lifecycle rows in bench.py) — warm them here
            # UNTIMED so the model stage measures the memo-hit
            # resolution the registered lines actually pay
            clear_all()
            _pq_codebook(spark, sf_dir).count()
            train_ivf_centroids(spark, sf_dir).count()
            for qname, stage_fn in (
                ("similarity_pq_index_probe", stages_pq),
                ("similarity_ivf_index_probe", stages_ivf),
            ):
                rec = entry.setdefault(qname, {"stages": {}})
                for sname, fn in stage_fn(sf_dir, counts):
                    t0 = time.time()
                    fn()
                    dt = round(time.time() - t0, 3)
                    prev = rec["stages"].get(sname, dt)
                    rec["stages"][sname] = min(prev, dt)
                    print(
                        f"x{factor} pass{_pass + 1} {qname}/{sname}: {dt}s",
                        file=sys.stderr,
                    )
                # the registered end-to-end line, same warm-memo pass
                # conditions as the bench (no mid-pass clear)
                t0 = time.time()
                noop(qmap[qname](spark, sf_dir))
                dt = round(time.time() - t0, 3)
                rec["total"] = min(rec.get("total", dt), dt)
                print(
                    f"x{factor} pass{_pass + 1} {qname}/TOTAL: {dt}s",
                    file=sys.stderr,
                )
        for rec in entry.values():
            rec["stage_sum"] = round(sum(rec["stages"].values()), 3)
        entry["counts"] = counts
        per_factor[f"x{factor}"] = entry

    slopes = {}
    if "x1" in per_factor:
        for fx, entry in per_factor.items():
            if fx == "x1":
                continue
            slopes[fx] = {}
            for qname, rec in entry.items():
                if qname == "counts":
                    continue
                base = per_factor["x1"][qname]
                slopes[fx][qname] = {
                    s: round(rec["stages"][s] / base["stages"][s], 2)
                    for s in rec["stages"]
                    if base["stages"].get(s)
                }
                if base.get("total"):
                    slopes[fx][qname]["total"] = round(
                        rec["total"] / base["total"], 2
                    )

    result = {
        "note": (
            "VERDICT r16 item 4 (stage attribution) + r17 item 2 "
            "(round-18 re-measure after the ingest-only switch): "
            "stage split of the flat-PQ and "
            "IVF-Flat lifecycle rows at x1/x30 so the slope "
            "steepening is attributed by construction. Bench-"
            "faithful conditions: one memo clear per pass, then the "
            "model memos warmed UNTIMED (in bench.py "
            "similarity_pq_train / similarity_ivf_train run before "
            "the lifecycle rows in every pass), so the model stage "
            "measures the memo-hit resolution the registered lines "
            "pay. Stages: model (memo-hit model resolution), build "
            "(encode/assign full corpus + commits), ingest (fixed "
            "84-row shard through the round-18 ingest-only entry — "
            "encode/assign + append, NO probe work; at r17 this stage "
            "was probe(commit=True), whose flat-PQ k=1 answer "
            "ADC-scanned ALL n codes and owned the whole x30 slope), "
            "delete (n/11 tombstones), "
            "probe (8-query batch; pq scans all codes by contract, "
            "ivf rescopes to nprobe cells). min of THREE passes per "
            "stage (the first x30 pass after staging runs 2-3x hot); "
            "stage_sum vs total audits coverage (residual = driver "
            "orchestration)."
        ),
        "metric": "index_lifecycle_stage_decomposition",
        "unit": "sec",
        "per_factor": per_factor,
        "stage_slopes_vs_x1": slopes,
    }
    with open("/root/repo/DECOMP_INDEX_LIFECYCLE.json", "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(slopes))


if __name__ == "__main__":
    main()
