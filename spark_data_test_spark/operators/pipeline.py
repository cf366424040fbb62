"""End-to-end training-corpus preparation pipeline (north-star flagship
composition).

One declarative plan chaining the LLM-data stages every large-scale
corpus build runs — quality scoring -> quality filter -> exact dedup ->
token accounting -> deterministic train/val/test split -> per-split
composition stats — over the planted-duplicate corpus. Each stage
reuses the exact arithmetic of its standalone operator
(text.text_quality_score, dedup.dedup_exact, sampling.split_assign), so
the pipeline is the composition proof: Catalyst fuses the whole chain
into scan -> project -> one dedup shuffle -> one stats shuffle, with the
quality filter pushed below the dedup exchange.

100 TB notes: two shuffles total — the content-hash groupBy (dedup) and
the split aggregation (4-row output); everything else is map-side.
Quality is micro-quantized per document (round(q * 1e6) -> bigint) so
the per-split sums are exact integers — order-independent, identical in
both engines — instead of float accumulation order lottery.
"""

import pyspark.sql.functions as F

from spark_data_test_spark.operators.dedup import (
    _BANDS,
    _EXACT_CORPUS_SQL,
    _EXACT_PLANT_OFFSET,
    _N_HASHES,
    _NEAR_PLANT_OFFSET,
    _exact_corpus,
)
from spark_data_test_spark.operators.relational import query, t
from spark_data_test_spark.operators.sampling import _bucket_sql, _hash_bucket

_MIN_QUALITY = 0.5


@query(
    "corpus_prepare_pipeline",
    f"""
    WITH {_EXACT_CORPUS_SQL.strip()},
    scored AS (
      SELECT doc_id, text,
             (length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1 AS n_words,
             least(1.0, CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1 AS DOUBLE) / 100.0) * 0.5
               + least(1.0, (CAST(length(text) - ((length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1) + 1 AS DOUBLE)
                             / ((length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1)) / 8.0) * 0.5
               AS quality
      FROM corpus),
    kept AS (SELECT * FROM scored WHERE quality >= {_MIN_QUALITY}),
    deduped AS (
      SELECT doc_id, n_words, quality
      FROM (SELECT doc_id, n_words, quality,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM kept)
      WHERE rn = 1),
    tagged AS (
      SELECT CASE WHEN {_bucket_sql("doc_id")} < 800 THEN 'train'
                  WHEN {_bucket_sql("doc_id")} < 900 THEN 'val'
                  ELSE 'test' END AS split,
             n_words,
             CAST(round(quality * 1000000) AS BIGINT) AS q_1e6
      FROM deduped)
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(SUM(q_1e6) AS BIGINT) AS sum_quality_1e6
    FROM tagged GROUP BY split
    """,
)
def corpus_prepare_pipeline(spark, sf_dir):
    """Flagship composition: quality-filter -> exact-dedup ->
    token-count -> split -> per-split stats, in one declarative plan."""
    corpus = _exact_corpus(spark, sf_dir)
    n_words = (
        F.length(F.trim(F.col("text")))
        - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
        + 1
    )
    avg_wl = (F.length("text") - n_words + 1).cast("double") / n_words
    quality = (
        F.least(F.lit(1.0), n_words.cast("double") / 100.0) * 0.5
        + F.least(F.lit(1.0), avg_wl / 8.0) * 0.5
    )
    scored = corpus.select(
        "doc_id", "text", n_words.alias("n_words"), quality.alias("quality")
    )
    kept = scored.where(F.col("quality") >= _MIN_QUALITY)

    # exact dedup: min doc_id survives per content hash — the same
    # shape as dedup_exact, fused into the pipeline
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "n_words", "quality")
    )

    bucket = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    tagged = deduped.select(
        split.alias("split"),
        "n_words",
        F.round(F.col("quality") * 1000000).cast("long").alias("q_1e6"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.sum("q_1e6").cast("long").alias("sum_quality_1e6"),
    )


# built from dedup.py's own tuning constants so the waterfall oracle
# can never silently diverge from the memoized Spark-side machinery
# (_cached_gid_pairs) it rides
_WF_ROWS = _N_HASHES // _BANDS
_WF_MH = "".join(
    f", min(md5(sh || '#{k}')) AS h{k}" for k in range(_N_HASHES)
).lstrip(", ")
_WF_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    + " || ".join(f"h{_WF_ROWS * b + r}" for r in range(_WF_ROWS))
    + " AS sig FROM wmh"
    for b in range(_BANDS)
)


@query(
    "corpus_dedup_waterfall",
    f"""
    WITH wcorpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_EXACT_PLANT_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id % 17 = 0
      UNION ALL
      SELECT doc_id + {_NEAR_PLANT_OFFSET} AS doc_id,
             text || ' extra tail token' AS text
      FROM documents WHERE doc_id % 13 = 0),
    s1 AS (SELECT doc_id, text FROM wcorpus WHERE length(text) >= 8),
    e AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY text) AS gid
        FROM s1)
      WHERE doc_id = gid),
    wsh AS (
      SELECT DISTINCT doc_id, substr(text, i, 8) AS sh
      FROM e, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)),
    wmh AS (SELECT doc_id, {_WF_MH} FROM wsh GROUP BY doc_id),
    wbands AS ({_WF_BANDS}),
    wpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM wbands a JOIN wbands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    wsizes AS (SELECT doc_id, COUNT(*) AS n FROM wsh GROUP BY doc_id),
    winter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS i
      FROM wpairs p
      JOIN wsh a ON a.doc_id = p.doc_a
      JOIN wsh b ON b.doc_id = p.doc_b AND b.sh = a.sh
      GROUP BY 1, 2),
    wrem AS (
      SELECT COUNT(DISTINCT doc_b) AS r3
      FROM winter
      JOIN wsizes sa ON sa.doc_id = doc_a
      JOIN wsizes sb ON sb.doc_id = doc_b
      WHERE 1000000.0 * i / (sa.n + sb.n - i) >= 500000),
    c0 AS (SELECT COUNT(*) AS n0 FROM wcorpus),
    c1 AS (SELECT COUNT(*) AS n1 FROM s1),
    c2 AS (SELECT COUNT(*) AS n2 FROM e)
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage_id, 'short_filter' AS stage,
             CAST(n0 AS BIGINT) AS n_in, CAST(n0 - n1 AS BIGINT) AS n_removed,
             CAST(n1 AS BIGINT) AS n_out
      FROM c0, c1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'exact_dedup',
             CAST(n1 AS BIGINT), CAST(n1 - n2 AS BIGINT), CAST(n2 AS BIGINT)
      FROM c1, c2
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'near_dedup',
             CAST(n2 AS BIGINT), CAST(r3 AS BIGINT), CAST(n2 - r3 AS BIGINT)
      FROM c2, wrem)
    ORDER BY stage_id
    """,
)
def corpus_dedup_waterfall(spark, sf_dir):
    """The dedup WATERFALL table — per-stage removal accounting for a
    staged curation pipeline (the summary table every corpus paper
    publishes; RefinedWeb/Dolma-style): short-text filter -> exact
    dedup (min-id survivor per byte-identical text) -> MinHash+LSH
    near-dedup (banded candidates, exact-Jaccard >= 0.5 verify, greedy
    min-id survivor), each stage running ONLY on the previous stage's
    survivors. The input corpus carries both plant families (exact
    twins at +1e7, tail-token near twins at +2e7) so both dedup stages
    provably bite.

    Composition RIDES the dedup family's session memos instead of
    rebuilding them: the waterfall corpus is exactly the near-dup
    corpus plus the exact-twin plants, and exact twins are
    byte-identical texts, so the stage-2 survivor set IS the family's
    distinct-text group table (`_cached_members`, min-doc_id
    representative per md5(text) gid) and the stage-3 candidates ARE
    the memoized gid-level band pairs (`_cached_gid_pairs`) verified
    by `dedup_near_jaccard`'s `_jaccard_verify`. Exact-before-near is
    the production ordering BECAUSE it makes the banding run over
    distinct texts only -- the k^2 bucket shrinkage, here obtained
    structurally. The stage-0/1 corpus counts fold to ONE aggregate
    over ``documents`` (the plant populations are closed-form row
    filters), so the whole report adds one scan, one tiny group-min,
    and the candidate-bounded verify join on top of frames the
    minhash queries already share; stage rows come from a stack() over
    crossJoined 1-row aggregates. Oracle replays every stage
    analytically (banding the survivors directly -- signature-identical
    to banding the groups)."""
    from spark_data_test_spark.operators.dedup import (
        _cached_gid_pairs,
        _cached_members,
        _cached_sets,
        _jaccard_verify,
    )

    members = _cached_members(spark, sf_dir)
    verified = _jaccard_verify(
        _cached_sets(spark, sf_dir), _cached_gid_pairs(spark, sf_dir), 500000
    ).select("gid_a", "gid_b")
    # greedy min-id survivor rule at group level: each group's
    # survivor is its min doc_id; a verified group pair removes the
    # larger survivor
    smin = members.groupBy("gid").agg(F.min("doc_id").alias("sdoc"))
    rem = (
        verified.join(
            smin.select(F.col("gid").alias("gid_a"), F.col("sdoc").alias("da")),
            "gid_a",
        )
        .join(
            smin.select(F.col("gid").alias("gid_b"), F.col("sdoc").alias("db")),
            "gid_b",
        )
        .select(F.greatest("da", "db").alias("rdoc"))
        .agg(F.countDistinct("rdoc").alias("r3"))
    )
    c2 = smin.agg(F.count(F.lit(1)).alias("n2"))
    # stage-0/1 counts in ONE documents scan: corpus = documents
    # + %13 tail-token twins (twin length = base + 17, always >= 8)
    # + %17 byte-identical twins (twin length = base length)
    d = t(spark, sf_dir, "documents")
    len8 = F.length("text") >= 8
    # a %13 tail twin passes the length filter iff its base text is
    # non-null (tail adds 17 chars; a NULL base concats to NULL and is
    # filtered on both engines) — null-safe even though the provided
    # testdata has no null texts
    c01 = d.agg(
        (
            F.count(F.lit(1))
            + F.sum(F.when(F.col("doc_id") % 13 == 0, 1).otherwise(0))
            + F.sum(F.when(F.col("doc_id") % 17 == 0, 1).otherwise(0))
        ).alias("n0"),
        (
            F.sum(F.when(len8, 1).otherwise(0))
            + F.sum(
                F.when(
                    (F.col("doc_id") % 13 == 0) & F.col("text").isNotNull(), 1
                ).otherwise(0)
            )
            + F.sum(F.when(len8 & (F.col("doc_id") % 17 == 0), 1).otherwise(0))
        ).alias("n1"),
    )
    wide = c01.crossJoin(F.broadcast(c2)).crossJoin(F.broadcast(rem))
    return wide.selectExpr(
        "stack(3,"
        " cast(1 AS bigint), 'short_filter', cast(n0 AS bigint),"
        " cast(n0 - n1 AS bigint), cast(n1 AS bigint),"
        " cast(2 AS bigint), 'exact_dedup', cast(n1 AS bigint),"
        " cast(n1 - n2 AS bigint), cast(n2 AS bigint),"
        " cast(3 AS bigint), 'near_dedup', cast(n2 AS bigint),"
        " cast(r3 AS bigint), cast(n2 - r3 AS bigint)"
        ") AS (stage_id, stage, n_in, n_removed, n_out)"
    ).orderBy("stage_id")
