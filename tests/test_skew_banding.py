"""Adversarial-skew banding (VERDICT r6 item 7): pathological corpora —
one text shared by 10^4 docs, and one boilerplate shingle block shared
by 10^4 DISTINCT docs — must not send any banding self-join quadratic.

The two rules under test are the documented scale defenses:
  * EXACT-DUP COLLAPSE: every text-derived structure (shingles, minhash
    signatures, simhash votes, band buckets) is built per DISTINCT text
    (gid), so k identical copies cost the self-joins nothing.
  * STOP-SHINGLE CAP: pair DISCOVERY in the co-count truth build runs
    only over shingles with df <= _STOP_SH_DF, so boilerplate shared by
    everybody cannot discover a pair.

These tests pin CANDIDATE COUNTS (the frame sizes that would explode),
not wall time: if a hot bucket went quadratic the asserts would see
~5e7 rows where they expect a few thousand.
"""

import hashlib

import pytest

from pyspark.sql import functions as F

from spark_data_test_spark.operators import dedup as dd
from spark_data_test_spark.utils.spark_utils import clear_all

N_HOT = 10_000  # docs sharing the pathological content
N_DISTINCT = 200  # well-behaved distinct docs alongside


def _write_documents(spark, root, texts):
    """Stage a documents.parquet shaped like the testdata layout."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    df.coalesce(2).write.mode("overwrite").parquet(f"{root}/documents.parquet")
    return str(root)


@pytest.fixture(scope="module")
def hot_identical_dir(spark, tmp_path_factory):
    """10^4 byte-identical copies of one boilerplate text + 200 normal
    distinct docs."""
    boiler = (
        "this exact license header is stamped onto every file of the "
        "corpus verbatim and shared by ten thousand documents"
    )
    texts = [boiler] * N_HOT + [
        f"unique document number {i} body {hashlib.md5(str(i).encode()).hexdigest()}"
        for i in range(N_DISTINCT)
    ]
    return _write_documents(
        spark, tmp_path_factory.mktemp("skew_identical"), texts
    )


@pytest.fixture(scope="module")
def hot_boilerplate_dir(spark, tmp_path_factory):
    """10^4 DISTINCT docs sharing a 16-char boilerplate prefix (its
    shingles land in every doc: df = 10^4 >> _STOP_SH_DF) followed by a
    unique ~200-char tail, so no two docs are genuinely similar."""
    boiler = "BOILERPLATE HDR "  # 16 chars -> hot shingles at stride 4
    texts = []
    for i in range(N_HOT):
        seed = hashlib.md5(f"tail{i}".encode()).hexdigest()
        tail = "".join(
            hashlib.md5(f"{seed}{k}".encode()).hexdigest() for k in range(6)
        )
        texts.append(boiler + tail)
    return _write_documents(
        spark, tmp_path_factory.mktemp("skew_boiler"), texts
    )


def test_exact_dup_collapse_bounds_minhash_banding(spark, hot_identical_dir):
    """10^4 identical texts collapse to ONE gid before any banding, so
    the candidate GROUP-pair frame stays tiny (the planted +tail twins
    pair with their bases; nothing pairs quadratically)."""
    members = dd._cached_members(spark, hot_identical_dir)
    n_gids = members.select("gid").distinct().count()
    # 201 distinct texts + their planted 'extra tail token' variants
    assert n_gids <= 2 * (N_DISTINCT + 1)
    n_pairs = dd._cached_gid_pairs(spark, hot_identical_dir).count()
    # quadratic would be ~C(10^4, 2) ~ 5e7; collapse keeps it at the
    # near-dup population (one banding pair per planted twin, plus
    # rare random collisions between distinct texts)
    assert n_pairs < 2_000


def test_simhash_votes_collapse_to_distinct_texts(spark, hot_identical_dir):
    """Simhash vote sums are computed once per DISTINCT text — the
    banding self-join input for 10^4 identical copies is ONE row."""
    sums = dd._sp_vote_sums(dd._near_corpus(spark, hot_identical_dir))
    assert sums.count() <= 2 * (N_DISTINCT + 1)


def test_stop_shingle_cap_blocks_boilerplate_discovery(
    spark, hot_boilerplate_dir
):
    """Boilerplate shingles (df = 10^4) are hotter than _STOP_SH_DF, so
    the co-count discovery join cannot pair docs through them: the
    discovered pair set tracks the planted twins, not corpus^2."""
    sh = dd._shingle_rows(dd._cached_sets(spark, hot_boilerplate_dir), "gid")
    hottest = (
        sh.groupBy("sh").count().agg(F.max("count").alias("m")).first().m
    )
    assert hottest > dd._STOP_SH_DF  # fixture really is pathological
    n_co = dd._cached_gid_co_counts(spark, hot_boilerplate_dir).count()
    # every doc shares the boilerplate with all 10^4 others; without the
    # cap discovery would emit ~5e7 pairs. Rare (tail) shingles only
    # pair the planted twins (~10^4/13) plus md5-tail collisions.
    assert n_co < 20_000


def test_boilerplate_does_not_inflate_lsh_candidates(
    spark, hot_boilerplate_dir
):
    """Minhash band signatures over boilerplate-prefixed docs are
    dominated by the ~48 unique tail shingles, so banding candidates
    stay at the planted-twin population, not 10^4 x 10^4."""
    n_pairs = dd._cached_gid_pairs(spark, hot_boilerplate_dir).count()
    assert n_pairs < 20_000


def test_audio_envelope_banding_collapses_identical_clips(spark, tmp_path):
    """AUDIO analog of the exact-dup collapse pin: 2000 byte-identical
    clips (same text -> same md5-derived PCM) must contribute ONE
    distinct fingerprint to the envelope band self-join — candidate
    volume is bounded by distinct CONTENT, not doc count."""
    from spark_data_test_spark.operators import multimodal as mm

    n_hot, n_distinct = 2000, 50
    boiler = "the same clip text stamped onto thousands of documents"
    texts = [boiler] * n_hot + [
        f"clip {i} {hashlib.md5(str(i).encode()).hexdigest()}"
        for i in range(n_distinct)
    ]
    root = _write_documents(spark, tmp_path / "audio_hot", texts)
    clear_all()
    try:
        dec = mm.audio_decoded(spark, root).select("doc_id", "pcm_hex")
        members = dec.select(F.col("pcm_hex").alias("gid"), "doc_id")
        fp = mm._audio_envelope_fp(members)
        # hot corpus collapses to n_distinct + 1 fingerprints (plus the
        # %17 planted twins' own contents, which are also distinct)
        n_fp = fp.count()
        n_docs = members.count()
        assert n_docs >= n_hot  # twins add more
        assert n_fp <= n_distinct + 1 + (n_docs - n_hot - n_distinct) + 1
        # the band self-join input is fingerprints x frames — thousands,
        # never doc-quadratic
        bands = fp.selectExpr(
            "gid", f"explode(sequence(1, {mm._AUD_FRAMES})) AS k", "ea"
        ).selectExpr("gid", "k", "element_at(ea, k) AS sig")
        a, b = bands.alias("a"), bands.alias("b")
        cand = a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.gid") < F.col("b.gid")),
        ).count()
        # random 18-bit-energy collisions among ~100 distinct contents:
        # a handful at most; doc-level banding would give ~2e6 per band
        assert cand < 1000
    finally:
        clear_all()
