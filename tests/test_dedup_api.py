"""Frame-level dedup library APIs (`exact_dup_groups`,
`minhash_band_index`, `near_dup_pairs`) cross-checked against a
brute-force Python replica of the pipeline's math: strided char-8-gram
shingle sets, md5 minhash signatures (12 hashes, 4 bands of 3), band
collisions, exact Jaccard. The library contract is deterministic, so
the comparison is exact set equality, not approximate recall."""

import hashlib
from itertools import combinations

from spark_data_test_spark import (
    exact_dup_groups,
    minhash_band_index,
    near_dup_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog today"),  # near dup
    (4, "completely different content about spark shuffles"),
    (5, "tiny"),  # below shingle width: no bands
    (6, "tiny"),  # exact dup of 5, also below shingle width
    (7, "completely different content about spark shuffling"),  # near of 4
    (8, "nothing shares any gram with this one either ok"),
]


def _shingle_set(text):
    if len(text) < 8:
        return set()
    return {text[i : i + 8] for i in range(0, len(text) - 7, 4)}


def _minhash_sig(shingles):
    return [
        min(
            hashlib.md5(f"{sh}#{k}".encode()).hexdigest() for sh in shingles
        )
        for k in range(12)
    ]


def _bands(sig):
    return {(b, sig[3 * b] + sig[3 * b + 1] + sig[3 * b + 2]) for b in range(4)}


def _brute_pairs(docs, tau_1e6=500000):
    """Replicates the documented near_dup_pairs contract in plain
    Python: identical texts always pair at 1e6; different texts pair
    iff >= 1 band collides and exact Jaccard >= tau."""
    out = set()
    for (ida, ta), (idb, tb) in combinations(docs, 2):
        a, b = min(ida, idb), max(ida, idb)
        if ta == tb:
            out.add((a, b, 1000000))
            continue
        sa, sb = _shingle_set(ta), _shingle_set(tb)
        if not sa or not sb:
            continue
        if not (_bands(_minhash_sig(sa)) & _bands(_minhash_sig(sb))):
            continue
        i = len(sa & sb)
        jac = 1000000.0 * i / (len(sa) + len(sb) - i)
        if jac >= tau_1e6:
            out.add((a, b, round(jac)))
    return out


def test_exact_dup_groups_survivorship(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = {r.doc_id: (r.gid, r.is_survivor) for r in exact_dup_groups(df).collect()}
    assert len(rows) == len(DOCS)
    assert rows[1][0] == rows[2][0] and rows[1][1] and not rows[2][1]
    assert rows[5][0] == rows[6][0] and rows[5][1] and not rows[6][1]
    # non-dups are their own surviving group
    singles = [3, 4, 7, 8]
    assert all(rows[d][1] for d in singles)
    assert len({rows[d][0] for d in singles}) == len(singles)
    expected_gid = hashlib.md5(DOCS[0][1].encode()).hexdigest()
    assert rows[1][0] == expected_gid


def test_minhash_band_index_matches_bruteforce(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r.doc_id, r.band, r.sig)
        for r in minhash_band_index(df).collect()
    }
    expected = set()
    for doc_id, text in DOCS:
        sh = _shingle_set(text)
        if not sh:
            continue
        for band, sig in _bands(_minhash_sig(sh)):
            expected.add((doc_id, band, sig))
    assert got == expected
    # short docs contribute no fingerprint rows
    assert not any(d in (5, 6) for d, _, _ in got)


def test_near_dup_pairs_matches_bruteforce(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.jaccard_1e6)
        for r in near_dup_pairs(df).collect()
    }
    expected = _brute_pairs(DOCS)
    assert got == expected
    # the fixture must actually exercise every class: exact pair,
    # short exact pair, two near pairs, and exact-dup expansion
    # pulling the near partner onto BOTH copies
    assert (1, 2, 1000000) in expected
    assert (5, 6, 1000000) in expected
    assert any(p[:2] == (4, 7) for p in expected)
    assert any(p[:2] == (1, 3) for p in expected)
    assert any(p[:2] == (2, 3) for p in expected)


def test_near_dup_pairs_threshold_is_exact(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    # raise tau until the near pairs fall out but exact dups remain
    got = {
        (r.doc_a, r.doc_b, r.jaccard_1e6)
        for r in near_dup_pairs(df, tau_1e6=1000000).collect()
    }
    assert got == {(1, 2, 1000000), (5, 6, 1000000)}


def _simhash_fp(texts):
    """Brute-force 64-bit mean-centered simhash per distinct text:
    two md5 vote lanes per token (multiplicity kept), corpus-mean
    centering via the exact integer comparison s_p * d >= t_p."""
    sums = {}
    for t in texts:
        toks = [tok for tok in t.split(" ") if tok != ""]
        if not toks:
            continue
        s = [0] * 64
        for tok in toks:
            h1 = hashlib.md5(tok.encode()).hexdigest()
            h2 = hashlib.md5((tok + "#").encode()).hexdigest()
            for p in range(64):
                bit = (h1[p] if p < 32 else h2[p - 32]) >= "8"
                s[p] += 1 if bit else -1
        sums[t] = s
    d = len(sums)
    totals = [sum(s[p] for s in sums.values()) for p in range(64)]
    return {
        t: sum(
            1 << p for p in range(64) if s[p] * d >= totals[p]
        )
        for t, s in sums.items()
    }


def _brute_simhash_pairs(docs, k):
    fps = _simhash_fp({t for _, t in docs})
    out = set()
    for (ida, ta), (idb, tb) in combinations(docs, 2):
        a, b = min(ida, idb), max(ida, idb)
        if ta not in fps or tb not in fps:
            continue  # tokenless docs never pair
        ham = bin(fps[ta] ^ fps[tb]).count("1")
        if ham <= k:
            out.add((a, b, ham))
    return out


# 40-token docs so a one-token edit stays inside the hamming-7 radius
# (on tiny docs one token flips too many mean-centered vote bits);
# the pair (1, 3) measures hamming 4 in the brute-force replica.
_BASE = " ".join(f"w{i}" for i in range(40))
SIM_DOCS = [
    (1, _BASE),
    (2, _BASE),  # identical text: hamming 0 by construction
    (3, " ".join(f"w{i}" for i in range(39)) + " zz"),  # one-token edit
    (4, " ".join(f"q{i}" for i in range(40))),
    (5, " ".join(f"r{i}" for i in range(40))),
    (6, "unrelated corpus filler words everywhere and nothing shared"),
    (7, "   "),  # tokenless: no fingerprint, never pairs
    (8, "   "),  # identical tokenless text: still never pairs
]


def test_simhash_near_dup_pairs_matches_bruteforce(spark):
    from spark_data_test_spark import simhash_near_dup_pairs

    df = spark.createDataFrame(SIM_DOCS, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dup_pairs(df).collect()
    }
    expected = _brute_simhash_pairs(SIM_DOCS, 7)
    assert got == expected
    # the fixture exercises the contract's classes
    assert (1, 2, 0) in expected  # identical texts at hamming 0
    assert not any(7 in p[:2] or 8 in p[:2] for p in expected)
    # the one-token edit lands inside the radius on BOTH exact copies
    assert any(p[:2] == (1, 3) for p in expected)
    assert any(p[:2] == (2, 3) for p in expected)
    # unrelated 40-token docs stay outside it
    assert not any(p[:2] == (4, 5) for p in expected)


def test_simhash_near_dup_pairs_rejects_unsound_radius(spark):
    import pytest as _pytest

    from spark_data_test_spark import simhash_near_dup_pairs

    df = spark.createDataFrame(SIM_DOCS[:2], "doc_id long, text string")
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=8)


# ---------------------------------------------------------------------------
# Property-based: the dedup triad equals its brute-force replica on
# RANDOM corpora (hypothesis) — dup-heavy alphabets so exact groups,
# band collisions, and verify rejections all occur organically.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "common", "filler", "zz"]
)
_texts = st.lists(_words, min_size=0, max_size=12).map(" ".join)

_prop_settings = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


@st.composite
def corpora(draw, max_docs=10):
    n = draw(st.integers(2, max_docs))
    return [(i + 1, draw(_texts)) for i in range(n)]


@given(docs=corpora())
@_prop_settings
def test_near_dup_pairs_property(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.jaccard_1e6)
        for r in near_dup_pairs(df).collect()
    }
    assert got == _brute_pairs(docs)


@given(docs=corpora())
@_prop_settings
def test_simhash_pairs_property(spark, docs):
    from spark_data_test_spark import simhash_near_dup_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dup_pairs(df).collect()
    }
    assert got == _brute_simhash_pairs(docs, 7)


@given(docs=corpora())
@_prop_settings
def test_exact_dup_groups_property(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: (r.gid, r.is_survivor) for r in exact_dup_groups(df).collect()}
    assert set(rows) == {d for d, _ in docs}
    by_text = {}
    for d, t in docs:
        by_text.setdefault(t, []).append(d)
    for t, ids in by_text.items():
        gids = {rows[d][0] for d in ids}
        assert len(gids) == 1  # same text -> same group
        survivors = [d for d in ids if rows[d][1]]
        assert survivors == [min(ids)]  # exactly the min id survives


# ---------------------------------------------------------------------------
# knn_text_graph: top-k peers among the banded candidates
# ---------------------------------------------------------------------------


def _brute_knn(docs, k):
    pairs = _brute_pairs(docs, tau_1e6=1)
    sym = {}
    for a, b, j in pairs:
        sym.setdefault(a, []).append((-j, b))
        sym.setdefault(b, []).append((-j, a))
    out = set()
    for d, peers in sym.items():
        peers.sort()
        for rank, (nj, p) in enumerate(peers[:k], start=1):
            out.add((d, p, rank, -nj))
    return out


def test_knn_text_graph_matches_bruteforce(spark):
    from spark_data_test_spark import knn_text_graph

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r.doc_id, r.peer_id, r.rank, r.jaccard_1e6)
        for r in knn_text_graph(df, k=3).collect()
    }
    expected = _brute_knn(DOCS, 3)
    assert got == expected
    # exact dups rank each other first at 1e6
    assert (1, 2, 1, 1000000) in got and (2, 1, 1, 1000000) in got
    # isolated docs emit no rows
    assert not any(d == 8 for d, _, _, _ in got)


@given(docs=corpora())
@_prop_settings
def test_knn_text_graph_property(spark, docs):
    from spark_data_test_spark import knn_text_graph

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.peer_id, r.rank, r.jaccard_1e6)
        for r in knn_text_graph(df, k=2).collect()
    }
    assert got == _brute_knn(docs, 2)


# ---------------------------------------------------------------------------
# dedup_corpus: the full waterfall (short -> exact -> near) per doc
# ---------------------------------------------------------------------------


def _brute_waterfall(docs, tau_1e6=500000, min_chars=8):
    out = {}
    long_docs = []
    for did, text in docs:
        if text is None or len(text) < min_chars:
            out[did] = ("short", None)
        else:
            long_docs.append((did, text))
    smin = {}
    for did, text in long_docs:
        smin[text] = min(smin.get(text, did), did)
    survivors = []
    for did, text in long_docs:
        if smin[text] != did:
            out[did] = ("exact", smin[text])
        else:
            survivors.append((did, text))
    pairs = _brute_pairs(survivors, tau_1e6=tau_1e6)
    near_by = {}
    for a, b, _ in pairs:
        near_by[b] = min(near_by.get(b, a), a)
    for did, _ in survivors:
        if did in near_by:
            out[did] = ("near", near_by[did])
        else:
            out[did] = ("kept", None)
    return out


def test_dedup_corpus_matches_bruteforce(spark):
    from spark_data_test_spark import dedup_corpus

    docs = DOCS + [(9, None), (10, "the quick brown fox jumps over the lazy dog today!")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.stage, r.survivor_of)
        for r in dedup_corpus(df).collect()
    }
    expected = _brute_waterfall(docs)
    assert got == expected
    # the fixture exercises every verdict
    assert {s for s, _ in got.values()} == {"short", "exact", "near", "kept"}
    # exact twin of 1 removed by 1; near twin of 1 removed at stage 3
    assert got[2] == ("exact", 1)
    assert got[3] == ("near", 1)


@given(docs=corpora())
@_prop_settings
def test_dedup_corpus_property(spark, docs):
    from spark_data_test_spark import dedup_corpus

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.stage, r.survivor_of)
        for r in dedup_corpus(df).collect()
    }
    assert got == _brute_waterfall(docs)


# ---------------------------------------------------------------------------
# minhash_index_build / minhash_index_probe: the incremental story
# ---------------------------------------------------------------------------


def _brute_probe(new_docs, history, tau_1e6=500000):
    """Cross pairs (new x history) under the probe contract: band
    collision between the two fingerprints AND exact Jaccard >= tau.
    Identical texts collide trivially (identical band rows)."""
    out = set()
    for nid, nt in new_docs:
        sa = _shingle_set(nt)
        if not sa:
            continue
        ba = _bands(_minhash_sig(sa))
        for hid, ht in history:
            sb = _shingle_set(ht)
            if not sb:
                continue
            if not (ba & _bands(_minhash_sig(sb))):
                continue
            i = len(sa & sb)
            jac = 1000000.0 * i / (len(sa) + len(sb) - i)
            if round(jac) >= tau_1e6:
                out.add((nid, hid, round(jac)))
    return out


def test_minhash_index_build_and_probe(spark, tmp_path):
    from spark_data_test_spark import minhash_index_build, minhash_index_probe

    history = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different content about spark shuffles"),
        (3, "nothing shares any gram with this one either ok"),
        (4, "tiny"),
    ]
    batch1 = [
        (101, "the quick brown fox jumps over the lazy dog today"),  # near 1
        (102, "the quick brown fox jumps over the lazy dog"),  # exact of 1
        (103, "entirely novel arrival with fresh content here"),
        (104, "abc"),  # too short: no bands
    ]
    batch2 = [
        (201, "entirely novel arrival with fresh content here too"),  # near 103
    ]
    hdf = spark.createDataFrame(history, "doc_id long, text string")
    idx_path = str(tmp_path / "mhidx")
    minhash_index_build(hdf, idx_path)

    b1 = spark.createDataFrame(batch1, "doc_id long, text string")
    got1 = {
        (r.new_doc_id, r.dup_of, r.jaccard_1e6)
        for r in minhash_index_probe(
            b1, idx_path, resolver=hdf, commit=True
        ).collect()
    }
    assert got1 == _brute_probe(batch1, history)
    assert (102, 1, 1000000) in got1  # exact arrival caught
    assert any(n == 101 and d == 1 for n, d, _ in got1)  # near caught
    assert not any(n in (103, 104) for n, _, _ in got1)

    # batch 2 probes history AND the committed batch-1 delta; the
    # resolver must cover both id spaces
    b2 = spark.createDataFrame(batch2, "doc_id long, text string")
    resolver = hdf.unionByName(b1)
    got2 = {
        (r.new_doc_id, r.dup_of, r.jaccard_1e6)
        for r in minhash_index_probe(b2, idx_path, resolver=resolver).collect()
    }
    assert got2 == _brute_probe(batch2, history + batch1)
    assert any(d == 103 for _, d, _ in got2)  # cross-batch near-dup


def test_minhash_index_probe_requires_index(spark, tmp_path):
    from spark_data_test_spark import minhash_index_probe

    df = spark.createDataFrame([(1, "whatever text")], "doc_id long, text string")
    try:
        minhash_index_probe(df, str(tmp_path / "missing"), resolver=df)
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_dedup_corpus_preserves_string_doc_ids(spark):
    """Advisory regression: survivor_of must keep the input doc_id
    type — the old hard cast to long turned string survivors into
    NULL, making a removed doc indistinguishable from a kept one."""
    from spark_data_test_spark import dedup_corpus

    docs = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy dog"),  # exact of a
        ("c", "the quick brown fox jumps over the lazy dog today"),  # near a
        ("d", "x"),  # short
        ("e", "completely different content about spark shuffles"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = dedup_corpus(df)
    assert dict(out.dtypes)["survivor_of"] == "string"
    got = {r.doc_id: (r.stage, r.survivor_of) for r in out.collect()}
    assert got == {
        "a": ("kept", None),
        "b": ("exact", "a"),
        "c": ("near", "a"),
        "d": ("short", None),
        "e": ("kept", None),
    }


def test_minhash_index_probe_commit_never_prunes_history(spark, tmp_path):
    """Advisory regression: a long uncompacted delta log must never
    drop the base index. Simulate 66 prior probe-commits (direct
    unbounded-retention delta commits — exactly what probe(commit=True)
    appends), then make one real probe-commit: under the old finite
    retain=64 that commit (v67) pruned v0 — the full-corpus
    fingerprints — and later probes silently stopped matching history.
    Space management belongs to compact_state_versions, which folds the
    log into one equivalent snapshot."""
    import os
    import sys

    from spark_data_test_spark import minhash_index_build, minhash_index_probe
    from spark_data_test_spark.state import write_state_version

    history = [(1, "the quick brown fox jumps over the lazy dog")]
    hdf = spark.createDataFrame(history, "doc_id long, text string")
    idx_path = str(tmp_path / "mhidx_long_log")
    minhash_index_build(hdf, idx_path)
    empty_delta = spark.read.parquet(f"{idx_path}/v0").limit(0)
    for _ in range(66):  # 66 no-match batches committed their (empty) bands
        write_state_version(empty_delta, idx_path, retain=sys.maxsize)

    batch = spark.createDataFrame(
        [(900, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    got = {
        (r.new_doc_id, r.dup_of, r.jaccard_1e6)
        for r in minhash_index_probe(
            batch, idx_path, resolver=hdf, commit=True
        ).collect()
    }
    assert got == {(900, 1, 1000000)}
    # the commit (version 67) retained the base snapshot and the log
    assert os.path.exists(f"{idx_path}/v0/_SUCCESS")
    assert os.path.exists(f"{idx_path}/v67/_SUCCESS")
    # and history still answers after the commit
    again = {
        (r.new_doc_id, r.dup_of)
        for r in minhash_index_probe(batch, idx_path, resolver=hdf).collect()
    }
    assert (900, 1) in again


def test_containment_pairs_matches_bruteforce(spark):
    from spark_data_test_spark import containment_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    texts = {
        1: base,
        2: base + " and then it kept running through the meadow until dusk",
        3: "completely unrelated content about cooking pasta with garlic",
        4: base + " and then it kept running through the meadow until dusk",
        5: "short",
    }
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )

    def sh(t):
        return {t[i:i + 8] for i in range(0, len(t) - 7, 4)}

    want = set()
    for a in texts:
        for b in texts:
            if a >= b or len(texts[a]) < 8 or len(texts[b]) < 8:
                continue
            if texts[a] == texts[b]:
                continue  # same gid: never a containment pair
            sa, sb = sh(texts[a]), sh(texts[b])
            if len(sa) == len(sb):
                continue
            i = len(sa & sb)
            score = 1000000.0 * i / min(len(sa), len(sb))
            if score >= 800000:
                small, large = (a, b) if len(sa) < len(sb) else (b, a)
                want.add((small, large, round(score)))

    got = {
        (r.contained_id, r.container_id, r.containment_1e6)
        for r in containment_pairs(df, 800000).collect()
    }
    assert got == want
    # the planted containment exists and the exact-dup group expands
    assert (1, 2, 1000000) in got and (1, 4, 1000000) in got

    try:
        containment_pairs(df, 0)
        assert False, "expected ValueError for tau=0"
    except ValueError:
        pass


def test_containment_pairs_parity_with_registered_query(spark, sf_dir):
    from pyspark.sql import functions as F

    from spark_data_test_spark import containment_pairs
    from spark_data_test_spark.operators.dedup import (
        _near_corpus,
        dedup_containment,
    )

    corpus = _near_corpus(spark, sf_dir)
    members = {
        r.doc_id: r.gid
        for r in corpus.select(
            "doc_id", F.md5("text").alias("gid")
        ).collect()
    }
    got = {
        (members[r.contained_id], members[r.container_id], r.containment_1e6)
        for r in containment_pairs(corpus).collect()
    }
    want = {
        (r.contained_gid, r.container_gid, r.containment_1e6)
        for r in dedup_containment(spark, sf_dir).collect()
    }
    assert got == want and got


def test_duplicate_ngram_spans_matches_bruteforce(spark):
    from spark_data_test_spark import duplicate_ngram_spans

    texts = {
        1: "a b c d e f",        # shares 3-grams with 2 and 3
        2: "a b c d x y",        # shares "a b c", "b c d" with 1
        3: "z w c d e f q",      # shares "c d e", "d e f" with 1
        4: "p q r s t",          # no shared grams
        5: "a b",                # too short for a 3-gram
        6: "hot hot hot hot",    # df-capped gram scenario below
        7: "hot hot hot hot",
        8: "hot hot hot",
    }
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )

    def brute(n, stop_df):
        grams = {
            d: {
                " ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)
            }
            for d, t in texts.items()
            if len(toks := [x for x in t.split(" ") if x]) >= n
        }
        df_count = {}
        for gs in grams.values():
            for g in gs:
                df_count[g] = df_count.get(g, 0) + 1
        dup = {g for g, c in df_count.items() if 2 <= c <= stop_df}
        out = set()
        for d, gs in grams.items():
            nd = len(gs & dup)
            if nd == 0:
                continue
            partners = {
                o
                for o, ogs in grams.items()
                if o != d and (gs & dup & ogs)
            }
            out.add((d, len(gs), nd, len(partners), 1000 * nd // len(gs)))
        return out

    for n, stop in ((3, 1000), (3, 2), (2, 1000)):
        got = {
            tuple(r)
            for r in duplicate_ngram_spans(df, n=n, stop_df=stop).collect()
        }
        assert got == brute(n, stop), (n, stop)

    # stop_df=2 drops the df-3 "hot hot hot" gram from pair expansion
    assert brute(3, 2) != brute(3, 1000)

    for bad in ({"n": 0}, {"stop_df": 1}):
        try:
            duplicate_ngram_spans(df, **bad)
            assert False, f"expected ValueError for {bad}"
        except ValueError:
            pass


def test_duplicate_ngram_spans_parity_with_registered_query(spark, sf_dir):
    from spark_data_test_spark import duplicate_ngram_spans
    from spark_data_test_spark.operators.dedup import corpus_duplicate_ngrams
    from spark_data_test_spark.operators.relational import t

    got = {
        tuple(r)
        for r in duplicate_ngram_spans(
            t(spark, sf_dir, "documents")
        ).collect()
    }
    want = {tuple(r) for r in corpus_duplicate_ngrams(spark, sf_dir).collect()}
    assert got == want and got


def test_source_overlap_matches_bruteforce(spark):
    from spark_data_test_spark import source_overlap

    rows = [
        (1, "web", "the quick brown fox jumps over the lazy dog"),
        (2, "web", "shared content block appears in both places okay"),
        (3, "crawl", "shared content block appears in both places okay"),
        (4, "crawl", "entirely different crawl material about topics"),
        (5, "books", "unrelated long-form writing with its own words"),
        (6, None, "the quick brown fox jumps over the lazy dog"),  # dropped
        (7, "web", "tiny"),  # below shingle width: no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    sets = {}
    for _, src, t in rows:
        if src is None or len(t) < 8:
            continue
        sets.setdefault(src, set()).update(
            t[i:i + 8] for i in range(0, len(t) - 7, 4)
        )
    want = set()
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            i = len(sets[a] & sets[b])
            if i == 0:
                continue
            want.add((
                a, b, i, len(sets[a]), len(sets[b]),
                round(1000000.0 * i / (len(sets[a]) + len(sets[b]) - i)),
            ))
    got = {tuple(r) for r in source_overlap(df).collect()}
    assert got == want
    assert any(p[:2] == ("crawl", "web") for p in want)  # planted overlap
    assert not any("books" in p[:2] for p in want)       # disjoint group


def test_source_overlap_parity_with_registered_query(spark, sf_dir):
    from spark_data_test_spark import source_overlap
    from spark_data_test_spark.operators.dedup import corpus_source_similarity
    from spark_data_test_spark.operators.relational import t

    got = {
        tuple(r)
        for r in source_overlap(t(spark, sf_dir, "documents")).collect()
    }
    want = {
        tuple(r) for r in corpus_source_similarity(spark, sf_dir).collect()
    }
    assert got == want and got


def test_near_dup_pairs_parity_with_registered_query(spark, sf_dir):
    from pyspark.sql import functions as F

    from spark_data_test_spark.operators.dedup import (
        _near_corpus,
        dedup_near_jaccard,
    )

    corpus = _near_corpus(spark, sf_dir).where(F.length("text") >= 8)
    got = {tuple(r) for r in near_dup_pairs(corpus).collect()}
    want = {tuple(r) for r in dedup_near_jaccard(spark, sf_dir).collect()}
    assert got == want and got


def test_simhash_near_dup_pairs_parity_with_registered_query(spark, sf_dir):
    from spark_data_test_spark import simhash_near_dup_pairs
    from spark_data_test_spark.operators.dedup import (
        _near_corpus,
        dedup_simhash_pairs,
    )

    got = {
        tuple(r)
        for r in simhash_near_dup_pairs(_near_corpus(spark, sf_dir)).collect()
    }
    want = {tuple(r) for r in dedup_simhash_pairs(spark, sf_dir).collect()}
    assert got == want and got


def test_group_pairs_never_pair_a_doc_with_itself(spark):
    """One doc_id carrying two different texts sits in two text groups;
    expanding a candidate pair of those groups must not emit (d, d)."""
    from spark_data_test_spark import simhash_near_dup_pairs

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog!"),
            (2, "something else entirely different words here"),
        ],
        "doc_id long, text string",
    )
    assert near_dup_pairs(df).collect() == []
    assert all(r.doc_a < r.doc_b for r in simhash_near_dup_pairs(df).collect())


def test_source_overlap_guards_high_group_counts(spark):
    """Round-12 guard (VERDICT r11 item 5): pointing group_col at a
    high-cardinality column raises BEFORE the quadratic per-shingle
    pair expansion runs, and the bound is caller-adjustable."""
    import pytest

    from spark_data_test_spark import source_overlap

    rows = [(i, f"g{i}", f"shared content block row {i:04d} padding")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    with pytest.raises(ValueError, match="max_groups"):
        source_overlap(df, max_groups=16)
    # raising the bound (or staying under it) still computes
    assert source_overlap(df, max_groups=64).count() >= 0

def test_minhash_index_delete_then_probe_and_compact(spark, tmp_path):
    """Round-12: the band-index DELETE path (mirrors ivf_index_delete).
    After a delete, probes answer exactly as if the index had been
    built WITHOUT the deleted docs; deleting an absent id is a no-op;
    a probe-commit re-ingest resurrects the doc; and the resolving
    compactor folds the log to a live-rows-only snapshot with probe
    answers unchanged."""
    import os

    from spark_data_test_spark import (
        minhash_index_build,
        minhash_index_compact,
        minhash_index_delete,
        minhash_index_probe,
    )

    history = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different content about spark shuffles"),
    ]
    hdf = spark.createDataFrame(history, "doc_id long, text string")
    idx = str(tmp_path / "mhidx")
    minhash_index_build(hdf, idx)
    minhash_index_delete(spark, idx, [1, 999])  # 999: absent, no-op

    batch = [(100, "the quick brown fox jumps over the lazy dog")]
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    kept = [d for d in history if d[0] != 1]
    got = {
        (r.new_doc_id, r.dup_of, r.jaccard_1e6)
        for r in minhash_index_probe(bdf, idx, resolver=hdf).collect()
    }
    assert got == _brute_probe(batch, kept)
    assert not any(d == 1 for _, d, _ in got)
    assert any(d == 2 for _, d, _ in got)  # live partner still matches

    # re-ingest doc 1's text under its own id via probe-commit: the
    # higher-version band rows beat the tombstone
    back = spark.createDataFrame([history[0]], "doc_id long, text string")
    minhash_index_probe(back, idx, resolver=hdf, commit=True).collect()
    got2 = {
        (r.new_doc_id, r.dup_of, r.jaccard_1e6)
        for r in minhash_index_probe(bdf, idx, resolver=hdf).collect()
    }
    assert got2 == _brute_probe(batch, history)

    # delete again, then compact: one surviving version, no tombstone
    # rows, no doc-1 rows, probe answers unchanged across the fold
    minhash_index_delete(spark, idx, [1])
    before = {
        (r.new_doc_id, r.dup_of)
        for r in minhash_index_probe(bdf, idx, resolver=hdf).collect()
    }
    v = minhash_index_compact(spark, idx)
    assert [n for n in os.listdir(idx) if n.startswith("v")] == [f"v{v}"]
    snap = spark.read.parquet(f"{idx}/v{v}")
    assert snap.where("band < 0 or doc_id = 1").count() == 0
    after = {
        (r.new_doc_id, r.dup_of)
        for r in minhash_index_probe(bdf, idx, resolver=hdf).collect()
    }
    assert after == before == {(100, 2)}
    assert minhash_index_compact(spark, str(tmp_path / "nope")) is None


def test_minhash_index_delete_requires_index_and_ids(spark, tmp_path):
    from spark_data_test_spark import minhash_index_delete

    try:
        minhash_index_delete(spark, str(tmp_path / "nope"), [1])
        assert False, "expected ValueError"
    except ValueError:
        pass
    try:
        minhash_index_delete(spark, str(tmp_path / "nope"), [])
        assert False, "expected ValueError"
    except ValueError:
        pass

def test_minhash_index_random_op_sequence_equals_net_state(spark, tmp_path):
    """Seeded random LSM lifecycle for the band index: an arbitrary
    interleaving of probe-commits, deletes, and compactions answers
    every probe exactly like the brute-force cross-check against the
    net live document set."""
    import random

    from spark_data_test_spark import (
        minhash_index_build,
        minhash_index_compact,
        minhash_index_delete,
        minhash_index_probe,
    )

    base_texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog today",
        "completely different content about spark shuffles",
        "nothing shares any gram with this one either ok",
    ]
    history = list(enumerate(base_texts))
    hdf = spark.createDataFrame(history, "doc_id long, text string")
    idx = str(tmp_path / "mhidx")
    minhash_index_build(hdf, idx)
    live = dict(history)
    rng = random.Random(173)
    next_id = 100
    probe_batch = [(900, base_texts[0]), (901, base_texts[2])]
    bdf = spark.createDataFrame(probe_batch, "doc_id long, text string")
    for step in range(5):
        op = rng.choice(["ingest", "delete", "compact"])
        resolver = spark.createDataFrame(
            sorted(live.items()), "doc_id long, text string"
        )
        if op == "ingest":
            text = rng.choice(base_texts) + (" v%d" % step) * rng.randrange(2)
            rows = [(next_id, text)]
            live[next_id] = text
            next_id += 1
            minhash_index_probe(
                spark.createDataFrame(rows, "doc_id long, text string"),
                idx, resolver=resolver, commit=True,
            ).collect()
        elif op == "delete" and live:
            gone = rng.sample(sorted(live), k=1)
            minhash_index_delete(spark, idx, gone)
            for g in gone:
                live.pop(g)
        elif op == "compact":
            minhash_index_compact(spark, idx)
        resolver = spark.createDataFrame(
            sorted(live.items()), "doc_id long, text string"
        )
        got = {
            (r.new_doc_id, r.dup_of, r.jaccard_1e6)
            for r in minhash_index_probe(
                bdf, idx, resolver=resolver
            ).collect()
        }
        assert got == _brute_probe(probe_batch, sorted(live.items())), (
            step, op, sorted(live),
        )

def test_minhash_index_stats_tracks_the_lifecycle(spark, tmp_path):
    """Stats reflect every lifecycle step: build (live == fingerprinted
    docs, one version, no tombstones), probe-commit ingest (+docs,
    +versions), delete (-docs, +tombstones, log unchanged), compact
    (live unchanged, log folded, zero tombstones). Docs shorter than
    the shingle width carry no band rows and never count."""
    from spark_data_test_spark import (
        minhash_index_build,
        minhash_index_compact,
        minhash_index_delete,
        minhash_index_probe,
        minhash_index_stats,
    )

    history = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different content about spark shuffles"),
        (3, "x"),  # below shingle width: no band rows
    ]
    hdf = spark.createDataFrame(history, "doc_id long, text string")
    idx = str(tmp_path / "mhidx")
    minhash_index_build(hdf, idx)

    def stats():
        return minhash_index_stats(spark, idx).collect()[0]

    s0 = stats()
    assert (s0.n_live_docs, s0.n_versions, s0.n_tombstones) == (2, 1, 0)
    assert s0.n_live_rows == s0.n_log_rows
    assert 1 <= s0.max_bucket_rows <= s0.n_live_rows

    batch = spark.createDataFrame(
        [(100, "entirely novel arrival with fresh content here")],
        "doc_id long, text string",
    )
    minhash_index_probe(batch, idx, resolver=hdf, commit=True).collect()
    s1 = stats()
    assert (s1.n_live_docs, s1.n_versions) == (3, 2)

    minhash_index_delete(spark, idx, [1])
    s2 = stats()
    assert (s2.n_live_docs, s2.n_tombstones, s2.n_versions) == (2, 1, 3)
    assert s2.n_log_rows == s1.n_log_rows + 1  # just the tombstone

    minhash_index_compact(spark, idx)
    s3 = stats()
    assert (s3.n_live_docs, s3.n_versions, s3.n_tombstones) == (2, 1, 0)
    assert s3.n_log_rows == s3.n_live_rows == s2.n_live_rows
    assert minhash_index_stats(spark, str(tmp_path / "nope")) is None


def _kernel_docs():
    """~40 ``(doc_id, text)`` rows covering the MinHash kernel's edge
    cases: exact duplicates, texts under the 8-char shingle width (and
    an empty one), a NULL text, non-ASCII and astral-plane text, texts
    whose shingles repeat (two different texts with ONE shared shingle
    set), and graded near variants so the verify sees a Jaccard
    spread."""
    bases = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "spark shuffles rows between executors by the hash of the key",
        "naïve café crème brûlée über straße déjà vu encore une fois",
        "東京都の天気は晴れです今日もいい天気ですね明日は雨でしょう",
        "emoji 😀 rides along 🚀 with plain words and more words here",
        "minhash signatures band into buckets and verify exact jaccard",
    ]
    rows = []
    for b in bases:
        rows.append(b)
        rows.append(b + " tail")
        rows.append(b[: len(b) * 3 // 4])
        rows.append(b.replace(" ", "_", 2))
    rows += [bases[0], bases[1], bases[3]]  # exact duplicates
    rows += ["tiny", "tiny", "abc", "", "1234567", "12345678"]
    rows += ["abcd" * 10, "abcd" * 12, "xyzw" * 6]  # repeating shingles
    rows += [None]
    rows += [
        "unrelated text number one with its own words",
        "unrelated text number two with its own words",
        "something else entirely different from everything",
    ]
    return list(enumerate(rows, start=1))


def _kernel_reference(docs, tau_1e6):
    """Pure-Python `near_dup_pairs`: identical non-NULL texts pair at
    1e6; different texts pair iff their shingle sets share a band, at
    least one shingle, and an exact Jaccard >= tau."""
    out = set()
    for (ida, ta), (idb, tb) in combinations(docs, 2):
        if ta is None or tb is None:
            continue
        a, b = min(ida, idb), max(ida, idb)
        if ta == tb:
            out.add((a, b, 1000000))
            continue
        sa, sb = _shingle_set(ta), _shingle_set(tb)
        if not sa or not sb:
            continue
        if not (_bands(_minhash_sig(sa)) & _bands(_minhash_sig(sb))):
            continue
        i = len(sa & sb)
        jac = 1000000.0 * i / (len(sa) + len(sb) - i)
        if i > 0 and jac >= tau_1e6:
            out.add((a, b, round(jac)))
    return out


def test_minhash_kernel_matches_python_reference(spark):
    """Band index and verified pairs of the one MinHash kernel equal a
    hashlib/sets reference on edge-case text, at the loosest, the
    default and the strictest threshold."""
    docs = _kernel_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_id, r.band, r.sig) for r in minhash_band_index(df).collect()}
    want = {
        (d, band, sig)
        for d, text in docs
        if text is not None and _shingle_set(text)
        for band, sig in _bands(_minhash_sig(_shingle_set(text)))
    }
    assert got == want
    texts = dict(docs)
    for tau in (1, 500000, 1000000):
        pairs = {
            (r.doc_a, r.doc_b, r.jaccard_1e6)
            for r in near_dup_pairs(df, tau_1e6=tau).collect()
        }
        assert pairs == _kernel_reference(docs, tau), tau
        if tau == 1:
            # a band collision with no shared shingle never verifies
            for a, b, _ in pairs:
                ta, tb = texts[a], texts[b]
                assert ta == tb or _shingle_set(ta) & _shingle_set(tb)
            # the fixture exercises the near range and the set-equal
            # repeated-shingle texts
            assert any(0 < j < 1000000 for _, _, j in pairs)
    rep = [d for d, t in docs if t in ("abcd" * 10, "abcd" * 12)]
    assert (rep[0], rep[1], 1000000) in _kernel_reference(docs, 1000000)
