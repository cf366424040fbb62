"""Frame-level `cosine_topk` cross-checked against a numpy brute
force: exact ranks (ties broken by neighbor_id) and cosine values to
double precision on a seeded random corpus."""

import math
import random

from spark_data_test_spark import cosine_topk


def _fixture(n=30, nq=4, dim=8, seed=7):
    rng = random.Random(seed)
    corpus = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    corpus.append((n, [0.0] * dim))  # zero vector: must never appear
    queries = [corpus[i] for i in range(nq)]
    return corpus, queries


def _brute(corpus, queries, k):
    out = set()
    for qid, qv in queries:
        qn = math.sqrt(sum(x * x for x in qv))
        if qn == 0:
            continue
        scored = []
        for cid, cv in corpus:
            cn = math.sqrt(sum(x * x for x in cv))
            if cid == qid or cn == 0:
                continue
            dot = sum(x * y for x, y in zip(qv, cv))
            scored.append((-dot / (qn * cn), cid))
        scored.sort()
        for rank, (neg_cos, cid) in enumerate(scored[:k], start=1):
            out.add((qid, cid, rank, round(-neg_cos, 9)))
    return out


def test_cosine_topk_matches_bruteforce(spark):
    corpus, queries = _fixture()
    cdf = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, emb array<double>")
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in cosine_topk(cdf, qdf, k=5).collect()
    }
    expected = _brute(corpus, queries, 5)
    assert got == expected
    # 4 queries x 5 ranks, zero vector excluded everywhere
    assert len(got) == 20
    assert not any(n == 30 for _, n, _, _ in got)


def test_cosine_topk_custom_columns_and_float_arrays(spark):
    corpus, queries = _fixture(n=12, nq=2, dim=4, seed=11)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in corpus],
        "id long, vec array<float>",
    )
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in queries],
        "id long, vec array<float>",
    )
    rows = cosine_topk(cdf, qdf, k=3, id_col="id", vec_col="vec").collect()
    assert len(rows) == 6  # 2 queries x 3 ranks
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine))
    for ranks in by_q.values():
        ranks.sort()
        # ranks are 1..k and cosine is non-increasing along them
        assert [r for r, _ in ranks] == [1, 2, 3]
        assert all(
            ranks[i][1] >= ranks[i + 1][1] - 1e-12
            for i in range(len(ranks) - 1)
        )


# ---------------------------------------------------------------------------
# ivf_topk: trained-IVF ANN over arbitrary frames
# ---------------------------------------------------------------------------


def _clustered_fixture(n_clusters=3, per_cluster=12, dim=6, seed=13):
    """Clustered corpus (the regime IVF is built for): each cluster is
    a distinct orthant-anchored center plus small perturbations, so
    true neighbors share a cluster."""
    rng = random.Random(seed)
    corpus = []
    vid = 0
    for c in range(n_clusters):
        center = [(10.0 if (c >> b) & 1 else -10.0) for b in range(dim)]
        for _ in range(per_cluster):
            corpus.append(
                (vid, [x + rng.uniform(-1, 1) for x in center])
            )
            vid += 1
    queries = [corpus[0], corpus[per_cluster], corpus[2 * per_cluster]]
    return corpus, queries


def test_ivf_topk_probe_all_equals_bruteforce(spark):
    """With nprobe >= ncells every cell is probed, so the IVF result
    must EQUAL the exact baseline bit-for-bit (same tie-break)."""
    from spark_data_test_spark import ivf_topk

    corpus, queries = _fixture(n=25, nq=3, dim=6, seed=23)
    cdf = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, emb array<double>")
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_topk(
            cdf, qdf, k=4, ncells=4, nprobe=4, rounds=2
        ).collect()
    }
    expected = _brute(corpus, queries, 4)
    assert got == expected


def test_ivf_topk_clustered_recall(spark):
    """On clustered data with nprobe=1 the probe finds the query's own
    cluster: top-k recall vs brute force should be total (every true
    neighbor is a same-cluster vector)."""
    from spark_data_test_spark import ivf_topk

    corpus, queries = _clustered_fixture()
    cdf = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, emb array<double>")
    k = 5
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            cdf, qdf, k=k, ncells=3, nprobe=1, rounds=3
        ).collect()
    }
    expected = {(q, n) for q, n, _, _ in _brute(corpus, queries, k)}
    hits = len(got & expected)
    assert hits == len(expected), (hits, len(expected))


def test_ivf_topk_excludes_self_and_zero_vectors(spark):
    from spark_data_test_spark import ivf_topk

    corpus, queries = _fixture(n=15, nq=2, dim=4, seed=5)
    cdf = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, emb array<double>")
    rows = ivf_topk(cdf, qdf, k=3, ncells=2, nprobe=2).collect()
    assert rows
    assert not any(r.neighbor_id == r.query_id for r in rows)
    assert not any(r.neighbor_id == 15 for r in rows)  # the zero vector


# ---------------------------------------------------------------------------
# semantic_prune: SemDeDup-style min-id survivor pruning
# ---------------------------------------------------------------------------


def _brute_prune(corpus, tau):
    """Exact threshold dedup with the min-id rule: v pruned by the
    smallest u < v with cos(u, v) >= tau (exact dups count; zero-norm
    vectors are dropped)."""
    norms = {
        i: math.sqrt(sum(x * x for x in v))
        for i, v in corpus
    }
    live = [(i, v) for i, v in corpus if norms[i] > 0]
    out = {}
    for i, vi in live:
        pruned_by = None
        for j, vj in live:
            if j >= i:
                continue
            cos = sum(x * y for x, y in zip(vi, vj)) / (norms[i] * norms[j])
            if cos >= tau - 1e-12:
                pruned_by = j if pruned_by is None else min(pruned_by, j)
        out[i] = pruned_by
    return out


def test_semantic_prune_probe_all_equals_bruteforce(spark):
    """With nprobe >= ncells candidacy is all-pairs: the result must
    equal the exact threshold dedup, including exact-dup groups."""
    from spark_data_test_spark import semantic_prune

    corpus, _ = _fixture(n=20, nq=0, dim=6, seed=41)
    corpus = corpus + [(100, list(corpus[3][1])), (101, list(corpus[3][1]))]
    df = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    got = {
        r.vec_id: (r.gid, r.is_survivor, r.pruned_by)
        for r in semantic_prune(
            df, tau=0.9, ncells=3, nprobe=3, rounds=2
        ).collect()
    }
    expected = _brute_prune(corpus, 0.9)
    assert set(got) == set(expected)  # zero vector dropped on both sides
    for i, pruned_by in expected.items():
        assert got[i][2] == pruned_by, (i, got[i], pruned_by)
        assert got[i][1] == (pruned_by is None)
    # the planted exact dups share doc 3's group and are pruned by it
    assert got[100] == (3, False, 3) and got[101] == (3, False, 3)
    assert got[3][0] == 3


def test_semantic_prune_tau_one_keeps_distinct_vectors(spark):
    """At tau just above 1.0-epsilon only exact duplicates prune."""
    from spark_data_test_spark import semantic_prune

    corpus, _ = _fixture(n=12, nq=0, dim=4, seed=59)
    corpus = corpus + [(50, list(corpus[0][1]))]
    df = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    rows = semantic_prune(df, tau=1.0 - 1e-9, ncells=2, nprobe=2).collect()
    pruned = {r.vec_id for r in rows if not r.is_survivor}
    assert pruned == {50}


def test_semantic_prune_rejects_bad_tau(spark):
    from spark_data_test_spark import semantic_prune

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, emb array<double>")
    try:
        semantic_prune(df, tau=1.5)
        assert False, "expected ValueError"
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# ivf_index_build / ivf_index_probe: the persisted ANN index
# ---------------------------------------------------------------------------


def test_ivf_index_probe_all_equals_cosine_topk(spark, tmp_path):
    """With nprobe >= the committed cell count the probe is exhaustive:
    the committed index must answer EXACTLY like the brute-force
    baseline (same ranks, ties, self/zero exclusions) — across two
    separate probe calls (the index, not the session, holds state)."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe

    corpus, queries = _fixture(n=25, nq=3, dim=6, seed=23)
    cdf = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, emb array<double>")
    idx = str(tmp_path / "ivfidx")
    n = ivf_index_build(cdf, idx, ncells=4, rounds=2)
    assert n == 25  # the zero vector is dropped
    expected = _brute(corpus, queries, 4)
    for _ in range(2):  # same committed index answers repeatedly
        got = {
            (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
            for r in ivf_index_probe(qdf, idx, k=4, nprobe=4).collect()
        }
        assert got == expected


def test_ivf_index_probe_clustered_recall(spark, tmp_path):
    """nprobe=1 on clustered data: the probe lands in the query's own
    cluster, so recall vs brute force is total."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe

    corpus, queries = _clustered_fixture()
    cdf = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, emb array<double>")
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(cdf, idx, ncells=3, rounds=3)
    k = 5
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_index_probe(qdf, idx, k=k, nprobe=1).collect()
    }
    expected = {(q, n) for q, n, _, _ in _brute(corpus, queries, k)}
    assert got & expected == expected


def test_ivf_index_ingest_then_probe_equals_rebuild(spark, tmp_path):
    """probe(commit=True) ingests the batch without retraining; at
    probe-all a later probe must equal BOTH a fresh rebuild over the
    grown corpus and the brute-force baseline (the pin that the
    committed postings, not a retrain, answer the query). Re-ingesting
    the same batch is idempotent (postings dedupe at read)."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe

    corpus, queries = _fixture(n=20, nq=3, dim=6, seed=31)
    batch = [(200 + i, [x + 0.25 for x in v]) for i, (_, v) in enumerate(corpus[:5])]
    cdf = spark.createDataFrame(corpus, "vec_id long, emb array<double>")
    bdf = spark.createDataFrame(batch, "vec_id long, emb array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, emb array<double>")

    idx = str(tmp_path / "ivfidx")
    ivf_index_build(cdf, idx, ncells=3, rounds=2)
    ivf_index_probe(bdf, idx, k=2, nprobe=3, commit=True).collect()
    ivf_index_probe(bdf, idx, k=2, nprobe=3, commit=True).collect()  # re-ingest

    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    assert got == _brute(corpus + batch, queries, 4)

    idx2 = str(tmp_path / "ivfidx_rebuild")
    cdf2 = spark.createDataFrame(
        corpus + batch, "vec_id long, emb array<double>"
    )
    ivf_index_build(cdf2, idx2, ncells=3, rounds=2)
    rebuilt = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx2, k=4, nprobe=3).collect()
    }
    assert got == rebuilt


def test_ivf_index_same_path_rebuild_resets_postings(spark, tmp_path):
    """A rebuild at an EXISTING index path (the docstring's re-train
    lever) must RESET the postings log: probes afterwards see only the
    new corpus — no stale cell ids scored against the new centroids,
    no id surviving from the old index or its ingest deltas. (The r10
    advisory bug: the base commit retained the whole old log.)"""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe

    old_corpus, queries = _fixture(n=20, nq=3, dim=6, seed=41)
    batch = [
        (300 + i, [x - 0.3 for x in v])
        for i, (_, v) in enumerate(old_corpus[5:9])
    ]
    # new corpus: DISJOINT ids so any stale posting is detectable
    new_corpus = [
        (1000 + i, [x * 0.7 + 0.11 for x in v])
        for i, (_, v) in enumerate(old_corpus)
        if any(x != 0.0 for x in v)
    ]
    idx = str(tmp_path / "ivfidx")
    schema = "vec_id long, emb array<double>"
    ivf_index_build(spark.createDataFrame(old_corpus, schema), idx,
                    ncells=3, rounds=2)
    qdf = spark.createDataFrame(queries, schema)
    ivf_index_probe(spark.createDataFrame(batch, schema), idx,
                    k=2, nprobe=3, commit=True).collect()
    # the re-train: same path, different corpus
    n = ivf_index_build(spark.createDataFrame(new_corpus, schema), idx,
                        ncells=3, rounds=2)
    assert n == len(new_corpus)
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    assert got == _brute(new_corpus, queries, 4)
    stale_ids = {i for i, _ in old_corpus} | {i for i, _ in batch}
    assert not {n for _, n, _, _ in got} & stale_ids


def test_ivf_index_changed_vector_latest_wins(spark, tmp_path):
    """Re-committing an id with a CHANGED vector resolves latest-wins:
    the probe scores the NEW vector (even when it lands in a different
    cell) and the id can never occupy two ranks for one query."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe

    corpus, queries = _fixture(n=18, nq=3, dim=6, seed=53)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark.createDataFrame(corpus, schema), idx,
                    ncells=3, rounds=2)
    # flip three existing ids to the NEGATED vector — guaranteed to
    # move each to a different region (and usually a different cell)
    moved = [(i, [-x for x in corpus[i][1]]) for i in (5, 9, 12)]
    ivf_index_probe(spark.createDataFrame(moved, schema), idx,
                    k=2, nprobe=3, commit=True).collect()
    updated = [
        (i, dict(moved).get(i, v)) for i, v in corpus
    ]
    rows = ivf_index_probe(
        spark.createDataFrame(queries, schema), idx, k=4, nprobe=3
    ).collect()
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in rows
    }
    assert got == _brute(updated, queries, 4)
    # no id twice for one query
    pairs = [(r.query_id, r.neighbor_id) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_ivf_index_compact_preserves_latest_wins(spark, tmp_path):
    """`ivf_index_compact` folds the postings log through the index's
    OWN merge rule: after a changed-vector re-ingest, compaction must
    keep only the newest row per id (the generic version-blind fold
    would freeze both rows at one version and re-break latest-wins),
    leave probe-all answers identical, shrink the log to one committed
    version, and accept further ingest deltas on top."""
    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_compact,
        ivf_index_probe,
    )
    from spark_data_test_spark.state import _committed_state_version

    corpus, queries = _fixture(n=16, nq=3, dim=6, seed=61)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark.createDataFrame(corpus, schema), idx,
                    ncells=3, rounds=2)
    moved = [(i, [-x for x in corpus[i][1]]) for i in (4, 7)]
    ivf_index_probe(spark.createDataFrame(moved, schema), idx,
                    k=2, nprobe=3, commit=True).collect()
    qdf = spark.createDataFrame(queries, schema)
    before = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    v = ivf_index_compact(spark, idx)
    assert v is not None
    root = f"{idx}/postings"
    survivors = [
        n for n in __import__("os").listdir(root) if n.startswith("v")
    ]
    assert survivors == [f"v{v}"]
    after = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    assert after == before
    # the folded base keeps absorbing deltas
    extra = [(500, [x * 0.5 + 0.2 for x in corpus[2][1]])]
    ivf_index_probe(spark.createDataFrame(extra, schema), idx,
                    k=2, nprobe=3, commit=True).collect()
    assert _committed_state_version(root) == v + 1
    updated = [(i, dict(moved).get(i, vv)) for i, vv in corpus] + extra
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    assert got == _brute(updated, queries, 4)
    assert ivf_index_compact(spark, str(tmp_path / "nope")) is None


def test_ivf_index_probe_requires_index(spark, tmp_path):
    from spark_data_test_spark import ivf_index_probe

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, emb array<double>")
    try:
        ivf_index_probe(df, str(tmp_path / "missing"))
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_ivf_index_probe_commit_dedupes_batch_ids(spark, tmp_path):
    """A commit batch carrying the same vec_id twice (with DIFFERENT
    vectors) must land exactly ONE deterministic row in the committed
    version — the FAMILY rule: the greatest (squared-norm, vector)
    pair (`_pq_dedup_ids`, shared with pq_index_probe /
    ivfpq_index_probe since the round-15 up-front dedupe; norm-first
    since ADVICE r15 so a zero-norm duplicate never erases a live
    vector) — otherwise both rows share one commit version and the
    latest-wins read's max_by ties arbitrarily (repeated reads could
    disagree)."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe
    from spark_data_test_spark.operators.similarity import (
        _resolved_postings,
    )

    corpus, queries = _fixture(n=14, nq=3, dim=6, seed=71)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    base = corpus[0][1]
    v_a = [0.5 * x for x in base]
    v_b = [2.0 * x for x in base]
    # the family rule keeps the greatest (squared-norm, vector) pair
    winner = max([v_a, v_b], key=lambda v: (sum(x * x for x in v), v))
    dup = [(900, v_a), (900, v_b)]
    ivf_index_probe(
        spark.createDataFrame(dup, schema), idx, k=2, nprobe=3, commit=True
    ).collect()
    rows = _resolved_postings(spark, idx).where("vec_id = 900").collect()
    assert len(rows) == 1
    assert [round(x, 9) for x in rows[0].v] == [round(x, 9) for x in winner]
    # probe answers match brute force over corpus + the winner, and
    # repeated reads agree
    qdf = spark.createDataFrame(queries, schema)
    updated = corpus + [(900, winner)]
    for _ in range(2):
        got = {
            (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
            for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
        }
        assert got == _brute(updated, queries, 4)


def test_ivf_index_delete_then_probe_equals_rebuild(spark, tmp_path):
    """Round-12 (VERDICT r11 item 4): the postings DELETE path.
    delete-then-probe answers exactly like an index rebuilt WITHOUT
    the deleted rows (same centroids: probe-all makes the comparison
    exact); deleting an absent id is a no-op; a delete beats the rows
    it tombstones regardless of their count; a later re-ingest
    resurrects the id."""
    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_delete,
        ivf_index_probe,
    )

    corpus, queries = _fixture(n=20, nq=4, dim=6, seed=83)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark.createDataFrame(corpus, schema), idx,
                    ncells=3, rounds=2)
    gone = {3, 11, 17}
    ivf_index_delete(spark, idx, sorted(gone) + [9999])  # 9999: absent
    kept = [(i, v) for i, v in corpus if i not in gone]
    qdf = spark.createDataFrame(queries, schema)
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    assert got == _brute(kept, queries, 4)
    assert not any(n in gone for (_, n, _, _) in got)
    # re-ingest resurrects one deleted id (latest commit wins)
    back = [(3, dict(corpus)[3])]
    ivf_index_probe(spark.createDataFrame(back, schema), idx,
                    k=1, nprobe=3, commit=True).collect()
    got2 = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    assert got2 == _brute(kept + back, queries, 4)
    # DataFrame-shaped ids work too
    ivf_index_delete(
        spark, idx,
        spark.createDataFrame([(3,)], "some_id long"), id_col="some_id",
    )
    got3 = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    assert got3 == _brute(kept, queries, 4)


def test_ivf_index_compact_after_delete_drops_tombstones(spark, tmp_path):
    """Compaction after a delete physically removes BOTH the deleted
    rows and their tombstones: the folded snapshot is the only
    surviving version, it holds one row per LIVE id and none for
    deleted ids, and probe answers are unchanged across the fold."""
    import os

    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_compact,
        ivf_index_delete,
        ivf_index_probe,
    )
    from spark_data_test_spark.state import read_state_table

    corpus, queries = _fixture(n=16, nq=3, dim=6, seed=89)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark.createDataFrame(corpus, schema), idx,
                    ncells=3, rounds=2)
    ivf_index_delete(spark, idx, [2, 6])
    qdf = spark.createDataFrame(queries, schema)
    before = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    v = ivf_index_compact(spark, idx)
    root = f"{idx}/postings"
    assert [n for n in os.listdir(root) if n.startswith("v")] == [f"v{v}"]
    snap = read_state_table(spark, root)
    # fixture appends a zero vector the build drops: indexed = n = 16
    assert snap.count() == len(corpus) - 1 - 2
    assert snap.where("vec_id in (2, 6) or cell < 0").count() == 0
    after = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
    }
    assert after == before


def test_ivf_index_delete_requires_index_and_ids(spark, tmp_path):
    from spark_data_test_spark import ivf_index_delete

    try:
        ivf_index_delete(spark, str(tmp_path / "nope"), [1])
        assert False, "expected ValueError"
    except ValueError:
        pass
    try:
        ivf_index_delete(spark, str(tmp_path / "nope"), [])
        assert False, "expected ValueError"
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# Frame-level PQ: pq_train / pq_encode / pq_topk (round 12)
# ---------------------------------------------------------------------------


def _pq_brute_codes(corpus, cb, m, subdim):
    """cb: {s: [(cent_id, subvec), ...]} — nearest entry per (id, s)."""
    codes = {}
    for cid, v in corpus:
        for s in range(m):
            sub = v[s * subdim:(s + 1) * subdim]
            best = min(
                cb[s],
                key=lambda e: (
                    sum((x - y) ** 2 for x, y in zip(sub, e[1])), e[0],
                ),
            )
            codes[(cid, s)] = best[0]
    return codes


def _pq_brute_topk(corpus, queries, cb, m, subdim, k):
    codes = _pq_brute_codes(corpus, cb, m, subdim)
    ents = {(s, e[0]): e[1] for s in cb for e in cb[s]}
    out = set()
    for qid, qv in queries:
        scored = []
        for cid, _ in corpus:
            if cid == qid:
                continue
            d = 0.0
            for s in range(m):
                sub = qv[s * subdim:(s + 1) * subdim]
                ent = ents[(s, codes[(cid, s)])]
                d += sum((x - y) ** 2 for x, y in zip(sub, ent))
            scored.append((d, cid))
        for rank, (d, cid) in enumerate(sorted(scored)[:k], 1):
            out.add((qid, cid, rank, round(d, 6)))
    return out


def test_pq_topk_with_explicit_codebook_matches_bruteforce(spark):
    """ADC search against a HAND-BUILT codebook equals the all-pairs
    Python replica exactly (integer-valued floats keep every sum
    exact), and pq_encode emits the same codes."""
    import random

    from spark_data_test_spark import pq_encode, pq_topk

    rng = random.Random(97)
    m, subdim = 2, 3
    corpus = [
        (i, [float(rng.randrange(-6, 7)) for _ in range(m * subdim)])
        for i in range(24)
    ]
    queries = corpus[:4]
    cb = {
        s: [(j, [float(rng.randrange(-6, 7)) for _ in range(subdim)])
            for j in range(4)]
        for s in range(m)
    }
    cb_rows = [(s, j, sub) for s in cb for j, sub in cb[s]]
    cb_df = spark.createDataFrame(
        cb_rows, "s int, cent_id long, csub array<double>"
    )
    schema = "vec_id long, emb array<double>"
    cdf = spark.createDataFrame(corpus, schema)
    got_codes = {
        (r.vec_id, r.s): r.code
        for r in pq_encode(cdf, cb_df).collect()
    }
    assert got_codes == _pq_brute_codes(corpus, cb, m, subdim)
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.adc_dist, 6))
        for r in pq_topk(
            cdf, spark.createDataFrame(queries, schema),
            k=5, codebook=cb_df,
        ).collect()
    }
    assert got == _pq_brute_topk(corpus, queries, cb, m, subdim, 5)


def test_pq_train_is_deterministic_and_improves_the_objective(spark):
    """Training is replayable (two invocations -> identical rows; the
    integer-valued fixture keeps float sums order-independent), the
    codebook has the contracted shape, rounds=0 returns the seed
    subvectors verbatim, and one Lloyd round never worsens the mean
    nearest-entry distance (the k-means monotonicity invariant)."""
    import random

    from pyspark.sql import functions as F

    from spark_data_test_spark import pq_encode, pq_train

    rng = random.Random(101)
    m, subdim, n = 4, 2, 40
    corpus = [
        (i, [float(rng.randrange(-8, 9)) for _ in range(m * subdim)])
        for i in range(n)
    ]
    schema = "vec_id long, emb array<double>"
    cdf = spark.createDataFrame(corpus, schema)

    a = {(r.s, r.cent_id, tuple(r.csub))
         for r in pq_train(cdf, m=m, ncodes=6).collect()}
    b = {(r.s, r.cent_id, tuple(r.csub))
         for r in pq_train(cdf, m=m, ncodes=6).collect()}
    assert a == b and a
    assert all(len(c) == subdim for _, _, c in a)
    assert len({(s, cid) for s, cid, _ in a}) == len(a)
    for s in range(m):
        assert 1 <= sum(1 for t in a if t[0] == s) <= 6

    seeds = pq_train(cdf, m=m, ncodes=6, rounds=0)
    seed_ids = {r.cent_id for r in seeds.collect()}
    by_id = dict(corpus)
    for r in seeds.collect():
        assert r.csub == by_id[r.cent_id][r.s * subdim:(r.s + 1) * subdim]

    def objective(cb_df):
        codes = pq_encode(cdf, cb_df)
        ents = cb_df.select(
            "s", F.col("cent_id").alias("code"),
            F.col("csub").alias("_e"),
        )
        sub = {(r.vec_id, r.s): r.code for r in codes.collect()}
        emap = {(r.s, r.code): r._e for r in ents.collect()}
        tot = 0.0
        for cid, v in corpus:
            for s in range(m):
                e = emap[(s, sub[(cid, s)])]
                tot += sum(
                    (x - y) ** 2
                    for x, y in zip(v[s * subdim:(s + 1) * subdim], e)
                )
        return tot

    trained = pq_train(cdf, m=m, ncodes=6, rounds=1)
    assert objective(trained) <= objective(seeds) + 1e-9
    assert seed_ids  # seeds drawn from the corpus ids


def test_pq_validation_errors(spark):
    import pytest

    from spark_data_test_spark import pq_train

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, emb array<double>"
    )
    with pytest.raises(ValueError, match="divisible"):
        pq_train(df, m=2)
    with pytest.raises(ValueError, match="empty"):
        pq_train(df.where("vec_id < 0"), m=3)


def test_pq_topk_rejects_mismatched_query_dim(spark):
    """Round-13 fix (ADVICE r12): pq_topk validates the QUERY frame's
    vector dimension against the codebook the way pq_encode validates
    the corpus. A query dim not divisible by m used to be silently
    truncated by the splitter, and a wrong subdim null-padded the
    zip_with so every adc_dist came back NULL and ranks were decided
    by the id tie-break alone — silent garbage neighbors."""
    import pytest

    from spark_data_test_spark import pq_topk, pq_train

    cdf = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 0.0, 1.0]) for i in range(8)],
        "vec_id long, emb array<double>",
    )
    cb = pq_train(cdf, m=2, ncodes=2, rounds=1)
    bad_div = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0])], "vec_id long, emb array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_topk(cdf, bad_div, k=2, codebook=cb)
    bad_sub = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0])],
        "vec_id long, emb array<double>",
    )
    with pytest.raises(ValueError, match="subvector dim"):
        pq_topk(cdf, bad_sub, k=2, codebook=cb)
    # a well-shaped query still works and returns non-null distances
    good = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0])], "vec_id long, emb array<double>"
    )
    rows = pq_topk(cdf, good, k=2, codebook=cb).collect()
    assert len(rows) == 2 and all(r.adc_dist is not None for r in rows)


def test_pq_topk_trained_recall_on_clustered_data(spark):
    """On well-separated clustered data a TRAINED codebook's ADC top-k
    recovers the exact L2 top-k almost entirely (the quantization error
    is the within-cluster noise, tiny next to the between-cluster
    distances) — the quality check that the training actually learns
    the structure, complementing the explicit-codebook exactness pin."""
    from spark_data_test_spark import pq_topk

    corpus, queries = _clustered_fixture(
        n_clusters=4, per_cluster=10, dim=6, seed=131
    )
    schema = "vec_id long, emb array<double>"
    cdf = spark.createDataFrame(corpus, schema)
    qdf = spark.createDataFrame(queries, schema)
    k = 5
    got = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(
            cdf, qdf, k=k, m=2, ncodes=8, rounds=2
        ).collect()
    }
    by_id = dict(corpus)
    exact = set()
    for qid, qv in queries:
        scored = sorted(
            (sum((x - y) ** 2 for x, y in zip(qv, v)), cid)
            for cid, v in by_id.items()
            if cid != qid
        )[:k]
        exact |= {(qid, cid) for _, cid in scored}
    recall = len(got & exact) / len(exact)
    # within-cluster ORDER is quantization noise (codes collapse the
    # within-cluster detail by design), so exact-set recall is bounded
    # away from 1; cluster MEMBERSHIP is the structure training must
    # learn, and there it must be perfect
    assert recall >= 0.6, (recall, sorted(got), sorted(exact))
    assert all(q // 10 == n // 10 for q, n in got), sorted(got)


def test_pq_explicit_codebook_property_sweep(spark):
    """Hypothesis sweep: for random integer-valued corpora, queries,
    and codebooks, pq_encode and pq_topk equal the all-pairs Python
    replica exactly (integer-valued floats keep every L2 sum exact in
    double, so order-of-summation cannot split the comparison)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from spark_data_test_spark import pq_encode, pq_topk

    @st.composite
    def scenarios(draw):
        m = draw(st.integers(1, 3))
        subdim = draw(st.integers(1, 3))
        dim = m * subdim
        n = draw(st.integers(3, 10))
        val = st.integers(-5, 5)
        corpus = [
            (i, [float(draw(val)) for _ in range(dim)]) for i in range(n)
        ]
        nq = draw(st.integers(1, 2))
        queries = corpus[:nq]
        ncodes = draw(st.integers(1, 4))
        cb = {
            s: [
                (j, [float(draw(val)) for _ in range(subdim)])
                for j in range(ncodes)
            ]
            for s in range(m)
        }
        k = draw(st.integers(1, 4))
        return m, subdim, corpus, queries, cb, k

    @given(s=scenarios())
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def prop(s):
        m, subdim, corpus, queries, cb, k = s
        schema = "vec_id long, emb array<double>"
        cdf = spark.createDataFrame(corpus, schema)
        cb_df = spark.createDataFrame(
            [(s_, j, sub) for s_ in cb for j, sub in cb[s_]],
            "s int, cent_id long, csub array<double>",
        )
        got_codes = {
            (r.vec_id, r.s): r.code for r in pq_encode(cdf, cb_df).collect()
        }
        assert got_codes == _pq_brute_codes(corpus, cb, m, subdim)
        got = {
            (r.query_id, r.neighbor_id, r.rank, round(r.adc_dist, 6))
            for r in pq_topk(
                cdf, spark.createDataFrame(queries, schema),
                k=k, codebook=cb_df,
            ).collect()
        }
        assert got == _pq_brute_topk(corpus, queries, cb, m, subdim, k)

    prop()


def test_ivf_index_random_op_sequence_equals_net_state(spark, tmp_path):
    """Seeded random LSM lifecycle: an arbitrary interleaving of
    ingests (probe-commit), deletes, compactions, and SAME-PATH
    REBUILDS must answer probe-all queries exactly like the brute
    force over the live vectors (probe-all makes the comparison
    centroid-independent, so retrained centroids — which reset and
    re-stamp the postings log — cannot change the answer, only the
    pruning)."""
    import random

    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_compact,
        ivf_index_delete,
        ivf_index_probe,
    )

    corpus, queries = _fixture(n=18, nq=3, dim=6, seed=151)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark.createDataFrame(corpus, schema), idx,
                    ncells=3, rounds=2)
    live = {i: v for i, v in corpus if any(x != 0.0 for x in v)}
    rng = random.Random(151)
    next_id = 500
    qdf = spark.createDataFrame(queries, schema)
    for step in range(8):
        op = rng.choice(["ingest", "delete", "compact", "rebuild"])
        if op == "ingest":
            rows = {}  # unique ids per batch (the family dedupe keeps
            for _ in range(rng.randrange(1, 3)):  # greatest, not last)
                if rng.random() < 0.5 and live:
                    vid = rng.choice(sorted(live))  # changed re-ingest
                else:
                    vid, next_id = next_id, next_id + 1
                vec = [rng.choice([-1.0, 1.0]) * rng.randrange(1, 5)
                       for _ in range(6)]
                rows[vid] = vec
                live[vid] = vec
            ivf_index_probe(
                spark.createDataFrame(list(rows.items()), schema), idx,
                k=2, nprobe=3, commit=True,
            ).collect()
        elif op == "delete" and live:
            gone = rng.sample(sorted(live), k=min(2, len(live)))
            ivf_index_delete(spark, idx, gone)
            for g in gone:
                live.pop(g)
        elif op == "compact":
            ivf_index_compact(spark, idx)
        elif op == "rebuild" and live:
            ivf_index_build(
                spark.createDataFrame(sorted(live.items()), schema),
                idx, ncells=3, rounds=2,
            )
        got = {
            (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
            for r in ivf_index_probe(qdf, idx, k=4, nprobe=3).collect()
        }
        want = _brute(sorted(live.items()), queries, 4)
        assert got == want, (step, op, sorted(live))


def test_ivf_index_stats_tracks_the_lifecycle(spark, tmp_path):
    """Stats reflect every lifecycle step: build (live == indexed, one
    version, no tombstones), ingest (+live, +versions), delete
    (-live, +tombstones, log unchanged), compact (live unchanged, log
    folded to live rows, one version, zero tombstones). max_cell_rows
    bounds live rows; missing index returns None."""
    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_compact,
        ivf_index_delete,
        ivf_index_probe,
        ivf_index_stats,
    )

    corpus, _ = _fixture(n=12, nq=0, dim=6, seed=181)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    n = ivf_index_build(spark.createDataFrame(corpus, schema), idx,
                        ncells=3, rounds=2)

    def stats():
        return ivf_index_stats(spark, idx).collect()[0]

    s0 = stats()
    assert (s0.n_live, s0.n_versions, s0.n_tombstones) == (n, 1, 0)
    assert s0.n_log_rows == n
    assert 1 <= s0.n_cells_used <= 3
    assert s0.max_cell_rows <= s0.n_live

    extra = [(500, [1.0, -1.0, 2.0, 0.5, -0.5, 1.5])]
    ivf_index_probe(spark.createDataFrame(extra, schema), idx,
                    k=2, nprobe=3, commit=True).collect()
    s1 = stats()
    assert (s1.n_live, s1.n_versions) == (n + 1, 2)

    ivf_index_delete(spark, idx, [0, 1])
    s2 = stats()
    assert (s2.n_live, s2.n_tombstones, s2.n_versions) == (n - 1, 2, 3)
    assert s2.n_log_rows == n + 1 + 2  # base + ingest + tombstones

    ivf_index_compact(spark, idx)
    s3 = stats()
    assert (s3.n_live, s3.n_log_rows, s3.n_versions, s3.n_tombstones) == (
        n - 1, n - 1, 1, 0,
    )
    assert ivf_index_stats(spark, str(tmp_path / "nope")) is None


def test_ivf_index_probe_collapses_duplicate_query_ids(spark, tmp_path):
    """ADVICE r14: duplicate batch ids collapse to the greatest vector
    BEFORE cell scoring — the family rule pq_index_probe and
    ivfpq_index_probe already apply — so one id never interleaves two
    vectors' candidates in a single rank window (duplicate
    neighbor_ids, corrupt ranks)."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe

    corpus, _ = _fixture(n=16, nq=0, dim=6, seed=73)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    qid = corpus[0][0]
    dup = spark.createDataFrame(
        [(qid, [5.0] * 6), (qid, [-5.0] * 6)], schema
    )
    # family rule: the lexicographically greatest vector wins
    clean = spark.createDataFrame([(qid, [5.0] * 6)], schema)

    def pset(df):
        return {
            (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
            for r in df.collect()
        }

    got = ivf_index_probe(dup, idx, k=4, nprobe=3).collect()
    assert pset(ivf_index_probe(dup, idx, k=4, nprobe=3)) == pset(
        ivf_index_probe(clean, idx, k=4, nprobe=3)
    )
    assert sorted(r.rank for r in got) == list(range(1, len(got) + 1))
    assert len({r.neighbor_id for r in got}) == len(got)


def test_ivf_crashed_rebuild_detected(spark, tmp_path):
    """ADVICE r14 (extended to the IVF-Flat index for family
    symmetry): postings are stamped with the committed centroids'
    content hash; a rebuild that committed ONLY new centroids before
    crashing fails the next probe loudly instead of silently probing
    cells that no longer align with the model."""
    import pytest

    import pyspark.sql.functions as F

    from spark_data_test_spark import ivf_index_build, ivf_index_probe
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    corpus, queries = _fixture(n=16, nq=2, dim=6, seed=79)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    qdf = spark.createDataFrame(queries, schema)
    assert ivf_index_probe(qdf, idx, k=3, nprobe=3).collect()  # healthy
    cents = read_state_table(spark, f"{idx}/centroids")
    write_state_version(
        cents.select(
            "cent_id",
            F.expr("transform(cv, x -> x + 1.0)").alias("cv"),
            (F.col("cn2") + 1.0).alias("cn2"),
        ),
        f"{idx}/centroids",
        retain=2,
    )
    with pytest.raises(Exception, match="different build stamps"):
        ivf_index_probe(qdf, idx, k=3, nprobe=3).collect()


def test_ivf_index_build_with_pretrained_centroids(spark, tmp_path):
    """Model injection (round 15, family symmetry with the PQ / IVF-PQ
    builds): supply a committed centroid table, skip training, and the
    rebuilt index answers identically to the donor it borrowed the
    model from."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe
    from spark_data_test_spark.state import read_state_table

    corpus, queries = _fixture(n=18, nq=3, dim=6, seed=83)
    schema = "vec_id long, emb array<double>"
    donor = str(tmp_path / "donor")
    cdf = spark.createDataFrame(corpus, schema)
    ivf_index_build(cdf, donor, ncells=3, rounds=2)
    cents = read_state_table(spark, f"{donor}/centroids")
    idx = str(tmp_path / "ivfidx")
    n = ivf_index_build(cdf, idx, centroids=cents)
    assert n == 18  # the zero vector is dropped

    def pset(df):
        return {
            (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
            for r in df.collect()
        }

    qdf = spark.createDataFrame(queries, schema)
    got = pset(ivf_index_probe(qdf, idx, k=4, nprobe=3))
    assert got == pset(ivf_index_probe(qdf, donor, k=4, nprobe=3))
    assert got


def test_ivf_index_stats_reports_model_hash_and_staleness(spark, tmp_path):
    """Stats measure a crashed rebuild while probes raise: model_hash
    is the committed centroids' content hash, n_stale counts live
    postings stamped under a different build."""
    import pyspark.sql.functions as F

    from spark_data_test_spark import ivf_index_build, ivf_index_stats
    from spark_data_test_spark.operators.similarity import (
        _model_build_hash,
    )
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    corpus, _ = _fixture(n=14, nq=0, dim=6, seed=89)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    cents = read_state_table(spark, f"{idx}/centroids")
    s = ivf_index_stats(spark, idx).collect()[0]
    assert s.model_hash == _model_build_hash(
        cents, ["cent_id", "cv", "cn2"]
    )
    assert s.n_stale == 0 and s.n_live == 14  # the zero vector dropped
    write_state_version(
        cents.select(
            "cent_id",
            F.expr("transform(cv, x -> x + 1.0)").alias("cv"),
            (F.col("cn2") + 1.0).alias("cn2"),
        ),
        f"{idx}/centroids",
        retain=2,
    )
    s2 = ivf_index_stats(spark, idx).collect()[0]
    assert s2.n_stale == s2.n_live == 14
    assert s2.model_hash != s.model_hash


def test_model_build_hash_counts_multiplicity(spark):
    """ADVICE r15: a bare bit_xor is multiplicity-blind — pairs of
    identical rows cancel, so a doubled model table used to hash like
    an EMPTY one (both 0). The stamp now folds in the row count and a
    masked hash sum: duplicate-row corruption and empty models all
    hash distinctly."""
    from spark_data_test_spark.operators.similarity import (
        _model_build_hash,
    )

    schema = "cent_id long, cv array<double>, cn2 double"
    cols = ["cent_id", "cv", "cn2"]
    rows = [(0, [1.0, 2.0], 5.0), (1, [3.0, 4.0], 25.0)]
    single = spark.createDataFrame(rows, schema)
    doubled = spark.createDataFrame(rows + rows, schema)
    empty = spark.createDataFrame([], schema)
    tripled_head = spark.createDataFrame(rows + rows[:1], schema)
    h_single = _model_build_hash(single, cols)
    h_doubled = _model_build_hash(doubled, cols)
    h_empty = _model_build_hash(empty, cols)
    # the xor of a doubled table cancels to the empty xor; the count
    # and sum terms must still separate all three
    assert h_doubled != h_empty
    assert h_single != h_doubled
    assert h_single != h_empty
    # {A, A, B} vs {B}: xor cancels the A-pair, count/sum do not
    h_aab = _model_build_hash(tripled_head, cols)
    h_b = _model_build_hash(
        spark.createDataFrame(rows[1:], schema), cols
    )
    assert h_aab != h_b
    # deterministic across evaluations
    assert h_single == _model_build_hash(single, cols)


def test_ivf_probe_dedup_keeps_live_vector_over_zero_dup(spark, tmp_path):
    """ADVICE r15: a duplicated batch id whose lexicographically
    GREATEST vector is a zero vector (e.g. [0,0] vs [-1,-5]) used to
    win the dedup and then silently vanish in the zero-norm drop —
    erasing the id from both the answer and the commit. The dedup now
    orders by (squared-norm, vector), so the live vector survives."""
    from spark_data_test_spark import ivf_index_build, ivf_index_probe
    from spark_data_test_spark.operators.similarity import (
        _resolved_postings,
    )

    corpus, _ = _fixture(n=14, nq=0, dim=6, seed=101)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    live = [-1.0, -5.0, -1.0, -5.0, -1.0, -5.0]
    dup = [(900, [0.0] * 6), (900, live)]
    res = ivf_index_probe(
        spark.createDataFrame(dup, schema), idx, k=3, nprobe=3, commit=True
    ).collect()
    # the query side answered under the live vector (not dropped)
    assert {r.query_id for r in res} == {900}
    rows = _resolved_postings(spark, idx).where("vec_id = 900").collect()
    assert len(rows) == 1
    assert [round(x, 9) for x in rows[0].v] == live


def test_ivf_index_stats_observes_missing_centroids(spark, tmp_path):
    """ADVICE r15: stats MEASURE damage, they never raise — a postings
    log whose centroids snapshot is gone (corrupted half-state) reads
    out with model_hash NULL and n_stale = n_live instead of raising,
    while the probe still fails loudly."""
    import shutil

    import pytest as _pytest

    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_probe,
        ivf_index_stats,
    )

    corpus, queries = _fixture(n=14, nq=2, dim=6, seed=103)
    schema = "vec_id long, emb array<double>"
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    shutil.rmtree(f"{idx}/centroids")
    s = ivf_index_stats(spark, idx).collect()[0]
    assert s.model_hash is None
    assert s.n_stale == s.n_live == 14
    assert s.n_log_rows == 14 and s.n_tombstones == 0
    with _pytest.raises(ValueError, match="no committed index"):
        ivf_index_probe(spark.createDataFrame(queries, schema), idx)


def test_probe_dedup_rule_property_sweep(spark, tmp_path):
    """Hypothesis sweep of the ADVICE-r15 dedup rule: for random query
    batches carrying duplicated ids — including zero vectors — probing
    the raw batch equals probing the Python-collapsed batch (keep the
    greatest (squared-norm, vector) pair per id), on both the IVF and
    PQ index probes. Zero-vector duplicates must never erase a live
    vector, and an all-zero id must vanish from the IVF answer (cosine
    undefined) while still ranking under PQ/ADC (L2 is defined)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_probe,
        pq_index_build,
        pq_index_probe,
    )

    corpus, _ = _fixture(n=12, nq=0, dim=4, seed=211)
    schema = "vec_id long, emb array<double>"
    ividx = str(tmp_path / "ivfidx")
    pqidx = str(tmp_path / "pqidx")
    int_corpus = [
        (i, [float(round(x * 3)) for x in v]) for i, v in corpus
    ]
    ivf_index_build(
        spark.createDataFrame(corpus, schema), ividx, ncells=3, rounds=2
    )
    pq_index_build(
        spark.createDataFrame(int_corpus, schema), pqidx, m=2, ncodes=4,
        rounds=1,
    )

    @st.composite
    def batches(draw):
        nids = draw(st.integers(1, 3))
        val = st.integers(-4, 4)
        rows = []
        for q in range(nids):
            reps = draw(st.integers(1, 3))
            for _ in range(reps):
                zero = draw(st.booleans()) and draw(st.booleans())
                vec = (
                    [0.0] * 4
                    if zero
                    else [float(draw(val)) for _ in range(4)]
                )
                rows.append((700 + q, vec))
        return rows

    def collapse(rows):
        best = {}
        for vid, vec in rows:
            key = (sum(x * x for x in vec), vec)
            if vid not in best or key > (
                sum(x * x for x in best[vid]),
                best[vid],
            ):
                best[vid] = vec
        return sorted(best.items())

    def probe_set(df, val_col):
        return {
            (r.query_id, r.neighbor_id, r.rank, round(r[val_col], 6))
            for r in df.collect()
        }

    @given(rows=batches())
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def prop(rows):
        raw = spark.createDataFrame(rows, schema)
        clean = spark.createDataFrame(collapse(rows), schema)
        got_ivf = probe_set(
            ivf_index_probe(raw, ividx, k=3, nprobe=3), "cosine"
        )
        want_ivf = probe_set(
            ivf_index_probe(clean, ividx, k=3, nprobe=3), "cosine"
        )
        assert got_ivf == want_ivf
        # zero-norm winners are dropped from the IVF answer entirely
        zero_ids = {
            vid for vid, vec in collapse(rows) if all(x == 0.0 for x in vec)
        }
        assert not ({q for q, *_ in got_ivf} & {i for i in zero_ids})
        got_pq = probe_set(
            pq_index_probe(raw, pqidx, k=3), "adc_dist"
        )
        want_pq = probe_set(
            pq_index_probe(clean, pqidx, k=3), "adc_dist"
        )
        assert got_pq == want_pq

    prop()


def test_model_build_hash_property_sweep(spark):
    """Hypothesis sweep of the stamp formula: permutation-invariant
    (any row order hashes identically — the aggregate must not depend
    on partitioning) and multiplicity-sensitive (doubling the rows, or
    appending a duplicate of an existing row, changes the hash — the
    ADVICE-r15 corruption classes a bare xor misses)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from spark_data_test_spark.operators.similarity import (
        _model_build_hash,
    )

    schema = "cent_id long, cv array<double>, cn2 double"
    cols = ["cent_id", "cv", "cn2"]

    @st.composite
    def models(draw):
        n = draw(st.integers(1, 5))
        val = st.integers(-5, 5)
        rows = [
            (
                i,
                [float(draw(val)) for _ in range(3)],
                float(draw(st.integers(0, 50))),
            )
            for i in range(n)
        ]
        perm = draw(st.permutations(rows))
        return rows, perm

    @given(m=models())
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def prop(m):
        rows, perm = m
        h = _model_build_hash(spark.createDataFrame(rows, schema), cols)
        h_perm = _model_build_hash(
            spark.createDataFrame(perm, schema), cols
        )
        assert h == h_perm
        h_doubled = _model_build_hash(
            spark.createDataFrame(rows + rows, schema), cols
        )
        assert h_doubled != h
        h_dup_head = _model_build_hash(
            spark.createDataFrame(rows + rows[:1], schema), cols
        )
        assert h_dup_head != h

    prop()


def test_ivf_lifecycle_preserves_stamp_format_and_pins(spark, tmp_path):
    """Round-17 invariant sweep: across a seeded random LSM lifecycle
    (ingest / delete / compact / same-path rebuild), (a) every LIVE
    resolved posting row carries the CURRENT stamp format and the
    committed model's build hash — compaction and latest-wins must
    carry `stamp_fmt` through, never NULL it or freeze an old value —
    and (b) a rebuild leaves no new persistent RDD behind (its
    localCheckpoint pin is released). The pin check brackets the
    FINAL rebuild alone: mid-sequence ingests return eagerly-
    checkpointed probe results whose pins are caller-owned and only
    ContextCleaner-collected after GC, so a whole-lifecycle
    containment assert races driver GC (observed flaky in-suite).
    The behavior equivalence of the same op sequence is pinned
    elsewhere (test_ivfpq_random_op_sequence_equals_net_state); this
    sweep pins the round-17 metadata/resource invariants themselves."""
    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_compact,
        ivf_index_delete,
        ivf_index_probe,
    )
    from spark_data_test_spark.operators.similarity import (
        _STAMP_FMT,
        _model_build_hash,
        _resolved_postings,
    )
    from spark_data_test_spark.state import read_state_table

    def pinned_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    schema = "vec_id long, emb array<double>"
    corpus, _ = _fixture(n=14, nq=0, dim=6, seed=83)
    live = {i: v for i, v in corpus if any(x != 0.0 for x in v)}
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=1
    )
    rng = random.Random(83)
    next_id = 700
    for step in range(6):
        op = rng.choice(["ingest", "delete", "compact", "rebuild"])
        if op == "ingest":
            vid, next_id = next_id, next_id + 1
            v = [float(rng.randrange(-5, 6)) for _ in range(6)]
            if all(x == 0.0 for x in v):
                v[0] = 1.0
            live[vid] = v
            ivf_index_probe(
                spark.createDataFrame([(vid, v)], schema),
                idx, k=2, nprobe=3, commit=True,
            ).collect()
        elif op == "delete" and live:
            gone = rng.sample(sorted(live), k=min(2, len(live)))
            ivf_index_delete(spark, idx, gone)
            for g in gone:
                live.pop(g)
        elif op == "compact":
            ivf_index_compact(spark, idx)
        elif op == "rebuild" and live:
            ivf_index_build(
                spark.createDataFrame(sorted(live.items()), schema),
                idx, ncells=3, rounds=1,
            )
        cents = read_state_table(spark, f"{idx}/centroids").select(
            "cent_id", "cv", "cn2"
        )
        expected = _model_build_hash(cents, ["cent_id", "cv", "cn2"])
        rows = _resolved_postings(spark, idx).collect()
        assert {r.vec_id for r in rows} == set(live), (step, op)
        for r in rows:
            assert r.stamp_fmt == _STAMP_FMT, (step, op, r)
            assert r.build_id == expected, (step, op, r)
    # a final rebuild releases its pin: no NEW persistent RDDs from
    # the build itself (bracketed tightly — see docstring)
    pins_before_rebuild = pinned_ids()
    ivf_index_build(
        spark.createDataFrame(sorted(live.items()), schema),
        idx, ncells=3, rounds=1,
    )
    assert pinned_ids() <= pins_before_rebuild


def test_ivf_index_ingest_only_commits_identical_state(spark, tmp_path):
    """Round 18 (VERDICT r17 item 2): `ivf_index_ingest` appends the
    EXACT postings delta `ivf_index_probe(commit=True)` would — same
    dedup collapse, zero-norm drop, argmax cell, raw vector, and build
    stamp — without any probe work. Two identical builds, one ingested
    each way: the committed delta rows and every subsequent probe
    answer must match exactly."""
    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_ingest,
        ivf_index_probe,
    )
    from spark_data_test_spark.state import read_state_table

    corpus, queries = _fixture(n=20, nq=3, dim=6, seed=71)
    batch = [
        (800, [1.0, -2.0, 3.0, 0.0, 1.0, -1.0]),
        (801, [-3.0, 1.0, 0.0, 2.0, -1.0, 2.0]),
        (corpus[2][0], [float(x + 1) for x in corpus[2][1]]),  # changed
        (802, [0.0] * 6),  # zero-norm: dropped by the family contract
    ]
    idx_a = str(tmp_path / "a")
    idx_b = str(tmp_path / "b")
    for idx in (idx_a, idx_b):
        ivf_index_build(
            spark.createDataFrame(corpus, "vec_id long, emb array<double>"),
            idx, ncells=4, rounds=2,
        )
    bdf = spark.createDataFrame(batch, "vec_id long, emb array<double>")
    ivf_index_probe(bdf, idx_a, k=1, nprobe=1, commit=True).collect()
    n = ivf_index_ingest(bdf, idx_b)
    assert n == 3  # 2 new + 1 changed; the zero-norm row dropped
    delta = lambda p: {  # noqa: E731 - latest committed version only
        (r.vec_id, r.cell, tuple(r.v), r.n2, r.build_id, r.stamp_fmt)
        for r in read_state_table(spark, f"{p}/postings").collect()
    }
    assert delta(idx_a) == delta(idx_b)
    qdf = spark.createDataFrame(queries, "vec_id long, emb array<double>")
    probe = lambda p: {  # noqa: E731
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in ivf_index_probe(qdf, p, k=4, nprobe=4).collect()
    }
    assert probe(idx_a) == probe(idx_b)


def test_ivf_index_ingest_contract_edges(spark, tmp_path):
    """Ingest-only edge contract for the IVF-Flat index: missing index
    raises the build hint; a mismatched empty batch is a NO-OP
    returning 0 with no log version written."""
    import os

    import pytest

    from spark_data_test_spark import ivf_index_build, ivf_index_ingest

    schema = "vec_id long, emb array<double>"
    empty = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="run ivf_index_build first"):
        ivf_index_ingest(empty, str(tmp_path / "nope"))

    corpus, _ = _fixture(n=12, nq=0, dim=6, seed=73)
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    versions_before = sorted(os.listdir(f"{idx}/postings"))
    assert ivf_index_ingest(empty, idx) == 0
    zero = spark.createDataFrame([(901, [0.0] * 6)], schema)
    assert ivf_index_ingest(zero, idx) == 0
    assert sorted(os.listdir(f"{idx}/postings")) == versions_before


def test_ivf_index_commit_paths_reject_wrong_dim_batch(spark, tmp_path):
    """Round-18 hardening: a wrong-dim batch raises on every path —
    without the check, zip_with NULL-pads the scoring, so a read
    probe would return NULL-cosine rows and a commit would land
    unsound posting rows in the log with a success count (the pq
    family's "not divisible" posture)."""
    import pytest

    from spark_data_test_spark import (
        ivf_index_build,
        ivf_index_ingest,
        ivf_index_probe,
    )

    schema = "vec_id long, emb array<double>"
    corpus, _ = _fixture(n=12, nq=0, dim=6, seed=79)
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    bad = spark.createDataFrame([(900, [1.0] * 5)], schema)
    with pytest.raises(ValueError, match="committed centroid dim"):
        ivf_index_ingest(bad, idx)
    with pytest.raises(ValueError, match="committed centroid dim"):
        ivf_index_probe(bad, idx, k=2, nprobe=2, commit=True)
    with pytest.raises(ValueError, match="committed centroid dim"):
        ivf_index_probe(bad, idx, k=2, nprobe=2).count()


def test_ivf_index_ingest_rejects_crashed_rebuild(spark, tmp_path):
    """Round-18 gate for the IVF-Flat family: a centroid snapshot that
    advanced without a postings reset (the build's crash window) must
    refuse ingest at O(newest live row)."""
    import pytest

    from pyspark.sql import functions as F

    from spark_data_test_spark import ivf_index_build, ivf_index_ingest
    from spark_data_test_spark.operators.similarity import (
        _train_double_cells,
        _norm_vectors,
    )
    from spark_data_test_spark.state import write_state_version

    schema = "vec_id long, emb array<double>"
    corpus, _ = _fixture(n=12, nq=0, dim=6, seed=83)
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark.createDataFrame(corpus, schema), idx, ncells=3, rounds=2
    )
    other, _ = _fixture(n=12, nq=0, dim=6, seed=97)
    c = _norm_vectors(
        spark.createDataFrame(other, schema), "vec_id", "emb", "t"
    ).persist()
    cents2 = _train_double_cells(c, 2, 1, "t").select(
        "cent_id", F.col("_cv").alias("cv"), F.col("_cn2").alias("cn2")
    )
    write_state_version(cents2, f"{idx}/centroids", retain=2)
    c.unpersist()
    with pytest.raises(ValueError, match="different build stamps"):
        ivf_index_ingest(
            spark.createDataFrame(
                [(700, [1.0, 2.0, 0.0, -1.0, 1.0, 3.0])], schema
            ),
            idx,
        )
    # the probe-commit path runs the SAME gate before its append: a
    # cell-pruned answer may evaluate no pre-existing posting row, so
    # without the gate one commit would land a new-stamped delta on
    # the crashed log and blind the newest-live-row witness
    from spark_data_test_spark import ivf_index_probe

    with pytest.raises(ValueError, match="different build stamps"):
        ivf_index_probe(
            spark.createDataFrame(
                [(701, [2.0, 1.0, -1.0, 0.0, 3.0, 1.0])], schema
            ),
            idx,
            k=2,
            nprobe=2,
            commit=True,
        )


def test_ragged_query_rows_never_rank(spark):
    """A query row whose dimension differs from the batch's most common
    dimension drops (the index family's dim lock) instead of ranking
    neighbours with a NULL cosine, and a query batch whose dimension
    differs from the corpus raises naming both dimensions."""
    import pytest

    from spark_data_test_spark import ivf_topk

    schema = "vec_id long, emb array<double>"
    corpus, queries = _fixture(n=12, nq=3, dim=4, seed=5)
    cdf = spark.createDataFrame(corpus, schema)
    clean = spark.createDataFrame(queries, schema)
    ragged = spark.createDataFrame(queries + [(99, [0.5, -0.25, 1.0])], schema)
    short = spark.createDataFrame([(98, [0.5, -0.25, 1.0])], schema)
    runs = {
        "cosine_topk": lambda q: cosine_topk(cdf, q, k=3),
        "ivf_topk": lambda q: ivf_topk(cdf, q, k=3, nprobe=100, ncells=3),
    }
    for name, run in runs.items():
        want = {tuple(r) for r in run(clean).collect()}
        rows = run(ragged).collect()
        assert all(r.cosine is not None for r in rows), name
        assert {tuple(r) for r in rows} == want, name
        with pytest.raises(
            ValueError, match="query vector dim 3 != corpus vector dim 4"
        ):
            run(short).collect()
    # empty query frames keep their behaviour
    assert cosine_topk(cdf, clean.limit(0), k=3).count() == 0
    with pytest.raises(ValueError, match="input frame is empty"):
        ivf_topk(cdf, clean.limit(0), k=3)


def test_ragged_corpus_rows_drop(spark, tmp_path):
    """A corpus row whose dimension differs from the corpus's most
    common dimension drops before training instead of failing the Lloyd sums with an array
    index error: every corpus-side entry point answers as if the row
    were absent."""
    import pytest

    from spark_data_test_spark import (
        ivf_index_build,
        ivf_topk,
        ivfpq_index_build,
        semantic_prune,
    )

    schema = "vec_id long, emb array<double>"
    corpus, queries = _fixture(n=12, nq=3, dim=4, seed=5)
    clean = spark.createDataFrame(corpus, schema)
    ragged = spark.createDataFrame(corpus + [(77, [0.3, 0.9])], schema)
    qdf = spark.createDataFrame(queries, schema)

    def topk(c):
        return {tuple(r) for r in ivf_topk(c, qdf, k=3, ncells=3).collect()}

    def prune(c):
        return {tuple(r) for r in semantic_prune(c, tau=0.5, ncells=3).collect()}

    assert topk(ragged) == topk(clean)
    assert prune(ragged) == prune(clean)
    # a corpus with no nonzero vector raises the trainer's error
    zeros = spark.createDataFrame([(1, [0.0] * 4), (2, [0.0] * 4)], schema)
    with pytest.raises(ValueError, match="corpus has no nonzero vectors"):
        ivf_topk(zeros, qdf, k=3)
    n = ivf_index_build(clean, str(tmp_path / "ivf_a"), ncells=3)
    assert ivf_index_build(ragged, str(tmp_path / "ivf_b"), ncells=3) == n
    n = ivfpq_index_build(clean, str(tmp_path / "pq_a"), ncells=3, m=2, ncodes=4)
    assert (
        ivfpq_index_build(ragged, str(tmp_path / "pq_b"), ncells=3, m=2, ncodes=4)
        == n
    )


def test_registered_pq_codes_equal_library_encode(spark, sf_dir):
    """The registered integer PQ encoding and the library's `pq_encode`
    of the same quantized vectors against the same codebook agree code
    for code (integer L2 sums stay below 2^53, so the double fold picks
    the same winners)."""
    import spark_data_test_spark.operators.similarity as sim
    from spark_data_test_spark import pq_encode

    emb = sim._int_embeddings(spark, sf_dir)
    cb = sim._pq_codebook(spark, sf_dir)
    codes = sim._pq_codes(spark, sf_dir).select("vec_id", "s", "cent_id")
    lib = pq_encode(emb, cb, vec_col="e").select("vec_id", "s", "code")
    got = {tuple(r) for r in codes.collect()}
    want = {tuple(r) for r in lib.collect()}
    assert len(got) == 4 * emb.count()
    assert got == want


def test_registered_pq_ann_equals_pq_topk(spark, sf_dir):
    """`similarity_pq_ann` is `pq_topk` with the registered codebook on
    the same query ids, ADC distances cast back to bigint."""
    from pyspark.sql import functions as F

    import spark_data_test_spark.operators.similarity as sim
    from spark_data_test_spark import pq_topk

    emb = sim._int_embeddings(spark, sf_dir).select("vec_id", "e")
    got = {
        (r.q_vec_id, r.neighbor_id, r.rank, r.adc_dist)
        for r in sim.similarity_pq_ann(spark, sf_dir).collect()
    }
    lib = pq_topk(
        emb,
        emb.where(F.col("vec_id") < sim._NQ),
        k=sim._PQ_TOPK,
        codebook=sim._pq_codebook(spark, sf_dir),
        vec_col="e",
    )
    want = {
        (r.query_id, r.neighbor_id, r.rank, r.adc_dist)
        for r in lib.withColumn(
            "adc_dist", F.col("adc_dist").cast("long")
        ).collect()
    }
    assert len(got) == sim._NQ * sim._PQ_TOPK
    assert got == want


def test_dim_lock_ignores_a_ragged_first_row(spark, tmp_path):
    """The dim lock keeps the most common dim, not the first row's: a
    3-dim row placed first in a 4-dim corpus or query batch drops, and
    every entry point answers as if it were absent (a first-row lock
    rejected the correct 4-dim batch, or dropped every 4-dim row)."""
    from spark_data_test_spark import (
        ivf_index_build,
        ivf_topk,
        pq_train,
        semantic_prune,
    )

    schema = "vec_id long, emb array<double>"
    corpus, queries = _fixture(n=60, nq=4, dim=4, seed=11)
    odd = (999, [0.5, -0.25, 1.0])
    clean = spark.createDataFrame(corpus, schema)
    ragged = spark.createDataFrame([odd] + corpus, schema)
    qdf = spark.createDataFrame(queries, schema)
    qragged = spark.createDataFrame([odd] + queries, schema)
    assert ragged.first().vec_id == 999

    def rows(df):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        }

    for run in (
        lambda c, q: cosine_topk(c, q, k=3),
        lambda c, q: ivf_topk(c, q, k=3, ncells=3),
    ):
        want = rows(run(clean, qdf))
        assert want
        assert rows(run(ragged, qdf)) == want
        assert rows(run(clean, qragged)) == want
    prune = rows(semantic_prune(clean, tau=0.5, ncells=3))
    assert rows(semantic_prune(ragged, tau=0.5, ncells=3)) == prune
    # same codebook entries; the centroid sums may fold in another order
    book = {(r.s, r.cent_id): r.csub for r in pq_train(clean, m=2, ncodes=4).collect()}
    got = {(r.s, r.cent_id): r.csub for r in pq_train(ragged, m=2, ncodes=4).collect()}
    assert book and got.keys() == book.keys()
    assert all(
        abs(x - y) < 1e-12 for k in book for x, y in zip(got[k], book[k])
    )
    n = ivf_index_build(clean, str(tmp_path / "ivf_a"), ncells=3)
    assert n and ivf_index_build(ragged, str(tmp_path / "ivf_b"), ncells=3) == n


def test_dim_lock_ties_go_to_the_smaller_dim(spark):
    """Two dims with equal row counts lock to the smaller one."""
    from spark_data_test_spark.operators.similarity import _dim_locked

    schema = "vec_id long, _v array<double>"
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0]), (3, [4.0, 5.0, 6.0]),
         (4, [3.0, 4.0]), (5, None)],
        schema,
    )
    locked, dim = _dim_locked(df)
    assert dim == 2
    assert sorted(r.vec_id for r in locked.collect()) == [2, 4]
    assert _dim_locked(df.where("vec_id = 5"))[1] is None


def _range_rows_scanned(spark, since):
    """Rows out of every ``Range`` scan node of the SQL executions
    after id ``since``, read from Spark's SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    runs = store.executionsList()
    total = 0
    for r in range(runs.size()):
        eid = runs.apply(r).executionId()
        if eid <= since:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            if nodes.apply(i).name() != "Range":
                continue
            metrics = nodes.apply(i).metrics()
            for j in range(metrics.size()):
                if metrics.apply(j).name() == "number of output rows":
                    v = values.get(metrics.apply(j).accumulatorId())
                    total += int(v.get().replace(",", "")) if v.isDefined() else 0
    return total


def test_ivf_index_build_scans_its_input_once(spark, tmp_path):
    """The dim lock's histogram reads the persisted normalized
    projection that training and encoding read after it, so one
    `ivf_index_build` scans its input once (the lock used to run over
    an unpersisted lineage that the build then computed again)."""
    from pyspark.sql import functions as F

    from spark_data_test_spark import ivf_index_build

    n = 200
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.cos(F.col("id") * (j + 1)) for j in range(4)]).alias("emb"),
    )
    store = spark._jsparkSession.sharedState().statusStore()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = store.executionsList()
    since = max(
        [runs.apply(r).executionId() for r in range(runs.size())], default=-1
    )
    assert ivf_index_build(corpus, str(tmp_path / "idx"), ncells=3) == n
    assert _range_rows_scanned(spark, since) == n
