"""Seeded inputs and engine-independent oracles for the workloads.

Nothing here imports pyspark or the engine: inputs are numpy/pyarrow
tables written as parquet, and every expected answer is derived from the
planted structure (compare) or recomputed in plain Python from the
generated texts and vectors (curate). The same seed always gives
byte-identical inputs and identical expectations.
"""

import math
import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Report vocabulary of the engine's four reports. These are the
# reference library's output contract (including its typo), restated
# here so the oracle does not read them from the engine under test.
PRESENT = "PRESENT_IN_BOTH"
MISSING_AT_SOURCE = "MISSING_AT_SOURCE"
MISSING_AT_TARGET = "MISSTING_AT_TARGET"

# ---------------------------------------------------------------------------
# compare: a keyed source/target pair with planted differences
# ---------------------------------------------------------------------------

COMPARE_COLS = ["day", "qty", "price", "score", "name", "category", "active"]
COMPARE_TOLERANCE = 0.01
_CATEGORIES = [f"cat_{i:02d}" for i in range(12)]

# Planted shares of the source key set, per category (disjoint key sets).
_COMPARE_PLANT = {
    "miss_tgt": 0.005,  # source-only keys
    "dup_src": 0.002,  # keys with an exact duplicate row in the source
    "dup_tgt": 0.002,  # keys with an exact duplicate row in the target
    "drift": 0.01,  # price/score moved inside the tolerance
    "bad_price": 0.003,
    "bad_qty": 0.002,
    "bad_name": 0.002,
    "bad_category": 0.001,
}
_MISS_SRC_SHARE = 0.005  # target-only keys, as a share of the source keys


def _day_names(n_days):
    return np.array([f"2024-03-{d + 1:02d}" for d in range(n_days)])


def compare_inputs(seed, n_rows, n_days=20):
    """Return ``(source, target, plant, day)``: two column dicts, the
    planted row indexes per category (plus the target-only rows) and the
    day index of every base row. Keys (``rid``) are unique per side apart
    from the planted duplicates, and a key keeps its ``day`` on both
    sides."""
    rng = np.random.default_rng([seed, 1])
    rid = rng.choice(np.int64(n_rows) * 50, size=n_rows, replace=False)
    day = rng.integers(0, n_days, size=n_rows)
    base = {
        "rid": rid.astype(np.int64),
        "day": day,
        "qty": rng.integers(1, 500, size=n_rows).astype(np.int32),
        "price": np.round(rng.uniform(1, 1000, size=n_rows), 2),
        "score": np.round(rng.normal(50, 10, size=n_rows), 3),
        "name": rng.integers(0, 10**9, size=n_rows),
        "category": rng.integers(0, len(_CATEGORIES), size=n_rows),
        "active": rng.random(n_rows) < 0.7,
    }
    order = rng.permutation(n_rows)
    plant, start = {}, 0
    for kind, share in _COMPARE_PLANT.items():
        k = max(2, int(round(share * n_rows)))
        plant[kind] = np.sort(order[start : start + k])
        start += k

    n_new = max(2, int(round(_MISS_SRC_SHARE * n_rows)))
    taken = set(rid.tolist())
    new_rid = []
    while len(new_rid) < n_new:
        cand = int(rng.integers(0, np.int64(n_rows) * 50))
        if cand not in taken:
            taken.add(cand)
            new_rid.append(cand)
    new = {
        "rid": np.array(new_rid, dtype=np.int64),
        "day": rng.integers(0, n_days, size=n_new),
        "qty": rng.integers(1, 500, size=n_new).astype(np.int32),
        "price": np.round(rng.uniform(1, 1000, size=n_new), 2),
        "score": np.round(rng.normal(50, 10, size=n_new), 3),
        "name": rng.integers(0, 10**9, size=n_new),
        "category": rng.integers(0, len(_CATEGORIES), size=n_new),
        "active": rng.random(n_new) < 0.7,
    }
    plant["miss_src_rows"] = new

    tgt = {c: v.copy() for c, v in base.items()}
    tgt["price"][plant["drift"]] += 0.004
    tgt["score"][plant["drift"]] -= 0.002
    tgt["price"][plant["bad_price"]] += 5.0
    tgt["qty"][plant["bad_qty"]] += 3
    tgt["name"][plant["bad_name"]] += 1
    tgt["category"][plant["bad_category"]] = (
        tgt["category"][plant["bad_category"]] + 1
    ) % len(_CATEGORIES)

    keep = np.ones(n_rows, dtype=bool)
    keep[plant["miss_tgt"]] = False
    src_idx = np.concatenate([np.arange(n_rows), plant["dup_src"]])
    tgt_idx = np.concatenate([np.flatnonzero(keep), plant["dup_tgt"]])
    source = {c: v[src_idx] for c, v in base.items()}
    target = {
        c: np.concatenate([tgt[c][tgt_idx], new[c]]) for c in base
    }
    return source, target, plant, base["day"]


def _compare_table(cols, n_days, rng):
    order = np.lexsort((rng.random(len(cols["rid"])), cols["day"]))
    days = _day_names(n_days)
    return pa.table(
        {
            "rid": pa.array(cols["rid"][order], pa.int64()),
            "day": pa.array(days[cols["day"][order]], pa.string()),
            "qty": pa.array(cols["qty"][order], pa.int32()),
            "price": pa.array(cols["price"][order], pa.float64()),
            "score": pa.array(cols["score"][order], pa.float64()),
            "name": pa.array(
                np.char.add("n", cols["name"][order].astype(str)), pa.string()
            ),
            "category": pa.array(
                np.array(_CATEGORIES)[cols["category"][order]], pa.string()
            ),
            "active": pa.array(cols["active"][order], pa.bool_()),
        }
    )


def write_parquet_parts(table, path, n_files, row_group_rows):
    """Write ``table`` as ``n_files`` parquet parts (a Spark-readable
    directory) with row groups of ``row_group_rows`` rows, so that
    min/max statistics let a filtered scan skip most of the data."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=row_group_rows,
            compression="snappy",
        )


def write_compare_inputs(seed, n_rows, root, n_days=20, n_files=4):
    """Write ``source/`` and ``target/`` under ``root``, sorted by day
    so that each day's rows sit in their own row groups."""
    source, target, _, _ = compare_inputs(seed, n_rows, n_days)
    rng = np.random.default_rng([seed, 2])
    rg = max(1000, n_rows // n_days // 2)
    for name, cols in (("source", source), ("target", target)):
        write_parquet_parts(
            _compare_table(cols, n_days, rng), os.path.join(root, name),
            n_files, rg,
        )


def _report(src_days, tgt_days, plant_days, mask_day=None):
    """Expected overall/row/column counts, optionally for one day."""

    def n(arr):
        return len(arr) if mask_day is None else int(np.count_nonzero(arr == mask_day))

    miss_tgt = n(plant_days["miss_tgt"])
    miss_src = n(plant_days["miss_src"])
    dup_src = n(plant_days["dup_src"])
    dup_tgt = n(plant_days["dup_tgt"])
    bad = {
        "price": n(plant_days["bad_price"]),
        "qty": n(plant_days["bad_qty"]),
        "name": n(plant_days["bad_name"]),
        "category": n(plant_days["bad_category"]),
    }
    n_src_rows = n(src_days)
    n_tgt_rows = n(tgt_days)
    n_src_keys = n_src_rows - dup_src
    both = n_src_keys - miss_tgt
    matched = both - sum(bad.values())
    return {
        "overall": {
            "count": {"source": n_src_rows, "target": n_tgt_rows},
            "matched_count": matched,
            "duplicate_count": {"source": dup_src, "target": dup_tgt},
            "missing_rows": {"source": miss_src, "target": miss_tgt},
            "test_status": "PASSED"
            if n_src_rows == matched and n_tgt_rows == matched
            else "FAILED",
        },
        "rows": {
            (PRESENT, True): matched,
            (PRESENT, False): sum(bad.values()),
            (MISSING_AT_SOURCE, False): miss_src,
            (MISSING_AT_TARGET, False): miss_tgt,
        },
        "row_dup_sum": dup_src + dup_tgt,
        "columns": {c: bad.get(c, 0) for c in COMPARE_COLS},
    }


def compare_expected(seed, n_rows, n_days=20):
    """Expected reports of the whole-table comparison and of every
    one-day slice, from the planted counts alone."""
    source, target, plant, base_day = compare_inputs(seed, n_rows, n_days)
    plant_days = {
        k: base_day[v] for k, v in plant.items() if k != "miss_src_rows"
    }
    plant_days["miss_src"] = plant["miss_src_rows"]["day"]
    days = _day_names(n_days)
    return {
        "total": _report(source["day"], target["day"], plant_days),
        "slices": {
            days[d]: _report(source["day"], target["day"], plant_days, d)
            for d in range(n_days)
        },
        "source_rows": len(source["rid"]),
        "target_rows": len(target["rid"]),
    }


# ---------------------------------------------------------------------------
# curate: a text corpus with planted duplicate structure
# ---------------------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocabulary(rng, n):
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(rng.choice(_LETTERS, ln)))
    return sorted(words)


def shingles(text):
    """The strided char-8-gram shingle set (start offsets 0, 4, 8...)."""
    return {text[i : i + 8] for i in range(0, len(text) - 7, 4)}


def jaccard_1e6(a, b):
    sa, sb = shingles(a), shingles(b)
    i = len(sa & sb)
    return 1e6 * i / (len(sa) + len(sb) - i)


def containment_1e6(a, b):
    sa, sb = shingles(a), shingles(b)
    return 1e6 * len(sa & sb) / min(len(sa), len(sb))


def curate_corpus(seed, n_docs):
    """Return ``(docs, plant)``: ``docs`` is a list of ``(doc_id, text)``
    in id order; ``plant`` lists the planted exact clusters, near pairs,
    containment pairs (contained, container), empty and boilerplate ids.

    Shares of ``n_docs``: ~1.5% in exact clusters, ~3% near-dup
    variants, ~1.5% contained spans, 0.2% empty texts and 4% boilerplate
    (one shared 12-word header over a unique body: a hot shingle/gram
    bucket whose pairs stay below every similarity threshold)."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 4000)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks**1.05
    p /= p.sum()
    by_len = defaultdict(list)
    for w in vocab:
        by_len[len(w)].append(w)

    def sentence(lo, hi):
        return " ".join(
            vocab[i] for i in rng.choice(len(vocab), int(rng.integers(lo, hi)), p=p)
        )

    texts = []

    def add(text):
        texts.append(text)
        return len(texts) - 1

    n_exact = max(2, n_docs * 6 // 1000)  # clusters of 2-3
    n_near = max(2, n_docs * 12 // 1000)  # 1-2 variants each
    n_cont = max(2, n_docs * 15 // 1000)
    n_empty = max(2, n_docs // 500)
    n_boiler = max(2, n_docs * 4 // 100)
    n_plain = n_docs - (
        n_exact * 5 // 2 + n_near * 5 // 2 + n_cont * 2 + n_empty + n_boiler
    )

    exact_clusters, near_pairs, cont_pairs = [], [], []
    for _ in range(n_exact):
        t = sentence(40, 70)
        exact_clusters.append(
            [add(t) for _ in range(int(rng.integers(2, 4)))]
        )
    for _ in range(n_near):
        t = sentence(40, 70)
        members = [add(t)]
        for _ in range(int(rng.integers(1, 3))):
            toks = t.split(" ")
            j = int(rng.integers(0, len(toks)))
            alts = [w for w in by_len[len(toks[j])] if w != toks[j]]
            toks[j] = alts[int(rng.integers(0, len(alts)))]
            members.append(add(" ".join(toks)))
        near_pairs.extend(
            (a, b) for ai, a in enumerate(members) for b in members[ai + 1 :]
        )
    for _ in range(n_cont):
        toks = sentence(90, 120).split(" ")
        starts = np.cumsum([0] + [len(w) + 1 for w in toks])
        span = int(len(toks) * 0.35)
        ok = [i for i in range(1, len(toks) - span) if starts[i] % 4 == 0]
        if not ok:  # no word starts on the shingle stride: skip it
            continue
        i = ok[int(rng.integers(0, len(ok)))]
        container = add(" ".join(toks))
        contained = add(" ".join(toks[i : i + span]))
        cont_pairs.append((contained, container))
    empty = [add("") for _ in range(n_empty)]
    header = " ".join(_vocabulary(np.random.default_rng([seed, 4]), 12))
    boiler = [add(header + " " + sentence(50, 70)) for _ in range(n_boiler)]
    for _ in range(n_plain):
        add(sentence(30, 80))

    ids = np.sort(rng.choice(len(texts) * 20, len(texts), replace=False))
    slot = rng.permutation(len(texts))
    doc_id = {i: int(ids[slot[i]]) for i in range(len(texts))}
    docs = sorted((doc_id[i], texts[i]) for i in range(len(texts)))

    def ids_of(pairs):
        return sorted(tuple(sorted((doc_id[a], doc_id[b]))) for a, b in pairs)

    plant = {
        "exact_clusters": [sorted(doc_id[i] for i in c) for c in exact_clusters],
        "near_pairs": ids_of(near_pairs),
        "cont_pairs": sorted((doc_id[a], doc_id[b]) for a, b in cont_pairs),
        "empty": sorted(doc_id[i] for i in empty),
        "boiler": sorted(doc_id[i] for i in boiler),
    }
    return docs, plant


def write_curate_inputs(seed, n_docs, root, n_files=4):
    """Write ``docs/`` with columns ``doc_id`` and ``text``."""
    docs, _ = curate_corpus(seed, n_docs)
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    write_parquet_parts(table, os.path.join(root, "docs"), n_files, 1 << 20)


def curate_expected(seed, n_docs):
    """Expected answers for every curate call, in plain Python."""
    docs, plant = curate_corpus(seed, n_docs)
    text = dict(docs)

    groups = defaultdict(list)
    for d, t in docs:
        groups[t].append(d)
    identical = set()
    for members in groups.values():
        identical.update(
            (a, b) for ai, a in enumerate(members) for b in members[ai + 1 :]
        )

    tokens = Counter(t for _, tx in docs for t in tx.split(" ") if t)
    n_tok = sum(tokens.values())
    hitters = {w: c for w, c in tokens.items() if c * 1000 > n_tok}

    return {
        "text": text,
        "plant": plant,
        "identical_pairs": identical,
        "hitters": hitters,
        "n_tokens": n_tok,
    }


# ---------------------------------------------------------------------------
# curate's vector index: clustered embeddings with planted near-identical vectors
# ---------------------------------------------------------------------------

ANN_DIM = 64


def ann_vectors(seed, n_vectors, n_queries):
    """Return ``(corpus_ids, corpus, query_ids, queries)``. The corpus is
    24 Gaussian clusters; 2% of it has a planted near-identical twin,
    and half the queries are near-identical copies of corpus vectors."""
    rng = np.random.default_rng([seed, 6])
    centers = rng.normal(0, 1, size=(24, ANN_DIM))
    n_twin = max(2, n_vectors // 50)
    n_base = n_vectors - n_twin
    lab = rng.integers(0, len(centers), size=n_base)
    base = centers[lab] + rng.normal(0, 0.6, size=(n_base, ANN_DIM))
    twins = base[rng.choice(n_base, n_twin, replace=False)]
    twins = twins + rng.normal(0, 1e-3, size=twins.shape)
    corpus = np.round(np.vstack([base, twins]), 6)
    ids = rng.choice(n_vectors * 10, size=n_vectors, replace=False).astype(np.int64)
    perm = rng.permutation(n_vectors)
    corpus, ids = corpus[perm], ids[perm]

    n_copy = n_queries // 2
    qlab = rng.integers(0, len(centers), size=n_queries - n_copy)
    fresh = centers[qlab] + rng.normal(0, 0.6, size=(n_queries - n_copy, ANN_DIM))
    copies = corpus[rng.choice(n_vectors, n_copy, replace=False)]
    copies = copies + rng.normal(0, 1e-3, size=copies.shape)
    queries = np.round(np.vstack([fresh, copies]), 6)
    qids = np.arange(n_queries, dtype=np.int64) + n_vectors * 10
    return ids, corpus, qids, queries


def exact_topk(ids, vecs, queries, k=10):
    """Exact cosine top-k ids per query (cosine desc, id asc)."""
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ vn.T
    out = []
    for row in sims:
        order = np.lexsort((ids, -np.round(row, 12)))[:k]
        out.append([int(i) for i in ids[order]])
    return out


def recall_at_k(truth, got):
    """Mean share of each query's true top-k found in its answer."""
    hits = sum(len(set(t) & set(g)) for t, g in zip(truth, got))
    total = sum(len(t) for t in truth)
    return hits / total if total else math.nan
