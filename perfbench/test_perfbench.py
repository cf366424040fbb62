"""Tests of the benchmark's own generator, oracles and helpers.

    python3 -m pytest perfbench -q

No Spark session is started: the oracles are checked against answers
built from the generator itself, then against deliberately wrong ones.
"""

import copy
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import metrics  # noqa: E402
import sparktrace  # noqa: E402
from workloads import WORKLOADS, Ann, CheckFailed, Compare, Curate  # noqa: E402


def _files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


# -- same seed, same inputs and answers --------------------------------------


def test_compare_inputs_and_answers_repeat_per_seed(tmp_path):
    datagen.write_compare_inputs(7, 3000, str(tmp_path / "a"))
    datagen.write_compare_inputs(7, 3000, str(tmp_path / "b"))
    datagen.write_compare_inputs(8, 3000, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c
    assert datagen.compare_expected(7, 3000) == datagen.compare_expected(7, 3000)


def test_curate_inputs_and_answers_repeat_per_seed(tmp_path):
    datagen.write_curate_inputs(3, 300, str(tmp_path / "a"))
    datagen.write_curate_inputs(3, 300, str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    e1, e2 = datagen.curate_expected(3, 300), datagen.curate_expected(3, 300)
    assert e1["text"] == e2["text"]
    assert e1["hitters"] == e2["hitters"] and e1["plant"] == e2["plant"]
    assert datagen.curate_corpus(4, 300)[0] != datagen.curate_corpus(3, 300)[0]


def test_ann_inputs_repeat_per_seed():
    a, b = datagen.ann_vectors(5, 200, 8), datagen.ann_vectors(5, 200, 8)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(a[1], datagen.ann_vectors(6, 200, 8)[1])


# -- the planted structure is what the oracles claim ---------------------------


def test_compare_plant_counts_add_up():
    exp = datagen.compare_expected(11, 5000)
    total = exp["total"]["overall"]
    assert total["count"]["source"] == exp["source_rows"]
    assert total["count"]["target"] == exp["target_rows"]
    slices = exp["slices"].values()
    for key in ("matched_count",):
        assert sum(s["overall"][key] for s in slices) == total[key]
    assert sum(s["overall"]["count"]["source"] for s in slices) == exp["source_rows"]


def test_curate_planted_pairs_clear_their_thresholds():
    docs, plant = datagen.curate_corpus(2, 600)
    text = dict(docs)
    for a, b in plant["near_pairs"]:
        assert datagen.jaccard_1e6(text[a], text[b]) >= 5e5
    for a, b in plant["cont_pairs"]:
        assert datagen.containment_1e6(text[a], text[b]) == 1e6
        assert datagen.jaccard_1e6(text[a], text[b]) < 5e5
    boiler = plant["boiler"]
    assert datagen.jaccard_1e6(text[boiler[0]], text[boiler[1]]) < 5e5


# -- each oracle flags a wrong report ----------------------------------------


def _compare_answer(want):
    return {
        "overall": [dict(want["overall"], dataset_name="orders")],
        "columns": dict(want["columns"]),
        "rows": {k: v for k, v in want["rows"].items() if v},
        "row_dup_sum": want["row_dup_sum"],
        "dumps": sorted(c for c, n in want["columns"].items() if n),
    }


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda g: g["overall"][0].__setitem__("matched_count", g["overall"][0]["matched_count"] + 1),
        lambda g: g["overall"][0]["missing_rows"].__setitem__("source", 0),
        lambda g: g["columns"].__setitem__("price", g["columns"]["price"] - 1),
        lambda g: g["rows"].__setitem__(("PRESENT_IN_BOTH", True), 1),
        lambda g: g.__setitem__("row_dup_sum", 0),
        lambda g: g["dumps"].pop(),
    ],
)
def test_compare_oracle_flags_wrong_reports(corrupt):
    want = datagen.compare_expected(1, 4000)["total"]
    good = _compare_answer(want)
    Compare.check_reports(copy.deepcopy(good), want)
    bad = copy.deepcopy(good)
    corrupt(bad)
    with pytest.raises(CheckFailed):
        Compare.check_reports(bad, want)


@pytest.fixture(scope="module")
def curate():
    wl = Curate(9)
    wl.N_DOCS = 500
    wl.expected()
    return wl


def _near_rows(exp):
    text = exp["text"]
    pairs = exp["identical_pairs"] | set(exp["plant"]["near_pairs"])
    return [
        {"doc_a": a, "doc_b": b, "jaccard_1e6": round(
            1e6 if text[a] == text[b] else datagen.jaccard_1e6(text[a], text[b]))}
        for a, b in sorted(pairs)
    ]


def test_curate_oracles_accept_right_and_flag_wrong(curate):
    exp = curate.exp
    text = exp["text"]
    near = _near_rows(exp)
    curate.check_near(near)
    with pytest.raises(CheckFailed):  # a pair that is not near-duplicate
        plain = [d for d in sorted(text) if len(text[d]) > 40][:2]
        curate.check_near(near + [{"doc_a": plain[0], "doc_b": plain[1], "jaccard_1e6": 900000}])
    with pytest.raises(CheckFailed):  # an identical-text pair missing
        curate.check_near([r for r in near if text[r["doc_a"]] != text[r["doc_b"]]])

    hh = [{"item": w, "cnt": c, "n_total": exp["n_tokens"]} for w, c in exp["hitters"].items()]
    curate.check_hitters(hh)
    with pytest.raises(CheckFailed):
        curate.check_hitters(hh[1:])

    groups = {}
    exact = []
    for d in sorted(text):
        gid = groups.setdefault(text[d], f"g{len(groups)}")
        first = min(x for x in text if text[x] == text[d])
        exact.append({"doc_id": d, "gid": gid, "is_survivor": d == first})
    curate.check_exact(exact)
    with pytest.raises(CheckFailed):
        curate.check_exact([dict(exact[0], is_survivor=not exact[0]["is_survivor"])] + exact[1:])


def test_ann_oracle_flags_deleted_and_missing_neighbors():
    wl = Ann(4)
    wl.N_VECTORS, wl.N_QUERIES = 400, 6
    wl.expected()
    e = wl.exp
    live = list(range(300))
    truth = datagen.exact_topk(e["ids"][live], e["vecs"][live], e["queries"])
    rows = [{"query_id": int(q), "neighbor_id": n, "rank": r + 1}
            for q, t in zip(e["qids"], truth) for r, n in enumerate(t)]
    wl.check_probe(rows, live)
    assert wl.recalls[-1] == 1.0
    dead = int(e["ids"][350])
    with pytest.raises(CheckFailed):
        wl.check_probe([dict(rows[0], neighbor_id=dead)] + rows[1:], live)
    with pytest.raises(CheckFailed):
        wl.check_probe(rows[1:], live)


# -- helpers ------------------------------------------------------------------


def test_parse_duration_and_interval_cover():
    text = "total (min, med, max (stageId: taskId))\n2.3 s (538 ms, 622 ms, 626 ms (stage 0.0: task 0))"
    assert sparktrace.parse_duration_s(text) == pytest.approx(2.3)
    assert sparktrace.parse_duration_s("total\n27 ms (1 ms)") == pytest.approx(0.027)
    assert sparktrace.covered_s([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert sparktrace.covered_s([(-5, 1), (9, 20)], 0, 10) == 2


def test_benchmark_json_lists_the_reported_metrics():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == metrics.PER_LAYER
    assert len(spec["per_layer"]) <= 128
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
