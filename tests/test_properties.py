"""Property-based tests for the comparison engine (hypothesis).

The reference test suite is a single golden fixture (SURVEY.md §5);
these pin the engine's algebraic invariants over randomized inputs:
reflexivity, missing-row accounting, symmetry, and tolerance monotonicity.
Examples are kept small — each runs a real Spark comparison.
"""

import datetime as _dt
import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from spark_data_test_spark import DatasetParams, TestParams, compare_dataframes
from spark_data_test_spark.constants import (
    COL_LVL_TEST_REPORT_KEY,
    OVERALL_TEST_REPORT_KEY,
)

_SCHEMA = "id bigint, s string, x double"

_strings = st.one_of(st.none(), st.text(alphabet="abcXYZ ", max_size=6))
_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@st.composite
def tables(draw, min_rows=1, max_rows=12):
    n = draw(st.integers(min_rows, max_rows))
    keys = draw(
        st.lists(
            st.integers(0, 10**6), min_size=n, max_size=n, unique=True
        )
    )
    return [
        (k, draw(_strings), draw(_doubles)) for k in sorted(keys)
    ]


def _params(tol=0.0, mode="sha256"):
    return DatasetParams(
        dataset_name="prop",
        primary_keys=["id"],
        test_params=TestParams(difference_tolerance=tol, checksum_mode=mode),
    )


_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


@given(rows=tables())
@_settings
def test_reflexivity(spark, rows):
    """compare(df, df) with unique keys: PASSED, zero mismatches."""
    df = spark.createDataFrame(rows, _SCHEMA)
    res = compare_dataframes(spark, df, df, _params(), compute_unmatched_dumps=False)
    overall = res[OVERALL_TEST_REPORT_KEY].first()
    assert overall["test_status"] == "PASSED"
    assert overall["matched_count"] == len(rows)
    assert overall["missing_rows"] == {"source": 0, "target": 0}
    col_counts = {
        r["column_name"]: r["unmatched_rows_count"]
        for r in res[COL_LVL_TEST_REPORT_KEY].collect()
    }
    assert set(col_counts.values()) == {0}


@given(rows=tables(min_rows=2), data=st.data())
@_settings
def test_missing_row_accounting(spark, rows, data):
    """Dropping k target rows => missing_at_target == k, FAILED."""
    k = data.draw(st.integers(1, len(rows) - 1))
    df = spark.createDataFrame(rows, _SCHEMA)
    tgt = spark.createDataFrame(rows[k:], _SCHEMA)
    res = compare_dataframes(spark, df, tgt, _params(), compute_unmatched_dumps=False)
    overall = res[OVERALL_TEST_REPORT_KEY].first()
    assert overall["missing_rows"]["target"] == k
    assert overall["matched_count"] == len(rows) - k
    assert overall["test_status"] == "FAILED"


@given(rows=tables(min_rows=2))
@_settings
def test_symmetry(spark, rows):
    """Swapping source/target swaps the missing-row sides."""
    half = len(rows) // 2
    a = spark.createDataFrame(rows, _SCHEMA)
    b = spark.createDataFrame(rows[half:], _SCHEMA)
    fwd = compare_dataframes(spark, a, b, _params(), compute_unmatched_dumps=False)[
        OVERALL_TEST_REPORT_KEY
    ].first()
    rev = compare_dataframes(spark, b, a, _params(), compute_unmatched_dumps=False)[
        OVERALL_TEST_REPORT_KEY
    ].first()
    assert fwd["missing_rows"]["target"] == rev["missing_rows"]["source"]
    assert fwd["missing_rows"]["source"] == rev["missing_rows"]["target"]
    assert fwd["matched_count"] == rev["matched_count"]


@given(rows=tables(), data=st.data())
@_settings
def test_tolerance_monotonicity(spark, rows, data):
    """A numeric delta within tolerance matches; beyond it, it doesn't
    (canonical checksum mode so NULL vs value never false-matches)."""
    idx = data.draw(st.integers(0, len(rows) - 1))
    delta = data.draw(st.floats(min_value=0.001, max_value=0.4))
    src = spark.createDataFrame(rows, _SCHEMA)
    perturbed = [
        (k, s, x + delta if i == idx else x)
        for i, (k, s, x) in enumerate(rows)
    ]
    tgt = spark.createDataFrame(perturbed, _SCHEMA)
    base = rows[idx][2]
    actual_delta = abs((base + delta) - base)

    loose = compare_dataframes(
        spark, src, tgt, _params(tol=0.5, mode="xxhash64"),
        compute_unmatched_dumps=False,
    )[OVERALL_TEST_REPORT_KEY].first()
    assert loose["matched_count"] == len(rows)

    if actual_delta > 1e-4 and not math.isclose(
        actual_delta, 1e-4, rel_tol=0.5
    ):
        tight = compare_dataframes(
            spark, src, tgt, _params(tol=1e-4, mode="xxhash64"),
            compute_unmatched_dumps=False,
        )[OVERALL_TEST_REPORT_KEY].first()
        assert tight["matched_count"] == len(rows) - 1


@given(
    rows=tables(min_rows=2, max_rows=8),
    tol_x=st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
)
@_settings
def test_per_column_tolerance_override(spark, rows, tol_x):
    """column_tolerances: the override governs its column alone —
    a pair differing only in x matches iff |dx| <= tol_x, regardless of
    the global tolerance being zero."""
    src = spark.createDataFrame(rows, _SCHEMA)
    bumped = [(k, s, x + tol_x / 2) for k, s, x in rows]
    tgt = spark.createDataFrame(bumped, _SCHEMA)
    params = DatasetParams(
        dataset_name="coltol",
        primary_keys=["id"],
        test_params=TestParams(
            difference_tolerance=0.0, column_tolerances={"x": tol_x}
        ),
    )
    res = compare_dataframes(spark, src, tgt, params, compute_unmatched_dumps=False)
    overall = res[OVERALL_TEST_REPORT_KEY].first()
    # every pair differs by tol_x/2 <= tol_x in x only -> all matched
    # unless s is NULL-vs-NULL equality breaks (it can't: same s)
    assert overall["matched_count"] == len(rows)


def test_frame_cache_eviction_order_and_release():
    from spark_data_test_spark.utils.spark_utils import FrameCache

    released = []
    cache = FrameCache(max_entries=2, release=released.append)
    cache.get_or_create("a", lambda: "va")
    cache.get_or_create("b", lambda: "vb")
    cache.get_or_create("a", lambda: "REBUILT")  # hit: refreshes, no rebuild
    assert cache.get_or_create("a", lambda: "REBUILT") == "va"
    cache.get_or_create("c", lambda: "vc")  # evicts b (a was refreshed)
    assert released == ["vb"]
    assert cache.get_or_create("b", lambda: "vb2") == "vb2"  # b rebuilt
    assert released == ["vb", "va"]  # a evicted next (append-only log)
    cache.clear()
    assert set(released) == {"va", "vb", "vc", "vb2"}


def test_clear_all_releases_every_memo(spark):
    """Every module-level memo in the operators package (FrameCache or
    ``*_MEMO`` dict) is registered, and one `clear_all` empties them
    all and unpersists the frames they hold."""
    import importlib
    import pkgutil

    from spark_data_test_spark import operators
    from spark_data_test_spark.operators import graph
    from spark_data_test_spark.utils import spark_utils
    from spark_data_test_spark.utils.spark_utils import FrameCache, clear_all

    caches, dicts = {}, {}
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, value in vars(mod).items():
            if isinstance(value, FrameCache):
                caches[id(value)] = value
            elif name.endswith("_MEMO") and isinstance(value, dict):
                dicts[id(value)] = value
    assert caches and dicts
    registered = {id(store) for store in spark_utils._MEMOS}
    assert set(caches) | set(dicts) <= registered

    key = ("test_clear_all", "sentinel")
    df = spark.range(5).persist()
    df.count()
    assert graph._EDGES_CACHE.get_or_create(key, lambda: df) is df
    assert df.storageLevel.useMemory
    for cache in caches.values():
        cache.get_or_create(key, object)
    for memo in dicts.values():
        memo[key] = object()

    clear_all()
    assert all(not cache._store for cache in caches.values())
    assert all(not memo for memo in dicts.values())
    level = df.storageLevel
    assert not (level.useMemory or level.useDisk)


# --- media codec roundtrips (no Spark session needed) ---------------------

_pcm_bytes = st.binary(min_size=0, max_size=256).map(
    lambda b: b[: len(b) - (len(b) % 2)]  # PCM16 needs whole samples
)


@given(pcm=_pcm_bytes, rate=st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=200, deadline=None)
def test_wav_roundtrip_property(pcm, rate):
    from spark_data_test_spark import decode_wav, encode_wav_pcm16

    out_rate, channels, bits, data = decode_wav(encode_wav_pcm16(rate, pcm))
    assert (out_rate, channels, bits) == (rate, 1, 16)
    assert data == pcm


@given(
    w=st.integers(1, 8),
    h=st.integers(1, 8),
    n=st.integers(0, 6),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_y4m_roundtrip_property(w, h, n, data):
    from spark_data_test_spark import decode_y4m, encode_y4m

    frames = [
        data.draw(st.binary(min_size=w * h, max_size=w * h))
        for _ in range(n)
    ]
    ow, oh, out = decode_y4m(encode_y4m(w, h, frames))
    assert (ow, oh) == (w, h)
    assert out == frames


@given(junk=st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_wav_decoder_never_misparses_junk(junk):
    """Arbitrary bytes either fail loudly (ValueError) or are a real
    RIFF/WAVE container — the decoder never returns garbage silently."""
    import pytest as _pytest

    from spark_data_test_spark import decode_wav

    if junk[:4] == b"RIFF" and junk[8:12] == b"WAVE":
        try:
            decode_wav(junk)
        except ValueError:
            pass
    else:
        with _pytest.raises(ValueError):
            decode_wav(junk)


# --- degenerate inputs to the temporal and text exports -------------------

_T0 = _dt.datetime(2024, 1, 1, 9, 0)
_EVENTS = (
    "user_id string, event_type string, ts timestamp, event_id long, value long",
    [("u", "signup", _T0, 1, 5), ("u", "purchase", _T0 + _dt.timedelta(hours=2), 2, 7)],
)
_SERIES = ("k string, b long, n long", [("a", 1, 1), ("a", 3, 2)])
_DOCS = (
    "doc_id long, text string",
    [(1, "the cat and the dog of the house"), (2, "der hund und die katze")],
)


def _degenerate_exports():
    import pyspark.sql.functions as F

    import spark_data_test_spark as s

    return {
        "gap_fill": (_SERIES, lambda d: s.gap_fill(d, ["k"], "b", ["n"])),
        "retention_cohorts": (_SERIES, lambda d: s.retention_cohorts(d, "k", "b")),
        "transition_matrix": (_EVENTS, s.transition_matrix),
        "funnel": (_EVENTS, lambda d: s.funnel(d, ["signup", "click", "purchase"])),
        "anomaly_zscore": (_SERIES, lambda d: s.anomaly_zscore(d, "k", "b", "n")),
        "cumulative_distinct": (_SERIES, lambda d: s.cumulative_distinct(d, "k", "b")),
        "hypertable_rollup": (
            _EVENTS,
            lambda d: s.hypertable_rollup(
                d, "ts", [F.count(F.lit(1)).alias("n")], {"day": 86400, "hour": 3600},
                keys=["user_id"],
            ),
        ),
        "last_touch_attribution": (
            _EVENTS,
            lambda d: s.last_touch_attribution(
                d, "user_id", "ts", "event_type", "event_id", "purchase", "value"
            ),
        ),
        "cohort_ltv": (_SERIES, lambda d: s.cohort_ltv(d, "k", "b", "n")),
        "seasonal_backtest": (_SERIES, lambda d: s.seasonal_backtest(d, "k", "b", "n", 7)),
        "language_id": (_DOCS, s.language_id),
        "quality_score": (_DOCS, s.quality_score),
        "token_counts": (_DOCS, s.token_counts),
        "fingerprint": (_DOCS, s.fingerprint),
        "decontaminate": (_DOCS, lambda d: s.decontaminate(d, d)),
        "tfidf_topk": (_DOCS, s.tfidf_topk),
        "pii_scrub": (_DOCS, s.pii_scrub),
        "repetition_profile": (_DOCS, s.repetition_profile),
        "ngram_novelty": (_DOCS, s.ngram_novelty),
        "rfm_segments": (
            _EVENTS,
            lambda d: s.rfm_segments(d, "2024-02-01 00:00:00", "user_id", "ts", "value"),
        ),
        "pareto_classes": (_SERIES, lambda d: s.pareto_classes(d, "k", "n")),
        "ab_readout": (
            _SERIES,
            lambda d: s.ab_readout(d.withColumn("arm", F.col("b") > 1), "arm", "n", "k"),
        ),
        "value_histogram": (_SERIES, lambda d: s.value_histogram(d, "n", 2, 5, keys="k")),
        "duplicate_scan": (_SERIES, lambda d: s.duplicate_scan(d, "k", "b", "n", "b", 7)),
        "token_budget": (_SERIES, lambda d: s.token_budget(d, "k", "b", "n", 2)),
        "merge_agg_state": (
            _SERIES,
            lambda d: s.merge_agg_state(d, d, "k", {"n": "sum", "b": "max"}),
        ),
        "latest_wins": (
            _SERIES,
            lambda d: s.latest_wins(d, d.withColumn("n", F.col("n") + 1), "k", "b"),
        ),
        "dq_check": (
            _SERIES,
            lambda d: s.dq_check(
                d,
                [
                    {"name": "nn", "type": "not_null", "cols": ["b"]},
                    {"name": "pos", "type": "expr", "expr": "n > 0"},
                    {"name": "uq", "type": "unique", "cols": ["k", "b"]},
                    {"name": "fk", "type": "fk", "cols": ["k"], "ref": d},
                ],
            ),
        ),
        "profile": (_SERIES, s.profile),
        "logit_fit": (
            _SERIES,
            lambda d: s.logit_fit(d.withColumn("y", F.col("n") % 2), ["b"], "y"),
        ),
        "blocked_fuzzy_pairs": (_DOCS, lambda d: s.blocked_fuzzy_pairs(d, "text", "doc_id", 2)),
    }


def _degenerate_inputs(schema, rows):
    """Empty, all-NULL keys (the first column), and NULL/empty values:
    one row with every non-key column NULL, one with its strings empty."""
    types = [f.split()[1] for f in schema.split(",")]
    blank = tuple(
        "" if i and types[i] == "string" else v for i, v in enumerate(rows[1])
    )
    return {
        "empty": [],
        "null_keys": [(None, *r[1:]) for r in rows],
        "null_text": [(rows[0][0], *[None] * (len(rows[0]) - 1)), blank],
    }


@pytest.mark.parametrize("name", sorted(_degenerate_exports()))
def test_exports_survive_degenerate_inputs(spark, name):
    """Every export behind a registered query of DESIGN.md "Registered
    queries over exports" runs an empty frame, all-NULL keys and
    NULL/empty values without raising; an empty input gives no rows,
    except `funnel` (one zero row per step), `profile` and `dq_check`
    (one zero row per column or rule) and `logit_fit` (its documented
    ValueError: nothing to train on); a NULL key is a key like any
    other (`gap_fill` fills between its observed buckets), a NULL
    value counts in the NULL bucket, not the clamped tail
    (`value_histogram`), and a NULL text scores NULL (`language_id`,
    `quality_score`)."""
    (schema, rows), run = _degenerate_exports()[name]
    got = {}
    for kind, data in _degenerate_inputs(schema, rows).items():
        frame = spark.createDataFrame(data, schema)
        if name == "logit_fit" and kind == "empty":
            with pytest.raises(ValueError, match="no non-NULL training rows"):
                run(frame)
            continue
        got[kind] = run(frame).collect()
    empty = sorted(tuple(r) for r in got.get("empty", []))
    if name == "funnel":
        assert [(r.step_idx, r.n_converted) for r in got["empty"]] == [
            (1, 0), (2, 0), (3, 0)
        ]
    elif name == "profile":
        assert empty == [("b", 0, 0), ("k", 0, 0), ("n", 0, 0)]
    elif name == "dq_check":
        assert empty == [("fk", 0, 1), ("nn", 0, 1), ("pos", 0, 1), ("uq", 0, 1)]
    else:
        assert empty == []
    if name == "gap_fill":
        assert {tuple(r) for r in got["null_keys"]} == {
            (None, 1, 1, 0), (None, 2, 0, 1), (None, 3, 2, 0)
        }
    if name == "value_histogram":
        assert ("a", None, 1) in {tuple(r) for r in got["null_text"]}
    if name in ("language_id", "quality_score"):
        col = "pred_lang" if name == "language_id" else "quality"
        scored = {r.text: r[col] for r in got["null_text"]}
        assert scored[None] is None
        assert scored[""] is not None
