"""Cross-family lifecycle contract of the three persisted ANN indexes.

IVF-Flat, PQ and IVF-PQ share one log-structured lifecycle, so the
edges of that lifecycle must behave identically for every family: the
per-family test files pin each family's answers, this file pins the
error and missing-index edges once for all three.
"""

import pytest

_SCHEMA = "vec_id long, emb array<double>"

# family -> (build kwargs, a pre-stamping log: table, schema, rows)
_FAMILIES = {
    "ivf": (
        dict(ncells=2, rounds=1),
        (
            "postings",
            "vec_id long, cell long, v array<double>, n2 double",
            [(1, 0, [1.0, 0.0], 1.0)],
        ),
    ),
    "pq": (
        dict(m=4, ncodes=3, rounds=1),
        ("codes", "vec_id long, codes array<int>", [(1, [0, 1, 2, 0])]),
    ),
    "ivfpq": (
        dict(ncells=2, m=4, ncodes=3, rounds=1),
        (
            "postings",
            "vec_id long, cell long, codes array<int>",
            [(1, 0, [0, 1, 2, 0])],
        ),
    ),
}


def _api(family, step):
    import spark_data_test_spark

    return getattr(spark_data_test_spark, f"{family}_index_{step}")


def _corpus(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 5 - 2) or 1.0 for j in range(8)])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_delete_on_missing_index_names_the_build(spark, tmp_path, family):
    with pytest.raises(ValueError, match=f"run {family}_index_build first"):
        _api(family, "delete")(spark, str(tmp_path / "nope"), [1])


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_delete_with_empty_ids_on_built_index(spark, tmp_path, family):
    build_kwargs, _ = _FAMILIES[family]
    idx = str(tmp_path / "idx")
    _api(family, "build")(_corpus(spark), idx, **build_kwargs)
    with pytest.raises(ValueError, match="empty id set"):
        _api(family, "delete")(spark, idx, [])


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_delete_on_prestamping_log_asks_for_rebuild(
    spark, tmp_path, family
):
    from spark_data_test_spark.state import write_state_version

    _, (table, schema, rows) = _FAMILIES[family]
    idx = str(tmp_path / "legacy")
    write_state_version(
        spark.createDataFrame(rows, schema), f"{idx}/{table}", retain=1
    )
    with pytest.raises(ValueError, match="predates build stamping"):
        _api(family, "delete")(spark, idx, [1])


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_compact_and_stats_on_missing_index_return_none(
    spark, tmp_path, family
):
    missing = str(tmp_path / "nope")
    assert _api(family, "compact")(spark, missing) is None
    assert _api(family, "stats")(spark, missing) is None
