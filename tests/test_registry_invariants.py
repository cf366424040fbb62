"""Registry / driver-contract invariants (VERDICT r3 items 1 and 8).

Locks in the rotation discipline: every registered query must either
already own a green driver CORRECTNESS row, sit in the current first-50
driver window, or be explicitly queued in _NEXT_ROTATION — so no query
can silently fall out of driver verification. Also enforces that every
query has a DuckDB oracle (zero rows-only checks) and that the queue
only shrinks (nothing already green may occupy a queue slot).
"""

import glob
import json
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod

_WINDOW_SIZE = 50  # the driver checks the first 50 registered queries


def _registry_names():
    queries, oracles = entry_mod._registry()
    return list(queries.keys()), set(oracles.keys())


def _driver_green():
    """Queries whose LATEST driver check is a full hash-match.

    Files are ordered by ROUND NUMBER, not lexicographically — from
    round 10 on, "r10" sorts before "r2" as a string, which would let
    a stale green row mask a later failed re-check."""
    import re

    def round_no(path):
        return int(re.search(r"_r(\d+)\.json$", path).group(1))

    verdicts = {}
    for path in sorted(
        glob.glob("/root/repo/CORRECTNESS_r*.json"), key=round_no
    ):
        with open(path) as fh:
            for name, row in json.load(fh).items():
                verdicts[name] = bool(row.get("hash_match"))
    return {name for name, ok in verdicts.items() if ok}


def test_every_query_has_an_oracle():
    names, oracles = _registry_names()
    missing = [n for n in names if n not in oracles]
    assert not missing, f"queries without a DuckDB oracle: {missing}"


def test_window_is_exactly_the_first_50():
    names, _ = _registry_names()
    assert names[:_WINDOW_SIZE] == entry_mod._DRIVER_WINDOW
    assert len(entry_mod._DRIVER_WINDOW) == _WINDOW_SIZE
    assert len(set(entry_mod._DRIVER_WINDOW)) == _WINDOW_SIZE


def test_rotation_covers_the_registry():
    """greens ∪ window ∪ queue must cover every registered query."""
    names, _ = _registry_names()
    covered = (
        _driver_green()
        | set(entry_mod._DRIVER_WINDOW)
        | set(entry_mod._NEXT_ROTATION)
    )
    uncovered = [n for n in names if n not in covered]
    assert not uncovered, (
        "queries outside the driver rotation (not green-checked, not in "
        f"the window, not queued): {uncovered}"
    )


def test_rotation_queue_only_shrinks():
    """A green-checked query must leave the queue — the queue holds
    only work that still needs a driver row."""
    stale = sorted(set(entry_mod._NEXT_ROTATION) & _driver_green())
    assert not stale, f"already driver-green but still queued: {stale}"


def test_priority_lists_are_disjoint_and_registered():
    names, _ = _registry_names()
    window = set(entry_mod._DRIVER_WINDOW)
    queue = set(entry_mod._NEXT_ROTATION)
    backlog = set(entry_mod._CHECKED_BACKLOG)
    assert not window & queue
    assert not window & backlog
    assert not queue & backlog
    all_listed = window | queue | backlog
    unregistered = sorted(all_listed - set(names))
    assert not unregistered, f"priority names not registered: {unregistered}"


def test_bench_names_are_registered():
    """Every name bench.py times or warms resolves to a registered
    query, and no headline line is timed twice."""
    import bench

    names = set(_registry_names()[0])
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    missing = [n for n in (*bench.HEADLINE, *bench.WARMUP) if n not in names]
    assert not missing, f"bench names not in the registry: {missing}"


def _package_module(dotted):
    """The package module (or subpackage) named ``dotted``, or None when
    it is not one."""
    import importlib

    if not dotted.startswith("spark_data_test_spark"):
        return None
    try:
        return importlib.import_module(dotted)
    except ModuleNotFoundError:
        return None


def _resolves(obj, name):
    """``obj.name`` exists, as an attribute or as a submodule."""
    import types

    if hasattr(obj, name):
        return True
    if isinstance(obj, types.ModuleType):
        return _package_module(f"{obj.__name__}.{name}") is not None
    return False


def test_script_package_imports_resolve():
    """Every ``from spark_data_test_spark... import X`` and every
    ``module.attr`` use on a package module in ``scripts/*.py``,
    ``bench.py`` and ``__spark_entry__.py`` names something the package
    defines — scripts are not run by the suite, so a deleted or renamed
    private helper would otherwise only surface when someone runs the
    script. Static (AST), no Spark session."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "scripts", "*.py")))
    files += [os.path.join(root, f) for f in ("bench.py", "__spark_entry__.py")]
    broken = []
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        rel = os.path.relpath(path, root)
        bound = {}  # local name -> package module it is bound to
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                mod = _package_module(node.module or "")
                if mod is None:
                    continue
                for a in node.names:
                    if not _resolves(mod, a.name):
                        broken.append(f"{rel}:{node.lineno} {a.name}")
                    sub = _package_module(f"{node.module}.{a.name}")
                    if sub is not None:
                        bound[a.asname or a.name] = sub
            elif isinstance(node, ast.Import):
                for a in node.names:
                    mod = _package_module(a.name)
                    if mod is None:
                        continue
                    if a.asname:
                        bound[a.asname] = mod
                    else:
                        top = a.name.split(".")[0]
                        bound[top] = _package_module(top)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Attribute):
                continue
            chain, base = [], node
            while isinstance(base, ast.Attribute):
                chain.append(base.attr)
                base = base.value
            if not isinstance(base, ast.Name) or base.id not in bound:
                continue
            obj = bound[base.id]
            for attr in reversed(chain):
                if not _resolves(obj, attr):
                    broken.append(f"{rel}:{node.lineno} {base.id}...{attr}")
                    break
                obj = _package_module(f"{obj.__name__}.{attr}")
                if obj is None:
                    break  # past the module chain: a value's own attributes
    assert not broken, f"unresolved package names: {sorted(set(broken))}"


# registered query -> the export (or shared private stage) it calls,
# or a tuple of them. A query of this table is that call plus renames,
# casts, a filter, an orderBy or a group count; DESIGN.md "Registered
# queries over exports" lists the twins that stay separate and why.
_QUERY_EXPORTS = {
    "temporal": {
        "events_gap_fill": "gap_fill",
        "events_retention_cohorts": "retention_cohorts",
        "events_transition_matrix": "transition_matrix",
        "events_funnel_analysis": "_funnel_times",
        "events_anomaly_daily": "anomaly_zscore",
        "events_cumulative_distinct_users": "cumulative_distinct",
        "events_hypertable_rollup": "hypertable_rollup",
        "events_attribution_last_touch": "last_touch_attribution",
        "events_cohort_ltv": "cohort_ltv",
        "events_seasonal_naive_backtest": "seasonal_backtest",
    },
    "text": {
        "text_language_id": "language_id",
        "text_langid_confusion": "language_id",
        "text_quality_score": "quality_score",
        "text_token_count": "token_counts",
        "text_fingerprint": "fingerprint",
        "corpus_decontaminate": "decontaminate",
        "text_tfidf_topk": "tfidf_topk",
        "text_pii_scrub": "pii_scrub",
        "text_repetition_profile": "repetition_profile",
        "text_ngram_novelty": "ngram_novelty",
    },
    "analytics": {
        "orders_rfm_segments": "rfm_segments",
        "parts_abc_pareto": "_pareto_cumsum",
        "events_ab_test_readout": "_ab_moments",
        "events_value_histogram": "value_histogram",
        "orders_duplicate_payment_scan": "duplicate_scan",
    },
    "sampling": {
        "sample_split_stratified": "split_assign",
        "pack_sequences": "pack_bins",
        "sample_token_budget": "token_budget",
    },
    "relational_ext": {
        "orders_incremental_agg_merge": "merge_agg_state",
        "upsert_latest_wins": "latest_wins",
        "dq_constraint_report": ("_dq_unique", "_dq_fk"),
        "profile_columns": "profile",
        "part_fuzzy_match": "blocked_fuzzy_pairs",
    },
    "ml": {
        "ml_linear_regression_train": "ols_fit",
        "lineitem_correlation_matrix": "corr_matrix",
        "ml_logistic_quality_train": ("_fit_logistic", "_logit_report"),
        "ml_logistic_calibration": "_fit_logistic",
    },
}

# shared stage -> the functions that must call it: a private stage of
# `_QUERY_EXPORTS` stays the one its library export runs too, and
# `blocked_fuzzy_pairs` stays the self-link of `fuzzy_match`.
_SHARED_STAGES = {
    "temporal": {"_funnel_times": ("funnel",)},
    "analytics": {
        "_pareto_cumsum": ("pareto_classes",),
        "_ab_moments": ("ab_readout",),
    },
    "relational_ext": {
        "_dq_unique": ("dq_check",),
        "_dq_fk": ("dq_check",),
        "fuzzy_match": ("blocked_fuzzy_pairs",),
    },
    "ml": {
        "_gd_weights": ("logit_fit", "_fit_logistic"),
        "_logit_report": ("logit_fit",),
    },
}


def _module_calls(module):
    """Function name -> (names it calls, the `join`/`over`/`Window`
    names its body uses) for the top-level functions of
    ``operators/<module>.py``; decorators (the oracle SQL) excluded."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "spark_data_test_spark", "operators", f"{module}.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    out = {}
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        nodes = [n for stmt in fn.body for n in ast.walk(stmt)]
        called = {
            n.func.id
            for n in nodes
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        }
        own = {
            n.attr for n in nodes
            if isinstance(n, ast.Attribute) and n.attr in ("join", "over")
        } | {n.id for n in nodes if isinstance(n, ast.Name) and n.id == "Window"}
        out[fn.name] = (called, own)
    return out


def test_registered_queries_call_their_exports():
    """Each query of `_QUERY_EXPORTS` calls its export (or stages) and
    keeps no window or join of its own, and each stage of
    `_SHARED_STAGES` is called by every function listed for it, so a
    registered query and its library export cannot fork into two
    implementations again. Static (AST), no Spark session."""
    import spark_data_test_spark as pkg

    names = set(_registry_names()[0])
    broken = []
    for module, pairs in _QUERY_EXPORTS.items():
        calls = _module_calls(module)
        for q, exports in pairs.items():
            assert q in names, f"{q} is not registered"
            called, own = calls[q]
            for export in (exports,) if isinstance(exports, str) else exports:
                assert export.startswith("_") or hasattr(pkg, export), export
                if export not in called:
                    broken.append(f"{q} does not call {export}")
            if own:
                broken.append(f"{q} builds its own {sorted(own)}")
    for module, stages in _SHARED_STAGES.items():
        calls = _module_calls(module)
        for stage, callers in stages.items():
            for fn in callers:
                if stage not in calls[fn][0]:
                    broken.append(f"{fn} does not call {stage}")
    assert not broken, broken
