"""Names and units of the metrics the benchmark reports.

``END_TO_END`` is printed with ``--trace 0`` and ``PER_LAYER`` with
``--trace 1``; ``BENCHMARK.json`` at the checkout root lists the same
names (a test keeps the two in step).
"""

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("bulk_cpu_s", "s", "lower"),
    ("recall", "fraction", "higher"),
    ("bytes_written_per_input_byte", "ratio", "lower"),
]

CALL_COUNTERS = ("wall_s", "driver_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb")
PYWORKER_COUNTERS = ("pyworker_start_s", "pyworker_init_s", "pyworker_run_s")
INDEX_FAMILIES = ("ivf",)
INDEX_OPS = ("build", "ingest", "probe", "delete")
DEDUP_CALLS = (
    "exact_dup_groups", "near_dup_pairs",
)

_UNIT = {"_s": "s", "_mb": "MB"}


def _unit(counter):
    return next(u for suffix, u in _UNIT.items() if counter.endswith(suffix))


def _per_layer():
    out = []

    def calls(name, counters):
        out.extend((f"{name}.{c}", _unit(c)) for c in counters)

    calls("jobs.run_comparison_job", ("wall_s",))
    calls("comparison.compare_dataframes", CALL_COUNTERS)
    calls("jobs.write_results", CALL_COUNTERS)
    calls("comparison.compare_dataframes_where", CALL_COUNTERS + ("input_mb",))
    for fn in DEDUP_CALLS:
        calls(f"dedup.{fn}", CALL_COUNTERS)
    calls("sketches.heavy_hitters", CALL_COUNTERS + PYWORKER_COUNTERS)
    for fam in INDEX_FAMILIES:
        for op in INDEX_OPS:
            calls(f"similarity.{fam}_index_{op}", CALL_COUNTERS)
    out += [
        ("state.commits", "count"),
        ("state.bytes_per_commit", "bytes"),
        ("state.versions_read_per_probe", "count"),
        ("spark.gc_s", "s"),
        ("spark.peak_rss_mb", "MB"),
        ("trace.run_s", "s"),
        ("trace.overhead_s", "s"),
    ]
    return out


PER_LAYER = _per_layer()
