"""Benchmark entry point.

    python3 perfbench/run.py --workload compare --seed 1 --seconds 5 --trace 0

Run it from the root of a source checkout: the engine is imported from
there (``spark_data_test_spark/``) and every file a run writes goes under
``.perfbench_work/`` there, which each run wipes first. One process, one
client, a closed loop: the next call starts only when the last returns.

Set-up (``setup_s``) is the Spark session start (``local[nproc]``, fixed
shuffle partitions, console progress off), seeded input generation and
staging, and one read of each staged table. There is no per-call
warmup: like a batch job, each run is a fresh process, so the timed
passes include JIT, code generation and Python-worker start-up. Timed
passes of the workload's call script repeat until ``--seconds`` have
passed (at least one pass). Each pass's outputs are checked against engine-independent
oracles; a wrong answer counts as a failed call.

``--trace 0`` prints the end-to-end metrics: set-up wall time, and the
CPU seconds of the JVM, its Python workers and this process over the
pass and over its bulk calls. ``--trace 1`` runs every
call under its own Spark job group and prints the per-layer metrics read
from Spark's status stores (``sparktrace``), the traced pass time
``trace.run_s`` (compare it with the ``run_s`` an untraced run prints
for the tracing overhead) and ``trace.overhead_s``, the time spent reading the
stores inside the pass.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines above it
name the environment, the fail rate, the pass's wall times, the medians
named after each workload's calls and every call's median latency.
"""

import argparse
import contextlib
import functools
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import (  # noqa: E402
    CALL_COUNTERS, END_TO_END, PER_LAYER, PYWORKER_COUNTERS,
)
from sparktrace import SparkTracer  # noqa: E402
from workloads import WORKLOADS, Pass, du_bytes, pass_sums  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 4


def _stat_fields(pid):
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root_pid):
    """root_pid and every process below it."""
    children = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(entry)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(jvm_pid):
    """CPU seconds (user + system) used so far by this process, the JVM
    and the JVM's children (the Python workers)."""
    ticks = 0
    for pid in process_tree(jvm_pid):
        try:  # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in _stat_fields(pid)[11:15])
        except (OSError, IndexError, ValueError):
            pass
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


class RssSampler:
    """Peak resident set of the JVM and its child processes (the Python
    workers), sampled from /proc every 50 ms while running."""

    def __init__(self, jvm_pid):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    @staticmethod
    def _rss_kb(pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.05)

    def sample(self):
        kb = sum(self._rss_kb(p) for p in process_tree(self.jvm_pid))
        self.peak_kb = max(self.peak_kb, kb)

    def __enter__(self):
        self.peak_kb = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def start_session(local, warehouse):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{NPROC}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.driver.memory", "2g")
        # -XX:-UsePerfData: no hsperfdata files in the system temp dir.
        # -XX:TieredStopAtLevel=1: a run is one fresh JVM that lives under
        # a minute; C2 compiler threads burned half of a pass's CPU time,
        # by an amount that followed the host's scheduling.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        )
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark):
    """Stop Spark, then close the JVM's stdin (the gateway exits on EOF)
    and wait for it to end."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def environment(spark):
    return {
        "nproc": NPROC,
        "mem_total_gb": round(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1
        ),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(traced):
    """Per-layer metrics: medians over the traced calls of each public
    function, Spark-wide totals per pass, and the tracing overhead.
    Every name in ``metrics.PER_LAYER`` is reported; a call the
    workload never makes reads 0."""
    m = {name: {"value": 0.0, "unit": unit} for name, unit in PER_LAYER}
    calls = {}
    for p in traced:
        for name, cs in p.trace.items():
            calls.setdefault(name, []).extend(cs)

    def put(key, cs, counter):
        if key in m and cs:
            m[key]["value"] = median([x[counter] for x in cs])

    for name, cs in calls.items():
        for c in CALL_COUNTERS + ("input_mb",) + PYWORKER_COUNTERS:
            put(f"{name}.{c}", cs, c)
    m["spark.gc_s"]["value"] = median(
        [sum(x["gc_s"] for cs in p.trace.values() for x in cs) for p in traced])
    state = [p.extra["state"] for p in traced if "state" in p.extra]
    commits = sum(s["commits"] for s in state)
    if commits:
        m["state.commits"]["value"] = commits / len(state)
        m["state.bytes_per_commit"]["value"] = sum(s["bytes"] for s in state) / commits
    versions = [v for s in state for v in s["versions"]]
    if versions:
        m["state.versions_read_per_probe"]["value"] = statistics.fmean(versions)
    m["spark.peak_rss_mb"]["value"] = median([p.peak_rss_mb for p in traced])
    m["trace.run_s"]["value"] = median([p.run_s for p in traced])
    m["trace.overhead_s"]["value"] = median([p.tracer_s for p in traced])
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import spark_data_test_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    # Python workers import the engine too (its mapInPandas sites)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # the launcher JVM of spark-submit: no hsperfdata files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    wl = WORKLOADS[args.workload](args.seed)
    wl.expected()
    spark = None
    passes = []
    try:
        t0 = time.perf_counter()
        spark = start_session(local, os.path.join(work, "warehouse"))
        inputs = wl.stage(os.path.join(work, "run"))
        for name in sorted(os.listdir(inputs)):  # staging check: read each table back
            spark.read.parquet(os.path.join(inputs, name)).count()
        setup_s = time.perf_counter() - t0
        input_bytes = du_bytes(inputs)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = SparkTracer(spark) if args.trace else None
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            wl.reset()
            p = Pass(tracer, functools.partial(tree_cpu_s, jvm_pid))
            # the sampler's own /proc reads would count in the pass's CPU
            # time, so it runs only when tracing
            with RssSampler(jvm_pid) if tracer else contextlib.nullcontext() as rss:
                c0, t0 = tree_cpu_s(jvm_pid), time.perf_counter()
                try:
                    wl.run_pass(spark, p)
                except Exception:  # a call that raised is a failed call
                    p.failed += 1
                    p.errors.append(traceback.format_exc(limit=4))
                p.run_s = time.perf_counter() - t0
                p.cpu_s = tree_cpu_s(jvm_pid) - c0
            p.peak_rss_mb = rss.peak_kb / 1024.0 if rss else 0.0
            p.bytes_out = du_bytes(wl.out)
            passes.append(p)
        env = environment(spark)
    finally:
        if spark is not None:
            stop_session(spark)

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    for p in passes:
        for err in p.errors:
            print(f"perfbench: FAILED {err}", file=sys.stderr)
    e2e = {
        "setup_s": setup_s,
        "cpu_s": median([p.cpu_s for p in passes]),
        "bulk_cpu_s": median(pass_sums(passes, wl.bulk, "cpu")),
        "recall": wl.recall(),
        "bytes_written_per_input_byte": median([p.bytes_out for p in passes]) / input_bytes,
    }
    run_s = median([p.run_s for p in passes])
    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace}"
          f" passes={len(passes)} env={json.dumps(env)}")
    print(f"perfbench: fail_rate={failed / max(1, attempted):.4f} ({failed}/{attempted})")
    print(f"perfbench: wall run_s={run_s:.4f} rows_per_s={wl.rows_per_pass() / run_s:.1f}"
          f" bulk_s={median(pass_sums(passes, wl.bulk)):.4f}"
          f" small_s={median(pass_sums(passes, wl.small)):.4f}"
          f" small_cpu_s={median(pass_sums(passes, wl.small, 'cpu')):.2f}")
    for name, xs in wl.named(passes).items():
        if xs:
            print(f"perfbench: {name} median={median(xs):.4f} s n={len(xs)}")
    calls, cpus = {}, {}
    for p in passes:
        for name, xs in p.lat.items():
            calls.setdefault(name, []).extend(xs)
            cpus.setdefault(name, []).extend(p.cpu[name])
    for name, xs in sorted(calls.items()):
        print(f"perfbench: call {name} n={len(xs)} median={median(xs):.3f} s"
              f" cpu={median(cpus[name]):.2f} s")
    if args.trace:
        metrics = per_layer(passes)
    else:
        units = {name: unit for name, unit, _ in END_TO_END}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
