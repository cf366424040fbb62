"""The two workloads: inputs, one pass of calls, and checks.

Each workload drives the engine only through its package-root exports,
one call at a time (a closed loop with one client). ``Pass`` times each
call and, when a tracer is attached, records the call's Spark counters
under its ``<layer>.<function>`` name. Every pass's outputs are checked
against the oracles in ``datagen``; a wrong answer is a failed call.
"""

import contextlib
import functools
import os
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np
import pyspark.sql.functions as F

import datagen
from metrics import DEDUP_CALLS, INDEX_FAMILIES, INDEX_OPS

# Layer of each package export this benchmark calls (its module name).
LAYER = {
    "run_comparison_job": "jobs",
    "write_results": "jobs",
    "compare_dataframes": "comparison",
    "compare_dataframes_where": "comparison",
    "heavy_hitters": "sketches",
    **{fn: "dedup" for fn in DEDUP_CALLS},
    **{
        f"{fam}_index_{op}": "similarity"
        for fam in INDEX_FAMILIES
        for op in INDEX_OPS + ("stats",)
    },
}


class CheckFailed(Exception):
    """An output disagreed with the oracle."""


def check(cond, msg):
    if not cond:
        raise CheckFailed(msg)


def du_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def version_dirs(path):
    """Committed ``v<n>`` directories of every state table under path."""
    out = set()
    for d, subdirs, _ in os.walk(path):
        for s in subdirs:
            if s[:1] == "v" and s[1:].isdigit() and os.path.exists(
                os.path.join(d, s, "_SUCCESS")
            ):
                out.add(os.path.join(d, s))
    return out


def pass_sums(passes, keep, field="lat"):
    """Per pass: the sum over the calls whose name ``keep`` accepts of
    their latency (``field="lat"``) or CPU time (``"cpu"``)."""
    return [sum(x for k, v in getattr(p, field).items() if keep(k) for x in v)
            for p in passes]


def _share(found):
    """Sum of hits over sum of totals, from ``(hits, total)`` pairs."""
    total = sum(t for _, t in found)
    return sum(h for h, _ in found) / total if total else 0.0


class Pass:
    """One pass of a workload's call script: per-call latencies, the
    traced counters, and a count of calls attempted and failed."""

    def __init__(self, tracer=None, cpu=None):
        self.tracer = tracer
        self.cpu_of = cpu  # () -> CPU seconds used so far, or None
        self.lat = defaultdict(list)  # name -> [seconds]
        self.cpu = defaultdict(list)  # name -> [CPU seconds]
        self.trace = defaultdict(list)  # name -> [counters]
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.extra = {}
        self.tracer_s = 0.0  # time spent reading Spark's status stores

    def call(self, fn_name, fn, *args, **kwargs):
        name = f"{LAYER[fn_name]}.{fn_name}"
        self.attempted += 1
        if self.cpu_of is not None:
            c0 = self.cpu_of()
            try:
                return self._call(name, fn, *args, **kwargs)
            finally:
                self.cpu[name].append(self.cpu_of() - c0)
        return self._call(name, fn, *args, **kwargs)

    def _call(self, name, fn, *args, **kwargs):
        if self.tracer is not None:
            result, counters = self.tracer.call(fn, *args, **kwargs)
            self.tracer_s += counters["trace_s"]
            self.trace[name].append(counters)
            self.lat[name].append(counters["wall_s"])
            return result
        t0 = time.perf_counter()
        result = fn(*args, **kwargs)
        self.lat[name].append(time.perf_counter() - t0)
        return result

    def verify(self, what, fn, *args):
        """Run one oracle check; a mismatch fails one call."""
        try:
            fn(*args)
        except CheckFailed as e:
            self.failed += 1
            self.errors.append(f"{what}: {e}")


@contextlib.contextmanager
def traced_inner_calls(p, module, names):
    """While a traced pass runs, route ``module``'s own references to
    the named package functions through ``p.call``, so that the layers
    beneath a public entry point get their own counters. The engine's
    code is untouched; only the module attribute is swapped and then
    restored."""
    if p.tracer is None:
        yield
        return
    saved = {n: getattr(module, n) for n in names}
    for n, fn in saved.items():
        setattr(module, n, functools.partial(p.call, n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


# ---------------------------------------------------------------------------
# compare
# ---------------------------------------------------------------------------


class Compare:
    """A config-driven comparison job, then one-day slice comparisons."""

    name = "compare"
    N_ROWS = 20_000
    N_DAYS = 20
    SLICES = 2  # one-day slices per pass, spread over the days

    def __init__(self, seed):
        self.seed = seed
        self.found = []

    def expected(self):
        self.exp = datagen.compare_expected(self.seed, self.N_ROWS, self.N_DAYS)
        days = list(self.exp["slices"])
        self.days = days[:: self.N_DAYS // self.SLICES][: self.SLICES]

    def stage(self, root):
        self.inputs = os.path.join(root, "inputs")
        self.out = os.path.join(root, "out")
        datagen.write_compare_inputs(self.seed, self.N_ROWS, self.inputs, self.N_DAYS)
        return self.inputs

    def _config(self):
        from spark_data_test_spark import (
            ComparisonJobConfig, DataframeConfig, DatasetConfig,
            DatasetParams, OutputConfig, TestParams,
        )

        params = DatasetParams(
            dataset_name="orders",
            primary_keys=["rid"],
            test_params=TestParams(difference_tolerance=datagen.COMPARE_TOLERANCE),
        )
        return ComparisonJobConfig(
            job_name="cmp",
            dataset_configs=[
                DatasetConfig(
                    params,
                    DataframeConfig(os.path.join(self.inputs, "source")),
                    DataframeConfig(os.path.join(self.inputs, "target")),
                )
            ],
            output_config=OutputConfig(output_dir=self.out),
        )

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, spark, p):
        import spark_data_test_spark as sdt

        cfg = self._config()
        with traced_inner_calls(p, sdt.jobs, ("compare_dataframes", "write_results")):
            result = p.call("run_comparison_job", sdt.run_comparison_job, spark, cfg)
        sdt.release_comparison_result(result)
        p.verify("job reports", self.check_job, spark, self.out)
        params = cfg.dataset_configs[0].params
        src = spark.read.parquet(os.path.join(self.inputs, "source"))
        tgt = spark.read.parquet(os.path.join(self.inputs, "target"))
        for day in self.days:
            got = p.call(
                "compare_dataframes_where", self._slice, spark, src, tgt, params, day
            )
            p.verify(f"slice {day}", self.check_reports, got, self.exp["slices"][day])

    def rows_per_pass(self):
        """The job reads both tables; the slices together read their
        days' rows."""
        e = self.exp
        sliced = sum(
            e["slices"][d]["overall"]["count"]["source"]
            + e["slices"][d]["overall"]["count"]["target"]
            for d in self.days
        )
        return e["source_rows"] + e["target_rows"] + sliced

    @staticmethod
    def _slice(spark, src, tgt, params, day):
        """One slice comparison with its reports materialized."""
        from spark_data_test_spark import (
            compare_dataframes_where, release_comparison_result,
        )

        res = compare_dataframes_where(spark, src, tgt, params, F.col("day") == day)
        try:
            return Compare._collect(res)
        finally:
            release_comparison_result(res)

    @staticmethod
    def _collect(res):
        overall = [r.asDict(recursive=True) for r in res["overall_test_report"].collect()]
        cols = {
            r["column_name"]: r["unmatched_rows_count"]
            for r in res["col_lvl_test_report"].collect()
        }
        rows = (
            res["row_lvl_test_report"]
            .groupBy("missing_row_status", "all_rows_matched")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("duplicate_count").alias("d"))
            .collect()
        )
        dumps = sorted(k.rsplit("/", 1)[1] for k in res["unmatched_records"])
        return {
            "overall": overall,
            "columns": cols,
            "rows": {(r[0], r[1]): r["n"] for r in rows},
            "row_dup_sum": sum(r["d"] or 0 for r in rows),
            "dumps": dumps,
        }

    @staticmethod
    def check_reports(got, want):
        check(len(got["overall"]) == 1, f"overall rows {len(got['overall'])}")
        o = dict(got["overall"][0])
        o.pop("dataset_name", None)
        check(o == want["overall"], f"overall {o} != {want['overall']}")
        check(got["columns"] == want["columns"],
              f"columns {got['columns']} != {want['columns']}")
        rows_want = {k: v for k, v in want["rows"].items() if v}
        check(got["rows"] == rows_want, f"rows {got['rows']} != {rows_want}")
        check(got["row_dup_sum"] == want["row_dup_sum"],
              f"row dup sum {got['row_dup_sum']} != {want['row_dup_sum']}")
        bad = sorted(c for c, n in want["columns"].items() if n)
        check(got["dumps"] == bad, f"unmatched dumps {got['dumps']} != {bad}")

    def check_job(self, spark, out):
        """Read the four written reports back and compare them."""
        base = os.path.join(out, "cmp")
        read = spark.read.parquet
        want = self.exp["total"]
        res = {
            "overall_test_report": read(f"{base}/overall_test_report"),
            "col_lvl_test_report": read(f"{base}/col_lvl_test_report"),
            "row_lvl_test_report": read(f"{base}/row_lvl_test_report"),
            "unmatched_records": {
                f"orders/{c}": None for c, n in want["columns"].items() if n
            },
        }
        got = self._collect(res)
        o = got["overall"][0] if got["overall"] else {}
        planted = {
            "missing": (o.get("missing_rows"), want["overall"]["missing_rows"]),
            "duplicates": (o.get("duplicate_count"), want["overall"]["duplicate_count"]),
            "columns": (got["columns"], want["columns"]),
        }
        flagged = total = 0
        for have, should in planted.values():
            for k, n in should.items():
                flagged += min(n, (have or {}).get(k) or 0)
                total += n
        self.found.append((flagged, total))
        self.check_reports(got, want)
        for c, n in want["columns"].items():
            if n:
                rows = read(f"{base}/unmatched_rows/orders/{c}").count()
                check(rows == n, f"unmatched dump {c}: {rows} rows != {n}")

    def recall(self):
        """Share of the planted differences (missing and duplicate keys,
        mismatched cells) that the job's written reports count."""
        return _share(self.found)

    @staticmethod
    def bulk(name):
        return name == "jobs.run_comparison_job"

    @staticmethod
    def small(name):
        return name == "comparison.compare_dataframes_where"

    @staticmethod
    def named(passes):
        return {
            "compare_job_s": [x for p in passes for x in p.lat["jobs.run_comparison_job"]],
            "slice_p50_s": [x for p in passes
                            for x in p.lat["comparison.compare_dataframes_where"]],
        }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate:
    """Corpus-wide dedup and sketch calls, then the lifecycle of a vector
    index (``Ann``) over an embedding corpus."""

    name = "curate"
    N_DOCS = 800

    def __init__(self, seed):
        self.seed = seed
        self.found = []
        self.ann = Ann(seed)

    def expected(self):
        self.exp = datagen.curate_expected(self.seed, self.N_DOCS)
        self.ann.expected()

    def stage(self, root):
        self.inputs = os.path.join(root, "inputs")
        self.out = os.path.join(root, "out")
        datagen.write_curate_inputs(self.seed, self.N_DOCS, self.inputs)
        self.ann.stage(root)
        return self.inputs

    @staticmethod
    def _tokens(docs):
        return docs.select(F.explode(F.split("text", " ")).alias("g")).where(
            F.col("g") != "")

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def rows_per_pass(self):
        """Three corpus-wide calls, then the vector index's inputs."""
        return 3 * len(self.exp["text"]) + self.ann.rows_per_pass()

    def run_pass(self, spark, p):
        import spark_data_test_spark as sdt

        corpus = spark.read.parquet(os.path.join(self.inputs, "docs"))
        calls = (
            ("exact_dup_groups", self.check_exact),
            ("near_dup_pairs", self.check_near),
        )
        for fn_name, checker in calls:
            fn = getattr(sdt, fn_name)
            rows = p.call(fn_name, lambda: fn(corpus).collect())
            p.verify(fn_name, checker, rows)
        tokens = self._tokens(corpus)
        rows = p.call("heavy_hitters", lambda: sdt.heavy_hitters(tokens, "g").collect())
        p.verify("heavy_hitters", self.check_hitters, rows)

        self.ann.run_pass(spark, p)

    # -- oracles ------------------------------------------------------------

    def check_exact(self, rows):
        text = self.exp["text"]
        check(len(rows) == len(text), f"{len(rows)} rows for {len(text)} docs")
        survivor = {}
        for d, t in sorted(text.items()):
            survivor.setdefault(t, d)
        by_gid = defaultdict(set)
        for r in rows:
            by_gid[r["gid"]].add(text[r["doc_id"]])
            check(r["is_survivor"] == (survivor[text[r["doc_id"]]] == r["doc_id"]),
                  f"survivor flag of {r['doc_id']}")
        check(all(len(ts) == 1 for ts in by_gid.values()), "a group mixes texts")
        check(len(by_gid) == len(survivor), f"{len(by_gid)} groups != {len(survivor)}")

    def check_near(self, rows):
        text, ident = self.exp["text"], self.exp["identical_pairs"]
        got = {}
        for r in rows:
            check(r["doc_a"] < r["doc_b"], "pair not ordered")
            got[(r["doc_a"], r["doc_b"])] = r["jaccard_1e6"]
        missing = ident - set(got)
        check(not missing, f"{len(missing)} identical-text pairs missing")
        for (a, b), j in got.items():
            want = 1e6 if text[a] == text[b] else datagen.jaccard_1e6(text[a], text[b])
            check(abs(j - want) <= 1 and want >= 5e5, f"pair {a},{b}: {j} vs {want:.0f}")
        planted = set(self.exp["plant"]["near_pairs"])
        self.found.append((len(planted & set(got)), len(planted)))

    def check_hitters(self, rows):
        got = {r["item"]: r["cnt"] for r in rows}
        check(got == self.exp["hitters"], f"hitters {sorted(got)[:5]}...")
        check(all(r["n_total"] == self.exp["n_tokens"] for r in rows), "n_total")

    def recall(self):
        """Mean of two shares: the planted near-duplicate pairs that
        `near_dup_pairs` returns, and the vector index's recall@10."""
        return statistics.fmean([_share(self.found), self.ann.recall()])

    def bulk(self, name):
        """The corpus-wide calls and the vector index's build."""
        return name.startswith(("dedup.", "sketches.")) or self.ann.bulk(name)

    def small(self, name):
        return self.ann.small(name)

    def named(self, passes):
        return {
            "corpus_s": pass_sums(passes, lambda k: k.startswith(("dedup.", "sketches."))),
            **self.ann.named(passes),
        }


# ---------------------------------------------------------------------------
# the vector index of curate
# ---------------------------------------------------------------------------


class Ann:
    """The vector-index part of ``curate``. Per index family: build,
    ingest a batch, delete a sample (build and batch ids), probe, and
    read the stats."""

    N_VECTORS = 600
    N_QUERIES = 20
    BUILD_SHARE = 0.8
    FAMILIES = INDEX_FAMILIES
    BUILD_KW = {"ivf": {"ncells": 8, "rounds": 1}}
    MIN_RECALL = 0.1  # sanity floor; random answers score about 10/n

    def __init__(self, seed):
        self.seed = seed
        self.recalls = []

    def expected(self):
        ids, vecs, qids, queries = datagen.ann_vectors(self.seed, self.N_VECTORS, self.N_QUERIES)
        n_build = int(len(ids) * self.BUILD_SHARE)
        rng = np.random.default_rng([self.seed, 7])
        ingest = np.arange(n_build, len(ids))
        gone = rng.choice(len(ids), size=len(ingest) // 2, replace=False)
        self.exp = {
            "ids": ids, "vecs": vecs, "qids": qids, "queries": queries,
            "n_build": n_build, "ingest": ingest, "gone": gone,
        }

    def stage(self, root):
        self.out = os.path.join(root, "out")
        self.inputs = os.path.join(root, "inputs")
        e = self.exp
        self._write("build", e["ids"][: e["n_build"]], e["vecs"][: e["n_build"]])
        self._write("ingest", e["ids"][e["ingest"]], e["vecs"][e["ingest"]])
        self._write("queries", e["qids"], e["queries"])
        return self.inputs

    def _write(self, name, ids, vecs):
        import pyarrow as pa

        table = pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "emb": pa.array(list(vecs), pa.list_(pa.float64())),
        })
        datagen.write_parquet_parts(table, os.path.join(self.inputs, name), 2, 1 << 20)

    def rows_per_pass(self):
        """Per family: the corpus, the queries and the deleted ids."""
        e = self.exp
        return len(self.FAMILIES) * (len(e["ids"]) + len(e["qids"]) + len(e["gone"]))

    def run_pass(self, spark, p):
        import spark_data_test_spark as sdt

        e = self.exp
        read = spark.read.parquet
        corpus = read(os.path.join(self.inputs, "build"))
        batch = read(os.path.join(self.inputs, "ingest"))
        queries = read(os.path.join(self.inputs, "queries"))
        gone_ids = [int(x) for x in e["ids"][e["gone"]]]
        after = sorted(set(range(len(e["ids"]))) - set(e["gone"].tolist()))
        state = p.extra.setdefault("state", {"commits": 0, "bytes": 0, "versions": []})
        for fam in self.FAMILIES:
            idx = os.path.join(self.out, fam)
            seen = set()

            def api(op):
                return f"{fam}_index_{op}", getattr(sdt, f"{fam}_index_{op}")

            def committed():
                fresh = version_dirs(idx) - seen
                state["commits"] += len(fresh)
                state["bytes"] += sum(du_bytes(v) for v in fresh)
                seen.update(fresh)

            n = p.call(*api("build"), corpus, idx, **self.BUILD_KW[fam])
            committed()
            p.verify(f"{fam} build", lambda: check(
                n == e["n_build"], f"{fam} build indexed {n} of {e['n_build']}"))
            p.call(*api("ingest"), batch, idx)
            committed()
            p.call(*api("delete"), spark, idx, gone_ids)
            committed()
            state["versions"].append(len(version_dirs(idx)))
            name, fn = api("probe")
            rows = p.call(name, lambda: fn(queries, idx).collect())
            p.verify(f"{fam} probe", self.check_probe, rows, after)
            name, fn = api("stats")
            stats = p.call(name, lambda: fn(spark, idx).collect())
            p.verify(f"{fam} stats", lambda: check(
                stats[0]["n_live"] == len(after),
                f"{fam} n_live {stats[0]['n_live']} != {len(after)}"))

    def check_probe(self, rows, live):
        """Every neighbor is live (never deleted), every query gets ten,
        and recall@10 against exact cosine kNN clears a sanity floor."""
        e = self.exp
        live_ids = e["ids"][live]
        truth = datagen.exact_topk(live_ids, e["vecs"][live], e["queries"])
        allowed = set(live_ids.tolist())
        got = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            check(r["neighbor_id"] in allowed,
                  f"neighbor {r['neighbor_id']} is deleted or never indexed")
            got[r["query_id"]].append(r["neighbor_id"])
        for q in e["qids"]:
            check(len(got[int(q)]) == 10, f"query {q}: {len(got[int(q)])} neighbors")
        rec = datagen.recall_at_k(truth, [got[int(q)] for q in e["qids"]])
        self.recalls.append(rec)
        check(rec >= self.MIN_RECALL, f"recall@10 {rec:.3f} below {self.MIN_RECALL}")

    def recall(self):
        """Mean recall@10 of every probe batch against exact kNN."""
        return statistics.fmean(self.recalls) if self.recalls else 0.0

    @staticmethod
    def bulk(name):
        return name.startswith("similarity.") and name.endswith("_index_build")

    @staticmethod
    def small(name):
        return name.startswith("similarity.") and name.endswith(
            ("_index_ingest", "_index_delete", "_index_probe", "_index_stats"))

    @staticmethod
    def named(passes):
        def lat(*ops):
            return [x for p in passes for k, v in p.lat.items()
                    if k.startswith("similarity.") and k.endswith(ops) for x in v]

        return {
            "build_s": lat("_index_build"),
            "ingest_p50_s": lat("_index_ingest", "_index_delete"),
            "probe_p50_s": lat("_index_probe"),
        }


WORKLOADS = {w.name: w for w in (Compare, Curate)}
