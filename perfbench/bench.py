"""Layered benchmark for the flatnav_spark BM25 engine.

    python3 perfbench/run.py --workload query --seed 1 --seconds 12 --trace 0

Runs one workload on local[nproc] in this process, checks its answers
against the reference scorer, and prints every metric by name with its
unit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones (BENCHMARK.json "end_to_end"); with --trace 1 they
are the per-layer ones, from spans around every call into the engine and
Spark's own event log (BENCHMARK.json "per_layer").

Workloads (both start from a cold build of a seeded zipf corpus):
  query   one-generation index; repeated 1000-query batches through
          batch_query and StandingQueryService, and a closed loop of one
          client calling query_one, for --seconds.
  ingest  extend_index rounds of fresh-key batches, each followed by the
          query batch; a query_one loop over the multi-generation index;
          optimize_index and one more batch.

Everything the run writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from perfbench import stats
from perfbench.inputs import Sizes, extend_rows, make_inputs
from perfbench.tracing import Attribution, Tracer, parse_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

SCHEMA = "repo string, path string, commit string, lang string, content string"
QSCHEMA = "query_id long, query_text string"
# bench.py's build settings for its zipf corpora
BUILD_ARGS = dict(mode="code", n_groups=2, block_range=1024, chunk_blocks=1)
SETUPS = 3  # set-ups per run; setup_s reports their median
MIN_ROUNDS = 3  # read rounds per query run, whatever --seconds says
Q1_PER_ROUND = 3  # query_one calls per round

WORKLOADS = {
    "query": Sizes(base_docs=3000, n_queries=1000),
    "ingest": Sizes(base_docs=3000, n_queries=1000, extend_rounds=1, extend_docs=1000),
}

# name -> unit; the order is the order printed
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_corpus_byte": "ratio",
    "batch_qps": "queries/s",
}
# printed by name in every untraced run, not gated: each is measured by
# one workload only, and a gated metric must be measured by all
WORKLOAD_ONLY = {
    "service_qps": ("queries/s", "query"),
    "extend_docs_per_s": ("docs/s", "ingest"),
    "optimize_s": ("s", "ingest"),
}
# printed in every untraced run, not gated: across runs of one commit each
# spreads by more than the largest bound (0.25 of the median) allows on a
# shared host -- query_one latency rises ~45% while the hypervisor steals
# CPU, and G1 sizes the heap differently from run to run. host_steal_pct
# is the share of CPU time the hypervisor took during the run.
REPORTED = {"query_one_p50_ms": "ms", "jvm_peak_rss_mb": "MB", "host_steal_pct": "%"}
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "index_io.load_s": "s",
    "index_io.preload_s": "s",
    "index_io.postings_mb": "MB",
    "index_io.docs_mb": "MB",
    "index_io.stats_mb": "MB",
    "index_io.postings_dirs": "count",
    "tokenizer.docs_per_s": "docs/s",
    "build.stage1_s": "s",
    "build.stage2_s": "s",
    "build.driver_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.shuffle_write_mb": "MB",
    "build.spill_mb": "MB",
    "build.gc_s": "s",
    "build.task_skew": "ratio",
    "build.extend_s": "s",
    "build.extend_shuffle_write_mb": "MB",
    "codec.decode_mb_per_s": "MB/s",
    "scorer.postings_per_s": "postings/s",
    "query.batch_plan_s": "s",
    "query.batch_exec_s": "s",
    "query.input_mb": "MB",
    "query.shuffle_mb": "MB",
    "query.tasks": "count",
    "query.segments_scored": "count",
    "query.segments_pruned": "count",
    "query.prune_frac": "ratio",
    "query_one.p50_ms": "ms",
    "query_one.jobs": "count",
    "query_one.job_ms": "ms",
    "query_one.driver_ms": "ms",
    "service.seeded_prune_frac": "ratio",
    "service.cached_thresholds": "count",
    "maintenance.optimize_jobs": "count",
    "maintenance.optimize_shuffle_mb": "MB",
    "trace.overhead_pct": "%",
}
MB = 1024.0 * 1024.0


class OpFailed(Exception):
    """A timed call into the engine raised; the run stops there."""


@dataclass
class Timer:
    seconds: float = 0.0


def host_settings() -> dict:
    """Session settings derived from the host, so that the parent and the
    change of one comparison run with the same ones. The engine's own
    defaults (a 48g driver, -Xms16g) do not start on small hosts."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_gb = int(min(4, max(1, mem_kb // (4 * 1024 * 1024))))
    return {
        "master": f"local[{cores}]",
        "host_mem_gb": round(mem_kb / (1024 * 1024), 1),
        "FLATNAV_SPARK_DRIVER_MEM": f"{driver_gb}g",
        # no hsperfdata files outside the checkout
        "FLATNAV_SPARK_DRIVER_JAVA_OPTS": "-Xms512m -XX:-UsePerfData",
        "FLATNAV_SPARK_LOCAL_DIR": ".perfbench_work/<run>/spark-local",
    }


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = WORKLOADS[workload]
        self.run_id = f"{workload}-s{seed}-t{int(trace)}"
        self.work = os.path.join(WORK, f"run-{self.run_id}-{os.getpid()}")
        self.tracer = Tracer(self.run_id, enabled=trace)
        self.attempted = 0
        self.failed = 0
        self.samples = defaultdict(list)  # metric -> repeated measurements
        self.values = {}  # metric -> single value
        self.layer = {}  # per-layer metric -> value
        self.mismatches = []
        self.spark = None

    # -- timed calls ------------------------------------------------------
    @contextmanager
    def op(self, name: str):
        """One timed call into the engine: counted as attempted, spanned,
        and on an exception counted as failed and never retried."""
        self.attempted += 1
        t = Timer()
        with self.tracer.span(name):
            t0 = time.perf_counter()
            try:
                yield t
            except Exception as e:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                raise OpFailed(name) from e
            finally:
                t.seconds = time.perf_counter() - t0

    # -- phases -----------------------------------------------------------
    def start_session(self, settings: dict):
        from flatnav_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.environ["FLATNAV_SPARK_DRIVER_MEM"] = settings["FLATNAV_SPARK_DRIVER_MEM"]
        os.environ["FLATNAV_SPARK_DRIVER_JAVA_OPTS"] = (
            settings["FLATNAV_SPARK_DRIVER_JAVA_OPTS"] + f" -Djava.io.tmpdir={tmp}")
        os.environ["FLATNAV_SPARK_LOCAL_DIR"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        # the JVM's Python workers import the engine from this checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            # Spark 4 writes rolling zstd logs by default; read them plain
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.op("get_spark") as t:
            self.spark = get_spark(f"perfbench-{self.run_id}",
                                   cores=len(os.sched_getaffinity(0)), extra_conf=conf)
        self.values["session_start_s"] = t.seconds

    def corpus_df(self, rows):
        """Rows to a DataFrame through Arrow (a list of tuples goes row by
        row and costs seconds)."""
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"]), SCHEMA)

    def build(self, inputs, path: str):
        from flatnav_spark import build_index

        corpus = self.corpus_df(inputs.base)
        with self.op("build_index") as t:
            idx = build_index(corpus, path, **BUILD_ARGS)
        self.values["build_s"] = t.seconds
        self.values["build_docs_per_s"] = len(inputs.base) / t.seconds
        corpus_mb = sum(len(r[4].encode()) for r in inputs.base) / MB
        m = idx.manifest
        for kind, dirs in (("postings", m.postings_dirs), ("docs", m.docs_dirs),
                           ("stats", [m.stats_dir])):
            self.layer[f"index_io.{kind}_mb"] = sum(dir_mb(os.path.join(path, d)) for d in dirs)
        self.values["index_bytes_per_corpus_byte"] = sum(
            self.layer[f"index_io.{k}_mb"] for k in ("postings", "docs", "stats")) / corpus_mb
        if self.trace:
            # stage 2 alone: resume skips the completed stage-1 groups
            with self.op("build_index.resume") as t:
                build_index(corpus, path, resume=True, **BUILD_ARGS)
            self.layer["build.stage2_s"] = t.seconds
            self.layer["build.stage1_s"] = self.values["build_s"] - t.seconds

    def setup(self, path: str):
        """load_index + term-stats preload + service arming, SETUPS times;
        the last set-up's handles serve the run."""
        from flatnav_spark import load_index
        from flatnav_spark.service import StandingQueryService

        for _ in range(SETUPS):
            with self.op("load_index") as t_load:
                idx = load_index(path)
            with self.op("preload_term_stats") as t_pre:
                idx.preload_term_stats(self.spark)
            # the service would preload again; its cache is the one above
            with self.op("StandingQueryService") as t_svc:
                svc = StandingQueryService(self.spark, idx, preload_stats=False)
            self.samples["setup_part_s"].append(t_load.seconds + t_pre.seconds + t_svc.seconds)
            self.samples["index_io.load_s"].append(t_load.seconds)
            self.samples["index_io.preload_s"].append(t_pre.seconds)
        return idx, svc

    def batch(self, idx, queries):
        from flatnav_spark import batch_query

        qdf = self.spark.createDataFrame(queries, QSCHEMA)
        with self.op("batch") as t:
            with self.tracer.span("batch_query") as plan:
                res = batch_query(self.spark, idx, qdf, collect_metrics=self.trace)
            with self.tracer.span("collect"):
                rows = res.collect()
        self.samples["batch_qps"].append(len(queries) / t.seconds)
        if self.trace:
            self.samples["query.batch_plan_s"].append(plan.seconds)
            self.samples["query.batch_exec_s"].append(t.seconds - plan.seconds)
            acc = {k: int(a.value) for k, a in res._flatnav_accumulators.items()}
            self.samples["query.segments_scored"].append(acc["segments_scored"])
            self.samples["query.segments_pruned"].append(acc["segments_pruned"])
        return by_query(rows)

    def service_batch(self, svc, queries, metric: str = None):
        with self.op("service.search_batch") as t:
            out = svc.search_batch(queries, collect_metrics=self.trace)
        if metric:
            self.samples[metric].append(len(queries) / t.seconds)
            if self.trace:
                m = svc.last_metrics
                self.samples["service.seeded_prune_frac"].append(
                    prune_frac(m["segments_scored"], m["segments_pruned"]))
        return {q: [(d, s) for _, d, s in hits] for q, hits in out.items()}

    def query_one_loop(self, idx, queries, n: int, expect, start: int = 0,
                       metric: str = "query_one_ms") -> None:
        """Closed loop, one client: each call starts when the last returns.
        Cycles over the golden sample and checks every answer."""
        from flatnav_spark.query import query_one

        for i in range(start, start + n):
            qid, text = queries[i % len(queries)]
            with self.op("query_one") as t:
                hits = query_one(self.spark, idx, text)
            if metric:
                self.samples[metric].append(t.seconds * 1000.0)
            self.check(f"query_one q{qid}", [(d, s) for _, d, s in hits], expect.get(qid, []))

    # -- correctness --------------------------------------------------------
    def check(self, what: str, got, want) -> None:
        if got != want:
            self.mismatches.append(what)

    def check_golden(self, what: str, got: dict, golden: dict) -> None:
        for qid in golden:
            self.check(f"{what} q{qid} vs golden", got.get(qid, []), golden[qid])

    # -- workloads ----------------------------------------------------------
    @staticmethod
    def hitting(inputs) -> list:
        """Sampled queries that match at least one document. The query_one
        loop cycles over these: a query of absent terms returns before any
        Spark job, and how many a seed draws would move the median."""
        return [(q, t) for q, t in inputs.queries if inputs.golden.get(q)]

    def run_query(self, inputs, path):
        sample = self.hitting(inputs)
        self.build(inputs, path)
        idx, svc = self.setup(path)
        golden = self.golden_by_doc_id(inputs, path)
        # warm-up, not measured: the first service call fills its threshold
        # cache and the first query_one calls run on a cold query path
        served = self.service_batch(svc, inputs.queries)
        self.check_golden("service cold", served, golden)
        self.query_one_loop(idx, sample, 1, golden, metric=None)
        deadline = time.perf_counter() + self.seconds
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() < deadline:
            got = self.batch(idx, inputs.queries)
            self.check_golden(f"batch_query round {rounds}", got, golden)
            self.query_one_loop(idx, sample, Q1_PER_ROUND, got, start=1 + rounds * Q1_PER_ROUND)
            rounds += 1
        served = self.service_batch(svc, inputs.queries, "service_qps")
        self.check_golden("service warm", served, golden)
        self.values["service.cached_thresholds"] = svc.cached_thresholds
        if self.trace:
            # one extend after every read, traced runs only, so that the
            # extend-path layer times are measured on this workload too
            from flatnav_spark.build import extend_index

            sizes = Sizes(self.sizes.base_docs, 0, extend_rounds=1, extend_docs=1000)
            with self.op("extend_index") as t:
                extend_index(self.spark, idx, self.corpus_df(extend_rows(sizes, self.seed)[0]))
            self.samples["build.extend_s"].append(t.seconds)
        return idx

    def run_ingest(self, inputs, path):
        from flatnav_spark.build import extend_index
        from flatnav_spark.maintenance import optimize_index
        from flatnav_spark.service import StandingQueryService

        sample = self.hitting(inputs)
        self.build(inputs, path)
        idx, _ = self.setup(path)
        for batch in inputs.extends:
            with self.op("extend_index") as t:
                idx = extend_index(self.spark, idx, self.corpus_df(batch))
            self.samples["extend_docs_per_s"].append(len(batch) / t.seconds)
            self.samples["build.extend_s"].append(t.seconds)
        golden = self.golden_by_doc_id(inputs, path)
        self.layer["index_io.postings_dirs"] = len(idx.manifest.postings_dirs)
        # arm the multi-generation index the way set-up armed the base one;
        # the first (cold) service call warms the query path, not measured
        with self.op("preload_term_stats"):
            idx.preload_term_stats(self.spark)
        with self.op("StandingQueryService"):
            svc = StandingQueryService(self.spark, idx, preload_stats=False)
        served = self.service_batch(svc, sample)
        self.check_golden("service after extend", served, golden)
        got = self.batch(idx, inputs.queries)
        self.check_golden("batch_query after extend", got, golden)
        self.query_one_loop(idx, sample, Q1_PER_ROUND, got)
        with self.op("optimize_index") as t:
            idx = optimize_index(self.spark, idx)
        self.values["optimize_s"] = t.seconds
        with self.op("preload_term_stats"):
            idx.preload_term_stats(self.spark)
        got = self.batch(idx, inputs.queries)
        self.check_golden("batch_query after optimize", got, golden)
        deadline = time.perf_counter() + self.seconds / 5
        calls = Q1_PER_ROUND
        while calls < 2 * Q1_PER_ROUND or time.perf_counter() < deadline:
            self.query_one_loop(idx, sample, 1, got, start=calls)
            calls += 1
        self.values["service.cached_thresholds"] = svc.cached_thresholds
        return idx

    def golden_by_doc_id(self, inputs, path: str) -> dict:
        """Golden top-k in engine doc ids: keys mapped through the index's
        docs tables, re-ranked by (score desc, doc_id asc)."""
        import pyarrow.parquet as pq

        from flatnav_spark import load_index

        m = load_index(path).manifest
        ids = {}
        for d in m.docs_dirs:
            t = pq.read_table(os.path.join(path, d),
                              columns=["doc_id", "repo", "path", "commit"]).to_pydict()
            ids.update(zip(zip(t["repo"], t["path"], t["commit"]), t["doc_id"]))
        k = self.sizes.k
        out = {}
        for qid, rows in inputs.golden.items():
            ranked = sorted(((ids[(r, p, c)], s) for r, p, c, s in rows),
                            key=lambda x: (-x[1], x[0]))
            out[qid] = ranked[:k]
        return out

    # -- layers measured from outside, traced runs only ---------------------
    def layer_microbenchmarks(self, inputs, idx) -> None:
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        from flatnav_spark.codec import varint_decode
        from flatnav_spark.scorer import Bm25Scorer
        from flatnav_spark.tokenizer import tokenize_series

        sample = pd.Series([r[4] for r in inputs.base[:1000]])
        secs = []
        for _ in range(3):
            with self.op("tokenize_series") as t:
                tokenize_series(sample, mode="code")
            secs.append(t.seconds)
        self.layer["tokenizer.docs_per_s"] = len(sample) / statistics.median(secs)

        m = idx.manifest
        cols = {"docs_bin": [], "tfs_bin": [], "dls_bin": []}
        for d in m.postings_dirs:
            t = pq.read_table(os.path.join(idx.path, d), columns=list(cols)).to_pydict()
            for c in cols:
                cols[c].extend(t[c])
        # varint streams concatenate into one valid stream: one call per
        # repeat times the decoder, not the Python call overhead of ~10^5
        # tiny blobs
        stream = b"".join(cols["docs_bin"])
        secs = []
        for _ in range(5):
            with self.op("varint_decode") as t:
                varint_decode(stream)
            secs.append(t.seconds)
        self.layer["codec.decode_mb_per_s"] = len(stream) / MB / statistics.median(secs)

        tf = np.concatenate([varint_decode(b) for b in cols["tfs_bin"]]).astype(np.int64)
        dl = np.concatenate([varint_decode(b) for b in cols["dls_bin"]]).astype(np.int64)
        secs = []
        for _ in range(5):
            with self.op("Bm25Scorer.tfn") as t:
                Bm25Scorer.tfn(tf, dl, m.avgdl, m.params)
            secs.append(t.seconds)
        self.layer["scorer.postings_per_s"] = len(tf) / statistics.median(secs)

    def attribute(self) -> None:
        """Per-layer figures from the event log, after the session ends."""
        logs = [os.path.join(self.work, "events", f)
                for f in os.listdir(os.path.join(self.work, "events"))]
        with open(logs[0]) as f:
            jobs = parse_event_log(f)
        a = Attribution(self.tracer.spans, jobs)
        L = self.layer

        builds = a.named("build_index")
        tot = a.totals(builds[0])
        L["build.driver_s"] = a.driver_time(builds[0])
        L["build.jobs"] = tot["jobs"]
        L["build.tasks"] = tot["tasks"]
        L["build.shuffle_write_mb"] = tot["shuffle_write_bytes"] / MB
        L["build.spill_mb"] = tot["spill_bytes"] / MB
        L["build.gc_s"] = tot["gc_s"]
        L["build.task_skew"] = a.task_skew(builds[0])

        extends = a.named("extend_index")
        L["build.extend_shuffle_write_mb"] = sum(
            a.totals(s)["shuffle_write_bytes"] for s in extends) / MB / max(len(extends), 1)

        batches = [a.totals(s) for s in a.named("batch")]
        L["query.input_mb"] = statistics.mean(b["input_bytes"] for b in batches) / MB
        L["query.shuffle_mb"] = statistics.mean(b["shuffle_write_bytes"] for b in batches) / MB
        L["query.tasks"] = statistics.mean(b["tasks"] for b in batches)

        q1 = a.named("query_one")
        L["query_one.jobs"] = statistics.mean(a.totals(s)["jobs"] for s in q1)
        L["query_one.job_ms"] = statistics.median(a.job_time(s) for s in q1) * 1000.0
        L["query_one.driver_ms"] = statistics.median(a.driver_time(s) for s in q1) * 1000.0

        opt = a.named("optimize_index")
        L["maintenance.optimize_jobs"] = sum(a.totals(s)["jobs"] for s in opt)
        L["maintenance.optimize_shuffle_mb"] = sum(
            a.totals(s)["shuffle_write_bytes"] for s in opt) / MB

        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{self.run_id}.json"), "w") as f:
            json.dump({"spans": a.report(),
                       "jobs": [{"id": j.id, "submit": j.submit, "end": j.end,
                                 "tasks": len(j.tasks)} for j in jobs]}, f)

    # -- the run --------------------------------------------------------------
    def run(self) -> dict:
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(os.path.join(self.work, "events"), exist_ok=True)
        settings = host_settings()
        inputs = make_inputs(self.workload, self.sizes, self.seed,
                             os.path.join(WORK, "golden"))
        path = os.path.join(self.work, "index")
        ok = False
        steal0 = cpu_steal()
        try:
            self.start_session(settings)
            runner = self.run_query if self.workload == "query" else self.run_ingest
            idx = runner(inputs, path)
            self.values["jvm_peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
            self.values["host_steal_pct"] = cpu_steal(since=steal0)
            if self.trace:
                self.layer_microbenchmarks(inputs, idx)
            ok = True
        except OpFailed as e:
            print(f"perfbench: {e} failed; the run stops", file=sys.stderr)
        finally:
            if self.spark is not None:
                stop_session(self.spark)
        if ok and self.trace:
            self.attribute()
        return self.report(settings, ok)

    def report(self, settings: dict, ok: bool) -> dict:
        S = {k: stats.summary(v) for k, v in self.samples.items() if v}
        V = dict(self.values)
        if ok:
            V["setup_s"] = V["session_start_s"] + S["setup_part_s"]["median"]
            V["batch_qps"] = S["batch_qps"]["median"]
            V["query_one_p50_ms"] = stats.percentile(self.samples["query_one_ms"], 50)
            for name in ("service_qps", "extend_docs_per_s"):
                if name in S:
                    V[name] = S[name]["median"]
        e2e = metrics(END_TO_END, V)
        extra = metrics({**{k: u for k, (u, _) in WORKLOAD_ONLY.items()}, **REPORTED}, V)
        layer = {}
        if self.trace and ok:
            L = dict(self.layer)
            L["session.start_s"] = V["session_start_s"]
            L["session.jvm_peak_rss_mb"] = V["jvm_peak_rss_mb"]
            L["query_one.p50_ms"] = V["query_one_p50_ms"]
            for name in ("index_io.load_s", "index_io.preload_s", "build.extend_s",
                         "query.batch_plan_s", "query.batch_exec_s"):
                L[name] = S[name]["median"] if name in S else 0.0
            L.setdefault("index_io.postings_dirs", 1)
            for name in ("query.segments_scored", "query.segments_pruned"):
                L[name] = S[name]["median"]
            L["query.prune_frac"] = prune_frac(L["query.segments_scored"],
                                               L["query.segments_pruned"])
            L["service.seeded_prune_frac"] = (S["service.seeded_prune_frac"]["median"]
                                              if "service.seeded_prune_frac" in S else 0.0)
            L["service.cached_thresholds"] = V["service.cached_thresholds"]
            L["trace.overhead_pct"] = self.overhead_pct(V)
            layer = metrics(PER_LAYER, L)
        correct = ok and not self.mismatches
        return {
            "workload": self.workload, "seed": self.seed, "trace": int(self.trace),
            "settings": settings, "sizes": vars(self.sizes),
            "work_s": work_seconds(V, S) if ok else None,
            "samples": S, "mismatches": self.mismatches,
            "end_to_end": e2e, "workload_only": extra, "per_layer": layer,
            "last": {"correct": correct, "attempted": self.attempted,
                     "failed": self.failed,
                     "metrics": layer if self.trace else e2e},
        }

    def overhead_pct(self, V: dict) -> float:
        """Traced minus untraced work time, in percent of untraced. The
        untraced figure is the median of this checkout's untraced runs of
        the workload; with none yet, an untraced run of this seed is
        started here first."""
        import glob

        pattern = os.path.join(WORK, "results", f"{self.workload}-s*-t0.json")
        if not glob.glob(pattern):
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                   "--workload", self.workload, "--seed", str(self.seed),
                   "--seconds", str(self.seconds), "--trace", "0"]
            subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True, timeout=170)
        base = []
        for path in glob.glob(pattern):
            with open(path) as f:
                base.append(json.load(f)["work_s"])
        base = statistics.median(base)
        traced = work_seconds(V, {k: stats.summary(v) for k, v in self.samples.items() if v})
        return (traced - base) / base * 100.0


def metrics(units: dict, values: dict) -> dict:
    """{name: {value, unit}} for the named metrics that were measured."""
    return {stats.check_name(k): {"value": values[k], "unit": stats.check_unit(u)}
            for k, u in units.items() if k in values}


def work_seconds(V: dict, S: dict) -> float:
    """Time of one of each timed engine call the workload makes: the build,
    a set-up, a batch, a query_one call, and extend and optimize where run.
    Compared between traced and untraced runs."""
    w = V["build_s"] + S["setup_part_s"]["median"]
    w += 1000.0 / S["batch_qps"]["median"]
    w += S["query_one_ms"]["median"] / 1000.0
    if "optimize_s" in V:  # ingest; a traced query's closing extend is not counted
        w += S["build.extend_s"]["median"] + V["optimize_s"]
    return w


def by_query(rows) -> dict:
    out = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out[int(r.query_id)].append((int(r.doc_id), float(r.score)))
    return dict(out)


def prune_frac(scored: float, pruned: float) -> float:
    return pruned / (scored + pruned) if scored + pruned else 0.0


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def cpu_steal(since=None):
    """(steal, total) CPU jiffies of the host so far; with ``since``, the
    percentage of CPU time stolen by the hypervisor since then."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return 100.0 * (now[0] - since[0]) / max(now[1] - since[1], 1)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def print_report(r: dict) -> None:
    print(f"perfbench {r['workload']} seed={r['seed']} trace={r['trace']} "
          f"settings={json.dumps(r['settings'], sort_keys=True)}")
    for name, m in {**r["end_to_end"], **r["workload_only"], **r["per_layer"]}.items():
        s = r["samples"].get(name)
        spread = (f"  (median of {s['n']}, quartiles {s['q1']:.6g}..{s['q3']:.6g})"
                  if s and s["n"] > 1 else "")
        print(f"  {name:34s} {m['value']:>14.6g} {m['unit']}{spread}")
    if not r["trace"]:
        for name, (unit, wl) in WORKLOAD_ONLY.items():
            if wl != r["workload"]:
                print(f"  {name:34s} {'n/a':>14s} {unit}  (run by the {wl} workload)")
    q1 = r["samples"].get("query_one_ms")
    if q1:
        p = stats.tail_percentile(q1["n"])
        tail = f"p{p}" if p else "none beyond the median, which needs 20"
        print(f"  query_one calls: {q1['n']}; highest percentile with "
              f"{stats.TAIL_SAMPLES} samples beyond it: {tail}")
    print(f"  ops_attempted {r['last']['attempted']}  ops_failed {r['last']['failed']}  "
          f"mismatches {len(r['mismatches'])}")
    for m in r["mismatches"][:20]:
        print(f"  MISMATCH {m}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import flatnav_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        r = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    if r["work_s"] is not None:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{bench.run_id}.json"), "w") as f:
            json.dump(r, f)
    print_report(r)
    print(json.dumps(r["last"]), flush=True)
    return 0
