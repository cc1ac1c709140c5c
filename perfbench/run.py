"""KG-construction benchmark: pages -> triples -> knowledge graph -> SPARQL.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process drives Spark on ``local[nproc]``
through the program's public functions only, with the program's own
session defaults (``get_spark``).  Each workload is generated from
``--seed`` and written as a parquet pages table before timing starts.

A run has four phase kinds, each repeated until its share of ``--seconds``
is used (and at least a minimum number of times):

- *setup* (repeated ``SETUP_REPS`` times, each in a JVM of its own,
  median reported): JVM launch and SparkSession start, Python-worker
  warm-up, reading and caching the pages, and the initial graph that
  recrawls are merged into, built by ``run_kg_maintenance_stream``;
- *extract*: one forced ``extract_triples`` pass over the cached pages;
- *build*: pages parquet -> committed KG, i.e. ``CheckpointedExtraction.run``,
  the ``best_entity_per_doc`` write and ``materialize_graph``;
- *serve*: run the round's seeded SPARQL mix through
  ``sparql_query(...).collect()`` (one closed-loop client), then append a
  recrawl delta (a share of the pages, changed) and drain it through
  ``run_kg_maintenance_stream``.

Every output is checked against the generator's truth (see oracle.py).
The last stdout line is the result JSON; the line before it is the run
record (loadavg, nproc, driver memory, input descriptors, failure counts).
``--trace 1`` spends half the time untraced and half with Spark's event
log, the ``/proc`` sampler and in-process kernel timing, and prints the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import pyarrow.parquet as pq

import gen
import oracle
import tracing

SETUP_REPS = 3
DRIVER_MEM = "2g"  # SPARK_GRAFT_DRIVER_MEM; the program's default is 16g
LOAD_THRESHOLD_PER_CORE = 0.5
RECRAWL_SHARE = 0.02
KERNEL_SAMPLE = 1000  # pages per in-process kernel sample, at most


# Share of --seconds each phase kind may use, and its minimum repetitions.
SHARES = {"extract": 0.2, "build": 0.5, "serve": 0.3}
MIN_REPS = {"extract": 5, "build": 1, "serve": 4}


@dataclass(frozen=True)
class Workload:
    family: str
    pages: int              # corpus for the extract and build phases
    serve_pages: int        # leading pages that form the served graph
    mix: tuple[str, ...]    # one serve round's query classes
    deep_share: float = 0.0
    adversarial_share: float = 0.0


WORKLOADS = {
    # kernel cheap, tag cache hit: the layers around the kernel dominate
    "templated_small": Workload("templated", 8_000, 1_500, oracle.BASE_MIX),
    # kernel expensive, tag cache missed, with planted deep/cyclic pages
    "diverse_large": Workload("diverse", 320, 100, oracle.FULL_MIX,
                              deep_share=0.01, adversarial_share=0.002),
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10)[8] if len(xs) >= 2 else _median(xs)


def _warm(batches):
    yield from batches


class Bench:
    def __init__(self, args, work: str, nproc: int):
        self.args, self.work, self.nproc = args, work, nproc
        self.wl = WORKLOADS[args.workload]
        self.spark = None
        self.attempted = self.failed = self.known_defect = 0
        self.notes: list[str] = []
        self.quarantined = 0
        self.round_no = self.n_builds = 0
        self.sample_cpu = False

    # -- inputs ---------------------------------------------------------

    def generate(self) -> None:
        wl, seed = self.wl, self.args.seed
        if wl.family == "templated":
            self.corpus = gen.templated_corpus(seed, wl.pages)
        else:
            self.corpus = gen.diverse_corpus(seed, wl.pages, wl.deep_share,
                                             wl.adversarial_share)
        self.pages_path = os.path.join(self.work, "pages")
        gen.write_pages(self.corpus.pages, self.pages_path, gen.PAGE_FILES)
        self.truth = oracle.Truth(self.corpus.pages)
        self.urls = [p.url for p in self.corpus.pages]
        self.served = gen.Corpus(self.corpus.family,
                                 self.corpus.pages[:wl.serve_pages])
        self.served_path = os.path.join(self.work, "served")
        gen.write_pages(self.served.pages, self.served_path,
                        gen.PAGE_FILES)
        self.served_truth = oracle.Truth(self.served.pages)
        served_urls = [p.url for p in self.served.pages]
        self.queries = oracle.QueryMix(seed, wl.mix, served_urls)
        self.warmup_queries = oracle.QueryMix(-1 - seed, wl.mix, served_urls)
        self.adversarial = [p.url for p in self.corpus.pages
                            if p.kind == "adversarial"]
        self.links_want = {(p.url, p.entity) for p in self.corpus.pages
                           if p.entity is not None}
        self.truth_path = os.path.join(self.work, "truth.parquet")
        pq.write_table(gen.truth_table(self.corpus.pages), self.truth_path)

    def _fail(self, n: int, what: str) -> None:
        self.failed += n
        self.notes.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    # -- setup ----------------------------------------------------------

    def stop_session(self, jvm: bool = False) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if jvm:
            stop_jvm()

    def start_session(self) -> tuple[float, float]:
        from rdfa_streaming_parser_js_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", parallelism=self.nproc)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        (self.spark.range(0, self.nproc, 1, self.nproc)
         .mapInArrow(_warm, "id long").collect())
        return t1 - t0, time.perf_counter() - t1

    def cache_pages(self) -> None:
        self.pages = self.spark.read.parquet(self.pages_path).cache()
        self.pages.count()

    def drain(self) -> None:
        from rdfa_streaming_parser_js_spark.streaming.pipeline import (
            run_kg_maintenance_stream)
        q = run_kg_maintenance_stream(self.spark, self.src_dir,
                                      self.graph_dir, self.ckpt_dir)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def setup(self) -> dict:
        walls, starts, warms = [], [], []
        for rep in range(SETUP_REPS):
            base = os.path.join(self.work, f"serve{rep}")
            self.src_dir = os.path.join(base, "src")
            self.graph_dir = os.path.join(base, "graph")
            self.ckpt_dir = os.path.join(base, "ckpt")
            shutil.copytree(self.served_path, self.src_dir)
            # each setup launches its own JVM, as a run's first one does
            self.stop_session(jvm=True)
            t0 = time.perf_counter()
            start, warm = self.start_session()
            self.cache_pages()
            self.drain()
            walls.append(time.perf_counter() - t0)
            print(f"perfbench: setup {rep + 1} {walls[-1]:.3f}s "
                  f"(start {start:.3f}s, warm {warm:.3f}s)", file=sys.stderr)
            starts.append(start)
            warms.append(warm)
            if rep:
                shutil.rmtree(os.path.join(self.work, f"serve{rep - 1}"))
        self.fingerprint_want = self.fingerprint(
            self.spark.read.parquet(self.truth_path))
        return {"setup_s": _median(walls), "session.start_s": _median(starts),
                "session.worker_warm_s": _median(warms)}

    # -- phases ---------------------------------------------------------

    def fingerprint(self, triples):
        """Order-free multiset fingerprint of a triples table, compared
        by ``oracle.NORM_EXPRS``, skipping the planted adversarial pages."""
        from pyspark.sql import functions as F
        cols = [F.expr(e) for _, e in oracle.NORM_EXPRS]
        if self.adversarial:
            triples = triples.filter(~F.col("url").isin(self.adversarial))
        row = triples.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)),
            F.sum(F.hash(*cols).cast("long"))).collect()[0]
        return tuple(row)

    def extract_pass(self) -> dict:
        from rdfa_streaming_parser_js_spark.operators.extract import (
            extract_triples)
        cpu0 = tracing.cpu_snapshot() if self.sample_cpu else None
        w0 = time.time()
        t0 = time.perf_counter()
        got = self.fingerprint(extract_triples(self.pages))
        out = {"wall": time.perf_counter() - t0, "win": (w0, time.time())}
        if self.sample_cpu:
            cpu1 = tracing.cpu_snapshot()
            out["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
        self.attempted += len(self.urls)
        if got != self.fingerprint_want:
            self._fail(len(self.urls), f"extract pass fingerprint {got}")
        return out

    def build(self) -> dict:
        from rdfa_streaming_parser_js_spark.operators.canonicalize import (
            materialize_graph)
        from rdfa_streaming_parser_js_spark.operators.entity_link import (
            best_entity_per_doc, entity_dictionary)
        from rdfa_streaming_parser_js_spark.plans.lineage import (
            CheckpointedExtraction)
        k = self.n_builds
        self.n_builds += 1
        out = os.path.join(self.work, f"build{k}")
        spark = self.spark
        t = [time.time()]
        pages = spark.read.parquet(self.pages_path)
        ckpt = CheckpointedExtraction(os.path.join(out, "kg"))
        res = ckpt.run(pages)
        t.append(time.time())
        (best_entity_per_doc(pages, entity_dictionary(spark, gen.ENTITY_NAMES),
                             id_col="url", text_col="text")
         .write.parquet(os.path.join(out, "links")))
        t.append(time.time())
        materialize_graph(ckpt.triples(spark), os.path.join(out, "graph"))
        t.append(time.time())
        self.check_build(out)
        if k:
            shutil.rmtree(os.path.join(self.work, f"build{k - 1}"))
        return {"build_s": t[3] - t[0], "commits": res["commits"],
                "out": out, "lineage": (t[0], t[1]),
                "entity_link": (t[1], t[2]), "canonicalize": (t[2], t[3])}

    def check_build(self, out: str) -> None:
        triples = os.path.join(out, "kg", "triples", "*", "*.parquet")
        wrong = self.truth.wrong_pages(triples)
        self.attempted += len(self.urls) + 2
        if wrong:
            self._fail(len(wrong), f"build: {len(wrong)} pages wrong, e.g. "
                       f"{sorted(wrong)[:3]}")
        self.quarantined = self.truth.empty_pages(triples)
        links = self.truth.db.execute(
            f"SELECT id, name FROM read_parquet('{out}/links/*.parquet')"
        ).fetchall()
        self.links = len(links)
        if set(links) != self.links_want or len(links) != len(set(links)):
            self._fail(1, "build: entity links differ from truth")
        if not self.truth.graph_ok(os.path.join(out, "graph", "*",
                                                "*.parquet")):
            self._fail(1, "build: canonical graph counts differ from truth")

    def recrawl(self) -> dict:
        """Append the next recrawl delta, drain it, and check the graph."""
        self.round_no += 1
        r = self.round_no
        delta = gen.recrawl_delta(self.served, self.args.seed, r,
                                  RECRAWL_SHARE)
        gen.write_pages(delta, self.src_dir, prefix=f"recrawl{r}")
        drain = (time.time(),)
        self.drain()
        drain += (time.time(),)
        self.served_truth.replace(delta)
        self.attempted += 1
        wrong = self.served_truth.wrong_pages(os.path.join(self.graph_dir,
                                                    "*.parquet"))
        if wrong:
            self._fail(1, f"recrawl round {r}: {len(wrong)} pages wrong")
        return {"batch_s": drain[1] - drain[0], "maintain": drain,
                "delta_triples": sum(len(p.triples) for p in delta)}

    def serve_round(self) -> dict:
        """The round's queries against the graph as the last recrawl left
        it, then the next recrawl.  Queries first: the drain's writes and
        deletions would otherwise still load the disk while they run."""
        q_start = time.time()
        out = self.run_queries(self.queries)
        out["queries"] = (q_start, time.time())
        out.update(self.recrawl())
        return out

    def run_queries(self, queries: oracle.QueryMix) -> dict:
        """One round of the mix against the served graph, every answer
        checked against the oracle."""
        from rdfa_streaming_parser_js_spark.operators.sparql import (
            sparql_query)
        graph = self.spark.read.parquet(self.graph_dir)
        lat, plan, rows_out = [], [], 0
        per_class: dict[str, list[float]] = {}
        for q in queries.round():
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = sparql_query(graph, q.sparql)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            except Exception:  # a failed query is counted, not fatal
                traceback.print_exc()
                self._fail(1, f"query {q.cls} raised")
                continue
            got = [tuple(row) for row in rows]
            verdict = q.check(self.served_truth, got)
            if verdict == "wrong":
                self._fail(1, f"query {q.cls} answer differs from oracle")
            elif verdict == "known_defect":
                self.known_defect += 1
            lat.append((t2 - t0) * 1e3)
            plan.append((t1 - t0) * 1e3)
            per_class.setdefault(q.cls, []).append((t2 - t0) * 1e3)
            rows_out += len(rows)
        return {"lat_ms": lat, "plan_ms": plan, "per_class": per_class,
                "rows_out": rows_out}

    # -- measurement loop -------------------------------------------------

    def measure(self, seconds: float) -> dict:
        """Run the phase kinds, each until it has its minimum repetitions
        and has used its share of ``seconds``.  Extract passes and serve
        rounds take turns, which spreads their samples over the
        measurement; the builds come last, because the disk is still
        writing a build's output back for seconds after it ends."""
        phases = {"extract": self.extract_pass, "serve": self.serve_round,
                  "build": self.build}
        res = {kind: [] for kind in phases}
        used = dict.fromkeys(phases, 0.0)

        def wanted(kind: str) -> bool:
            min_reps = 1 if self.args.trace else MIN_REPS[kind]
            return (len(res[kind]) < min_reps
                    or used[kind] < seconds * SHARES[kind])

        for kinds in (("extract", "serve"), ("build",)):
            while any(wanted(k) for k in kinds):
                for kind in kinds:
                    if wanted(kind):
                        t0 = time.perf_counter()
                        res[kind].append(phases[kind]())
                        used[kind] += time.perf_counter() - t0
                        print(f"perfbench: {kind} {len(res[kind])} "
                              f"{time.perf_counter() - t0:.3f}s",
                              file=sys.stderr)
        return res

    def end_to_end(self, res: dict) -> dict:
        lat = [x for r in res["serve"] for x in r["lat_ms"]]
        return {
            "extract_pages_per_s": len(self.urls) / _median(
                [e["wall"] for e in res["extract"]]),
            "build_s": _median([b["build_s"] for b in res["build"]]),
            "query_p50_ms": _median(lat),
            "query_p90_ms": _p90(lat),
            "recrawl_batch_s": _median([r["batch_s"] for r in res["serve"]]),
        }

    # -- traced half ------------------------------------------------------

    def traced(self, seconds: float, sampler, untraced: dict) -> dict:
        """Restart the session with Spark's event log on, measure again,
        and derive the per-layer metrics from the trace."""
        jvm = self.spark.sparkContext._jvm
        log_dir = os.path.join(self.work, "events")
        tracing.enable_event_log(jvm, log_dir)
        self.stop_session()
        self.start_session()
        self.cache_pages()
        self.sample_cpu = True
        sampler.reset()
        res = self.measure(seconds)
        peak = dict(sampler.peak)
        graph_files = len([f for f in os.listdir(self.graph_dir)
                           if f.endswith(".parquet")])
        graph_bytes = sum(os.path.getsize(os.path.join(self.graph_dir, f))
                          for f in os.listdir(self.graph_dir))
        graph_rows = self.spark.read.parquet(self.graph_dir).count()
        last_build = res["build"][-1]["out"]
        graph_distinct = self.spark.read.parquet(
            os.path.join(last_build, "graph")).count()
        self.stop_session()  # flushes and closes the event log
        tracing.disable_event_log(jvm)
        ev = tracing.EventLog(log_dir)
        traced_e2e = self.end_to_end(res)

        warm, tok_pages, kern_pages, special = self.kernel_pages()
        tracing.time_kernel(warm)  # tag caches as a busy worker has them
        tok = statistics.fmean(tracing.time_tokenizer(tok_pages))
        secs, n_triples = tracing.time_kernel(kern_pages)
        special_secs, _ = tracing.time_kernel(special)
        kernel = statistics.fmean(secs)
        kb = sum(len(p.html.encode()) for p in kern_pages) / 1e3
        # whole-corpus kernel seconds: the sample mean for ordinary pages,
        # the measured time for each planted one
        corpus_kernel = (kernel * (len(self.urls) - len(special))
                         + sum(special_secs))

        extracts, builds, serve = res["extract"], res["build"], res["serve"]
        ext = ev.totals([e["win"] for e in extracts])
        task_s = ext["run_ms"] / 1e3 / len(extracts)
        n_b = len(builds)
        lin = ev.totals([b["lineage"] for b in builds])
        can = ev.totals([b["canonicalize"] for b in builds])
        maint = ev.totals([r["maintain"] for r in serve])
        queries = ev.totals([r["queries"] for r in serve])
        per_class: dict[str, list[float]] = {}
        for r in serve:
            for c, xs in r["per_class"].items():
                per_class.setdefault(c, []).extend(xs)
        delta_bytes = (sum(r["delta_triples"] for r in serve)
                       * graph_bytes / graph_rows)
        m = {
            "kernel.tokenize_us_per_page": tok * 1e6,
            "kernel.rdfa_eval_us_per_page": (kernel - tok) * 1e6,
            "kernel.us_per_kb": sum(secs) * 1e6 / kb,
            "kernel.max_page_ms": max(secs + special_secs) * 1e3,
            "kernel.triples_per_page": statistics.fmean(n_triples),
            "extract.task_s": task_s,
            "extract.worker_cpu_s": _median([e["cpu"]["workers"]
                                             for e in extracts]),
            "extract.jvm_cpu_s": _median([e["cpu"]["jvm"] for e in extracts]),
            "extract.non_kernel_share": 1 - corpus_kernel / task_s,
            "extract.task_skew": _median([ev.task_skew(e["win"])
                                          for e in extracts]),
            "extract.quarantined_pages": self.quarantined,
            "lineage.run_s": _median([b["lineage"][1] - b["lineage"][0]
                                      for b in builds]),
            "lineage.input_scan_stages": lin["input_scan_stages"] / n_b,
            "lineage.shuffle_mb": lin["shuffle_w"] / 1e6 / n_b,
            "lineage.write_mb": lin["out_bytes"] / 1e6 / n_b,
            "lineage.commits": builds[-1]["commits"],
            "entity_link.s": _median([b["entity_link"][1]
                                      - b["entity_link"][0] for b in builds]),
            "entity_link.links": self.links,
            "canonicalize.s": _median([b["canonicalize"][1]
                                       - b["canonicalize"][0]
                                       for b in builds]),
            "canonicalize.shuffle_mb": can["shuffle_w"] / 1e6 / n_b,
            "canonicalize.spill_mb": can["spill"] / 1e6 / n_b,
            "canonicalize.dedup_ratio": (self.truth.expected_rows()
                                         / graph_distinct),
            "sparql.plan_ms": _median([x for r in serve
                                       for x in r["plan_ms"]]),
            "sparql.rows_read_per_row_returned": (
                queries["in_records"]
                / max(sum(r["rows_out"] for r in serve), 1)),
            "maintain.batch_s": _median([r["batch_s"] for r in serve]),
            "maintain.write_amplification": maint["out_bytes"] / delta_bytes,
            "maintain.graph_files": graph_files,
            "proc.jvm_peak_rss_mb": peak["jvm"],
            "proc.worker_peak_rss_mb": peak["workers"],
            "spark.gc_s": ev.totals([(0, float("inf"))])["gc_ms"] / 1e3,
            "trace.overhead_ratio": (self._cycle(traced_e2e)
                                     / self._cycle(untraced)),
        }
        for c in oracle.CLASSES:  # 0: the class is not in this mix
            m[f"sparql.{c}.p50_ms"] = _median(per_class.get(c, []))
        return m

    def _cycle(self, e2e: dict) -> float:
        """Wall of one of each phase, the basis of the overhead ratio."""
        return (len(self.urls) / e2e["extract_pages_per_s"] + e2e["build_s"]
                + e2e["recrawl_batch_s"]
                + e2e["query_p50_ms"] / 1e3 * len(self.wl.mix))

    def kernel_pages(self):
        """Three disjoint seeded samples of ordinary pages (cache warm-up,
        tokenizer, whole kernel) and every planted deep/cyclic page."""
        rng = random.Random(f"kernel-sample/{self.args.seed}")
        plain = [p for p in self.corpus.pages if p.kind == "plain"]
        n = min(KERNEL_SAMPLE, len(plain) // 3)
        picked = rng.sample(plain, 3 * n)
        special = [p for p in self.corpus.pages if p.kind != "plain"]
        return picked[:n], picked[n:2 * n], picked[2 * n:], special

    # -- the run ----------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        self.generate()
        with tracing.ProcSampler() as sampler:
            setup = self.setup()
            # the merge path and query plans warm before timing; the
            # warm-up round's questions come from a pool of their own
            self.recrawl()
            self.run_queries(self.warmup_queries)
            seconds = self.args.seconds
            if self.args.trace:
                # like-for-like overhead ratio: both halves run warm
                self.measure(0)
                seconds /= 2
            sampler.reset()
            res = self.measure(seconds)
            e2e = {"setup_s": setup["setup_s"], **self.end_to_end(res),
                   "peak_rss_mb": sampler.peak["total"]}
            layers = (self.traced(seconds, sampler, e2e)
                      if self.args.trace else {})
        self.stop_session()
        fails = self.failed + self.known_defect
        layers.update({"session.start_s": setup["session.start_s"],
                       "session.worker_warm_s": setup["session.worker_warm_s"],
                       "failed_ratio": fails / self.attempted})
        return e2e, layers


UNITS = {"setup_s": "s", "extract_pages_per_s": "pages/s", "build_s": "s",
         "query_p50_ms": "ms", "query_p90_ms": "ms", "recrawl_batch_s": "s",
         "peak_rss_mb": "MB"}

# Every per-layer metric a traced run prints, in order, with its unit.
LAYER_UNITS = {
    "input.pages": "count", "input.mb": "MB",
    "input.tag_reuse_ratio": "ratio", "input.expected_triples": "count",
    "input.shared_triple_share": "ratio",
    "input.deep_nesting_share": "ratio", "input.adversarial_share": "ratio",
    "session.start_s": "s", "session.worker_warm_s": "s",
    "kernel.tokenize_us_per_page": "us", "kernel.rdfa_eval_us_per_page": "us",
    "kernel.us_per_kb": "us/KB", "kernel.max_page_ms": "ms",
    "kernel.triples_per_page": "count",
    "extract.task_s": "s", "extract.worker_cpu_s": "s",
    "extract.jvm_cpu_s": "s", "extract.non_kernel_share": "ratio",
    "extract.task_skew": "ratio", "extract.quarantined_pages": "count",
    "lineage.run_s": "s", "lineage.input_scan_stages": "count",
    "lineage.shuffle_mb": "MB", "lineage.write_mb": "MB",
    "lineage.commits": "count",
    "entity_link.s": "s", "entity_link.links": "count",
    "canonicalize.s": "s", "canonicalize.shuffle_mb": "MB",
    "canonicalize.spill_mb": "MB", "canonicalize.dedup_ratio": "ratio",
    "sparql.plan_ms": "ms", "sparql.point.p50_ms": "ms",
    "sparql.star.p50_ms": "ms", "sparql.agg.p50_ms": "ms",
    "sparql.optional_lang.p50_ms": "ms", "sparql.topk_typed.p50_ms": "ms",
    "sparql.rows_read_per_row_returned": "ratio",
    "maintain.batch_s": "s", "maintain.write_amplification": "ratio",
    "maintain.graph_files": "count",
    "proc.jvm_peak_rss_mb": "MB", "proc.worker_peak_rss_mb": "MB",
    "spark.gc_s": "s", "trace.overhead_ratio": "ratio",
    "failed_ratio": "ratio",
}


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    root = os.getcwd()
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",  # same str hashing in every worker process
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " --conf spark.ui.showConsoleProgress=false pyspark-shell",
    })


def stop_jvm() -> None:
    """End the Spark JVM and wait for it: it exits when its stdin closes.
    The next session launches a new one."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    sys.path.insert(0, os.getcwd())
    try:
        import rdfa_streaming_parser_js_spark  # noqa: F401  (the program)
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})",
              file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    configure_env(work)
    bench = Bench(args, work, nproc)
    try:
        e2e, layers = bench.run()
    finally:
        bench.stop_session(jvm=True)
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
        "parallelism": f"local[{nproc}]", "driver_mem": DRIVER_MEM,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
        "load_threshold": LOAD_THRESHOLD_PER_CORE * nproc,
        "loaded_start": load_start > LOAD_THRESHOLD_PER_CORE * nproc,
        **bench.corpus.descriptors(),
        "attempted": bench.attempted, "failed": bench.failed,
        "known_defect": bench.known_defect,
        "failed_ratio": layers["failed_ratio"], "notes": bench.notes[:20],
    }
    if args.trace:
        metrics = {**{k: v for k, v in record.items()
                      if k.startswith("input.")}, **layers}
        out = {k: {"value": metrics[k], "unit": u}
               for k, u in LAYER_UNITS.items()}
    else:
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
