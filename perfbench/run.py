#!/usr/bin/env python3
"""Benchmark entry point: one seeded, single-client, closed-loop workload.

    python3 perfbench/run.py --workload cypher-interactive --seed 1 \\
        --seconds 12 --trace 0

Runs from the repository root.  Generates its input tables under
``perfbench/.work/``, starts Spark ``local[N]`` (N = min(4, nproc)),
sets the workload up, warms it, issues whole request rounds sized to
take about ``--seconds`` on a 4-core machine, checks every answer
against an independent reference after timing, and prints one JSON
object as the last stdout line.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs an untraced pass and then a traced pass of
the same size and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import warnings  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import metrics as M  # noqa: E402
import workloads as W  # noqa: E402

SF = 0.01                 # scale factor of every workload's base tables
BULK_COPIES = 3           # graph-bulk: id-shifted copies of the base graph
SETUP_REPS = 3            # graph load + persist repetitions per run
# Seconds one round of each workload takes on a 4-core reference machine
# after warm-up; a run issues round(seconds / this) whole rounds (at
# least one), so both sides of a comparison replay identical requests.
NOMINAL_ROUND_S = {"cypher-interactive": 6.0, "graph-iterative": 14.0,
                   "graph-bulk": 12.0}
# graph_algos.<algo>_stages_per_iteration divides by this parameter for
# fixed-count loops; the other loops divide by their localCheckpoint
# calls (one materialization per superstep).
ITERATION_PARAM = {"pagerank": "iterations", "label_propagation":
                   "iterations", "louvain": "rounds",
                   "weighted_shortest_paths": "max_iters"}

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "requests_per_s": "1/s",
              "cpu_s_per_request": "s", "peak_rss_mb": "MB",
              "ok_ratio": "ratio"}


def per_layer_units() -> dict:
    """Name -> unit of every per-layer metric (BENCHMARK.json's list)."""
    units = {"parser.parse_ms": "ms", "parser.ast_cache_hit_ratio": "ratio",
             "session.cypher_ms": "ms", "session.plan_cache_hit_ratio":
             "ratio", "plans.plan_ms": "ms", "plans.plan_jobs": "count",
             "catalyst.optimize_ms": "ms", "catalyst.physical_ms": "ms",
             "catalyst.plan_nodes": "count", "scheduler.jobs": "count",
             "scheduler.stages": "count", "scheduler.tasks": "count",
             "scheduler.gap_ms": "ms", "scheduler.jobs_outside_group":
             "count"}
    for algo in W.ALGOS:
        units[f"graph_algos.{algo}_ms"] = "ms"
        units[f"graph_algos.{algo}_stages_per_iteration"] = "count"
    units.update({
        "cache.checkpoints": "count", "cache.leased_frames": "count",
        "executor.cpu_s": "s", "executor.run_s": "s",
        "executor.shuffle_write_mb": "MB", "executor.shuffle_read_mb": "MB",
        "executor.spill_mb": "MB", "executor.peak_task_mem_mb": "MB",
        "executor.utilisation": "ratio", "jvm.gc_ms": "ms",
        "jvm.jit_ms": "ms", "jvm.driver_cpu_s": "s", "python.cpu_s": "s",
        "sources.load_ms": "ms", "trace.overhead_p50_ms": "ms"})
    return units


@dataclass
class Record:
    """One timed request."""
    rid: int
    round: int
    req: object
    latency_s: float
    t0: float                  # epoch seconds
    t1: float
    rows: list | None = None
    error: str | None = None
    jobs: tuple = (0, -1)      # job-id window (first, last)


@dataclass
class Loop:
    records: list = field(default_factory=list)
    wall_s: float = 0.0
    py_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_ms: float = 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.cores = min(4, len(os.sched_getaffinity(0)))
        self.setup: dict = {}

    # -- setup ---------------------------------------------------------
    def _load(self, rep: int) -> None:
        """Load and persist the workload's graph (one set-up rep)."""
        from sparkside import copurchase_edges
        if self.workload == "cypher-interactive":
            from cypher_for_apache_flink_spark.session import CypherSession
            from cypher_for_apache_flink_spark.sources.tpch import tpch_graph
            old = getattr(self, "graph", None)
            # marked cached; the warm-up's first reads materialize it
            self.graph = tpch_graph(self.spark, self.data[rep]).cache()
            self.session = CypherSession.for_graph(self.graph)
            frames = [] if old is None else \
                list(old.node_tables.values()) + list(old.rel_tables.values())
        else:
            from pyspark.sql import functions as F
            frames = [getattr(self, "edges", None),
                      getattr(self, "directed", None)]
            copies = BULK_COPIES if self.workload == "graph-bulk" else 1
            self.edges, self.directed = copurchase_edges(
                self.spark, self.data[0], copies)
            self.weighted = self.directed.withColumn(
                "w", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double"))
        for df in frames:
            if df is not None:
                df.unpersist()

    def _start(self) -> None:
        from sparkside import ProcessProbe, StatusReader, jvm_pid, start_spark
        base = os.path.join(self.work, "data")
        self.data = [datagen.write(os.path.join(base, "rep0"), SF)]
        if self.workload == "cypher-interactive":
            # tpch_graph memoizes per directory: one copy per set-up rep
            for i in range(1, SETUP_REPS):
                d = os.path.join(base, f"rep{i}")
                shutil.copytree(self.data[0], d)
                self.data.append(d)
        t0 = time.time()
        self.spark = start_spark(self.cores, self.work)
        self.setup["spark_s"] = time.time() - t0
        self.setup["gen_s"] = t0 - T_START
        self.status = StatusReader(self.spark)
        self.probe = ProcessProbe(jvm_pid(self.spark))
        loads = []
        for rep in range(SETUP_REPS):
            t = time.time()
            self._load(rep)
            loads.append(time.time() - t)
        self.setup["load_s"] = loads
        t = time.time()
        warm = []
        for req in W.warmup(self.workload, self.seed):
            p0 = time.perf_counter()
            self._execute(req)
            warm.append(round(time.perf_counter() - p0, 3))
            if isinstance(req, W.CypherRequest) and \
                    not W.TEMPLATES_BY_NAME[req.template].write:
                # second sighting: admitted to the plan cache, not run
                self.session.cypher(req.text)
        self.setup["warmup_s"] = time.time() - t
        self.setup["warmup_request_s"] = warm
        self.setup_s = (self.setup["spark_s"] + M.median(loads)
                        + self.setup["warmup_s"])
        self.jit_ms = self.status.jit_ms()

    # -- requests ------------------------------------------------------
    def _execute(self, req, tracer=None) -> list:
        if isinstance(req, W.CypherRequest):
            df = self.session.cypher(req.text).df
            if tracer is not None:
                # planned before collect() so the collect reuses them
                qe = df._jdf.queryExecution()
                with tracer.span("catalyst.optimize"):
                    plan = qe.optimizedPlan()
                with tracer.span("catalyst.physical"):
                    qe.executedPlan()
                tracer.count("catalyst.plan_nodes",
                             plan.treeString().count("\n"))
            return self._collect(df, tracer)
        from cypher_for_apache_flink_spark.functions import graph_algos
        call = req.call
        fn = getattr(graph_algos, call.algo)
        kw = call.kwargs
        if call.algo == "weighted_shortest_paths":
            src = self.spark.createDataFrame([(kw.pop("source"),)],
                                             "node long")
            df = fn(self.weighted, src, **kw)
        else:
            df = fn(self.directed if call.graph == "directed"
                    else self.edges, **kw)
        return self._collect(df, tracer)

    @staticmethod
    def _collect(df, tracer) -> list:
        with tracer.span("execute.collect") if tracer else nullcontext():
            return [tuple(r) for r in df.collect()]

    def _loop(self, rounds: list, first_rid: int, tracer=None) -> Loop:
        loop = Loop()
        sc = self.spark.sparkContext
        py0, jvm0 = self.probe.python_cpu_s(), self.probe.jvm_cpu_s()
        gc0 = self.status.gc_ms()
        t_loop = time.perf_counter()
        rid = first_rid
        for rnd, requests in enumerate(rounds):
            for req in requests:
                if tracer is not None:
                    self.status.drain()
                    first_job = self.status.last_job_id() + 1
                    sc.setJobGroup(f"perfbench-{rid}", req.kind)
                    root = tracer.begin_request(rid, req.kind)
                rows, err = None, None
                t0, p0 = time.time(), time.perf_counter()
                try:
                    rows = self._execute(req, tracer)
                except Exception:   # a failed request counts against ok
                    err = traceback.format_exc(limit=3)
                lat = time.perf_counter() - p0
                rec = Record(rid, rnd, req, lat, t0, t0 + lat, rows, err)
                if tracer is not None:
                    tracer.end_request(root)
                    sc.setJobGroup(None, None)
                    self.status.drain()
                    rec.jobs = (first_job, self.status.last_job_id())
                loop.records.append(rec)
                rid += 1
        loop.wall_s = time.perf_counter() - t_loop
        loop.py_cpu_s = self.probe.python_cpu_s() - py0
        loop.jvm_cpu_s = self.probe.jvm_cpu_s() - jvm0
        loop.gc_ms = self.status.gc_ms() - gc0
        return loop

    # -- checks --------------------------------------------------------
    def _graph_reference(self):
        """Reference answers over the co-purchase pairs, derived by DuckDB
        from the same line items (distinct parts of one order, src <
        dst), shifted into copies like the Spark side."""
        import duckdb
        import numpy as np

        import reference as R
        con = duckdb.connect()
        try:
            li = os.path.join(self.data[0], "lineitem.parquet")
            e = con.execute(
                "WITH p AS (SELECT DISTINCT l_orderkey, l_partkey "
                f"FROM read_parquet('{li}')) SELECT a.l_partkey AS src, "
                "b.l_partkey AS dst FROM p a JOIN p b "
                "ON a.l_orderkey = b.l_orderkey "
                "AND a.l_partkey < b.l_partkey").fetchnumpy()
        finally:
            con.close()
        src, dst = e["src"].astype("int64"), e["dst"].astype("int64")
        copies = BULK_COPIES if self.workload == "graph-bulk" else 1
        shift = int(max(src.max(), dst.max())) + 1
        return R.GraphReference(
            np.concatenate([src + i * shift for i in range(copies)]),
            np.concatenate([dst + i * shift for i in range(copies)]))

    def _check(self, loops) -> tuple[int, list]:
        """(requests answered correctly, failure details)."""
        import reference as R
        if self.workload != "cypher-interactive":
            return _compare(self._graph_reference(), loops)
        ref = R.CypherReference(self.data[0])
        try:
            return _compare(ref, loops)
        finally:
            ref.close()

    # -- metrics -------------------------------------------------------
    def _end_to_end(self, loop: Loop, peak_rss: float, ok_ratio: float):
        lats = [r.latency_s * 1e3 for r in loop.records]
        n = len(lats)
        e2e = {"setup_s": self.setup_s,
               "latency_p50_ms": M.median(lats),
               "requests_per_s": n / loop.wall_s,
               "cpu_s_per_request": (loop.py_cpu_s + loop.jvm_cpu_s) / n,
               "peak_rss_mb": peak_rss,
               "ok_ratio": ok_ratio}
        tail = M.tail_percentile(lats)
        extra = {"samples": n}
        if tail is not None:
            p, value, beyond = tail
            extra["latency_tail_ms"] = {"value": value, "unit": "ms",
                                        "percentile": p,
                                        "samples_beyond": beyond}
        return e2e, extra

    def _cache_counts(self) -> tuple:
        """(AST cache hits, misses, plan cache hits, misses) so far."""
        import cypher_for_apache_flink_spark.parser.parser as P
        sess = getattr(self, "session", None)
        plan = sess.plan_cache_stats if sess else {"hits": 0, "misses": 0}
        return (P.ast_cache_stats["hits"], P.ast_cache_stats["misses"],
                plan["hits"], plan["misses"])

    def _layers(self, plain: Loop, traced: Loop, tracer,
                hit_ratios: tuple) -> dict:
        """Per-layer metrics of the traced loop; ``hit_ratios`` are the
        AST and plan cache hit ratios over it."""
        recs = traced.records
        n = len(recs)
        first_round = [r for r in recs if r.round == 0]
        lo, hi = recs[0].jobs[0], max(r.jobs[1] for r in recs)
        jobs = self.status.jobs(lo, hi)
        windows = [(r.rid, f"perfbench-{r.rid}", *r.jobs) for r in recs]
        attributed = M.attribute_jobs(windows, [(j[0], j[1]) for j in jobs])
        job_info = {j[0]: j for j in jobs}
        # a stage belongs to the request that created it: stage ids only
        # grow, so ids at or below an earlier request's max are reused
        # (skipped) stages of that earlier request
        stages, seen_max = {}, -1
        for r in recs:
            ids = sorted({s for j in attributed[r.rid]["jobs"]
                          for s in job_info[j][3] if s > seen_max})
            st = [self.status.stage(s) for s in ids]
            stages[r.rid] = [s for s in st if s is not None]
            seen_max = max([seen_max, *ids])
        spans_by_req: dict = {}
        for sp in tracer.spans:
            spans_by_req.setdefault(sp.request, []).append(sp)

        def span_ms(rid, name):
            return sum(sp.ms for sp in M.outermost(spans_by_req.get(rid, []),
                                                   name))

        def count(rid, what):
            return tracer.counts[(rid, what)]

        def mean_first(fn):
            return sum(fn(r) for r in first_round) / len(first_round)

        cy = [r for r in recs if isinstance(r.req, W.CypherRequest)]
        cy_first = [r for r in first_round if r in cy]

        def plan_jobs(r):
            wins = [(sp.start * 1e3, sp.end * 1e3) for sp in M.outermost(
                spans_by_req.get(r.rid, []), "plans.plan")]
            return sum(1 for j in attributed[r.rid]["jobs"]
                       if job_info[j][2] is not None
                       and any(a <= job_info[j][2] <= b for a, b in wins))

        def gap_ms(r):
            iv = [(s.start_ms, s.end_ms) for s in stages[r.rid]
                  if s.start_ms is not None and s.end_ms is not None]
            return r.latency_s * 1e3 - M.covered(iv, r.t0 * 1e3, r.t1 * 1e3)

        task_cpu = sum(s.cpu_s for st in stages.values() for s in st)
        busy_s = sum(r.latency_s for r in recs)
        out = {
            "parser.parse_ms": _mean(span_ms(r.rid, "parser.parse")
                                        for r in cy),
            "parser.ast_cache_hit_ratio": hit_ratios[0],
            "session.cypher_ms": _mean(span_ms(r.rid, "session.cypher")
                                          for r in cy),
            "session.plan_cache_hit_ratio": hit_ratios[1],
            "plans.plan_ms": _mean(span_ms(r.rid, "plans.plan")
                                      for r in cy),
            "plans.plan_jobs": (sum(map(plan_jobs, cy_first)) / len(cy_first)
                                if cy_first else 0.0),
            "catalyst.optimize_ms": _mean(
                span_ms(r.rid, "catalyst.optimize") for r in cy),
            "catalyst.physical_ms": _mean(
                span_ms(r.rid, "catalyst.physical") for r in cy),
            "catalyst.plan_nodes": (sum(count(r.rid, "catalyst.plan_nodes")
                                        for r in cy) / len(cy) if cy else 0.0),
            "scheduler.jobs": mean_first(
                lambda r: len(attributed[r.rid]["jobs"])),
            "scheduler.stages": mean_first(lambda r: len(stages[r.rid])),
            "scheduler.tasks": mean_first(
                lambda r: sum(s.tasks for s in stages[r.rid])),
            "scheduler.gap_ms": _mean(map(gap_ms, recs)),
            "scheduler.jobs_outside_group": sum(
                attributed[r.rid]["outside_group"] for r in first_round),
        }
        for algo in W.ALGOS:
            mine = [r for r in recs if not isinstance(r.req, W.CypherRequest)
                    and r.req.call.algo == algo]
            out[f"graph_algos.{algo}_ms"] = M.median(
                r.latency_s * 1e3 for r in mine)
            spi = 0.0
            if mine:
                r = mine[0]
                param = ITERATION_PARAM.get(algo)
                iters = (r.req.call.kwargs[param] if param
                         else count(r.rid, "cache.checkpoints"))
                spi = len(stages[r.rid]) / max(1, iters)
            out[f"graph_algos.{algo}_stages_per_iteration"] = spi
        mb = 1024.0 * 1024.0
        out.update({
            "cache.checkpoints": mean_first(
                lambda r: count(r.rid, "cache.checkpoints")),
            "cache.leased_frames": mean_first(
                lambda r: count(r.rid, "cache.leased_frames")),
            "executor.cpu_s": task_cpu / n,
            "executor.run_s": sum(s.run_s for st in stages.values()
                                  for s in st) / n,
            "executor.shuffle_write_mb": mean_first(
                lambda r: sum(s.shuffle_write_b for s in stages[r.rid])) / mb,
            "executor.shuffle_read_mb": mean_first(
                lambda r: sum(s.shuffle_read_b for s in stages[r.rid])) / mb,
            "executor.spill_mb": mean_first(
                lambda r: sum(s.spill_b for s in stages[r.rid])) / mb,
            "executor.peak_task_mem_mb": max(
                [0, *(s.peak_mem_b for st in stages.values() for s in st)])
            / mb,
            "executor.utilisation": task_cpu / (busy_s * self.cores),
            "jvm.gc_ms": traced.gc_ms / n,
            "jvm.jit_ms": float(self.jit_ms),
            "jvm.driver_cpu_s": (traced.jvm_cpu_s - task_cpu) / n,
            "python.cpu_s": traced.py_cpu_s / n,
            "sources.load_ms": M.median(self.setup["load_s"]) * 1e3,
            "trace.overhead_p50_ms": (
                M.median(r.latency_s for r in recs)
                - M.median(r.latency_s for r in plain.records)) * 1e3,
        })
        return out

    # -- stamp ---------------------------------------------------------
    def _stamp(self) -> dict:
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            commit = "unknown"
        if self.workload == "cypher-interactive":
            size = {"nodes": sum(df.count() for df in
                                 self.graph.node_tables.values()),
                    "relationships": sum(df.count() for df in
                                         self.graph.rel_tables.values())}
        else:
            from pyspark.sql import functions as F
            size = {"edges": self.edges.count(),
                    "nodes": self.edges.select(F.explode(F.array(
                        "src", "dst"))).distinct().count()}
        jvm = self.spark._jvm.java.lang.System
        return {"commit": commit, "nproc": len(os.sched_getaffinity(0)),
                "master": f"local[{self.cores}]", "sf": SF, "graph": size,
                "workload": self.workload, "seed": self.seed,
                "seconds": self.seconds, "trace": int(self.trace),
                "spark": self.spark.version,
                "java": jvm.getProperty("java.version"),
                "python": platform.python_version(),
                "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                           time.gmtime())}

    # -- run -----------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        from tracing import Tracer
        self._start()
        n_rounds = max(1, round(self.seconds
                                / NOMINAL_ROUND_S[self.workload]))
        seq = W.rounds(self.workload, self.seed,
                       2 * n_rounds if self.trace else n_rounds)
        plain = self._loop(seq[:n_rounds], 0)
        traced, tracer = None, None
        if self.trace:
            tracer = Tracer()
            before = self._cache_counts()
            tracer.install()
            try:
                traced = self._loop(seq[n_rounds:], len(plain.records),
                                    tracer)
            finally:
                tracer.uninstall()
            d = [b - a for a, b in zip(before, self._cache_counts())]
            hit_ratios = (_ratio(d[0], d[1]), _ratio(d[2], d[3]))
        peak_rss = self.probe.peak_rss_mb()
        loops = [plain] + ([traced] if traced else [])
        ok, bad = self._check(loops)
        attempted = sum(len(lp.records) for lp in loops)
        e2e, extra = self._end_to_end(plain, peak_rss, ok / attempted)
        report = {"stamp": self._stamp(), "end_to_end": e2e, **extra,
                  "setup": self.setup,
                  "repeat_share": W.repeat_share(
                      W.warmup(self.workload, self.seed),
                      [r.req for r in plain.records]),
                  "failures": bad[:5]}
        if self.trace:
            layers = self._layers(plain, traced, tracer, hit_ratios)
            report["per_layer"] = layers
            report["self_ms_per_request"] = _self_ms(tracer.spans,
                                                     len(traced.records))
            report["spans"] = [vars(sp) for sp in tracer.spans]
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in per_layer_units().items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items()}
        result = {"correct": not bad, "attempted": attempted,
                  "failed": len(bad), "metrics": metrics}
        return report, result


def _compare(ref, loops) -> tuple[int, list]:
    ok, bad = 0, []
    for loop in loops:
        for rec in loop.records:
            call = rec.req if isinstance(rec.req, W.CypherRequest) \
                else rec.req.call
            if rec.error is None and ref.check(call, rec.rows):
                ok += 1
            else:
                bad.append({"request": repr(rec.req), "error": rec.error,
                            "rows": None if rec.rows is None
                            else rec.rows[:5]})
    return ok, bad


def _self_ms(spans, n_requests: int) -> dict:
    """Self time per span name, summed over the run, per request."""
    out: dict = {}
    for sp_id, ms in M.self_times(spans).items():
        name = spans[sp_id].name
        out[name] = out.get(name, 0.0) + ms / n_requests
    return out


def _mean(values) -> float:
    """Mean per request: a layer's share of the request, which a median
    hides once most requests skip the layer (plan-cache hits)."""
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _ratio(hits: int, misses: int) -> float:
    return hits / (hits + misses) if hits + misses else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import __spark_entry__  # noqa: F401
        import cypher_for_apache_flink_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    warnings.simplefilter("ignore")   # convergence notices of the loops
    # a terminated run still stops Spark and its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", str(os.getpid()))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  work)
    try:
        report, result = bench.run()
    finally:
        from sparkside import stop_spark
        try:
            stop_spark(getattr(bench, "spark", None))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1,
                  default=str)
    report.pop("spans", None)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
