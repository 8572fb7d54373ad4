"""The benchmark's workloads: inputs, timed passes, output checks, and the
traced per-layer profile of each.

Every workload follows the same shape: make (or reuse) the seeded inputs,
start one Spark session at local[nproc], run discarded warm-up passes, then
measure for the requested seconds. Outputs are checked after the clock
stops, on every pass, warm-up included. The traced run times cumulative prefixes of
the same pass, each forced into a `noop` sink that keeps only the columns
the real consumer reads, under a job group the benchmark sets.
"""

from __future__ import annotations

import inspect
import json
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from tracing import (
    PeakRss,
    ProcTree,
    SparkStats,
    Tracer,
    fixed_cost_share,
    median,
    prefix_self_times,
    quantile,
)

from pyspark.sql import Observation
from pyspark.sql import functions as F

from bocadillo_spark.operators.aggregate import sink_counts
from bocadillo_spark.operators.cleanops import dsir_doc_scores
from bocadillo_spark.operators.dedup import persist_drain
from bocadillo_spark.operators.parse import parse_events, with_host
from bocadillo_spark.operators.route import build_routing_dim, route
from bocadillo_spark.operators.textops import decontaminate
from bocadillo_spark.plans import sinks as sinks_mod
from bocadillo_spark.plans.curation import curate_corpus, run_curation_export
from bocadillo_spark.plans.export import read_shard_stats, write_training_shards
from bocadillo_spark.session import get_spark
from bocadillo_spark.sources.pages import read_pages
from bocadillo_spark.streaming import stream as stream_mod

# ------------------------------------------------------------ sizing
# Sized on a 4-core host so that one untraced run, set-up included, takes
# 35-55 s: the whole suite is 4 + 22 runs per workload within an hour. At
# these sizes most of a batch pass is per-pass fixed cost (trace.fixed_frac
# 0.75-0.9 for batch_counts, 0.6-0.7 for curation_export); corpora big
# enough for per-row work to dominate (240k+ pages) do not fit that budget.
COUNTS_PAGES = 60_000
COUNTS_FILES = 8
# Warm-up: one pass over a single input file pays the cold start (class
# loading, code generation) cheaply; full passes then feed the JIT the data
# volume it needs to reach steady state.
WARMUP_FULL_PASSES = 3

# The stream runs at the program's own setting: start_pipeline_stream's
# default files per trigger (2) and the "1 second" processing-time trigger
# of its docstring and liveness test. At that setting a warm micro-batch of
# one 100-page file takes 3-7 s on 4 cores (the slow end when other guests
# take a fifth of the host's CPU), so the seed code drains 0.3-0.7 files/s
# (each result reports its own estimate). Files land every 8 s: even a slow
# host commits each one before the next lands, so latency stays the batch's
# own time rather than a queue that grows with host noise.
STREAM_TRIGGER = "1 second"
STREAM_PAGES_PER_FILE = 100
STREAM_RATE_FILES_PER_S = 0.125  # open loop: fixed landing schedule
STREAM_WARMUP_FILES = 1  # landed alone and committed: the cold first batch
STREAM_MIN_FILES = 3  # the measured window holds at least this many landings (latency samples)
STREAM_POLL_S = 0.2
STREAM_GRACE_S = 30.0  # a landed file not committed by then has failed

CURATION_BASE_DOCS = 2000
CURATION_REPLICAS = 3
CURATION_FILES = 4
CURATION_WARMUP_FULL_PASSES = 1

TEXT_SAMPLE_URLS = 200

# per-layer metrics: (name, unit, better). A layer a workload bypasses
# reports 0 (its predicted no-move).
LAYER_METRICS = [
    ("sources.self_s", "s", "lower"),
    ("sources.rows_out", "count", "higher"),
    ("parse.self_s", "s", "lower"),
    ("parse.rows_in", "count", "higher"),
    ("parse.rows_out", "count", "higher"),
    ("parse.ok_frac", "ratio", "higher"),
    ("parse.text_bytes_s", "s", "lower"),
    ("route.self_s", "s", "lower"),
    ("route.matched_frac", "ratio", "higher"),
    ("route.broadcast_mb", "MB", "lower"),
    ("aggregate.self_s", "s", "lower"),
    ("aggregate.shuffle_write_mb", "MB", "lower"),
    ("sinks.self_s", "s", "lower"),
    ("sinks.shuffle_write_mb", "MB", "lower"),
    ("sinks.task_skew", "ratio", "lower"),
    ("sinks.files", "count", "lower"),
    ("sinks.output_mb", "MB", "lower"),
    ("stream.batches", "count", "higher"),
    ("stream.batch_s_p50", "s", "lower"),
    ("stream.add_batch_s", "s", "lower"),
    ("stream.overhead_s", "s", "lower"),
    ("stream.backlog_files", "count", "lower"),
    ("curation.decontaminate_s", "s", "lower"),
    ("curation.dsir_s", "s", "lower"),
    ("curation.curate_s", "s", "lower"),
    ("curation.export_s", "s", "lower"),
    ("curation.broadcast_mb", "MB", "lower"),
    ("curation.persist_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.fetch_wait_s", "s", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.cpu_busy_frac", "ratio", "higher"),
    ("spark.failed_tasks", "count", "lower"),
    ("python.eval_s", "s", "lower"),
    ("bench.gen_late_s", "s", "lower"),
    ("trace.layer_sum_s", "s", "lower"),
    ("trace.untraced_wall_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.fixed_frac", "ratio", "lower"),
]

E2E_METRICS = [
    ("docs_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("cpu_us_per_doc", "us"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    prefix_table: list = field(default_factory=list)
    failures: list = field(default_factory=list)


# ------------------------------------------------------------ session


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, trace: bool):
    """One session at local[nproc] whose scratch files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # the status REST API the traced run reads stage metrics from
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return get_spark(app_name="perfbench", cores=nproc(), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ inputs


def _cached(path: str, build) -> str:
    """Build inputs once per (workload, seed, generator version)."""
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(done, "w").close()
    return path


def _file_rows(n_rows: int, n_files: int) -> int:
    """Rows in each file _write_files makes (the last may hold fewer)."""
    return -(-n_rows // n_files)


def _write_files(table: pa.Table, out: str, n_files: int) -> list[str]:
    os.makedirs(out, exist_ok=True)
    paths = []
    step = _file_rows(table.num_rows, n_files)
    for i in range(n_files):
        p = os.path.join(out, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        paths.append(p)
    return paths


def _save_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def _load_json(path: str):
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------------ batch loop


@dataclass
class PassError:
    message: str


def attempt(one_pass):
    """one_pass() -> (wall_s, result). A pass that raises is counted, not
    fatal: it returns (None, PassError)."""
    try:
        return one_pass()
    except Exception as e:
        return None, PassError(repr(e))


def timed_passes(seconds: float, one_pass, tree: ProcTree, min_passes: int = 2):
    """Run `one_pass` until `seconds` have passed (at least min_passes).
    A pass that raised contributes no wall. Returns (walls, results, cpu_s,
    peak_rss); cpu_s leaves out the RSS sampler's own CPU."""
    walls, results, cpu = [], [], 0.0
    with PeakRss(tree) as peak:
        t_end = time.perf_counter() + seconds
        while len(results) < min_passes or time.perf_counter() < t_end:
            c0 = tree.sample()["cpu_s"]
            wall, res = attempt(one_pass)
            cpu += tree.sample()["cpu_s"] - c0
            if wall is not None:
                walls.append(wall)
            results.append(res)
    return walls, results, cpu - peak.own_cpu_s, peak.peak


def batch_metrics(walls, cpu_s, peak, docs, setup_s) -> dict:
    if not walls:  # every pass raised
        return {name: 0.0 for name, _unit in E2E_METRICS}
    return {
        "docs_per_s": docs / median(walls),
        "latency_p50_s": median(walls),
        "latency_p90_s": quantile(walls, 0.9),
        "cpu_us_per_doc": cpu_s * 1e6 / (docs * len(walls)),
        "peak_rss_mb": peak / 1e6,
        "setup_s": setup_s,
    }


class Profiler:
    """Cumulative-prefix profile of one pass: each prefix runs under its own
    job group; its wall, row counters and Spark stage totals are recorded."""

    def __init__(self, spark, tracer: Tracer, tree: ProcTree) -> None:
        self.spark, self.tracer, self.tree = spark, tracer, tree
        self.stats = SparkStats(spark)
        self.reps: list[dict] = []

    def new_rep(self) -> None:
        self.reps.append({})

    def run(self, name: str, action) -> object:
        group = f"{self.tracer.run_id}-{len(self.reps)}-{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"perfbench {name}")
        c0 = self.tree.sample()
        with self.tracer.span(name, rep=len(self.reps)) as sp:
            t0 = time.perf_counter()
            out = action()
            wall = time.perf_counter() - t0
        c1 = self.tree.sample()
        sc.setJobGroup("perfbench", "perfbench")
        st = self.stats.group(group)
        st["py_worker_cpu_s"] = c1["py_worker_cpu_s"] - c0["py_worker_cpu_s"]
        sp["spark"] = st
        self.reps[-1][name] = {"wall": wall, **st}
        return out

    def medians(self, names: list[str]) -> dict[str, dict]:
        out = {}
        for n in names:
            recs = [r[n] for r in self.reps if n in r]
            out[n] = {k: median([x[k] for x in recs]) for k in recs[0]}
        return out


def traced_reps(seconds: float, plain_pass, subset_pass, profile, prof: Profiler, min_reps: int = 3):
    """Alternate a profiled pass with an untraced full pass and an untraced
    subset pass until `seconds` have passed (at least min_reps). The first
    rep, still warming the prefix plans, is dropped from the timings. Returns
    (untraced full walls, subset walls, [(label, result, is_subset)]) with
    every pass's result, for checking."""
    untraced, subset, results = [], [], []
    t_end = time.perf_counter() + seconds
    while len(untraced) < min_reps or time.perf_counter() < t_end:
        i = len(untraced)
        prof.new_rep()
        results.append((f"profiled pass {i}", attempt(lambda: (0.0, profile()))[1], False))
        wall, res = attempt(plain_pass)
        untraced.append(wall)
        results.append((f"untraced pass {i}", res, False))
        wall, res = attempt(subset_pass)
        subset.append(wall)
        results.append((f"subset pass {i}", res, True))
    del untraced[0], subset[0], prof.reps[0]
    return [w for w in untraced if w is not None], [w for w in subset if w is not None], results


def chain_table(prof: dict[str, dict], chain: list[str], rows: dict) -> list[dict]:
    """Per-layer self values (prefix k minus prefix k-1) for the report."""
    walls = prefix_self_times([(n, prof[n]["wall"]) for n in chain])
    shuffle = prefix_self_times([(n, prof[n]["shuffle_write_mb"]) for n in chain])
    return [
        {
            "layer": n,
            "self_s": walls[n],
            "prefix_s": prof[n]["wall"],
            "rows_in": rows.get(n, (None, None))[0],
            "rows_out": rows.get(n, (None, None))[1],
            "shuffle_mb": shuffle[n],
            "skew": prof[n]["task_skew"],
        }
        for n in chain
    ]


def spark_layer_metrics(full: dict, cores: int) -> dict:
    return {
        "spark.shuffle_write_mb": full["shuffle_write_mb"],
        "spark.fetch_wait_s": full["fetch_wait_s"],
        "spark.spill_mb": full["spill_mb"],
        "spark.gc_s": full["gc_s"],
        "spark.cpu_busy_frac": full["cpu_s"] / (full["wall"] * cores),
        "spark.failed_tasks": full["failed_tasks"],
        "python.eval_s": full["py_worker_cpu_s"],
    }


def trace_summary(layer_sum: float, untraced: list[float], traced_full: float) -> dict:
    u = median(untraced)
    return {
        "trace.layer_sum_s": layer_sum,
        "trace.untraced_wall_s": u,
        "trace.overhead_frac": (traced_full - u) / u,
    }


class BatchWorkload:
    """Shared shape of the batch workloads: warm up, then time untraced
    passes, or alternate untraced passes with the traced prefix chain, and
    check every pass (warm-up included) against `self.expected`, or against
    `self.subset_expected` for a pass over the single file `subset_path`.
    Subclasses provide prepare(), one_pass(spark, path=None), _profile(),
    _layers() and mismatch(), and set subset_path, subset_expected, docs and
    subset_docs in prepare()."""

    name = ""
    warmup_full_passes = 1

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work

    def run(self, spark, seconds: float, trace: bool, t_setup0: float, tracer: Tracer, tree: ProcTree) -> Outcome:
        def full():
            return self.one_pass(spark)

        def subset():
            return self.one_pass(spark, self.subset_path)

        checks = []  # (label, result, is_subset)
        warm = []
        for i, p in enumerate([subset] + [full] * self.warmup_full_passes):
            wall, res = attempt(p)
            warm.append(None if wall is None else round(wall, 3))
            checks.append((f"warm-up pass {i}", res, i == 0))
        setup_s = time.perf_counter() - t_setup0
        out = Outcome(info={"corpus": self.props, "warmup_walls_s": warm})
        if trace:
            prof = Profiler(spark, tracer, tree)
            untraced, subset_walls, results = traced_reps(
                seconds, full, subset, lambda: self._profile(spark, prof), prof
            )
            checks += results
            out.layers, out.prefix_table = self._layers(prof, untraced)
            out.layers["trace.fixed_frac"] = fixed_cost_share(
                median(subset_walls), self.subset_docs, median(untraced), self.docs
            )
            out.info.update(
                reps=len(prof.reps),
                subset_docs=self.subset_docs,
                subset_walls_s=[round(w, 3) for w in subset_walls],
            )
        else:
            walls, results, cpu, peak = timed_passes(seconds, full, tree)
            checks += [(f"pass {i}", r, False) for i, r in enumerate(results)]
            out.metrics = batch_metrics(walls, cpu, peak, self.docs, setup_s)
            out.info["pass_walls_s"] = [round(w, 3) for w in walls]
        out.attempted = len(checks)
        for label, got, is_subset in checks:
            want = self.subset_expected if is_subset else self.expected
            if isinstance(got, PassError):
                out.failures.append(f"{label} raised: {got.message}")
            elif got != want:
                out.failures.append(f"{label}: {self.mismatch(got, want)}")
            else:
                continue
            out.failed += 1
        return out


# ------------------------------------------------------------ batch_counts


class BatchCounts(BatchWorkload):
    """parse -> route -> sink_counts -> collect over small multi-file pages."""

    name = "batch_counts"
    warmup_full_passes = WARMUP_FULL_PASSES

    def prepare(self, seconds: float) -> None:
        def build(path):
            pages, spec = gen.gen_pages(gen.rng_for(self.seed, self.name), COUNTS_PAGES)
            _write_files(pages, os.path.join(path, "pages"), COUNTS_FILES)
            first = spec.slice(0, _file_rows(spec.num_rows, COUNTS_FILES))
            _save_json(os.path.join(path, "expected.json"), oracle.expected_counts(spec))
            _save_json(os.path.join(path, "expected_subset.json"), oracle.expected_counts(first))
            _save_json(os.path.join(path, "props.json"), gen.page_props(pages, spec))

        d = _cached(os.path.join(self.work, "inputs", f"{self.name}-s{self.seed}-g{gen.GEN_VERSION}"), build)
        self.pages_path = os.path.join(d, "pages")
        self.subset_path = os.path.join(self.pages_path, "part-0000.parquet")
        self.expected = _load_json(os.path.join(d, "expected.json"))
        self.subset_expected = _load_json(os.path.join(d, "expected_subset.json"))
        self.props = _load_json(os.path.join(d, "props.json"))
        self.docs = self.props["pages"]
        self.subset_docs = _file_rows(self.docs, COUNTS_FILES)

    def one_pass(self, spark, path=None):
        t0 = time.perf_counter()
        pages = read_pages(spark, path or self.pages_path)
        rows = sink_counts(route(parse_events(with_host(pages)), build_routing_dim(spark))).collect()
        return time.perf_counter() - t0, oracle.rows_to_counts(rows)

    def _layers(self, prof: Profiler, untraced: list[float]):
        chain = ["sources", "parse", "route", "aggregate"]
        m = prof.medians(chain + ["parse_full"])
        selfs = prefix_self_times([(n, m[n]["wall"]) for n in chain])
        layers = {
            "sources.self_s": selfs["sources"],
            "sources.rows_out": self._rows["sources"][1],
            "parse.self_s": selfs["parse"],
            "parse.rows_in": self._rows["parse"][0],
            "parse.rows_out": self._rows["parse"][1],
            "parse.ok_frac": self._ok_frac,
            "parse.text_bytes_s": m["parse_full"]["wall"] - m["parse"]["wall"],
            "route.self_s": selfs["route"],
            "route.matched_frac": self._matched_frac,
            "route.broadcast_mb": m["route"]["broadcast_mb"],
            "aggregate.self_s": selfs["aggregate"],
            "aggregate.shuffle_write_mb": m["aggregate"]["shuffle_write_mb"] - m["route"]["shuffle_write_mb"],
            **spark_layer_metrics(m["aggregate"], nproc()),
            **trace_summary(sum(selfs.values()), untraced, m["aggregate"]["wall"]),
        }
        return layers, chain_table(m, chain, self._rows)

    def mismatch(self, got, want) -> str:
        return f"sink counts differ from the oracle: {_diff(got, want)}"

    def _profile(self, spark, prof: Profiler):
        path = self.pages_path
        obs = {k: Observation(f"{k}_{len(prof.reps)}") for k in ("sources", "parse", "route")}
        prof.run(
            "sources",
            lambda: noop(read_pages(spark, path).select("url", "lang", "html").observe(obs["sources"], F.count(F.lit(1)).alias("n"))),
        )
        parsed_cols = ["lang", "host", "event_type", "parse_status"]
        prof.run(
            "parse",
            lambda: noop(
                parse_events(with_host(read_pages(spark, path)))
                .select(*parsed_cols)
                .observe(
                    obs["parse"],
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("parse_status") == "ok", 1).otherwise(0)).alias("ok"),
                )
            ),
        )
        prof.run("parse_full", lambda: noop(parse_events(with_host(read_pages(spark, path)))))
        prof.run(
            "route",
            lambda: noop(
                route(parse_events(with_host(read_pages(spark, path))), build_routing_dim(spark))
                .select("sink_id", "event_type")
                .observe(
                    obs["route"],
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("sink_id") != "error", 1).otherwise(0)).alias("matched"),
                )
            ),
        )
        counts = prof.run("aggregate", lambda: self.one_pass(spark)[1])
        src, par, rou = (obs[k].get for k in ("sources", "parse", "route"))
        self._rows = {
            "sources": (src["n"], src["n"]),
            "parse": (src["n"], par["n"]),
            "route": (par["n"], rou["n"]),
            "aggregate": (rou["n"], len(counts)),
        }
        self._ok_frac = par["ok"] / par["n"]
        self._matched_frac = rou["matched"] / rou["n"]
        return counts


def _diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want))
    bad = [f"{k}: got {got.get(k)} want {want.get(k)}" for k in keys if got.get(k) != want.get(k)]
    return "; ".join(bad[:5]) + (f" (+{len(bad) - 5} more)" if len(bad) > 5 else "")


# ------------------------------------------------------------ stream_fanout


def _source_log(ckpt: str) -> dict[str, int]:
    """landed file name -> micro-batch id, from the file source's log."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(d, name)) as f:
                lines = f.read().splitlines()
        except OSError:
            continue
        for line in lines[1:]:  # first line is the log version
            if line.startswith("{"):
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_times(out_dir: str) -> dict[int, float]:
    """micro-batch id -> commit time (epoch s) of its manifest."""
    d = os.path.join(out_dir, "_manifests")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith("batch_") and name.endswith(".json"):
                out[int(name[6:-5])] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def latencies(scheduled: dict[str, float], file_batch: dict[str, int], commits: dict[int, float]):
    """Per landed file: commit time of the batch that read it minus its
    *scheduled* landing time. Files never committed are returned apart."""
    lat, missing = {}, []
    for name, due in scheduled.items():
        b = file_batch.get(name)
        if b is not None and b in commits:
            lat[name] = commits[b] - due
        else:
            missing.append(name)
    return lat, missing


class Lander(threading.Thread):
    """Open-loop generator: lands file i at t0 + i / rate, however far
    behind the pipeline is. Landing is a copy then an atomic rename."""

    def __init__(self, staged: list[str], landing: str, tmp: str, t0: float, rate: float) -> None:
        super().__init__(daemon=True)
        self.staged, self.landing, self.tmp, self.t0, self.rate = staged, landing, tmp, t0, rate
        self.scheduled: dict[str, float] = {}
        self.late: list[float] = []
        self.landed = 0
        self.cpu_s = 0.0  # this thread's CPU: the benchmark's, not the program's

    def run(self) -> None:
        c0 = time.thread_time()
        for i, src in enumerate(self.staged):
            due = self.t0 + i / self.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(src)
            tmp = os.path.join(self.tmp, name)
            shutil.copyfile(src, tmp)
            os.rename(tmp, os.path.join(self.landing, name))
            self.late.append(time.time() - due)
            self.scheduled[name] = due
            self.landed += 1
            self.cpu_s = time.thread_time() - c0


class StreamFanout:
    """start_pipeline_stream over small-page files landed on a schedule."""

    name = "stream_fanout"
    # the program's default, which the benchmark does not override
    files_per_trigger = inspect.signature(stream_mod.start_pipeline_stream).parameters[
        "max_files_per_trigger"
    ].default

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work

    def prepare(self, seconds: float) -> None:
        n_files = STREAM_WARMUP_FILES + max(STREAM_MIN_FILES, round(seconds * STREAM_RATE_FILES_PER_S))

        def build(path):
            pages, spec = gen.gen_pages(gen.rng_for(self.seed, self.name), n_files * STREAM_PAGES_PER_FILE)
            files = _write_files(pages, os.path.join(path, "staged"), n_files)
            spec = spec.append_column(
                "file", pa.array([i // STREAM_PAGES_PER_FILE for i in range(spec.num_rows)], pa.int32())
            )
            by_file = oracle.expected_counts_by_file(spec)
            _save_json(os.path.join(path, "expected.json"), {os.path.basename(files[f]): c for f, c in by_file.items()})
            _save_json(os.path.join(path, "props.json"), {**gen.page_props(pages, spec), "files": n_files})
            pq.write_table(pages.select(["url", "html"]), os.path.join(path, "html.parquet"))

        d = _cached(
            os.path.join(self.work, "inputs", f"{self.name}-s{self.seed}-n{n_files}-g{gen.GEN_VERSION}"), build
        )
        self.staged = sorted(
            os.path.join(d, "staged", n) for n in os.listdir(os.path.join(d, "staged"))
        )
        self.expected = _load_json(os.path.join(d, "expected.json"))
        self.props = _load_json(os.path.join(d, "props.json"))
        self.html_path = os.path.join(d, "html.parquet")

    def run(self, spark, seconds: float, trace: bool, t_setup0: float, tracer: Tracer, tree: ProcTree) -> Outcome:
        run_dir = os.path.join(self.work, "run", self.name)
        shutil.rmtree(run_dir, ignore_errors=True)
        landing, out_dir, ckpt, tmp = (os.path.join(run_dir, x) for x in ("landing", "out", "ckpt", "tmp"))
        for p in (landing, tmp):
            os.makedirs(p)
        warm, scheduled = self.staged[:STREAM_WARMUP_FILES], self.staged[STREAM_WARMUP_FILES:]
        measured = {os.path.basename(f) for f in scheduled}
        out = Outcome(info={"corpus": self.props})
        orig_write = self._instrument(tracer) if trace else None
        q = stream_mod.start_pipeline_stream(spark, landing, out_dir, ckpt, processing_time=STREAM_TRIGGER)
        try:
            for f in warm:  # one file at a time, each committed
                shutil.copyfile(f, os.path.join(tmp, os.path.basename(f)))
                os.rename(os.path.join(tmp, os.path.basename(f)), os.path.join(landing, os.path.basename(f)))
                self._wait_committed(q, ckpt, out_dir, [os.path.basename(f)], time.time() + 120)
            # open loop from here on; every scheduled landing is measured
            t_win = time.time() + 0.05
            lander = Lander(scheduled, landing, tmp, t_win, STREAM_RATE_FILES_PER_S)
            setup_s = time.perf_counter() - t_setup0
            c0, main_cpu0 = tree.sample(), time.thread_time()
            lander.start()
            backlog = 0
            with PeakRss(tree) as peak:
                deadline = t_win + len(scheduled) / STREAM_RATE_FILES_PER_S + STREAM_GRACE_S
                names = [os.path.basename(f) for f in scheduled]
                while time.time() < deadline and q.isActive:
                    fb, cm = _source_log(ckpt), _commit_times(out_dir)
                    done = sum(1 for n in names[: lander.landed] if fb.get(n) in cm)
                    backlog = max(backlog, lander.landed - done)
                    if lander.landed == len(names) and done == len(names):
                        break
                    time.sleep(STREAM_POLL_S)
                lander.join(timeout=60)
            c1 = tree.sample()
            # the polling loop, the lander and the RSS sampler are the benchmark's own work
            bench_cpu = (time.thread_time() - main_cpu0) + lander.cpu_s + peak.own_cpu_s
            cpu = c1["cpu_s"] - c0["cpu_s"] - bench_cpu
            # a batch's progress event lands just after its manifest commit
            last = max(_commit_times(out_dir), default=0)
            progress = self._progress(q, last, time.time() + 10)
            error = q.exception()
        finally:
            q.stop()
            if orig_write is not None:
                stream_mod.write_fanout = orig_write
        if error is not None:
            out.failures.append(f"stream query failed: {error}")

        file_batch, commits = _source_log(ckpt), _commit_times(out_dir)
        lat, missing = latencies(lander.scheduled, file_batch, commits)
        for n in missing:
            out.failures.append(f"{n} landed but was not committed")
        bad_batches = self._check_batches(out, file_batch, commits, out_dir)
        checked = measured | {os.path.basename(f) for f in warm}
        failed = {n for n in missing if n in checked} | {
            n for n, b in file_batch.items() if b in bad_batches and n in checked
        }
        out.attempted = len(checked)
        out.failed = len(failed) + len(measured - set(lander.scheduled))
        ok_lat = [v for n, v in lat.items() if n in measured and n not in failed]
        docs = STREAM_PAGES_PER_FILE * len(ok_lat)
        last_commit = max((commits[file_batch[n]] for n in lat if n in measured), default=t_win + 1)
        measured_batches = sorted({file_batch[n] for n in lat if n in measured})
        out.metrics = {
            "docs_per_s": docs / (last_commit - t_win) if docs else 0.0,
            "latency_p50_s": median(ok_lat) if ok_lat else 0.0,
            "latency_p90_s": quantile(ok_lat, 0.9) if ok_lat else 0.0,
            "cpu_us_per_doc": cpu * 1e6 / docs if docs else 0.0,
            "peak_rss_mb": peak.peak / 1e6,
            "setup_s": setup_s,
        }
        by_batch = {p["batchId"]: p for p in progress if p.get("numInputRows", 0) > 0}
        mb = [by_batch[b] for b in measured_batches if b in by_batch]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in mb]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in mb]
        out.info.update(
            batch_trigger_s=[round(p["durationMs"].get("triggerExecution", 0) / 1e3, 3) for p in progress],
            batch_files=[p.get("numInputRows", 0) // STREAM_PAGES_PER_FILE for p in progress],
            latency_samples=len(ok_lat),
            landing_files_per_s=STREAM_RATE_FILES_PER_S,
            max_files_per_trigger=self.files_per_trigger,
            # what the pipeline could drain: full triggers back to back
            drain_files_per_s=self.files_per_trigger / median(trig) if trig else 0.0,
        )
        out.layers = {
            "stream.batches": len(measured_batches),
            "stream.batch_s_p50": median(trig) if trig else 0.0,
            "stream.add_batch_s": median(add) if add else 0.0,
            "stream.overhead_s": median([t - a for t, a in zip(trig, add)]) if trig else 0.0,
            "stream.backlog_files": backlog,
            "bench.gen_late_s": max(lander.late) if lander.late else 0.0,
            "python.eval_s": (c1["py_worker_cpu_s"] - c0["py_worker_cpu_s"]) / max(1, len(measured_batches)),
        }
        if trace:
            self._trace_layers(spark, out, tracer, tree, q, progress, measured_batches, landing, out_dir)
        return out

    @staticmethod
    def _progress(q, last_batch: int, deadline: float) -> list[dict]:
        while True:
            progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
            if time.time() > deadline or any(p["batchId"] >= last_batch for p in progress):
                return progress
            time.sleep(0.05)

    def _wait_committed(self, q, ckpt, out_dir, names, deadline) -> None:
        while time.time() < deadline and q.isActive:
            fb, cm = _source_log(ckpt), _commit_times(out_dir)
            if all(fb.get(n) in cm for n in names):
                return
            time.sleep(0.05)
        raise RuntimeError(f"warm-up file(s) {names} not committed: {q.exception()}")

    def _check_batches(self, out: Outcome, file_batch, commits, out_dir) -> set[int]:
        """Each committed manifest must hold exactly the oracle's counts for
        the files its batch read, and sampled urls must carry byte-identical
        body text. Returns the batch ids that failed."""
        files_of: dict[int, list[str]] = {}
        for n, b in file_batch.items():
            files_of.setdefault(b, []).append(n)
        bad = set()
        for m in sinks_mod.read_manifests(out_dir):
            b = m["batch_id"]
            want: dict = {}
            for n in files_of.get(b, []):
                oracle.add_counts(want, self.expected[n])
            if m["sink_counts"] != want:
                bad.add(b)
                out.failures.append(f"batch {b}: manifest counts differ: {_diff(m['sink_counts'], want)}")
        committed = {n for n, b in file_batch.items() if b in commits}
        html = pq.read_table(self.html_path).to_pydict()
        file_of = {
            u: os.path.basename(self.staged[i // STREAM_PAGES_PER_FILE]) for i, u in enumerate(html["url"])
        }
        cand = [(u, h) for u, h in zip(html["url"], html["html"]) if h and file_of[u] in committed]
        sample = dict(random.Random(self.seed).sample(cand, min(TEXT_SAMPLE_URLS, len(cand))))
        for u in oracle.text_bytes_mismatches(os.path.join(out_dir, "data"), sample) if sample else []:
            bad.add(file_batch[file_of[u]])
            out.failures.append(f"text_bytes of {u} differ from the scalar parse")
        return bad

    def _instrument(self, tracer: Tracer):
        """Span around the program's per-batch fan-out write, on odd batches
        only, so the even ones give the same run's untraced batch time.
        Returns the original function, to be put back."""
        orig = stream_mod.write_fanout

        def write_fanout(routed, out_dir, batch_id=0):
            if batch_id % 2 == 0:
                return orig(routed, out_dir, batch_id=batch_id)
            with tracer.span("sinks", batch=batch_id):
                return orig(routed, out_dir, batch_id=batch_id)

        stream_mod.write_fanout = write_fanout
        return orig

    def _trace_layers(self, spark, out, tracer, tree, q, progress, measured, landing, out_dir) -> None:
        """Per-layer split of a micro-batch: Spark's trigger overhead
        (triggerExecution - addBatch), the driver-side plan build inside
        addBatch (dim, parse, route), and the fan-out write. Odd batches
        carry the span; even batches give the untraced batch wall."""
        sink = {s["batch"]: s["end"] - s["start"] for s in tracer.spans if s["name"] == "sinks"}
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        trig = {p["batchId"]: p["durationMs"].get("triggerExecution", 0) / 1e3 for p in data}
        add = {p["batchId"]: p["durationMs"].get("addBatch", 0) / 1e3 for p in data}
        odd = [b for b in measured if b in sink and b in trig]
        even = [b for b in measured if b not in sink and b in trig]
        overhead = median([trig[b] - add[b] for b in odd]) if odd else 0.0
        plan_s = median([add[b] - sink[b] for b in odd]) if odd else 0.0
        sink_s = median([sink[b] for b in odd]) if odd else 0.0
        untraced = median([trig[b] for b in even]) if even else 0.0
        traced = median([trig[b] for b in odd]) if odd else 0.0
        out.prefix_table = [
            {"layer": "stream (trigger - addBatch)", "self_s": overhead},
            {"layer": "plan build (dim, parse, route)", "self_s": plan_s},
            {"layer": "sinks (write_fanout)", "self_s": sink_s},
        ]
        # whole-query stage totals, per data micro-batch
        full = SparkStats(spark).group(str(q.runId))
        n = max(1, len(data))
        # the parse layer's text_bytes pass over the landed corpus: the
        # counts projection against the fan-out's full projection
        prof = Profiler(spark, tracer, tree)
        for _ in range(3):
            prof.new_rep()
            prof.run("parse", lambda: noop(parse_events(with_host(read_pages(spark, landing))).select("lang", "host", "event_type", "parse_status")))
            prof.run("parse_full", lambda: noop(parse_events(with_host(read_pages(spark, landing)))))
        p = prof.medians(["parse", "parse_full"])
        out.layers.update(
            {
                "parse.text_bytes_s": p["parse_full"]["wall"] - p["parse"]["wall"],
                "sinks.self_s": sink_s,
                "sinks.shuffle_write_mb": full["shuffle_write_mb"] / n,
                "sinks.task_skew": full["task_skew"],
                "sinks.files": median([len(m["files"]) for m in sinks_mod.read_manifests(out_dir)]),
                "sinks.output_mb": full["output_mb"] / n,
                "route.broadcast_mb": full["broadcast_mb"] / n,
                "spark.shuffle_write_mb": full["shuffle_write_mb"] / n,
                "spark.fetch_wait_s": full["fetch_wait_s"] / n,
                "spark.spill_mb": full["spill_mb"] / n,
                "spark.gc_s": full["gc_s"] / n,
                "spark.cpu_busy_frac": full["cpu_s"] / (sum(trig.values()) * nproc()) if trig else 0.0,
                "spark.failed_tasks": full["failed_tasks"],
                "trace.layer_sum_s": overhead + plan_s + sink_s,
                "trace.untraced_wall_s": untraced,
                "trace.overhead_frac": traced / untraced - 1 if odd and even else 0.0,
            }
        )


# ------------------------------------------------------------ curation_export


class CurationExport(BatchWorkload):
    """run_curation_export over a replicated document corpus."""

    name = "curation_export"
    warmup_full_passes = CURATION_WARMUP_FULL_PASSES

    def prepare(self, seconds: float) -> None:
        def build(path):
            docs = gen.gen_documents(gen.rng_for(self.seed, self.name), CURATION_BASE_DOCS, CURATION_REPLICAS)
            _write_files(docs, os.path.join(path, "docs"), CURATION_FILES)
            first = docs.slice(0, _file_rows(docs.num_rows, CURATION_FILES))
            _save_json(os.path.join(path, "expected.json"), oracle.curation_expected(docs))
            _save_json(os.path.join(path, "expected_subset.json"), oracle.curation_expected(first))
            _save_json(os.path.join(path, "props.json"), gen.doc_props(docs))

        d = _cached(os.path.join(self.work, "inputs", f"{self.name}-s{self.seed}-g{gen.GEN_VERSION}"), build)
        self.docs_path = os.path.join(d, "docs")
        self.subset_path = os.path.join(self.docs_path, "part-0000.parquet")
        self.expected = [tuple(r) for r in _load_json(os.path.join(d, "expected.json"))]
        self.subset_expected = [tuple(r) for r in _load_json(os.path.join(d, "expected_subset.json"))]
        self.props = _load_json(os.path.join(d, "props.json"))
        self.docs = self.props["docs"]
        self.subset_docs = _file_rows(self.docs, CURATION_FILES)
        self.out_dir = os.path.join(self.work, "run", self.name, "shards")

    def one_pass(self, spark, path=None):
        t0 = time.perf_counter()
        docs = spark.read.parquet(path or self.docs_path)
        rows = run_curation_export(spark, docs, self.out_dir).collect()
        wall = time.perf_counter() - t0
        persist_drain()  # the next pass must not reuse this pass's cached survivors
        return wall, sorted((r["shard"], r["n_docs"], r["shard_tokens"]) for r in rows)

    def _layers(self, prof: Profiler, untraced: list[float]):
        chain = ["sources", "decontaminate", "curate", "export"]
        m = prof.medians(chain + ["dsir"])
        n = self.docs
        rows = {"sources": (n, n), "decontaminate": (n, None), "curate": (n, None), "export": (None, len(self.expected))}
        selfs = prefix_self_times([(k, m[k]["wall"]) for k in chain])
        layers = {
            "sources.self_s": selfs["sources"],
            "sources.rows_out": n,
            "curation.decontaminate_s": selfs["decontaminate"],
            "curation.dsir_s": m["dsir"]["wall"] - m["sources"]["wall"],
            "curation.curate_s": selfs["curate"],
            "curation.export_s": selfs["export"],
            "curation.broadcast_mb": m["curate"]["broadcast_mb"],
            "curation.persist_mb": self._persist_mb,
            **spark_layer_metrics(m["export"], nproc()),
            **trace_summary(sum(selfs.values()), untraced, m["export"]["wall"]),
        }
        return layers, chain_table(m, chain, rows)

    def mismatch(self, got, want) -> str:
        return f"shard stats differ from curation_oracle_sql ({len(got)} vs {len(want)} shards)"

    def _profile(self, spark, prof: Profiler):
        path = self.docs_path

        def docs():
            return spark.read.parquet(path)

        prof.run("sources", lambda: noop(docs().select("doc_id", "lang", "text")))
        prof.run("decontaminate", lambda: noop(decontaminate(docs())))
        prof.run("dsir", lambda: noop(dsir_doc_scores(docs())))

        prof.run("curate", lambda: noop(curate_corpus(docs())))
        self._persist_mb = prof.stats.persisted_mb()
        persist_drain()

        def export():
            write_training_shards(curate_corpus(docs()), self.out_dir)
            return read_shard_stats(spark, self.out_dir).collect()

        rows = prof.run("export", export)
        persist_drain()
        return sorted((r["shard"], r["n_docs"], r["shard_tokens"]) for r in rows)


WORKLOADS = {c.name: c for c in (BatchCounts, StreamFanout, CurationExport)}
