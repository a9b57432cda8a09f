"""Workload drivers: state reset, the timed run, the oracle check and the
decomposed traced replay for each workload, and the measurement loops.

The loop is closed: one run at a time, the next starting when the previous
one has returned and been checked. State reset and checking happen outside
the timed window.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from megalista_spark.functions.hashing import ads_pii_expressions, dv_pii_expressions
from megalista_spark.models.execution import DestinationType as D
from megalista_spark.models.execution import (
    Source,
    SourceType,
    TransactionalType,
    group_executions_by_source,
)
from megalista_spark.operators.dedup import exact_dedup, min_label_groups, minhash_lsh_pairs
from megalista_spark.pipeline import run_from_config
from megalista_spark.schema.registry import aggregate_custom_variables, get_schema
from megalista_spark.sinks.executor import SinkExecutor
from megalista_spark.sources.config_json import load_executions_from_json
from megalista_spark.sources.data_source import anti_join_uploaded, get_data_source

from actbench import gen
from actbench.fakes import read_stats, transport_factory
from actbench.oracle import ActivationOracle, CorpusOracle
from actbench.tracing import Tracer

# JIT and codegen keep shortening the runs after the cold one for a few
# runs; run_s is the median of the runs after these warm-up runs.
WARMUP_RUNS = 2
MIN_STEADY_RUNS = 3

# The row transform Pipeline applies per destination type, named by the
# public functions of the functions layer.
TRANSFORMS = {
    D.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: ads_pii_expressions,
    D.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD: ads_pii_expressions,
    D.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD: ads_pii_expressions,
    D.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: dv_pii_expressions,
    D.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD: dv_pii_expressions,
}

# (name, unit) of every per-layer metric, in output order
PER_LAYER = [
    ("sources.config_load_s", "s"), ("sources.read_s", "s"), ("sources.rows_read", "count"),
    ("sources.control_read_s", "s"), ("sources.control_rows", "count"),
    ("sources.control_files_scanned", "count"), ("sources.anti_join_s", "s"),
    ("sources.anti_join_keep_ratio", "ratio"), ("sources.control_append_s", "s"),
    ("sources.control_files_written", "count"),
    ("schema.apply_s", "s"),
    ("functions.pii_shape_s", "s"), ("functions.rows_dropped", "count"),
    ("sinks.run_s", "s"), ("sinks.send_s", "s"), ("sinks.chunks", "count"),
    ("sinks.rows_sent", "count"), ("sinks.rows_accepted", "count"),
    ("sinks.api_calls", "count"), ("sinks.retries", "count"),
    ("sinks.accept_ratio", "ratio"), ("sinks.upload_tasks", "count"),
    ("pipeline.branches", "count"), ("pipeline.spark_jobs", "count"),
    ("pipeline.spark_tasks", "count"), ("pipeline.overhead_s", "s"),
    ("pipeline.traced_run_s", "s"), ("pipeline.trace_overhead_s", "s"),
    ("operators.exact_dedup_s", "s"), ("operators.lsh_pairs_s", "s"),
    ("operators.candidate_pairs", "count"), ("operators.label_groups_s", "s"),
    ("operators.apply_s", "s"), ("operators.survivors", "count"),
    ("operators.pair_precision", "ratio"), ("operators.near_dups_removed", "count"),
    ("session.get_spark_s", "s"), ("session.first_action_s", "s"), ("session.workers_s", "s"),
]
# spans whose self time is a layer's; the rest (the traced run itself and
# the replay root) are not layers
LAYER_SPANS = {
    "sources.config_load", "sources.read", "sources.control_read", "sources.anti_join",
    "sources.control_append", "schema.apply", "functions.pii_shape", "sinks.run",
    "operators.exact_dedup", "operators.lsh_pairs", "operators.label_groups", "operators.apply",
}


@dataclass
class Outcome:
    """Oracle verdict on one run. ``work`` is what rows_per_s counts."""

    problems: list[str]
    attempted: int
    failed: int
    work: int


@dataclass
class Replay:
    """Counters of one decomposed replay (spans go to the tracer)."""

    counts: dict[str, float] = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.cache()
    return df, df.count()


def _data_files(path: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def scanned_files(df: DataFrame) -> int:
    """Files a scan of ``df`` reads after partition pruning: executes the
    DataFrame's own physical plan in the JVM and sums the scans' numFiles."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        metrics = leaves.apply(i).metrics()
        if metrics.contains("numFiles"):
            total += metrics.apply("numFiles").value()
    return total


class Activation:
    """activation_fresh, activation_incremental and config_fanout: one
    Pipeline run over the generated config, fakes behind every adapter."""

    def __init__(self, spark: SparkSession, inputs: str, config_path: str, work: str, today: dt.date):
        self.spark, self.inputs, self.config_path, self.work = spark, inputs, config_path, work
        with open(config_path) as f:
            self.sources = [s["Name"] for s in json.load(f)["Sources"]]
        pristine = os.path.join(inputs, "pristine")
        self.oracle = ActivationOracle(config_path, pristine if os.path.isdir(pristine) else None, today)
        self.tag = 0

    def reset(self) -> None:
        """Drop cached frames left by earlier runs, restore each control
        table to its generated state (absent, or the seeded partitions), and
        start a fresh directory for the fake APIs' task stats."""
        self.spark.catalog.clearCache()
        for src in self.sources:
            live = gen.control_path(self.inputs, src)
            shutil.rmtree(live, ignore_errors=True)
            pristine = gen.pristine_control_path(self.inputs, src)
            if os.path.isdir(pristine):
                shutil.copytree(pristine, live)
        self.tag += 1
        self.stats_dir = os.path.join(self.work, "stats", str(self.tag))
        self.factory = transport_factory(self.stats_dir)

    def run(self) -> list[dict]:
        return run_from_config(self.spark, self.config_path, self.factory).summary()

    def check(self, summary: list[dict]) -> Outcome:
        problems = self.oracle.check(
            summary, read_stats(self.stats_dir), lambda s: gen.control_path(self.inputs, s)
        )
        got = {s["destination"]: s["rows_uploaded"] for s in summary}
        expected = self.oracle.branches
        return Outcome(
            problems,
            attempted=sum(e["rows"] for e in expected.values()),
            failed=sum(abs(e["rows"] - got.get(d, 0)) for d, e in expected.items()),
            work=sum(got.values()),
        )

    def replay(self, tracer: Tracer, run_id: str) -> tuple[list[dict], Replay]:
        """Pipeline.run decomposed into its layers' public calls, in
        pipeline order; each step's input is cached and materialized by the
        step before, so each span is that layer's self time."""
        rep = Replay()
        summary = []
        with tracer.span("sources.config_load", run_id):
            executions = load_executions_from_json(self.config_path)
        for execs in group_executions_by_source(executions).values():
            ds = get_data_source(self.spark, execs[0].source)
            with tracer.span("sources.read", run_id):
                raw, n = _materialize(ds.read_raw())
            rep.add("sources.rows_read", n)
            for e in execs:
                rep.add("pipeline.branches", 1)
                dtype = e.destination.destination_type
                schema = get_schema(dtype)
                with tracer.span("schema.apply", run_id):
                    df = schema.apply(raw)
                    if dtype is D.CM_OFFLINE_CONVERSION:
                        df = aggregate_custom_variables(df)
                    df, n = _materialize(df)
                txn = schema.transactional_type
                control = None
                if txn != TransactionalType.NOT_TRANSACTIONAL:
                    control = ds.control_table(txn)
                    with tracer.span("sources.control_read", run_id):
                        uploaded, n_ctl = _materialize(control.read())
                    rep.add("sources.control_rows", n_ctl)
                    rep.add("sources.control_files_scanned", scanned_files(control.read()))
                    with tracer.span("sources.anti_join", run_id):
                        df, n_out = _materialize(anti_join_uploaded(df, uploaded, txn))
                    rep.add("keep_in", n)
                    rep.add("keep_out", n_out)
                    n = n_out
                transform = TRANSFORMS.get(dtype)
                if transform is not None:
                    with tracer.span("functions.pii_shape", run_id):
                        df, n_shaped = _materialize(transform(df))
                    rep.add("functions.rows_dropped", n - n_shaped)
                with tracer.span("sinks.run", run_id):
                    outcome = SinkExecutor.for_destination(self.factory(e), dtype).run(df)
                    accepted = outcome.success.count()
                    errors = outcome.errors.collect()
                if control is not None and accepted > 0:
                    before = _data_files(control.path)
                    with tracer.span("sources.control_append", run_id):
                        control.append(outcome.success.select(*txn.keys))
                    rep.add("sources.control_files_written", _data_files(control.path) - before)
                summary.append(
                    {"destination": e.destination.name, "rows_uploaded": accepted, "ok": not errors}
                )
        self.spark.catalog.clearCache()
        stats = read_stats(self.stats_dir)
        for name, key in (("sinks.send_s", "send_s"), ("sinks.chunks", "chunks"),
                          ("sinks.rows_sent", "rows"), ("sinks.rows_accepted", "accepted"),
                          ("sinks.api_calls", "calls"), ("sinks.retries", "retries"),
                          ("sinks.upload_tasks", "upload_tasks")):
            rep.add(name, sum(s[key] for s in stats.values()))
        return summary, rep


def _exact_kept(docs: DataFrame) -> DataFrame:
    return docs.join(exact_dedup(docs).select("doc_id"), "doc_id", "left_semi")


def _pairs(kept: DataFrame) -> DataFrame:
    return minhash_lsh_pairs(kept, num_hashes=16, bands=4).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )


def _groups(pairs: DataFrame, kept: DataFrame) -> DataFrame:
    return min_label_groups(pairs, kept.select(F.col("doc_id").alias("id")), iters=3)


def _survivor_ids(kept: DataFrame, groups: DataFrame) -> set[int]:
    losers = groups.where(~F.col("is_canonical")).select(F.col("id").alias("doc_id"))
    return {r[0] for r in kept.join(losers, "doc_id", "left_anti").select("doc_id").collect()}


class Corpus:
    """corpus_near_dedup: exact_dedup → minhash_lsh_pairs →
    min_label_groups → anti-join to the surviving documents."""

    def __init__(self, spark: SparkSession, inputs: str, config_path: str, work: str, today: dt.date):
        self.spark = spark
        path = gen.source_path(inputs, "documents")
        self.source = Source("documents", SourceType.FILE, ("PARQUET", path))
        self.oracle = CorpusOracle(path, os.path.join(inputs, "planted.json"))

    def reset(self) -> None:
        self.spark.catalog.clearCache()

    def run(self) -> set[int]:
        kept = _exact_kept(get_data_source(self.spark, self.source).read_raw())
        return _survivor_ids(kept, _groups(_pairs(kept), kept))

    def check(self, survivors: set[int]) -> Outcome:
        problems, self.near_removed = self.oracle.check(survivors)
        return Outcome(problems, attempted=self.oracle.documents,
                       failed=self.oracle.failed(survivors), work=self.oracle.documents)

    def replay(self, tracer: Tracer, run_id: str) -> tuple[set[int], Replay]:
        rep = Replay()
        with tracer.span("sources.read", run_id):
            docs, n = _materialize(get_data_source(self.spark, self.source).read_raw())
        rep.add("sources.rows_read", n)
        with tracer.span("operators.exact_dedup", run_id):
            kept, _ = _materialize(_exact_kept(docs))
        with tracer.span("operators.lsh_pairs", run_id):
            pairs, n_pairs = _materialize(_pairs(kept))
        with tracer.span("operators.label_groups", run_id):
            groups, _ = _materialize(_groups(pairs, kept))
        with tracer.span("operators.apply", run_id):
            survivors = _survivor_ids(kept, groups)
        true = sum(1 for a, b in pairs.collect() if self.oracle.true_pair(a, b))
        rep.add("operators.candidate_pairs", n_pairs)
        rep.add("operators.pair_precision", true / n_pairs if n_pairs else 0.0)
        rep.add("operators.survivors", len(survivors))
        self.spark.catalog.clearCache()
        return survivors, rep


WORKLOADS = {
    "activation_fresh": Activation,
    "activation_incremental": Activation,
    "config_fanout": Activation,
    "corpus_near_dedup": Corpus,
}


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid, self.interval_s = root_pid, interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def _sample(self) -> None:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:  # the process exited while we looked
                continue
            parent[int(name)] = int(fields["PPid"])
            rss[int(name)] = int(fields.get("VmRSS", "0 kB").split()[0])
        total = 0
        for pid in rss:
            p = pid
            while p in parent and p != self.root_pid:
                p = parent[p]
            if p == self.root_pid:
                total += rss[pid]
        self.peak_kb = max(self.peak_kb, total)


def _timed(w) -> tuple[float, Any]:
    t0 = time.perf_counter()
    result = w.run()
    return time.perf_counter() - t0, result


def measure(w, seconds: float, min_runs: int) -> list[tuple[float, Outcome]]:
    """Closed loop of reset → timed run → check, until ``seconds`` have
    passed since the first run began (stopping early rather than starting a
    run that would overrun), with at least ``min_runs`` runs."""
    start = time.perf_counter()
    runs = []
    while True:
        w.reset()
        dur, result = _timed(w)
        runs.append((dur, w.check(result)))
        if len(runs) >= min_runs and time.perf_counter() - start + dur > seconds:
            return runs


def warm_up(w) -> list[tuple[float, Outcome]]:
    """The cold run, then the warm-up runs."""
    return measure(w, 0, 1 + WARMUP_RUNS)


def _totals(runs: list[tuple[float, Outcome]]) -> dict[str, Any]:
    problems = [p for _, o in runs for p in o.problems]
    return {
        "correct": not problems,
        "attempted": sum(o.attempted for _, o in runs),
        "failed": sum(o.failed for _, o in runs),
        "problems": problems,
        "durations": [round(d, 3) for d, _ in runs],
    }


def end_to_end(w, seconds: float, jvm_pid: int) -> tuple[dict[str, float], dict[str, Any]]:
    """cold_run_s, run_s, rows_per_s and peak_rss_mb from untraced runs:
    the cold and warm-up runs, then ``seconds`` of steady-state runs."""
    with RssSampler(jvm_pid) as rss:
        runs = warm_up(w)
        runs += measure(w, seconds, MIN_STEADY_RUNS)
    run_s = statistics.median(d for d, _ in runs[1 + WARMUP_RUNS:])
    return (
        {
            "cold_run_s": runs[0][0],
            "run_s": run_s,
            "rows_per_s": runs[-1][1].work / run_s,
            "peak_rss_mb": rss.peak_kb / 1024,
        },
        _totals(runs),
    )


def per_layer(w, seconds: float, tracer: Tracer, session: dict[str, float]) -> tuple[dict[str, float], dict[str, Any]]:
    """The cold and warm-up runs, then iterations until ``seconds``: an
    untraced run, the same run inside a span, and the decomposed replay.
    Each metric is the median over iterations."""
    runs = warm_up(w)
    start = time.perf_counter()
    sc = w.spark.sparkContext
    samples: list[dict[str, float]] = []
    iteration_s = 0.0
    while not samples or time.perf_counter() - start + iteration_s <= seconds:
        t0 = time.perf_counter()
        w.reset()
        untraced, result = _timed(w)
        runs.append((untraced, w.check(result)))
        run_id = str(len(samples))
        group = f"actbench-{uuid.uuid4().hex}"
        w.reset()
        sc.setJobGroup(group, "traced run")
        with tracer.span("pipeline.run", run_id):
            dur, result = _timed(w)
        runs.append((dur, w.check(result)))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = sc.statusTracker().getJobInfo(job)
            for stage in info.stageIds if info else []:
                st = sc.statusTracker().getStageInfo(stage)
                tasks += st.numCompletedTasks if st else 0
        sc.setJobGroup("actbench-replay", "replay")
        w.reset()
        t1 = time.perf_counter()
        with tracer.span("replay", run_id):
            result, rep = w.replay(tracer, run_id)
        runs.append((time.perf_counter() - t1, w.check(result)))
        self_times = tracer.self_times(run_id)
        layers = {k: v for k, v in self_times.items() if k in LAYER_SPANS}
        m = dict(rep.counts)
        m.update({f"{k}_s": v for k, v in layers.items()})
        keep_in, keep_out = m.pop("keep_in", 0), m.pop("keep_out", 0)
        m["sources.anti_join_keep_ratio"] = keep_out / keep_in if keep_in else 0.0
        sent = m.get("sinks.rows_sent", 0)
        m["sinks.accept_ratio"] = m.get("sinks.rows_accepted", 0) / sent if sent else 0.0
        branches = m.get("pipeline.branches", 0)
        if branches:
            m["sinks.upload_tasks"] = m.get("sinks.upload_tasks", 0) / branches
        m["pipeline.spark_jobs"] = len(jobs)
        m["pipeline.spark_tasks"] = tasks
        m["pipeline.traced_run_s"] = dur
        m["pipeline.overhead_s"] = dur - sum(layers.values())
        m["pipeline.trace_overhead_s"] = dur - untraced
        m["operators.near_dups_removed"] = getattr(w, "near_removed", 0)
        samples.append(m)
        iteration_s = time.perf_counter() - t0
    metrics = {
        name: statistics.median(s.get(name, 0.0) for s in samples) for name, _ in PER_LAYER
    }
    metrics.update({f"session.{k}": v for k, v in session.items()})
    return metrics, _totals(runs)
