#!/usr/bin/env python3
"""Layered benchmark of the beymani_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload batch_small --seed 1 --seconds 10 --trace 0

One run is one fresh process: it generates its inputs, starts a local
session through ``beymani_spark.sources.get_spark`` on every core, scans
each table once (that is ``setup_s``), checks every output against a stored
or independently computed hash in an untimed warm-up pass, then repeats
timed passes until ``--seconds`` have elapsed and at least two passes ran.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it carries host
context. See README.md for
the workloads, the metrics and what each layer metric should move.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import probes  # noqa: E402

#: the engine's own scoring kernels plus two copies of the banded
#: candidate-pair engine, in registry names
BATCH_QUERIES = {
    "zscore": ["events"],
    "robust_zscore": ["events"],
    "markov_cond_prob": ["events"],
    "one_step_ahead": ["events"],
    "mahalanobis": ["lineitem"],
    "kmeans_cluster_score": ["lineitem"],
    "dedup_minhash_lsh": ["documents"],
    "embedding_dup_clusters_lsh": ["embeddings"],
}
CANDIDATE_PAIR_QUERIES = ("dedup_minhash_lsh", "embedding_dup_clusters_lsh")

EVENTS_DDL = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
              "event_type string, value double, props string")
DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"
EWMA = {"key": "event_type", "alpha": 0.2, "threshold": 3.0}
DEDUP = {"key": "user_id", "watermark": "24 hours", "delay_us": 24 * 3600 * 10**6}

WORKLOADS = {
    "batch_small": {"kind": "batch", "scale": 1.0},
    "stream_replay": {"kind": "stream", "scale": 1.0, "slices": 2,
                      "slice_rows": 250, "docs_per_slice": 10},
}
MIN_PASSES = 2
#: reduced sizes for the self-test (selftest.py)
SMALL = {"batch_small": {"scale": 0.1}, "stream_replay": {"scale": 0.1}}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


# ----------------------------------------------------------------- tracing --

class Tracer:
    """In-memory spans (name, start, end, parent), written out at exit."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.on = False
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        rec = self.add(name, time.time(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None, **attrs) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent, **attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - covered.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------- the run --

class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.conf = {**WORKLOADS[args.workload], **(SMALL[args.workload] if args.small else {})}
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.layers: list[dict] = []  # one per traced pass
        self.context: dict = {}

    # -- bookkeeping
    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def compare(self, what: str, got: str, want: str | None) -> bool:
        ok = got == want
        if not ok:
            log(f"WRONG OUTPUT {what}: hash {got} expected {want}")
        return ok

    # -- set-up: inputs, session, one scan of every table
    def setup(self) -> None:
        from beymani_spark.sources import get_spark, load_table

        self.rows = datagen.write_tables(self.data_dir, self.conf["scale"])
        if self.conf["kind"] == "stream":
            self.write_stream_inputs()
        self.spark = spark = get_spark(f"perfbench-{self.args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        for t in self.rows:
            load_table(spark, self.data_dir, t).write.format("noop").mode("overwrite").save()
        if self.conf["kind"] == "stream":
            from pyspark.sql import functions as F

            from beymani_spark.operators import dedup

            docs = load_table(spark, self.data_dir, "documents")
            self.corpus_bands = dedup.rowwise_minhash_bands(docs, "doc_id", "text").select(
                F.col("doc_id").alias("corpus_doc_id"), "band", "sig").persist()
            self.corpus_bands.count()

    def write_stream_inputs(self) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        c = self.conf
        events = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        n = c["slices"] * c["slice_rows"]
        start = int(np.random.default_rng(self.args.seed).integers(0, events.num_rows - n + 1))
        self.window = events.slice(start, n)
        corpus = pq.read_table(os.path.join(self.data_dir, "documents.parquet"))
        self.new_docs = datagen.documents(
            np.random.default_rng([self.args.seed, 7]), c["slices"] * c["docs_per_slice"],
            first_id=10**6, copy_from=corpus.column("text").to_pylist())
        self.src = {}
        for name, table, per in (("events", self.window, c["slice_rows"]),
                                 ("docs", self.new_docs, c["docs_per_slice"])):
            self.src[name] = os.path.join(self.work, "slices", name)
            datagen.write_slices(table, self.src[name], per)
            self.src[f"warm_{name}"] = os.path.join(self.work, "slices", f"warm_{name}")
            datagen.write_slices(table.slice(0, per), self.src[f"warm_{name}"], per)
        self.context["window_start_event"] = start

    # -- untimed warm-up that also checks every output
    def check_pass(self) -> None:
        if self.conf["kind"] == "batch":
            self.check_batch()
        else:
            self.check_stream()

    def check_batch(self) -> None:
        from beymani_spark.plans import QUERIES

        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)[f"scale={self.conf['scale']}"]
        if self.args.wrong_hash:
            expected[self.args.wrong_hash] = "0" * 32
        self.result_rows = {}
        for name in self.order:
            try:
                pdf = QUERIES[name].builder(self.spark, self.data_dir).toPandas()
                self.result_rows[name] = len(pdf)
                ok = self.compare(name, checks.frame_hash(pdf), expected.get(name))
            except Exception:
                traceback.print_exc()
                ok = False
            self.op(ok)
            self.spark.catalog.clearCache()

    def check_stream(self) -> None:
        win = self.window.to_pandas()
        ewma = checks.ewma_reference(win, EWMA["key"], "ts", "value",
                                     EWMA["alpha"], EWMA["threshold"])
        per = self.conf["slice_rows"]
        slices = [win.iloc[i:i + per] for i in range(0, len(win), per)]
        dd = checks.dedup_reference(slices, DEDUP["key"], "ts", DEDUP["delay_us"])
        from beymani_spark.streaming import jobs

        docs = self.spark.read.schema(DOCS_DDL).parquet(self.src["docs"])
        nd = jobs.stream_near_dup_candidates(docs, self.corpus_bands).toPandas()
        self.expected = {"ewma": checks.frame_hash(ewma), "dedup": checks.frame_hash(dd),
                         "near_dup": checks.frame_hash(nd)}
        if self.args.wrong_hash in self.expected:
            self.expected[self.args.wrong_hash] = "0" * 32
        self.context["stream_expected_rows"] = {"ewma": len(ewma), "dedup": len(dd),
                                                "near_dup": len(nd)}
        self.context["warmup_s"] = {}
        for job in ("ewma", "dedup", "near_dup"):  # warm drains over one slice
            wall, _, out = self.drain(job, "warm")
            self.op(out is not None)
            self.context["warmup_s"][job] = wall

    # -- stream drains
    def build_job(self, job: str, stream):
        from beymani_spark.streaming import jobs

        if job == "ewma":
            return jobs.apply_stream_ewma(stream, [EWMA["key"]], "ts", "value",
                                          alpha=EWMA["alpha"], threshold=EWMA["threshold"])
        if job == "dedup":
            return jobs.stream_dedup_exact(stream, [DEDUP["key"]], "ts", DEDUP["watermark"])
        return jobs.stream_near_dup_candidates(stream, self.corpus_bands)

    def drain(self, job: str, tag: str) -> tuple[float, list[dict], str | None]:
        """One AvailableNow drain; returns (wall s, data-batch progress, output dir)."""
        from beymani_spark.sources.streams import open_stream, start_sink

        kind = "docs" if job == "near_dup" else "events"
        src = self.src[f"warm_{kind}" if tag == "warm" else kind]
        base = os.path.join(self.work, "drains", f"{tag}-{job}")
        t0 = time.perf_counter()
        try:
            stream = open_stream(self.spark, {
                "format": "file", "path": src, "maxFilesPerTrigger": "1",
                "schema": DOCS_DDL if kind == "docs" else EVENTS_DDL})
            q = start_sink(self.build_job(job, stream), {
                "format": "parquet", "path": base + "/out", "checkpoint": base + "/ckpt",
                "trigger": "availableNow"})
            q.awaitTermination()
            wall = time.perf_counter() - t0
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            ok = q.exception() is None
        except Exception:
            traceback.print_exc()
            return time.perf_counter() - t0, [], None
        return wall, progress, (base + "/out" if ok else None)

    # -- timed passes
    def timed(self) -> None:
        steal0, total0 = probes.host_cpu_ticks()
        jit0, load0 = self.probe.jit_ms(), os.getloadavg()[0]
        t_end = time.perf_counter() + self.args.seconds
        self.tracer.on = bool(self.args.trace)
        with self.tracer.span("workload", workload=self.args.workload):
            # tracing alternates with untraced passes, so the overhead is
            # measured inside one process: untraced, traced, untraced, ...
            # At least MIN_PASSES: a pass count that flips between runs
            # (a 10 s pass in a 20 s region) moves the medians by itself.
            while True:
                traced = bool(self.args.trace) and len(self.passes) % 2 == 1
                self.tracer.on = traced
                with self.tracer.span("pass", index=len(self.passes)):
                    rec = (self.batch_pass(traced) if self.conf["kind"] == "batch"
                           else self.stream_pass(traced))
                rec["traced"] = traced
                self.passes.append(rec)
                if time.perf_counter() >= t_end and len(self.passes) >= MIN_PASSES:
                    break
        self.tracer.on = False
        steal1, total1 = probes.host_cpu_ticks()
        self.context.update({
            "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "loadavg_1m": [load0, os.getloadavg()[0]],
            "jit_ms_timed": self.probe.jit_ms() - jit0,
            "passes": len(self.passes),
        })

    def batch_pass(self, traced: bool) -> dict:
        from beymani_spark.plans import QUERIES

        layer = dict.fromkeys(LAYER_KEYS, 0.0)
        lat = {}
        pids = self.probe.pids()
        cpu0, jit0 = probes.cpu_seconds(pids), self.probe.jit_ms()
        t0 = time.perf_counter()
        mark = self.probe.mark() if traced else None
        for name in self.order:
            q0 = time.perf_counter()
            ok = True
            try:
                with self.tracer.span("query", query=name):
                    with self.tracer.span("build"):
                        b0 = time.perf_counter()
                        df = QUERIES[name].builder(self.spark, self.data_dir)
                        b1 = time.perf_counter()
                    if traced:
                        built, mark = self.probe.since(mark)
                    with self.tracer.span("action"):
                        a0 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        a1 = time.perf_counter()
            except Exception:
                traceback.print_exc()
                ok = False
            lat[name] = time.perf_counter() - q0
            self.op(ok)
            layer["functions.pinned_rdds"] += self.probe.pinned_rdds()
            self.spark.catalog.clearCache()
            if traced and ok:
                acted, mark = self.probe.since(mark)
                self.add_layers(layer, built, acted, b1 - b0, a1 - a0)
                if name in CANDIDATE_PAIR_QUERIES:
                    layer["operators.candidate_rows"] += max(built["widest_join_rows"],
                                                             acted["widest_join_rows"])
                    layer["operators.result_rows"] += self.result_rows.get(name, 0)
        wall = time.perf_counter() - t0
        rows = sum(self.rows[t] for q in self.order for t in BATCH_QUERIES[q])
        if traced:
            layer["runtime.jit_ms"] = self.probe.jit_ms() - jit0
            self.layers.append(layer)
        return {"wall": wall, "cpu": probes.cpu_seconds(self.probe.pids()) - cpu0,
                "ops": lat, "samples_ms": [v * 1e3 for v in lat.values()],
                "rows_per_s": rows / wall}

    def stream_pass(self, traced: bool) -> dict:
        layer = dict.fromkeys(LAYER_KEYS, 0.0)
        lat, samples, outputs = {}, [], []
        pids = self.probe.pids()
        cpu0, jit0 = probes.cpu_seconds(pids), self.probe.jit_ms()
        mark = self.probe.mark() if traced else None
        t0 = time.perf_counter()
        rows = 0
        for job in ("ewma", "dedup", "near_dup"):
            with self.tracer.span("drain", job=job) as sp:
                wall, progress, out = self.drain(job, f"p{len(self.passes)}")
            lat[job] = wall
            samples += [p["durationMs"]["triggerExecution"] for p in progress]
            rows += sum(p["numInputRows"] for p in progress)
            outputs.append((job, out))
            if traced:
                for p in progress:  # micro-batch spans, rebuilt from progress
                    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                    self.tracer.add("micro_batch", start,
                                    start + p["durationMs"]["triggerExecution"] / 1e3,
                                    parent=sp["id"], batch=p["batchId"])
                self.add_stream_layers(layer, progress)
        drain_wall = sum(lat.values())
        wall = time.perf_counter() - t0
        cpu = probes.cpu_seconds(self.probe.pids()) - cpu0
        if traced:
            stages, _ = self.probe.since(mark)
            self.add_layers(layer, None, stages, 0.0, drain_wall)
            layer["runtime.jit_ms"] = self.probe.jit_ms() - jit0
            self.layers.append(layer)
        for job, out in outputs:  # read back through the sink's commit log
            ok = out is not None
            if ok:
                try:
                    pdf = self.spark.read.parquet(out).toPandas()
                    ok = self.compare(job, checks.frame_hash(pdf), self.expected[job])
                    if traced:  # the file sink reports no row count of its own
                        layer["streaming.output_rows"] += len(pdf)
                        if job == "near_dup":  # its output is the candidate set
                            layer["operators.candidate_rows"] += len(pdf)
                            layer["operators.result_rows"] += len(pdf)
                except Exception:
                    traceback.print_exc()
                    ok = False
            self.op(ok)
        shutil.rmtree(os.path.join(self.work, "drains"), ignore_errors=True)
        return {"wall": wall, "cpu": cpu, "ops": lat, "samples_ms": samples,
                "rows_per_s": rows / drain_wall}

    # -- per-layer accounting
    def add_layers(self, layer: dict, built: dict | None, acted: dict,
                   build_s: float, action_s: float) -> None:
        if built is not None:
            layer["plans.build_s"] += build_s
            layer["plans.build_jobs"] += built["jobs"]
            layer["plans.driver_result_bytes"] += built["result_bytes"]
        layer["operators.action_s"] += action_s
        for src in (built, acted):
            if src is None:
                continue
            for k in ("jobs", "stages", "tasks", "exchanges", "task_run_s", "task_cpu_s",
                      "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                      "python_bytes_sent", "python_bytes_received", "python_rows"):
                layer[f"operators.{k}"] += src[k]
            layer["sources.input_bytes"] += src["input_bytes"]
            layer["sources.input_rows"] += src["input_rows"]

    def add_stream_layers(self, layer: dict, progress: list[dict]) -> None:
        for p in progress:
            d = p["durationMs"]
            layer["streaming.batches"] += 1
            layer["sources.get_batch_ms"] += d.get("getBatch", 0) + d.get("latestOffset", 0)
            layer["streaming.add_batch_ms"] += d.get("addBatch", 0)
            layer["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            layer["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            for s in p.get("stateOperators", []):
                layer["streaming.state_commit_ms"] += s.get("commitTimeMs", 0)
                layer["streaming.state_rows"] = max(layer["streaming.state_rows"],
                                                    s.get("numRowsTotal", 0))
                layer["streaming.state_memory_bytes"] = max(
                    layer["streaming.state_memory_bytes"], s.get("memoryUsedBytes", 0))
                layer["streaming.rows_dropped_by_watermark"] += s.get("numRowsDroppedByWatermark", 0)

    # -- results
    def end_to_end(self) -> dict:
        untraced = [p for p in self.passes if not p["traced"]]
        ops: dict[str, list[float]] = {}
        for p in untraced:
            for k, v in p["ops"].items():
                ops.setdefault(k, []).append(v)
        self.context["op_median_s"] = {k: statistics.median(v) for k, v in ops.items()}
        self.context["pass_walls_s"] = [p["wall"] for p in untraced]
        self.context.update(self.unit_latency())
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (statistics.median(p["wall"] for p in untraced), "s"),
            "query_geomean_s": (math.exp(statistics.fmean(
                math.log(statistics.median(v)) for v in ops.values())), "s"),
            "rows_per_s": (statistics.median(p["rows_per_s"] for p in untraced), "rows/s"),
            "cpu_s": (statistics.median(p["cpu"] for p in untraced), "s"),
        }

    def unit_latency(self) -> dict:
        """Median and tail of the unit of work (a query on batch_small, a
        micro-batch on stream_replay) over the untraced passes."""
        samples = sorted(s for p in self.passes if not p["traced"] for s in p["samples_ms"])
        return {"batch_p50_ms": statistics.median(samples), "batch_tail": tail_of(samples)}

    def per_layer(self) -> dict:
        n = max(1, len(self.layers))
        out = {k: (sum(lay[k] for lay in self.layers) / n, LAYER_UNITS[k]) for k in LAYER_KEYS}
        for k in ("streaming.state_rows", "streaming.state_memory_bytes"):
            out[k] = (max((lay[k] for lay in self.layers), default=0.0), LAYER_UNITS[k])
        cand = out["operators.candidate_rows"][0]
        out["operators.result_per_candidate"] = (
            out["operators.result_rows"][0] / cand if cand else 0.0, "ratio")
        out["runtime.steal_share"] = (self.context["steal_share"], "ratio")
        # JVM heap growth makes this spread ~10% run to run, so it is a layer
        # metric rather than a bounded end-to-end one
        out["runtime.peak_rss_mb"] = (probes.hwm_mb(self.probe.pids()), "MB")
        # its median falls between queries of close latency that swap rank
        # from run to run, so it spreads more than the pass time
        out["runtime.batch_p50_ms"] = (self.unit_latency()["batch_p50_ms"], "ms")
        traced = [p["wall"] for p in self.passes if p["traced"]]
        plain = [p["wall"] for p in self.passes if not p["traced"]]
        base = statistics.median(plain)
        out["trace.overhead_share"] = ((statistics.median(traced) - base) / base, "ratio")
        selfs = self.tracer.self_times()
        for name in SPAN_NAMES:
            out[f"trace.self_{name}_s"] = (selfs.get(name, 0.0) / n, "s")
        return out


def tail_of(samples: list[float]) -> dict:
    """The highest percentile of the sorted samples with at least ten
    samples beyond it. A run holds 12-16 samples, too few for any
    percentile above the median, so the value is None then and the tail is
    left out of the end-to-end metrics."""
    n = len(samples)
    if n < 20:
        return {"ms": None, "pct": None, "samples": n}
    return {"ms": samples[n - 11], "pct": 100.0 * (n - 10) / n, "samples": n}


LAYER_UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.driver_result_bytes": "B",
    "operators.action_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.exchanges": "count", "operators.task_run_s": "s",
    "operators.task_cpu_s": "s", "operators.gc_s": "s", "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B", "operators.spill_bytes": "B",
    "operators.python_bytes_sent": "B", "operators.python_bytes_received": "B",
    "operators.python_rows": "count", "operators.candidate_rows": "count",
    "operators.result_rows": "count", "sources.input_bytes": "B", "sources.input_rows": "count",
    "sources.get_batch_ms": "ms", "functions.pinned_rdds": "count", "streaming.batches": "count",
    "streaming.add_batch_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "B",
    "streaming.rows_dropped_by_watermark": "count", "streaming.output_rows": "count",
    "runtime.jit_ms": "ms",
}
LAYER_KEYS = list(LAYER_UNITS)
SPAN_NAMES = ("pass", "query", "build", "action", "drain", "micro_batch")


# ------------------------------------------------------------------- main --

def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the engine
    importable by Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the launcher's too: temp files in ``work``, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")


def import_engine() -> None:
    sys.path.insert(0, ROOT)
    try:
        import beymani_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: the engine is not importable from {ROOT}: {e}") from e
    if not os.path.abspath(beymani_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: beymani_spark resolved outside {ROOT}")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="self-test sizes")
    ap.add_argument("--wrong-hash", default=None,
                    help="replace one expected hash (self-test of the output check)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    started = probes.process_start_epoch()
    import_engine()
    work = tempfile.mkdtemp(prefix=".work-", dir=HERE)
    run = Run(args, work)
    try:
        prepare_env(work)
        run.order = list(BATCH_QUERIES)
        random.Random(args.seed).shuffle(run.order)
        run.setup()
        run.setup_s = time.time() - started
        run.probe = probes.SparkProbe(run.spark)
        run.check_pass()
        run.timed()
        if args.trace:
            run.tracer.write(os.path.join(
                HERE, "out", f"spans-{args.workload}-seed{args.seed}.json"))
            metrics = run.per_layer()
        else:
            metrics = run.end_to_end()
        run.context.update(host_context(run))
        print(json.dumps({"context": run.context}))
        print(json.dumps({
            "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        stop_engine(run)
        shutil.rmtree(work, ignore_errors=True)


def stop_engine(run: Run) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    every one of those processes to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    probe = getattr(run, "probe", None)
    pids = [p for p in (probe.pids() if probe else []) if p != os.getpid()]
    if getattr(run, "spark", None) is not None:
        run.spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while pids and time.time() < deadline:
        pids = [p for p in pids if probes.alive(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def host_context(run: Run) -> dict:
    import platform

    import pyspark

    workers = [p for p in run.probe.pids() if p not in (run.probe.jvm_pid, os.getpid())]
    return {
        "nproc": os.cpu_count(), "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "java": run.spark._jvm.java.lang.System.getProperty("java.version"),
        "jit_ms_total": run.probe.jit_ms(), "workload": run.args.workload,
        "hwm_mb": {"jvm": probes.hwm_mb([run.probe.jvm_pid]),
                   "python_driver": probes.hwm_mb([os.getpid()]),
                   "python_workers": probes.hwm_mb(workers), "workers": len(workers)},
        "seed": run.args.seed, "trace": run.args.trace,
    }


if __name__ == "__main__":
    sys.exit(main())
