#!/usr/bin/env python3
"""Recommender benchmark: one run of one workload.

    python3 perfbench/run.py --workload nightly_rebuild --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):

- ``nightly_rebuild``: closed-loop batch — LA recs, SB similarity, UL model.
- ``online_events``: open-loop event stream served through ``foreachBatch``.

Prints a report, then as its last stdout line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` gives
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones.
Exits 1 if any output fails the correctness gate, 2 if the package is absent.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "hainan_big_data_recommend_system_spark"
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402

#: static-state builds (or catalog opens) per run; ``setup_s`` uses the
#: median.  Two, cold then warm: each further warm build adds ~10 s to an
#: online run, which the run budget has no room for
SETUP_REPS = 2
#: online: seconds of traffic before measurement starts.  The first
#: triggers compile their plans and the JIT warms for several seconds after
ONLINE_WARMUP_S = 7.0
ONLINE_MAX_FILES = 50  # maxFilesPerTrigger: drain whatever has arrived
SIM_K, SIM_MIN_DF, KMEANS_K = 20, 10, 10


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    report: list = field(default_factory=list)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


class Run:
    """Per-run directories, pinned environment and the Spark session."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool,
                 reserve_cpus: int = 0):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.dir = os.path.join(WORK, "run")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("data", "local", "tmp", "out"):
            os.makedirs(os.path.join(self.dir, sub))
        self.nproc = len(os.sched_getaffinity(0))
        self.cpus = max(1, self.nproc - reserve_cpus)
        # the inputs are small: 1 GB of heap is ample, and a fixed cap keeps
        # the peak RSS comparable between hosts
        driver_mb = max(512, min(1024, _mem_total_mb() // 4))
        self.env = {
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "TMPDIR": os.path.join(self.dir, "tmp"),
            # every JVM writes its perf counters under /tmp, outside the run
            # directory, unless they are off
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
        os.environ.update(self.env)
        self.tracer = tracing.Tracer(traced)
        self.cpu0 = tracing.cpu_times()
        self.spark = None
        self._jvm = None
        self._cached: list = []
        self._t0 = time.perf_counter()

    def note(self, what: str) -> None:
        """Progress line on stderr: seconds since the run began."""
        print(f"[{time.perf_counter() - self._t0:7.2f}s] {what}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def write_tables(self, name: str, scale: datagen.TableScale) -> str:
        """Generate the input tables in a forked child, so the generator's
        memory stays out of this process's peak RSS."""
        out = self.path("data", name)
        child = multiprocessing.get_context("fork").Process(
            target=datagen.write_tables, args=(out, self.seed, scale))
        child.start()
        child.join()
        if child.exitcode != 0:
            raise RuntimeError(f"table generator exited with {child.exitcode}")
        return out

    def start_session(self) -> float:
        from hainan_big_data_recommend_system_spark.session import get_spark

        tmp = self.path("tmp")
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("tmp", "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
        self._jvm = self.spark.sparkContext._gateway.proc
        return time.perf_counter() - t

    def materialize(self, df):
        """Traced runs only: compute ``df`` once at a layer boundary."""
        df = df.cache()
        self._cached.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def peak_rss_mb(self) -> float:
        return tracing.peak_rss_mb(self._jvm.pid if self._jvm else None)

    def close(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for it to exit."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            self.spark = None
        if self._jvm is not None:
            if self._jvm.stdin:
                self._jvm.stdin.close()  # the gateway exits on stdin EOF
            try:
                self._jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait()


def noop_sink(df, _name: str) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_sink(out_dir: str):
    def sink(df, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    return sink


def patch_layers(run: Run) -> list:
    """Span + materialize every layer call the package makes internally.
    The wrappers pass straight through while the tracer is off."""
    from hainan_big_data_recommend_system_spark import catalog
    from hainan_big_data_recommend_system_spark.operators import similarity
    from hainan_big_data_recommend_system_spark.qcatalog import reco
    from hainan_big_data_recommend_system_spark.streaming import recommend

    tr, mat, restore = run.tracer, run.materialize, []
    for mod in (catalog, reco, recommend):
        tracing.patch_layer(tr, mod, "load_table", "catalog", mat, restore=restore)
    tracing.patch_layer(tr, reco, "nearest_neighbors_1d", "nn1d", mat, restore=restore)
    tracing.patch_layer(tr, reco, "rank_discounted_score", "scoring", mat,
                        count_input=True, restore=restore)
    tracing.patch_layer(tr, reco, "topk_per_group", "topk", mat,
                        count_input=True, restore=restore)
    for mod in (reco, recommend):
        tracing.patch_layer(tr, mod, "hot_items", "hot", mat, restore=restore)
        tracing.patch_layer(tr, mod, "reco_assembly", "reco_assembly", mat, restore=restore)
    tracing.patch_layer(tr, similarity, "sparse_cosine_topk", "similarity", mat,
                        restore=restore)
    return restore


def batch_layer_metrics(tr: tracing.Tracer, units: int) -> dict:
    """Per-unit (nightly pass or static-state build) layer figures."""
    u = max(1, units)
    return {
        "catalog.scan_s": tr.total("catalog") / u,
        "catalog.rows_read": tr.attr_sum("catalog", "rows_out") / u,
        "nn1d.s": tr.total("nn1d") / u,
        "nn1d.pairs_out": tr.attr_sum("nn1d", "rows_out") / u,
        "scoring.s": tr.total("scoring") / u,
        "scoring.rows_in": tr.attr_sum("scoring", "rows_in") / u,
        "scoring.rows_out": tr.attr_sum("scoring", "rows_out") / u,
        "topk.s": tr.total("topk") / u,
        "topk.rows_in": tr.attr_sum("topk", "rows_in") / u,
        "hot.s": tr.total("hot") / u,
        "reco_assembly.s": tr.total("reco_assembly") / u,
        "reco_assembly.rows_out": tr.attr_sum("reco_assembly", "rows_out") / u,
    }


def spark_counter_metrics(counts: dict, batches: int = 0) -> dict:
    out = {f"spark.{k}": float(v) for k, v in counts.items()}
    if batches:
        out.update({f"spark.{k}_per_batch": v / batches for k, v in counts.items()})
    return out


def timing_report(name: str, values_ms: list) -> str:
    t = tracing.tail(values_ms)
    return (f"{name}: n={t.n} p50={tracing.median(values_ms):.1f}ms "
            f"p{t.pct:g}={t.value:.1f}ms")


# ---------------------------------------------------------------------------
# nightly_rebuild
# ---------------------------------------------------------------------------


def nightly_pass(run: Run, sf: str, sink) -> None:
    """LA recs + SB similarity + UL model build, each output materialized."""
    from hainan_big_data_recommend_system_spark import catalog
    from hainan_big_data_recommend_system_spark.ml import clustering, vectorize
    from hainan_big_data_recommend_system_spark.operators import similarity
    from hainan_big_data_recommend_system_spark.qcatalog import reco

    tr, spark = run.tracer, run.spark
    sink(reco.reco_assembly(spark, sf, uid_mod=None), "reco")
    docs = catalog.load_table(spark, sf, "documents")
    sink(similarity.sparse_cosine_topk(docs, "doc_id", "text", k=SIM_K, min_df=SIM_MIN_DF),
         "similarity")
    with tr.span("vectorize.fit") as s:
        model = vectorize.fit_vectorizer(docs, stop_words=vectorize.load_stop_words())
        if tr.enabled:
            s.attrs["vocab_size"] = len(model.stages[-1].vocabulary)
    with tr.span("vectorize.transform"):
        vec = model.transform(docs)
        if tr.enabled:
            vec, _ = run.materialize(vec)
    with tr.span("clustering.fit") as s:
        km = clustering.fit_kmeans(vec, k=KMEANS_K)
        if tr.enabled:
            s.attrs["iterations"] = km.summary.numIter
    with tr.span("clustering.assign"):
        sink(clustering.assign_clusters(km, vec).select("doc_id", "cluster"), "clusters")
    run.release()


def nightly_rebuild(run: Run) -> Outcome:
    """One pass in a fresh JVM, as the nightly job runs: its wall time
    includes the JIT and code generation a real nightly rebuild pays."""
    from hainan_big_data_recommend_system_spark import catalog

    sf = run.write_tables("nightly", datagen.NIGHTLY)
    run.note("tables written")
    session_s = run.start_session()
    run.note(f"session started in {session_s:.2f}s")
    opens = []
    for _ in range(SETUP_REPS):  # catalog open: file listing + parquet footers
        t = time.perf_counter()
        for name in ("customer", "orders", "lineitem", "documents"):
            catalog.load_table(run.spark, sf, name)
        opens.append(time.perf_counter() - t)
    setup_s = session_s + tracing.median(opens)

    tr = run.tracer
    restore = patch_layers(run) if tr.enabled else []
    counters = tracing.SparkCounters(run.spark)
    counters.mark()
    out_dir = run.path("out", "nightly")
    t = time.perf_counter()
    with tr.span("nightly.pass"):
        nightly_pass(run, sf, parquet_sink(out_dir))
    wall = time.perf_counter() - t
    counts = counters.read()
    peak_rss = run.peak_rss_mb()
    run.note(f"nightly pass: {wall:.2f}s")
    import oracle  # after the RSS reading: DuckDB belongs to the gate

    con = oracle.connect(sf, ("customer", "orders", "lineitem", "documents"))
    errors = oracle.check_nightly(con, out_dir, KMEANS_K, datagen.NIGHTLY.docs)
    con.close()
    run.note("nightly outputs checked")

    out = Outcome(attempted=len(oracle.NIGHTLY_CHECKS), failed=len(errors))
    out.report += [f"check {k}: {v}" for k, v in errors.items()]
    out.report.append(f"nightly pass: n=1 wall={wall:.3f}s")
    # one pass, one measurement: both latency names report its wall time
    out.e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
        "latency_p50_ms": 1000 * wall,
        "latency_tail_ms": 1000 * wall,
    }
    if not tr.enabled:
        return out
    out.layer = {
        "session.start_s": session_s,
        **batch_layer_metrics(tr, 1),
        "similarity.s": tr.total("similarity"),
        "vectorize.fit_s": tr.total("vectorize.fit"),
        "vectorize.transform_s": tr.total("vectorize.transform"),
        "vectorize.vocab_size": tr.attr_sum("vectorize.fit", "vocab_size"),
        "clustering.fit_s": tr.total("clustering.fit"),
        "clustering.assign_s": tr.total("clustering.assign"),
        "clustering.iterations": tr.attr_sum("clustering.fit", "iterations"),
        **spark_counter_metrics(counts),
    }
    # tracing overhead: the JVM is warm now, so compare two warm passes
    walls = {}
    for traced in (False, True):
        tr.enabled = traced
        t = time.perf_counter()
        nightly_pass(run, sf, noop_sink)
        walls[traced] = time.perf_counter() - t
        run.note(f"warm pass ({'traced' if traced else 'untraced'}): {walls[traced]:.2f}s")
    for mod, attr, orig in restore:
        setattr(mod, attr, orig)
    out.layer["trace.overhead_ms"] = 1000 * (walls[True] - walls[False])
    out.layer["trace.overhead_pct"] = 100 * (walls[True] / walls[False] - 1)
    return out


# ---------------------------------------------------------------------------
# streaming workloads
# ---------------------------------------------------------------------------


class KVRecorder(dict):
    """The KV store handed to ``memory_kv_writer``; remembers which keys
    each epoch wrote."""

    def __init__(self):
        super().__init__()
        self.epoch = None
        self.writes: dict[int, dict[str, str]] = {}

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.writes.setdefault(self.epoch, {})[key] = value


def build_serving(run: Run) -> tuple[object, float, float]:
    """Serving tables, session and static state.  Returns (state,
    session start s, median build s)."""
    from hainan_big_data_recommend_system_spark.streaming import recommend

    sf = run.write_tables("serving", datagen.SERVING)
    session_s = run.start_session()
    if run.tracer.enabled:
        patch_layers(run)
    builds, state = [], None
    for _ in range(SETUP_REPS):
        if state is not None:
            state.user_recs.unpersist()
        t = time.perf_counter()
        with run.tracer.span("static_state.build"):
            state = recommend.build_static_state(run.spark, sf)
        builds.append(time.perf_counter() - t)
        run.release()
    return state, session_s, tracing.median(builds)


def serving_layer_metrics(run: Run, session_s: float) -> dict:
    tr = run.tracer
    return {
        "session.start_s": session_s,
        **batch_layer_metrics(tr, SETUP_REPS),
        "static_state.build_s": tr.total("static_state.build") / SETUP_REPS,
    }


def expected_payloads(run: Run):
    import oracle

    con = oracle.connect(run.path("data", "serving"), ("customer", "orders", "lineitem"))
    try:
        return oracle.expected_payloads(con)
    finally:
        con.close()


def batch_handler(run: Run, state, writer, store: KVRecorder, done: dict):
    """foreachBatch body: ``recommend_batch`` then the KV writer, timed
    apart on traced runs; records when each epoch's write returned."""
    from hainan_big_data_recommend_system_spark.streaming.recommend import recommend_batch

    tr = run.tracer

    def handle(batch_df, epoch_id: int) -> None:
        traced = tr.enabled
        with tr.span("recommend", epoch=epoch_id) as rec:
            out = recommend_batch(batch_df, state)
            if traced:
                out, rec.attrs["rows_out"] = run.materialize(out)
        store.epoch = epoch_id
        with tr.span("sinks", epoch=epoch_id, keys_written=rec.attrs.get("rows_out", 0)):
            writer(out, epoch_id)
        done[epoch_id] = (time.time(), traced)
        if traced:
            run.release()

    return handle


def event_stream(run: Run, path: str, max_files: int):
    from hainan_big_data_recommend_system_spark.streaming import events

    return events.dispatch_channels(events.parse_events(
        events.read_event_stream(run.spark, path, max_files=max_files)))


def source_batches(checkpoint: str) -> dict[str, int]:
    """file name → batch id, from the file source's metadata log."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def progress_metrics(progress: list, batch_ids: set) -> dict:
    """Medians of the engine's per-trigger durations over ``batch_ids``."""
    rows = [p for p in progress if p["batchId"] in batch_ids and p["numInputRows"] > 0]
    if not rows:
        return {}

    def dur(key):
        return tracing.median([p["durationMs"].get(key, 0) for p in rows])

    trig = [p["durationMs"]["triggerExecution"] for p in rows]
    return {
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.planning_ms": dur("queryPlanning"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.trigger_p50_ms": tracing.median(trig),
        "stream.trigger_tail_ms": tracing.tail(trig).value,
        "stream.batches": float(len(rows)),
        "stream.rows_per_batch": tracing.median([p["numInputRows"] for p in rows]),
    }


def stream_layer_metrics(run: Run, progress: list, traced_batches: set) -> dict:
    tr = run.tracer
    rows_in = sum(p["numInputRows"] for p in progress if p["batchId"] in traced_batches)
    n = max(1, len(traced_batches))
    keys = tr.attr_sum("sinks", "keys_written")
    return {
        "recommend.batch_ms": 1000 * tr.total("recommend") / n,
        "recommend.keys_per_event": keys / max(1, rows_in),
        "sinks.write_ms": 1000 * tr.total("sinks") / n,
        "sinks.keys_written": keys / n,
        **progress_metrics(progress, traced_batches),
    }


def online_events(run: Run) -> Outcome:
    from hainan_big_data_recommend_system_spark.streaming.sinks import (
        memory_kv_writer, start_kv_query)

    state, session_s, build_s = build_serving(run)
    run.note(f"serving state built ({session_s:.2f}s session, {build_s:.2f}s build)")
    events_dir, ckpt = run.path("data", "events"), run.path("out", "ckpt")
    os.makedirs(events_dir)
    store, done = KVRecorder(), {}
    handler = batch_handler(run, state, memory_kv_writer(store), store, done)
    traced_run = run.tracer.enabled
    run.tracer.enabled = False
    t = time.perf_counter()
    q = start_kv_query(event_stream(run, events_dir, ONLINE_MAX_FILES), handler, ckpt,
                       available_now=False)
    setup_s = session_s + build_s + time.perf_counter() - t

    n_files = int((ONLINE_WARMUP_S + run.seconds) / datagen.ONLINE_INTERVAL_S)
    start = time.time() + 1.0  # leave the generator time to import
    measure_from = start + ONLINE_WARMUP_S
    trace_from = measure_from + run.seconds / 2 if traced_run else float("inf")
    log_path = run.path("out", "feeder.json")
    counters = tracing.SparkCounters(run.spark)
    counters.mark()
    feeder = subprocess.Popen([
        sys.executable, os.path.join(HERE, "feeder.py"), "--out", events_dir,
        "--log", log_path, "--seed", str(run.seed), "--files", str(n_files),
        "--start", repr(start)])
    try:
        if traced_run:
            time.sleep(max(0.0, trace_from - time.time()))
            run.tracer.enabled = True
        rc = feeder.wait(timeout=run.seconds + ONLINE_WARMUP_S + 60)
        if rc != 0:
            raise RuntimeError(f"event generator exited with {rc}")
        feed_end = time.time()
        run.note("generator done")
        q.processAllAvailable()
        run.note("stream drained")
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
        q.stop()
    counts = counters.read()
    peak_rss = run.peak_rss_mb()
    progress = [json.loads(p.json) for p in q.recentProgress]
    run.tracer.enabled = traced_run

    with open(log_path) as f:
        feed_log = json.load(f)
    file_batch = source_batches(ckpt)
    per_file = datagen.ONLINE_EVENTS_PER_FILE
    ev = datagen.online_events(run.seed, n_files * per_file)
    recs, hot = expected_payloads(run)
    run.note("oracle payloads computed")
    written_keys = set().union(*store.writes.values()) if store.writes else set()
    lat = {False: [], True: []}
    attempted = failed = 0
    for entry in feed_log:
        b = file_batch.get(entry["file"])
        lo = entry["first_event"]
        for j in range(lo, lo + per_file):
            attempted += 1
            key = f"b_like:{ev.user_id[j]}"
            if ev.malformed[j]:
                failed += key in written_keys  # must be dropped
                continue
            got = store.writes.get(b, {}).get(key)
            if got is None or got != recs.get(int(ev.user_id[j]), hot):
                failed += 1
                continue
            if entry["due"] >= measure_from:
                lat[entry["due"] >= trace_from].append(1000 * (done[b][0] - entry["due"]))

    late_ms = [1000 * (e["created"] - e["due"]) for e in feed_log]
    backlog_end = sum(1 for e in feed_log if e["written"] <= feed_end
                      and file_batch.get(e["file"]) not in
                      {p["batchId"] for p in progress
                       if p["numInputRows"] > 0 and _epoch_s(p["timestamp"]) <= feed_end})
    out = Outcome(attempted=attempted, failed=failed)
    out.report += [timing_report("event->kv latency", lat[False]),
                   f"generator late: p50={tracing.median(late_ms):.1f}ms "
                   f"max={max(late_ms):.1f}ms; backlog at feed end: {backlog_end} files"]
    out.e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
        "latency_p50_ms": tracing.median(lat[False]),
        "latency_tail_ms": tracing.tail(lat[False]).value,
    }
    if traced_run:
        traced_batches = {b for b, (_, tr_on) in done.items() if tr_on}
        traced_p50 = tracing.median(lat[True])
        out.layer = {
            **serving_layer_metrics(run, session_s),
            **stream_layer_metrics(run, progress, traced_batches),
            **spark_counter_metrics(counts, len([p for p in progress if p["numInputRows"]])),
            "stream.backlog_files_end": float(backlog_end),
            "latency.samples": float(len(lat[False])),
            "latency.tail_pct": tracing.tail(lat[False]).pct,
            "gen.late_p50_ms": tracing.median(late_ms),
            "gen.late_max_ms": max(late_ms),
            "trace.overhead_ms": traced_p50 - out.e2e["latency_p50_ms"],
            "trace.overhead_pct": 100 * (traced_p50 / out.e2e["latency_p50_ms"] - 1),
        }
    return out


def _epoch_s(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {
    "nightly_rebuild": (nightly_rebuild, 0),
    "online_events": (online_events, 1),  # one core left to the generator
}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def result_metrics(out: Outcome, host: dict, traced: bool) -> dict:
    if not traced:
        return {name: {"value": float(out.e2e[name]), "unit": unit}
                for name, unit, _, _ in metrics.END_TO_END}
    layer = {**out.layer, **{f"host.{k}": float(v) for k, v in host.items()}}
    return {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
            for name, unit, _ in metrics.PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: package {PKG} not found next to perfbench/", file=sys.stderr)
        return 2

    fn, reserve = WORKLOADS[a.workload]
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), reserve)
    try:
        out = fn(run)
    finally:
        run.close()
    host = tracing.host_info(run.cpu0)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": result_metrics(out, host, bool(a.trace)),
    }
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "env": run.env, "host": host, "result": result}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if a.trace:
        run.tracer.dump(os.path.join(WORK, "traces", f"{a.workload}-{run.tracer.run_id}.jsonl"))
    for line in out.report:
        print(line)
    print(f"host: nproc={host['nproc']} loadavg_1m={host['loadavg_1m']:.2f} "
          f"steal={host['steal_pct']:.2f}% spark_cpus={run.cpus} "
          f"driver_mem={run.env['SPARK_GRAFT_DRIVER_MEM']}")
    print(f"failed_ratio: {out.failed}/{out.attempted}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
