"""The two workloads.  Each returns a ``result`` dict that
holds ``correct``, ``attempted``, ``failed``, ``metrics`` and the
``report`` printed on the line before it.

Both run the daemon's own configuration: ``PipelineConfig.from_env``
over the env surface a deployment sets, and ``session.get_spark`` with
no arguments, so its defaults are the only Spark settings applied.
:func:`applied_config` refuses a run where a benchmark-style override
is present.
"""

from __future__ import annotations

import gc
import json
import os
import random
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import gen, stats
from perfbench.gates import reconcile_gate, scan_gate, table_files
from perfbench.spans import Tracer, span_cost_s, traced_pipeline

#: ingest_backlog: one in-order capture, drained in one micro-batch
BACKLOG_MSGS = 10_000
BACKLOG_FILES = 10
#: symbol_scans: the history is HISTORY_DRAINS drains of the
#: ingest_backlog capture's size, i.e. BACKLOG_MSGS messages each
#: (about 5,000 book and 9,000 tick rows); a drain in REPLAYED_DRAINS
#: is appended twice under its batch id, as a restart between its sink
#: write and its commit makes the daemon do.  Ten drains, not twenty:
#: twenty made one run take 78 s, more than the run budget leaves.
HISTORY_DRAINS = 10
REPLAYED_DRAINS = (9,)
#: one scan covers one hour, the bucket of the q_ohlc_bars rollup
SCAN_WINDOW_S = 3600
#: scans per table state at least, whatever --seconds says
MIN_SCANS = 10
#: untimed scans of the whole history before the first timed one;
#: interleaving the raw and compacted scans shares any drift evenly
WARM_SCANS = 4

#: Spark settings a benchmark might be tempted to override (e.g. the
#: 32 shuffle partitions and 16g driver of bench_streaming.py)
WATCHED_CONF = (
    "spark.sql.shuffle.partitions", "spark.default.parallelism",
    "spark.driver.memory", "spark.executor.memory",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)

END_TO_END = ("setup_s", "op_p50_ms", "items_per_s")
UNITS = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s"}


def layer_names() -> dict[str, str]:
    """Every per-layer metric with its unit; each traced run prints all
    of them, 0 where the layer does no work on that workload."""
    names = {
        "session.start_s": "s", "session.warmup_s": "s",
        "source.latest_offset_ms": "ms", "source.get_batch_ms": "ms",
        "source.processed_rows_per_s": "1/s",
        "source.backlog_files_end": "count",
        "pipeline.tasks_per_batch": "count",
        "pipeline.stages_per_batch": "count",
        "ingest.parse_ms_per_100k": "ms", "ingest.book_rows": "count",
        "ingest.tick_rows": "count", "ingest.dead_letters": "count",
        "state.store_instances": "count", "state.updates_ms": "ms",
        "state.commit_ms": "ms", "state.rows_total": "count",
        "state.memory_bytes": "bytes",
        "state.rows_dropped_by_watermark": "count",
        "sink.scan.files_listed": "count", "sink.scan.rows_read": "count",
        "sink.scan.shadowed_ratio": "ratio", "sink.scan.list_ms": "ms",
        "sink.scan.exec_ms": "ms", "sink.compact.wall_ms": "ms",
        "sink.compact.rows_in": "count", "sink.compact.rows_out": "count",
        "monitor.metrics.wrapper_ms": "ms", "trace.e2e_s": "s",
        "trace.overhead_ms": "ms",
    }
    for q in ("book", "tick", "dlq"):
        names[f"pipeline.{q}.batches"] = "count"
        for m in ("batch_p50_ms", "planning_ms", "wal_commit_ms",
                  "commit_offsets_ms"):
            names[f"pipeline.{q}.{m}"] = "ms"
    for t in ("book", "tick"):
        names[f"sink.{t}.write_ms"] = "ms"
        names[f"sink.{t}.files_written"] = "count"
        names[f"sink.{t}.bytes_written"] = "bytes"
    return names


class Run:
    """Per-run bookkeeping: end-to-end values, layer values, report."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = Tracer(enabled=bool(args.trace))
        self.e2e: dict[str, float] = {}
        self.layer = {k: 0.0 for k in layer_names()}
        self.report: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "named": {}}

    def name(self, name: str, value: float, unit: str) -> None:
        """A metric under the workload's own name, for the report."""
        self.report["named"][name] = {"value": float(value), "unit": unit}

    def result(self, attempted: int, failed: int) -> dict:
        if self.args.trace:
            metrics = {k: {"value": float(v), "unit": layer_names()[k]}
                       for k, v in self.layer.items()}
        else:
            metrics = {k: {"value": float(self.e2e[k]), "unit": UNITS[k]}
                       for k in END_TO_END}
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics,
                "report": self.report}


def applied_config(spark) -> dict:
    """The configuration the run measured; raises if the session carries
    a setting the daemon would not have."""
    from level2_to_cassandra_spark.session import _DEFAULTS

    sc = spark.sparkContext
    conf = dict(sc.getConf().getAll())
    extra = {k: conf[k] for k in WATCHED_CONF
             if k in conf and k not in _DEFAULTS}
    drift = {k: spark.conf.get(k) for k, v in _DEFAULTS.items()
             if spark.conf.get(k) != v}
    if extra or drift:
        raise RuntimeError(f"not the daemon's configuration: "
                           f"overrides={extra} changed_defaults={drift}")
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get(
            "spark.sql.shuffle.partitions")),
        "arrow_max_records_per_batch": int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch")),
        "cpus": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def start_session(run: Run, app_name: str):
    from level2_to_cassandra_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    run.layer["session.start_s"] = time.perf_counter() - t0
    run.report["config"] = applied_config(spark)
    return spark


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus the JVM it launched."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (os.getpid(), int(jvm_pid)):
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _warm_python_workers(spark) -> None:
    """Start one pandas worker process per core, as the stateful tick
    operator will use."""
    n = spark.sparkContext.defaultParallelism
    (spark.range(0, 1000 * n, 1, n)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())


# --------------------------------------------------------------------------
# ingest_backlog


class _Progress(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` JSON from every query."""

    def __init__(self):
        self.events: list[dict] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self.lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def by_query(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {"book": [], "tick": [], "dlq": []}
        with self.lock:
            for p in self.events:
                if p.get("stateOperators"):
                    q = "tick"
                elif "_dead_letters" in p["sink"]["description"]:
                    q = "dlq"
                else:
                    q = "book"
                out[q].append(p)
        return {q: sorted(ps, key=lambda p: p["batchId"])
                for q, ps in out.items()}

    def wait_for(self, n_queries: int, timeout: float = 60.0) -> None:
        """Progress events arrive asynchronously; wait until every query
        reported a batch that read data, and raise if they do not."""
        end = time.monotonic() + timeout
        while True:
            got = self.by_query()
            done = [q for q, ps in got.items()
                    if any(p["numInputRows"] for p in ps)]
            if len(done) >= n_queries:
                return
            if time.monotonic() >= end:
                raise RuntimeError(f"no progress with input rows after "
                                   f"{timeout:g} s; queries with data: "
                                   f"{done}")
            time.sleep(0.1)


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _committed_files(ckpt_sources: str) -> set[str]:
    """Input files recorded in a file source's checkpoint log."""
    seen: set[str] = set()
    for name in os.listdir(ckpt_sources):
        if name.startswith("."):
            continue
        with open(os.path.join(ckpt_sources, name), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    seen.add(json.loads(line)["path"])
    return seen


def _daemon_env(work: str) -> None:
    os.environ.update({
        "APP_MODE": "full", "TOPIC": gen.TOPIC,
        "APP_METRICS": "1", "APP_DLQ": "1",
        "KEYSPACE": os.path.join(work, "sink"),
        "CHECKPOINT_DIR": os.path.join(work, "ckpt"),
        "TRIGGER_MAX_FILES": str(BACKLOG_FILES),
    })


def _warm_ingest(spark, run: Run) -> None:
    """Decode codegen on a small capture and the Python workers, so the
    timed drain does not pay their first use."""
    from level2_to_cassandra_spark.sources import file_envelope_batch
    from level2_to_cassandra_spark.streaming import ingest

    warm = os.path.join(run.work, "warm_capture")
    gen.write_capture(run.args.seed + 1, warm, 2000, 2)
    book_raw, tick_raw, _ = ingest.demux(file_envelope_batch(spark, warm))
    for df in (ingest.parse_book(book_raw), ingest.parse_tick(tick_raw)):
        df.write.format("noop").mode("overwrite").save()
    _warm_python_workers(spark)


def ingest_backlog(args, work: str, t_start: float):
    from level2_to_cassandra_spark.__main__ import main as daemon
    from level2_to_cassandra_spark.streaming.pipeline import PipelineConfig

    run = Run(args, work)
    capture = os.path.join(work, "capture")
    gen.write_capture(args.seed, capture, BACKLOG_MSGS, BACKLOG_FILES)
    _daemon_env(work)
    cfg = PipelineConfig.from_env()
    spark = start_session(run, f"l2c-{cfg.mode}")
    t0 = time.perf_counter()
    _warm_ingest(spark, run)
    run.layer["session.warmup_s"] = time.perf_counter() - t0
    progress = _Progress()
    spark.streams.addListener(progress)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    run.e2e["setup_s"] = time.perf_counter() - t_start

    t0 = time.perf_counter()
    with traced_pipeline(run.tracer):
        daemon(["--source", "file", "--input", capture, "--drain"])
    drain_s = time.perf_counter() - t0
    ungrouped = set(tracker.getJobIdsForGroup()) - jobs_before
    progress.wait_for(3)
    spark.streams.removeListener(progress)
    sink = os.path.join(work, "sink")
    written = {t: _dir_stats(os.path.join(sink, t)) for t in ("book", "tick")}

    run.name("peak_rss_mb", peak_rss_mb(spark), "MB")

    per_q = progress.by_query()
    ticks = [p for p in per_q["tick"] if p["numInputRows"]]
    batch_ms = [p["durationMs"]["triggerExecution"] for p in ticks]
    run.e2e.update({
        "op_p50_ms": stats.median(batch_ms),
        "items_per_s": BACKLOG_MSGS / drain_s,
    })
    run.report["config"].update({
        "trigger_max_files": BACKLOG_FILES, "messages": BACKLOG_MSGS,
        "capture_files": BACKLOG_FILES, "state_shuffle_partitions":
            ticks[0]["stateOperators"][0]["numShufflePartitions"],
    })
    run.name("backlog_msgs_per_s", BACKLOG_MSGS / drain_s, "msg/s")
    run.name("backlog_batch_p50_s", stats.median(batch_ms) / 1000.0, "s")
    run.name("backlog_drain_s", drain_s, "s")
    run.report["samples"] = {"tick_batches": len(batch_ms)}

    if args.trace:
        _ingest_layers(spark, run, per_q, tracker, ungrouped, written,
                       capture, work)
        run.layer["trace.e2e_s"] = run.e2e["op_p50_ms"] / 1000.0
        run.layer["trace.overhead_ms"] = (
            1000 * span_cost_s() * len(run.tracer.spans) / len(ticks))

    attempted, failed, detail = reconcile_gate(spark, capture, cfg)
    # state._cum_update_factory sorts each Arrow chunk of a (symbol, day)
    # group on its own; no group can span two chunks unless a batch
    # holds more rows than one chunk does; the state operator sees at
    # most the tick query's input rows
    chunk = run.report["config"]["arrow_max_records_per_batch"]
    detail["chunk_order_defect"] = {
        "input_rows_per_batch": max(p["numInputRows"] for p in ticks),
        "arrow_chunk_rows": chunk,
        "measurable": any(p["numInputRows"] > chunk for p in ticks),
    }
    run.report["gate"] = detail
    return run.result(attempted, failed)


def _rows_in(spark, sink: str) -> int:
    """Rows a compaction of book and tick reads, shadowed ones included."""
    return sum(
        spark.read.parquet(*table_files(os.path.join(sink, t))).count()
        for t in ("book", "tick"))


def _ingest_layers(spark, run: Run, per_q, tracker, ungrouped, written,
                   capture, work) -> None:
    L = run.layer
    for q, ps in per_q.items():
        ps = [p for p in ps if p["numInputRows"]]
        d = [p["durationMs"] for p in ps]
        L[f"pipeline.{q}.batches"] = len(ps)
        L[f"pipeline.{q}.batch_p50_ms"] = stats.median(
            x["triggerExecution"] for x in d)
        L[f"pipeline.{q}.planning_ms"] = stats.median(
            x.get("queryPlanning", 0) for x in d)
        L[f"pipeline.{q}.wal_commit_ms"] = stats.median(
            x.get("walCommit", 0) for x in d)
        L[f"pipeline.{q}.commit_offsets_ms"] = stats.median(
            x.get("commitOffsets", 0) for x in d)
    ticks = [p for p in per_q["tick"] if p["numInputRows"]]
    L["source.latest_offset_ms"] = stats.median(
        p["durationMs"].get("latestOffset", 0) for p in ticks)
    L["source.get_batch_ms"] = stats.median(
        p["durationMs"].get("getBatch", 0) for p in ticks)
    L["source.processed_rows_per_s"] = stats.median(
        p.get("processedRowsPerSecond") or 0 for p in ticks)
    done = _committed_files(os.path.join(work, "ckpt", "tick", "sources",
                                         "0"))
    L["source.backlog_files_end"] = BACKLOG_FILES - len(done)
    ops = [p["stateOperators"][0] for p in ticks]
    if ops:
        L["state.store_instances"] = max(o.get("numStateStoreInstances", 0)
                                         for o in ops)
        L["state.updates_ms"] = sum(o["allUpdatesTimeMs"] for o in ops)
        L["state.commit_ms"] = sum(o["commitTimeMs"] for o in ops)
        L["state.rows_total"] = ops[-1]["numRowsTotal"]
        L["state.memory_bytes"] = ops[-1]["memoryUsedBytes"]
        L["state.rows_dropped_by_watermark"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
    # stream jobs carry their query's run id as job group; foreachBatch
    # sink jobs may carry none
    jobs = set(ungrouped)
    for rid in {p["runId"] for ps in per_q.values() for p in ps}:
        jobs.update(tracker.getJobIdsForGroup(rid))
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = tracker.getStageInfo(s)
            if si is not None and si.numCompletedTasks:
                stages += 1
                tasks += si.numCompletedTasks
    n_batches = max(1, len(ticks))
    L["pipeline.tasks_per_batch"] = tasks / n_batches
    L["pipeline.stages_per_batch"] = stages / n_batches
    tr = run.tracer
    for t in ("book", "tick"):
        L[f"sink.{t}.write_ms"] = 1000 * stats.median(
            s.dur for s in tr.named(f"sink.{t}.write"))
        L[f"sink.{t}.files_written"], L[f"sink.{t}.bytes_written"] = (
            written[t])
    L["monitor.metrics.wrapper_ms"] = 1000 * stats.median(
        tr.self_time(s) for s in tr.named("monitor.metrics"))
    _parse_layer(spark, run, capture)


def _parse_layer(spark, run: Run, capture: str) -> None:
    """Decode cost as batch calls over the same capture, noop sink."""
    from level2_to_cassandra_spark.sources import file_envelope_batch
    from level2_to_cassandra_spark.streaming import ingest

    env = file_envelope_batch(spark, capture).cache()
    env.count()
    book_raw, tick_raw, _ = ingest.demux(env)
    frames = {
        "ingest.book_rows": ingest.parse_book(book_raw),
        "ingest.tick_rows": ingest.parse_tick(tick_raw, extra_cols=("seq",)),
        "ingest.dead_letters": ingest.dead_letters(book_raw, ingest.BOOK)
        .unionByName(ingest.dead_letters(tick_raw, ingest.TICK)),
    }
    total = 0.0
    for name, df in frames.items():
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        total += time.perf_counter() - t0
        run.layer[name] = df.count()
    env.unpersist()
    run.layer["ingest.parse_ms_per_100k"] = (
        1000 * total * 100_000 / BACKLOG_MSGS)


# --------------------------------------------------------------------------
# symbol_scans


def _scan_list(seed: int, n: int) -> list[tuple]:
    """``(table, symbol, lo, hi)``: scans alternate book and tick; each
    is the hour, in epoch seconds, around a message of that table drawn
    from the history, for that message's symbol."""
    rng = random.Random(seed * 7919 + 1)
    n_msgs = HISTORY_DRAINS * BACKLOG_MSGS
    out = []
    for i in range(n):
        seq = 10 * rng.randrange(n_msgs // 10)
        table = "book" if i % 2 == 0 else "tick"
        if table == "tick":
            seq += rng.randrange(1, 10)
        t = gen.event_time(seq, n_msgs)
        lo = t - t % SCAN_WINDOW_S
        out.append((table, gen.symbol(seq), lo, lo + SCAN_WINDOW_S))
    return out


def _scan(spark, tracer: Tracer, sink: str, i: int, scan: tuple):
    """One newest-first, per-symbol, time-range read through
    ``read_sink_latest``; returns (columns, rows)."""
    from pyspark.sql import functions as F

    from level2_to_cassandra_spark.streaming.sink import read_sink_latest

    table, sym, lo, hi = scan
    with tracer.span("scan", f"scan:{i}"):
        with tracer.span("sink.read_sink_latest", f"scan:{i}"):
            df = read_sink_latest(spark, sink, table)
        # one SQL predicate: a call per Column operator would add a
        # JVM round trip each to the scan's latency
        df = df.where(f"symbol = '{sym}' AND time >= timestamp_seconds({lo})"
                      f" AND time < timestamp_seconds({hi})"
                      ).orderBy(F.desc("time"))
        rows = df.collect()
        cols = df.columns
        del df
        # release the scan's own JVM object proxies, one round trip
        # each, here rather than in whichever later scan Python's cyclic
        # GC happens to run in
        gc.collect()
    return cols, rows


def _write_history(spark, run: Run, raw: str, meanwhile) -> None:
    """Append the history through ``write_upsert_parquet``: one writer
    thread per table, each in batch order, as the daemon's book and
    tick queries write concurrently; drains are generated meanwhile.
    Once the first drain is in, ``meanwhile(i)`` is called with
    i = 0, 1, ... until the last append has finished."""
    from level2_to_cassandra_spark.streaming.sink import write_upsert_parquet

    def write(suffix: str, b: int, pdf) -> None:
        df = spark.createDataFrame(pdf)
        with run.tracer.span(f"sink.{suffix}.write", f"{suffix}:{b}"):
            write_upsert_parquet(df, raw, suffix, b)

    lanes = {t: ThreadPoolExecutor(1) for t in ("book", "tick")}
    try:
        done = [lanes[t].submit(write, t, b, rows[t])
                for b, rows in gen.history_batches(
                    run.args.seed, HISTORY_DRAINS, BACKLOG_MSGS,
                    REPLAYED_DRAINS)
                for t in lanes]
        for f in done[:len(lanes)]:
            f.result()
        i = 0
        while not done[-1].done():
            meanwhile(i)
            i += 1
        for f in done:
            f.result()
    finally:
        for ex in lanes.values():
            ex.shutdown(cancel_futures=True)


def symbol_scans(args, work: str, t_start: float):
    """Scans alternate between the append history (``raw``) and a
    compacted copy of it, so a slow stretch of the host hits both
    metrics alike instead of one of two back-to-back phases.  A traced
    run adds an untraced scan of the history to each round, for the
    tracing overhead."""
    from level2_to_cassandra_spark.streaming.sink import compact_sink

    run = Run(args, work)
    spark = start_session(run, "level2-to-cassandra-spark")
    raw = os.path.join(work, "sink")
    off = Tracer(enabled=False)
    # scans of the growing history while it is written, then of all of
    # it: scan latency keeps falling over the first few dozen scans of
    # a fresh JVM as its hot paths compile
    warm = _scan_list(args.seed + 1, 1000)
    t0 = time.perf_counter()
    _write_history(spark, run, raw,
                   lambda i: _scan(spark, off, raw, i, warm[i % len(warm)]))
    history_s = time.perf_counter() - t0
    written = {t: _dir_stats(os.path.join(raw, t)) for t in ("book", "tick")}
    t0 = time.perf_counter()
    for i, sc in enumerate(warm[:WARM_SCANS]):
        _scan(spark, off, raw, i, sc)
    run.layer["session.warmup_s"] = time.perf_counter() - t0
    # hard links: compacting the copy leaves the history untouched
    compacted = os.path.join(work, "compacted")
    shutil.copytree(raw, compacted, copy_function=os.link)
    if args.trace:
        run.layer["sink.compact.rows_in"] = _rows_in(spark, raw)
    # long-lived objects need no traversal by the collection each scan
    # ends with
    gc.collect()
    gc.freeze()
    run.e2e["setup_s"] = time.perf_counter() - t_start

    t0 = time.perf_counter()
    rows_out = 0
    for t in ("book", "tick"):
        with run.tracer.span("sink.compact", t):
            rows_out += compact_sink(spark, compacted, t)
    compact_s = time.perf_counter() - t0

    # key -> (sink, traced)
    kinds = {"raw": (raw, True), "compacted": (compacted, False)}
    if args.trace:
        kinds["raw_untraced"] = (raw, False)
    order = list(kinds)
    lat: dict[str, list[float]] = {k: [] for k in kinds}
    res: dict[str, list] = {k: [] for k in kinds}
    scans = _scan_list(args.seed, 10_000)
    t_end = time.perf_counter() + args.seconds
    for i, sc in enumerate(scans):
        if i >= MIN_SCANS and time.perf_counter() >= t_end:
            scans = scans[:i]
            break
        for key in order[i % len(order):] + order[:i % len(order)]:
            sink, traced = kinds[key]
            t0 = time.perf_counter()
            res[key].append(_scan(spark, run.tracer if traced else off,
                                  sink, i, sc))
            lat[key].append(1000 * (time.perf_counter() - t0))
    run.name("peak_rss_mb", peak_rss_mb(spark), "MB")
    a1, f1, d1 = scan_gate(raw, scans, res["raw"])
    a2, f2, d2 = scan_gate(compacted, scans, res["compacted"])

    lat1 = lat["raw"]
    # per table, then averaged: book and tick scans differ in latency,
    # and the median of their mix would jump between the two
    p50 = {t: stats.median(x for x, sc in zip(lat1, scans) if sc[0] == t)
           for t in ("book", "tick")}
    rate = {t: stats.median(1000 * len(r) / ms for (_c, r), ms, sc
                            in zip(res["raw"], lat1, scans) if sc[0] == t)
            for t in ("book", "tick")}
    run.e2e.update({
        "op_p50_ms": sum(p50.values()) / 2,
        "items_per_s": sum(rate.values()) / 2,
    })
    run.name("scan_p50_ms", run.e2e["op_p50_ms"], "ms")
    run.name("scan_compacted_p50_ms", sum(stats.median(
        x for x, sc in zip(lat["compacted"], scans) if sc[0] == t)
        for t in ("book", "tick")) / 2, "ms")
    for t in ("book", "tick"):
        run.name(f"scan_{t}_p50_ms", p50[t], "ms")
    for key, name in (("raw", "scan"), ("compacted", "scan_compacted")):
        tl = stats.tail(lat[key])
        if tl is not None:
            run.name(f"{name}_p{tl[0]:g}_ms", tl[1], "ms")
    run.name("compact_s", compact_s, "s")
    run.name("history_write_s", history_s, "s")
    run.report.update({
        "samples": {"scans_per_table_state": len(scans)},
        "gate": {"uncompacted": d1, "compacted": d2},
    })
    run.report["config"].update({
        "history_drains": HISTORY_DRAINS, "drain_messages": BACKLOG_MSGS,
        "replayed_drains": list(REPLAYED_DRAINS),
        "scan_window_s": SCAN_WINDOW_S,
    })
    if args.trace:
        L, tr = run.layer, run.tracer
        for t in ("book", "tick"):
            L[f"sink.{t}.write_ms"] = 1000 * stats.median(
                s.dur for s in tr.named(f"sink.{t}.write"))
            L[f"sink.{t}.files_written"], L[f"sink.{t}.bytes_written"] = (
                written[t])
        L["sink.scan.list_ms"] = 1000 * stats.median(
            s.dur for s in tr.named("sink.read_sink_latest"))
        L["sink.scan.exec_ms"] = 1000 * stats.median(
            tr.self_time(s) for s in tr.named("scan"))
        L["sink.scan.files_listed"] = d1["files_per_scan"]
        L["sink.scan.rows_read"] = d1["rows_read"]
        L["sink.scan.shadowed_ratio"] = (
            d1["rows_read"] / d1["rows_kept"] if d1["rows_kept"] else 0.0)
        L["sink.compact.rows_out"] = rows_out
        L["sink.compact.wall_ms"] = 1000 * compact_s
        L["trace.e2e_s"] = run.e2e["op_p50_ms"] / 1000.0
        # paired: the same scan traced and untraced in one round
        L["trace.overhead_ms"] = stats.median(
            a - b for a, b in zip(lat1, lat["raw_untraced"]))
    return run.result(a1 + a2, f1 + f2)
