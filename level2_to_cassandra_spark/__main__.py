"""The reference daemon as one command: ``python -m level2_to_cassandra_spark``.

The reference ships three binaries dispatched by ``start.sh:3-14`` on
``APP_MODE`` and configured entirely by env vars (README.md:8-16,
docker-compose.yaml:6-15).  This module is the drop-in equivalent: read
the same env surface (:meth:`PipelineConfig.from_env`), build the
engine session, attach a source, start the Structured Streaming
pipeline, supervise its queries until they end.

Source selection (``--source``, or ``L2C_SOURCE`` env, default auto):

* ``kafka`` — production; chosen automatically when ``API_ADDRESS`` is
  set (the reference's broker address var, main.rs:180);
* ``file`` — JSONL envelope capture directory (``--input`` /
  ``L2C_INPUT``), the replay path;
* ``wire`` — raw multipart capture files via the registered ``l2wire``
  Python Data Source (sources/wire.py);
* ``rate`` — synthetic TICK load for smoke runs.

``--drain`` switches the trigger to ``availableNow``: consume whatever
the bounded source holds, checkpoint, exit 0 — replay/backfill/CI
semantics.  Without it the daemon micro-batches forever, matching the
reference's blocking recv loop (main.rs:219-230).  Either way, a query
that fails stops the others and the daemon exits 1.
"""

from __future__ import annotations

import argparse
import os
import sys


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="python -m level2_to_cassandra_spark",
        description="Run the ingest pipeline (env-configured, "
                    "reference-compatible surface).",
    )
    p.add_argument("--source", choices=("auto", "kafka", "file", "wire",
                                        "rate"),
                   default=os.environ.get("L2C_SOURCE", "auto"))
    p.add_argument("--input", default=os.environ.get("L2C_INPUT"),
                   help="capture path for file/wire sources")
    p.add_argument("--drain", action="store_true",
                   help="availableNow trigger: drain the source and exit")
    p.add_argument("--compact", action="store_true",
                   help="maintenance mode: fold the upsert sink's append "
                        "history to each key's winning row and exit "
                        "(no source needed)")
    p.add_argument("--reconcile", action="store_true",
                   help="audit mode: replay the capture (--input) through "
                        "the batch pipeline, diff it against the sink, "
                        "print per-table counters; exit 0 iff clean")
    p.add_argument("--query", metavar="NAME",
                   help="run one registered query against --sf-dir and "
                        "print the result (NAME=list prints the registry)")
    p.add_argument("--sf-dir", default=os.environ.get(
                       "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
                   help="fixture directory for --query")
    p.add_argument("--limit", type=int, default=20,
                   help="rows to show for --query")
    p.add_argument("--explain", action="store_true",
                   help="with --query: print the physical-plan report "
                        "(pushdown/broadcast/shuffle markers) instead "
                        "of rows")
    p.add_argument("--metrics-report", action="store_true",
                   help="summarize the APP_METRICS ingest audit table "
                        "per sink table and exit (no source needed)")
    p.add_argument("--since", metavar="ISO_TS",
                   help="with --reconcile: audit only event times >= "
                        "this ISO timestamp (partition-scoped nightly "
                        "audits)")
    p.add_argument("--until", metavar="ISO_TS",
                   help="with --reconcile: audit only event times < "
                        "this ISO timestamp")
    p.add_argument("--rate", type=int, default=100,
                   help="rows/sec for the rate source")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    from level2_to_cassandra_spark import sources
    from level2_to_cassandra_spark.session import get_spark
    from level2_to_cassandra_spark.sources.wire import register_wire_source
    from level2_to_cassandra_spark.streaming.pipeline import (
        PipelineConfig,
        build_streaming_pipeline,
        kafka_envelope,
    )

    args = _parse_args(argv)
    cfg = PipelineConfig.from_env()
    if args.query:
        from level2_to_cassandra_spark.registry import all_queries

        qs = all_queries()
        if args.query == "list":
            for name, q in qs.items():
                doc = (q.fn.__doc__ or "").strip().splitlines()[0]
                print(f"{name:32s} {doc}")
            return 0
        if args.query not in qs:
            print(f"error: unknown query {args.query!r} "
                  f"(--query list shows all {len(qs)})", file=sys.stderr)
            return 2
        spark = get_spark(app_name=f"l2c-query-{args.query}")
        df = qs[args.query].fn(spark, args.sf_dir)
        if args.explain:
            from level2_to_cassandra_spark.plans import plan_report

            print(plan_report(df))
        else:
            df.show(args.limit, truncate=False)
        return 0
    if args.metrics_report:
        from pyspark.sql import functions as F

        from level2_to_cassandra_spark.streaming.monitor import (
            read_metrics,
        )

        spark = get_spark(app_name="l2c-metrics-report")
        rc = 0
        for suffix in ("book", "tick"):
            try:
                m = read_metrics(spark, cfg.out_path, suffix)
                # dropDuplicates(batch_id): at-least-once telemetry
                # may hold a replayed batch's second row (monitor.py)
                r = m.dropDuplicates(["batch_id"]).agg(
                    F.count(F.lit(1)).alias("batches"),
                    F.sum("n_rows").alias("rows"),
                    F.sum("n_null_key").alias("null_keys"),
                    F.min("min_event_ts").alias("first_event"),
                    F.max("max_event_ts").alias("last_event"),
                ).first()
            except Exception as e:  # noqa: BLE001 — unreadable table
                print(f"metrics {suffix}: absent ({type(e).__name__})",
                      file=sys.stderr)
                continue
            if r["batches"] == 0:
                # read_metrics returns an EMPTY relation (not an
                # error) before the first delivered batch since r13 —
                # report absence instead of a misleading zero row
                print(f"metrics {suffix}: absent (no batches delivered)",
                      file=sys.stderr)
                continue
            print(f"metrics {suffix}: batches={r['batches']} "
                  f"rows={r['rows']} null_keys={r['null_keys']} "
                  f"span=[{r['first_event']} .. {r['last_event']}]")
            if (r["null_keys"] or 0) > 0:
                rc = 1  # broken upsert keys reached the sink
        return rc
    if args.reconcile:
        from level2_to_cassandra_spark.streaming.reconcile import (
            reconcile_sink,
        )

        if not args.input:
            print("error: --reconcile needs --input/L2C_INPUT",
                  file=sys.stderr)
            return 2
        src = "wire" if args.source == "wire" else "file"
        from datetime import datetime

        since = datetime.fromisoformat(args.since) if args.since else None
        until = datetime.fromisoformat(args.until) if args.until else None
        spark = get_spark(app_name="l2c-reconcile")
        suffixes = {"book": ("book", "full"), "tick": ("tick", "full")}
        clean = True
        for suffix, modes in suffixes.items():
            if cfg.mode not in modes:
                continue
            r = reconcile_sink(spark, args.input, cfg, suffix, source=src,
                               since=since, until=until)
            print(f"reconcile {suffix}: {r}")
            clean = clean and r["ok"]
        return 0 if clean else 1
    if args.compact:
        from level2_to_cassandra_spark.streaming.sink import (
            CompactionLockHeld,
            compact_sink,
        )

        spark = get_spark(app_name="l2c-compact")
        contended = False
        for suffix in ("book", "tick"):
            try:
                n = compact_sink(spark, cfg.out_path, suffix)
            except CompactionLockHeld as e:
                # surface WHO holds the lock and exit nonzero so a
                # scheduler notices a permanently wedged lock instead
                # of logging success forever (self-review r09)
                print(f"compact {suffix}: {e}", file=sys.stderr)
                contended = True
            except Exception as e:  # noqa: BLE001 — a table may not exist
                print(f"compact {suffix}: skipped ({type(e).__name__})",
                      file=sys.stderr)
            else:
                print(f"compact {suffix}: {n} rows")
        # the monitor journals share the maintenance window: the
        # shingle-df fold requires stream quiescence (its docstring's
        # VACUUM contract), which is exactly when --compact runs; it
        # takes its OWN journal flock, so a sink-lock contention above
        # does not make this leg unsafe — but its own contention is
        # surfaced the same way (rc 1 so a scheduler notices)
        from level2_to_cassandra_spark.streaming.monitor import (
            compact_shingle_df,
        )

        try:
            w = compact_shingle_df(spark, cfg.out_path)
        except CompactionLockHeld as e:
            print(f"compact shingle-df journal: {e}", file=sys.stderr)
            contended = True
        except Exception as e:  # noqa: BLE001 — journal may not exist
            print(f"compact shingle-df journal: skipped "
                  f"({type(e).__name__})", file=sys.stderr)
        else:
            print("compact shingle-df journal: "
                  + ("no-op" if w is None else f"folded through batch {w}"))
        return 1 if contended else 0
    src = args.source
    if src == "auto":
        src = "kafka" if cfg.kafka.get("kafka.bootstrap.servers") else "file"
    if src in ("file", "wire") and not args.input:
        print("error: --source", src, "needs --input/L2C_INPUT",
              file=sys.stderr)
        return 2

    spark = get_spark(app_name=f"l2c-{cfg.mode}")
    if src == "kafka":
        envelope = kafka_envelope(spark, cfg)
    elif src == "file":
        envelope = sources.file_envelope_stream(
            spark, args.input,
            max_files_per_trigger=cfg.max_files_per_trigger,
        )
    elif src == "wire":
        register_wire_source(spark)
        reader = spark.readStream.format("l2wire")
        # cap only in continuous mode: under availableNow the simple
        # stream reader treats the first capped batch as "everything
        # available" and a --drain would exit early (pinned in
        # tests/test_wire_source.py)
        if cfg.max_files_per_trigger is not None and not args.drain:
            reader = reader.option("maxFilesPerTrigger",
                                   str(cfg.max_files_per_trigger))
        envelope = reader.load(args.input)
    else:
        envelope = sources.rate_envelope(spark, args.rate)

    # forget terminations of earlier queries on a reused session, so
    # the supervisor below wakes only for this pipeline's
    spark.streams.resetTerminated()
    queries = build_streaming_pipeline(
        envelope, cfg, trigger_available_now=args.drain
    )
    return _supervise(spark, queries)


def _supervise(spark, queries: list) -> int:
    """Block until every query has ended; 0 if all ended cleanly.

    The first query to fail stops its siblings and returns 1, so a
    failed tick or DLQ query cannot go unnoticed while the daemon
    waits on book.  A clean end (an ``availableNow`` drain finishing)
    keeps the supervisor waiting on the rest."""
    from pyspark.errors import StreamingQueryException

    while True:
        try:
            spark.streams.awaitAnyTermination()
        except StreamingQueryException:
            pass  # reported below with the query it belongs to
        # a query that ends after this reset wakes the next wait; one
        # that ended before it is inactive in the checks below
        spark.streams.resetTerminated()
        failed = [q for q in queries
                  if not q.isActive and q.exception() is not None]
        live = [q for q in queries if q.isActive]
        if failed:
            for q in failed:
                cause = str(q.exception()).partition("\n")[0]
                print(f"error: streaming query {q.name or q.id} failed: "
                      f"{cause}", file=sys.stderr)
            for q in live:
                q.stop()
            return 1
        if not live:
            return 0


if __name__ == "__main__":
    sys.exit(main())
