"""Self-tests of the benchmark: ``python -m pytest perfbench -q``.

They check the benchmark, not the engine: a gate must count a corrupted
sink row as failed, and every metric the benchmark can print must be
declared in ``BENCHMARK.json`` with the same unit.
"""

from __future__ import annotations

import json
import os
import types

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gates, gen, stats, workloads
from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_every_printed_metric_is_declared_with_its_unit():
    spec = _declared()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == {k: workloads.UNITS[k] for k in workloads.END_TO_END}
    assert layer == workloads.layer_names()
    assert {w["name"] for w in spec["workloads"]} == {
        "ingest_backlog", "symbol_scans"}
    for trace, names in ((0, e2e), (1, layer)):
        run = workloads.Run(types.SimpleNamespace(
            workload="symbol_scans", seed=1, trace=trace), "")
        run.e2e = {k: 1.0 for k in workloads.END_TO_END}
        out = run.result(3, 0)
        assert set(out) == {"correct", "attempted", "failed", "metrics",
                            "report"}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == names


def _write_table(table_dir: str, batches: list[list[dict]]) -> None:
    """Sink-shaped parquet: one file per appended batch under
    ``topic=<topic>/``, carrying ``__batch_id``."""
    part = os.path.join(table_dir, f"topic={gen.TOPIC}")
    os.makedirs(part, exist_ok=True)
    for b, rows in enumerate(batches):
        tbl = pa.Table.from_pylist([
            {"symbol": r["symbol"], "price": r["price"],
             "time": pa.scalar(r["time"] * 1_000_000,
                               pa.timestamp("us")).as_py(),
             "volume": r["volume"], gates.BATCH_COL: b} for r in rows])
        pq.write_table(tbl, os.path.join(part, f"part-{b:05d}.parquet"))


def _rows_as_spark(rows: list[dict]) -> list[tuple]:
    import datetime as dt

    return [(r["symbol"], r["price"],
             dt.datetime.fromtimestamp(r["time"]), r["volume"], gen.TOPIC)
            for r in sorted(rows, key=lambda r: -r["time"])]


def test_scan_gate_counts_a_corrupted_row_as_failed(tmp_path):
    t0 = gen.BASE_EPOCH
    old = [{"symbol": "SYM1", "price": 10.0, "time": t0 + i, "volume": 1}
           for i in range(5)]
    new = [dict(old[2], volume=7)]  # re-upsert: shadows old[2]
    _write_table(str(tmp_path / "book"), [old, new])
    latest = old[:2] + new + old[3:]
    cols = ["symbol", "price", "time", "volume", "topic"]
    scans = [("book", "SYM1", t0, t0 + 10)] * 2
    good = (cols, _rows_as_spark(latest))
    bad_rows = _rows_as_spark(latest)
    bad_rows[0] = bad_rows[0][:3] + (99,) + bad_rows[0][4:]
    attempted, failed, detail = gates.scan_gate(
        str(tmp_path), scans, [good, (cols, bad_rows)])
    assert (attempted, failed) == (2, 1)
    assert detail["rows_read"] == 12 and detail["rows_kept"] == 10
    # a shadowed (stale) row instead of the winner is a failure too
    stale = (cols, _rows_as_spark(old))
    assert gates.scan_gate(str(tmp_path), scans[:1], [stale])[1] == 1


@pytest.fixture(scope="module")
def spark():
    from level2_to_cassandra_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", master="local[2]",
                  shuffle_partitions=4,
                  extra_conf={"spark.ui.enabled": "false"})
    yield s
    s.stop()


def test_reconcile_gate_counts_a_corrupted_sink_row_as_failed(
        spark, tmp_path):
    from level2_to_cassandra_spark.sources import file_envelope_batch
    from level2_to_cassandra_spark.streaming.pipeline import (
        PipelineConfig,
        build_batch_pipeline,
    )
    from level2_to_cassandra_spark.streaming.sink import (
        write_upsert_parquet,
    )

    capture = str(tmp_path / "capture")
    gen.write_capture(5, capture, 400, 2)
    cfg = PipelineConfig(mode="full", topic_filter=gen.TOPIC,
                         out_path=str(tmp_path / "sink"),
                         checkpoint=str(tmp_path / "ckpt"))
    for suffix, df in build_batch_pipeline(
            file_envelope_batch(spark, capture), cfg).items():
        write_upsert_parquet(df, cfg.out_path, suffix, 0)
    attempted, failed, _ = gates.reconcile_gate(spark, capture, cfg)
    assert failed == 0 and attempted > 300

    # corrupt exactly one tick row's payload in place
    tick_file = gates.table_files(os.path.join(cfg.out_path, "tick"))[0]
    tbl = pq.read_table(tick_file)
    vol = tbl.column("volume").to_pylist()
    vol[0] += 1
    tbl = tbl.set_column(tbl.schema.get_field_index("volume"), "volume",
                         pa.array(vol, tbl.schema.field("volume").type))
    # keep the INT96 timestamps Spark wrote
    pq.write_table(tbl, tick_file, use_deprecated_int96_timestamps=True)
    crc = os.path.join(os.path.dirname(tick_file),
                       f".{os.path.basename(tick_file)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    attempted2, failed2, detail = gates.reconcile_gate(spark, capture, cfg)
    assert attempted2 == attempted
    assert failed2 == 1 and detail["tick"]["mismatch"] == 1


def test_capture_is_seeded_in_order_and_mtime_ordered(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen.write_capture(3, a, 1000, 4)
    gen.write_capture(3, b, 1000, 4)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 4
    seqs, mtimes = [], []
    for n in names:
        with open(os.path.join(a, n), encoding="utf-8") as fa, \
                open(os.path.join(b, n), encoding="utf-8") as fb:
            text = fa.read()
            assert text == fb.read()
        seqs += [json.loads(line)["seq"] for line in text.splitlines()]
        mtimes.append(os.path.getmtime(os.path.join(a, n)))
    assert seqs == list(range(1000))
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    assert gen.capture_lines(4, 50) != gen.capture_lines(3, 50)


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    with tr.span("outer", "r") as outer:
        with tr.span("inner", "r"):
            pass
        with tr.span("inner", "r"):
            pass
    kids = tr.named("inner")
    assert all(k.parent == outer.sid for k in kids)
    expect = outer.dur - sum(k.dur for k in kids)
    assert tr.self_time(outer) == pytest.approx(expect, abs=1e-9)
    assert Tracer(enabled=False).spans == []


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail(list(range(19))) is None
    assert stats.tail(list(range(40)))[0] == 75.0
    assert stats.tail(list(range(200)))[0] == 95.0
    assert stats.median([3.0, 1.0, 2.0]) == 2.0


def test_history_is_seeded_drains_with_replays_and_carried_sums():
    a = list(gen.history_batches(7, 3, 400, (1,)))
    b = list(gen.history_batches(7, 3, 400, (1,)))
    assert [x[0] for x in a] == [0, 1, 1, 2]
    for (ba, ra), (bb, rb) in zip(a, b):
        assert ba == bb
        for t in ("book", "tick"):
            assert ra[t].equals(rb[t])
    assert a[1][1] is a[2][1]  # a replay appends the same rows again
    book = a[0][1]["book"]
    assert set(book["order_type"]) == {"BID", "ASK"}
    assert len(book) == 5 * sum(
        1 for s in range(400) if gen.is_book(s) and s % 997)
    # running sums continue across drains within a (symbol, day)
    ticks = pd.concat([r["tick"] for _b, r in (a[0], a[1], a[3])])
    grp = ticks.groupby(["symbol", "day"])
    buy = ticks["volume"].where(ticks["trade_type"] == "B", 0)
    assert (grp["cumbuy"].transform("max")
            == buy.groupby([ticks["symbol"], ticks["day"]])
            .transform("sum")).all()
    assert (ticks["cumdelta"] == ticks["cumbuy"] - ticks["cumsell"]).all()


def test_every_scan_window_holds_the_message_it_was_drawn_from():
    n = workloads.HISTORY_DRAINS * workloads.BACKLOG_MSGS
    scans = workloads._scan_list(3, 40)
    assert [s[0] for s in scans[:4]] == ["book", "tick", "book", "tick"]
    assert scans == workloads._scan_list(3, 40)
    lo_t, hi_t = gen.event_time(0, n), gen.event_time(n - 1, n)
    for _table, sym, lo, hi in scans:
        assert hi - lo == workloads.SCAN_WINDOW_S
        assert lo % workloads.SCAN_WINDOW_S == 0
        assert hi > lo_t and lo <= hi_t and sym.startswith("SYM")


def test_missing_progress_raises_instead_of_reporting_zero():
    with pytest.raises(RuntimeError, match="no progress"):
        workloads._Progress().wait_for(3, timeout=0.2)
