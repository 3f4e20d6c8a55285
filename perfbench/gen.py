"""Seeded input generators.  The program under test only ever sees the
files these write; the same seed always gives byte-identical inputs.

* :func:`write_capture` — a JSONL envelope capture in the daemon's file
  source format, with the traffic mix of ``bench_streaming.py``: one in
  ten messages is a 5-level BOOK snapshot, the rest are TICKs, 8
  symbols, event times spread over two UTC days, one payload in 997
  malformed.  Files are written one at a time, in event order, each by
  create-then-rename with a strictly increasing mtime, because the file
  source orders files by modification time.
* :func:`history_batches` — sink rows for the scan workload: what
  successive drains of one longer capture of the same traffic write,
  with replayed drains appended a second time, as the daemon's
  at-least-once file source does after a restart between a sink write
  and its commit, so last-write-wins at read time shadows rows.
"""

from __future__ import annotations

import json
import os
import random

import pandas as pd

BASE_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC
TWO_DAYS = 2 * 86400
TOPIC = "btcusd"
N_SYMBOLS = 8


def symbol(i: int) -> str:
    return f"SYM{i % N_SYMBOLS}"


def event_time(seq: int, n_msgs: int) -> int:
    """Epoch seconds of message ``seq`` in a capture of ``n_msgs``
    spread over two days: non-decreasing in ``seq``, and distinct for
    two messages of one symbol."""
    return BASE_EPOCH + seq * TWO_DAYS // n_msgs


def is_book(seq: int) -> bool:
    return seq % 10 == 0


def _message(rng: random.Random, seq: int, n_msgs: int) -> dict:
    """One envelope."""
    sym = symbol(seq)
    t = event_time(seq, n_msgs)
    kind = "BOOK" if is_book(seq) else "TICK"
    if seq % 997 == 0:
        payload = "{not json"
    elif kind == "BOOK":
        mid = round(rng.uniform(50.0, 150.0), 2)
        payload = json.dumps([
            {"symbol": sym, "price": round(mid + 0.01 * k, 2), "time": t,
             "volume": rng.randint(1, 500),
             "type": "BOOK_TYPE_BID" if k < 3 else "BOOK_TYPE_ASK"}
            for k in range(5)
        ])
    else:
        bid = round(rng.uniform(50.0, 150.0), 2)
        payload = json.dumps({
            "symbol": sym, "bid": bid, "price": round(bid + 0.05, 2),
            "ask": round(bid + 0.1, 2), "time": t,
            "volume": rng.randint(1, 97),
            "type": "B" if rng.random() < 0.5 else "S",
        })
    return {"topic": TOPIC, "msg_type": kind, "payload": payload,
            "seq": seq}


def messages(seed: int, n_msgs: int) -> list[dict]:
    rng = random.Random(seed)
    return [_message(rng, s, n_msgs) for s in range(n_msgs)]


def capture_lines(seed: int, n_msgs: int) -> list[str]:
    return [json.dumps(m) for m in messages(seed, n_msgs)]


def write_capture_file(path: str, lines: list[str], mtime: float) -> None:
    """Create-then-rename, so a watching source never lists a partial
    file, then pin the mtime that orders it among its siblings."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def write_capture(seed: int, out_dir: str, n_msgs: int,
                  n_files: int) -> None:
    """Write ``n_msgs`` messages as ``n_files`` files, sequentially and
    in event order (file ``i`` holds the ``i``-th slice of seq)."""
    os.makedirs(out_dir, exist_ok=True)
    lines = capture_lines(seed, n_msgs)
    per = -(-n_msgs // n_files)
    for i in range(n_files):
        write_capture_file(os.path.join(out_dir, f"part-{i:05d}.json"),
                           lines[i * per:(i + 1) * per],
                           BASE_EPOCH + i)


def _ts(epoch_s: list[int]) -> pd.Series:
    return pd.to_datetime(pd.Series(epoch_s, dtype="int64"), unit="s")


def sink_rows(msgs: list[dict], carry: dict) -> dict[str, pd.DataFrame]:
    """The book and tick rows the daemon writes for one drain of
    ``msgs``: malformed payloads go to the dead-letter table instead,
    a BOOK message becomes one row per level with the ``BOOK_TYPE_``
    prefix stripped, and a tick carries the running buy and sell volume
    of its (symbol, UTC day), continued from ``carry`` across drains."""
    book, tick = [], []
    for m in msgs:
        try:
            payload = json.loads(m["payload"])
        except ValueError:
            continue
        if m["msg_type"] == "BOOK":
            book += [(lv["symbol"], lv["price"], lv["time"], lv["volume"],
                      lv["type"].replace("BOOK_TYPE_", ""))
                     for lv in payload]
        else:
            tick.append((m["seq"], payload))
    bdf = pd.DataFrame(book, columns=["symbol", "price", "time", "volume",
                                      "order_type"])
    bdf.insert(0, "topic", TOPIC)
    bdf["time"] = _ts(bdf["time"].tolist())
    bdf["volume"] = bdf["volume"].astype("int32")
    rows = []
    for seq, p in tick:
        key = (p["symbol"], (p["time"] - BASE_EPOCH) // 86400)
        buy, sell = carry.get(key, (0, 0))
        if p["type"] == "B":
            buy += p["volume"]
        else:
            sell += p["volume"]
        carry[key] = (buy, sell)
        rows.append((seq, p["symbol"], p["bid"], p["price"], p["ask"],
                     p["time"], p["volume"], p["type"], buy, sell))
    tdf = pd.DataFrame(rows, columns=[
        "seq", "symbol", "bid", "price", "ask", "time", "volume",
        "trade_type", "cumbuy", "cumsell"])
    tdf.insert(0, "topic", TOPIC)
    tdf["time"] = _ts(tdf["time"].tolist())
    tdf["volume"] = tdf["volume"].astype("int32")
    tdf["day"] = tdf["time"].dt.date
    tdf["cumdelta"] = tdf["cumbuy"] - tdf["cumsell"]
    return {"book": bdf, "tick": tdf}


def history_batches(seed: int, n_drains: int, drain_msgs: int,
                    replayed: tuple[int, ...]):
    """Yield ``(batch_id, {"book": rows, "tick": rows})`` in write
    order: drain ``b`` holds messages ``b * drain_msgs`` onwards of one
    in-order capture of ``n_drains * drain_msgs`` messages, and a drain
    in ``replayed`` is yielded twice under the same batch id."""
    msgs = messages(seed, n_drains * drain_msgs)
    carry: dict = {}
    for b in range(n_drains):
        rows = sink_rows(msgs[b * drain_msgs:(b + 1) * drain_msgs], carry)
        yield b, rows
        if b in replayed:
            yield b, rows
