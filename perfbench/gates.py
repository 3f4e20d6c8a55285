"""Correctness gates.  Each runs outside the timed region and returns
``(attempted, failed, detail)``.

* ingest: ``streaming.reconcile.reconcile_sink`` on book and tick —
  every expected row is one operation; missing, extra and mismatched
  rows fail.
* scans: each scan's rows against an independent DuckDB
  last-write-wins over the same parquet files — one operation per scan.
"""

from __future__ import annotations

import datetime as dt
import os

#: sink column that orders appended batches (streaming/sink.py)
BATCH_COL = "__batch_id"


def reconcile_gate(spark, capture: str, cfg) -> tuple[int, int, dict]:
    from level2_to_cassandra_spark.streaming.reconcile import reconcile_sink

    attempted = failed = 0
    detail = {}
    for suffix in ("book", "tick"):
        r = reconcile_sink(spark, capture, cfg, suffix)
        bad = r["missing"] + r["extra"] + r["mismatch"]
        attempted += r["matched"] + r["missing"] + r["mismatch"] + r["extra"]
        failed += bad
        detail[suffix] = {k: r[k] for k in
                          ("matched", "missing", "extra", "mismatch")}
    return attempted, failed, detail


def table_files(table_dir: str) -> list[str]:
    """Parquet files a reader of ``table_dir`` must see: the version dir
    named by ``_CURRENT`` (if any) plus every file outside ``_``/``.``
    prefixed dirs."""
    cur = None
    ptr = os.path.join(table_dir, "_CURRENT")
    if os.path.exists(ptr):
        with open(ptr, encoding="utf-8") as fh:
            cur = fh.read().strip() or None
    out = []
    for root, dirs, files in os.walk(table_dir):
        rel = os.path.relpath(root, table_dir)
        top = rel.split(os.sep)[0]
        if rel != "." and top.startswith(("_", ".")) and top != cur:
            dirs[:] = []
            continue
        out += [os.path.join(root, f) for f in files
                if f.endswith(".parquet")]
    return sorted(out)


def _norm(v):
    if isinstance(v, dt.datetime):
        return round(v.timestamp() * 1_000_000)
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


#: one scan's predicate; $lo and $hi are epoch microseconds
_RANGE = ("symbol = $sym AND time >= make_timestamp($lo) "
          "AND time < make_timestamp($hi)")


def _flist(files: list[str]) -> str:
    return ", ".join("'" + f.replace("'", "''") + "'" for f in files)


def _oracle_sql(files: list[str], cols: list[str], has_seq: bool) -> str:
    sel = ", ".join(
        "epoch_us(time) AS time" if c == "time"
        else "CAST(day AS VARCHAR) AS day" if c == "day" else c
        for c in cols)
    order = f"{BATCH_COL} DESC" + (", seq DESC" if has_seq else "")
    return (
        f"SELECT {sel} FROM read_parquet([{_flist(files)}], "
        f"hive_partitioning=1, union_by_name=1) WHERE {_RANGE} "
        f"QUALIFY row_number() OVER "
        f"(PARTITION BY symbol, time, price ORDER BY {order}) = 1"
    )


def scan_gate(table_dir: str, scans: list[tuple], results: list[tuple]
              ) -> tuple[int, int, dict]:
    """``scans[i] = (table, symbol, lo, hi)``; ``results[i] = (columns,
    rows)`` as collected from Spark, newest first.  A scan fails when
    its rows differ from DuckDB's as a multiset, or are not in
    non-increasing time order.  Also counts, per the same files, the
    rows read before last-write-wins."""
    import duckdb

    con = duckdb.connect()
    failed = rows_read = rows_kept = n_files = 0
    files = {}
    for (table, sym, lo, hi), (cols, rows) in zip(scans, results):
        if table not in files:
            files[table] = table_files(os.path.join(table_dir, table))
        fl = files[table]
        n_files += len(fl)
        params = {"sym": sym, "lo": lo * 1_000_000, "hi": hi * 1_000_000}
        want = con.execute(_oracle_sql(fl, cols, "seq" in cols),
                           params).fetchall()
        rows_read += con.execute(
            f"SELECT count(*) FROM read_parquet([{_flist(fl)}], "
            f"union_by_name=1) WHERE {_RANGE}", params).fetchone()[0]
        rows_kept += len(want)
        got = [tuple(_norm(v) for v in r) for r in rows]
        ti = cols.index("time")
        ordered = all(got[i][ti] >= got[i + 1][ti]
                      for i in range(len(got) - 1))
        if not ordered or sorted(got, key=repr) != sorted(
                (tuple(r) for r in want), key=repr):
            failed += 1
    con.close()
    n = len(scans)
    return n, failed, {"rows_read": rows_read, "rows_kept": rows_kept,
                       "files_per_scan": n_files / n if n else 0.0}
