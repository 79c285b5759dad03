"""Correctness checks. Each returns a list of mismatch messages (empty =
correct), so a wrong result counts as a failed op like an exception does.

- ``value_hash``: the order-insensitive value hash of
  scripts/drive_contract.py (same canonicalizer,
  ``catena_spark.parity.norm_cell``), for adhoc results vs DuckDB.
- ``StoreModel``: what a CatenaDB must hold after the seeded batches,
  replaying the documented insert/retention rules in plain Python, for
  InsertResult counts, per-dt row counts and read results.
- ``check_stream``: exactly-once delivery of the streaming step.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterable, Sequence

import numpy as np
from catena_spark.parity import norm_cell


def value_hash(rows: Iterable[Sequence], cols: Sequence[str]) -> str:
    """sha256 over the sorted canonical row lines, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def result_signature(rows: Sequence[Sequence], cols: Sequence[str]) -> tuple:
    """(row count, sorted column names, value hash): the oracle gate."""
    return len(rows), tuple(sorted(cols)), value_hash(rows, cols)


def check_signature(got: tuple, want: tuple) -> list[str]:
    labels = ("rows", "columns", "value hash")
    return [f"{lab}: got {g!r}, want {w!r}" for lab, g, w in zip(labels, got, want) if g != w]


class StoreModel:
    """Expected content of a CatenaDB (api.py) driven by the benchmark.

    Rows live per dt window as numpy arrays. ``insert`` applies
    CatenaDB.insert_rows' documented routing: NULL-ts rows are invalid;
    once the store holds ``writable`` windows, rows older than the
    ``writable``-th newest window are late; everything else is written.
    ``retain`` keeps the newest windows, as ingest.retain_latest does.
    """

    def __init__(self, writable: int):
        self.writable = writable
        #: {dt: {"source", "metric", "ts", "value"} arrays}
        self.days: dict[str, dict[str, np.ndarray]] = {}

    def insert(self, batch: dict[str, np.ndarray]) -> tuple[int, int, int]:
        """Returns the expected (inserted, rejected_late, rejected_invalid).
        ``batch["ts"]`` is µs since the epoch (UTC), -1 for NULL."""
        ts = batch["ts"]
        valid = ts >= 0
        dts = dt_names(ts)
        parts = sorted(self.days)
        ok = valid.copy()
        if len(parts) >= self.writable:
            ok &= dts >= parts[-self.writable]
        for d in sorted(set(dts[ok])):
            sel = ok & (dts == d)
            new = {k: v[sel] for k, v in batch.items()}
            old = self.days.get(d)
            self.days[d] = new if old is None else {k: np.concatenate([old[k], new[k]]) for k in new}
        n_ok = int(ok.sum())
        return n_ok, int(valid.sum()) - n_ok, int((~valid).sum())

    def retain(self, max_partitions: int) -> list[str]:
        parts = sorted(self.days)
        drop = parts[: max(0, len(parts) - max_partitions)]
        for d in drop:
            del self.days[d]
        return drop

    def row_counts(self) -> dict[str, int]:
        return {d: len(v["ts"]) for d, v in self.days.items()}

    def series(self, source: str, metric: str) -> tuple[np.ndarray, np.ndarray]:
        """(ts µs, value) of one series, sorted by (ts, value)."""
        ts, val = [], []
        for v in self.days.values():
            sel = (v["source"] == source) & (v["metric"] == metric)
            ts.append(v["ts"][sel])
            val.append(v["value"][sel])
        ts = np.concatenate(ts) if ts else np.array([], np.int64)
        val = np.concatenate(val) if val else np.array([], np.float64)
        order = np.lexsort((val, ts))
        return ts[order], val[order]

    def first_after(self, source: str, metric: str, seek_us: int):
        ts, val = self.series(source, metric)
        i = int(np.searchsorted(ts, seek_us, side="left"))
        return None if i == len(ts) else (int(ts[i]), float(val[i]))

    def latest(self, source: str, metric: str):
        ts, val = self.series(source, metric)
        return None if len(ts) == 0 else (int(ts[-1]), float(val[-1]))

    def range(self, source: str, metric: str, lo_us: int, hi_us: int):
        ts, val = self.series(source, metric)
        sel = (ts >= lo_us) & (ts < hi_us)
        return [(int(t), float(v)) for t, v in zip(ts[sel], val[sel])]


def dt_names(ts_us: np.ndarray) -> np.ndarray:
    """UTC calendar date of each µs timestamp, as ``YYYY-MM-DD``."""
    return (ts_us // 86_400_000_000).astype("datetime64[D]").astype(str).astype(object)


def check_equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def dir_row_counts(base: str) -> dict[str, int]:
    """{dt: rows} of a dt-partitioned parquet directory, from footers."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for d, files in partition_files(base).items():
        out[d] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return out


def partition_files(base: str) -> dict[str, list[str]]:
    """{dt: data files} of a dt-partitioned directory."""
    out: dict[str, list[str]] = {}
    if not os.path.isdir(base):
        return out
    for entry in sorted(os.listdir(base)):
        if not entry.startswith("dt="):
            continue
        part = os.path.join(base, entry)
        out[entry[3:]] = [
            os.path.join(part, f)
            for f in sorted(os.listdir(part))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return out


def check_stream(dest: str, want_rows: int) -> list[str]:
    """Exactly-once: the retained sink holds exactly the rows landed in
    the retained windows, with no ``event_id`` twice."""
    import pyarrow.parquet as pq

    ids = [
        pq.read_table(f, columns=["event_id"])["event_id"].to_numpy()
        for files in partition_files(dest).values()
        for f in files
    ]
    ids = np.concatenate(ids) if ids else np.array([], np.int64)
    errs = check_equal("stream rows", len(ids), want_rows)
    dup = len(ids) - len(np.unique(ids))
    if dup:
        errs.append(f"stream: {dup} duplicate event_id")
    return errs
