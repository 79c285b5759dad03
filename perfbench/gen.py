"""Seeded input generators for the benchmark workloads.

Everything the benchmark feeds the program is made here from ``--seed``:
the TPC-H-ish star schema plus the ``events`` table that ``adhoc_query``
queries (same schemas and value domains as the fixture tables in
FIXTURES.md), the point batches ``ingest_rw`` inserts and the events
files its streaming step lands. The same seed gives the same bytes.

Values follow the parity doctrine's domains (catena_spark/parity.py):
money has two decimals, quantities are whole, dates are midnight naive
timestamps, so every oracle-backed query stays hash-exact against DuckDB.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
METRICS = ["cpu", "mem", "io", "net"]

_EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Uniform two-decimal amounts in [lo, hi] cents, as float64."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    """Midnight naive timestamps, uniform over whole days in [start, end]."""
    span = (end - start).days
    us = _us(start) + rng.integers(0, span + 1, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def star_schema(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem and
    events at scale factor ``sf`` (lineitem has 6,000,000 x sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
        }
    )
    names = np.char.add(
        np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part)
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _cents(rng, 90_000, 99_990, n_part),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line),
        }
    )
    t["events"] = events(rng, n_ev, dt.datetime(2024, 1, 1), 30 * DAY_US, 0)
    return t


def events(rng, n: int, start: dt.datetime, span_us: int, first_id: int) -> pa.Table:
    """``n`` events with sorted microsecond timestamps in
    [start, start + span_us); ids count up from ``first_id`` in ts order."""
    ts = np.sort(_us(start) + rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(15, n // 70), n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": _cents(rng, 1, 49_002, n),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
            ),
        }
    )


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout tables.load reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------------------ ingest_rw inputs

#: first day of the ingest_rw timeline; cycle c writes into day c // CYCLES_PER_DAY
INGEST_START = dt.datetime(2024, 3, 1)
CYCLES_PER_DAY = 4
N_SOURCES = 64
LATE_SHARE = 0.02
NULL_TS_SHARE = 0.01


def day_of(cycle: int) -> int:
    return cycle // CYCLES_PER_DAY


def day_name(day: int) -> str:
    return (INGEST_START + dt.timedelta(days=day)).strftime("%Y-%m-%d")


def day_start_us(day: int) -> int:
    return _us(INGEST_START) + day * DAY_US


def point_batch(seed: int, cycle: int, n: int) -> dict[str, np.ndarray]:
    """The points ``insert_rows`` receives in ``cycle``: series skewed
    (Zipf) over N_SOURCES x METRICS, timestamps inside the cycle's day,
    plus fixed shares of late rows (three days back, older than any
    writable window once the store holds two days) and NULL-ts rows.
    Columns: source, metric, ts (int64 µs, -1 = NULL), value."""
    rng = np.random.default_rng([seed, 2, cycle])
    day = day_of(cycle)
    src = (rng.zipf(1.3, n) - 1) % N_SOURCES
    ts = day_start_us(day) + rng.integers(0, DAY_US, n)
    kind = rng.random(n)
    if day >= 3:  # no day is late before the store has two days
        late = kind < LATE_SHARE
        ts[late] = day_start_us(day - 3) + rng.integers(0, DAY_US, int(late.sum()))
    ts[(kind >= LATE_SHARE) & (kind < LATE_SHARE + NULL_TS_SHARE)] = -1
    return {
        "source": src.astype(str).astype(object),
        "metric": rng.choice(METRICS, n).astype(object),
        "ts": ts,
        "value": _cents(rng, 0, 1_000_000, n),
    }


def read_targets(seed: int, cycle: int) -> list[tuple[str, str, int]]:
    """Four point reads for ``cycle``: (source, metric, seek µs). The
    series are Zipf-skewed like the writes; half seek into the newest
    window and half into the retained older windows."""
    rng = np.random.default_rng([seed, 3, cycle])
    day = day_of(cycle)
    out = []
    for i in range(4):
        src = str(int(rng.zipf(1.3) - 1) % N_SOURCES)
        metric = str(rng.choice(METRICS))
        back = 0 if i % 2 == 0 else int(rng.integers(1, 3))
        seek = day_start_us(max(0, day - back)) + int(rng.integers(0, DAY_US // 2))
        out.append((src, metric, seek))
    return out


def range_target(seed: int, cycle: int) -> tuple[str, str, int, int]:
    """One range read: (source, metric, from µs, to µs) spanning 12 hours
    ending in the newest window."""
    rng = np.random.default_rng([seed, 4, cycle])
    src = str(int(rng.zipf(1.3) - 1) % N_SOURCES)
    metric = str(rng.choice(METRICS))
    hi = day_start_us(day_of(cycle)) + int(rng.integers(DAY_US // 4, DAY_US))
    return src, metric, hi - DAY_US // 2, hi


def stream_file(seed: int, index: int, cycle: int, n: int) -> pa.Table:
    """Events file ``index`` for the streaming step, timestamps in the
    cycle's day, ids unique across files."""
    rng = np.random.default_rng([seed, 5, index])
    start = INGEST_START + dt.timedelta(days=day_of(cycle))
    tbl = events(rng, n, start, DAY_US, index * n)
    # the stream source declares ts as TIMESTAMP: store UTC instants
    return tbl.set_column(1, "ts", tbl["ts"].cast(pa.timestamp("us", tz="UTC")))
