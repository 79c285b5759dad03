"""The two workloads. Each runs in rounds; a round is the unit of warm-up,
of alternation between traced and untraced stretches, and of the timed
window (which always ends on a round boundary, so every kind of op keeps
its share).

- ``adhoc_query``: one round is every rotation key once, in a seeded
  order. An op builds, plans, executes and collects one registry query.
- ``ingest_rw``: one round is one day of catena traffic: four cycles of
  insert_rows + four point reads + one range read, then compaction,
  retention and one streaming ingest trigger.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

import checks
import gen

#: adhoc_query rotation: oracle-backed keys over the eight star tables.
#: An odd count puts the median (and p90) inside one key's cluster of
#: samples instead of on the gap between two keys, where it would jump.
ADHOC_KEYS = (
    "agg_pricing_summary",
    "topk_revenue_q3",
    "agg_stats_suite",
    "join_q8_market_share",
    "join_q5_local_supplier",
    "ts_resample_1h",
    "ts_latest_per_series",
)
ADHOC_SF = 0.01
#: ingest_rw sizes
BATCH_ROWS = 10_000
STREAM_ROWS = 10_000
RETAIN_DAYS = 3
WRITABLE = 2


@dataclass
class Op:
    kind: str
    desc: str  # Spark job description, keys the event log
    latency: float  # s
    errors: list[str] = field(default_factory=list)
    rows: int = 0  # rows fetched (adhoc) or accepted (ingest)
    rejected: tuple[int, int] = (0, 0)  # insert: (late, invalid) rows
    #: epoch interval whose Spark jobs count as execution
    exec_window: tuple[float, float] = (0.0, 0.0)

    @property
    def ok(self) -> bool:
        return not self.errors


class Workload:
    """Shared op bookkeeping. Subclasses define setup() and round()."""

    name = ""

    def __init__(self, spark, tracer, seed: int, run_dir: str):
        self.spark, self.tracer, self.seed, self.run_dir = spark, tracer, seed, run_dir
        self.sc = spark.sparkContext
        self.n_ops = 0
        self.rng = np.random.default_rng([seed, 0])
        self.reset_samples()

    def reset_samples(self) -> None:
        """Forget the layer samples taken so far (called when the timed
        window opens, so warm-up does not count)."""
        self.samples: dict[str, list] = {}

    def sample(self, name: str, value) -> None:
        self.samples.setdefault(name, []).append(value)

    def _op(self, kind: str, fn, *args) -> tuple[Op, object]:
        """Run one timed op; an exception is a failed op."""
        self.n_ops += 1
        desc = f"{self.name}:{self.n_ops}:{kind}"
        self.sc.setJobDescription(desc)
        self.tracer.op = desc
        wall = time.time()
        t0 = time.perf_counter()
        out, errs = None, []
        try:
            out = self.tracer.span("op", fn, *args)
        except Exception as ex:  # counted, reported, never fatal
            errs.append(f"{type(ex).__name__}: {str(ex)[:300]}")
        latency = time.perf_counter() - t0
        self.tracer.op = None
        self.sc.setJobDescription(None)
        return Op(kind, desc, latency, errs, exec_window=(wall, wall + latency)), out


# ------------------------------------------------------------------ adhoc


class AdhocQuery(Workload):
    name = "adhoc_query"

    def setup(self) -> None:
        import duckdb

        from catena_spark import registry

        self.sf_dir = os.path.join(self.run_dir, "sf")
        gen.write_tables(gen.star_schema(self.seed, ADHOC_SF), self.sf_dir)
        specs = registry.specs()  # the git-history scan runs here, untimed
        self.fns = {k: specs[k].fn for k in ADHOC_KEYS}
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.want = {}
        for k in ADHOC_KEYS:
            cur = con.execute(specs[k].oracle)
            cols = [d[0] for d in cur.description]
            self.want[k] = checks.result_signature(cur.fetchall(), cols)
        con.close()

    def warm_parallel(self, passes: int, threads: int) -> None:
        """Cold-start passes run concurrently: the JVM compiles the same
        hot paths in less wall time than sequential passes take."""
        keys = list(ADHOC_KEYS) * passes
        with ThreadPoolExecutor(threads) as ex:
            list(ex.map(lambda k: self.fns[k](self.spark, self.sf_dir).collect(), keys))

    def round(self) -> list[Op]:
        ops = []
        for key in self.rng.permutation(ADHOC_KEYS):
            ops.append(self.query(str(key)))
        return ops

    def query(self, key: str) -> Op:
        tr = self.tracer
        phases = {}

        def run():
            df = tr.span("operators.build", self.fns[key], self.spark, self.sf_dir)
            tr.span("spark.plan", lambda: df._jdf.queryExecution().executedPlan())
            t = time.time()
            rows = tr.span("spark.collect", df.collect)
            phases["collect"] = (t, time.time())
            return df, rows

        op, out = self._op(key, run)
        if out is not None:
            df, rows = out
            op.rows = len(rows)
            op.exec_window = phases["collect"]
            op.errors += checks.check_signature(
                checks.result_signature(rows, df.columns), self.want[key]
            )
        return op


# ------------------------------------------------------------------ ingest


def _ts(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))


def _us(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


class IngestRW(Workload):
    name = "ingest_rw"

    def setup(self) -> None:
        from catena_spark.api import CatenaDB

        self.base = os.path.join(self.run_dir, "db")
        self.db = CatenaDB.create(self.spark, self.base, writable_partitions=WRITABLE)
        self.model = checks.StoreModel(WRITABLE)
        self.stream_src = os.path.join(self.run_dir, "stream_src")
        self.stream_dest = os.path.join(self.run_dir, "stream_dest")
        self.stream_ckpt = os.path.join(self.run_dir, "stream_ckpt")
        os.makedirs(self.stream_src)
        self.stream_rows: dict[str, int] = {}  # {dt: rows landed}
        self.prefill()
        self.n_files = 0

    def prefill(self) -> None:
        """Start the store at its steady size: the first RETAIN_DAYS days
        of batches go through the model and are written as compacted
        windows (one sorted file per dt), so the timed rounds never see
        a store that is still growing."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.cycle = RETAIN_DAYS * gen.CYCLES_PER_DAY
        for c in range(self.cycle):
            self.model.insert(gen.point_batch(self.seed, c, BATCH_ROWS))
        for d, cols in self.model.days.items():
            order = np.lexsort((cols["ts"], cols["metric"].astype(str), cols["source"].astype(str)))
            tbl = pa.table(
                {
                    "source": pa.array(cols["source"][order], pa.string()),
                    "metric": pa.array(cols["metric"][order], pa.string()),
                    "ts": pa.array(cols["ts"][order], pa.timestamp("us", tz="UTC")),
                    "value": cols["value"][order],
                }
            )
            os.makedirs(os.path.join(self.base, f"dt={d}"))
            pq.write_table(tbl, os.path.join(self.base, f"dt={d}", "part-00000.parquet"))

    def round(self) -> list[Op]:
        ops = []
        for _ in range(gen.CYCLES_PER_DAY):
            ops += self.cycle_ops(self.cycle)
            self.cycle += 1
        ops += self.maintenance(self.cycle - 1)
        return ops

    def cycle_ops(self, cycle: int) -> list[Op]:
        from pyspark.sql import functions as F

        import pandas as pd

        batch = gen.point_batch(self.seed, cycle, BATCH_ROWS)
        ts = pd.to_datetime(np.where(batch["ts"] >= 0, batch["ts"], 0), unit="us")
        pdf = pd.DataFrame({**batch, "ts": ts.where(batch["ts"] >= 0)})
        sdf = self.spark.createDataFrame(pdf, schema="source string, metric string, ts timestamp, value double")
        before = dir_bytes(self.base)
        op, res = self._op("insert", self.db.insert_rows, sdf)
        self.sample("insert_bytes", dir_bytes(self.base) - before)
        want = self.model.insert(batch)
        if res is not None:
            got = (res.inserted, res.rejected_late, res.rejected_invalid)
            op.errors += checks.check_equal("InsertResult", got, want)
            op.rows = res.inserted
            op.rejected = (res.rejected_late, res.rejected_invalid)
        ops = [op]

        for i, (src, metric, seek) in enumerate(gen.read_targets(self.seed, cycle)):
            if i < 2:
                op, row = self._op("first", lambda: self.db.iterator(src, metric).seek(_ts(seek)).first())
                want = self.model.first_after(src, metric, seek)
            else:
                op, row = self._op("latest", self.db.latest, src, metric)
                want = self.model.latest(src, metric)
            if op.ok:
                got = None if row is None else (_us(row["ts"]), row["value"])
                op.errors += checks.check_equal(f"{op.kind}({src},{metric})", got, want)
            ops.append(op)

        src, metric, lo, hi = gen.range_target(self.seed, cycle)
        op, rows = self._op(
            "range",
            lambda: self.db.iterator(src, metric).seek(_ts(lo)).points().where(F.col("ts") < _ts(hi)).collect(),
        )
        if op.ok:
            got = [(_us(r["ts"]), r["value"]) for r in rows]
            op.errors += checks.check_equal(f"range({src},{metric})", got, self.model.range(src, metric, lo, hi))
        ops.append(op)
        return ops

    def maintenance(self, cycle: int) -> list[Op]:
        from catena_spark.sources import ingest

        parts = checks.partition_files(self.base)
        self.sample("files_per_partition", np.mean([len(f) for f in parts.values()]))
        op_c, _ = self._op("compact", self.db.compact)
        self.sample("compact_bytes", dir_bytes(self.base))
        op_r, dropped = self._op("retention", self.db.enforce_retention, RETAIN_DAYS)
        want_drop = self.model.retain(RETAIN_DAYS)
        if op_r.ok:
            op_r.errors += checks.check_equal("dropped", dropped, [f"dt={d}" for d in want_drop])
            op_r.errors += checks.check_equal("rows per dt", checks.dir_row_counts(self.base), self.model.row_counts())

        # streaming ingest: land one events file, drain it availableNow
        tbl = gen.stream_file(self.seed, self.n_files, cycle, STREAM_ROWS)
        import pyarrow.parquet as pq

        tmp = os.path.join(self.stream_src, f".part-{self.n_files:05d}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.stream_src, f"part-{self.n_files:05d}.parquet"))
        self.n_files += 1
        day = gen.day_name(gen.day_of(cycle))
        self.stream_rows[day] = self.stream_rows.get(day, 0) + tbl.num_rows

        def drain():
            t = time.perf_counter()
            q = ingest.stream_ingest_events(self.spark, self.stream_src, self.stream_dest, self.stream_ckpt)
            self.sample("stream_start_s", time.perf_counter() - t)
            q.awaitTermination()
            return q

        op_s, q = self._op("stream", drain)
        if q is not None:
            for p in q.recentProgress:  # dicts, one per micro-batch
                if p["numInputRows"]:
                    self.sample("progress", p)
            op_s.rows = tbl.num_rows
            for d in ingest.retain_latest(self.stream_dest, RETAIN_DAYS):
                self.stream_rows.pop(d.split("=", 1)[1], None)
            op_s.errors += checks.check_stream(self.stream_dest, sum(self.stream_rows.values()))
        return [op_c, op_r, op_s]

    def live_bytes_per_row(self) -> float:
        rows = sum(checks.dir_row_counts(self.base).values())
        return dir_bytes(self.base) / rows if rows else 0.0


WORKLOADS = {w.name: w for w in (AdhocQuery, IngestRW)}
