#!/usr/bin/env python
"""BENCH harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Protocol (mirrors BASELINE.md: warm engine, end-to-end action time;
BASELINE.md uses median-of-5 — the headline path here takes the median
of 9 samples by default for a tighter estimate of the same statistic,
and ``BENCH_REPEATS`` overrides BOTH paths when set):

- ``queries`` (headline, summed into ``value``): PREPARED-plan execution
  — each query's DataFrame is built once, then collect() is timed. This
  measures the execution engine end-to-end (scan -> operators -> result
  fetch), the regime that matters for throughput at scale, where one
  plan serves many partitions/batches. DuckDB's per-execute planning is
  <1 ms so its BASELINE numbers are execution-dominated too — this is
  the apples-to-apples comparison.
- ``queries_cold_plan``: rebuild-the-DataFrame-every-run medians, i.e.
  prepared + Catalyst analyze/optimize/codegen (~150-250 ms fixed per
  query at any SF — amortized to noise on real data sizes).

Bench-profile conf (small-data latency mode, documented deviations from
the scale defaults in catena_spark.session):
- AQE off: its runtime re-planning round-trips cost more than they save
  on sub-second single-digit-MB inputs (it stays ON everywhere else).
- per-query (maxPartitionBytes, shuffle.partitions) from CONF_BY_QUERY,
  grid-searched at sf0.1 on local[32]; at real scale the 128 MB mpb
  default is correct and shuffle.partitions sizes to cluster cores.
- locality.wait=0s: single-host, no data locality to wait for.
- 8 warmup executions per plan before timing (BENCH_WARMUPS overrides):
  whole-stage-codegen'd classes JIT-compile over the first several
  runs; the steady state is what a long-running cluster actually serves
  (interleaved A/B at sf0.1 showed the 4th-12th executions still
  dropping ~2x from the first post-codegen runs as C2 kicks in).

Floor analysis for ``events_resample_1h`` / ``doc_exact_dedup`` (the
two queries >2x DuckDB warm-for-warm) — SETTLED r6 (VERDICT r5 item 5)
by direct quantum measurement, ``BENCH_QUANTUM=1 python bench.py``:
at the exact bench conf a ZERO-work job costs 20.5 ms with one task
(range(1) single-task collect) and 33-38 ms in the two-wave
4-task-then-shuffle shape these queries run (three runs each, medians
20.5/33.2-38.4 ms; repeat to reproduce). Decomposition, same-session
medians: events_resample_1h 37.2-41.6 ms - ~33 ms shape quantum =
~4-8 ms of actual data work vs DuckDB's 17.4 ms total;
doc_exact_dedup 18.0-22.0 ms - ~20.5 ms single-wave floor = ~0-2 ms
of work vs DuckDB's 9.0 ms total. Work-time is comfortably WITHIN 2x
of DuckDB on both — the entire >2x ratio is scheduler/collect quantum,
which amortizes to noise at 100x the input (scaling evidence in
SCALE.md). Earlier supporting evidence: the r5 interleaved A/B over
shuffle.partitions in {1, 2, 4, 8} (8 warmups, 6-12 timed rounds,
alternating order, local[16] and local[32]) measured medians within
+/-3 ms — partition count is not the residual; the plans are minimal
(one partial-agg shuffle each). Topic closed: no further A/Bs on these
two queries; re-run the quantum probe only if the VM changes.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window
from pyspark.sql import functions as F

from catena_spark import tables
from catena_spark.operators import llm
from catena_spark.operators import relational as rel, timeseries as ts
from catena_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: BENCH_REPEATS_COLD / BENCH_REPEATS_PREPARED tune the two timing paths
#: independently for A/Bs (ADVICE r4); both fall back to BENCH_REPEATS,
#: then to the defaults 5 cold / 9 prepared (medians either way).
REPEATS = int(
    os.environ.get("BENCH_REPEATS_COLD", os.environ.get("BENCH_REPEATS", "5"))
)
REPEATS_PREPARED = int(
    os.environ.get("BENCH_REPEATS_PREPARED", os.environ.get("BENCH_REPEATS", "9"))
)
WARMUPS = int(os.environ.get("BENCH_WARMUPS", "8"))


def events_window_rank(spark, sf_dir):
    """BASELINE.md `events_window_rank`: first 3 events per user."""
    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_id", "value", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


def doc_exact_dedup(spark, sf_dir):
    """BASELINE.md `doc_exact_dedup`: total vs distinct-hash count."""
    d = tables.load(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct(F.md5("text")).alias("uniq"),
    )


QUERIES = {
    "q1_pricing_summary": rel.agg_pricing_summary,
    "q3_join_topk": rel.topk_revenue_q3,
    "events_resample_1h": ts.ts_resample_1h,
    "events_window_rank": events_window_rank,
    "doc_exact_dedup": doc_exact_dedup,
}

#: r18 ADDED queries (VERDICT r17 item 2 — never removes or renames the
#: five above, whose protocol and numbers are unchanged): the flagship
#: five are quantum-bound at sf0.1 (30-70 ms warm ≈ the zero-work job
#: floor), so the driver's low-vs-high-core scaling probe structurally
#: reads ≈1 on them and `suspect_cpus_ignored` fires even though the
#: harness honors $SPARK_GRAFT_CPUS. These two registry keys compute for
#: SECONDS at sf0.1, so their latencies move visibly with the core
#: count — they exist to make the scaling contract legible, not to win
#: benchmarks. Timed with the noop sink (guide §1.4: outputs are 1-5M
#: rows; a collect() would bill row-fetch, not compute) under the scale
#: defaults (128 MB splits, shuffle partitions = core count), median of
#: 3 after 1 warmup — they are multi-second keys, so the quantum jitter
#: the flagship queries need 9 repeats for is already amortized.
#: Key choice is MEASURED, not aesthetic (r18 8-vs-32-core probe): the
#: two MinHash keys are the registry's only multi-second keys that are
#: CPU-bound enough at sf0.1 to scale on this VM (8-core/32-core ratio
#: ~2.1x); the other heavy keys are memory-bandwidth- or
#: materialization-bound and run FASTER on 8 cores (ts_gapfill_linear
#: 0.57x, llm_char_entropy 0.82x), which would re-create exactly the
#: illegible-scaling problem this block exists to fix.
SCALING_QUERIES = {
    "scaling_noop_llm_minhash_pairs": llm.llm_minhash_pairs,
    "scaling_noop_llm_minhash_portable": llm.llm_minhash_pairs_portable,
}

#: per-query (maxPartitionBytes, shuffle partitions). Both confs are
#: read at plan time, so setting them before building each DataFrame
#: scopes them per query. Values re-validated r4 by an INTERLEAVED A/B
#: at local[32] (3 rounds, alternating order, median-of-medians) after a
#: sequential grid suggested larger mpb — the apparent grid wins were
#: JIT-warmth drift, not real; the interleaved comparison picked the r2
#: profile on every query. At real scale the 128 MB default mpb is
#: correct — this profile is the documented small-data latency mode.
CONF_BY_QUERY = {
    "q1_pricing_summary": ("2m", 16),
    "q3_join_topk": ("2m", 16),
    "events_resample_1h": ("2m", 4),
    "events_window_rank": ("2m", 8),
    "doc_exact_dedup": ("2m", 8),
}


def _interleaved_medians(
    fns: dict, repeats: int, setups: dict | None = None
) -> dict[str, float]:
    """Median of ``repeats`` timed executions per query, taken in
    round-robin passes with alternating order (r5): a transient system
    noise window then shaves a sample from EVERY query instead of
    landing all of one query's consecutive samples inside it — same
    median-warm-latency statistic, strictly lower variance on a shared
    VM. (A sequential version of this loop produced a 4x outlier median
    on one query during an r5 noise burst; the interleaved form did
    not.) ``setups`` run per sample OUTSIDE the timed region (the cold
    path re-sets per-query conf each sample now that queries alternate;
    those py4j round-trips must not be billed to the query)."""
    samples: dict[str, list[float]] = {name: [] for name in fns}
    names = list(fns)
    for r in range(repeats):
        order = names if r % 2 == 0 else names[::-1]
        for name in order:
            if setups is not None:
                setups[name]()
            t0 = time.perf_counter()
            fns[name]()
            samples[name].append(time.perf_counter() - t0)
    return {name: statistics.median(v) for name, v in samples.items()}


def _measure_quantum(spark) -> dict[str, float]:
    """BENCH_QUANTUM=1 mode (VERDICT r5 item 5): measure Spark's fixed
    per-job cost at the exact bench conf, independent of any data work,
    so the floor queries can be decomposed into quantum + work.

    - ``job_1task``: collect() of a single-task 1-row range plan —
      scheduler dispatch + one task + py4j result fetch, the
      irreducible per-job floor.
    - ``job_1shuffle``: collect() of a 4-task range -> 4-partition
      groupBy(10 groups) count over 40 rows — the same two-wave shape
      as events_resample_1h/doc_exact_dedup with near-zero data work.
    Medians over the prepared-path repeat count after the standard
    warmups. The quantum scales with tasks-per-wave (~20 ms at 1 task,
    ~33 ms at 16 tasks on this VM), so probe shapes mirror the floor
    queries' task counts.
    """
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    probes = {
        "job_1task": spark.range(0, 1, 1, 1),
        "job_1shuffle": (
            spark.range(0, 40, 1, 4)
            .groupBy((F.col("id") % 10).alias("g"))
            .count()
        ),
    }
    out = {}
    for name, df in probes.items():
        for _ in range(WARMUPS):
            df.collect()
        t = []
        for _ in range(REPEATS_PREPARED):
            t0 = time.perf_counter()
            df.collect()
            t.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(t), 4)
    return out


def _concurrent_spark_pids(
    proc_root: str = "/proc", exclude_own: bool = False
) -> list[int]:
    """PIDs of foreign Spark JVMs sharing this machine's CPUs.

    Called TWICE (ADVICE r10): once before this process launches its
    own JVM (where self-detection is impossible), and again after the
    timed loop — a foreign JVM that started mid-run is exactly the
    overlap the sentinel exists for, and the pre-scan alone missed it.
    The post-run scan sets ``exclude_own`` to skip our gateway JVM,
    identified by parent pid == this process (local-mode Spark is a
    direct py4j child); a just-exited foreign JVM can no longer be
    seen, but it was either caught by the pre-scan or overlapped only
    partially — the union of both scans is the honest sentinel.

    Two 32-thread Spark JVMs on 32 CPUs inflate every query ~1.5x
    UNIFORMLY (measured r10: a max-hostile probe overlapping check_all
    made all five headline queries fail bench_guard at 1.4-1.6x their
    trailing medians; the quiet re-run passed at +15%). A contended
    sample is unreliable in BOTH directions, so the bench marks it and
    bench_guard refuses to adjudicate it.
    """
    pids = []
    me = str(os.getpid())
    try:
        entries = os.listdir(proc_root)
    except OSError:
        return pids
    for entry in entries:
        if not entry.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, entry, "cmdline"), "rb") as f:
                cmd = f.read()
        except OSError:
            continue  # process exited mid-scan, or not ours to read
        argv0 = cmd.split(b"\0", 1)[0]
        if not (b"java" in argv0 and b"org.apache.spark" in cmd):
            continue
        if exclude_own:
            try:
                with open(os.path.join(proc_root, entry, "stat")) as f:
                    # field 4 of /proc/pid/stat is ppid; comm (field 2)
                    # is parenthesized and may contain spaces — split
                    # after the closing paren
                    ppid = f.read().rsplit(")", 1)[1].split()[1]
            except (OSError, IndexError):
                ppid = ""
            if ppid == me:
                continue
        pids.append(int(entry))
    return sorted(pids)


def main() -> None:
    contended = _concurrent_spark_pids()
    if contended:
        print(
            f"bench: WARNING {len(contended)} concurrent Spark JVM(s) "
            f"(pids {contended}) — timings will be contention-inflated; "
            "re-run on an idle machine",
            file=sys.stderr,
        )
    # the latency profile: this session's build conf, restored after the
    # scaling probes below
    latency_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "16")
    latency_mpb = os.environ.get("SPARK_GRAFT_MPB", "2m")
    spark = get_spark(
        app_name="catena-bench",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]",
        shuffle_partitions=latency_shuffle,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.files.maxPartitionBytes": latency_mpb,
            "spark.locality.wait": "0s",
        },
    )
    # session-level warmup
    tables.load(spark, SF_DIR, "lineitem").agg(F.count(F.lit(1))).collect()

    if os.environ.get("BENCH_QUANTUM"):
        print(json.dumps({"quantum": _measure_quantum(spark)}))
        spark.stop()
        return

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))

    def _conf_for(name):
        mpb, shuffle = CONF_BY_QUERY.get(name, ("2m", 16))
        # r17 (guide §2): the per-query shuffle profile is capped at the
        # session's core count — the profile constants were grid-tuned
        # at local[32], and the driver ALSO runs this bench at lower
        # core counts to measure scaling; 16 shuffle partitions on 8
        # cores schedules two task waves where one suffices. min() keeps
        # the 32-core profile byte-identical (16 <= 32) and adapts
        # downward instead of pinning a constant tuned for one machine
        # shape.
        shuffle = min(int(shuffle), cpus)
        # the env knob is an A/B override and must beat the per-query
        # profile, or experiments with it would silently measure nothing
        mpb = os.environ.get("SPARK_GRAFT_MPB", mpb)
        shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", shuffle)
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))

    # build + warm each prepared plan under its own conf (conf binds at
    # physical planning, i.e. during the first warmup collect)
    dfs: dict = {}
    for name, fn in QUERIES.items():
        _conf_for(name)
        dfs[name] = fn(spark, SF_DIR)  # plan once
        for _ in range(WARMUPS):
            dfs[name].collect()

    prepared_raw = _interleaved_medians(
        {name: (lambda df=dfs[name]: df.collect()) for name in QUERIES},
        REPEATS_PREPARED,
    )
    prepared = {name: round(v, 4) for name, v in prepared_raw.items()}

    cold_fns = {
        name: (lambda f=fn: f(spark, SF_DIR).collect())
        for name, fn in QUERIES.items()
    }
    setups = {name: (lambda n=name: _conf_for(n)) for name in QUERIES}
    for _ in range(2):  # cold-path warmup passes (rebuild + execute)
        for name in QUERIES:
            setups[name]()
            cold_fns[name]()
    cold_raw = _interleaved_medians(cold_fns, REPEATS, setups=setups)
    cold = {name: round(v, 4) for name, v in cold_raw.items()}

    # r18 scaling-visible queries (SCALING_QUERIES doc above): noop-sink
    # medians at the session's core count. Conf: the package's SCALE
    # defaults (AQE on, 128 MB splits), NOT this bench session's
    # small-data latency profile — these keys run seconds of real
    # compute, the regime the latency profile explicitly deviates from
    # (AQE off cost llm_minhash_pairs ~2x in the first r18 probe);
    # shuffle partitions deliberately track the core count so waves stay
    # constant across the driver's SPARK_GRAFT_CPUS sweep.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    scaling: dict[str, float] = {}
    try:
        for name, fn in SCALING_QUERIES.items():
            spark.sparkContext.setJobDescription(name)
            df = fn(spark, SF_DIR)
            t: list[float] = []
            for i in range(4):  # 1 warmup + 3 timed
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                if i > 0:
                    t.append(time.perf_counter() - t0)
            scaling[name] = round(statistics.median(t), 4)
    finally:
        spark.sparkContext.setJobDescription(None)
        # restore the bench latency profile so the vm_quantum stamp below
        # is measured under the same conf as every BENCH_r1..r17 record
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.files.maxPartitionBytes", latency_mpb)
        spark.conf.set("spark.sql.shuffle.partitions", latency_shuffle)

    # post-run rescan (ADVICE r10): a foreign JVM that launched AFTER
    # the pre-scan but DURING the timed loop is exactly the overlap the
    # sentinel is for; our own gateway JVM (ppid == us) is excluded
    contended = sorted(
        set(contended) | set(_concurrent_spark_pids(exclude_own=True))
    )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": (
            "sum of per-query median warm latencies, prepared-plan "
            "execution, over the five flagship queries (BASELINE.md "
            "protocol, unchanged since r1; see queries_cold_plan for "
            "+Catalyst-planning variant). queries ALSO carries the two "
            "r18 scaling_noop_* additions — multi-second noop-sink "
            "registry keys whose latency scales visibly with "
            "$SPARK_GRAFT_CPUS, added per VERDICT r17 item 2 — which "
            "are EXCLUDED from value to keep it comparable with "
            "BENCH_r1..r17; their sum is value_with_scaling_probes. "
            "From r19 on tables.load reads each table's cached parquet "
            "schema instead of re-inferring it per call, so "
            "queries_cold_plan is not comparable with earlier records."
        ),
        "value": round(sum(prepared.values()), 4),
        "value_with_scaling_probes": round(
            sum(prepared.values()) + sum(scaling.values()), 4
        ),
        "unit": "sec",
        "queries": {**prepared, **scaling},
        "queries_cold_plan": cold,
        "sf": float(sf),
        # the core count the scaling_noop_* probes ran at: bench_guard
        # compares them only against records stamped with the same count
        "cpus": cpus,
        # same-run VM-state evidence (r11): the zero-work job quantum,
        # measured AFTER the timed loop at the same conf. This VM's
        # quantum drifts 20->65 ms across hours (hypervisor neighbors —
        # both Spark AND DuckDB slow together), which is indistinguishable
        # from a uniform regression in the query numbers alone; stamping
        # the floor into every sample lets bench_guard and the round
        # records separate "the tree got slower" from "the VM got
        # slower" mechanically instead of by re-measuring DuckDB by hand.
        "vm_quantum": _measure_quantum(spark),
    }
    if contended:
        # mark the sample so bench_guard (and any human reading
        # BENCH_r*.json later) knows these numbers shared the CPUs
        out["contended_with_pids"] = contended
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
