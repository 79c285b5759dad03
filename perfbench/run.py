#!/usr/bin/env python3
"""catena-spark benchmark: one process, one closed-loop client, one
workload per run, on local[<cores>].

    python3 perfbench/run.py --workload adhoc_query --seed 1 --seconds 11 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into a fresh directory under ``.perfbench_runs/``, which is removed at
exit. The run sets up (session, inputs, oracle hashes, quantum stamp,
warm-up to a plateau), then runs whole rounds of the workload until
``--seconds`` have been measured, checking every result.

Output: a ``perfbench:`` line with every end-to-end figure of the
workload and the run's context (quantum, foreign Spark JVMs, sample
counts), then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates traced and untraced
rounds, reports the per-layer metrics and writes every span to
``perfbench_spans.json`` in the working directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: warm-up: at least MIN_WARM_ROUNDS rounds, then until the last round
#: is within PLATEAU_TOL of the best before it; no round starts after
#: WARM_CAP_S seconds of warm-up
MIN_WARM_ROUNDS = 3
PLATEAU_TOL = 0.15
WARM_CAP_S = 35.0
#: adhoc_query cold-start passes run concurrently, one thread per core,
#: before the sequential rounds: the JVM compiles the same hot paths in
#: less wall time
WARM_PARALLEL_PASSES = 2
#: driver JVM heap, committed up front
DRIVER_HEAP = "1g"


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def cpu_s(pid: int | str) -> float:
    """User + system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["adhoc_query", "ingest_rw"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=11.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and pin UTC, so
    timestamps convert the same way in the client and the JVM."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # the launcher JVM's too
    )
    time.tzset()
    tempfile.tempdir = tmp


def start_spark(run_dir: str, cores: int, trace: bool):
    from catena_spark.session import get_spark

    java_opts = [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        # a heap committed up front keeps the JVM's resident size the same
        # from run to run, whatever the GC timing
        f"-Xms{DRIVER_HEAP}",
        "-XX:+AlwaysPreTouch",
        "-XX:-UsePerfData",  # no hsperfdata file in /tmp
    ]
    conf = {
        "spark.driver.extraJavaOptions": " ".join(java_opts),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(
        app_name="catena-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def job_quantum(spark, repeats: int = 15) -> float:
    """Median wall time of a zero-work single-task job (range(1).collect)."""
    df = spark.range(0, 1, 1, 1)
    for _ in range(5):
        df.collect()
    t = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        df.collect()
        t.append(time.perf_counter() - t0)
    return statistics.median(t)


def run(args, run_dir: str) -> tuple[dict, dict, dict]:
    import bench  # read-only: the foreign-JVM sentinel
    import stats
    import tracing
    import workloads

    started = process_start()
    contended = set(bench._concurrent_spark_pids())
    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = start_spark(run_dir, cores, bool(args.trace))
    get_spark_s = time.perf_counter() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = tracing.Tracer()
    wl = workloads.WORKLOADS[args.workload](spark, tracer, args.seed, run_dir)
    try:
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t
        quantum = job_quantum(spark)

        # warm-up until a plateau (or the cap), all inside setup_s
        warm_t0 = time.perf_counter()
        if args.workload == "adhoc_query":
            wl.warm_parallel(WARM_PARALLEL_PASSES, cores)
        warm: list[float] = []
        warm_failed = 0
        while not stats.plateaued(warm, PLATEAU_TOL, MIN_WARM_ROUNDS):
            if warm and time.perf_counter() - warm_t0 > WARM_CAP_S:
                break
            ops = wl.round()
            warm.append(sum(o.latency for o in ops))
            warm_failed += sum(not o.ok for o in ops)

        # timed window: whole rounds; traced runs alternate traced/untraced
        rounds: list[tuple[bool, list]] = []
        codegen = [0, 0.0]
        wl.reset_samples()
        # the harness's own objects (inputs, model, oracle) leave the
        # cyclic collector's scans; garbage made by ops is still collected
        gc.collect()
        gc.freeze()
        setup_s = time.time() - started
        ticks0 = cpu_ticks()
        cpu0 = cpu_s("self") + cpu_s(jvm_pid)
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or (args.trace and len(rounds) % 2):
            traced = bool(args.trace) and len(rounds) % 2 == 0
            if traced:
                c0 = tracing.codegen_counts(spark)
                tracer.install(spark)
            ops = wl.round()
            if traced:
                tracer.uninstall()
                c1 = tracing.codegen_counts(spark)
                codegen = [codegen[0] + c1[0] - c0[0], codegen[1] + c1[1] - c0[1]]
            rounds.append((traced, ops))

        ticks1 = cpu_ticks()
        cpu1 = cpu_s("self") + cpu_s(jvm_pid)
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        contended |= set(bench._concurrent_spark_pids(exclude_own=True))
        bytes_per_row = wl.live_bytes_per_row() if args.workload == "ingest_rw" else None
    finally:
        stop_spark(spark)

    all_ops = [o for _, ops in rounds for o in ops]
    untraced = [o for tr, ops in rounds if not tr for o in ops]
    lat = [o.latency for o in untraced]
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / sum(lat),
        "op_p50_s": stats.median(lat),
        "op_p90_s": stats.percentile(lat, 0.9),
        "peak_rss_mb": rss,
    }
    tail = stats.tail(lat)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "ops": len(lat),
        "op_p90_beyond": stats.beyond(len(lat), 0.9),
        "op_tail_q": tail[0],
        "op_tail_s": tail[1],
        "fail_ratio": sum(not o.ok for o in all_ops) / len(all_ops),
        "session_s": get_spark_s,
        "inputs_s": inputs_s,
        "warm_rounds_s": [round(x, 3) for x in warm],
        "warm_failed": warm_failed,
        "job_quantum_s": quantum,
        "kind_p50_s": {
            k: round(stats.median([o.latency for o in untraced if o.kind == k]), 4)
            for k in sorted({o.kind for o in untraced})
        },
        "foreign_spark_pids": sorted(contended),
        # share of the machine's CPU time the hypervisor took during the
        # timed window: a noisy host shows here, not in the code
        "steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        # client + JVM CPU time per op over the window (stolen time excluded)
        "cpu_s_per_op": (cpu1 - cpu0) / len(all_ops),
        "errors": [e for o in all_ops for e in o.errors][:5],
    }
    if args.workload == "ingest_rw":
        context |= ingest_e2e(untraced, bytes_per_row)
    layers = {}
    if args.trace:
        traced_ops = [o for tr, ops in rounds if tr for o in ops]
        log = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
        layers = per_layer(args.workload, wl.samples, tracer, log, traced_ops, codegen, get_spark_s, quantum)
        traced_lat = sum(o.latency for o in traced_ops)
        layers["tracing.overhead_ratio"] = (len(traced_ops) / traced_lat) / e2e["ops_per_s"]
        if args.workload == "adhoc_query":
            # what build + plan + exec + fetch leave of the traced op time
            parts = ("operators.build_s_per_op", "spark.plan_s_per_op", "spark.exec_s_per_op", "spark.fetch_s_per_op")
            context["unattributed_s_per_op"] = traced_lat / len(traced_ops) - sum(layers[p] for p in parts)
        tracer.dump("perfbench_spans.json")
    return e2e, layers, {**context, "attempted": len(all_ops), "failed": sum(not o.ok for o in all_ops)}


def ingest_e2e(ops, bytes_per_row: float) -> dict:
    import stats

    lat = [o.latency for o in ops]
    return {
        "rows_per_s": sum(o.rows for o in ops if o.kind in ("insert", "stream")) / sum(lat),
        "write_p50_s": stats.median([o.latency for o in ops if o.kind == "insert"]),
        "read_p50_s": stats.median([o.latency for o in ops if o.kind in ("first", "latest", "range")]),
        "bytes_per_row": bytes_per_row,
    }


def per_layer(workload, samples, tracer, log, ops, codegen, get_spark_s, quantum) -> dict:
    """Per-layer metrics: spans and Spark jobs over the traced rounds'
    ops; storage and streaming samples over the whole timed window."""
    import stats
    from tracing import covered

    n = len(ops)
    spans = tracer.per_op()

    def span_sum(name: str, idx: int = 0) -> float:
        return sum(spans[o.desc][name][idx] for o in ops if name in spans[o.desc]) / n

    jobs_by_desc: dict[str, list[dict]] = {}
    for job in log["jobs"].values():
        jobs_by_desc.setdefault(job["desc"], []).append(job)
    exec_s = fetch_s = 0.0
    stage_tot: dict[str, float] = {}
    n_jobs = n_stages = 0
    for o in ops:
        jobs = [j for j in jobs_by_desc.get(o.desc, []) if j["end"] is not None]
        n_jobs += len(jobs)
        lo, hi = o.exec_window
        if workload == "adhoc_query":
            # exec: collect start until its last job ends (AQE re-planning
            # between stage jobs included); fetch: the rest of collect
            ends = [min(j["end"], hi) for j in jobs if lo <= j["end"]]
            last = max(ends, default=lo)
            exec_s += last - lo
            fetch_s += hi - last
        else:
            exec_s += covered([(j["start"], j["end"]) for j in jobs], lo, hi)
        for j in jobs:
            for sid in j["stages"]:
                if sid in log["stages"]:
                    n_stages += 1
                    for k, v in log["stages"][sid].items():
                        stage_tot[k] = stage_tot.get(k, 0.0) + v

    out = {
        "py4j.calls_per_op": span_sum("py4j", 1),
        "py4j.s_per_op": span_sum("py4j"),
        "session.get_spark_s": get_spark_s,
        "session.ensure_runtime_conf.calls_per_op": span_sum("session.ensure_runtime_conf", 1),
        "session.ensure_runtime_conf.s_per_op": span_sum("session.ensure_runtime_conf"),
        "tables.load.calls_per_op": span_sum("tables.load", 1),
        "tables.load.s_per_op": span_sum("tables.load"),
        "parity.calls_per_op": span_sum("parity", 1),
        "parity.s_per_op": span_sum("parity"),
        "operators.build_s_per_op": span_sum("operators.build"),
        "operators.build_self_s_per_op": span_sum("operators.build", 2),
        "spark.plan_s_per_op": span_sum("spark.plan"),
        "spark.codegen.compiles_per_op": codegen[0] / n,
        "spark.codegen.compile_s_per_op": codegen[1] / n,
        "spark.exec_s_per_op": exec_s / n,
        "spark.jobs_per_op": n_jobs / n,
        "spark.stages_per_op": n_stages / n,
        "spark.tasks_per_op": stage_tot.get("tasks", 0.0) / n,
        "spark.executor_run_s_per_op": stage_tot.get("run_s", 0.0) / n,
        "spark.executor_cpu_s_per_op": stage_tot.get("cpu_s", 0.0) / n,
        "spark.gc_s_per_op": stage_tot.get("gc_s", 0.0) / n,
        "spark.input_bytes_per_op": stage_tot.get("input_bytes", 0.0) / n,
        "spark.shuffle_read_bytes_per_op": stage_tot.get("shuffle_read_bytes", 0.0) / n,
        "spark.shuffle_write_bytes_per_op": stage_tot.get("shuffle_write_bytes", 0.0) / n,
        "spark.spill_bytes_per_op": stage_tot.get("spill_bytes", 0.0) / n,
        "spark.job_quantum_s": quantum,
        "spark.fetch_s_per_op": fetch_s / n,
        "spark.fetch_rows_per_op": (sum(o.rows for o in ops) / n) if workload == "adhoc_query" else 0.0,
    }

    def kind(k: str) -> list:
        return [o for o in ops if o.kind == k]

    def med(k: str) -> float:
        return stats.median([o.latency for o in kind(k)])

    inserts = kind("insert")
    reads = [o for o in ops if o.kind in ("first", "latest", "range")]
    scans = [log["scan"].get(o.desc, [0.0, 0.0]) for o in reads]
    progress = samples.get("progress", [])

    def mean(values) -> float:
        return sum(values) / len(values) if values else 0.0

    def prog(key: str) -> float:
        return stats.median([p["durationMs"].get(key, 0) / 1000.0 for p in progress])

    insert_bytes = sum(samples.get("insert_bytes", []))
    compact_bytes = samples.get("compact_bytes", [])
    out |= {
        "api.insert_rows_s": med("insert"),
        "api.insert_rows.jobs_per_op": mean([len(jobs_by_desc.get(o.desc, [])) for o in inserts]),
        "api.rejected_late_rows": mean([o.rejected[0] for o in inserts]),
        "api.rejected_invalid_rows": mean([o.rejected[1] for o in inserts]),
        "api.iterator_first_s": med("first"),
        "api.latest_s": med("latest"),
        "api.points_range_s": med("range"),
        "api.compact_s": med("compact"),
        "api.enforce_retention_s": med("retention"),
        "ingest.files_per_partition": stats.median(samples.get("files_per_partition", [])),
        "ingest.write_amp": (insert_bytes + sum(compact_bytes)) / insert_bytes if insert_bytes else 0.0,
        "ingest.compact_bytes_rewritten": stats.median(compact_bytes),
        "ingest.files_read_per_read": mean([s[0] for s in scans]),
        "ingest.partitions_read_per_read": mean([s[1] for s in scans]),
        "streaming.trigger_s": prog("triggerExecution"),
        "streaming.add_batch_s": prog("addBatch"),
        "streaming.latest_offset_s": prog("latestOffset"),
        "streaming.query_planning_s": prog("queryPlanning"),
        "streaming.wal_commit_s": prog("walCommit"),
        "streaming.commit_offsets_s": prog("commitOffsets"),
        "streaming.start_s": stats.median(samples.get("stream_start_s", [])),
        "streaming.input_rows_per_batch": stats.median([p["numInputRows"] for p in progress]),
    }
    return out


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "catena_spark", "__init__.py")):
        print(
            "perfbench: no catena_spark package next to perfbench/; run it "
            "from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        isolate(run_dir)
        e2e, layers, context = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = layers if args.trace else e2e
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print("perfbench: " + json.dumps({**context, **{k: v for k, v in e2e.items()}}, default=str))
    attempted, failed = context.pop("attempted"), context.pop("failed")
    result = {
        "correct": failed == 0 and context["warm_failed"] == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
