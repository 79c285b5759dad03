#!/usr/bin/env python3
"""Per-query bench regression guard (VERDICT r7 item 2 / r8 item 2).

The aggregate bench gate ("sum within the 0.17-0.21 s band") let the r7
q3_join_topk regression (42 -> 74 ms, 1.75x) sit for two rounds because
the other four queries absorbed it. This guard checks EACH headline
query against the median of its trailing driver records
(BENCH_r*.json), failing loud at > REGRESSION_FACTOR x.

Usage:
    python scripts/bench_guard.py <file-with-bench-json-line>
    python bench.py | tee /tmp/b.txt && python scripts/bench_guard.py /tmp/b.txt

The input may contain arbitrary log noise; the LAST line whose JSON
parse yields a {"queries": {...}} object is taken as the current run.
Trailing history is the per-query values from the newest HISTORY
BENCH_r*.json artifacts in the repo root. The median (not mean) is used
so one already-regressed round in the window cannot drag the reference
up and mask a persistent regression — exactly the q3 r7/r8 shape.
Queries with no history (newly added to bench.py) are skipped with a
note rather than failed. The ``scaling_noop_*`` probes scale ~2x with
the session's core count, so they are judged only against history
records stamped with the same ``cpus`` as the current run, and skipped
with a note when there are none. Exit 0 = all queries within budget.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys

REGRESSION_FACTOR = 1.4
HISTORY = 5
#: Adjudicated-ratchet ledger (repo root, committed): {query:
#: accepted_median_sec}. Written by main() when
#: BENCH_GUARD_ACCEPT_RATCHET=1 accepts a firing ratchet, honored by
#: persistent_ratchet() ever after — so acceptance really does reset
#: the baseline going forward (ADVICE r11: the env var alone persisted
#: nothing and had to accompany every run until the window rolled).
ACCEPTED_BASENAME = "BENCH_RATCHET_ACCEPTED.json"
#: sub-25 ms queries live inside the ~20-40 ms scheduler/collect quantum
#: (measured r6, bench.py); a ratio there is noise-dominated, so small
#: absolute drifts get an absolute floor before the factor gate fires.
ABS_FLOOR_SEC = 0.015
#: ADVICE r13: a ratchet acceptance may only EXPIRE when the recovery
#: is demonstrated by at least this many in-window samples (mirrors
#: _ratchet_hit's >= 3-sample requirement to TRIP).
EXPIRE_MIN_SAMPLES = 3
#: queries whose latency tracks the core count (bench.py SCALING_QUERIES):
#: compared like for like, same ``cpus`` stamp only
SCALING_PREFIX = "scaling_noop_"

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_bench_record(path: str) -> dict:
    """The last JSON line in ``path`` that carries a {"queries": {...}}
    object (the bench output may be wrapped in log noise)."""
    found = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(obj, dict) and isinstance(obj.get("queries"), dict):
                found = obj
    if found is None:
        sys.exit(f"bench_guard: no bench JSON line with 'queries' found in {path}")
    return found


def parse_bench_line(
    path: str,
) -> tuple[dict[str, float], list[int], dict]:
    """(queries, contended_with_pids, vm_quantum) from the last bench
    JSON line.

    A non-empty pid list means bench.py saw other Spark JVMs on the
    machine when it started (r10: that shape inflated all five queries
    uniformly 1.4-1.6x) — the sample is unreliable in BOTH directions
    and must not be adjudicated against the trailing medians at all."""
    found = last_bench_record(path)
    return (
        {k: float(v) for k, v in found["queries"].items()},
        list(found.get("contended_with_pids") or []),
        found.get("vm_quantum") or {},
    )


def round_records(cpus: int | None = None) -> list[dict[str, float]]:
    """Per-round parsed query timings from ALL BENCH_r*.json artifacts,
    in round order, contention-stamped and unreadable rounds dropped
    (with a note). Callers window this; keeping the full clean list
    means excluding a contended round no longer SHRINKS the window
    (ADVICE r10) — the window just reaches one round further back.

    ``scaling_noop_*`` timings are kept only from records whose ``cpus``
    stamp (bench.py's own, else the round record's) equals ``cpus``;
    with ``cpus`` None there is no like-for-like history for them."""

    def round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    paths = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")), key=round_no)
    records: list[dict[str, float]] = []
    for p in paths:
        try:
            with open(p, encoding="utf-8") as f:
                obj = json.load(f)
            parsed = obj.get("parsed") or {}
            if parsed.get("contended_with_pids"):
                # a contention-stamped round record is as unreliable as
                # a reference as it is as a sample — keep it out of the
                # trailing medians
                print(
                    f"bench_guard: excluding contended {os.path.basename(p)} "
                    "from trailing history"
                )
                continue
            same_cpus = cpus is not None and parsed.get(
                "cpus", obj.get("cpus")
            ) == cpus
            records.append(
                {
                    k: float(v)
                    for k, v in (parsed.get("queries") or {}).items()
                    if same_cpus or not k.startswith(SCALING_PREFIX)
                }
            )
        except (OSError, json.JSONDecodeError, TypeError, ValueError) as e:
            print(f"bench_guard: skipping unreadable {os.path.basename(p)}: {e}")
    return records


def trailing_history(records: list[dict[str, float]] | None = None) -> dict[str, list[float]]:
    if records is None:
        records = round_records()
    hist: dict[str, list[float]] = {}
    for rec in records[-HISTORY:]:
        for k, v in rec.items():
            hist.setdefault(k, []).append(v)
    return hist


def _ratchet_hit(past: list[float]) -> bool:
    """The window's median has drifted beyond the (factor, floor)
    envelope above the window min — the shape a regression leaves after
    it persists long enough to become the median itself."""
    if len(past) < 3:  # two samples can't distinguish drift from noise
        return False
    mn = min(past)
    return statistics.median(past) > max(
        mn * REGRESSION_FACTOR, mn + ABS_FLOOR_SEC
    )


def load_accepted() -> dict[str, float]:
    """The adjudicated-ratchet ledger, {} when absent/unreadable."""
    try:
        with open(os.path.join(REPO, ACCEPTED_BASENAME), encoding="utf-8") as f:
            return {k: float(v) for k, v in json.load(f).items()}
    except (OSError, json.JSONDecodeError, TypeError, ValueError):
        return {}


def save_accepted(accepted: dict[str, float]) -> None:
    with open(
        os.path.join(REPO, ACCEPTED_BASENAME), "w", encoding="utf-8"
    ) as f:
        json.dump(dict(sorted(accepted.items())), f, indent=1, sort_keys=True)
        f.write("\n")


def expire_accepted(
    records: list[dict[str, float]],
    accepted: dict[str, float],
) -> tuple[dict[str, float], list[str]]:
    """Drop ledger entries whose trailing-window median has RECOVERED
    below the accepted level (ADVICE r12: an acceptance covers exactly
    one adjudicated environmental drift — if timings fall back under it
    and later creep up gradually enough that check() never fires, a
    stale entry would silently pre-approve a genuinely NEW persistent
    regression anywhere inside max(acc*factor, acc+floor)). Returns
    (pruned ledger, dropped query names). A query absent from the
    current window, or a window shorter than HISTORY, keeps its entry —
    recovery must be demonstrated, not assumed.

    ADVICE r13: expiry needs hysteresis symmetric with the trip side.
    _ratchet_hit needs >= 3 in-window samples to fire, but a single
    sample 1 ms under the accepted level used to expire the entry — on
    this VM (17-65 ms quantum swings) the same adjudicated drift would
    then re-fail the gate and need re-acceptance. Recovery now requires
    (a) >= EXPIRE_MIN_SAMPLES in-window samples of the query and (b) a
    margin: median below acc by at least max(10% of acc, ABS_FLOOR_SEC)
    — the mirror of the trip budget max(acc*factor, acc+floor)."""
    if len(records) < HISTORY:
        return dict(accepted), []
    cur = records[-HISTORY:]
    kept: dict[str, float] = {}
    dropped: list[str] = []
    for q, acc in accepted.items():
        col = [r[q] for r in cur if q in r]
        recovered = len(col) >= EXPIRE_MIN_SAMPLES and statistics.median(
            col
        ) <= acc - max(0.1 * acc, ABS_FLOOR_SEC)
        if recovered:
            dropped.append(q)
        else:
            kept[q] = acc
    return kept, dropped


def persistent_ratchet(
    records: list[dict[str, float]],
    accepted: dict[str, float] | None = None,
) -> list[tuple[str, float, str]]:
    """(query, window_median, message) for queries whose ratchet
    condition holds in BOTH the current HISTORY-window and the window
    shifted one round back (ADVICE r10: the r10 warning-only ratchet
    let a real persistent regression pass forever once it became the
    median; one window can still be a lucky min on this drifty VM, two
    consecutive windows is a trend). These FAIL the gate.

    BENCH_GUARD_ACCEPT_RATCHET=1 is the documented escape after a human
    adjudicates the drift as environmental (e.g. a permanently slower
    VM); main() PERSISTS the acceptance (query -> accepted window
    median) to BENCH_RATCHET_ACCEPTED.json, and an ``accepted`` entry
    suppresses the ratchet here for as long as the window median stays
    within the standard (factor, floor) envelope above the accepted
    level — drift beyond that re-fails, because it is a NEW regression
    on top of the adjudicated one."""
    if len(records) < HISTORY + 1:
        return []
    cur, prev = records[-HISTORY:], records[-HISTORY - 1 : -1]

    def col(recs, q):
        return [r[q] for r in recs if q in r]

    out = []
    for q in sorted({k for r in records[-HISTORY - 1 :] for k in r}):
        pc, pp = col(cur, q), col(prev, q)
        if _ratchet_hit(pc) and _ratchet_hit(pp):
            med, mn = statistics.median(pc), min(pc)
            acc = (accepted or {}).get(q)
            if acc is not None and med <= max(
                acc * REGRESSION_FACTOR, acc + ABS_FLOOR_SEC
            ):
                print(
                    f"bench_guard: {q}: ratchet previously accepted at "
                    f"{acc * 1e3:.1f}ms ({ACCEPTED_BASENAME}); trailing-"
                    f"median {med * 1e3:.1f}ms is inside the accepted "
                    f"envelope — suppressed"
                )
                continue
            out.append(
                (
                    q,
                    med,
                    f"{q}: trailing-median {med * 1e3:.1f}ms is "
                    f"{med / mn:.2f}x the window min {mn * 1e3:.1f}ms in "
                    f"two consecutive round windows — a persistent "
                    f"regression has ratcheted the baseline (set "
                    f"BENCH_GUARD_ACCEPT_RATCHET=1 only after adjudicating "
                    f"it as environmental)",
                )
            )
    return out


def check(current: dict[str, float], hist: dict[str, list[float]]) -> list[str]:
    """Pure gate logic (unit-tested in tests/test_bench_guard.py).

    The gate compares against the trailing MEDIAN (one regressed round
    cannot drag the reference up). r10 (ADVICE r9 item 1) adds a ratchet
    sentinel: if a regression persists in >=3 of the last 5 records the
    median itself rises to the regressed level and the gate would pass
    it forever — so when the trailing median drifts beyond the same
    (factor, floor) envelope above the WINDOW MIN, print a loud
    RATCHET-WARNING naming the drift. One window's warning stays a
    warning (the min can be a one-off lucky sample on this drifty VM);
    r11 escalates it to a FAILURE when it persists across two
    consecutive round windows — see persistent_ratchet()."""
    failures = []
    for q, now in sorted(current.items()):
        past = hist.get(q)
        if not past:
            at = " at this core count" if q.startswith(SCALING_PREFIX) else ""
            print(f"bench_guard: {q}: no trailing history{at}, skipped")
            continue
        med = statistics.median(past)
        budget = max(med * REGRESSION_FACTOR, med + ABS_FLOOR_SEC)
        verdict = "FAIL" if now > budget else "ok"
        print(
            f"bench_guard: {q}: now={now * 1e3:.1f}ms trailing-median="
            f"{med * 1e3:.1f}ms budget={budget * 1e3:.1f}ms {verdict}"
        )
        mn = min(past)
        if _ratchet_hit(past):
            print(
                f"bench_guard: {q}: RATCHET-WARNING trailing-median "
                f"{med * 1e3:.1f}ms is {med / mn:.2f}x the window min "
                f"{mn * 1e3:.1f}ms — a persistent regression may have "
                f"ratcheted the baseline; audit BENCH_r*.json history"
            )
        if now > budget:
            failures.append(
                f"{q}: {now * 1e3:.1f}ms > {budget * 1e3:.1f}ms "
                f"({now / med:.2f}x trailing median {med * 1e3:.1f}ms)"
            )
    return failures


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    current, contended, quantum = parse_bench_line(sys.argv[1])
    cpus = last_bench_record(sys.argv[1]).get("cpus")
    if quantum:
        q1 = quantum.get("job_1shuffle")
        state = ""
        if isinstance(q1, (int, float)) and q1 > 0.045:
            state = (
                " — DEGRADED VM STATE (healthy band 33-38 ms): uniform "
                "query inflation in this sample is the VM, not the tree; "
                "adjudicate failures against the same-run quantum"
            )
        print(f"bench_guard: sample vm_quantum {quantum}{state}")
    if contended:
        sys.exit(
            f"bench_guard: bench ran alongside {len(contended)} other Spark "
            f"JVM(s) (pids {contended}) — timings are contention-inflated "
            "and unreliable in both directions; re-run bench on an idle "
            "machine (no pass, no fail, no median adjudication)"
        )
    records = round_records(cpus)
    failures = check(current, trailing_history(records))
    accepted = load_accepted()
    accepted, expired = expire_accepted(records, accepted)
    if expired:
        for q in expired:
            print(
                f"bench_guard: {q}: accepted ratchet EXPIRED — trailing "
                f"median recovered below the accepted level; entry "
                f"dropped from {ACCEPTED_BASENAME} so future creep is "
                f"adjudicated fresh"
            )
        save_accepted(accepted)
    ratcheted = persistent_ratchet(records, accepted)
    if ratcheted and os.environ.get("BENCH_GUARD_ACCEPT_RATCHET"):
        for q, med, m in ratcheted:
            accepted[q] = med
            print(
                f"bench_guard: RATCHET accepted by env override "
                f"(persisted to {ACCEPTED_BASENAME}): {m}"
            )
        save_accepted(accepted)
    elif ratcheted:
        failures += [f"RATCHET {m}" for _, _, m in ratcheted]
    if failures:
        print("bench_guard: PER-QUERY REGRESSION DETECTED:")
        for f in failures:
            print(f"  {f}")
        sys.exit(1)
    print("bench_guard: all queries within per-query budget")


if __name__ == "__main__":
    main()
