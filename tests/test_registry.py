"""The driver-window rotation contract is load-bearing: the driver
checks a 50-key PREFIX of queries() order, and specs() orders it as an
LRU over past CORRECTNESS records (oldest latest green round first), so
a bug here silently stops unverified keys from ever reaching the gate.
Locked in against synthetic CORRECTNESS files and the repo's history."""

from __future__ import annotations

import json
import logging
import subprocess

from catena_spark import registry


def _write_round(tmp_path, n, report):
    (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(report))


def test_hash_green_settles_and_errors_do_not(tmp_path):
    registry._load_all()
    keys = list(registry._REGISTRY)
    green, err, missing = keys[0], keys[1], keys[2]
    _write_round(
        tmp_path,
        1,
        {
            green: {"hash_match": True, "spark_rows": 5, "err": None},
            err: {"hash_match": None, "spark_rows": None, "err": "boom"},
        },
    )
    counts = registry._settled_counts(str(tmp_path))
    assert counts.get(green) == 1
    assert counts.get(err, 0) == 0
    assert counts.get(missing, 0) == 0


def test_rows_only_record_unsettles_once_oracle_added(tmp_path):
    """A `no_oracle` row only settles a key while the spec STILL has no
    oracle: after an oracle upgrade (r3 minhash/ann/lttb, r4 multimodal)
    the key must re-enter the unverified pool for a real hash check."""
    registry._load_all()
    oracled = next(k for k, s in registry._REGISTRY.items() if s.oracle)
    rows_only = [k for k, s in registry._REGISTRY.items() if s.oracle is None]
    record = {"hash_match": None, "spark_rows": 7, "err": "no_oracle"}
    report = {oracled: dict(record)}
    if rows_only:
        report[rows_only[0]] = dict(record)
    _write_round(tmp_path, 1, report)
    counts = registry._settled_counts(str(tmp_path))
    # the upgraded key's old rows-only record no longer counts...
    assert counts.get(oracled, 0) == 0
    # ...while a genuinely oracle-less key stays settled by it
    if rows_only:
        assert counts.get(rows_only[0]) == 1


def test_multiple_rounds_accumulate(tmp_path):
    registry._load_all()
    k = list(registry._REGISTRY)[0]
    row = {k: {"hash_match": True, "spark_rows": 1, "err": None}}
    _write_round(tmp_path, 1, row)
    _write_round(tmp_path, 2, row)
    assert registry._settled_counts(str(tmp_path))[k] == 2


def test_specs_orders_least_verified_first():
    """With the real repo CORRECTNESS history, every zero-record key
    must precede every settled key in queries() order (the driver's
    50-key window is a prefix)."""
    specs = registry.specs()
    counts = registry._settled_counts()
    order = [counts.get(k, 0) > 0 for k in specs]
    first_settled = order.index(True) if True in order else len(order)
    assert all(order[first_settled:]), (
        "a zero-record key is ordered after a settled key"
    )


def test_nongreen_history_breaks_ties_first():
    """VERDICT r4 item 5: within the same settled count, keys whose
    driver history contains a non-green record (ERR, mismatch, or a
    stale rows-only record) must precede always-green keys, so their
    confirming re-check lands in the next 50-key window."""
    registry._load_all()
    counts, shaky, latest = registry._scan_history()
    keys = list(registry.specs())
    for k in shaky:
        if k not in keys:  # history outlives renamed/removed keys
            continue
        ki = keys.index(k)
        for j, other in enumerate(keys):
            same_tier = (
                counts.get(other, 0) == counts.get(k, 0)
                and latest.get(other, 0) == latest.get(k, 0)
            )
            if same_tier and other not in shaky and j < ki:
                raise AssertionError(
                    f"always-green {other} ordered before shaky {k} "
                    f"at equal count {counts.get(k, 0)}"
                )


def test_nongreen_keys_detects_err_and_mismatch(tmp_path):
    registry._load_all()
    keys = list(registry._REGISTRY)
    green, err, mism = keys[0], keys[1], keys[2]
    _write_round(
        tmp_path,
        1,
        {
            green: {"hash_match": True, "spark_rows": 5, "err": None},
            err: {"hash_match": None, "spark_rows": None, "err": "boom"},
            mism: {"hash_match": False, "spark_rows": 5, "err": None},
        },
    )
    bad = registry._nongreen_keys(str(tmp_path))
    assert err in bad and mism in bad and green not in bad


def test_rotation_is_lru_within_tier():
    """The OLDEST latest green record fronts, so the 50-window always
    takes the 50 stalest keys and staleness is bounded at
    ceil((166-50)/50) = 3 rounds. Pinned live: no key outside the
    window may be staler than any key inside it."""
    registry._load_all()
    latest = registry._scan_history()[2]
    win = registry.next_window(50)
    worst_in = max(latest.get(k, 0) for k in win)
    best_out = min(
        latest.get(k, 0) for k in registry._REGISTRY if k not in win
    )
    assert worst_in <= best_out, (
        f"window holds a round-{worst_in} key while a round-{best_out} "
        "key waits outside — rotation is not LRU"
    )


def test_specs_order_is_the_lru_sort_key():
    """specs() is exactly the sort by (latest green round, settled
    count, non-green first, registration order) on the repo's history."""
    registry._load_all()
    settled, shaky, latest = registry._scan_history()
    order = list(registry._REGISTRY)
    expect = sorted(
        order,
        key=lambda k: (
            latest.get(k, 0),
            settled.get(k, 0),
            0 if k in shaky else 1,
            order.index(k),
        ),
    )
    assert list(registry.specs()) == expect


def test_specs_starts_no_subprocess(monkeypatch):
    """Ordering the driver surface reads round files only: no git or
    other child process, whatever the checkout."""
    calls = []
    real_run = subprocess.run

    def counting_run(*args, **kwargs):
        calls.append(args)
        return real_run(*args, **kwargs)

    monkeypatch.setattr(subprocess, "run", counting_run)
    registry.specs()
    registry.queries()
    registry.oracles()
    assert calls == []


def test_unreadable_round_file_is_logged_once_and_skipped(tmp_path, caplog):
    registry._load_all()
    k = list(registry._REGISTRY)[0]
    row = {k: {"hash_match": True, "spark_rows": 1, "err": None}}
    _write_round(tmp_path, 1, row)
    _write_round(tmp_path, 2, row)
    bad = tmp_path / "CORRECTNESS_r99.json"
    bad.write_text('{"truncated": ')
    with caplog.at_level(logging.WARNING, logger="catena_spark"):
        counts, _, latest = registry._scan_history(str(tmp_path))
        registry._scan_history(str(tmp_path))
    hits = [r for r in caplog.records if str(bad) in r.getMessage()]
    assert len(hits) == 1 and hits[0].name == "catena_spark"
    assert counts[k] == 2 and latest[k] == 2
