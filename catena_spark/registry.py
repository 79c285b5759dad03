"""Query registry backing the driver contract in __spark_entry__.py.

Each operator family registers its driver-checked queries here with a
``@query(...)`` decorator; __spark_entry__.py just re-exports the two
dicts. A spec without ``oracle`` SQL is a rows-only check (the driver's
weaker gate for non-SQL-expressible ops, __spark_entry__.py:35-36).

SURVEY.md §2's *key* column is the registry key namespace. ``specs()``
orders the registry as an LRU over past driver records
(``CORRECTNESS_r*.json``), so the driver's 50-key window always takes
the keys whose latest green record is oldest.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check
    section: str  # SURVEY.md §2 row id, e.g. "D7"


_REGISTRY: dict[str, QuerySpec] = {}

_LOG = logging.getLogger("catena_spark")

#: round files already reported unreadable this process: specs() runs
#: several times per driver run, and each bad file is logged once.
_HISTORY_WARNED: set[str] = set()


def query(name: str, section: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable as a driver query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, section)
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from .functions import udtfs  # noqa: F401
    from .operators import graph, llm, multimodal, relational, timeseries  # noqa: F401
    from .sources import ingest  # noqa: F401
    from .streaming import ops  # noqa: F401


def _scan_history(
    root: str | None = None,
) -> tuple[dict[str, int], set[str], dict[str, int]]:
    """ONE pass over past rounds' CORRECTNESS_r*.json (under ``root``,
    default the repo root), classifying every record with the single
    green-record predicate. Returns (settled counts, non-green keys,
    latest settling round per key) so the rotation signals can never
    desync (the shared-definition rule ADVICE r4 applied to the
    canonicalizer).

    A hash-green row always settles. A rows-only `no_oracle` row settles
    ONLY while the spec still has no oracle: once an oracle is added
    (round-3 conversions: minhash/ann/lttb), the old rows-only record is
    no longer the strongest available check, so the key re-enters the
    unverified pool and rotates back into the driver's window for a real
    hash comparison. Any record that does not settle (ERR, mismatch,
    stale rows-only) marks its key non-green.
    """
    import glob
    import json
    import os
    import re

    counts: dict[str, int] = {}
    nongreen: set[str] = set()
    latest: dict[str, int] = {}
    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                report = json.load(f)
            if not isinstance(report, dict):
                raise ValueError("not a JSON object")
        except (OSError, ValueError) as e:
            if path not in _HISTORY_WARNED:
                _HISTORY_WARNED.add(path)
                _LOG.warning(
                    "skipping unreadable driver record %s (%s); the "
                    "rotation order ignores it",
                    path,
                    e,
                )
            continue
        for key, res in report.items():
            spec = _REGISTRY.get(key)
            ok = isinstance(res, dict) and (
                res.get("hash_match") is True
                or (
                    res.get("err") == "no_oracle"
                    and res.get("spark_rows") is not None
                    and (spec is None or spec.oracle is None)
                )
            )
            if ok:
                counts[key] = counts.get(key, 0) + 1
                latest[key] = max(latest.get(key, 0), rnd)
            else:
                nongreen.add(key)
    return counts, nongreen, latest


def _settled_counts(root: str | None = None) -> dict[str, int]:
    """Per-key count of successful driver verifications (see
    _scan_history; round 1 showed the driver checks a 50-key PREFIX of
    queries() in dict order, so least-verified-first ordering rotates
    the whole inventory through the window across rounds)."""
    return _scan_history(root)[0]


def _nongreen_keys(root: str | None = None) -> set[str]:
    """Keys with any past driver record that did NOT settle (see
    _scan_history). Rotation tie-break (VERDICT r4 item 5): within the
    same settled count, a key whose history contains a non-green record
    gets its confirming re-check before keys that have only ever been
    green, closing flakiness arguments fastest."""
    return _scan_history(root)[1]


def specs() -> dict[str, QuerySpec]:
    """Registry in driver-rotation order (the driver checks a 50-key
    PREFIX). Sort key, most significant first:

    1. latest green record round, ascending — oldest-record-first
       makes the rotation an LRU: with 166 keys and a 50-key window, a
       key just re-recorded waits behind at most 116 older keys, so
       staleness is bounded at ceil(116/50) = 3 rounds (never-recorded
       keys sort as round 0 and front everything);
    2. settled count ascending (least-verified tiebreak);
    3. non-green history first (flaky keys get their confirming
       re-check soonest);
    4. registration order (stable).
    """
    _load_all()
    settled, shaky, latest = _scan_history()
    order = {k: i for i, k in enumerate(_REGISTRY)}
    keys = sorted(
        _REGISTRY,
        key=lambda k: (
            latest.get(k, 0),
            settled.get(k, 0),
            0 if k in shaky else 1,
            order[k],
        ),
    )
    return {k: _REGISTRY[k] for k in keys}


def queries() -> dict[str, QueryFn]:
    return {k: s.fn for k, s in specs().items()}


def next_window(n: int = 50) -> list[str]:
    """The driver's NEXT n-key rotation window — the prefix of the
    least-verified-first ordering. r9 (ADVICE r7 item 3): the single
    definition shared by scripts/preflight_driver.py (gate rehearsal)
    and scripts/stress_window.sh (hostile-conf matrix), so the two can
    never silently cover different windows."""
    return list(specs())[:n]


def oracles() -> dict[str, str]:
    return {k: s.oracle for k, s in specs().items() if s.oracle is not None}
