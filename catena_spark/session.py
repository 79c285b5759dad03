"""SparkSession factory tuned for the catena-spark engine.

Design (SURVEY.md §1.2, §4): catena's hand-built physical layer —
time-partition pruning, per-series extent index, per-extent gzip, mmap
reads, WAL — is replaced wholesale by Catalyst + Parquet built-ins. The
session config turns the relevant machinery on:

- AQE (runtime re-plan, skew-join splitting, shuffle-partition coalescing)
- UTC session timezone (DuckDB-oracle parity; FIXTURES.md trap #1)
- Arrow execution (fast pandas-UDF / toPandas path)
- zstd parquet compression (catena's per-extent gzip analogue)

Scale notes (100 TB / 1000-executor target):
- ``spark.sql.shuffle.partitions`` here is sized for local[32] test runs.
  On a real cluster set it to ~2-3x total cores (or leave it high and let
  AQE coalesce); no operator in this repo assumes a partition count.
- AQE skew-join stays on: the events table's series key (user_id,
  event_type) is exactly the kind of key that skews at ingest scale.
- Broadcast threshold left at default 10 MB; dimension tables (region,
  nation, supplier, part at typical scale) broadcast automatically, and
  operators add explicit ``F.broadcast`` hints where the small side is
  known statically.
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

_LOG = logging.getLogger("catena_spark")

#: Runtime-settable conf every query path must see for oracle parity and
#: sane local performance, applied even when the caller (the driver) built
#: the session. Static conf (driver memory, codegen) cannot be changed
#: post-start and is only applied in get_spark().
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # fail-loud arithmetic (r6): the integer-unit parity doctrine proves
    # its domains never overflow — but only ANSI mode turns a violated
    # domain assumption into an error instead of a silent NULL/wrap that
    # would corrupt a hash with no signal. Spark 4 defaults true; pin it
    # so a driver session that flipped it cannot change semantics.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # INT64 µs timestamps, not Spark's default INT96: INT96 columns have
    # no usable min/max statistics, so a ts filter could never skip a
    # row group of a sorted file (the extent index, SURVEY.md §1.2)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark 4.1 rejects INT64 TIMESTAMP(NANOS) parquet columns outright
    # (PARQUET_TYPE_ILLEGAL); read them as raw nanos and let tables.load
    # convert to a µs timestamp (same truncation DuckDB applies casting
    # TIMESTAMP_NS -> TIMESTAMP).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def env_int(name: str, default: int) -> int:
    """Integer env knob with the default on UNSET OR EMPTY (ADVICE r10:
    a bare ``export CATENA_X=`` crashed the old ``int(os.environ.get``
    with a blank ValueError); non-integer garbage still fails, naming
    the variable so the fix is obvious."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"env {name}={raw!r} is not an integer (unset or empty uses "
            f"the default {default})"
        ) from None


#: runtime conf keys a session has refused, each logged once per process
_refused_logged: set[str] = set()

#: set once a failed package ship has been logged: ensure_runtime_conf
#: retries the ship on every load, the warning is issued once per process
_ship_failure_logged = False


def _ship_package(spark: SparkSession) -> None:
    """Make ``catena_spark`` importable on executor Python workers.

    Closures that reference module-level functions (the multimodal
    mapInPandas stages) are cloudpickled BY REFERENCE, so workers must
    import this package — guaranteed in our own sessions (cwd) but not
    in the driver's, whose session starts from an arbitrary directory.
    A zip of the package shipped via addPyFile covers any session; on a
    real cluster the same call distributes it to every executor.
    """
    sc = spark.sparkContext
    if getattr(sc, "_catena_pkg_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_root = Path(__file__).resolve().parent
    # Content-hashed filename => each distinct package state ships its own
    # immutable artifact; concurrent sessions (driver verify + pytest +
    # bench) can no longer rewrite a zip another JVM is mid-fetching
    # (ADVICE r1). Deterministic zip (no mtimes) so the hash is stable.
    files = sorted(pkg_root.rglob("*.py"))
    h = hashlib.sha256()
    for py in files:
        h.update(str(py.relative_to(pkg_root)).encode())
        h.update(py.read_bytes())
    zpath = Path(tempfile.gettempdir()) / f"catena_spark_pkg_{h.hexdigest()[:16]}.zip"
    if not zpath.exists():
        tmp = zpath.with_suffix(f".{os.getpid()}.tmp")
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in files:
                zf.write(py, Path("catena_spark") / py.relative_to(pkg_root))
        tmp.rename(zpath)  # atomic publish; losers overwrite identical bytes
    sc.addPyFile(str(zpath))
    sc._catena_pkg_shipped = True


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply parity-critical runtime conf to an existing session.

    The driver constructs its own SparkSession; UTC timezone, AQE, and
    executor-side importability must hold there too, so every loader in
    tables.py funnels through this.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            # static-only conf on some builds: not fatal, but recorded
            if k not in _refused_logged:
                _refused_logged.add(k)
                _LOG.warning(
                    "catena_spark: the session refused conf %s=%s (%s); "
                    "it keeps %r",
                    k,
                    v,
                    e.getCondition(),
                    spark.conf.get(k, None),
                )
    # Read back the keys oracle hash parity actually depends on — a
    # silently-ignored failure here would corrupt every timestamp hash
    # with no signal (ADVICE r1). Loud beats lenient.
    for k in ("spark.sql.session.timeZone",):
        got = spark.conf.get(k, None)
        if got != _RUNTIME_CONF[k]:
            raise RuntimeError(
                f"parity-critical conf {k}={got!r}, need {_RUNTIME_CONF[k]!r}; "
                "oracle hash comparison would silently diverge"
            )
    try:
        _ship_package(spark)
    except Exception as e:
        # best-effort (our own sessions already have the package), but a
        # foreign session's executors then cannot import catena_spark
        global _ship_failure_logged
        if not _ship_failure_logged:
            _ship_failure_logged = True
            _LOG.warning(
                "catena_spark: could not ship the package to executors "
                "(%s: %s); executor Python workers of a session started "
                "outside the repo may fail to import catena_spark",
                type(e).__name__,
                e,
            )
    return spark


def get_spark(
    app_name: str = "catena-spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    Env knobs follow the driver contract: ``SPARK_GRAFT_CPUS`` sets
    local[N]; ``SPARK_GRAFT_SHUFFLE`` overrides shuffle partitions.
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_conf(spark)
