"""Parquet write-encoding triage: BYTE_STREAM_SPLIT detection + mitigation.

Finding (r14, pinned by the stress gate's 39th cell and an isolation
test): Spark 4.1.2's VECTORIZED parquet reader rejects pages encoded
with BYTE_STREAM_SPLIT — the modern float encoding Arrow / DuckDB /
parquet-cpp writers emit by default for undictionarized float columns —
with ``SparkUnsupportedOperationException: Unsupported encoding:
BYTE_STREAM_SPLIT``. Fail-LOUD, never silent corruption; the row-based
reader decodes the same pages correctly (value parity held across the
full contract under ``spark.sql.parquet.enableVectorizedReader=false``).

At 100 TB a lake ingesting third-party partitions WILL contain BSS
bytes (every modern vector/embedding corpus ships float columns). The
ops doctrine lived only in SCALE.md and the probe knob; VERDICT r14
item 5 asked for a discoverable runtime hook so an operator hitting the
error finds the mitigation in the package:

- :func:`detect_byte_stream_split` — cheap footer-metadata scan (no data
  pages read) over a bounded, deterministic sample of files.
- :func:`mitigate_byte_stream_split` — detect, and if BSS bytes exist,
  pin the row-based reader on the session (warning once about the
  scan-throughput cost); a BSS-free directory is a no-op, so wiring
  this ahead of an untrusted-ingest scan costs one footer sample and
  changes nothing for clean data.

Scale note: footer scans are O(files) metadata reads — at production
file counts pass a sample bound (the default 64 footers catch any
writer generation that touched the directory; a mixed directory where
ONLY unsampled files carry BSS still fails loud at scan time, which is
the Spark default behavior this module never makes worse).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger("catena_spark")

#: The conf that routes scans off the vectorized reader (the mitigation).
VECTORIZED_READER_CONF = "spark.sql.parquet.enableVectorizedReader"

#: One-line mitigation text shared by the warning and error paths, so the
#: doctrine reads the same wherever it surfaces.
MITIGATION = (
    "BYTE_STREAM_SPLIT parquet pages are rejected by Spark 4.1.2's "
    "vectorized reader (fail-loud 'Unsupported encoding'); set "
    f"{VECTORIZED_READER_CONF}=false for sessions scanning this data "
    "(row-based decode is correct but slower), or rewrite the "
    "partitions with dictionary/PLAIN float encoding"
)


def _parquet_files(path: str, max_files: int | None) -> list[str]:
    """Up to ``max_files`` parquet file paths under ``path`` (a single
    file, a ``{t}.parquet`` part-file directory, or an SF dir of those),
    in sorted walk order so repeated scans sample the same footers.
    ``max_files=None`` means every file; 0/negative is rejected — a
    "scan nothing" bound can only produce a silently-empty schema or
    detection result (ADVICE r15: ``max_files or (1 << 31)`` made 0
    mean "everything", the opposite surprise)."""
    if max_files is not None and max_files <= 0:
        raise ValueError(
            f"max_files must be a positive bound or None (got {max_files})"
        )
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
                if max_files is not None and len(out) >= max_files:
                    return out
    return out


def _bss_scan(
    path: str, max_files: int | None
) -> tuple[dict[str, list[str]], bool]:
    """(hits, truncated) from ONE directory listing (ADVICE r16: the
    truncation signal must come from the same walk the scan uses, not a
    second listing — directory listings are expensive on object-store
    paths). Lists max_files+1 entries when bounded and scans only the
    first max_files footers; the extra entry existing IS the truncation
    signal."""
    import pyarrow.parquet as pq

    files = _parquet_files(path, None if max_files is None else max_files + 1)
    truncated = max_files is not None and len(files) > max_files
    if truncated:
        files = files[:max_files]
    hits: dict[str, list[str]] = {}
    for fp in files:
        meta = pq.ParquetFile(fp).metadata
        cols: list[str] = []
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                if (
                    "BYTE_STREAM_SPLIT" in c.encodings
                    and c.path_in_schema not in cols
                ):
                    cols.append(c.path_in_schema)
        if cols:
            hits[fp] = cols
    return hits, truncated


def detect_byte_stream_split(
    path: str, max_files: int | None = 64
) -> dict[str, list[str]]:
    """Footer-metadata scan: which sampled files carry BYTE_STREAM_SPLIT
    column chunks, and on which dotted column paths.

    Returns ``{file_path: [column_path, ...]}`` for offending files only
    (empty dict == no BSS in the sample). Reads footers only — no data
    pages — so the scan is cheap even on wide tables. ``max_files=None``
    scans every footer.
    """
    if max_files is not None and max_files <= 0:
        # preserve the positive-bound contract _parquet_files enforces
        # (the +1 in _bss_scan would otherwise let 0 slip through)
        raise ValueError(
            f"max_files must be a positive bound or None (got {max_files})"
        )
    return _bss_scan(path, max_files)[0]


def mitigate_byte_stream_split(
    spark: SparkSession, path: str, max_files: int | None = 64
) -> bool:
    """Detect BSS bytes under ``path`` and, if present, pin the
    row-based parquet reader on this session so the subsequent scan
    decodes instead of throwing.

    Returns True iff the conf was set (BSS found). BSS-free data is a
    strict no-op — the session conf is not touched, so the fast
    vectorized reader stays on. Emits a UserWarning naming the
    throughput cost when the mitigation engages. A no-hit result from a
    TRUNCATED sample also warns (ADVICE r15): unsampled files may still
    carry BSS, so a caller relying on the "mitigate" contract learns
    the sample was bounded — pass ``max_files=None`` to scan every
    footer (metadata-only) when certainty matters more than listing
    cost. The later data scan still fails loud either way.
    """
    if max_files is not None and max_files <= 0:
        raise ValueError(
            f"max_files must be a positive bound or None (got {max_files})"
        )
    hits, truncated = _bss_scan(path, max_files)
    if not hits:
        if truncated:
            _LOG.warning(
                f"BSS sample bound reached: {max_files} footers scanned "
                f"under {path} with no BYTE_STREAM_SPLIT hits, but more "
                "files exist — unsampled files may still carry BSS (the "
                "data scan would then fail loud with 'Unsupported "
                "encoding'); pass max_files=None to scan every footer.",
            )
        return False
    sample = next(iter(hits.items()))
    _LOG.warning(
        f"{len(hits)} parquet file(s) under {path} carry "
        f"BYTE_STREAM_SPLIT chunks (e.g. {os.path.basename(sample[0])}: "
        f"{sample[1]}); {MITIGATION}. Pinning "
        f"{VECTORIZED_READER_CONF}=false on this session.",
    )
    spark.conf.set(VECTORIZED_READER_CONF, "false")
    return True


# ---------------------------------------------------------------------------
# Schema drift (r15): directories written by multiple writer generations.
#
# The two physical drifts a long-lived lake actually contains, and what
# Spark 4.1.2 does with them (each cell pinned empirically by
# tests/test_sources.py::test_schema_drift_* and the permute probe's
# drift axis):
#
# 1. INTEGER WIDENING (int32 part-files next to int64 ones, same column):
#    - plain read, narrow footer sampled first: fail-LOUD
#      [FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH] — never
#      wrong values;
#    - plain read, wide footer sampled first: silent SUCCESS — Spark 4's
#      widening reads decode int32 pages into a bigint column exactly;
#    - mergeSchema=true: fail-LOUD at schema-merge time (StructType.merge
#      refuses int vs bigint);
#    - EXPLICIT widened schema: correct, deterministic — the mitigation.
# 2. MISSING COLUMN (older-writer part-files lack a column newer ones
#    have):
#    - plain read, full footer sampled first: missing cells surface as
#      NULL — correct;
#    - plain read, older footer sampled first: the column silently
#      VANISHES from the DataFrame (queries referencing it fail loud;
#      nothing returns wrong values, but data that exists on disk is
#      unreachable) — footer-sampling luck, not a contract;
#    - mergeSchema=true or explicit schema: column present, NULL-filled,
#      deterministic — the mitigation.
#
# Both mitigations reduce to the same move: derive the SUPERSET schema
# (union by name, integers/floats widened to the widest sighting) from
# the parquet footers themselves, then read with that schema pinned.
# ``read_drifted`` does exactly that. Footer scans are metadata-only; at
# production file counts a table format's manifest would carry the
# schema instead — this helper is for raw directories, where scanning
# every footer is the only way to see a column that exists in a
# minority of files.
#
# 3. RENAME (r17): Iceberg/Delta-style writers stamp parquet FIELD IDS
#    and rename columns across generations — old part-files carry
#    ``price`` (field id 2), new ones ``unit_price`` (same id 2). The
#    bytes say it is the same column; the names say it is two. Each
#    cell pinned by tests/test_sources.py::test_rename_drift_*:
#    - plain name-based read (Spark AND DuckDB union_by_name): BOTH
#      names surface, each NULL for the other generation's rows — data
#      that exists on disk silently reads as NULL, the missing-column
#      hazard in both directions at once;
#    - Spark's field-id resolution
#      (``spark.sql.parquet.fieldId.read.enabled=true`` + read-schema
#      fields carrying ``parquet.field.id`` metadata) heals it EXACTLY:
#      one column, every generation's values, both readers
#      (vectorized + row-based). Read-schema fields WITHOUT id
#      metadata still match by name in the same read, and an id-less
#      read schema under the enabled conf stays name-based — the conf
#      flip is default-path-safe;
#    - an id-bearing read schema over a part-file with NO field ids at
#      all fails LOUD ("Parquet file schema doesn't contain any field
#      Ids") — so healing engages only when EVERY sampled footer
#      carries ids on every column; otherwise a detected collision
#      refuses loud rather than risking a silent per-file NULL;
#    - canonical name = the alias sighted in the MOST files (ties:
#      first sighting in sorted-file order) — without a catalog the
#      lake cannot say which name is "current", so the choice is
#      deterministic and loudly warned, never guessed silently.
# 4. DROP+RECREATE (same NAME, different field ids): semantically TWO
#    columns — Iceberg treats them as unrelated. A name-based read
#    silently MERGES them into one column (the one silent wrong-VALUES
#    shape in the drift matrix: old-column cells read back as if they
#    were the recreated column's), and an id-based read of either id
#    silently NULLs the other generation. No read schema is correct
#    for both generations at once → refuse loud, decimal-drift-style.
# 5. STRING-ANNOTATION drift (r17): ancient writers (old Impala /
#    early parquet-mr paths) wrote textual BYTE_ARRAY columns WITHOUT
#    the UTF8/STRING annotation — the reason both engines ship a
#    legacy knob for exactly this (`spark.sql.parquet.binaryAsString`,
#    DuckDB `read_parquet(..., binary_as_string=true)`). A directory
#    mixing annotated and unannotated generations of one column
#    (pinned by tests/test_sources.py::test_binstr_annotation_drift):
#    - plain Spark read: column TYPE decided by footer-sampling luck
#      (string or binary — bytes never wrong, nondeterministic type,
#      the tzadjust shape again);
#    - DuckDB union_by_name: fail-LOUD (VARCHAR vs BLOB cast), healed
#      exactly by binary_as_string=true;
#    - an explicit Spark schema decodes BOTH generations exactly under
#      EITHER type (string or binary — BYTE_ARRAY pages are
#      annotation-blind at decode). The lattice resolves to STRING —
#      the two legacy knobs' shared verdict — matching DuckDB's
#      healed read. Caveat, pinned: bytes that aren't valid UTF-8
#      stay byte-faithful in Spark (UTF8String holds raw bytes;
#      rendering is lossy but a cast back to binary returns them
#      exactly) while DuckDB refuses them LOUD — genuinely-binary
#      data mistakenly beside a string-annotated generation can never
#      silently corrupt on either engine.
# 6. STRUCT-MEMBER evolution (r17): a field added inside a struct
#    column across generations (event-payload tables' commonest
#    drift), often with a member widening in the same step. Pinned by
#    tests/test_sources.py::test_struct_member_evolution_drift:
#    - plain Spark read: footer luck — fail-loud type mismatch or
#      silent success with the sampled generation's shape; never wrong
#      values;
#    - explicit SUPERSET struct schema: exact on BOTH readers —
#      missing members NULL, int32 pages widen under a bigint member,
#      members resolved by NAME not position. The lattice unions
#      struct members by name (each member recursively merged;
#      merged-member order is sorted when generations differ, keeping
#      the merge commutative);
#    - DuckDB: fail-LOUD even under union_by_name ("Cannot cast
#      STRUCTs of different size") — the one drift class where the
#      oracle engine has NO healing knob; parity checks over evolved
#      struct partitions need the struct exploded into columns first.
# ---------------------------------------------------------------------------

#: Widening lattices: any two sighted types in the same family merge to
#: the wider one; everything else must match exactly or fail loud.
_INT_ORDER = {"int8": 0, "int16": 1, "int32": 2, "int64": 3}
#: Unsigned sightings (r17): Arrow pipelines write real UINT parquet
#: columns. A uintN needs the signed type of rank N+1 to hold its full
#: range — and the stakes are real: Spark decodes unsigned pages under
#: a TOO-NARROW signed schema by silent bit-reinterpretation (uint16's
#: 65535 under smallint reads back as -1 — the one silent-wrong-values
#: integer shape on this build, pinned by
#: tests/test_sources.py::test_uint_parquet_generations), so the merge
#: must never under-size. uint64's only exact Spark mapping is
#: DECIMAL(20,0); signed pages decode under decimal exactly, but
#: SMALLER UNSIGNED pages do NOT (uint32-under-decimal fails loud) —
#: a uint64 generation beside a smaller unsigned one is therefore
#: irreconcilable and refuses loud, decimal-drift-style.
_UINT_ORDER = {"uint8": 0, "uint16": 1, "uint32": 2, "uint64": 3}
_FLOAT_ORDER = {"halffloat": 0, "float": 1, "double": 2}


def _merge_int_family(a, b, sa: str, sb: str, col: str):
    """Merge two integer-family sightings (signed, unsigned, or the
    decimal(20,0) a previous uint64 merge produced) to the narrowest
    type BOTH generations' pages decode exactly under, or raise."""
    import pyarrow as pa

    signed_rank = {
        **{s: r for s, r in _INT_ORDER.items()},
        # a uintN's range needs signed rank N+1
        **{s: r + 1 for s, r in _UINT_ORDER.items()},
        "decimal128(20, 0)": 4,
    }
    if sa in _UINT_ORDER and sb in _UINT_ORDER:
        # both unsigned: wider unsigned (Spark maps it to the
        # containing signed type, under which narrower unsigned pages
        # decode exactly) — unless uint64 is involved: its decimal
        # mapping cannot decode smaller unsigned pages
        if (sa == "uint64") != (sb == "uint64"):
            raise ValueError(
                f"irreconcilable schema drift on column {col!r}: {a} vs "
                f"{b} — uint64's only exact Spark read type is "
                "DECIMAL(20,0), which cannot decode smaller unsigned "
                "pages; rewrite one generation"
            )
        return a if _UINT_ORDER[sa] >= _UINT_ORDER[sb] else b
    rank = max(signed_rank[sa], signed_rank[sb])
    if rank <= 3:
        return (pa.int8(), pa.int16(), pa.int32(), pa.int64())[rank]
    # rank 4: a uint64 or decimal(20,0) sighting. Signed pages decode
    # under DecimalType(20,0) exactly (empirically pinned down to
    # int8); smaller UNSIGNED pages do not — refuse.
    for s, t in ((sa, a), (sb, b)):
        if s in _UINT_ORDER and s != "uint64":
            raise ValueError(
                f"irreconcilable schema drift on column {col!r}: {a} vs "
                f"{b} — {s} pages cannot decode under DECIMAL(20,0) "
                "(uint64's only exact Spark mapping); rewrite one "
                "generation"
            )
    return pa.decimal128(20, 0)


def _merge_arrow_types(a, b, col: str, int96: frozenset | set = frozenset()):
    import pyarrow as pa

    if a.equals(b):
        return a
    sa, sb = str(a), str(b)
    int_family = set(_INT_ORDER) | set(_UINT_ORDER) | {"decimal128(20, 0)"}
    if sa in int_family and sb in int_family:
        return _merge_int_family(a, b, sa, sb, col)
    if sa in _FLOAT_ORDER and sb in _FLOAT_ORDER:
        return a if _FLOAT_ORDER[sa] >= _FLOAT_ORDER[sb] else b
    if (
        pa.types.is_timestamp(a)
        and pa.types.is_timestamp(b)
        and a.tz is None
        and b.tz is None
        and col in int96
    ):
        # INT96-era part-files (arrow-reported as naive ns) next to
        # modern naive-µs ones — the exact mix a table spanning old
        # Hive/Impala partitions and new Spark writes contains. Spark
        # decodes BOTH generations exactly under an explicit
        # TimestampType schema (empirically pinned: INT96 → LTZ
        # natively; naive µs under an LTZ schema == the NTZ-read +
        # UTC-cast path this package's loaders already apply). Resolve
        # to ns and keep the column flagged INT96 so _spark_type emits
        # TimestampType. WITHOUT an INT96 sighting a ns/µs mix stays
        # irreconcilable: INT64 TIMESTAMP(NANOS) surfaces as bigint
        # under the session's nanosAsLong pin, and bigint vs timestamp
        # cannot share one read schema.
        return pa.timestamp("ns")
    strings = {"string", "large_string"}
    binaries = {"binary", "large_binary"}
    if sa in strings | binaries and sb in strings | binaries:
        # STRING-ANNOTATION drift (doctrine class 5): an unannotated
        # BYTE_ARRAY generation beside a UTF8-annotated one — the
        # legacy shape both engines ship a binary-as-string knob for.
        # BYTE_ARRAY pages decode exactly under either read type;
        # resolve to STRING, the two knobs' shared verdict. The
        # large_* variants are an arrow offset-width detail (parquet
        # BYTE_ARRAY is identical) — same-annotation width mixes
        # normalize to the small variant, keeping the lattice
        # absorbing.
        return pa.string() if sa in strings or sb in strings else pa.binary()
    if (
        pa.types.is_timestamp(a)
        and pa.types.is_timestamp(b)
        and a.unit == b.unit
        and a.unit != "ns"
        and (a.tz is None) != (b.tz is None)
    ):
        # ANNOTATION drift (r17): naive (isAdjustedToUTC=false —
        # pandas/pyarrow writers) beside UTC-adjusted (Spark writers)
        # generations of one column, same unit. The stored int64 ticks
        # are what they are; only the annotation differs, and a PLAIN
        # Spark read resolves it by footer-sampling luck (NTZ or LTZ —
        # never wrong ticks, but a nondeterministic column TYPE).
        # Resolve to tz-aware: under an explicit TimestampType schema
        # Spark decodes BOTH generations' ticks as the same UTC
        # instants, exactly matching DuckDB's union_by_name choice
        # (TIMESTAMPTZ, naive-as-UTC) and this package's pinned-UTC
        # NTZ normalization in tables.load (empirically pinned under a
        # hostile America/New_York session: identical epochs both
        # engines). ns is excluded — it belongs to the nanosAsLong /
        # INT96 lattice above.
        return pa.timestamp(a.unit, "UTC")
    if pa.types.is_list(a) and pa.types.is_list(b):
        return pa.list_(
            _merge_arrow_types(
                a.value_type, b.value_type, f"{col}.list.element", int96
            )
        )
    if pa.types.is_map(a) and pa.types.is_map(b):
        # MAP generations widen through their key/value types (the
        # map<string,int32> beside map<string,int64> shape); Spark
        # decodes the widened map schema exactly on both readers and
        # DuckDB's union unifies it too (pinned by
        # tests/test_sources.py::test_map_value_widening_drift). Paths
        # mirror _spark_type's map convention.
        return pa.map_(
            _merge_arrow_types(
                a.key_type, b.key_type, f"{col}.key_value.key", int96
            ),
            _merge_arrow_types(
                a.item_type, b.item_type, f"{col}.key_value.value", int96
            ),
        )
    if pa.types.is_struct(a) and pa.types.is_struct(b):
        # STRUCT-MEMBER evolution (doctrine class 6): the commonest
        # drift in event-payload tables — a new field added inside a
        # struct column, often alongside a member widening. Union the
        # members by NAME, each recursively through this same lattice;
        # members present in only one generation null-fill on read.
        # Spark decodes the superset struct schema exactly on both
        # readers (missing member -> NULL, int32 pages widen under a
        # bigint member, member ORDER resolved by name — all pinned by
        # tests/test_sources.py::test_struct_member_evolution_drift).
        # Member order is SORTED whenever the generations differ: any
        # sighting-dependent order would make this merge
        # non-commutative (the property suite enforces the algebra).
        amap = {f.name: f.type for f in a}
        bmap = {f.name: f.type for f in b}
        return pa.struct(
            [
                (
                    n,
                    _merge_arrow_types(
                        amap[n], bmap[n], f"{col}.{n}", int96
                    )
                    if n in amap and n in bmap
                    else (amap.get(n) or bmap[n]),
                )
                for n in sorted(set(amap) | set(bmap))
            ]
        )
    raise ValueError(
        f"irreconcilable schema drift on column {col!r}: {a} vs {b} — "
        "not a widening; rewrite the offending part-files"
    )


def _merged_footer_info(path: str, max_files: int | None = None):
    """(superset pyarrow schema, set of INT96-physical column paths,
    field-id map or None) of
    every sampled footer under ``path``. The INT96 set matters because
    pyarrow reports BOTH the deprecated INT96 physical type AND the
    modern INT64 TIMESTAMP(NANOS) logical type as ``timestamp[ns]`` —
    but Spark reads INT96 as TimestampType while (under this package's
    pinned ``legacy.parquet.nanosAsLong=true``) it surfaces INT64 nanos
    as bigint. Mapping them identically broke every timestamp column
    the moment the drift axis composed with the INT96 write-encoding
    knob (r15 capstone finding — fail-loud, but the mitigation itself
    must be deterministic, not footer-luck).

    ``max_files=None`` (default) scans every footer. A bounded sample
    reintroduces the footer-sampling nondeterminism this helper exists
    to eliminate (a column present only in unsampled files is dropped
    from the superset), so a reached bound warns loudly (ADVICE r15)."""
    files = _parquet_files(path, None if max_files is None else max_files + 1)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    if max_files is not None and len(files) > max_files:
        files = files[:max_files]
        _LOG.warning(
            f"schema-drift footer sample truncated at max_files="
            f"{max_files} under {path}: columns or wider types present "
            "only in unsampled files will be MISSING from the derived "
            "superset schema (silently, to this helper). Pass "
            "max_files=None to scan every footer — metadata-only.",
        )
    import pyarrow as pa
    import pyarrow.parquet as pq

    # two passes: collect every sighting first, merge after — the
    # timestamp lattice needs the COMPLETE INT96 set (a µs-generation
    # footer may be listed before the INT96-era one that legitimizes
    # the unit mix)
    names: list[str] = []
    sightings: dict[str, list] = {}
    int96: set[str] = set()
    # rename-drift bookkeeping (r17): top-level field-id sightings.
    # pyarrow surfaces a parquet field_id as arrow field metadata under
    # b"PARQUET:field_id" — the same convention it writes. Nested ids
    # are out of scope: Spark's field-id matching and this lattice both
    # resolve TOP-LEVEL columns; a renamed nested field stays
    # name-based (null-filled), never wrong values.
    name_files: dict[str, int] = {}
    name_ids: dict[str, set] = {}

    def _footer_of(fp: str):
        pf = pq.ParquetFile(fp)
        fields = [
            (f.name, f.type, (f.metadata or {}).get(b"PARQUET:field_id"))
            for f in pf.schema_arrow
        ]
        # physical types come from the footer's schema DESCRIPTOR, not
        # row_group(0) (ADVICE r15): the descriptor exists even in
        # zero-row-group part-files and covers every row group, so a
        # timestamp column whose only INT96 sighting lives in a
        # schema-only part-file is still mapped to TimestampType
        desc = pf.metadata.schema
        i96 = [
            desc.column(i).path
            for i in range(len(desc))
            if desc.column(i).physical_type == "INT96"
        ]
        return fields, i96

    # Deliberately SERIAL (r17, measured): thread-pooling this sweep is
    # a loss at every pool size on local files — 400 warm footers read
    # serial in 16 ms vs 77/109/217/214 ms at 2/4/8/16 threads —
    # because pyarrow's footer parse holds the GIL for Python schema-
    # object construction; there is no IO wait to overlap. On an
    # object store the math could invert (ms-scale latency per GET),
    # but at that scale the right fix is a manifest-bearing table
    # format, not a wider footer sweep (doctrine block above).
    footers = [_footer_of(fp) for fp in files]
    for fields, i96 in footers:
        for name, typ, fid in fields:
            if name not in sightings:
                names.append(name)
                sightings[name] = [typ]
            elif not any(typ.equals(t) for t in sightings[name]):
                sightings[name].append(typ)
            name_files[name] = name_files.get(name, 0) + 1
            name_ids.setdefault(name, set()).add(
                int(fid) if fid is not None else None
            )
        int96.update(i96)
    # DROP+RECREATE (doctrine class 4): one NAME under two distinct
    # field ids is two semantically different columns that a name-based
    # read would silently merge (wrong values) — no correct read schema
    # exists; refuse before any resolution.
    for n in names:
        real = sorted(i for i in name_ids[n] if i is not None)
        if len(real) > 1:
            raise ValueError(
                f"irreconcilable schema drift on column {n!r}: sighted "
                f"under parquet field ids {real} — a dropped-and-"
                "recreated column (Iceberg treats these as unrelated); "
                "a name-based read would silently merge two different "
                "columns' values. Split the generations and rewrite"
            )
    # RENAME (doctrine class 3): one field id under >= 2 names.
    id_names: dict[int, list[str]] = {}
    for n in names:  # first-sighting order over sorted files
        real = {i for i in name_ids[n] if i is not None}
        if real:
            id_names.setdefault(next(iter(real)), []).append(n)
    collisions = {i: ns for i, ns in id_names.items() if len(ns) > 1}
    field_ids: dict[str, int] | None = None
    if collisions:
        if any(None in ids for ids in name_ids.values()):
            # some sighting somewhere carries no id: Spark's id-read
            # fails loud on wholly id-less files and silently NULLs a
            # present-but-id-less column otherwise — healing is only
            # safe on a uniformly id-stamped directory
            raise ValueError(
                "rename drift detected (one parquet field id under "
                "multiple names: "
                + ", ".join(
                    f"id {i}: {ns}" for i, ns in sorted(collisions.items())
                )
                + ") but not every sampled footer stamps field ids on "
                "every column — field-id healing would silently NULL "
                "id-less sightings; rewrite the id-less generation or "
                "rename it back by hand"
            )
        for i, ns in sorted(collisions.items()):
            # canonical = most file sightings; tie -> first sighted in
            # sorted-file order (deterministic — a raw directory cannot
            # say which alias is the catalog-current name)
            canonical = max(
                ns, key=lambda n: (name_files[n], -ns.index(n))
            )
            for alias in ns:
                if alias == canonical:
                    continue
                for t in sightings.pop(alias):
                    if not any(
                        t.equals(x) for x in sightings[canonical]
                    ):
                        sightings[canonical].append(t)
                # an alias's INT96 flag (and its nested paths) belongs
                # to the canonical column after healing
                for p in [
                    p for p in int96
                    if p == alias or p.startswith(alias + ".")
                ]:
                    int96.add(canonical + p[len(alias):])
                names.remove(alias)
            _LOG.warning(
                f"rename drift healed by parquet field id {i}: "
                f"{sorted(ns)} are one column; reading as "
                f"{canonical!r} (majority-of-files name) via Spark "
                "field-id resolution. If the lake's current name is a "
                "different alias, rename the result",
            )
        # uniform stamping was just proven (no None anywhere), so the
        # map covers every surviving column
        field_ids = {
            n: next(i for i in name_ids[n] if i is not None)
            for n in names
        }
    types: dict[str, object] = {}
    for n in names:
        merged = sightings[n][0]
        for t in sightings[n][1:]:
            merged = _merge_arrow_types(merged, t, n, int96)
        types[n] = merged
    return pa.schema([(n, types[n]) for n in names]), int96, field_ids


def merged_drifted_schema(path: str, max_files: int | None = None):
    """Superset pyarrow schema of every sampled footer under ``path``:
    union of columns by NAME (first-sighting order), integer/float types
    widened to the widest sighting, anything irreconcilable fails loud.

    ``max_files=None`` (default) scans EVERY footer — required for
    correctness when a column exists in a minority of files; pass a
    bound only for diagnostics on directories too large to list."""
    return _merged_footer_info(path, max_files)[0]


def _spark_type(t, path: str = "", int96: frozenset | set = frozenset()):
    """Arrow type -> Spark SQL type, matching what Spark's own parquet
    schema inference would produce for the same column under this
    package's session conf (UTC + legacy.parquet.nanosAsLong=true), so
    a drift-safe read of UNDRIFTED data is byte-identical to the plain
    read. ``path``/``int96`` disambiguate ns timestamps: arrow reports
    the deprecated INT96 physical type and INT64 TIMESTAMP(NANOS) both
    as timestamp[ns], but Spark reads the former as TimestampType and
    (under nanosAsLong) the latter as bigint. Fail-loud on types no
    fixture uses — silently guessing a mapping here could corrupt
    every downstream hash."""
    import pyarrow as pa
    from pyspark.sql import types as T

    flat = {
        "bool": T.BooleanType(),
        "int8": T.ByteType(),
        "int16": T.ShortType(),
        "int32": T.IntegerType(),
        "int64": T.LongType(),
        # unsigned (r17): Spark's own parquet inference maps each uintN
        # to the containing SIGNED type (pinned by
        # test_uint_parquet_generations) — uint64 has no signed int64
        # superset, so Spark uses DECIMAL(20,0)
        "uint8": T.ShortType(),
        "uint16": T.IntegerType(),
        "uint32": T.LongType(),
        "uint64": T.DecimalType(20, 0),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "large_string": T.StringType(),
        "binary": T.BinaryType(),
        "large_binary": T.BinaryType(),
        "date32[day]": T.DateType(),
    }
    s = str(t)
    if s in flat:
        return flat[s]
    if pa.types.is_timestamp(t):
        if t.unit == "ns" and t.tz is None:
            if path in int96:
                # deprecated INT96 physical storage (old Hive/Impala/
                # Spark writers, and the probe's INT96 knob): Spark
                # always decodes it as TimestampType — nanosAsLong
                # applies only to INT64 TIMESTAMP(NANOS)
                return T.TimestampType()
            # INT64 TIMESTAMP(NANOS): the session pins
            # legacy.parquet.nanosAsLong=true (Spark 4.1 rejects the
            # type otherwise); inference surfaces the column as bigint
            # and tables.load converts — mirror it
            return T.LongType()
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T.ArrayType(
            _spark_type(t.value_type, f"{path}.list.element", int96)
        )
    if pa.types.is_struct(t):
        return T.StructType(
            [
                T.StructField(
                    f.name, _spark_type(f.type, f"{path}.{f.name}", int96)
                )
                for f in t
            ]
        )
    if pa.types.is_map(t):
        return T.MapType(
            _spark_type(t.key_type, f"{path}.key_value.key", int96),
            _spark_type(t.item_type, f"{path}.key_value.value", int96),
        )
    raise ValueError(
        f"no Spark mapping for arrow type {t} — extend _spark_type "
        "deliberately rather than letting inference guess"
    )


# ---------------------------------------------------------------------------
# Bitrot (r16): a single flipped byte in a parquet data page.
#
# Empirical matrix on this build (Spark 4.1.2 + parquet-mr, pinned by
# tests/test_sources.py::test_bitrot_detection_requires_verify_conf and
# the /tmp/r16_scratch experiments):
#
# - Default session, pyarrow-written file (PLAIN or snappy or zstd
#   pages, no dictionary): the corrupted page DECODES — the read
#   "succeeds" and returns WRONG VALUES silently. Compression does NOT
#   imply integrity: a mid-page flip in a snappy/zstd stream can decode
#   to garbage-but-well-formed output (143 and 1534 silently wrong
#   doubles out of 2000 in the pinned experiment).
# - Some offsets instead break the page structurally and fail loud
#   (e.g. the same flip in a Spark-written file hit a snappy frame
#   header) — bitrot outcomes are OFFSET-DEPENDENT; the hazard is that
#   the silent case exists at all.
# - Parquet page CRCs close it: a file written WITH page checksums read
#   under ``parquet.page.verify-checksum.enabled=true`` fails LOUD at
#   the corrupted page. Verification is OFF by default in Spark.
# - Writer asymmetry, the 100 TB trap: parquet-mr (Spark) writes page
#   CRCs by default, but pyarrow's ``write_page_checksum`` defaults to
#   FALSE — so exactly the third-party / Arrow-pipeline partitions most
#   likely to have aged outside your control typically carry NO CRCs,
#   and no reader conf can detect their rot; storage-layer checksums
#   (object-store etags, fsck) are the only backstop there.
# - Verification is per page READ, not per file: column pruning means a
#   query that never touches the corrupted column's pages cannot raise
#   (pinned: an agg over column v read clean while the flip sat in
#   column k). An integrity AUDIT therefore needs a deliberate
#   all-columns pass (SELECT every column, or a checksum job), not the
#   production query mix.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# NaN statistics (r17): the silent wrong-ROWS class for foreign writers.
#
# Empirical matrix on this build (pinned by tests/test_sources.py::
# test_nan_stats_pruning_drops_rows_on_foreign_writers):
#
# - Both engines ORDER NaN greater than every number in comparisons
#   (Spark and DuckDB alike): `v > 5.0` is TRUE for a NaN cell.
# - pyarrow writes row-group min/max EXCLUDING NaN (no marker), so a
#   row group holding [NaN, 1.0..3.0] advertises max=3.0. Under
#   predicate pushdown BOTH engines prune that group for `v > 5.0`
#   and the NaN row SILENTLY VANISHES — the same Spark query returns
#   different rows with spark.sql.parquet.filterPushdown on vs off.
#   Engine-vs-engine hashes still match (both prune identically),
#   which is exactly why only a within-engine conf flip exposes it.
# - Spark's own writer includes NaN in max (self-consistent: no wrong
#   pruning); DuckDB's writer omits min/max entirely for NaN-bearing
#   chunks (no pruning possible). The hazard is therefore specific to
#   pyarrow/Arrow-pipeline-written partitions — the most common
#   third-party shape at 100 TB.
#
# Mitigations, by preference: rewrite the offending partitions with a
# NaN-safe writer; add `OR isnan(col)` to predicates where NaN rows
# matter; or set spark.sql.parquet.filterPushdown=false for the scan
# (stock conf — no wrapper needed; costs full-scan filtering).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Exotic logical types (r17): sightings a lake's foreign partitions
# carry, pinned per engine by tests/test_sources.py::
# test_exotic_logical_types_matrix (VALUE reads — count() lies, per the
# brotli/encryption doctrine):
#
# - DECIMAL256, precision > 38 (Arrow-pipeline financial/scientific
#   data): Spark refuses LOUD (DECIMAL_PRECISION_EXCEEDS_MAX_PRECISION,
#   both readers). DuckDB SILENTLY reads the column as DOUBLE with
#   GARBAGE values (measured: 1.23e29 -> 2.07e36; -1.5 -> -2.5e7) —
#   the only silent-wrong-VALUES cell on EITHER engine across the
#   whole foreign-bytes program, and it sits on the ORACLE side: a
#   DuckDB check over such bytes lies silently while Spark fails loud.
#   Never validate p>38 partitions with DuckDB; rewrite to
#   decimal(38,_) or split digits before ingest.
# - DECIMAL256, precision <= 38: EXACT on both engines (FLBA width is
#   harmless; only p>38 is the hazard).
# - FLOAT16 / half-float (FLBA2 — fp16 embedding dumps): Spark LOUD
#   (PARQUET_TYPE_ILLEGAL); DuckDB silently surfaces raw BYTES as BLOB
#   — silent wrong-TYPE. Rewrite fp16 -> fp32 before ingest.
# - TIME (MICROS/MILLIS): Spark 4.1.2 rejects LOUD even though
#   TimeType exists in its API (the parquet reader predates it);
#   DuckDB decodes micros exactly (TIMETZ) and fails loud on millis
#   (internal stats defect). Never silent; cast to TIMESTAMP at the
#   writer for portability.
# - arrow duration: parquet has no logical type for it — both engines
#   agree on raw INT64 ticks (unit lives only in arrow metadata;
#   value-consistent, unit-blind — document the unit out of band).
# - arrow null type: all-NULL int column on both engines. Benign.
#
# Partial-write leftovers (same round, pinned by
# test_partial_write_leftovers_matrix): a ZERO-BYTE part-file is
# silently SKIPPED by Spark (all real rows read correctly) but kills a
# DuckDB glob loud — clean them before pointing an oracle at a raw
# directory. A TRUNCATED part-file (tail cut mid-footer) is loud on
# both engines even for count(*) — the one corruption class where
# count() does NOT lie, because the footer itself is unreadable.
# ---------------------------------------------------------------------------

#: Hadoop conf gating parquet page-CRC verification at scan time.
PAGE_VERIFY_CONF = "parquet.page.verify-checksum.enabled"


def enable_bitrot_detection(spark: SparkSession, enabled: bool = True) -> None:
    """Turn parquet page-checksum VERIFICATION on (or off) for this
    session's subsequent scans — the discoverable runtime hook for the
    bitrot doctrine above, shaped like mitigate_byte_stream_split.

    Flipping it on makes scans of CRC-bearing files fail LOUD on any
    corrupted page instead of silently returning garbage values; the
    cost is a CRC32 pass per page (cheap next to decompression). It
    cannot help files written without page checksums (pyarrow default)
    — rewrite those with ``write_page_checksum=True`` or rely on
    storage-layer integrity. Set it for ingest scans of aged or
    third-party partitions; leave the default for trusted hot paths if
    the CRC pass ever measures."""
    spark.sparkContext._jsc.hadoopConfiguration().set(
        PAGE_VERIFY_CONF, "true" if enabled else "false"
    )


def read_drifted(spark: SparkSession, path: str):
    """Read a parquet file/directory that may have been written by
    multiple writer generations: pins the footer-derived superset schema
    so (a) columns absent from older part-files surface as NULL — never
    silently vanish on footer-sampling luck — and (b) integer/float
    columns physically narrower in older part-files are widened on
    decode (Spark 4 widening reads), never PARQUET_COLUMN_DATA_TYPE_
    MISMATCH. On an undrifted directory this is plan-identical to
    ``spark.read.parquet`` with inference (same schema, same pushdown,
    same vectorized reader) at the cost of one footer sweep.

    RENAME drift (r17, doctrine class 3 above): when the footers show
    one parquet field id under multiple names — Iceberg/Delta-style
    writers renaming a column across generations — the read heals it:
    the schema carries ``parquet.field.id`` metadata and the session
    flips ``spark.sql.parquet.fieldId.read.enabled`` so Spark matches
    columns by id, not name. The conf stays set afterwards; that is
    deliberate and safe — an id-less read schema under the enabled
    conf is name-based (empirically pinned), so other reads are
    unaffected. Without a collision the schema carries no id metadata
    and the conf is never touched — byte-identical default path."""
    from pyspark.sql import types as T

    pa_schema, int96, field_ids = _merged_footer_info(path)
    spark_schema = T.StructType(
        [
            T.StructField(
                f.name,
                _spark_type(f.type, f.name, int96),
                True,
                {"parquet.field.id": field_ids[f.name]}
                if field_ids
                else None,
            )
            for f in pa_schema
        ]
    )
    if field_ids:
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return spark.read.schema(spark_schema).parquet(path)
