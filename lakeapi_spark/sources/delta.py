"""Minimal Delta Lake reader: delta-spark when present, else a native
protocol-log fallback.

The reference reads delta through deltalake2db/duckdb views
(df_duckdb.py:438-450) and SUPPORTS column mapping (README.md:66,
exercised by tests/test_colmap.py: a table whose logical names carry
spaces maps to physical col-xyz parquet names); deletion vectors are
its stated unsupported boundary. This module mirrors that surface on
Spark:

- ``read_delta`` uses ``format("delta")`` when delta-spark is on the
  classpath (the production path: data skipping, DVs, column mapping);
- otherwise it REPLAYS THE COMMIT LOG itself: ``_delta_log/*.json``
  actions (+ the parquet checkpoint referenced by ``_last_checkpoint``),
  reconciling add/remove files, taking the schema from
  ``metaData.schemaString`` (which IS Spark StructType JSON),
  resolving column mapping by reading the physical schema and casting
  back to logical names, applying deletion vectors (sources/dv.py —
  one feature PAST the reference's support line), and rejecting any
  other reader feature loudly (DeltaProtocolError).

Fallback scale notes (documented, not hidden): the log listing and
replay are driver-side metadata work over the Hadoop FS API (object
stores fine). Data files are read by executors as plain parquet with
the log-declared schema. Partitioned tables read one parquet scan PER
DISTINCT PARTITION TUPLE (partition values come from the log, injected
as literal columns), so a filter on a partition column constant-folds
non-matching branches to empty — real partition pruning. A table with
millions of partitions wants delta-spark, not this fallback; a lookup
or mid-size table is fully served.
"""

from __future__ import annotations

import decimal
import json
import math
import threading
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class DeltaProtocolError(ValueError):
    """Table requires reader features this fallback doesn't implement.
    The reference stops at column mapping (README.md:66: deletion
    vectors unsupported); this fallback goes one feature further and
    reads deletion vectors too — anything else (v2Checkpoint,
    typeWidening, ...) is rejected loudly."""


#: minReaderVersion-3 reader features this fallback implements.
#: columnMapping: physical->logical renames below; timestampNtz: just a
#: schema type Spark reads natively; deletionVectors: roaring-bitmap
#: row filters (sources/dv.py) applied in _files_to_df — one feature
#: PAST the reference's support boundary (README.md:66). Anything else
#: is rejected loudly.
_SUPPORTED_READER_FEATURES = {"columnMapping", "timestampNtz", "deletionVectors"}


@dataclass
class DeltaSnapshot:
    version: int
    schema: T.StructType
    partition_columns: list[str]
    #: file path -> partitionValues dict (string-typed, per protocol)
    files: dict[str, dict[str, str]] = field(default_factory=dict)
    #: appId -> last committed txn version (streaming idempotence)
    app_versions: dict[str, int] = field(default_factory=dict)
    #: file path -> parsed add.stats (numRecords/minValues/maxValues)
    stats: dict[str, dict] = field(default_factory=dict)
    #: delta.columnMapping.mode from metaData.configuration ("none",
    #: "name", "id"); physical names live in each field's metadata
    column_mapping_mode: str = "none"
    #: the raw protocol action (as committed) — carried so checkpoints
    #: and protocol-upgrading writers reproduce it faithfully
    protocol: dict = field(
        default_factory=lambda: {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    #: the raw metaData action (id/format/configuration included)
    metadata_raw: dict = field(default_factory=dict)
    #: file path -> the full raw add action (size, stats string, DV
    #: descriptor — everything a faithful re-commit/checkpoint needs)
    adds_raw: dict[str, dict] = field(default_factory=dict)


def _read_json_bytes(spark: SparkSession, uri: str) -> bytes:
    """Small-file read through the Hadoop FS (commit JSONs are KBs);
    py4j can't share a mutable buffer, so commons-io drains the stream
    JVM-side in one call."""
    from lakeapi_spark.sources.fs import _fs_and_path

    fs, path = _fs_and_path(spark, uri)
    stream = fs.open(path)
    try:
        return bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def _apply_action(snap: DeltaSnapshot, action: dict) -> None:
    if "protocol" in action:
        p = action["protocol"]
        mrv = p.get("minReaderVersion", 1)
        if mrv == 3:
            features = p.get("readerFeatures")
            if features is None:
                raise DeltaProtocolError(
                    "minReaderVersion 3 without a readerFeatures list is malformed "
                    "(the protocol requires it); refusing to guess — install "
                    "delta-spark for this table"
                )
            unsupported = set(features) - _SUPPORTED_READER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"reader features {sorted(unsupported)} are not supported by the "
                    "protocol-log fallback (column mapping, timestampNtz and deletion "
                    "vectors are); install delta-spark for this table"
                )
        elif mrv > 3:
            raise DeltaProtocolError(
                f"minReaderVersion {mrv} is not supported by the protocol-log "
                "fallback; install delta-spark for this table"
            )
        # mrv 2 = column mapping: handled via physical-name renames
        # (None-valued keys come from checkpoint struct columns whose
        # optional fields were absent — drop them for faithful re-emit)
        snap.protocol = {k: v for k, v in p.items() if v is not None}
    if "metaData" in action:
        md = action["metaData"]
        snap.schema = T.StructType.fromJson(json.loads(md["schemaString"]))
        snap.partition_columns = list(md.get("partitionColumns", []))
        snap.column_mapping_mode = (md.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        snap.metadata_raw = {k: v for k, v in md.items() if v is not None}
        # a map, also where a checkpoint's empty map came back as []
        snap.metadata_raw["configuration"] = dict(md.get("configuration") or {})
    if "add" in action:
        a = action["add"]
        snap.files[a["path"]] = dict(a.get("partitionValues") or {})
        snap.adds_raw[a["path"]] = a
        raw_stats = a.get("stats")
        if raw_stats:
            try:
                snap.stats[a["path"]] = (
                    json.loads(raw_stats) if isinstance(raw_stats, str) else raw_stats
                )
            except ValueError:
                pass
    if "remove" in action:
        snap.files.pop(action["remove"]["path"], None)
        snap.stats.pop(action["remove"]["path"], None)
        snap.adds_raw.pop(action["remove"]["path"], None)
    if "txn" in action:
        t = action["txn"]
        snap.app_versions[t["appId"]] = int(t["version"])


def _normalize_ckpt_value(v):
    """Checkpoint parquet stores protocol-dict fields (partitionValues,
    configuration) as map<string,string>; pyarrow's ``to_pylist`` hands
    maps back as [(k, v), ...] tuple lists. Fold those back into dicts
    (recursively — the actions are shallow structs) so checkpoint rows
    and JSON commit lines feed :func:`_apply_action` identically. Lists
    of strings (partitionColumns, readerFeatures) pass through. None
    values inside structs stay (a null partitionValue is meaningful);
    absent optional sub-structs are null structs, which ``to_pylist``
    already hands back as None."""
    if isinstance(v, list):
        if v and all(isinstance(e, tuple) and len(e) == 2 for e in v):
            return {k: _normalize_ckpt_value(x) for k, x in v}
        return [_normalize_ckpt_value(e) for e in v]
    if isinstance(v, dict):
        return {k: _normalize_ckpt_value(x) for k, x in v.items()}
    return v


#: replayed snapshots keyed by the names + mtimes of the log files
#: replay reads — any commit, checkpoint, or in-place rewrite changes
#: the key, so a hit is provably current. Bounded FIFO; snapshots are
#: treated as read-only by every consumer (writers copy before mutating).
_SNAPSHOT_CACHE: dict[tuple, DeltaSnapshot] = {}
_SNAPSHOT_CACHE_MAX = 64
_SNAPSHOT_CACHE_LOCK = threading.Lock()


def delta_snapshot(
    spark: SparkSession, uri: str, version_as_of: int | None = None
) -> DeltaSnapshot:
    """Replay the commit log (checkpoint + JSON commits) to a snapshot.

    Replays are CACHED by the log listing: the driver still pays one FS
    listing per call (the freshness probe — same discipline as the
    schema/BM25 caches), but re-reading and re-applying N commit files
    only happens when the log actually changed. On a long-lived serving
    session over a streaming-written table this turns per-request
    snapshot cost from O(commits) reads into O(1) after the first."""
    from lakeapi_spark.sources.fs import list_children

    log_dir = f"{uri.rstrip('/')}/_delta_log"
    commits: dict[int, str] = {}
    checkpoints: dict[int, str] = {}
    last_checkpoint = None
    replayed = []  # the key: files replay reads, not a writer's temp files
    for path, is_dir, mtime in list_children(spark, log_dir):
        if is_dir:
            continue
        name = path.rsplit("/", 1)[-1]
        if name == "_last_checkpoint":
            last_checkpoint = path
        elif name.endswith(".checkpoint.parquet"):
            checkpoints[int(name.split(".")[0])] = path
        elif name.endswith(".json") and name[:-5].isdigit():
            commits[int(name[:-5])] = path
        else:
            continue
        replayed.append((path, mtime))
    cache_key = (log_dir, version_as_of, tuple(replayed))
    cached = _SNAPSHOT_CACHE.get(cache_key)
    if cached is not None:
        return cached
    if not commits and not checkpoints:
        raise FileNotFoundError(f"no delta commits under {log_dir}")

    snap = DeltaSnapshot(version=-1, schema=T.StructType([]), partition_columns=[])
    start = 0
    ckpt_version = None
    if last_checkpoint is not None and checkpoints:
        ckpt_version = json.loads(_read_json_bytes(spark, last_checkpoint))["version"]
        if version_as_of is not None and ckpt_version > version_as_of:
            ckpt_version = None  # time travel to before the checkpoint: replay JSON
    if ckpt_version is not None and ckpt_version in checkpoints:
        import pyarrow.parquet as papq

        tab = papq.read_table(checkpoints[ckpt_version])
        for row in tab.to_pylist():
            action = {
                k: _normalize_ckpt_value(v) for k, v in row.items() if v is not None
            }
            _apply_action(snap, action)
        start = ckpt_version + 1
        snap.version = ckpt_version
    for v in sorted(commits):
        if v < start:
            continue
        if version_as_of is not None and v > version_as_of:
            break
        for line in _read_json_bytes(spark, commits[v]).splitlines():
            if line.strip():
                _apply_action(snap, json.loads(line))
        snap.version = v
    if version_as_of is not None and snap.version < version_as_of:
        raise ValueError(f"versionAsOf {version_as_of} not found (latest {snap.version})")
    if not snap.schema.fields:
        raise ValueError(f"no metaData action found in {log_dir}")
    with _SNAPSHOT_CACHE_LOCK:  # concurrent writers snapshot in threads
        if len(_SNAPSHOT_CACHE) >= _SNAPSHOT_CACHE_MAX:
            _SNAPSHOT_CACHE.pop(next(iter(_SNAPSHOT_CACHE)))
        _SNAPSHOT_CACHE[cache_key] = snap
    return snap


def _partition_lit(value: str | None, dtype: T.DataType):
    # protocol: partitionValues are strings; null partition is None
    if value is None:
        return F.lit(None).cast(dtype)
    return F.lit(value).cast(dtype)


def _physical_name(f: T.StructField) -> str:
    """Physical (in-file) column name under column mapping: the
    ``delta.columnMapping.physicalName`` field metadata, else the
    logical name (mode 'none'). 'id' mode also writes physicalName, so
    reading by physical name covers both modes."""
    return (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)


def _as_column(expr: str | Column) -> Column:
    """A Spark SQL expression string parsed by ``F.expr``; a Column as is."""
    return expr if isinstance(expr, Column) else F.expr(expr)


def _physical_type(dt: T.DataType) -> T.DataType:
    """Recursively rename nested struct fields to their physical names
    (column mapping applies at every nesting level)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(_physical_name(f), _physical_type(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType), _physical_type(dt.valueType), dt.valueContainsNull
        )
    return dt


#: above this many deleted rows the anti-join side stops being
#: broadcast and shuffles instead (delta rewrites files long before a
#: DV gets near this, so broadcast is the overwhelmingly common plan)
_DV_BROADCAST_LIMIT = 4_000_000

#: below this many deleted rows the DV bitmaps decode on the DRIVER
#: into a LocalTableScan (zero exchanges, immune to subtree
#: duplication under union pushdown); above it the decode distributes
#: via mapInPandas over the payload bytes
_DV_LOCAL_DECODE_LIMIT = 100_000


def _file_dv(snap: DeltaSnapshot, rel: str) -> dict | None:
    return (snap.adds_raw.get(rel) or {}).get("deletionVector") or None


def _dv_referenced_rel(dv: dict, base: str) -> str | None:
    """Table-relative path of the ``.bin`` a deletionVector descriptor
    references, or None when it references no table file (inline 'i',
    or an absolute 'p' path outside the table root). Both vacuum's
    referenced-set and restore's needed-set go through this so a 'p'
    descriptor pointing inside the table is never vacuumed out from
    under a retained snapshot."""
    from lakeapi_spark.sources.dv import dv_relative_path

    st = dv.get("storageType")
    if st == "u":
        return dv_relative_path(dv["pathOrInlineDv"])
    if st == "p":
        p = _local_path(dv["pathOrInlineDv"])
        prefix = base.rstrip("/") + "/"
        if p.startswith(prefix):
            return p[len(prefix):]
    return None


#: scheme prefix of a URI ("file:///", "s3a://", ...) — folded to a
#: single "/" on BOTH sides of the DV position join so driver-derived
#: paths and _metadata.file_path agree regardless of scheme spelling
_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:/+"


def _norm_path(uri: str) -> str:
    """Driver-side path key: RAW (unencoded) absolute path. The Spark
    side (`_file_path_raw_col`) decodes ``_metadata.file_path``'s
    percent-encoding down to the same raw form — decoding only the side
    that is provably encoded keeps names containing a literal ``%``
    correct."""
    import os
    import re

    stripped = re.sub(_SCHEME_RE, "/", uri)
    if not stripped.startswith("/"):  # relative local path
        return os.path.abspath(stripped)
    return os.path.normpath(stripped)


def _add_abs(base: str, path: str) -> str:
    """Absolute location of an add action's data file. The protocol
    allows ``add.path`` to be table-root-relative (the normal case) OR
    absolute — shallow clones reference the SOURCE table's files
    absolutely (delta-spark CLONE semantics; PROTOCOL.md "path ...
    absolute path"). Every site that turns an add into a readable
    location must resolve through this helper."""
    return path if path.startswith("/") or "://" in path else f"{base}/{path}"


def _file_path_raw_col():
    """``_metadata.file_path`` as a RAW path column: scheme folded to
    '/', percent-encoding decoded. Literal '+' must survive
    (url_decode's application/x-www-form semantics would turn it into a
    space), so it is pre-escaped to %2B before decoding; a literal '%'
    in a file name arrives already encoded as %25 and decodes back
    correctly."""
    stripped = F.regexp_replace(F.col("_metadata.file_path"), _SCHEME_RE, "/")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def _log_paths(base: str, snap: DeltaSnapshot, abs_uris: list[str]) -> list[str]:
    """The log path of each scanned file: ``_metadata.file_path`` is an
    absolute URI, matched as a raw local path (scheme stripped,
    percent-encoding decoded) against the snapshot's files (the lookup
    is bounded by the file count)."""
    import os
    import urllib.parse

    abs_to_rel = {os.path.abspath(_add_abs(base, rel)): rel for rel in snap.files}
    rels = []
    for uri in abs_uris:
        rel = abs_to_rel.get(os.path.abspath(urllib.parse.unquote(urllib.parse.urlparse(uri).path)))
        if rel is None:  # pragma: no cover - provenance must resolve
            raise RuntimeError(f"scanned file not in snapshot {base}")
        rels.append(rel)
    return rels


def _read_file_bytes(spark: SparkSession, full_path: str) -> bytes:
    """DV blobs are KB-scale; read locally when possible, else through
    the Hadoop FS (object stores)."""
    import os

    local = _local_path(full_path)
    if os.path.exists(local):
        with open(local, "rb") as f:
            return f.read()
    return _read_json_bytes(spark, full_path)


def _deleted_positions_df(
    spark: SparkSession, base: str, snap: DeltaSnapshot, dv_files: list[str]
) -> tuple[DataFrame, int]:
    """(file_name, row position) rows for every deleted row in
    ``dv_files``, plus the total cardinality. The driver reads only the
    DV payload BYTES (bounded: KB per file by design — delta compacts a
    file once its DV grows); the bitmap→positions expansion, which can
    be millions of rows, runs on executors via mapInPandas."""
    import pandas as pd

    from lakeapi_spark.sources.dv import read_dv_payload

    blob_cache: dict[str, bytes] = {}

    def _read_rel_or_abs(path: str) -> bytes:
        full = path if path.startswith("/") else f"{base}/{path}"
        if full not in blob_cache:
            blob_cache[full] = _read_file_bytes(spark, full)
        return blob_cache[full]

    rows = []
    total_card = 0
    for rel in dv_files:
        dv = _file_dv(snap, rel)
        payload = read_dv_payload(dv, _read_rel_or_abs)
        card = int(dv.get("cardinality") or 0)
        total_card += card
        rows.append((_norm_path(_add_abs(base, rel)), bytearray(payload), card))

    if total_card <= _DV_LOCAL_DECODE_LIMIT:
        # small DVs (the common case): decode on the driver and ship a
        # LocalTableScan — the anti-join side broadcasts with ZERO
        # exchanges, and the decode subtree can't be duplicated when
        # Catalyst pushes the join through the per-partition union
        from lakeapi_spark.sources.dv import parse_rba as _parse

        pos_rows = [
            (fn, int(p)) for fn, payload, _c in rows for p in _parse(bytes(payload))
        ]
        if not pos_rows:
            return (
                spark.createDataFrame([], "__dv_file string, __dv_pos long"),
                total_card,
            )
        # ship the decoded positions through the Arrow createDataFrame
        # path (guide §6): the pickled-row path serialized each tuple
        # individually — measured ~0.3 s of driver time per read at
        # ~11k deleted rows
        pdf = pd.DataFrame(pos_rows, columns=["__dv_file", "__dv_pos"])
        return (
            spark.createDataFrame(pdf, "__dv_file string, __dv_pos long"),
            total_card,
        )

    src = spark.createDataFrame(
        rows, "__dv_file string, payload binary, cardinality long"
    )

    # executors don't have lakeapi_spark on their import path (the repo
    # is sys.path-injected on the driver, not pip-installed): ship the
    # dv module's functions BY VALUE inside the closure instead of by
    # importable reference
    from pyspark import cloudpickle as _cp

    from lakeapi_spark.sources import dv as _dv_mod

    _cp.register_pickle_by_value(_dv_mod)
    parse_rba = _dv_mod.parse_rba

    def decode(batches):
        for pdf in batches:
            for fn, payload, card in zip(
                pdf["__dv_file"], pdf["payload"], pdf["cardinality"]
            ):
                pos = parse_rba(bytes(payload))
                if card and card != len(pos):
                    raise ValueError(
                        f"DV cardinality mismatch for {fn}: descriptor says "
                        f"{card}, bitmap has {len(pos)}"
                    )
                yield pd.DataFrame(
                    {"__dv_file": fn, "__dv_pos": pd.Series(pos, dtype="int64")}
                )

    out = src.repartition(max(1, min(len(rows), 64))).mapInPandas(
        decode, "__dv_file string, __dv_pos long"
    )
    return out, total_card


def _files_to_df(
    spark: SparkSession,
    base: str,
    snap: DeltaSnapshot,
    files: dict[str, dict[str, str]],
    file_col: str | None = None,
    pos_col: str | None = None,
) -> DataFrame:
    """Turn a subset of a snapshot's add-files into a DataFrame with the
    snapshot's LOGICAL schema. Data columns come from the parquet files
    with the log-declared schema enforced; partition columns come from
    the LOG (injected per distinct partition tuple), which is the
    protocol's source of truth — directory names are only a convention.
    ``file_col``/``pos_col`` optionally append each row's absolute
    scanned path / in-file row index (``_metadata``) — the per-row
    provenance merge_delta and delete_delta use.

    Column mapping ("name"/"id" — reference parity: the reference reads
    mapped tables, tests/test_colmap.py): files + partition values +
    stats are keyed by PHYSICAL names; read physically, then rename
    every nesting level back to logical.

    DELETION VECTORS: files whose add action carries a
    ``deletionVector`` descriptor get their deleted row positions
    anti-joined away on (scheme-normalized file path,
    ``_metadata.row_index``). DV-free
    tables take this path with ZERO overhead (no metadata columns, no
    join); when DVs exist the deleted side is broadcast below
    ``_DV_BROADCAST_LIMIT`` total cardinality, so the "join" is a
    map-side bloom-like probe, not a shuffle."""
    pcols = snap.partition_columns
    phys = {f.name: _physical_name(f) for f in snap.schema.fields}
    data_fields = [f for f in snap.schema.fields if f.name not in pcols]
    data_schema = T.StructType(
        [
            T.StructField(phys[f.name], _physical_type(f.dataType), f.nullable)
            for f in data_fields
        ]
    )
    ptypes = {f.name: f.dataType for f in snap.schema.fields if f.name in pcols}
    # back to logical names and types; a column whose physical form is its
    # logical one is read as is (each cast or alias costs py4j round trips)
    logical_cols = []
    for f in data_fields:
        c = F.col(phys[f.name])
        if _physical_type(f.dataType) != f.dataType:
            c = c.cast(f.dataType)
        logical_cols.append(c.alias(f.name) if phys[f.name] != f.name else c)

    dv_files = [p for p in files if _file_dv(snap, p)]
    extra_cols = ([file_col] if file_col else []) + ([pos_col] if pos_col else [])
    out_cols = [f.name for f in snap.schema.fields] + extra_cols
    scan_cols = out_cols + (
        ["__dv_file", "__dv_pos"] if dv_files else []
    )

    if not files:
        schema = T.StructType(
            list(snap.schema.fields)
            + ([T.StructField(file_col, T.StringType())] if file_col else [])
            + ([T.StructField(pos_col, T.LongType())] if pos_col else [])
        )
        return spark.createDataFrame([], schema)

    groups: dict[tuple, list[str]] = {}
    for path, pvals in files.items():
        key = tuple(pvals.get(phys[c]) for c in pcols)
        groups.setdefault(key, []).append(_add_abs(base, path))

    parts = []
    for key, paths in sorted(groups.items(), key=lambda kv: tuple(str(k) for k in kv[0])):
        df = spark.read.schema(data_schema).parquet(*paths)
        meta_cols = []
        if file_col:
            meta_cols.append(F.col("_metadata.file_path").alias(file_col))
        if pos_col:
            meta_cols.append(F.col("_metadata.row_index").alias(pos_col))
        if dv_files:
            meta_cols.append(_file_path_raw_col().alias("__dv_file"))
            meta_cols.append(F.col("_metadata.row_index").alias("__dv_pos"))
        renamed = df.select(*logical_cols, *meta_cols)
        for c, v in zip(pcols, key):
            renamed = renamed.withColumn(c, _partition_lit(v, ptypes[c]))
        # partition columns were appended last; anything else already
        # stands in scan order (logical fields, then provenance and DV)
        parts.append(renamed.select(scan_cols) if pcols else renamed)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if dv_files:
        deleted, total_card = _deleted_positions_df(spark, base, snap, dv_files)
        if total_card <= _DV_BROADCAST_LIMIT:
            deleted = F.broadcast(deleted)
        out = out.join(deleted, ["__dv_file", "__dv_pos"], "left_anti").select(out_cols)
    return out


def read_delta_fallback(
    spark: SparkSession,
    uri: str,
    version_as_of: int | None = None,
    predicates: list[tuple] | None = None,
) -> DataFrame:
    """Snapshot -> DataFrame (see :func:`_files_to_df` for the scan
    shape and column-mapping handling).

    ``predicates`` = [(col, lo, hi)] closed ranges (None = unbounded)
    enables FILE SKIPPING from the log: per-file min/max stats for data
    columns, and the log-declared ``partitionValues`` for partition
    columns (typed through the table schema — "10" prunes as the
    NUMBER 10 when the column is numeric, never lexically). A file is
    dropped only when it PROVABLY misses the box. This bounds IO only —
    callers still apply the exact filter (Catalyst pushes it into the
    surviving scans). Statless files and un-coercible values are
    conservatively kept, so predicates never change results, just
    cost."""
    return read_snapshot(spark, uri, delta_snapshot(spark, uri, version_as_of), predicates)


def read_snapshot(
    spark: SparkSession, uri: str, snap: DeltaSnapshot, predicates: list[tuple] | None = None
) -> DataFrame:
    """The live files of ``snap`` that may meet ``predicates`` (see
    :func:`read_delta_fallback`), read; no log listing. The registry
    prunes its memoized snapshot with it for a predicated request."""
    files = snap.files
    if predicates:
        phys = {f.name: _physical_name(f) for f in snap.schema.fields}
        phys_predicates = [(phys.get(c, c), lo, hi) for c, lo, hi in predicates]
        ptypes = {_physical_name(f): f.dataType for f in snap.schema.fields}
        files = {
            p: pv
            for p, pv in files.items()
            if _stats_overlap(snap.stats.get(p), phys_predicates)
            and _partition_overlap(pv, phys_predicates, ptypes)
        }
    return _files_to_df(spark, uri.rstrip("/"), snap, files)


def delta_timestamp_version(spark: SparkSession, uri: str, ts_ms: int) -> int:
    """Resolve ``timestampAsOf`` to a version: the LATEST version whose
    commit timestamp is <= the requested time — delta's documented
    timestamp time-travel rule. Commit timestamps are the log files'
    modification times, which is delta's own DEFAULT source (the
    in-commit-timestamps table feature is the opt-in exception), made
    monotonic the same way delta adjusts them: a commit whose mtime is
    not strictly after its predecessor's reads as predecessor + 1 ms.
    Driver-side metadata-only work: one log listing, no file reads."""
    from lakeapi_spark.sources.fs import list_children

    log_dir = f"{uri.rstrip('/')}/_delta_log"
    commits: dict[int, int] = {}
    for path, is_dir, mtime in list_children(spark, log_dir):
        name = path.rsplit("/", 1)[-1]
        stem = name[:-5]
        if not is_dir and name.endswith(".json") and stem.isdigit():
            commits[int(stem)] = mtime
    if not commits:
        raise FileNotFoundError(f"no delta commits under {log_dir}")
    chosen = None
    prev_ts = -1
    for v in sorted(commits):
        ts = max(commits[v], prev_ts + 1)  # monotonic adjustment
        prev_ts = ts
        if ts <= ts_ms:
            chosen = v
    if chosen is None:
        raise ValueError(
            f"timestampAsOf {ts_ms} predates the first commit of {uri} "
            f"(earliest commit timestamp {min(commits.values())})"
        )
    return chosen


def _to_ts_ms(value) -> int:
    """timestampAsOf accepts epoch ms (int), a datetime, or an ISO
    'YYYY-MM-DD[ HH:MM:SS]' string (delta-spark's option format)."""
    import datetime as dt

    if isinstance(value, (int, float)):
        return int(value)
    if isinstance(value, dt.datetime):
        if value.tzinfo is None:
            # naive datetimes mean UTC here, matching both the ISO
            # string branch below and the session timezone (session.py
            # pins spark.sql.session.timeZone=UTC) — host-local-zone
            # interpretation would resolve the same wall-clock to a
            # different version per machine
            value = value.replace(tzinfo=dt.timezone.utc)
        return int(value.timestamp() * 1000)
    s = str(value).strip()
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            parsed = dt.datetime.strptime(s, fmt).replace(tzinfo=dt.timezone.utc)
            return int(parsed.timestamp() * 1000)
        except ValueError:
            continue
    raise ValueError(f"cannot parse timestampAsOf value {value!r}")


def read_delta(
    spark: SparkSession, uri: str, options: dict[str, str] | None = None
) -> DataFrame:
    """delta-spark when available; protocol-log fallback otherwise.
    Honors the reader options ``versionAsOf`` and ``timestampAsOf`` on
    both paths. Log-stats file skipping is :func:`read_snapshot` over the
    snapshot :func:`delta_scan` returns (or :func:`read_delta_fallback`);
    delta-spark does its own skipping."""
    return delta_scan(spark, uri, options)[0]


def delta_scan(
    spark: SparkSession, uri: str, options: dict[str, str] | None = None
) -> tuple[DataFrame, DeltaSnapshot | None]:
    """:func:`read_delta` and, on the fallback, the snapshot whose every
    live file it read; None under delta-spark. What a whole-table scan
    holds, so a predicated read of the same version prunes that snapshot
    with no second log listing."""
    opts = dict(options or {})
    try:
        import delta  # noqa: F401 - presence check only

        return spark.read.options(**opts).format("delta").load(uri), None
    except ImportError:
        version = opts.pop("versionAsOf", None)
        ts = opts.pop("timestampAsOf", None)
        if version is not None and ts is not None:
            raise ValueError("versionAsOf and timestampAsOf are mutually exclusive")
        if ts is not None:
            version = delta_timestamp_version(spark, uri, _to_ts_ms(ts))
        snap = delta_snapshot(spark, uri, int(version) if version is not None else None)
        return read_snapshot(spark, uri, snap), snap


def _coerce_stat_value(value, dtype: T.DataType | None):
    """Coerce a raw request-param value into the representation the
    LOG STATS use for its column, or None when no sound comparison
    exists. Raw params arrive untyped (an HTTP '5' against a bigint
    column), and stats store numbers as numbers but dates/timestamps
    as isoformat STRINGS ('2024-01-02T00:00:00') — comparing a
    "2024-01-02 00:00:00" filter literal lexically against that would
    wrongly prune (space < 'T'), so values are normalized per the
    TABLE type; anything un-coercible just opts out of skipping."""
    import datetime as dt

    if value is None or isinstance(value, bool):
        return None
    if dtype is None:
        # no schema: only same-representation scalars are sound
        return value if isinstance(value, (int, float, str)) else None
    if isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        try:
            return int(value)
        except (TypeError, ValueError):
            return None
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        try:
            return float(value)
        except (TypeError, ValueError):
            return None
    if isinstance(dtype, T.StringType):
        return value if isinstance(value, str) else None
    if isinstance(dtype, T.DateType):
        # date stats are plain 'YYYY-MM-DD'; a 'YYYY-MM-DDT00:00:00'
        # literal would lexically exceed them and wrongly prune the
        # boundary date — truncate to the date part (conservative:
        # keeps any file whose date range touches the literal's date)
        if isinstance(value, dt.datetime):
            return value.date().isoformat()
        if isinstance(value, dt.date):
            return value.isoformat()
        if isinstance(value, str):
            return value.strip().replace(" ", "T").split("T", 1)[0]
        return None
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # timestamp stats isoformat to '...T00:00:00' even at midnight;
        # pad date-only literals so midnight equality doesn't lexically
        # under-shoot the stats and wrongly prune the boundary file
        if isinstance(value, dt.datetime):
            return value.isoformat()
        if isinstance(value, dt.date):
            return value.isoformat() + "T00:00:00"
        if isinstance(value, str):
            v = value.strip().replace(" ", "T")
            return v if "T" in v else v + "T00:00:00"
        return None
    return None


def predicates_from_filters(
    filters: list[tuple], schema: T.StructType | None = None
) -> list[tuple]:
    """Fold request filters (``(col, op, value)``, AND semantics) into
    the closed-range boxes the log-stats skipper consumes. Only
    range-expressible ops whose values coerce soundly to the stats
    representation contribute (see :func:`_coerce_stat_value`) —
    anything else is simply not a skipping opportunity (the exact
    filter still applies in the plan; skipping only bounds IO, so
    being conservative is always correct). ``>``/``<`` fold to their
    closed neighbors — a file whose max equals the open bound is kept
    and filtered row-wise."""
    types = {f.name: f.dataType for f in schema.fields} if schema else {}
    out: list[tuple] = []
    for col, op, value in filters:
        dtype = types.get(col)
        if op == "startswith":
            if isinstance(value, str) and value and (
                dtype is None or isinstance(dtype, T.StringType)
            ):
                # prefix p ⇒ p <= col < p + <max codepoint>; safe even
                # against delta's truncated string stats (truncation
                # under-states mins and over-states maxs, which only
                # makes the overlap check MORE conservative)
                out.append((col, value, value + "\U0010ffff"))
            continue
        if op == "between":
            if isinstance(value, (list, tuple)) and len(value) == 2:
                lo = _coerce_stat_value(value[0], dtype)
                hi = _coerce_stat_value(value[1], dtype)
                if lo is not None and hi is not None:
                    out.append((col, lo, hi))
            continue
        v = _coerce_stat_value(value, dtype)
        if v is None:
            continue
        if op in ("=", "=="):
            out.append((col, v, v))
        elif op in (">", ">="):
            out.append((col, v, None))
        elif op in ("<", "<="):
            out.append((col, None, v))
    return out


def _file_stats_json(path: str) -> str | None:
    """delta-spec ``add.stats`` JSON (numRecords/minValues/maxValues/
    nullCount) from the parquet footer — the metadata data skipping and
    the BM25 index refresh run on. Only top-level scalar columns with
    usable footer statistics are recorded; absence is always legal
    (readers must keep statless files)."""
    import pyarrow.parquet as papq

    try:
        md = papq.ParquetFile(path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    bad: set = set()  # columns with any unusable row-group stats
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaf
            st = col.statistics
            if nulls.get(name, 0) is not None:
                known = st is not None and st.has_null_count
                nulls[name] = nulls.get(name, 0) + st.null_count if known else None
            if name in bad:
                continue  # already disqualified
            if st is None or not st.has_min_max:
                if name in mins or name in maxs:
                    # a later statless row group makes earlier file
                    # extremes understatements — disqualify
                    bad.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                else:
                    bad.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    bad.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
            if hasattr(mn, "isoformat"):
                mn, mx = mn.isoformat(), mx.isoformat()
            if isinstance(mn, decimal.Decimal):
                # decimal footer stats land as JSON numbers via
                # CONSERVATIVE float bounds: a float cast can round to
                # either side, so the recorded min widens DOWN and the
                # max UP one ulp when the cast overstated them —
                # skipping stays sound (never prunes a boundary row),
                # exactness stays in the data
                fm, fx = float(mn), float(mx)
                if decimal.Decimal(fm) > mn:
                    fm = math.nextafter(fm, -math.inf)
                if decimal.Decimal(fx) < mx:
                    fx = math.nextafter(fx, math.inf)
                mn, mx = fm, fx
            try:
                inconsistent = mn > mx
            except TypeError:
                # un-comparable stat values are as unusable as absent
                # ones: letting earlier row groups' extremes stand
                # while this group contributes nothing is the same
                # understatement-mispruning class as the statless case
                bad.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            if inconsistent:
                # pyarrow claims has_min_max on huge strings but hands
                # back a TRUNCATED-TO-EMPTY max ('' < min) — recording
                # it would mis-prune files under >= predicates (delta
                # spec: a truncated max must be adjusted UPWARD or
                # omitted). min > max can never be genuine, so
                # disqualify the COLUMN for this file (one bad row
                # group makes the file-level extremes unknowable);
                # skipping degrades, never lies.
                bad.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    nulls = {k: v for k, v in nulls.items() if v is not None}
    return json.dumps(
        {"numRecords": md.num_rows, "minValues": mins, "maxValues": maxs, "nullCount": nulls}
    )


def _partition_overlap(
    pv: dict | None, predicates, types: dict
) -> bool:
    """Partition-column twin of :func:`_stats_overlap`: True unless a
    file's log-declared partition VALUE provably misses the predicate
    box. partitionValues are strings in the log, so both sides coerce
    through the TABLE type (:func:`_coerce_stat_value`) before
    comparing — never lexically for numerics. A NULL partition value
    cannot satisfy a bounded range (the exact filter would drop those
    rows anyway), so bounded predicates skip the file; anything
    un-coercible keeps it (skipping degrades, never mis-prunes)."""
    if not pv:
        return True
    for col, lo, hi in predicates:
        if col not in pv or (lo is None and hi is None):
            continue
        raw = pv[col]
        if raw is None:
            return False  # bounded range, NULL partition value
        dtype = types.get(col)
        v = _coerce_stat_value(raw, dtype)
        if v is None:
            continue
        lo_c = _coerce_stat_value(lo, dtype) if lo is not None else None
        hi_c = _coerce_stat_value(hi, dtype) if hi is not None else None
        try:
            if lo_c is not None and v < lo_c:
                return False
            if hi_c is not None and v > hi_c:
                return False
        except TypeError:
            continue
    return True


def _stats_overlap(stats: dict | None, predicates) -> bool:
    """True unless the file's [min,max] PROVABLY excludes the predicate
    box — missing stats/columns keep the file (conservative). An
    incomparable stat/value pair (foreign stats with an unexpected
    representation) also keeps the file: a TypeError must degrade to
    'no skipping', never to a failed read or a wrong prune."""
    if not stats:
        return True
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    for col, lo, hi in predicates:
        try:
            if lo is not None and col in maxs and maxs[col] < lo:
                return False
            if hi is not None and col in mins and mins[col] > hi:
                return False
        except TypeError:
            continue
    return True


def _local_path(uri: str) -> str:
    if uri.startswith("file:"):
        import re as _re

        return _re.sub(r"^file:/{0,2}(?=/)", "", uri)
    return uri


def _physical_projection(df: DataFrame, fields: list[T.StructField]) -> DataFrame:
    """Rename/cast a LOGICAL-named DataFrame into the table's PHYSICAL
    layout at every nesting level (column mapping): top-level columns
    by alias, nested struct fields via a cast to the physical type —
    struct casts are positional, so same-shape renames are lossless.
    Only df's own columns are projected (a df may legally omit table
    columns; they read back null)."""
    by_name = {f.name: f for f in fields}
    return df.select(
        *[
            F.col(name)
            .cast(_physical_type(by_name[name].dataType))
            .alias(_physical_name(by_name[name]))
            for name in df.columns
        ]
    )


def _stage_snapshot_files(
    new_data: DataFrame, base: str, snap: DeltaSnapshot, collect_stats: bool
) -> list[dict]:
    """Stage rewrite data in the SNAPSHOT's layout: physical column
    names and physically-named partition directories under column
    mapping (add.partitionValues are keyed by physical names per the
    protocol), identity otherwise."""
    if snap.column_mapping_mode == "none":
        return _stage_data_files(
            new_data, base, snap.partition_columns, collect_stats
        )
    phys = {f.name: _physical_name(f) for f in snap.schema.fields}
    return _stage_data_files(
        _physical_projection(new_data, snap.schema.fields),
        base,
        [phys[c] for c in snap.partition_columns],
        collect_stats,
    )


def _cdf_enabled(snap: DeltaSnapshot) -> bool:
    cfg = snap.metadata_raw.get("configuration") or {}
    return str(cfg.get("delta.enableChangeDataFeed", "")).lower() == "true"


def _stage_cdc_files(
    cdc_df: DataFrame, base: str, snap: DeltaSnapshot
) -> list[dict]:
    """Stage CHANGE-DATA files (table columns + ``_change_type``) under
    ``_change_data/`` in the table's physical layout and return the
    protocol ``cdc`` actions for the commit (``dataChange: false`` —
    CDF readers consume cdc actions INSTEAD of the version's add/remove
    files when present). Same partition-directory convention as data
    files; on column-mapped tables the cdc files are physically named
    like any data file."""
    import os

    if snap.column_mapping_mode != "none":
        fields = list(snap.schema.fields) + [
            T.StructField("_change_type", T.StringType())
        ]
        cdc_df = _physical_projection(cdc_df, fields)
        phys = {f.name: _physical_name(f) for f in snap.schema.fields}
        pcols = [phys[c] for c in snap.partition_columns]
    else:
        pcols = list(snap.partition_columns)
    sub = f"{base}/_change_data"
    os.makedirs(sub, exist_ok=True)
    staged = _stage_data_files(cdc_df, sub, pcols, collect_stats=False)
    return [
        {
            "cdc": {
                "path": f"_change_data/{a['add']['path']}",
                "partitionValues": a["add"]["partitionValues"],
                "size": a["add"]["size"],
                "dataChange": False,
            }
        }
        for a in staged
    ]


def _commit_cdc_actions(spark: SparkSession, base: str, version: int) -> list[dict]:
    """The ``cdc`` actions of one commit's JSON (empty when the commit
    file genuinely does not exist). cdc actions are per-commit change
    metadata — never part of the reconciled snapshot or a checkpoint.
    Only a MISSING file maps to []; transient read errors propagate —
    vacuum consumes this to build its referenced set, and failing open
    there would delete live change files."""
    log = f"{base}/_delta_log/{version:020d}.json"
    try:
        raw = _read_json_bytes(spark, log)
    except FileNotFoundError:
        return []
    except Exception as exc:  # Hadoop FS wraps misses differently
        if "FileNotFound" in type(exc).__name__ or "does not exist" in str(exc):
            return []
        raise
    out: list[dict] = []
    for line in raw.splitlines():
        if not line.strip():
            continue
        action = json.loads(line)
        if "cdc" in action:
            out.append(action["cdc"])
    return out


def _read_cdc_files(
    spark: SparkSession, base: str, snap: DeltaSnapshot, cdc_actions: list[dict]
) -> DataFrame:
    """cdc parquet -> DataFrame with the snapshot's LOGICAL schema plus
    ``_change_type`` (partition values injected from the actions,
    physical names renamed back — the same conventions as
    :func:`_files_to_df`, minus deletion vectors, which never apply to
    change files)."""
    pcols = snap.partition_columns
    phys = {f.name: _physical_name(f) for f in snap.schema.fields}
    data_fields = [f for f in snap.schema.fields if f.name not in pcols]
    schema = T.StructType(
        [
            T.StructField(phys[f.name], _physical_type(f.dataType), f.nullable)
            for f in data_fields
        ]
        + [T.StructField("_change_type", T.StringType())]
    )
    ptypes = {f.name: f.dataType for f in snap.schema.fields if f.name in pcols}
    out_cols = [f.name for f in snap.schema.fields] + ["_change_type"]
    groups: dict[tuple, list[str]] = {}
    for act in cdc_actions:
        key = tuple((act.get("partitionValues") or {}).get(phys[c]) for c in pcols)
        groups.setdefault(key, []).append(f"{base}/{act['path']}")
    parts = []
    for key, paths in sorted(
        groups.items(), key=lambda kv: tuple(str(k) for k in kv[0])
    ):
        df = spark.read.schema(schema).parquet(*paths)
        renamed = df.select(
            *[
                F.col(phys[f.name]).cast(f.dataType).alias(f.name)
                for f in data_fields
            ],
            "_change_type",
        )
        for c, v in zip(pcols, key):
            renamed = renamed.withColumn(c, _partition_lit(v, ptypes[c]))
        parts.append(renamed.select(out_cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _max_mapping_id(schema: T.StructType, metadata_raw: dict | None = None) -> int:
    """Highest ``delta.columnMapping.id`` across every nesting level,
    folded with the table's ``delta.columnMapping.maxColumnId``
    configuration — the watermark new column assignments count from."""
    def walk(dt) -> list[int]:
        ids: list[int] = []
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                v = (f.metadata or {}).get("delta.columnMapping.id")
                if v is not None:
                    ids.append(int(v))
                ids.extend(walk(f.dataType))
        elif isinstance(dt, T.ArrayType):
            ids.extend(walk(dt.elementType))
        elif isinstance(dt, T.MapType):
            ids.extend(walk(dt.keyType))
            ids.extend(walk(dt.valueType))
        return ids

    ids = walk(schema)
    cfg = ((metadata_raw or {}).get("configuration") or {}).get(
        "delta.columnMapping.maxColumnId"
    )
    if cfg is not None:
        ids.append(int(cfg))
    return max(ids, default=0)


def _with_mapping_metadata(field: T.StructField, alloc) -> T.StructField:
    """A copy of ``field`` carrying fresh column-mapping assignments
    (``delta.columnMapping.id`` from ``alloc()``, a uuid physicalName —
    delta-spark's own convention) at EVERY nesting level, so a new
    column added to a column-mapped table is written and read
    physically like any original column."""
    import uuid as _uuid

    dt = field.dataType
    if isinstance(dt, T.StructType):
        dt = T.StructType([_with_mapping_metadata(f, alloc) for f in dt.fields])
    elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
        dt = T.ArrayType(
            T.StructType(
                [_with_mapping_metadata(f, alloc) for f in dt.elementType.fields]
            ),
            dt.containsNull,
        )
    md = dict(field.metadata or {})
    md["delta.columnMapping.id"] = alloc()
    md["delta.columnMapping.physicalName"] = f"col-{_uuid.uuid4()}"
    return T.StructField(field.name, dt, field.nullable, md)


def _stage_data_files(
    df: DataFrame, base: str, pcols: list[str], collect_stats: bool
) -> list[dict]:
    """Distributed data write into a staging dir, then move the parquet
    files into place; returns the protocol ``add`` actions (path +
    partitionValues + size + footer stats). Files staged here are only
    referenced once a commit lands — a failed/raced commit leaves them
    as unreferenced orphans, the same semantics delta itself has
    (VACUUM cleans them)."""
    import os
    import shutil
    import urllib.parse
    import uuid

    if _URI_SCHEME.match(base):
        # uphold-or-refuse: staging walks/moves/stats data files with
        # POSIX primitives — refusing beats littering a literal
        # "s3a:..." directory on the driver's local disk and failing
        # somewhere obscure. Object-store writes go through delta-spark
        # (the gated integration path).
        raise NotImplementedError(
            f"fallback delta writer stages data files with POSIX "
            f"primitives; {base!r} carries a URI scheme — use delta-spark "
            f"for object-store tables"
        )
    staging = f"{base}/.staging-{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(staging)
    adds: list[dict] = []
    for root, _dirs, files in os.walk(staging):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            rel_dir = os.path.relpath(root, staging)
            pvals: dict[str, str | None] = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    k, _, v = seg.partition("=")
                    pvals[k] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else urllib.parse.unquote(v)
                    )
                os.makedirs(f"{base}/{rel_dir}", exist_ok=True)
            rel = name if rel_dir == "." else f"{rel_dir}/{name}"
            os.replace(src, f"{base}/{rel}")
            add = {
                "path": rel,
                "partitionValues": {c: pvals.get(c) for c in pcols},
                "size": os.path.getsize(f"{base}/{rel}"),
                "modificationTime": 0,
                "dataChange": True,
            }
            if collect_stats:
                stats = _file_stats_json(f"{base}/{rel}")
                if stats:
                    add["stats"] = stats
            adds.append({"add": add})
    shutil.rmtree(staging, ignore_errors=True)
    return adds


#: writer features this writer upholds. The protocol's rule for
#: writerVersion-7 tables: a writer must implement EVERY feature the
#: table declares or refuse to write. "Upholds" here means either
#: implemented outright (columnMapping, deletionVectors) or honored by
#: refusal at use-time (a table that declares invariants is writable
#: until an actual invariant appears in its schema — then we refuse).
_WRITER_FEATURES_UPHELD = {
    "appendOnly",        # non-append operations refused below
    "columnMapping",     # physical-layout staging throughout
    "deletionVectors",   # merge-on-read deletes + DV-aware rewrites
    "timestampNtz",      # plain type support
    "invariants",        # ENFORCED: see _enforce_row_rules
    "checkConstraints",  # ENFORCED: see _enforce_row_rules
    "changeDataFeed",    # appends fine; row-changing ops refused below
    "generatedColumns",  # COMPUTED/VALIDATED: top-level only, see
                         # _generated_fields + _enforce_row_rules
    "identityColumns",   # GENERATED on append (watermark-bumping
                         # commit); explicit writes gated by
                         # allowExplicitInsert — see _identity_fields
}


def _walk_field_metadata(dt: T.DataType):
    """Yield the metadata dict of every field at every nesting level."""
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            yield f.metadata or {}
            yield from _walk_field_metadata(f.dataType)
    elif isinstance(dt, T.ArrayType):
        yield from _walk_field_metadata(dt.elementType)
    elif isinstance(dt, T.MapType):
        yield from _walk_field_metadata(dt.keyType)
        yield from _walk_field_metadata(dt.valueType)


def _gate_write(snap: DeltaSnapshot, operation: str) -> None:
    """PROTOCOL WRITER GATE — a delta writer must refuse tables whose
    declared writer features it cannot uphold, or it corrupts other
    writers' invariants silently (the spec's hard rule). Called by
    every data-changing entry point with ``operation`` in {append,
    overwrite, merge, update, delete, restore, optimize}.

    - unknown ``writerFeatures`` (writerVersion 7+) or a writer version
      beyond 7 → typed refusal naming what's missing;
    - ``delta.appendOnly=true`` → only appends and dataChange=false
      maintenance (OPTIMIZE) proceed;
    - CHECK constraints / column invariants are NOT gated here — they
      are ENFORCED row-by-row at write time (:func:`_enforce_row_rules`,
      the alternative to refusal the protocol allows);
    - generated or identity columns actually PRESENT → refusal (this
      writer does not compute generation expressions or allocate
      identity values).

    ``delta.enableChangeDataFeed=true`` needs no refusal: merge /
    update / delete emit ``_change_data`` files (:func:`_stage_cdc_files`),
    and versions without cdc actions (appends, overwrite, restore) are
    derived by CDF readers from their dataChange add/remove files, per
    the spec."""
    proto = snap.protocol
    mwv = int(proto.get("minWriterVersion", 2) or 2)
    if mwv > 7:
        raise NotImplementedError(
            f"table requires minWriterVersion {mwv}; this writer implements "
            "up to 7 (table features)"
        )
    if mwv == 7:
        unknown = set(proto.get("writerFeatures") or []) - _WRITER_FEATURES_UPHELD
        if unknown:
            raise NotImplementedError(
                f"table declares writer features this writer cannot uphold: "
                f"{sorted(unknown)} — refusing per protocol"
            )
    cfg = snap.metadata_raw.get("configuration") or {}
    changes_rows = operation in ("overwrite", "merge", "update", "delete", "restore")
    if str(cfg.get("delta.appendOnly", "")).lower() == "true" and changes_rows:
        raise ValueError(
            f"delta.appendOnly=true forbids {operation} (only appends and "
            "dataChange=false maintenance are allowed)"
        )
    # CHECK constraints, column invariants, TOP-LEVEL generated columns
    # and TOP-LEVEL identity columns are ENFORCED/COMPUTED, not
    # refused: data-changing paths run _enforce_row_rules over the rows
    # they are about to write; write_delta computes absent generated
    # columns and ALLOCATES absent identity values (bumping the high
    # water mark atomically with the adds). NESTED generated/identity
    # fields stay uphold-or-refuse.
    for f in snap.schema.fields:
        for md in _walk_field_metadata(f.dataType):
            if "delta.generationExpression" in md:
                raise NotImplementedError(
                    f"column {f.name!r} carries a NESTED generated field; "
                    "this writer computes top-level generated columns only "
                    "— refusing per protocol"
                )
            if any(str(k).startswith("delta.identity.") for k in md):
                raise NotImplementedError(
                    f"column {f.name!r} carries a NESTED identity field; "
                    "this writer allocates top-level identity values only "
                    "— refusing per protocol"
                )


class DeltaConstraintViolation(ValueError):
    """A data-changing write produced rows violating the table's CHECK
    constraints or column invariants; the commit was aborted."""


def _generated_fields(schema: T.StructType) -> dict[str, str]:
    """Top-level column -> generation expression, from
    ``delta.generationExpression`` field metadata."""
    return {
        f.name: str((f.metadata or {})["delta.generationExpression"])
        for f in schema.fields
        if "delta.generationExpression" in (f.metadata or {})
    }


def _identity_fields(schema: T.StructType) -> dict[str, dict]:
    """Top-level identity columns: name -> {start, step, high (current
    high water mark, None before the first allocation), allow_explicit}
    from the ``delta.identity.*`` field-metadata keys."""
    out: dict[str, dict] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if not any(str(k).startswith("delta.identity.") for k in md):
            continue
        step = int(md.get("delta.identity.step", 1) or 1)
        if step == 0:
            raise ValueError(f"identity column {f.name!r} has step 0")
        high = md.get("delta.identity.highWaterMark")
        out[f.name] = {
            "start": int(md.get("delta.identity.start", 1) or 1),
            "step": step,
            "high": None if high is None else int(high),
            "allow_explicit": str(
                md.get("delta.identity.allowExplicitInsert", "false")
            ).lower()
            == "true",
        }
    return out


def _allocate_identity(
    df: DataFrame, name: str, spec: dict, dtype: T.DataType
) -> tuple[DataFrame, int]:
    """Allocate identity values ``base + k*step`` for every row of the
    incoming batch with a DENSE global index built the scale-correct
    way: one bounded count-per-partition job (rows collected = number
    of partitions), broadcast offsets, then a self-contained
    mapInPandas kernel numbers rows partition-locally. The df is
    persisted across the two jobs so partitioning cannot shift between
    the count and the assignment. Returns (df_with_column,
    new_high_water_mark_or_None, cache_handle_to_unpersist_after_
    staging)."""
    step = spec["step"]
    base = (
        spec["start"] if spec["high"] is None else spec["high"] + step
    )
    pinned = df.persist()
    counts = (
        pinned.groupBy(F.spark_partition_id().alias("__pid"))
        .count()
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets[int(r["__pid"])] = acc
        acc += int(r["count"])
    if acc == 0:  # nothing to allocate, watermark unchanged
        return (
            pinned.withColumn(name, F.lit(None).cast(dtype)),
            spec["high"],
            pinned,
        )
    new_high = base + (acc - 1) * step
    cols = df.columns

    def kernel(batches):
        local = 0
        off = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if off is None:
                off = offsets[int(pdf["__pid"].iloc[0])]
            idx = off + local
            local += len(pdf)
            vals = [base + (idx + i) * step for i in range(len(pdf))]
            yield pdf.drop(columns=["__pid"]).assign(**{name: vals})

    schema_out = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{name}` {dtype.simpleString()}"]
    )
    with_pid = pinned.withColumn("__pid", F.spark_partition_id())
    allocated = with_pid.mapInPandas(kernel, schema=schema_out).select(
        *cols, name
    )
    return allocated, new_high, pinned


def _schema_with_identity_high(
    schema: T.StructType, updates: dict[str, int]
) -> T.StructType:
    """Copy of ``schema`` with ``delta.identity.highWaterMark`` field
    metadata replaced per ``updates``."""
    fields = []
    for f in schema.fields:
        if f.name in updates:
            md = dict(f.metadata or {})
            md["delta.identity.highWaterMark"] = int(updates[f.name])
            f = T.StructField(f.name, f.dataType, f.nullable, md)
        fields.append(f)
    return T.StructType(fields)


def _row_rules(
    schema: T.StructType, configuration: dict | None
) -> list[tuple[str, str]]:
    """(label, SQL expression) for every row-level rule the table
    declares: CHECK constraints from ``delta.constraints.<name>`` table
    properties, column invariants from ``delta.invariants`` field
    metadata (the legacy JSON ``{"expression": {"expression": ...}}``
    wrapper, protocol §Column-Invariants). Expressions reference
    LOGICAL column names — callers evaluate them on logical rows before
    any physical (column-mapped) staging."""
    import json as _json

    rules: list[tuple[str, str]] = []
    for k, v in sorted((configuration or {}).items()):
        if k.startswith("delta.constraints.") and str(v).strip():
            rules.append((f"CHECK {k[len('delta.constraints.'):]}", str(v)))
    for f in schema.fields:
        inv = (f.metadata or {}).get("delta.invariants")
        if inv:
            try:
                expr = _json.loads(inv)["expression"]["expression"]
            except (ValueError, KeyError, TypeError) as e:
                raise ValueError(
                    f"unparseable delta.invariants metadata on column "
                    f"{f.name!r}: {inv!r}"
                ) from e
            rules.append((f"INVARIANT {f.name}", str(expr)))
        # NESTED invariants stay uphold-or-refuse: their expressions
        # address struct paths this enforcement does not evaluate yet
        for md in _walk_field_metadata(f.dataType):
            if "delta.invariants" in md:
                raise NotImplementedError(
                    f"column {f.name!r} carries a NESTED field invariant; "
                    "this writer enforces top-level invariants only — "
                    "refusing per protocol"
                )
    # generated columns: a PROVIDED value must null-safe-equal its
    # generation expression (delta's rule for explicit writes to
    # generated columns); write_delta computes absent ones upstream
    for name, gexpr in _generated_fields(schema).items():
        rules.append((f"GENERATED {name}", f"`{name}` <=> ({gexpr})"))
    return rules


def _enforce_row_rules(
    df: DataFrame,
    schema: T.StructType,
    configuration: dict | None,
    operation: str,
) -> None:
    """Row-level write-time enforcement (the protocol's alternative to
    refusing constrained tables): every rule expression must evaluate
    to TRUE for every row about to be written — per the protocol a
    NULL result is a violation too, unlike the SQL-standard CHECK.
    One aggregate job counts violations for ALL rules in a single pass
    over the candidate rows (touched-scope only on merge/update — rows
    carried over unchanged satisfy the rules by induction); zero cost
    when the table declares no rules. Columns the incoming relation
    omits (merge_schema appends) evaluate as NULL, exactly how those
    rows will read back."""
    rules = _row_rules(schema, configuration)
    if not rules:
        return
    eval_df = df
    have = set(df.columns)
    for f in schema.fields:
        if f.name not in have:
            eval_df = eval_df.withColumn(f.name, F.lit(None).cast(f.dataType))
    counts = eval_df.agg(
        *[
            F.count(
                F.when(~F.expr(expr).eqNullSafe(F.lit(True)), F.lit(1))
            ).alias(f"_r{i}")
            for i, (_, expr) in enumerate(rules)
        ]
    ).collect()[0]
    violated = [
        f"{label} ({expr!r}): {int(counts[i])} row(s)"
        for i, (label, expr) in enumerate(rules)
        if int(counts[i]) > 0
    ]
    if violated:
        raise DeltaConstraintViolation(
            f"{operation} aborted — rows violate table rules: "
            + "; ".join(violated)
        )


def add_constraint_delta(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT: validates every EXISTING row
    satisfies ``expr`` (one aggregate scan), then commits a metaData
    action adding ``delta.constraints.<name>`` — and, per the protocol,
    raises the writer requirement (minWriterVersion 3, or the
    ``checkConstraints`` writer feature on feature tables) so
    constraint-unaware writers refuse the table instead of admitting
    violating rows. Returns the committed version."""
    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "append")  # appendOnly tables may still gain rules
    key = f"delta.constraints.{name}"
    cfg = dict(snap.metadata_raw.get("configuration") or {})
    if key in cfg:
        raise ValueError(f"constraint {name!r} already exists: {cfg[key]!r}")
    existing = read_delta_fallback(spark, base)
    _enforce_row_rules(
        existing, snap.schema, {key: expr}, f"ADD CONSTRAINT {name}"
    )
    md = dict(snap.metadata_raw)
    cfg[key] = expr
    md["configuration"] = cfg
    md.setdefault("format", {"provider": "parquet"})
    actions: list[dict] = []
    proto = dict(snap.protocol)
    mwv = int(proto.get("minWriterVersion", 2) or 2)
    if mwv == 7:
        feats = set(proto.get("writerFeatures") or [])
        if "checkConstraints" not in feats:
            proto["writerFeatures"] = sorted(feats | {"checkConstraints"})
            actions.append({"protocol": proto})
    elif mwv < 3:
        proto["minWriterVersion"] = 3
        actions.append({"protocol": proto})
    actions.append({"metaData": md})
    return _commit(spark, base, snap, actions, "ADD CONSTRAINT", read=None)


def drop_constraint_delta(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: removes the table property; the
    protocol requirement stays (downgrades are never safe for readers
    of intermediate versions). Returns the committed version."""
    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    key = f"delta.constraints.{name}"
    cfg = dict(snap.metadata_raw.get("configuration") or {})
    if key not in cfg:
        raise ValueError(f"no constraint named {name!r} on {base}")
    del cfg[key]
    md = dict(snap.metadata_raw)
    md["configuration"] = cfg
    md.setdefault("format", {"provider": "parquet"})
    return _commit(spark, base, snap, [{"metaData": md}], "DROP CONSTRAINT")


def _rules_mentioning(spark: SparkSession, snap: DeltaSnapshot, col: str) -> list[str]:
    """Labels of CHECK constraints / invariants / generation
    expressions that reference ``col`` — the screen rename/drop use
    before changing a schema the expressions compile against. Each rule
    is read by Catalyst's parser; an attribute whose first name part is
    ``col`` (case-insensitively, as Spark resolves names; backticks or
    not) references it."""
    from lakeapi_spark.sql.endpoint import expression_nodes, parse

    def mentions(sql: str) -> bool:
        return any(
            e.nodeName() == "UnresolvedAttribute" and e.nameParts().head().lower() == col.lower()
            for e in expression_nodes(parse(spark, sql, expression=True))
        )

    hits = [
        label
        for label, expr in _row_rules(
            snap.schema, snap.metadata_raw.get("configuration")
        )
        if mentions(expr)
    ]
    hits.extend(
        f"GENERATION {name}"
        for name, gexpr in _generated_fields(snap.schema).items()
        if name == col or mentions(gexpr)
    )
    return hits


def rename_column_delta(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit — the
    flagship column-mapping capability: because data files are keyed by
    physicalName, renaming the logical name touches zero data bytes.
    Requires column mapping mode 'name' (an unmapped table would need a
    full rewrite — refused, same as delta-spark); refuses when any
    CHECK constraint / invariant / generation expression mentions the
    column (the stored SQL would silently break). Updates
    partitionColumns when the renamed column is one. Time travel keeps
    the old name at old versions (each version reads its own
    schemaString). Returns the committed version."""
    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "append")
    if snap.column_mapping_mode == "none":
        raise NotImplementedError(
            "RENAME COLUMN requires column mapping mode 'name' (an unmapped "
            "rename would have to rewrite every data file); create the table "
            "with write_delta_column_mapped"
        )
    names = [f.name for f in snap.schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} in schema {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists in {names}")
    broken = _rules_mentioning(spark, snap, old)
    if broken:
        raise ValueError(
            f"cannot rename {old!r}: referenced by {broken} — drop/recreate "
            "those rules first"
        )
    fields = [
        T.StructField(new, f.dataType, f.nullable, f.metadata)
        if f.name == old
        else f
        for f in snap.schema.fields
    ]
    md = dict(snap.metadata_raw)
    md["schemaString"] = T.StructType(fields).json()
    md["partitionColumns"] = [
        new if c == old else c for c in (md.get("partitionColumns") or [])
    ]
    md.setdefault("format", {"provider": "parquet"})
    return _commit(spark, base, snap, [{"metaData": md}], "RENAME COLUMN")


def drop_column_delta(spark: SparkSession, path: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit (column
    mapping required): the field leaves the logical schema; its
    physical column stays in the data files but no reader projects it,
    and a later merge_schema append reusing the LOGICAL name allocates
    a FRESH physicalName — dropped data can never resurrect. Refuses
    partition columns and columns referenced by constraints /
    invariants / generation expressions. Returns the committed
    version."""
    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "append")
    if snap.column_mapping_mode == "none":
        raise NotImplementedError(
            "DROP COLUMN requires column mapping mode 'name' (an unmapped "
            "drop would have to rewrite every data file)"
        )
    names = [f.name for f in snap.schema.fields]
    if col not in names:
        raise ValueError(f"no column {col!r} in schema {names}")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    if col in (snap.partition_columns or []):
        raise ValueError(
            f"cannot drop partition column {col!r} (the layout is keyed on it)"
        )
    broken = _rules_mentioning(spark, snap, col)
    if broken:
        raise ValueError(
            f"cannot drop {col!r}: referenced by {broken} — drop/recreate "
            "those rules first"
        )
    md = dict(snap.metadata_raw)
    md["schemaString"] = T.StructType(
        [f for f in snap.schema.fields if f.name != col]
    ).json()
    md.setdefault("format", {"provider": "parquet"})
    return _commit(spark, base, snap, [{"metaData": md}], "DROP COLUMN")


def sync_identity_delta(spark: SparkSession, path: str, col: str) -> int:
    """SYNC IDENTITY: recompute an identity column's high water mark
    from the stored data (one MAX aggregate) — the resync step after
    allowExplicitInsert writes put values above the allocator's mark.
    The new mark is the stored maximum aligned DOWN to the start/step
    grid (values between grid points never collide with generated
    ones); never moves the mark backwards. Returns the committed
    version (the current one unchanged when already in sync)."""
    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "append")
    specs = _identity_fields(snap.schema)
    if col not in specs:
        raise ValueError(f"{col!r} is not an identity column")
    spec = specs[col]
    row = read_delta_fallback(spark, base).agg(F.max(F.col(col))).collect()[0]
    mx = row[0]
    if mx is None:
        return snap.version
    step, start = spec["step"], spec["start"]
    k = (int(mx) - start) // step
    aligned = start + max(k, 0) * step if step > 0 else start + min(k, 0) * step
    cur = spec["high"]
    if cur is not None and (
        (step > 0 and aligned <= cur) or (step < 0 and aligned >= cur)
    ):
        return snap.version  # already in sync
    md = dict(snap.metadata_raw)
    md["schemaString"] = _schema_with_identity_high(
        snap.schema, {col: aligned}
    ).json()
    md.setdefault("format", {"provider": "parquet"})
    return _commit(spark, base, snap, [{"metaData": md}], "SYNC IDENTITY", read=None)


def write_delta_column_mapped(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    physical_names: dict[str, str] | None = None,
    collect_stats: bool = True,
) -> int:
    """CREATE a new COLUMN-MAPPED delta table (mode 'name') from a
    DataFrame: every column — nested fields included — is assigned a
    ``delta.columnMapping.id`` and a uuid ``physicalName`` (override
    top-level names via ``physical_names`` for deterministic fixtures),
    data files are staged executor-parallel under the physical layout,
    and ONE commit lands protocol(2,5) + mapped metaData + adds.
    Subsequent writes go through the ordinary surface — write_delta
    append/overwrite/merge_schema, merge_delta, update_delta,
    delete_delta all handle mapped tables. Refuses to write into an
    existing table (use write_delta for those). Returns version 0."""
    import os
    import uuid

    base = _local_path(path).rstrip("/")
    if os.path.isdir(f"{base}/_delta_log"):
        raise ValueError(
            f"{base} is already a delta table; write_delta_column_mapped "
            "creates new tables only"
        )
    pcols = list(partition_by or [])
    next_id = 0

    def alloc() -> int:
        nonlocal next_id
        next_id += 1
        return next_id

    fields: list[T.StructField] = []
    for f in df.schema.fields:
        nf = _with_mapping_metadata(f, alloc)
        if physical_names and f.name in physical_names:
            md = dict(nf.metadata)
            md["delta.columnMapping.physicalName"] = physical_names[f.name]
            nf = T.StructField(nf.name, nf.dataType, nf.nullable, md)
        fields.append(nf)
    schema = T.StructType(fields)
    phys = {f.name: _physical_name(f) for f in fields}
    os.makedirs(base, exist_ok=True)
    adds = _stage_data_files(
        _physical_projection(df, fields),
        base,
        [phys[c] for c in pcols],
        collect_stats,
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": str(uuid.uuid5(uuid.NAMESPACE_URL, base)),
                "schemaString": schema.json(),
                "partitionColumns": pcols,
                "format": {"provider": "parquet"},
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": str(next_id),
                },
            }
        },
    ] + adds
    os.makedirs(f"{base}/_delta_log", exist_ok=True)
    return _commit(df.sparkSession, base, None, actions, "CREATE TABLE")


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    max_commit_retries: int = 10,
    collect_stats: bool = True,
    merge_schema: bool = False,
    configuration: dict[str, str] | None = None,
) -> int:
    """EXECUTOR-PARALLEL delta writer without delta-spark: Spark writes
    the parquet data files (distributed, partitioned layouts included),
    then ONE driver-side commit appends ``_delta_log/<v>.json`` with the
    add (and, for overwrite, remove) actions. Returns the committed
    version.

    The commit goes through :func:`_commit` (put-if-absent, at most
    ``max_commit_retries`` attempts) as a write that read no file; an
    overwrite removes the files live at the version it lands on.

    ``txn_app_id``/``txn_version`` add the protocol's ``txn`` action:
    the idempotence marker a streaming sink uses to make at-least-once
    micro-batch delivery exactly-once (see :func:`delta_stream_sink`).

    Data files that lose a commit race are simply never referenced by
    the log — the same orphan semantics delta itself has (VACUUM cleans
    them); correctness is carried by the log alone. Schema: the FULL
    df schema (incl. partition columns) lands in metaData per the
    protocol; appends to an existing table with a different schema are
    rejected unless ``merge_schema=True`` (delta-spark's
    ``mergeSchema`` option): NEW columns are appended to the table
    schema in one metaData action — old files read back null-filled
    for them, the appended files null-fill any table column the df
    lacks, and a type CHANGE on an existing column is always rejected
    (no widening). COLUMN-MAPPED tables write physically: data files
    and partition directories use physicalNames, merge_schema assigns
    fresh id/physicalName pairs to new columns (bumping
    ``delta.columnMapping.maxColumnId``), and overwrite preserves the
    mapping metadata — only a schema-CHANGING overwrite of a mapped
    table is rejected (its mapping would be ambiguous).
    """
    import os
    import uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    base = _local_path(path).rstrip("/")
    if _URI_SCHEME.match(base):
        # refuse BEFORE os.makedirs litters a literal "scheme:" dir on
        # local disk; _stage_data_files carries the same gate for the
        # other write entry points (merge/update/delete/optimize/...)
        raise NotImplementedError(
            f"fallback delta writer stages data files with POSIX "
            f"primitives; {base!r} carries a URI scheme — use delta-spark "
            f"for object-store tables"
        )
    pcols = list(partition_by or [])
    os.makedirs(base, exist_ok=True)

    spark = df.sparkSession
    # COLUMN-MAPPED tables: files and partitionValues are keyed by
    # PHYSICAL names, so the mapping must be pinned BEFORE staging —
    # one pre-snapshot decides the physical projection (and, for
    # mergeSchema, assigns ids/physicalNames to the new columns ONCE);
    # the commit loop then demands the schema has not moved under us.
    try:
        pre = delta_snapshot(spark, base)
    except FileNotFoundError:
        pre = None
    if pre is not None:
        _gate_write(pre, mode)
    if configuration is not None and pre is not None and (
        mode == "append" or pre.column_mapping_mode != "none"
    ):
        raise ValueError(
            "configuration applies to table CREATION or an unmapped "
            "overwrite only — appends (and mapped overwrites, whose "
            "metaData is pinned) preserve the existing table properties"
        )
    # CHECK constraints / invariants / generated columns: enforce
    # against the schema+config that will GOVERN the committed version
    # (appends and mapped overwrites keep the table's; creation and
    # unmapped overwrites take the incoming df schema + explicit
    # configuration)
    keeps_table_md = pre is not None and (
        mode == "append" or pre.column_mapping_mode != "none"
    )
    gov_schema = pre.schema if keeps_table_md else df.schema
    for gname, gexpr in _generated_fields(gov_schema).items():
        if gname not in df.columns:  # compute-if-absent, delta's rule
            df = df.withColumn(gname, F.expr(gexpr))
    # identity columns: explicit values pass only when the column
    # allows them; an ABSENT column gets values allocated from the
    # high water mark, which the commit bumps atomically with the adds
    id_specs = _identity_fields(gov_schema)
    identity_md_updates: dict[str, int] = {}
    id_cache_handles: list[DataFrame] = []
    for iname, ispec in id_specs.items():
        if iname in df.columns:
            if not ispec["allow_explicit"]:
                raise ValueError(
                    f"identity column {iname!r} forbids explicit inserts "
                    "(delta.identity.allowExplicitInsert=false); omit the "
                    "column and let the writer allocate values"
                )
            # explicit values accepted; the watermark is not moved (the
            # resync tool for that is a SYNC IDENTITY-style operation)
        else:
            fld = next(f for f in gov_schema.fields if f.name == iname)
            df, new_high, handle = _allocate_identity(
                df, iname, ispec, fld.dataType
            )
            id_cache_handles.append(handle)
            if new_high is not None and new_high != ispec["high"]:
                identity_md_updates[iname] = new_high
    _enforce_row_rules(
        df,
        gov_schema,
        (pre.metadata_raw.get("configuration") or {})
        if (keeps_table_md or (pre is not None and configuration is None))
        else (configuration or {}),
        mode,
    )
    # partition LAYOUT is a table property: appends (and mapped
    # overwrites, whose metaData is preserved) must stage under the
    # table's partitionColumns. Either direction of drift corrupts:
    # extra partition_by drops those columns from file CONTENTS
    # (directory-encoded, but never injected — they read back NULL),
    # missing ones commit adds without the declared partitionValues.
    # An omitted partition_by adopts the table's; a conflicting one —
    # including partitioning an UNPARTITIONED table — is refused.
    if pre is not None and (
        mode == "append"
        or (mode == "overwrite" and pre.column_mapping_mode != "none")
    ):
        if pcols and pcols != pre.partition_columns:
            raise ValueError(
                f"partition_by {pcols} conflicts with the table's "
                f"partitionColumns {pre.partition_columns} for {mode} "
                "(the table's metaData keeps its layout)"
            )
        pcols = list(pre.partition_columns)
    # the commit's metaData action, when it changes the table's: built
    # from the pre-snapshot, which the commit requires to be current
    mapped = pre is not None and pre.column_mapping_mode != "none"
    table_schema = df.schema if pre is None else pre.schema
    md: dict | None = None
    if pre is None or (mode == "overwrite" and not mapped):
        # tblproperties: set explicitly at create/overwrite, else an
        # overwrite PRESERVES the table's existing properties (a
        # data overwrite must not silently switch off CDF etc.)
        cfg = configuration
        if cfg is None and pre is not None:
            cfg = pre.metadata_raw.get("configuration")
        md = {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, base)),
            "schemaString": df.schema.json(),
            "partitionColumns": pcols,
            "format": {"provider": "parquet"},
            "configuration": dict(cfg or {}),
        }
    elif mode == "overwrite":
        if pre.schema.simpleString() != df.schema.simpleString():
            raise NotImplementedError(
                "schema-changing overwrite of a column-mapped table is "
                "not supported (the mapping for the new schema would be "
                "ambiguous); overwrite with the table schema, or use "
                "merge_schema appends for new columns"
            )
        md = dict(pre.metadata_raw)  # PRESERVE the mapping
    elif pre.schema.simpleString() != df.schema.simpleString():
        merged = _merged_append_schema(pre, df.schema, merge_schema, base)
        if merged is not None:
            table_schema = merged
            md = dict(pre.metadata_raw)
            md["schemaString"] = merged.json()
            if mapped:
                md["configuration"] = {
                    **(md.get("configuration") or {}),
                    "delta.columnMapping.maxColumnId": str(_max_mapping_id(merged)),
                }
    if identity_md_updates:  # the new high water marks ride along
        md = md or dict(pre.metadata_raw)
        md["schemaString"] = _schema_with_identity_high(
            T.StructType.fromJson(json.loads(md["schemaString"])), identity_md_updates
        ).json()
    stage_df, stage_pcols = df, pcols
    if mapped:
        phys = {f.name: _physical_name(f) for f in table_schema.fields}
        stage_df = _physical_projection(df, list(table_schema.fields))
        stage_pcols = [phys.get(c, c) for c in pcols]
    adds = _stage_data_files(stage_df, base, stage_pcols, collect_stats)
    for h in id_cache_handles:
        h.unpersist()

    head: list[dict] = []
    if pre is None:
        head.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
    if md is not None:
        md.setdefault("format", {"provider": "parquet"})
        head.append({"metaData": md})
    if txn_app_id is not None:
        head.append({"txn": {"appId": txn_app_id, "version": int(txn_version or 0)}})

    def actions(current: DeltaSnapshot | None) -> list[dict]:
        removes = [
            {"remove": {"path": old, "deletionTimestamp": 0, "dataChange": True}}
            for old in (current.files if current is not None and mode == "overwrite" else ())
        ]
        return head + removes + adds

    os.makedirs(f"{base}/_delta_log", exist_ok=True)
    return _commit(
        spark, base, pre, actions, "WRITE", max_commit_retries=max_commit_retries
    )


def _merged_append_schema(
    snap: DeltaSnapshot, df_schema: T.StructType, merge_schema: bool, base: str
) -> T.StructType | None:
    """Schema reconciliation for appends whose schema differs from the
    table's. Returns the WIDENED table schema when ``merge_schema``
    admits the difference (new columns appended; a None return means
    the difference collapsed to column ORDER only, needing no metaData
    change), else raises — existing columns never change type, and a df
    may omit table columns (they read back null) but a df column that
    exists with another type is a conflict."""
    table_fields = {f.name: f for f in snap.schema.fields}
    for f in df_schema.fields:
        have = table_fields.get(f.name)
        if have is not None and (
            have.dataType.simpleString() != f.dataType.simpleString()
        ):
            raise ValueError(
                f"append schema mismatch for {base}: column {f.name!r} is "
                f"{have.dataType.simpleString()} in the table but "
                f"{f.dataType.simpleString()} in the df (type changes are "
                "never merged)"
            )
    new_fields = [f for f in df_schema.fields if f.name not in table_fields]
    if not merge_schema:
        raise ValueError(
            f"append schema mismatch for {base}: table has "
            f"{snap.schema.simpleString()}, df has {df_schema.simpleString()} "
            "(pass merge_schema=True to append new columns)"
        )
    if not new_fields:
        return None  # column-order difference only; table schema stands
    if snap.column_mapping_mode != "none":
        # each new column (and nested field) gets a fresh id +
        # uuid physicalName, counting up from the table's watermark —
        # the same assignment delta-spark performs on mapped ALTER ADD
        next_id = _max_mapping_id(snap.schema, snap.metadata_raw)

        def alloc() -> int:
            nonlocal next_id
            next_id += 1
            return next_id

        new_fields = [_with_mapping_metadata(f, alloc) for f in new_fields]
    return T.StructType(list(snap.schema.fields) + new_fields)


import re as _re_mod

#: a path that still carries a URI scheme after _local_path (which
#: strips only ``file:``) belongs to a Hadoop filesystem, not POSIX
_URI_SCHEME = _re_mod.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _publish(dest: str, data: bytes, replace: bool) -> bool:
    """Make ``data`` visible at ``dest`` in full or not at all — the one
    way a file lands in ``_delta_log`` (Delta's log-store contract).

    The bytes go to a uniquely named dotted temp file in ``dest``'s
    directory (``.<name>.<hex>.tmp``: never a ``.json`` or
    ``.checkpoint.parquet`` name, so log replay skips it), which is then
    published with ``os.link`` — put-if-absent: False when ``dest``
    exists, so exactly one writer wins a version — or, with
    ``replace=True``, ``os.replace``. The temp file is unlinked on
    every path. ``os.link`` needs hard links: on file systems without
    them (FAT/exFAT, some FUSE and SMB mounts) its ``OSError``
    propagates; there is no fallback."""
    import os
    import uuid

    head, name = os.path.split(dest)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "xb") as f:
            f.write(data)
        if replace:
            os.replace(tmp, dest)
            return True
        try:
            os.link(tmp, dest)
        except FileExistsError:
            return False
        return True
    finally:
        if os.path.lexists(tmp):
            os.unlink(tmp)


def _try_commit(
    log_dir: str, version: int, actions: list[dict], operation: str | None = None
) -> bool:
    """Put-if-absent commit of ``<version>.json`` through :func:`_publish`.
    Returns False when another writer took this version first. The log
    must be POSIX-visible (a ``file:`` URI is stripped); any other URI
    scheme raises NotImplementedError — object-store tables go through
    delta-spark.

    ``operation`` prepends a ``commitInfo`` action (operation name +
    wall-clock timestamp + add/remove counts) — pure audit metadata
    (readers skip it; checkpoints drop it per protocol) surfaced by
    :func:`delta_history`."""
    import time

    log_dir = _local_path(log_dir)
    if _URI_SCHEME.match(log_dir):
        raise NotImplementedError(
            f"fallback delta writer commits with POSIX primitives; "
            f"{log_dir!r} carries a URI scheme — use delta-spark"
        )
    if operation is not None:
        info = {
            "timestamp": int(time.time() * 1000),
            "operation": operation,
            "operationMetrics": {
                "numAddedFiles": sum(1 for a in actions if "add" in a),
                "numRemovedFiles": sum(1 for a in actions if "remove" in a),
            },
        }
        actions = [{"commitInfo": info}] + actions
    data = "".join(json.dumps(a) + "\n" for a in actions).encode("utf-8")
    return _publish(f"{log_dir}/{version:020d}.json", data, replace=False)


class ConcurrentDeltaModificationError(RuntimeError):
    """A concurrent commit changed what this operation read (the
    staleness rule of :func:`_commit`), or it lost the commit race
    every time — the caller must re-run the whole operation on the new
    snapshot (delta-spark surfaces the same condition as
    ConcurrentDeleteReadException / ConcurrentAppendException)."""


def _table_terms(snap: DeltaSnapshot | None) -> tuple | None:
    """The metaData and protocol terms a writer's analysis rests on,
    in a form a JSON commit and a checkpoint of the same actions replay
    to alike (a checkpoint keeps only the metaData fields of its schema
    and drops absent feature lists)."""
    if snap is None:
        return None
    p, md = snap.protocol, snap.metadata_raw
    return (
        md.get("schemaString"),
        snap.partition_columns,
        md["configuration"],
        int(p.get("minReaderVersion", 1)),
        int(p.get("minWriterVersion", 2)),
        sorted(p.get("readerFeatures") or []),
        sorted(p.get("writerFeatures") or []),
    )


def _commit(
    spark: SparkSession,
    base: str,
    snap: DeltaSnapshot | None,
    actions,
    operation: str | None,
    read=(),
    max_commit_retries: int = 10,
) -> int:
    """Commit a writer's ``actions`` at the version after the table's
    latest and return that version: the one commit path of every delta
    writer, version-0 creates included.

    ``snap`` is the snapshot the writer analyzed (None when it found no
    table); ``actions`` is the action list, or a callable that builds it
    from the table's current snapshot; ``read`` names the log paths of
    the files the writer read, or is None when it scanned the whole
    table, whose file list it then read too.

    Staleness rule (Delta's optimistic concurrency: a commit lands only
    if nothing it read has changed since). A lost put-if-absent race
    re-snapshots, and the analysis is stale when
    - the table's metaData (schema, partition columns, properties) or
      protocol differs from ``snap``'s, or
    - a file in ``read`` is gone or carries another deletion vector
      (for ``read=None``: any live file does, or a file was added).
    A stale analysis raises :class:`ConcurrentDeltaModificationError`;
    otherwise the writer retries at the next version, up to
    ``max_commit_retries`` attempts in all."""
    log = f"{base}/_delta_log"
    current = snap
    for _attempt in range(max_commit_retries):
        version = (-1 if current is None else current.version) + 1
        todo = actions(current) if callable(actions) else actions
        if _try_commit(log, version, todo, operation=operation):
            return version
        current = delta_snapshot(spark, base)
        stale = _table_terms(current) != _table_terms(snap)
        if not stale:
            was, now = _file_identities(snap), _file_identities(current)
            stale = was != now if read is None else any(now.get(p) != was[p] for p in read)
        if stale:
            raise ConcurrentDeltaModificationError(
                f"concurrent commit changed {base} during {operation or 'commit'} "
                f"(analyzed v{-1 if snap is None else snap.version}, "
                f"now v{current.version}); re-run"
            )
    raise ConcurrentDeltaModificationError(
        f"could not commit {operation or 'commit'} to {base} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def merge_delta(
    source: DataFrame,
    path: str,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    max_commit_retries: int = 10,
    collect_stats: bool = True,
    validate_unique_keys: bool = True,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """MERGE INTO (upsert) as a copy-on-write commit — the write-path
    operator delta-spark calls ``DeltaTable.merge`` and the reference
    cannot express at all (its write surface is zero; SURVEY §2.2 is
    read-only serialization). Returns the committed version, or the
    current version unchanged when the merge is a no-op.

    Semantics (keyed on the ``on`` column list):
    - ``when_matched``: ``"update"`` replaces the whole target row with
      the source row, ``"delete"`` drops it, ``"ignore"`` keeps it.
    - ``when_not_matched``: ``"insert"`` appends source rows matching no
      target row, ``"ignore"`` drops them. NULL keys never equal
      anything (SQL join semantics), so null-keyed source rows are
      always "not matched".
    - duplicate source keys make "update" ambiguous (delta raises the
      same way); rejected up front with one groupBy over the source
      unless ``validate_unique_keys=False``.

    100 TB design — the cost is proportional to the TOUCHED data, not
    the table:
    1. one provenance scan (``_metadata.file_path``) semi-joined with
       the source keys finds the touched files; the collected list is
       bounded by the file count, never by rows;
    2. only touched files are re-read and rewritten — every match and
       every "already present" key provably lives in a touched file, so
       both the matched rewrite AND the not-matched insert anti-join run
       against touched rows only; untouched files carry over by log
       reference, zero IO;
    3. the commit is remove(touched) + add(rewritten), through
       :func:`_commit` as a whole-table read.

    Column-mapped tables merge like any other: rewritten files are
    staged in the table's PHYSICAL layout (_stage_snapshot_files).
    """
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched must be update|delete|ignore, got {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched must be insert|ignore, got {when_not_matched!r}")
    if when_matched == "ignore" and when_not_matched == "ignore":
        raise ValueError("merge with both clauses 'ignore' is a no-op by construction")
    spark = source.sparkSession
    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "merge")
    if snap.schema.simpleString() != source.schema.simpleString():
        raise ValueError(
            f"merge source schema mismatch for {base}: table has "
            f"{snap.schema.simpleString()}, source has {source.schema.simpleString()}"
        )
    blocked_ident = [
        c
        for c, s in _identity_fields(snap.schema).items()
        if not s["allow_explicit"]
    ]
    if blocked_ident and (when_matched == "update" or when_not_matched == "insert"):
        raise ValueError(
            f"merge writes explicit values into identity column(s) "
            f"{blocked_ident} (allowExplicitInsert=false); append through "
            "write_delta to have values allocated"
        )
    missing = [k for k in on if k not in source.columns]
    if missing:
        raise ValueError(f"merge keys {missing} not in schema {source.columns}")
    if validate_unique_keys:
        # null-keyed rows never match anything (SQL join semantics), so
        # several of them are unambiguous inserts, not duplicates —
        # exclude them from the ambiguity check (delta does the same)
        keyed = source
        for k in on:
            keyed = keyed.filter(F.col(k).isNotNull())
        dup = (
            keyed.groupBy(*on).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"source has duplicate merge keys (e.g. "
                f"{ {k: dup[0][k] for k in on} }); merge is ambiguous"
            )

    # 1. provenance scan: which files contain a matched key?
    target = _files_to_df(spark, base, snap, snap.files, file_col="_file")
    matched_files_rows = (
        target.join(source.select(on), on, "leftsemi").select("_file").distinct().collect()
    )
    touched = _log_paths(base, snap, [r["_file"] for r in matched_files_rows])

    touched_rows = _files_to_df(
        spark, base, snap, {p: snap.files[p] for p in touched}
    )
    col_order = [f.name for f in snap.schema.fields]
    replaced = touched_rows.join(source, on, "left_anti")
    if when_matched == "update":
        # one output row PER MATCHING TARGET ROW (a target may legally
        # hold duplicate keys — delta has no key constraint — and
        # delta-spark updates each copy; only duplicate SOURCE keys are
        # the ambiguity rejected above), each carrying the source's
        # values: inner-join the target's key rows (not deduplicated)
        # with the unique-keyed source
        replaced = replaced.unionByName(
            touched_rows.select(on).join(source, on, "inner")
        )
    elif when_matched == "ignore":
        replaced = touched_rows
    new_data = replaced.select(col_order)
    if when_not_matched == "insert":
        # every matched source key lives in a touched file, so the
        # anti-join needs only touched rows — untouched files stay cold
        new_data = new_data.unionByName(
            source.join(touched_rows.select(on), on, "left_anti").select(col_order)
        )
    if not touched and when_not_matched == "ignore":
        return snap.version  # no-op: nothing matched, nothing to insert

    # rules run over the TOUCHED-scope rewrite only: carried-over rows
    # satisfied them when first written (induction), so cost tracks the
    # merge, not the table
    _enforce_row_rules(
        new_data, snap.schema, snap.metadata_raw.get("configuration"), "merge"
    )
    adds = _stage_snapshot_files(new_data, base, snap, collect_stats)
    removes = [
        {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}}
        for p in touched
    ]
    cdc_actions: list[dict] = []
    if _cdf_enabled(snap):
        # CHANGE DATA FEED: matched rows as pre/post images (or
        # deletes), unmatched source rows as inserts — one cdc file set
        # committed atomically with the rewrite
        parts = []
        if when_matched == "update":
            pre = touched_rows.join(source.select(on), on, "leftsemi")
            parts.append(
                pre.select(col_order).withColumn(
                    "_change_type", F.lit("update_preimage")
                )
            )
            post = touched_rows.select(on).join(source, on, "inner")
            parts.append(
                post.select(col_order).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        elif when_matched == "delete":
            pre = touched_rows.join(source.select(on), on, "leftsemi")
            parts.append(
                pre.select(col_order).withColumn("_change_type", F.lit("delete"))
            )
        if when_not_matched == "insert":
            ins = source.join(touched_rows.select(on), on, "left_anti")
            parts.append(
                ins.select(col_order).withColumn("_change_type", F.lit("insert"))
            )
        if parts:
            cdc_df = parts[0]
            for p in parts[1:]:
                cdc_df = cdc_df.unionByName(p)
            cdc_actions = _stage_cdc_files(cdc_df, base, snap)
    txn_actions: list[dict] = []
    if txn_app_id is not None:
        # same idempotency marker write_delta emits: a replayed merge
        # (streaming foreachBatch at-least-once) is skippable by
        # checking last_txn_version before re-applying
        txn_actions.append(
            {"txn": {"appId": txn_app_id, "version": int(txn_version or 0)}}
        )
    return _commit(
        spark, base, snap, removes + adds + cdc_actions + txn_actions, "MERGE",
        read=None, max_commit_retries=max_commit_retries,
    )


#: integral widths for the lossless-upcast check
_INT_ORDER = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def _safe_upcast(src: str, dst: str) -> bool:
    """True when a SET expression of type ``src`` may be stored in a
    column of type ``dst`` without loss: identity, NULL literals,
    integral widening, int/float -> double, float widening, date ->
    timestamp. Anything else — notably string -> numeric, which
    Spark's when() would silently coerce and then fail row-by-row with
    ANSI cast errors at write time — must be cast explicitly."""
    if src == dst or src == "void":
        return True
    if src in _INT_ORDER and dst in _INT_ORDER:
        return _INT_ORDER[src] <= _INT_ORDER[dst]
    if dst == "double" and (src in _INT_ORDER or src == "float"):
        return True
    if src == "date" and dst.startswith("timestamp"):
        return True
    return False


def update_delta(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str | Column],
    predicate: str | Column = "true",
    max_commit_retries: int = 10,
    collect_stats: bool = True,
) -> int:
    """UPDATE ... SET as a copy-on-write commit — with
    :func:`write_delta` (INSERT), :func:`delete_delta` and
    :func:`merge_delta` this completes the DML surface delta-spark
    exposes. ``set_exprs`` maps column -> Spark SQL expression evaluated
    per matching row (e.g. ``{"v": "v * 2", "status": "'X'"}``);
    ``predicate`` selects the rows. Either may be a Column instead
    (``sql/dml.py`` passes the ones it parsed). Returns the committed
    version (the current one when nothing matched).

    Same touched-data cost model as merge_delta: one provenance scan
    finds the files containing a matching LIVE row (existing deletion
    vectors are applied by the scan, and the rewrite folds them in — a
    touched file comes back DV-free), only those files rewrite, and
    untouched files carry over by log reference. Updating a PARTITION
    column is allowed — rewritten rows land in their new partition
    directories because the rewrite re-partitions by the table's
    partition columns. Expression type mismatches are rejected up
    front (the updated relation must keep the table schema)."""
    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "update")
    col_order = [f.name for f in snap.schema.fields]
    unknown = [c for c in set_exprs if c not in col_order]
    if unknown:
        raise ValueError(f"SET columns {unknown} not in schema {col_order}")
    ident = _identity_fields(snap.schema)
    bad_ident = [c for c in set_exprs if c in ident]
    if bad_ident:
        raise ValueError(
            f"cannot UPDATE identity column(s) {bad_ident} — identity "
            "values are writer-allocated"
        )
    # generated columns RECOMPUTE for matched rows unless explicitly
    # SET (delta keeps them consistent when their inputs change; an
    # explicit inconsistent SET is caught by _enforce_row_rules below).
    # They evaluate in a SECOND stage, over POST-update values — SET
    # expressions themselves see pre-update rows per SQL semantics.
    gen_recompute = {
        g: e
        for g, e in _generated_fields(snap.schema).items()
        if g not in set_exprs
    }

    target = _files_to_df(spark, base, snap, snap.files, file_col="_file")
    cond = _as_column(predicate)
    set_exprs = {c: _as_column(e) for c, e in set_exprs.items()}
    matched_files_rows = (
        target.filter(cond).select("_file").distinct().collect()
    )
    if not matched_files_rows:
        return snap.version  # no-op
    touched = _log_paths(base, snap, [r["_file"] for r in matched_files_rows])

    touched_rows = _files_to_df(
        spark, base, snap, {p: snap.files[p] for p in touched}
    )
    # type-check each SET expression on its OWN (when() would silently
    # coerce a mistyped branch to the column type and fail at write
    # time with an ANSI cast error instead of a clear message)
    probe = touched_rows.select(
        *[e.alias(c) for c, e in set_exprs.items()]
    )
    table_types = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    for f in probe.schema.fields:
        if not _safe_upcast(f.dataType.simpleString(), table_types[f.name]):
            raise ValueError(
                f"SET expressions change the schema: column {f.name!r} is "
                f"{table_types[f.name]} in the table but the expression "
                f"yields {f.dataType.simpleString()} — cast explicitly"
            )
    cdf = _cdf_enabled(snap)
    # the match flag is evaluated ONCE and (for CDF) the flagged rows
    # are persisted, so the committed rewrite and the _change_data
    # pre/post images see the SAME row set even for nondeterministic
    # predicates — two independent cond evaluations could disagree
    flagged = touched_rows.withColumn("__m", cond)
    if cdf:
        flagged = flagged.persist()
    try:
        staged1 = flagged.select(
            *[
                F.when(F.col("__m"), set_exprs[c]).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in col_order
            ],
            "__m",
        )
        updated = staged1.select(
            *[
                F.when(F.col("__m"), F.expr(gen_recompute[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in gen_recompute
                else F.col(c)
                for c in col_order
            ]
        )
        _enforce_row_rules(
            updated, snap.schema, snap.metadata_raw.get("configuration"), "update"
        )
        adds = _stage_snapshot_files(updated, base, snap, collect_stats)
        removes = [
            {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}}
            for p in touched
        ]
        cdc_actions: list[dict] = []
        if cdf:
            # CHANGE DATA FEED: pre/post images of exactly the matched rows
            pre = flagged.filter(F.col("__m")).select(col_order)
            post = pre.select(
                *[
                    set_exprs[c].alias(c) if c in set_exprs else F.col(c)
                    for c in col_order
                ]
            ).select(  # second stage: generated cols over POST-update values
                *[
                    F.expr(gen_recompute[c]).alias(c)
                    if c in gen_recompute
                    else F.col(c)
                    for c in col_order
                ]
            )
            cdc_df = pre.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(post.withColumn("_change_type", F.lit("update_postimage")))
            cdc_actions = _stage_cdc_files(cdc_df, base, snap)
    finally:
        if cdf:
            flagged.unpersist()
    return _commit(
        spark, base, snap, removes + adds + cdc_actions, "UPDATE",
        read=None, max_commit_retries=max_commit_retries,
    )


def replace_where_delta(
    df: DataFrame,
    path: str,
    predicate: str,
    max_commit_retries: int = 10,
    collect_stats: bool = True,
) -> int:
    """Predicate-scoped atomic overwrite — delta-spark's
    ``option("replaceWhere", pred)`` with mode=overwrite, the backfill
    primitive ("reload this day/region idempotently"): ONE commit
    removes every existing row matching ``predicate`` and lands ``df``
    in its place, with delta's constraint that every INCOMING row must
    itself satisfy the predicate (a backfill that writes outside its
    declared scope is a silent corruption — rejected up front).

    Copy-on-write with touched-data cost: a provenance scan finds the
    files containing a matching LIVE row (existing deletion vectors
    applied; the rewrite folds them in), only those files rewrite —
    keeping their non-matching rows — untouched files carry over by
    log reference, and the new data stages alongside, all landing in
    one atomic version. On a partition-aligned predicate the scan prunes to
    the affected partitions, so cost ∝ replaced partitions — the
    backfill sweet spot. CDF tables record delete pre-images for
    replaced rows and insert rows for the incoming data. Generated
    columns compute-if-absent; identity columns must be supplied
    explicitly (use write_delta's append path for allocation).
    Returns the committed version."""
    spark = df.sparkSession
    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "overwrite")
    col_order = [f.name for f in snap.schema.fields]
    for gname, gexpr in _generated_fields(snap.schema).items():
        if gname not in df.columns:  # compute-if-absent, delta's rule
            df = df.withColumn(gname, F.expr(gexpr))
    missing_ident = [c for c in _identity_fields(snap.schema) if c not in df.columns]
    if missing_ident:
        raise ValueError(
            f"replaceWhere requires explicit values for identity column(s) "
            f"{missing_ident}; the allocating writer is write_delta(mode='append')"
        )
    if set(df.columns) != set(col_order):
        raise ValueError(
            f"replaceWhere keeps the table schema: expected columns "
            f"{col_order}, got {sorted(df.columns)} (no mergeSchema on a "
            "scoped overwrite)"
        )
    df = df.select(*col_order)
    table_types = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    for f in df.schema.fields:
        if not _safe_upcast(f.dataType.simpleString(), table_types[f.name]):
            raise ValueError(
                f"replaceWhere schema mismatch: column {f.name!r} is "
                f"{table_types[f.name]} in the table but "
                f"{f.dataType.simpleString()} in the incoming data"
            )
    cond = F.expr(predicate)
    if df.filter(~F.coalesce(cond, F.lit(False))).limit(1).count() > 0:
        raise ValueError(
            "replaceWhere constraint violated: incoming rows must all "
            f"satisfy the predicate {predicate!r} (delta's rule — a "
            "backfill may not write outside its declared scope)"
        )
    _enforce_row_rules(
        df, snap.schema, snap.metadata_raw.get("configuration"), "replaceWhere"
    )

    target = _files_to_df(spark, base, snap, snap.files, file_col="_file")
    matched_files_rows = target.filter(cond).select("_file").distinct().collect()
    touched = _log_paths(base, snap, [r["_file"] for r in matched_files_rows])

    cdf = _cdf_enabled(snap)
    adds: list[dict] = []
    removes: list[dict] = []
    cdc_actions: list[dict] = []
    flagged = None
    try:
        if touched:
            touched_rows = _files_to_df(
                spark, base, snap, {p: snap.files[p] for p in touched}
            )
            # the match flag is evaluated ONCE (persisted under CDF) so
            # the kept rewrite and the delete pre-images see the SAME
            # row set even for nondeterministic predicates — the
            # update_delta discipline
            flagged = touched_rows.withColumn(
                "__m", F.coalesce(cond, F.lit(False))
            )
            if cdf:
                flagged = flagged.persist()
            kept = flagged.filter(~F.col("__m")).select(*col_order)
            adds += _stage_snapshot_files(kept, base, snap, collect_stats)
            removes = [
                {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}}
                for p in touched
            ]
            if cdf:
                cdc_df = (
                    flagged.filter(F.col("__m"))
                    .select(*col_order)
                    .withColumn("_change_type", F.lit("delete"))
                    .unionByName(
                        df.withColumn("_change_type", F.lit("insert"))
                    )
                )
                cdc_actions = _stage_cdc_files(cdc_df, base, snap)
        elif cdf:
            cdc_actions = _stage_cdc_files(
                df.withColumn("_change_type", F.lit("insert")), base, snap
            )
        adds += _stage_snapshot_files(df, base, snap, collect_stats)
    finally:
        if flagged is not None and cdf:
            flagged.unpersist()

    return _commit(
        spark, base, snap, removes + adds + cdc_actions, "REPLACE WHERE",
        read=None, max_commit_retries=max_commit_retries,
    )


def _file_identities(snap: DeltaSnapshot) -> dict[str, tuple]:
    """path -> (path, DV identity): the unit of change detection. Two
    snapshots agree on a file only if both the data file AND its
    deletion vector are the same."""
    out = {}
    for p in snap.files:
        dv = _file_dv(snap, p)
        out[p] = (
            p,
            (dv["storageType"], dv["pathOrInlineDv"], dv.get("offset"))
            if dv
            else None,
        )
    return out


#: the most paths a read lists itself rather than in a Spark job
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def files_since(
    spark: SparkSession, uri: str, snap: DeltaSnapshot, base: dict[str, tuple], key: str
) -> tuple[DataFrame, int] | None:
    """The rows of ``snap``'s live files outside ``base`` (the
    ``_file_identities`` of an earlier snapshot of the table) and their
    live row count from the log (``numRecords`` less each deletion
    vector's cardinality), when the log proves that no such row repeats
    a ``key`` value of a base file: each added file with rows records no
    NULL ``key`` and an int or string [min, max] range of it that meets
    no base file's range. None otherwise, when a base file is no longer
    live as it was (removed, or its deletion vector changed), or when
    the added files are too many to list without a Spark job."""
    import bisect
    import itertools

    ids = _file_identities(snap)
    if any(ids.get(p) != ident for p, ident in base.items()):
        return None
    field = next((f for f in snap.schema.fields if f.name == key), None)
    if field is None:
        return None
    col = _physical_name(field)

    def span(p: str, nulls_known: bool) -> tuple | None:
        """(live rows, key min, key max) of file ``p``; None when unknown."""
        st = snap.stats.get(p) or {}
        n = st.get("numRecords")
        if n is None:
            return None
        n -= int((_file_dv(snap, p) or {}).get("cardinality") or 0)
        lo, hi = st.get("minValues", {}).get(col), st.get("maxValues", {}).get(col)
        if n and (nulls_known and st.get("nullCount", {}).get(col) != 0
                  or type(lo) is not type(hi) or type(lo) not in (int, str)):
            return None
        return n, lo, hi

    spans = [span(p, False) for p in base]
    if None in spans:
        return None
    ranges = sorted((lo, hi) for n, lo, hi in spans if n)
    if len({type(lo) for lo, _ in ranges}) > 1:
        return None
    lows = [lo for lo, _ in ranges]
    # reach[i]: the largest max of the i + 1 base ranges of smallest min
    reach = list(itertools.accumulate((hi for _, hi in ranges), max))
    added, rows = {}, 0
    for p, pv in snap.files.items():
        if p in base:
            continue
        got = span(p, True)
        if got is None:
            return None
        n, lo, hi = got
        if n and ranges and type(lo) is not type(lows[0]):
            return None
        if not n:
            continue  # no live rows to read
        i = bisect.bisect_right(lows, hi)
        if i and reach[i - 1] >= lo:
            return None  # a base range starting at or below this max reaches its min
        added[p] = pv
        rows += n
    # past this many paths Spark lists them in a job of its own, which
    # costs as much as rebuilding from the scan that already listed them
    if len(added) > int(spark.conf.get(_LISTING_THRESHOLD)):
        return None
    return _files_to_df(spark, uri.rstrip("/"), snap, added), rows


def delete_delta(
    spark: SparkSession,
    path: str,
    predicate: str | Column,
    max_commit_retries: int = 10,
    max_deleted_rows: int = 50_000_000,
) -> int:
    """DELETE via deletion vectors — the MERGE-ON-READ path: instead of
    rewriting every file that contains a matching row (copy-on-write,
    cost ∝ touched DATA), commit a kilobyte roaring bitmap per touched
    file marking the deleted row positions (cost ∝ deleted ROWS). At
    100 TB, deleting 0.1 % of rows scattered across every file is the
    difference between rewriting the table and writing a few MB of
    bitmaps. Readers apply the DVs automatically (``_files_to_df``);
    ``optimize_delta`` later purges them by rewriting (REORG-style).
    delta-spark exposes the same trade as DELETE under
    ``delta.enableDeletionVectors``. Returns the committed version (or
    the current one when nothing matched).

    Mechanics:
    1. one provenance scan with ``_metadata`` (file name + row index)
       collects matching (file, position) pairs — rows already deleted
       by an existing DV are excluded by the scan itself, so positions
       union monotonically;
    2. per touched file the NEW bitmap = old DV positions ∪ new matches
       (the descriptor REPLACES the old one per protocol); a file whose
       every live row matched is dropped with a plain remove instead
       (no point keeping a fully-dead file);
    3. all bitmaps for the commit are framed into ONE
       ``deletion_vector_<uuid>.bin`` (sources/dv.py framing: version
       byte, per-DV big-endian size + payload + CRC-32);
    4. the commit re-adds each touched file with the same
       size/stats/partitionValues and the new DV descriptor, upgrading
       the protocol to readerVersion 3 / writerVersion 7 with the
       ``deletionVectors`` feature on first use.

    The matched positions are collected to the driver (bounded by
    ``max_deleted_rows``, default 50M ≈ a few hundred MB): a DELETE
    matching more rows than that should be a copy-on-write rewrite
    (``merge_delta`` with when_matched='delete' or an overwrite), which
    this function enforces by raising."""
    import uuid

    from lakeapi_spark.sources.dv import (
        make_dv_descriptor_u,
        pack_dv_file,
        read_dv_positions,
        serialize_rba,
    )

    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "delete")

    scan = _files_to_df(
        spark, base, snap, snap.files, file_col="_file", pos_col="_pos"
    )
    matches = scan.filter(_as_column(predicate)).select("_file", "_pos")
    # ONE scan, memory-bounded: collect at most max+1 rows — reaching
    # the sentinel proves the overflow without materializing it (and a
    # second scan could disagree with the first for nondeterministic
    # predicates)
    pdf = matches.limit(max_deleted_rows + 1).toPandas()
    if len(pdf) == 0:
        return snap.version
    if len(pdf) > max_deleted_rows:
        raise ValueError(
            f"DELETE matches more than max_deleted_rows="
            f"{max_deleted_rows} rows; a delete this large should rewrite "
            "files copy-on-write (merge_delta when_matched='delete') "
            "instead of building giant deletion vectors"
        )

    groups = list(pdf.groupby("_file"))
    new_positions = dict(
        zip(
            _log_paths(base, snap, [uri for uri, _ in groups]),
            (set(g["_pos"].tolist()) for _, g in groups),
        )
    )

    def _read_rel(rel_or_abs: str) -> bytes:
        full = rel_or_abs if rel_or_abs.startswith("/") else f"{base}/{rel_or_abs}"
        return _read_file_bytes(spark, full)

    removes: list[dict] = []
    dv_adds: list[tuple[str, list[int]]] = []  # (rel, combined sorted positions)
    for rel, pos in sorted(new_positions.items()):
        old_dv = _file_dv(snap, rel)
        if old_dv:
            pos = pos | set(read_dv_positions(old_dv, _read_rel))
        combined = sorted(pos)
        num_records = (snap.stats.get(rel) or {}).get("numRecords")
        if num_records is not None and len(combined) >= int(num_records):
            # every physical row is dead: drop the file outright
            removes.append(
                {"remove": {"path": rel, "deletionTimestamp": 0, "dataChange": True}}
            )
        else:
            dv_adds.append((rel, combined))

    adds: list[dict] = []
    if dv_adds:
        dv_uuid = uuid.uuid4()
        payloads = [serialize_rba(pos) for _rel, pos in dv_adds]
        blob, offsets = pack_dv_file(payloads)
        with open(f"{base}/deletion_vector_{dv_uuid}.bin", "wb") as f:
            f.write(blob)
        for (rel, pos), payload, offset in zip(dv_adds, payloads, offsets):
            add = dict(snap.adds_raw.get(rel) or {"path": rel})
            add.setdefault("partitionValues", snap.files[rel])
            add["dataChange"] = True
            if add.get("stats") is not None and not isinstance(add["stats"], str):
                add["stats"] = json.dumps(add["stats"])  # protocol: JSON string
            add["deletionVector"] = make_dv_descriptor_u(
                "", dv_uuid, offset, len(payload), len(pos)
            )
            removes.append(
                {"remove": {"path": rel, "deletionTimestamp": 0, "dataChange": True}}
            )
            adds.append({"add": add})

    cdc_actions: list[dict] = []
    if _cdf_enabled(snap):
        # CHANGE DATA FEED: exactly the sentinel-collected (file, pos)
        # rows — never a predicate re-evaluation, which could disagree
        # with the committed DV for nondeterministic predicates. No
        # broadcast hint: AQE broadcasts small key sets and shuffles
        # the (bounded but possibly tens-of-millions-row) large ones.
        keys_df = spark.createDataFrame(pdf)
        deleted_rows = scan.join(keys_df, ["_file", "_pos"]).select(
            [f.name for f in snap.schema.fields]
        )
        cdc_actions = _stage_cdc_files(
            deleted_rows.withColumn("_change_type", F.lit("delete")), base, snap
        )

    protocol = []
    if "deletionVectors" not in (snap.protocol.get("readerFeatures") or []):
        protocol.append({"protocol": _protocol_with_dv(snap)})
    return _commit(
        spark, base, snap, protocol + removes + adds + cdc_actions, "DELETE",
        read=None, max_commit_retries=max_commit_retries,
    )


#: legacy minWriterVersion -> the explicit writer feature list it
#: implies when upgrading to table features (writerVersion 7)
_LEGACY_WRITER_FEATURES = {
    2: ["appendOnly", "invariants"],
    3: ["appendOnly", "invariants", "checkConstraints"],
    4: ["appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns"],
    5: ["appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping"],
    6: ["appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping", "identityColumns"],
}


def _protocol_with_dv(snap: DeltaSnapshot) -> dict:
    """The table-features protocol action that adds deletionVectors:
    readerVersion 3 / writerVersion 7, with legacy versions' implied
    features made explicit (per the protocol's upgrade rules)."""
    proto = snap.protocol
    reader = set(proto.get("readerFeatures") or [])
    if proto.get("minReaderVersion", 1) == 2 or snap.column_mapping_mode != "none":
        reader.add("columnMapping")
    reader.add("deletionVectors")
    writer = set(proto.get("writerFeatures") or [])
    writer.update(_LEGACY_WRITER_FEATURES.get(proto.get("minWriterVersion", 2), []))
    writer.add("deletionVectors")
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(reader),
        "writerFeatures": sorted(writer),
    }


def delta_version_diff(
    spark: SparkSession, path: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """CDF-style row diff between two versions WITHOUT a change-data
    feed: rows inserted/deleted between ``v_from`` and ``v_to`` (latest
    when None), tagged with a ``_change_type`` column ("insert" /
    "delete"). An update surfaces as delete+insert, exactly like
    delta's CDF does for non-CDC tables.

    100 TB design — log-metadata pruning makes the diff proportional to
    the CHURN, not the table: files present in both snapshots
    contribute identical rows to both sides, so they cancel in the
    multiset difference by construction and are NEVER READ. With
    C = common files, A = files only in v_to, R = files only in v_from:
    ``v_to ∖ v_from = rows(A) ∖ rows(R)`` (multiset except), and the
    delete side is the mirror image. Each side is one exceptAll (a
    single shuffle over changed-file rows only)."""
    base = _local_path(path).rstrip("/")
    s_from = delta_snapshot(spark, base, v_from)
    s_to = delta_snapshot(spark, base, v_to)
    if s_from.schema.simpleString() != s_to.schema.simpleString():
        raise ValueError(
            f"schema changed between v{s_from.version} and v{s_to.version}; "
            "row diff is undefined across schema evolution"
        )
    # identity = (path, DV): a DELETE that only attached a new deletion
    # vector re-adds the same path — the file must land on BOTH sides
    # (its rows read under each snapshot's own DV, so the freshly
    # deleted rows surface as 'delete' rows in the multiset difference)
    ids_from, ids_to = _file_identities(s_from), _file_identities(s_to)
    seen_from, seen_to = set(ids_from.values()), set(ids_to.values())
    only_to = {
        p: pv for p, pv in s_to.files.items() if ids_to[p] not in seen_from
    }
    only_from = {
        p: pv for p, pv in s_from.files.items() if ids_from[p] not in seen_to
    }
    added = _files_to_df(spark, base, s_to, only_to)
    removed = _files_to_df(spark, base, s_from, only_from)
    return added.exceptAll(removed).withColumn(
        "_change_type", F.lit("insert")
    ).unionByName(
        removed.exceptAll(added).withColumn("_change_type", F.lit("delete"))
    )


def delta_changes(
    spark: SparkSession, path: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """``table_changes()`` without a change-data feed: per-commit row
    changes from ``v_from`` (exclusive) to ``v_to`` (inclusive; latest
    when None), each row tagged ``_change_type`` ('insert'/'delete')
    and ``_commit_version`` — the incremental-tailing primitive a
    downstream ETL uses to consume a delta table as a change stream
    (delta-spark: ``readChangeFeed`` / ``table_changes``).

    Versions that carry ``cdc`` actions (CHANGE DATA FEED commits —
    merge/update/delete on a ``delta.enableChangeDataFeed=true`` table)
    are read STRAIGHT FROM their ``_change_data`` files, exactly like
    delta's own ``table_changes``: precise per-row semantics including
    ``update_preimage``/``update_postimage`` (which a version diff can
    only approximate as delete+insert), at the cost of the change
    files alone. Versions without cdc actions fall back to ONE
    :func:`delta_version_diff` per consecutive pair, so tailing N
    commits costs the DATA CHURN of those commits, never the table:
    unchanged files cancel by log metadata per pair and are not read.
    OPTIMIZE-style commits whose rewrites preserve content diff to
    zero rows (dataChange:false compaction produces no changes — the
    multiset difference is empty), matching CDF's no-op treatment of
    pure compaction."""
    base = _local_path(path).rstrip("/")
    s_to = delta_snapshot(spark, path, v_to)
    if v_from >= s_to.version:
        raise ValueError(
            f"v_from {v_from} must be < the target version {s_to.version}"
        )
    out = None
    for v in range(v_from, s_to.version):
        cdc = _commit_cdc_actions(spark, base, v + 1)
        if cdc:
            snap_v = delta_snapshot(spark, path, v + 1)
            step = _read_cdc_files(spark, base, snap_v, cdc)
        else:
            step = delta_version_diff(spark, path, v, v + 1)
        step = step.withColumn("_commit_version", F.lit(v + 1).cast("long"))
        out = step if out is None else out.unionByName(step)
    return out


def sync_incremental(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    keys: list[str],
    app_id: str | None = None,
) -> int | None:
    """Maintain a downstream REPLICA of a delta table by its CHANGE
    STREAM — the materialized-view-maintenance pattern: instead of
    recomputing the destination from a full source scan, apply only the
    churn since the last sync. At 100 TB with a daily churn of 0.1 %,
    that is the difference between a full-table job and one that
    touches a few GB.

    Per run: read ``last_txn_version`` markers on the DESTINATION
    (``app_id``, default derived from the source path) to find the last
    applied source version, pull :func:`delta_changes` over the gap,
    and apply per source commit — upserts for rows with an insert
    (an update surfaces as delete+insert for the same key, which the
    upsert covers), deletes for keys whose commit had a delete and no
    insert — each application committing a ``txn`` marker with the
    source version. Idempotent by construction (upsert and delete of
    already-applied rows are no-ops AND the txn marker skips replayed
    versions), so a crash mid-sync just resumes: at-least-once
    application + idempotence = exactly-once state, the same contract
    as :func:`delta_stream_sink`. First run bootstraps the destination
    with a full copy of the current source snapshot.

    Returns the destination's committed version (None when already in
    sync). Keys must be unique per source row — the replica is keyed."""
    src_base = _local_path(src_path).rstrip("/")
    app = app_id or f"sync:{src_base}"
    src = delta_snapshot(spark, src_base)

    try:
        dst = delta_snapshot(spark, _local_path(dst_path).rstrip("/"))
        last_applied = dst.app_versions.get(app)
        if last_applied is None:
            raise ValueError(
                f"{dst_path} exists but carries no sync marker for "
                f"{app!r} — refusing to guess a starting version (point "
                "sync_incremental at a fresh destination, or pass the "
                "app_id the table was synced under)"
            )
    except FileNotFoundError:
        last_applied = None

    if last_applied is None:
        # bootstrap: full copy of the current snapshot, marker included
        full = _files_to_df(spark, src_base, src, src.files)
        return write_delta(
            full,
            dst_path,
            mode="append",
            partition_by=src.partition_columns,
            txn_app_id=app,
            txn_version=src.version,
        )
    if last_applied >= src.version:
        return None  # nothing new

    version = None
    for v in range(last_applied, src.version):
        step = delta_version_diff(spark, src_base, v, v + 1)
        inserts = step.filter(F.col("_change_type") == "insert").drop("_change_type")
        deletes = step.filter(F.col("_change_type") == "delete").drop("_change_type")
        if inserts.limit(1).count():
            merge_delta(inserts, dst_path, on=keys, when_not_matched="insert")
        pure_deletes = deletes.join(inserts.select(keys), keys, "left_anti")
        if pure_deletes.limit(1).count():
            merge_delta(
                pure_deletes,
                dst_path,
                on=keys,
                when_matched="delete",
                when_not_matched="ignore",
            )
        # marker commit: this source version is fully applied
        version = _commit_txn_marker(spark, dst_path, app, v + 1)
    return version


def _commit_txn_marker(
    spark: SparkSession, path: str, app_id: str, version: int
) -> int:
    """Data-free commit carrying only a ``txn`` action — the streaming-
    idempotence marker without an (empty) data write."""
    base = _local_path(path).rstrip("/")
    return _commit(
        spark, base, delta_snapshot(spark, base),
        [{"txn": {"appId": app_id, "version": int(version)}}], None,
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 4,
    n_files: int = 32,
    mode: str = "overwrite",
) -> int:
    """Z-ORDER the table on ``cols`` and write it as a delta table with
    per-file stats: each column is ranked into 2^bits range buckets
    (bounds from one tiny min/max agg), the bucket bits are interleaved
    into a z-key, and ``repartitionByRange`` + in-partition sort on the
    key make every output file cover a COMPACT box in the
    multi-dimensional space — tight min/max on EVERY z-ordered column,
    so stats skipping (read_delta_fallback predicates) prunes files for
    predicates on ANY of them, not just the first sort column. This is
    the standard lakehouse answer to multi-column pruning at 100 TB
    (linear sort orders only skip on their leading column).

    Purely a layout transform: rows, schema and values are unchanged."""
    if not 0 < bits <= 8:
        raise ValueError("bits must be in 1..8")
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    ).first()
    n_buckets = 1 << bits
    rank_cols = []
    for c in cols:
        mn = bounds[f"_mn_{c}"]
        mx = bounds[f"_mx_{c}"]
        span = (mx - mn) if (mx is not None and mn is not None and mx > mn) else 1.0
        rank = F.least(
            F.lit(n_buckets - 1),
            F.floor((F.col(c).cast("double") - F.lit(mn or 0.0)) / F.lit(span) * n_buckets),
        ).cast("long")
        rank_cols.append(F.coalesce(rank, F.lit(0)))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, rank in enumerate(rank_cols):
            z = z + F.shiftleft(
                F.shiftright(rank, bit).bitwiseAND(F.lit(1)), bit * len(cols) + j
            )
    laid_out = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return write_delta(laid_out, path, mode=mode, collect_stats=True)


def hilbert_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 4,
    n_files: int = 32,
    mode: str = "overwrite",
) -> int:
    """HILBERT-curve layout on two columns — the clustering key behind
    Databricks' liquid clustering and the better-locality alternative
    to :func:`zorder_write`'s Morton key: the Hilbert curve never takes
    the long diagonal jumps Morton interleaving does, so consecutive
    key ranges cover tighter boxes and per-file min/max stats are
    tighter on BOTH dimensions (fewer false-positive file reads per
    box predicate). Bucketization is identical to zorder_write (2^bits
    range buckets per column from one tiny min/max agg); the bucket
    pair maps to its distance along the order-``bits`` Hilbert curve
    with the classic per-bit rotate/reflect recurrence, UNROLLED into
    integer Column expressions (``bits`` iterations, linear plan
    growth — whole-stage codegen, no UDF), then
    ``repartitionByRange`` + in-partition sort lay files out along the
    curve.

    Purely a layout transform: rows, schema and values are unchanged."""
    if len(cols) != 2:
        raise ValueError("hilbert_write clusters exactly 2 columns")
    if not 0 < bits <= 8:
        raise ValueError("bits must be in 1..8")
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    ).first()
    n_buckets = 1 << bits
    ranks = []
    for c in cols:
        mn = bounds[f"_mn_{c}"]
        mx = bounds[f"_mx_{c}"]
        span = (mx - mn) if (mx is not None and mn is not None and mx > mn) else 1.0
        rank = F.least(
            F.lit(n_buckets - 1),
            F.floor((F.col(c).cast("double") - F.lit(mn or 0.0)) / F.lit(span) * n_buckets),
        ).cast("long")
        ranks.append(F.coalesce(rank, F.lit(0)))
    # classic xy2d unrolled: per bit (high to low) accumulate the
    # quadrant's curve offset, then rotate/reflect the frame. x/y are
    # rebuilt as plain integer expressions each step via withColumn, so
    # the plan grows linearly in `bits`.
    staged = df.withColumn("_hx", ranks[0]).withColumn("_hy", ranks[1]).withColumn(
        "_hd", F.lit(0).cast("long")
    )
    n = F.lit(n_buckets - 1)
    for i in reversed(range(bits)):
        s = 1 << i
        rx = F.shiftright(F.col("_hx"), i).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("_hy"), i).bitwiseAND(F.lit(1))
        staged = staged.withColumn(
            "_hd", F.col("_hd") + F.lit(s * s) * ((F.lit(3) * rx).bitwiseXOR(ry))
        )
        # rotation: ry==0 -> (rx==1 reflects both, then swap x/y)
        refl_x = F.when(
            (ry == 0) & (rx == 1), n - F.col("_hx")
        ).otherwise(F.col("_hx"))
        refl_y = F.when(
            (ry == 0) & (rx == 1), n - F.col("_hy")
        ).otherwise(F.col("_hy"))
        new_x = F.when(ry == 0, refl_y).otherwise(F.col("_hx"))
        new_y = F.when(ry == 0, refl_x).otherwise(F.col("_hy"))
        staged = staged.withColumn("_hx2", new_x).withColumn("_hy2", new_y).drop(
            "_hx", "_hy"
        ).withColumnRenamed("_hx2", "_hx").withColumnRenamed("_hy2", "_hy")
    laid_out = (
        staged.repartitionByRange(n_files, F.col("_hd"))
        .sortWithinPartitions("_hd")
        .drop("_hx", "_hy", "_hd")
    )
    return write_delta(laid_out, path, mode=mode, collect_stats=True)


def last_txn_version(spark: SparkSession, path: str, app_id: str) -> int:
    """Last committed ``txn`` version for ``app_id`` (-1 if none) —
    driver-side log replay, metadata only."""
    try:
        snap = delta_snapshot(spark, _local_path(path).rstrip("/"))
    except FileNotFoundError:
        return -1
    return snap.app_versions.get(app_id, -1)


def delta_stream_sink(
    path: str,
    app_id: str,
    partition_by: list[str] | None = None,
    checkpoint_every: int = 10,
):
    """foreachBatch writer with EXACTLY-ONCE semantics on a delta table:
    each micro-batch commits atomically with a ``txn`` marker, and a
    replayed batch (the at-least-once foreachBatch contract) is SKIPPED
    when its batch_id is already recorded for ``app_id`` — the delta-
    native upgrade of the `_batch_id`-partition-overwrite pattern in
    streaming.pipeline.parquet_batch_sink (and exactly what delta-spark's
    ``txnAppId``/``txnVersion`` options do).

    ``checkpoint_every``: a streaming sink is exactly the writer that
    makes log replay the bottleneck (one commit per micro-batch,
    thousands per day), so every Nth committed version also writes a
    parquet checkpoint (:func:`checkpoint_delta`, delta-spark's own
    default cadence is 10) — cold readers replay one parquet + at most
    N-1 JSON commits instead of the full history. 0 disables."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id <= last_txn_version(spark, path, app_id):
            return  # already committed: replay is a no-op
        version = write_delta(
            batch_df,
            path,
            mode="append",
            partition_by=partition_by,
            txn_app_id=app_id,
            txn_version=batch_id,
        )
        if checkpoint_every and version and version % checkpoint_every == 0:
            checkpoint_delta(spark, path)

    return write


def optimize_delta(
    spark: SparkSession,
    path: str,
    target_files_per_partition: int = 1,
) -> int:
    """OPTIMIZE-style bin packing: rewrite each partition's small files
    into ``target_files_per_partition`` larger ones and commit the
    swap (adds + removes, ``dataChange: false``-style compaction) as
    ONE atomic version. Small-file proliferation is what kills scan
    throughput at 100 TB — a streaming sink committing a file per
    micro-batch needs periodic compaction or every downstream scan
    pays per-file open costs. Readers time-traveling to pre-OPTIMIZE
    versions still see the old files (VACUUM is the one that deletes).

    Deletion vectors: a partition group containing DV'd files is always
    rewritten (even when already at the target file count) with the DVs
    APPLIED, and the new adds carry no descriptor — the same
    purge-on-compact contract as delta's ``REORG TABLE ... APPLY
    (PURGE)``. Merge-on-read deletes thus stay cheap at delete time and
    get folded into data at maintenance time.

    Returns the committed version. Data is rewritten executor-parallel
    (one coalesced write per partition tuple); only the commit is
    driver-side."""
    import os
    import uuid

    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "optimize")
    pcols = snap.partition_columns
    phys = {f.name: _physical_name(f) for f in snap.schema.fields}
    data_fields = [f for f in snap.schema.fields if f.name not in pcols]
    data_schema = T.StructType(
        [
            T.StructField(phys[f.name], _physical_type(f.dataType), f.nullable)
            for f in data_fields
        ]
    )

    # partitionValues in the log are keyed by PHYSICAL names (column
    # mapping); phys[c] == c on unmapped tables, so this is uniform.
    groups: dict[tuple, list[str]] = {}
    for rel, pvals in snap.files.items():
        groups.setdefault(tuple(pvals.get(phys[c]) for c in pcols), []).append(rel)

    adds: list[dict] = []
    removes: list[dict] = []
    for key, rels in sorted(groups.items(), key=lambda kv: tuple(map(str, kv[0]))):
        has_dv = any(_file_dv(snap, r) for r in rels)
        if len(rels) <= target_files_per_partition and not has_dv:
            continue
        if has_dv:
            # DV purge: read through the DV-applying scan (logical
            # names), then rename back to the physical in-file names
            df = _files_to_df(
                spark, base, snap, {r: snap.files[r] for r in rels}
            ).select(
                *[F.col(f.name).alias(phys[f.name]) for f in data_fields]
            )
        else:
            df = spark.read.schema(data_schema).parquet(*[_add_abs(base, r) for r in rels])
        staging = f"{base}/.optimize-{uuid.uuid4().hex}"
        df.coalesce(target_files_per_partition).write.mode("overwrite").parquet(staging)
        rel_dir = "/".join(
            f"{phys[c]}={v if v is not None else '__HIVE_DEFAULT_PARTITION__'}"
            for c, v in zip(pcols, key)
        )
        if rel_dir:
            os.makedirs(f"{base}/{rel_dir}", exist_ok=True)
        for name in sorted(os.listdir(staging)):
            if not name.endswith(".parquet"):
                continue
            rel = f"{rel_dir}/{name}" if rel_dir else name
            os.replace(f"{staging}/{name}", f"{base}/{rel}")
            add = {
                "path": rel,
                "partitionValues": {phys[c]: v for c, v in zip(pcols, key)},
                "size": os.path.getsize(f"{base}/{rel}"),
                "modificationTime": 0,
                "dataChange": False,
            }
            # compacted files keep data skipping (and the numRecords
            # that lets a later full-file DELETE drop them outright)
            stats = _file_stats_json(f"{base}/{rel}")
            if stats:
                add["stats"] = stats
            adds.append({"add": add})
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        removes.extend(
            {"remove": {"path": r, "deletionTimestamp": 0, "dataChange": False}}
            for r in rels
        )
    if not adds:
        return snap.version  # nothing to compact
    return _commit(
        spark, base, snap, removes + adds, "OPTIMIZE",
        read=[a["remove"]["path"] for a in removes],
    )


def vacuum_delta(
    spark: SparkSession,
    path: str,
    keep_versions: int = 0,
    dry_run: bool = False,
) -> list[str]:
    """Delete data files no version >= (latest - keep_versions)
    references: removed-and-aged-out files plus commit-race orphans.
    Time travel keeps working back to ``latest - keep_versions``;
    earlier versions become unreadable — delta's retention tradeoff,
    expressed in versions instead of hours for deterministic tests.
    Deletion-vector ``.bin`` files are vacuumed by the same rule: kept
    while any retained version's add references them, deleted once only
    purged/rewritten versions do. Returns the deleted relative paths.

    ``dry_run=True`` is the retention AUDIT surface (VACUUM DRY RUN):
    the identical walk + reference computation, returning exactly the
    paths a real vacuum would delete while touching nothing — run it
    before committing to a retention cut."""
    import os

    base = _local_path(path).rstrip("/")
    latest = delta_snapshot(spark, base).version
    keep_from = max(0, latest - keep_versions)
    referenced: set[str] = set()
    for v in range(keep_from, latest + 1):
        vsnap = delta_snapshot(spark, base, version_as_of=v)
        referenced |= set(vsnap.files)
        for rel in vsnap.files:
            dv = _file_dv(vsnap, rel)
            if dv:
                dv_rel = _dv_referenced_rel(dv, base)
                if dv_rel is not None:
                    referenced.add(dv_rel)
        # retained versions' CHANGE DATA files stay tail-able
        for act in _commit_cdc_actions(spark, base, v):
            referenced.add(act["path"])
    deleted: list[str] = []
    for root, dirs, files in os.walk(base):
        dirs[:] = [d for d in dirs if d != "_delta_log" and not d.startswith(".")]
        for name in files:
            if not (name.endswith(".parquet") or name.endswith(".bin")):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, base)
            if rel not in referenced:
                if not dry_run:
                    os.remove(full)
                deleted.append(rel)
    return sorted(deleted)


def delta_history(spark: SparkSession, path: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per version, newest first —
    version, timestamp (the commit's ``commitInfo.timestamp`` when
    present, else the log file's mtime), operation name, and the
    add/remove counts. Driver-side metadata only: reads each commit
    JSON once (KBs), no data IO. Commits this module writes carry
    ``commitInfo`` (operation WRITE/MERGE/DELETE/OPTIMIZE/RESTORE);
    foreign commits without one report operation None."""
    from lakeapi_spark.sources.fs import list_children

    log_dir = f"{path.rstrip('/')}/_delta_log"
    out = []
    for fpath, is_dir, mtime in list_children(spark, log_dir):
        name = fpath.rsplit("/", 1)[-1]
        stem = name[:-5]
        if is_dir or not name.endswith(".json") or not stem.isdigit():
            continue
        entry = {
            "version": int(stem),
            "timestamp": mtime,
            "operation": None,
            "numAddedFiles": 0,
            "numRemovedFiles": 0,
        }
        counted = {"numAddedFiles": 0, "numRemovedFiles": 0}
        from_metrics: set[str] = set()
        for line in _read_json_bytes(spark, fpath).splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "commitInfo" in action:
                info = action["commitInfo"]
                entry["operation"] = info.get("operation")
                if info.get("timestamp") is not None:
                    entry["timestamp"] = int(info["timestamp"])
                metrics = info.get("operationMetrics") or {}
                for k in ("numAddedFiles", "numRemovedFiles"):
                    if k in metrics:
                        entry[k] = int(metrics[k])
                        from_metrics.add(k)
            elif "add" in action:
                counted["numAddedFiles"] += 1
            elif "remove" in action:
                counted["numRemovedFiles"] += 1
        # fall back to counting the actions themselves PER KEY: a
        # foreign commit may report only one of the two counters in
        # operationMetrics, and the metrics value wins only for the
        # keys it actually carries (never BOTH for one key — a
        # metrics-carrying key would otherwise double-count)
        for k in counted:
            if k not in from_metrics:
                entry[k] = counted[k]
        out.append(entry)
    return sorted(out, key=lambda e: -e["version"])


def restore_delta(
    spark: SparkSession, path: str, version: int, max_commit_retries: int = 10
) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: one commit that makes the
    LATEST version's file set (and schema) equal the target version's —
    removes files added since, re-adds files removed since (with their
    original stats and DV descriptors), re-emits the old metaData when
    the schema changed. History is preserved: the restore is a new
    version on top, so the "bad" versions remain time-travelable —
    exactly delta-spark's RESTORE semantics, and the cheapest possible
    undo at 100 TB (pure log metadata, zero data IO).

    Raises if a file the target version needs has been VACUUMed away
    (delta errors the same way). The restore reads no file: a lost
    commit race rebuilds the actions from the new latest version."""
    import os

    base = _local_path(path).rstrip("/")
    target = delta_snapshot(spark, base, version)
    needed = list(target.files)
    missing: list[str] = []
    for rel in target.files:  # a restored DV'd file also needs its bin
        dv = _file_dv(target, rel)
        if dv:
            dv_rel = _dv_referenced_rel(dv, base)
            if dv_rel is not None:
                needed.append(dv_rel)
            elif dv.get("storageType") == "p" and not os.path.exists(
                _local_path(dv["pathOrInlineDv"])
            ):  # absolute path outside the table root
                missing.append(dv["pathOrInlineDv"])
    missing += [rel for rel in needed if not os.path.exists(_add_abs(base, rel))]
    if missing:
        raise ValueError(
            f"cannot restore {base} to v{version}: {len(missing)} data "
            f"file(s) were vacuumed (e.g. {missing[0]}); that version is "
            "no longer reconstructable"
        )
    snap = delta_snapshot(spark, base)
    _gate_write(snap, "restore")
    head: list[dict] = []
    if snap.schema.simpleString() != target.schema.simpleString() or (
        snap.partition_columns != target.partition_columns
    ):
        md = dict(target.metadata_raw)
        md.setdefault("format", {"provider": "parquet"})
        head.append({"metaData": md})
    tgt_ids = _file_identities(target)

    def actions(current: DeltaSnapshot) -> list[dict]:
        cur_ids = _file_identities(current)
        seen_cur, seen_tgt = set(cur_ids.values()), set(tgt_ids.values())
        out = list(head)
        for rel in current.files:
            if cur_ids[rel] not in seen_tgt:
                out.append(
                    {"remove": {"path": rel, "deletionTimestamp": 0, "dataChange": True}}
                )
        for rel in target.files:
            if tgt_ids[rel] not in seen_cur:
                add = dict(target.adds_raw.get(rel) or {"path": rel})
                add.setdefault("partitionValues", target.files[rel])
                if add.get("stats") is not None and not isinstance(add["stats"], str):
                    add["stats"] = json.dumps(add["stats"])
                out.append({"add": add})
        return out

    if not actions(snap):
        return snap.version  # already at the target state
    return _commit(
        spark, base, snap, actions, "RESTORE", max_commit_retries=max_commit_retries
    )


def clone_delta(
    spark: SparkSession, src: str, dst: str, version: int | None = None
) -> int:
    """SHALLOW CLONE: create a new delta table at ``dst`` whose version
    0 references the SOURCE table's data files by absolute path — zero
    data copied, so cloning a 100 TB table is a metadata-only commit
    (delta-spark's CREATE TABLE ... SHALLOW CLONE semantics; the
    reference engine has no write surface at all — this extends the
    from-scratch writer). ``version`` clones a historical snapshot
    (time-travel clone). The clone is independent from then on: writes
    land under ``dst`` as normal relative files; removes just drop the
    absolute references. Caveat shared with delta-spark: VACUUM on the
    source deletes from under a shallow clone — vacuum only walks its
    own table root, so the clone's references are invisible to it.

    Deletion vectors survive: relative 'u' descriptors are rewritten as
    absolute 'p' descriptors into the source root (same offset/length),
    inline 'i' and already-absolute 'p' pass through unchanged.

    Returns the clone's committed version (always 0)."""
    import os
    import uuid

    sbase = _local_path(src).rstrip("/")
    dbase = _local_path(dst).rstrip("/")
    if os.path.normpath(sbase) == os.path.normpath(dbase):
        raise ValueError("cannot clone a table onto itself")
    snap = delta_snapshot(spark, sbase, version)
    log = f"{dbase}/_delta_log"
    if os.path.exists(log):
        raise ValueError(f"clone destination {dbase} is already a delta table")
    os.makedirs(log, exist_ok=True)
    md = dict(snap.metadata_raw)
    md["id"] = str(uuid.uuid4())  # a clone is a NEW table identity
    md.setdefault("format", {"provider": "parquet", "options": {}})
    actions: list[dict] = [{"protocol": dict(snap.protocol)}, {"metaData": md}]
    for rel, pvals in snap.files.items():
        add = dict(snap.adds_raw.get(rel) or {"path": rel})
        add["path"] = _add_abs(sbase, rel)
        add.setdefault("partitionValues", pvals)
        if add.get("stats") is not None and not isinstance(add["stats"], str):
            add["stats"] = json.dumps(add["stats"])
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            from lakeapi_spark.sources.dv import dv_relative_path

            add["deletionVector"] = {
                **{k: v for k, v in dv.items() if k != "pathOrInlineDv"},
                "storageType": "p",
                "pathOrInlineDv": f"{sbase}/{dv_relative_path(dv['pathOrInlineDv'])}",
            }
        actions.append({"add": add})
    return _commit(spark, dbase, None, actions, "CLONE")


#: checkpoint parquet layout: one action per row, exactly one non-null
#: column. Maps (not structs) for the variable-key dicts so any
#: partition-column set round-trips; add.stats stays the protocol's
#: JSON string so data skipping survives checkpointing.
def _checkpoint_arrow_schema():
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("name", pa.string()),
                        ("description", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        ("tags", str_map),
                        ("baseRowId", pa.int64()),
                        ("defaultRowCommitVersion", pa.int64()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
        ]
    )


def checkpoint_delta(spark: SparkSession, path: str) -> int:
    """Write a parquet CHECKPOINT of the current snapshot
    (``<v>.checkpoint.parquet`` + ``_last_checkpoint``), so the next
    reader replays ONE parquet file plus post-checkpoint commits
    instead of the whole JSON history. Returns the checkpointed
    version.

    This is the log-replay scale lever: a table written by a streaming
    sink accumulates a commit per micro-batch, and at 100 TB a cold
    reader replaying tens of thousands of KB-sized JSON reads is
    metadata-bound before it touches data. Delta's own answer is the
    checkpoint (delta-spark writes one every 10 commits); this emits
    the same artifact for the fallback log: the reconciled action set
    — protocol, metaData, every live add (stats + DV descriptors
    intact, so data skipping still works post-checkpoint), and the txn
    app versions that carry streaming idempotence.

    Time travel to PRE-checkpoint versions keeps working because JSON
    commits are left in place (``delta_snapshot`` falls back to pure
    JSON replay when ``versionAsOf`` predates the checkpoint). The
    parquet and then ``_last_checkpoint`` are published through
    :func:`_publish` — a reader never observes a half-written
    checkpoint.

    Foreign-reader interop: remove TOMBSTONES for non-live paths are
    carried (VACUUM bookkeeping), as are the row-tracking add fields
    (``tags``, ``baseRowId``, ``defaultRowCommitVersion``). Tombstones
    come from the JSON commits SINCE the previous checkpoint — one
    checkpoint generation, so checkpoint cost is O(churn since last
    checkpoint) and size stays bounded instead of accumulating every
    remove ever (older tombstones age out with the superseded
    checkpoint, the version-horizon analogue of delta's
    time-based tombstone retention). A table whose protocol declares
    writer features this writer does not model (e.g. ``domainMetadata``
    state it would silently drop from the checkpoint) is REFUSED —
    the same uphold-or-refuse rule as :func:`_gate_write`. Remaining
    boundary: truly unknown add keys from exotic writers are projected
    away, and only classic single-file checkpoints are emitted (no
    v2/sidecar)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    # uphold-or-refuse for the checkpoint too: a feature this writer
    # does not model (domainMetadata state, etc.) would be silently
    # DROPPED from the checkpoint, corrupting it for foreign readers
    proto = snap.protocol
    mwv = int(proto.get("minWriterVersion", 2) or 2)
    if mwv > 7:
        raise NotImplementedError(
            f"table requires minWriterVersion {mwv}; checkpointing could "
            "drop state this writer does not model"
        )
    if mwv == 7:
        unknown = set(proto.get("writerFeatures") or []) - _WRITER_FEATURES_UPHELD
        if unknown:
            raise NotImplementedError(
                f"table declares writer features whose state this "
                f"checkpoint writer would drop: {sorted(unknown)} — "
                "refusing per protocol"
            )
    schema = _checkpoint_arrow_schema()

    def _known(action: dict, col: str) -> dict:
        # project onto the checkpoint columns (a foreign writer may have
        # committed extra keys, e.g. add.tags — not part of a checkpoint)
        names = {f.name for f in schema.field(col).type}
        return {k: v for k, v in action.items() if k in names and v is not None}

    rows: list[dict] = [{"protocol": _known(snap.protocol, "protocol")}]
    md = dict(snap.metadata_raw)
    md.setdefault("format", {"provider": "parquet"})
    rows.append({"metaData": _known(md, "metaData")})
    for app_id, ver in sorted(snap.app_versions.items()):
        rows.append({"txn": {"appId": app_id, "version": ver}})
    # remove TOMBSTONES: the protocol keeps removes in checkpoints until
    # retention expires so a foreign VACUUM within the window still sees
    # them. Carry the latest remove per path that is not currently live
    # (a removed-then-re-added path stays an add, never a tombstone),
    # emitted BEFORE the adds so replay order can't drop a live file.
    # Only the JSON commits SINCE the previous checkpoint are read —
    # O(churn) per checkpoint, and tombstones age out one checkpoint
    # generation later instead of accumulating forever.
    tombstones: dict[str, dict] = {}
    log_dir = f"{base}/_delta_log"
    # strictly OLDER checkpoints only: re-checkpointing the same
    # version must re-derive the same tombstones, not lose them all
    prev_ckpt = -1
    for name in os.listdir(log_dir):
        if name.endswith(".checkpoint.parquet") and name.split(".")[0].isdigit():
            v_ck = int(name.split(".")[0])
            if v_ck < snap.version:
                prev_ckpt = max(prev_ckpt, v_ck)
    for name in sorted(os.listdir(log_dir)):
        if not (name.endswith(".json") and name[:-5].isdigit()):
            continue
        if not (prev_ckpt < int(name[:-5]) <= snap.version):
            continue
        with open(f"{log_dir}/{name}") as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                rm = action.get("remove")
                if rm and rm.get("path") and rm["path"] not in snap.files:
                    tombstones[rm["path"]] = rm
    for rel in sorted(tombstones):
        rows.append({"remove": _known(tombstones[rel], "remove")})
    for rel in sorted(snap.files):
        add = dict(snap.adds_raw.get(rel) or {"path": rel})
        add.setdefault("partitionValues", snap.files[rel])
        add.setdefault("size", 0)
        add.setdefault("modificationTime", 0)
        add.setdefault("dataChange", True)
        stats = add.get("stats")
        if stats is not None and not isinstance(stats, str):
            add["stats"] = json.dumps(stats)
        rows.append({"add": _known(add, "add")})

    buf = pa.BufferOutputStream()
    papq.write_table(pa.Table.from_pylist(rows, schema=schema), buf)
    ckpt = f"{log_dir}/{snap.version:020d}.checkpoint.parquet"
    _publish(ckpt, buf.getvalue().to_pybytes(), replace=True)
    last = json.dumps({"version": snap.version, "size": len(rows)})
    _publish(f"{log_dir}/_last_checkpoint", last.encode("utf-8"), replace=True)
    return snap.version


def generate_symlink_manifest(spark: SparkSession, path: str) -> list[str]:
    """GENERATE symlink_format_manifest: write
    ``_symlink_format_manifest/<partition dirs>/manifest`` text files
    listing the ABSOLUTE paths of the snapshot's active data files,
    one per line — the handshake that lets Hive/Presto/Trino/Athena
    treat a delta table as an external parquet table (delta-spark:
    ``DeltaTable.generate("symlink_format_manifest")``). Returns the
    manifest file paths written.

    Partitioned tables get one manifest per partition directory
    (engines prune on the directory name); unpartitioned tables one
    manifest at the manifest root. Stale manifests from dropped
    partitions are removed so the manifest tree always mirrors exactly
    the current snapshot. Tables with deletion vectors are REFUSED
    (delta-spark does the same): a symlink reader would resurrect the
    deleted rows.
    """
    import os
    import shutil

    base = _local_path(path).rstrip("/")
    snap = delta_snapshot(spark, base)
    for rel in snap.files:
        if (snap.adds_raw.get(rel) or {}).get("deletionVector"):
            raise NotImplementedError(
                f"symlink manifest for {base} refused: active file {rel} "
                "carries a deletion vector; external symlink readers "
                "would resurrect its deleted rows (delta-spark refuses "
                "these tables too)"
            )
    root = os.path.join(base, "_symlink_format_manifest")
    by_dir: dict[str, list[str]] = {}
    for rel, pvals in sorted(snap.files.items()):
        if snap.partition_columns:
            sub = "/".join(
                f"{c}={pvals.get(c, '__HIVE_DEFAULT_PARTITION__')}"
                for c in snap.partition_columns
            )
        else:
            sub = ""
        by_dir.setdefault(sub, []).append(os.path.join(base, rel))
    if os.path.isdir(root):
        shutil.rmtree(root)  # drop stale partition manifests atomically-enough
    written = []
    for sub, paths in sorted(by_dir.items()):
        d = os.path.join(root, sub) if sub else root
        os.makedirs(d, exist_ok=True)
        mf = os.path.join(d, "manifest")
        with open(mf, "w") as f:
            f.write("\n".join(paths) + "\n")
        written.append(mf)
    return written


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
    collect_stats: bool = True,
) -> int:
    """CONVERT TO DELTA (delta-utils ``CONVERT TO DELTA parquet.\\``/path\\```):
    register an existing parquet directory as a delta table IN PLACE —
    zero data movement, one commit. Every data file becomes an ``add``
    action carrying its hive-parsed partitionValues, byte size, mtime,
    and (optionally) footer stats, so file skipping and partition
    pruning work from version 0 exactly as for natively-written tables.

    Mirrors delta-spark's contract: the directory must not already be a
    delta table; a hive-partitioned layout must be DECLARED via
    ``partition_by`` matching the directory structure (delta-spark
    requires the partition schema for the same reason — silently
    guessing would bake a wrong layout into table metadata); non-hive
    subdirectories are refused rather than half-converted.

    Scale note: the file walk + footer-stats read is a driver-side
    O(files) pass (each footer read is a few KB of IO) — the same shape
    delta-spark's convert runs; a petabyte-scale convert would
    distribute the stats pass as a mapPartitions over the file list and
    only the final commit would remain driver-side. Set
    ``collect_stats=False`` to skip footers entirely.

    Returns the committed version (always 0)."""
    import os
    import urllib.parse
    import uuid

    base = _local_path(path).rstrip("/")
    log = f"{base}/_delta_log"
    if os.path.isdir(log):
        raise ValueError(f"{path!r} is already a delta table")
    pcols = list(partition_by or [])
    files: list[str] = []
    for root, dirs, names in os.walk(base):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                files.append(os.path.join(root, n))
    if not files:
        raise ValueError(f"no parquet files under {path!r} to convert")
    adds: list[dict] = []
    for fpath in sorted(files):
        rel = os.path.relpath(fpath, base)
        pvals: dict[str, str | None] = {}
        for seg in rel.split(os.sep)[:-1]:
            k, eq, v = seg.partition("=")
            if not eq:
                raise ValueError(
                    f"non-hive subdirectory {seg!r} under {path!r} — convert "
                    "expects a flat dir or col=value partition layout"
                )
            pvals[k] = (
                None
                if v == "__HIVE_DEFAULT_PARTITION__"
                else urllib.parse.unquote(v)
            )
        if set(pvals) != set(pcols):
            raise ValueError(
                f"partition layout {sorted(pvals)} of {rel!r} does not match "
                f"declared partition_by {sorted(pcols)} — declare the layout "
                "explicitly (delta-spark's convert requires it too)"
            )
        add = {
            "path": rel.replace(os.sep, "/"),
            "partitionValues": {c: pvals.get(c) for c in pcols},
            "size": os.path.getsize(fpath),
            "modificationTime": int(os.path.getmtime(fpath) * 1000),
            "dataChange": True,
        }
        if collect_stats:
            stats = _file_stats_json(fpath)
            if stats:
                add["stats"] = stats
        adds.append({"add": add})
    # schema from the parquet reader's own inference; with hive
    # partition dirs the session pins partition values to STRING (the
    # same convention the reference stores), matching partitionValues
    schema = spark.read.parquet(base).schema
    missing = set(pcols) - set(schema.fieldNames())
    if missing:
        raise ValueError(f"partition_by columns {sorted(missing)} not in schema")
    os.makedirs(log, exist_ok=True)
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid5(uuid.NAMESPACE_URL, base)),
                "schemaString": schema.json(),
                "partitionColumns": pcols,
                "format": {"provider": "parquet"},
                "configuration": {},
            }
        },
    ] + adds
    return _commit(spark, base, None, actions, "CONVERT")
