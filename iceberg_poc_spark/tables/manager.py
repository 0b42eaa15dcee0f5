"""Snapshot-committed partitioned tables over parquet — the engine's table
layer, re-implementing the reference's Iceberg surface Spark-first.

Reference parity map (SURVEY.md §2A):

- atomic multi-file append commit (#20, ``BulkParquetToIcebergAtomicMultipart
  .java:97-101``): every :meth:`ParquetTableManager.append` stages parquet
  files invisibly, then publishes ONE manifest via atomic rename — readers
  see the whole batch or none of it.
- hidden partitioning (#12-#14, ``aig/AIGEventsTableCreator.java:166-172``,
  ``HiddenPartitionLoader.java:205-232``): partition values derive from data
  through transforms (identity / years / months / days / hours / truncate /
  bucket — the Iceberg transform set, ``aig/PartitionSpecTest.java:22-29``);
  the user schema never shows them and per-record routing is automatic
  (``partitionBy`` on write) instead of the reference's hand-grouped writes
  (#15-#16, ``:358-362,385-394``).
- filtered scan with partition pruning (#5, ``aig/TimeBasedPartitioning
  Examples.java:180-195``): :meth:`scan` transforms predicate bounds into
  partition-value space and plans only matching files from the manifest —
  the ``planTasks()`` analogue; row-level residual filtering still happens
  in Spark (and parquet min/max pushdown applies within files).
- snapshot/metadata inspection (#27-#28, ``aig/PartitionValueDebugger
  .java:164-196``): :meth:`snapshots` / :meth:`files` / :meth:`partitions`
  metadata DataFrames; time travel via ``read(snapshot_id=...)``.
- table property tuning (#24, ``aig/AIGEventsTableCreator.java:184-191``):
  zstd + 128 MB target file size stored as properties and honored by
  :meth:`compact` (the ``rewrite_data_files`` analogue).
- schema evolution (§1.4): :meth:`add_column`; old files read as NULL for
  new columns, exactly like Iceberg.
- named refs (beyond the reference, ≙ Iceberg branches/tags): commits CAS a
  per-branch head pointer over globally-numbered snapshots;
  :meth:`create_branch` + ``append(ref=...)`` + :meth:`fast_forward` is the
  write-audit-publish flow, :meth:`cherry_pick` the selective publish,
  :meth:`create_tag` an immutable pin that :meth:`expire_snapshots`
  honors.

Scale notes: the commit protocol is O(1) driver-side (one JSON rename);
data moves only through executor-parallel ``df.write``. Manifests list
file-level partition values + row counts, so pruning is metadata-only.
At real 100 TB deployment this layer swaps for the Iceberg Spark catalog
(same API shape; see ``iceberg_conf``) — the rest of the engine is
agnostic because queries only see DataFrames.
"""

from __future__ import annotations

import base64
import json
import os
import uuid
import weakref
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from iceberg_poc_spark.scratch import LRU
from iceberg_poc_spark.tables.xxh64 import bucket_of


def _nested_nullable(dt: DataType) -> DataType:
    """Strip NOT NULL flags from nested struct/array/map members. Parquet
    round-trips nested data as nullable, so casting read data back to a
    declared schema with non-nullable nested fields is both impossible
    (Spark refuses the cast) and meaningless; top-level required-ness stays
    on the StructField and is unaffected."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nested_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nested_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nested_nullable(dt.keyType), _nested_nullable(dt.valueType), True)
    return dt

def _norm_stat(v: Any) -> Any:
    """Normalize a stats/literal value for manifest storage & comparison:
    temporals → ISO strings (lexicographic order == chronological order),
    bytes → utf-8 text."""
    import datetime as dt

    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _stats_may_match(entry: dict, col: str, op: str, lit_v: Any) -> bool:
    """File-skip test against the manifest's per-file column min/max and
    null counts (the Iceberg column-stats / ``null_value_counts`` pruning
    analogue). Conservative on any type mismatch or missing stats."""
    nc = (entry.get("nulls") or {}).get(col)
    if op == "isnull":
        # a file with ZERO nulls in the column cannot satisfy IS NULL —
        # the prune that makes "find un-enriched rows" skip every
        # fully-enriched file at the manifest
        return nc is None or nc > 0
    if op == "notnull":
        return nc is None or nc < entry.get("records", float("inf"))
    if nc is not None and nc == entry.get("records"):
        # every value is NULL: no comparison/membership predicate matches
        return False
    s = (entry.get("stats") or {}).get(col)
    if not s:
        return True
    mn, mx = s
    if op == "in":
        # file may match if ANY member can fall in [mn, mx]
        for v in lit_v:
            b = _norm_stat(v)
            if isinstance(b, bool) or not isinstance(b, (int, float, str)):
                return True
            if isinstance(b, str) != isinstance(mn, str):
                return True
            try:
                if mn <= b <= mx:
                    return True
            except TypeError:
                return True
        return False
    b = _norm_stat(lit_v)
    if isinstance(b, bool) or not isinstance(b, (int, float, str)):
        return True
    if isinstance(b, str) != isinstance(mn, str):
        return True
    try:
        return {
            "==": mn <= b <= mx,
            ">=": mx >= b,
            ">": mx > b,
            "<=": mn <= b,
            "<": mn < b,
        }.get(op, True)
    except TypeError:
        return True


def _seg_may_match(
    spec: list["Transform"], stats: dict | None, where: list
) -> bool:
    """Can ANY file in this segment match? Conservative segment-level
    pre-prune over the segment's [min, max] partition-value summary —
    IDENTITY transforms only (derived transforms' value ordering doesn't
    follow the source column's, so per-file _may_match keeps those).
    Unknown stats, unknown ops, or incomparable types keep the segment;
    every surviving entry is still checked per-file."""
    if not stats:
        return True
    parts = stats.get("p")
    if not parts:
        return True
    ident = {t.source: t.field_name for t in spec if t.kind == "identity"}
    for col, op, lit in where:
        fname = ident.get(col)
        if fname is None or fname not in parts:
            continue
        mn, mx = parts[fname]
        # the summary coerces numeric-looking partition STRINGS to
        # numbers (lexicographic "13" < "2" would mis-bound); mirror
        # that on the predicate literal, or a string-typed point lookup
        # against a numeric summary would TypeError into the
        # conservative keep-everything path and never prune a segment.
        # EQUALITY/MEMBERSHIP ONLY: string equality implies numeric
        # equality, so == / in stay a superset after coercion. Range
        # ops on a string-typed column compare LEXICOGRAPHICALLY at row
        # level ('1000' <= '9' is true) while the coerced summary would
        # compare numerically (1000 <= 9 is false) — coercing there
        # falsely prunes segments whose rows match (e.g. an equality
        # delete whose key set exceeds the point-key limit and arrives
        # as min/max string bounds would silently no-op). For those the
        # uncoerced str-vs-number compare TypeErrors into the
        # conservative keep path below.
        if isinstance(mn, (int, float)) and op in ("==", "in"):
            def _co(v):
                if isinstance(v, str):
                    for cast in (int, float):
                        try:
                            return cast(v)
                        except (TypeError, ValueError):
                            continue
                return v

            lit = [_co(v) for v in lit] if op == "in" else _co(lit)
        try:
            # boundary partitions are KEPT for > / < exactly like the
            # per-entry rule (_may_match), so the segment filter is
            # always a superset of the per-entry result — planned-file
            # counts are identical with or without segment summaries
            if op == "==" and not (mn <= lit <= mx):
                return False
            if op == "in" and not any(mn <= v <= mx for v in lit):
                return False
            if op in (">", ">=") and not mx >= lit:
                return False
            if op in ("<", "<=") and not mn <= lit:
                return False
        except TypeError:
            continue  # incomparable literal: keep the segment
    return True


def _may_match(spec: list["Transform"], entry: dict, where: list) -> bool:
    """Can this data file contain rows satisfying ALL predicates? Maps each
    predicate bound into partition-value space via the spec's transforms
    (order-preserving ones only) and tests the file's manifest partition
    values; additionally tests per-file column min/max stats (so sorted/
    clustered files are skipped even on non-partition columns).
    Conservative: unknown/unmappable → keep. Boundary partitions are kept
    for > / < (partition granularity); the row-level residual filter
    finishes the job."""
    for col, op, lit_v in where:
        if not _stats_may_match(entry, col, op, lit_v):
            return False
    if not _bloom_may_match(entry, where):
        return False
    for col, op, lit_v in where:
        if op in ("isnull", "notnull"):
            continue  # NULL never maps through a partition transform
        for t in spec:
            if t.source != col or not t.order_preserving:
                continue
            pv = entry["partition"].get(t.field_name)
            if pv is None:
                continue
            if op == "in":
                # membership maps through ANY deterministic transform:
                # x IN (v1..vn) => f(x) IN (f(v1)..f(vn))
                try:
                    bounds = {str(t.literal_to_partition(v)) for v in lit_v}
                except (ValueError, AttributeError):
                    continue
                if str(pv) not in bounds:
                    return False
                continue
            try:
                bound = t.literal_to_partition(lit_v)
            except (ValueError, AttributeError):
                continue
            if isinstance(bound, (int, float)) and not isinstance(pv, (int, float)):
                try:
                    pv = type(bound)(pv)
                except (TypeError, ValueError):
                    continue
            else:
                pv, bound = str(pv), str(bound)
            ok = {
                "==": pv == bound,
                ">=": pv >= bound,
                "<=": pv <= bound,
                ">": pv >= bound,
                "<": pv <= bound,
            }.get(op, True)
            if not ok:
                return False
    return True


def _collect_column_stats(md) -> dict[str, list]:
    """Per-file [min, max] for top-level primitive columns, folded over
    row groups (≙ the column bounds Iceberg writes into manifests — the
    reference gets only record counts, #17/#19). Columns with any missing
    row-group stats are omitted (conservative)."""
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    dropped: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            c = rg.column(i)
            name = c.path_in_schema
            if "." in name or name in dropped:
                continue  # nested leaves: skip (top-level pruning only)
            st = c.statistics
            if st is None or not st.has_min_max:
                dropped.add(name)
                continue
            mn, mx = _norm_stat(st.min), _norm_stat(st.max)
            if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                dropped.add(name)
                continue
            if isinstance(mn, float) and (mn != mn or mx != mx):  # NaN
                dropped.add(name)
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return {
        k: [mins[k], maxs[k]] for k in mins if k not in dropped
    }


def _collect_null_counts(md) -> dict[str, int]:
    """Per-file null counts for top-level columns, folded over row groups
    (≙ Iceberg's manifest ``null_value_counts``): drives IS NULL /
    IS NOT NULL file pruning and lets all-null files skip comparison
    predicates even though they carry no min/max. Columns missing a
    null count in ANY row group are omitted (conservative)."""
    counts: dict[str, int] = {}
    dropped: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            c = rg.column(i)
            name = c.path_in_schema
            if "." in name or name in dropped:
                continue
            st = c.statistics
            if st is None or st.null_count is None:
                dropped.add(name)
                continue
            counts[name] = counts.get(name, 0) + int(st.null_count)
    return {k: v for k, v in counts.items() if k not in dropped}


# ------------------------------------------------------- bloom file index
# Per-file Bloom filters on designated columns (≙ Iceberg's
# ``write.parquet.bloom-filter-enabled.column.X`` / Puffin index blobs):
# point lookups on a NON-partition, NON-clustered column prune files at the
# manifest — the capability that makes "fetch document 123456789" a
# handful-of-files read on a 100 TB table instead of a full scan. Enabled
# via table properties (see ``ParquetTableManager`` BLOOM_* constants);
# every write path computes the filter per data file and stores it
# self-described in the manifest entry: {"m": bits, "k": hashes, "b": b64}.

# ------------------------------------------------------ check constraints
# Write-time data-quality gate (≙ Delta Lake CHECK constraints / the
# Iceberg "validation before commit" pattern): table properties
# ``constraints.check.<name> = <boolean SQL expr>`` are enforced on every
# INGEST path (append / overwrite / dynamic partition overwrite / upsert)
# — a batch with any row where a check is not TRUE (false OR null) is
# rejected atomically: nothing is staged, no snapshot is created, the
# table is byte-identical. Enforcement is one map-side pass over the
# incoming BATCH (a global partial-agg of violation counts — no shuffle,
# never a table scan), so the gate costs O(batch) at any table size.
CONSTRAINT_PROP_PREFIX = "constraints.check."

# declared write clustering (≙ Iceberg write.sort-order /
# write.distribution-mode): see ParquetTableManager._write_files
SORT_ORDER_PROP = "write.sort-order"
DISTRIBUTION_PROP = "write.distribution-mode"
RANGE_PARTITIONS_PROP = "write.range-partitions"  # explicit range buckets
RANGE_PARTITIONS_DEFAULT = 8


class ConstraintViolation(ValueError):
    """An ingest batch failed a ``constraints.check.*`` table property."""


class CommitConflict(RuntimeError):
    """A commit could not be re-derived on the head it would swap: a
    concurrent commit removed a file it rewrites, added a delete its
    rewritten rows would escape, or (dynamic partition overwrite) added
    files into a partition it replaces — Iceberg's commit validation.
    The table is untouched; retry, or let the next trigger cover it."""


class TxnConflictError(RuntimeError):
    """A published transaction entry could not be applied because a
    foreign commit invalidated it in the publish→apply window. The
    record is aborted (tombstoned, never replayed); entries already
    applied keep their effect — each is itself a consistent snapshot."""


class RollbackConflictError(TxnConflictError):
    """A catalog-level transaction rollback found a member table's head
    advanced past the target transaction while the rollback was in
    flight. The rollback record is aborted (never clobbers the newer
    commit); member tables already rolled back keep their rollback —
    each is itself a consistent snapshot — and the error names the
    conflicting table so the caller can retry or reconcile."""


# fully-applied txns leave a durable `<seq>.applied` record (what
# rollback_transaction resolves against); keep only the newest N so the
# txns dir — which _publish_txn lists on every allocation — stays O(N +
# outstanding), not O(all-time txns). GC of seq s requires N newer
# applied records to exist IN the dir, so the allocation max can never
# regress below an already-used seq.
TXN_APPLIED_KEEP = 64


# append auto-runs compact_partitions once any partition's file count
# reaches this depth (0/absent = off): streaming micro-appends self-heal
# without an external scheduler. The trigger check is metadata-only;
# only partitions that meet compact_partitions' own criteria (>=
# threshold files, at least one small) are rewritten, every other
# partition keeps file identity.
# Connector-face writes (df.write.format("snaptable")) commit from a
# session-less Python worker and cannot compact inline — run
# compact_partitions from a maintenance job there.
COMPACT_THRESHOLD_PROP = "write.compact-threshold"

# segmented-manifest tuning (manifest-list indirection): entries per
# segment file, and how many consecutive small pieces accumulate before
# a commit coalesces them into fresh target-sized segments. Both are
# table properties so tests can exercise multi-segment layouts with a
# handful of files.
SEGMENT_TARGET_PROP = "meta.segment-target-entries"
SEGMENT_MERGE_RUN_PROP = "meta.segment-merge-run"

# columnar segment codec: each manifest segment persists as ONE parquet
# file with typed columns for the universally-present entry fields plus
# a JSON spill column for the irregular rest (seq, bloom filters,
# writer schemas, ...). Decode is Arrow-speed, and the
# files/partitions metadata tables read the segment files directly
# through Spark (≙ Iceberg's Avro manifests being Spark-readable).
_SEG_BASE_KEYS = ("path", "partition", "records", "bytes")


def _seg_encode_parquet(path: str, entries: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as papq

    rest_rows: list[str | None] = []
    for e in entries:
        rest = {k: v for k, v in e.items() if k not in _SEG_BASE_KEYS}
        rest_rows.append(json.dumps(rest, sort_keys=True) if rest else None)
    tab = pa.table(
        {
            "path": pa.array(
                [e.get("path") for e in entries], type=pa.string()
            ),
            "partition": pa.array(
                [
                    json.dumps(e["partition"], sort_keys=True)
                    if "partition" in e
                    else None
                    for e in entries
                ],
                type=pa.string(),
            ),
            "records": pa.array(
                [e.get("records") for e in entries], type=pa.int64()
            ),
            "bytes": pa.array(
                [e.get("bytes") for e in entries], type=pa.int64()
            ),
            "rest": pa.array(rest_rows, type=pa.string()),
        }
    )
    # exclusive create preserves the old "x"-mode immutability contract
    with open(path, "xb") as f:
        papq.write_table(tab, f, compression="zstd")


def _batch_json(cells) -> list:
    """Parse a vector of JSON-object strings in ONE ``json.loads`` call
    (wrap in an array) — a single C-speed parse instead of one Python
    call per entry; this keeps columnar decode at least as fast as the
    old whole-segment ``json.load``."""
    out = [None] * len(cells)
    idx = [i for i, s in enumerate(cells) if s]
    if idx:
        parsed = json.loads("[" + ",".join(cells[i] for i in idx) + "]")
        for i, o in zip(idx, parsed):
            out[i] = o
    return out


def _seg_decode_parquet(path: str) -> list[dict]:
    """Exact entry dicts of one segment file: a key absent at encode
    time is absent after decode — entries round-trip exactly."""
    import pyarrow.parquet as papq

    tab = papq.read_table(path)
    part_objs = _batch_json(tab.column("partition").to_pylist())
    rest_objs = _batch_json(tab.column("rest").to_pylist())
    out: list[dict] = []
    for p, part, r, b, rest in zip(
        tab.column("path").to_pylist(),
        part_objs,
        tab.column("records").to_pylist(),
        tab.column("bytes").to_pylist(),
        rest_objs,
    ):
        e: dict = {}
        if p is not None:
            e["path"] = p
        if part is not None:
            e["partition"] = part
        if r is not None:
            e["records"] = r
        if b is not None:
            e["bytes"] = b
        if rest is not None:
            e.update(rest)
        out.append(e)
    return out


BLOOM_COLS_PROP = "index.bloom.columns"  # comma-separated column names
BLOOM_BITS_PROP = "index.bloom.bits"  # filter size in bits (default 65536)
BLOOM_HASHES_PROP = "index.bloom.hashes"  # hash count k (default 6)
BLOOM_DEFAULT_BITS = 65536
BLOOM_DEFAULT_HASHES = 6

# per-file NDV sketches (≙ Iceberg Puffin "apache-datasketches" blobs +
# the `ndv` entry in partition/file stats): comma-separated columns for
# which every write records a mergeable HLL distinct sketch per data
# file — Spark's hll_sketch_agg (Apache DataSketches HLL_4), so the
# planner-grade global/partial NDV folds from manifests alone, zero
# data reads, union-mergeable across any file subset
NDV_COLS_PROP = "stats.ndv.columns"
NDV_LGK_PROP = "stats.ndv.lgk"  # sketch precision (default 12 ≈ 1.6% err)
NDV_DEFAULT_LGK = 12


def _parse_dtype(dtype: str) -> DataType:
    """DDL type string -> DataType (via a throwaway single-field struct)."""
    return StructType().add("x", dtype).fields[0].dataType


def _bloom_positions(v: Any, m_bits: int, k: int) -> list[int]:
    """k bit positions for a value: md5 over (seed || normalized-str),
    first 8 digest bytes mod m. Deterministic across processes (no
    PYTHONHASHSEED dependence) so a filter written by one job is readable
    by every later scan."""
    import hashlib as _hl

    b = str(_norm_stat(v)).encode("utf-8")
    return [
        int.from_bytes(_hl.md5(bytes([i]) + b).digest()[:8], "big") % m_bits
        for i in range(k)
    ]


def _bloom_build(values, m_bits: int, k: int) -> str:
    import base64

    bits = bytearray(m_bits // 8)
    for v in values:
        if v is None:
            continue
        for p in _bloom_positions(v, m_bits, k):
            bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode("ascii")


def _bloom_may_contain(bl: dict, v: Any) -> bool:
    import base64

    bits = base64.b64decode(bl["b"])
    return all(
        (bits[p >> 3] >> (p & 7)) & 1
        for p in _bloom_positions(v, int(bl["m"]), int(bl["k"]))
    )


def _bloom_may_match(entry: dict, where: list) -> bool:
    """File-skip test against per-file Bloom filters: definite-absence on
    equality/membership predicates prunes the file. Conservative — only a
    negative filter answer (never-inserted) skips; range ops pass."""
    for col, op, lit_v in where:
        bl = (entry.get("bloom") or {}).get(col)
        if not bl:
            continue
        if op == "==":
            if not _bloom_may_contain(bl, lit_v):
                return False
        elif op == "in":
            if not any(_bloom_may_contain(bl, v) for v in lit_v):
                return False
    return True


def _tz_free_lit(v: Any) -> Column:
    """Literal that is insensitive to the PYTHON PROCESS timezone.

    ``F.lit(naive datetime)`` converts wall time -> epoch micros through
    the driver process's local tz (the TZ env var), NOT the session tz —
    so under TZ=America/New_York with a UTC session the literal lands 4-5
    hours off and a ``>= midnight`` scan bound silently drops the whole
    boundary day (caught by the r6 sf0.01 oracle sweep on
    q_scan_iceberg). Naive temporals go through a string->TIMESTAMP_NTZ
    cast instead, which is wall-clock-exact under any process/session tz
    (table timestamps read as NTZ via inferTimestampNTZ)."""
    import datetime as dt

    if isinstance(v, dt.datetime) and v.tzinfo is None:
        return F.lit(v.isoformat(sep=" ")).cast("timestamp_ntz")
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return F.lit(v.isoformat()).cast("date")
    return F.lit(v)


def _json_lit(v: Any):
    """Manifest/record-storable literal: temporals -> ISO strings (the
    stats comparisons cast implicitly at read)."""
    if isinstance(v, (list, tuple, set)):
        return [_json_lit(x) for x in v]
    n = _norm_stat(v)
    return n if isinstance(n, (int, float, str, bool)) else str(n)


def _null_safe_eq(left: DataFrame, right: DataFrame, cols: list[str]) -> Column:
    """Null-safe equi-join condition over ``cols`` (Iceberg equality
    deletes match NULL keys to NULL values; plain ``on=cols`` would never
    match them). ``<=>`` is still an equi-join predicate, so Spark plans
    a hash/broadcast join, not a cartesian."""
    cond = left[cols[0]].eqNullSafe(right[cols[0]])
    for c in cols[1:]:
        cond = cond & left[c].eqNullSafe(right[c])
    return cond


# ------------------------------------------------- row-level delete state
# Every merge-on-read delete is a TABLE-LEVEL descriptor in one of the
# manifest's three lists — equality deletes, deletion vectors, predicate
# deletes ``{where, seq}`` — bound by sequence number (≙ Iceberg v2):
# every data-file entry and descriptor carries ``seq``, the version of
# the commit that added it, and a delete applies to a file exactly when
# ``delete seq > file seq``. A delete file written at birth cannot hold
# its own seq (the version is allocated after the write), so its seq
# lives on the descriptor; a file merged by compact_deletes holds
# ``__del_seq`` per row and its descriptor's seq is the highest of them.
# An upsert writes no delete file: its descriptor names the epoch's own
# data files (``src``) as the key source, and shares their seq, so they
# never delete their own rows.
_DELETE_LISTS = ("global_eq_deletes", "global_pos_deletes", "global_pred_deletes")


def _stamped(d: dict, seq: int) -> dict:
    """``d`` as persisted by a commit allocating ``seq``: entries and
    descriptors the commit adds take its seq, carried ones keep theirs."""
    return d if "seq" in d else {**d, "seq": seq}


def _without_deletes(m: dict) -> dict:
    """``m`` without its table-level delete descriptors — for a commit
    whose files replace every file a descriptor could touch."""
    return {k: v for k, v in m.items() if k not in _DELETE_LISTS}


def _by_file_name(pairs) -> Column:
    """The value of the file a scanned row comes from, looked up by file
    name in a literal map over ``pairs`` ((path, int or str value)) —
    plain expression, no join. Built as ONE SQL string: a per-literal
    Column costs a py4j round trip each."""

    def quoted(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    kv = ", ".join(
        f"{quoted(os.path.basename(p))}, "
        + (quoted(v) if isinstance(v, str) else f"{int(v)}L")
        for p, v in pairs
    )
    return F.expr(f"element_at(map({kv}), _metadata.file_name)")


def _key_files(g: dict) -> tuple[str, ...]:
    """The files holding a delete descriptor's rows (table-relative
    paths), which are also its identity: an upsert's descriptor names
    the epoch's data files (``src``), any other its one delete file."""
    return tuple(g["src"]) if "src" in g else (g["path"],)


def _delete_files(m: dict) -> list[str]:
    """Every file the delete descriptors of ``m`` read (a predicate delete
    reads none)."""
    return [
        p
        for k in ("global_eq_deletes", "global_pos_deletes")
        for g in m.get(k, [])
        for p in _key_files(g)
    ]


def _desc_id(g: dict):
    """A persisted descriptor's identity: its key files, or a predicate
    delete's seq (it has no files; a commit adds at most one)."""
    return g["seq"] if "where" in g else _key_files(g)


def _hive_values(path: str) -> dict[str, str | None]:
    """Identity partition values of a managed data file, from its hive
    path (``data/k=v/...``; unescaped, the default partition as None).
    The hive layout strips these columns from the file itself."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    for seg in os.path.dirname(path).split(os.sep):
        k, eq, v = seg.partition("=")
        if eq:
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return out


def _by_cols(gdels: list[dict]) -> dict[tuple, list[dict]]:
    """Equality-delete descriptors grouped by key-column set."""
    out: dict[tuple, list[dict]] = {}
    for g in gdels:
        out.setdefault(tuple(g["cols"]), []).append(g)
    return out


def _dv_positions(tbl) -> dict[str, Any]:
    """Deleted row positions per data file name, decoded from bitmap
    deletion-vector rows (``_file_name``, ``words: [{w, b}]``): word w's
    set bit i is position w*64+i. Positions come back sorted and unique,
    merged across every row naming the same file."""
    import numpy as np
    import pyarrow.compute as pc

    words = tbl.column("words").combine_chunks()
    lens = pc.list_value_length(words).to_numpy(zero_copy_only=False)
    flat = words.flatten()
    w = flat.field("w").to_numpy(zero_copy_only=False).astype(np.int64)
    b = flat.field("b").to_numpy(zero_copy_only=False).astype("<i8")
    bits = np.unpackbits(
        b.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    word, bit = np.nonzero(bits)
    pos = w[word] * 64 + bit
    owner = np.repeat(np.arange(len(lens)), lens)[word]  # row of each bit
    counts = np.bincount(owner, minlength=len(lens))
    out: dict[str, list] = {}
    for fn, p in zip(
        tbl.column("_file_name").to_pylist(),
        np.split(pos, np.cumsum(counts)[:-1]),
    ):
        out.setdefault(fn, []).append(p)
    return {fn: np.unique(np.concatenate(ps)) for fn, ps in out.items()}


@dataclass
class FileDeletes:
    """The merge-on-read deletes that apply to one data file."""

    preds: list[dict]  # predicate descriptors with seq > file seq that may match
    eq: list[dict]  # equality-delete descriptors with seq > file seq
    dv: list[dict]  # deletion-vector descriptors naming the file
    n_pos: int  # distinct row positions those vectors delete

    @property
    def dirty(self) -> bool:
        return bool(self.preds or self.eq or self.n_pos)


def _predicate(where: list) -> Column | None:
    """AND of (col, op, literal) triples as a Column; None if empty."""
    pred = None
    for col, op, lit_v in where:
        c = F.col(col)
        if op == "isnull":
            p = c.isNull()
        elif op == "notnull":
            p = c.isNotNull()
        elif op == "in":
            p = c.isin(list(lit_v))
        else:
            v = _tz_free_lit(lit_v)
            p = {"==": c == v, ">=": c >= v, "<=": c <= v, ">": c > v, "<": c < v}[op]
        pred = p if pred is None else (pred & p)
    return pred


# ----------------------------------------------------------------- transforms


@dataclass(frozen=True)
class Transform:
    """A hidden-partition transform: derives a partition value column from a
    source column (Iceberg transform semantics)."""

    kind: str
    source: str
    arg: int | None = None

    @property
    def field_name(self) -> str:
        if self.kind == "identity":
            return self.source
        if self.arg is not None:
            return f"{self.source}_{self.kind}{self.arg}"
        return f"{self.source}_{self.kind}"

    def expr(self) -> Column:
        c = F.col(self.source)
        if self.kind == "identity":
            return c
        if self.kind == "years":
            return F.year(c)
        if self.kind == "months":
            return F.year(c) * 100 + F.month(c)
        if self.kind == "days":
            return F.date_format(c, "yyyy-MM-dd")
        if self.kind == "hours":
            return F.date_format(c, "yyyy-MM-dd-HH")
        if self.kind == "truncate":
            return (c - (c % F.lit(self.arg))).cast("long")
        if self.kind == "bucket":
            return F.pmod(F.xxhash64(c), F.lit(self.arg))
        raise ValueError(f"unknown transform {self.kind}")

    # ---- predicate-bound mapping for pruning (value-space -> part-space)
    def literal_to_partition(self, v: Any) -> Any:
        import datetime as dt

        if self.kind == "identity":
            return v
        if isinstance(v, str) and self.kind in ("years", "months", "days", "hours"):
            v = dt.datetime.fromisoformat(v)
        if self.kind == "years":
            return v.year
        if self.kind == "months":
            return v.year * 100 + v.month
        if self.kind == "days":
            return v.strftime("%Y-%m-%d")
        if self.kind == "hours":
            return v.strftime("%Y-%m-%d-%H")
        if self.kind == "truncate":
            return v - (v % self.arg)
        raise ValueError(f"transform {self.kind} cannot map range literals")

    @property
    def order_preserving(self) -> bool:
        return self.kind in ("identity", "years", "months", "days", "hours", "truncate")


def identity(col: str) -> Transform:
    return Transform("identity", col)


def years(col: str) -> Transform:
    return Transform("years", col)


def months(col: str) -> Transform:
    return Transform("months", col)


def days(col: str) -> Transform:
    return Transform("days", col)


def hours(col: str) -> Transform:
    return Transform("hours", col)


def truncate(col: str, width: int) -> Transform:
    return Transform("truncate", col, width)


def bucket(col: str, n: int) -> Transform:
    return Transform("bucket", col, n)


# ------------------------------------------------------------------- manager

# Reference-parity default properties (aig/AIGEventsTableCreator.java:184-191)
DEFAULT_PROPERTIES = {
    "write.format.default": "parquet",
    "write.parquet.compression-codec": "zstd",
    "write.target-file-size-bytes": str(128 * 1024 * 1024),
}


class _SegCache(OrderedDict):
    """Per-warehouse segment cache: (table, segment-id) -> entry list,
    carrying its own cached-entry counter so size bookkeeping stays
    coherent with THIS dict's lifetime (not a shared side table that a
    registry eviction could desynchronize). Ordered so eviction is true
    LRU: every put AND hit moves the key to the MRU end — a plain dict
    keeps a re-assigned key at its ORIGINAL position, where it could
    become "oldest", halt the eviction loop, and leave the cache above
    its entry budget until a later put."""

    __slots__ = ("entries",)

    def __init__(self) -> None:
        super().__init__()
        self.entries = 0


class ParquetTableManager:
    """Warehouse of snapshot-committed partitioned parquet tables.

    Layout per table::

        <warehouse>/<name>/
            data/...partition dirs.../part-*.parquet
            _staging/<uuid>/           (invisible until commit)
            _meta/v{N}.json            (manifest: files + stats + schema)
            _meta/current              (atomic pointer to live version)
    """

    # warehouse abspath -> {(table, segment-id): parsed entry list}.
    # Segments are immutable once written and uuid-named (ids never
    # recur), so a PROCESS-wide cache is always coherent — and it must
    # be process-wide, not per-instance: connector writes and streaming
    # micro-batches construct a fresh manager per call, which would
    # otherwise re-decode the whole inventory every batch.
    # LRU across warehouses (move-to-end on every manager construct):
    # a hot long-lived warehouse stays cached no matter how many
    # throwaway tmp warehouses a pytest/notebook session opens after it
    # — FIFO would evict it mid-use and silently re-decode. Bounded at
    # SEG_CACHE_MAX_WAREHOUSES: a long pytest/notebook session touches
    # hundreds of throwaway warehouses; without a bound the shared cache
    # would pin every one of them for the process lifetime.
    SEG_CACHE_MAX_WAREHOUSES = 32
    _SEG_CACHES = LRU(SEG_CACHE_MAX_WAREHOUSES)

    # per-warehouse segment-entry bound: one huge warehouse must not
    # grow the process cache without limit. At ~200 B of dict refs per
    # entry this caps driver heap near 100 MB per warehouse; past it the
    # OLDEST segments drop (append-mostly workloads keep re-reading the
    # newest) and re-decode on demand.
    SEG_CACHE_MAX_ENTRIES_PER_WAREHOUSE = 500_000

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self._in_txn_repair = False
        self._seg_cache = self._SEG_CACHES.setdefault(
            os.path.abspath(warehouse), _SegCache
        )
        os.makedirs(warehouse, exist_ok=True)

    def _seg_cache_put(self, key: tuple[str, str], entries: list[dict]) -> None:
        """Insert a decoded segment under the per-warehouse entry budget:
        past SEG_CACHE_MAX_ENTRIES_PER_WAREHOUSE the OLDEST cached
        segments drop (append-mostly readers keep hitting the newest)
        and re-decode on demand — one huge warehouse can no longer grow
        the process cache without bound. The entry counter lives ON the
        cache dict itself, so a warehouse LRU-evicted from the shared
        registry while a live manager still holds its dict keeps a
        coherent private count (and a re-registered warehouse starts at
        zero instead of inheriting a stale total)."""
        cache = self._seg_cache
        prev = cache.get(key)
        if prev is not None:
            cache.entries -= len(prev)
        cache[key] = entries
        cache.move_to_end(key)  # re-assignment must land at the MRU end
        cache.entries += len(entries)
        while (
            cache.entries > self.SEG_CACHE_MAX_ENTRIES_PER_WAREHOUSE
            and len(cache) > 1
        ):
            oldest = next(iter(cache))
            if oldest == key:  # never evict the segment just inserted
                break
            cache.entries -= len(cache.pop(oldest))

    def _seg_cache_drop(self, key: tuple[str, str]) -> None:
        """Remove one segment from the cache, keeping the size book."""
        prev = self._seg_cache.pop(key, None)
        if prev is not None:
            self._seg_cache.entries -= len(prev)

    # ---------------------------------------------------------------- paths
    def _dir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _meta_dir(self, name: str) -> str:
        return os.path.join(self._dir(name), "_meta")

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._meta_dir(name), f"v{version}.json")

    def _heads_dir(self, name: str, ref: str) -> str:
        return os.path.join(self._meta_dir(name), "heads", ref)

    def _tag_path(self, name: str, tag: str) -> str:
        return os.path.join(self._meta_dir(name), "tags", tag)

    def _ref_head(self, name: str, ref: str = "main") -> tuple[int, int]:
        """(seq, manifest_version) of a branch head, or (-1, -1) if the
        branch has no commits. The head is the highest ``seq-*`` file; each
        seq file appears atomically WITH its content (hard-linked from a
        fully-written temp file), so readers never observe a half-written
        pointer.

        Read-repair: a PUBLISHED multi-table transaction whose head
        advances were interrupted (crash between the txn record landing
        and the per-table applies) is rolled forward for ``name`` before
        the head is resolved — so once the txn record exists, no reader
        can ever observe this table without the txn's effect (the
        no-partial-visibility half of :meth:`transaction`)."""
        if not self._in_txn_repair:
            self._repair_txns(name)
        d = self._heads_dir(name, ref)
        try:
            entries = [fn for fn in os.listdir(d) if fn.startswith("seq-")]
        except FileNotFoundError:
            return (-1, -1)
        if not entries:
            return (-1, -1)
        top = max(entries)
        with open(os.path.join(d, top)) as f:
            return (int(top[4:]), int(f.read().strip()))

    def _current_version(self, name: str) -> int:
        _seq, v = self._ref_head(name, "main")
        if v < 0:
            raise FileNotFoundError(f"table {name!r} does not exist")
        return v

    # -------------------------------------------------- segmented manifests
    # Manifest-list indirection (≙ Iceberg's manifest-list -> manifest-file
    # two-level metadata, the design that makes commit metadata O(delta)):
    # a snapshot's file inventory is stored as IMMUTABLE segment files
    # (_meta/segs/<id>.parquet, see _seg_encode_parquet) plus a
    # per-snapshot ordered segment-id list and per-segment summaries
    # ("segments" / "seg_stats") in the manifest JSON. An append reuses
    # every base segment by reference and writes ONE new segment with its
    # own files; a merge-on-read delete changes no entry and writes no
    # segment at all.
    #
    # Facade contract: _load_manifest returns a plain dict whose "files"
    # key is the FULL materialized entry list, so the write-side consumer
    # surface never sees segments. The entries are SHARED with the
    # process-wide segment cache (a load is O(entry refs), never a
    # per-entry copy — metadata ops stay sub-linear in inventory size).
    # INVARIANT: consumers MUST NOT mutate an entry in place — copy it
    # (`e = dict(e)`) and REPLACE it in the list, as every mutating site
    # does. Commit-time segment reuse is decided by entry-object identity
    # runs, so an in-place mutation would be lost to segment reuse even
    # before cache aliasing is considered (test_segments.py pins both).
    #
    # Read side: scan() and read() share ONE planner (_plan_read) over
    # the raw manifest — segment summaries ("seg_stats": [min, max] per
    # identity-partition value, computed once at segment write) drop
    # whole segments before their entries are touched (Iceberg's
    # manifest-file partition-summary trick), then per-entry stats and
    # bucket pruning pick the files, so a partition-scoped scan is
    # O(segments + matching entries), not O(table).

    def _segs_dir(self, name: str) -> str:
        return os.path.join(self._meta_dir(name), "segs")

    def _seg_path(self, name: str, segid: str) -> str:
        return os.path.join(self._segs_dir(name), f"{segid}.parquet")

    def _seg_entries(self, name: str, segid: str) -> list[dict]:
        """Parsed entries of one immutable segment (process-cached)."""
        key = (name, segid)
        hit = self._seg_cache.get(key)
        if hit is None:
            hit = _seg_decode_parquet(self._seg_path(name, segid))
            self._seg_cache_put(key, hit)
        else:
            self._seg_cache.move_to_end(key)  # LRU: hits refresh recency
        return hit

    def _prefetch_segments(self, name: str, seg_ids: list[str]) -> None:
        """Cold-load prefetch: columnar segment decode releases the GIL
        in Arrow, so uncached segments load threaded — the one-time
        materialization cost of a large inventory drops ~4x on a hot box
        (subsequent loads are pure cache refs)."""
        cold = [sid for sid in seg_ids if (name, sid) not in self._seg_cache]
        if len(cold) <= 4:
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=8) as pool:
            decoded = pool.map(
                lambda sid: _seg_decode_parquet(self._seg_path(name, sid)),
                cold,
            )
            for sid, entries in zip(cold, decoded):
                self._seg_cache_put((name, sid), entries)

    def _manifest_raw(self, name: str, version: int) -> dict:
        """The manifest JSON as stored — 'segments' ids, no
        materialization. Metadata-only callers (segment reaping) use
        this to stay O(1) in inventory size."""
        with open(self._manifest_path(name, version)) as f:
            return json.load(f)

    def _load_manifest(self, name: str, version: int | None = None) -> dict:
        v = self._current_version(name) if version is None else version
        m = self._manifest_raw(name, v)
        seg_ids = m.pop("segments")
        # per-segment summaries ride along under a helper key so consumer
        # dict(m) copies can never persist a stale copy
        m["_seg_stats"] = m.pop("seg_stats")
        self._prefetch_segments(name, seg_ids)
        files: list[dict] = []
        layout: list[tuple[str, int]] = []
        for sid in seg_ids:
            entries = self._seg_entries(name, sid)
            # entries are SHARED with the immutable segment cache —
            # O(refs) per load, no per-entry copy; safe because every
            # mutation site copies the entry before changing it (the
            # same invariant commit-time identity reuse already
            # requires — an in-place mutator would lose its write to
            # segment reuse even with defensive copies here)
            files.extend(entries)
            layout.append((sid, len(entries)))
        m["files"] = files
        # commit-time segment-reuse bookkeeping: the handed-out entry
        # objects in base order + the segment spans they came from.
        # Kept as live references (never persisted — _alloc_version
        # strips them) so id() stays unambiguous for the run matcher.
        m["_seg_layout"] = layout
        m["_base_entries"] = list(files)
        return m

    def _plan_segments(
        self, name: str, manifest: dict
    ) -> list[tuple[str | None, list[dict]]]:
        """Ordered (segment-id | None, entries) plan for a manifest about
        to be persisted: a base segment whose entry OBJECTS survive as an
        intact contiguous run in manifest["files"] is reused by id (None
        entries slot carries its live objects for possible merging); all
        other entries become new segments. Pure pointer walk — O(len
        files) with zero JSON work, so commit planning never re-reads the
        inventory."""
        files = manifest.get("files") or []
        base = manifest.get("_base_entries")
        layout = manifest.get("_seg_layout")
        plan: list[tuple[str | None, list[dict]]] = []
        if not base or not layout:
            if files:
                plan.append((None, list(files)))
            return plan
        pos = {id(e): i for i, e in enumerate(base)}
        starts: dict[int, tuple[str, int]] = {}
        off = 0
        for sid, cnt in layout:
            if cnt:
                starts[off] = (sid, cnt)
            off += cnt
        i, n = 0, len(files)
        buf: list[dict] = []
        while i < n:
            p = pos.get(id(files[i]))
            if p is not None and p in starts:
                sid, cnt = starts[p]
                if i + cnt <= n and all(
                    pos.get(id(files[i + k])) == p + k
                    for k in range(1, cnt)
                ):
                    if buf:
                        plan.append((None, buf))
                        buf = []
                    plan.append((sid, files[i : i + cnt]))
                    i += cnt
                    continue
            buf.append(files[i])
            i += 1
        if buf:
            plan.append((None, buf))
        return plan

    @staticmethod
    def _seg_summary(entries: list[dict]) -> dict:
        """Per-segment summary, computed ONCE when a segment is written
        (O(delta)) and carried by reference afterwards:

        - ``n``: entry count (scan()'s files_total, snapshots());
        - ``rec``/``byt``: record and byte rollups (snapshots());
        - ``pr``: per-partition [n_files, n_records, n_bytes] rollup
          (partition_stats());
        - ``ext``: whether any entry is externally registered
          (_require_unique_basenames);
        - ``p``: [min, max] of each identity-partition value whose type
          is homogeneous and orderable — the planner's segment pruning
          (_seg_may_match).

        Every writer (``_write_files``, ``add_files``, the snaptable
        connector) records partition, records and bytes on each entry,
        so every field but ``p`` is always present."""
        summary: dict = {
            "n": len(entries),
            "rec": sum(e["records"] for e in entries),
            "byt": sum(e["bytes"] for e in entries),
        }
        # per-partition rollup (≙ Iceberg partition statistics files),
        # keyed by the canonical partition JSON; the table-level
        # partitions view folds these maps across segments —
        # O(segments x partitions-per-segment), entries never decoded
        pr: dict[str, list[int]] = {}
        for e in entries:
            k = json.dumps(e["partition"], sort_keys=True)
            slot = pr.setdefault(k, [0, 0, 0])
            slot[0] += 1
            slot[1] += e["records"]
            slot[2] += e["bytes"]
        summary["pr"] = pr
        # Managed writes are uuid-named — unique by construction — so a
        # manifest whose every segment says ext=False passes the MoR
        # basename-uniqueness guard O(segments), no entry walk
        summary["ext"] = any(bool(e.get("external")) for e in entries)
        parts: dict[str, list] = {}
        cols: set[str] | None = None
        for e in entries:
            p = e["partition"]
            cols = set(p) if cols is None else cols & set(p)
        for c in cols or set():
            vals = [e["partition"][c] for e in entries]
            if any(v is None for v in vals):
                continue
            # partition values serialize as strings (hive layout);
            # min/max must live in the domain predicates compare in, so
            # coerce numerics (lexicographic "13" < "2" would otherwise
            # wrongly bound the segment). Coerce ONLY when strings are
            # present: int() on an already-numeric 7.5 silently
            # truncates to 7 and the [7,7] bound would prune the
            # segment a ==7.5 scan needs (raw numeric values reach the
            # manifest via add_files' partition_values)
            if any(isinstance(v, str) for v in vals):
                for cast in (int, float):
                    try:
                        vals = [cast(v) for v in vals]
                        break
                    except (TypeError, ValueError):
                        continue
            # NaN poisons min()/max() (every comparison is False, so the
            # first element wins regardless of the rest): a [nan, nan]
            # bound would prune segments whose OTHER values match —
            # breaking the summary-is-a-superset invariant. No summary
            # for a column carrying NaN; per-entry _may_match still
            # applies its own NaN rules.
            if any(isinstance(v, float) and v != v for v in vals):
                continue
            try:
                parts[c] = [min(vals), max(vals)]
            except TypeError:
                continue  # mixed types: no summary for this column
        if parts:
            summary["p"] = parts
        return summary

    def _write_segments(
        self, name: str, manifest: dict, seq: int
    ) -> tuple[list[str], dict, list[str]]:
        """Persist a manifest's inventory as segment files; returns the
        ordered segment-id list, their summaries and the ids written
        fresh. Entries without a ``seq`` are persisted with ``seq``.
        Reused segments cost zero I/O. Runs of
        >= merge-run consecutive small pieces (tiny reused segments from
        past micro-appends + the new delta) coalesce into fresh
        target-sized segments, so the per-snapshot segment count stays
        O(files/target + merge-run) under streaming micro-appends —
        amortized O(1) extra writes per commit (≙ Iceberg's
        commit-time manifest merging, min-count-to-merge)."""
        props = manifest.get("properties", {}) or {}

        def _prop(key: str, dflt: int) -> int:
            try:
                return max(1, int(props.get(key, dflt)))
            except (TypeError, ValueError):
                return dflt

        target = _prop(SEGMENT_TARGET_PROP, 512)
        merge_run = _prop(SEGMENT_MERGE_RUN_PROP, 16)
        # a piece is mergeable while under-full; merged output is emitted
        # in FULL target-sized chunks, so re-merging can't cascade and the
        # amortized extra write per commit stays O(delta)
        small = target - 1
        plan = self._plan_segments(name, manifest)
        prior_stats = manifest.get("_seg_stats", {})
        out_ids: list[str] = []
        out_stats: dict[str, dict] = {}
        fresh: list[str] = []

        def emit_new(entries: list[dict]) -> None:
            if not entries:
                return
            os.makedirs(self._segs_dir(name), exist_ok=True)
            for j in range(0, len(entries), target):
                chunk = [_stamped(e, seq) for e in entries[j : j + target]]
                sid = f"s-{uuid.uuid4().hex[:16]}"
                _seg_encode_parquet(self._seg_path(name, sid), chunk)
                self._seg_cache_put((name, sid), [dict(e) for e in chunk])
                out_ids.append(sid)
                fresh.append(sid)
                out_stats[sid] = self._seg_summary(chunk)

        def reuse(sid: str) -> None:
            out_ids.append(sid)
            out_stats[sid] = prior_stats[sid]  # carried by reference

        run: list[tuple[str | None, list[dict]]] = []

        def flush() -> None:
            if not run:
                return
            if len(run) >= merge_run:
                emit_new([e for _sid, es in run for e in es])
            else:
                for sid, es in run:
                    if sid is not None:
                        reuse(sid)
                    else:
                        emit_new(es)
            run.clear()

        for sid, es in plan:
            if len(es) <= small:
                run.append((sid, es))
            else:
                flush()
                if sid is not None:
                    reuse(sid)
                else:
                    emit_new(es)
        flush()
        return out_ids, out_stats, fresh

    def _max_manifest_version(self, name: str) -> int:
        meta = self._meta_dir(name)
        best = -1
        try:
            for fn in os.listdir(meta):
                if fn.startswith("v") and fn.endswith(".json"):
                    try:
                        best = max(best, int(fn[1:-5]))
                    except ValueError:
                        pass
        except FileNotFoundError:
            pass
        return best

    def _alloc_version(self, name: str, manifest: dict) -> int:
        """Allocate a globally-unique snapshot id by exclusive-create of
        the manifest file at max+1 (ids are shared across all branches, as
        in Iceberg).

        Persistence is SEGMENTED: the inventory goes to immutable segment
        files (unchanged base segments reused by reference — zero bytes
        rewritten), and the manifest JSON stores only the segment-id list
        plus table metadata, so a micro-append's commit I/O is O(delta)
        no matter how many files the table holds.

        Every data-file entry and delete descriptor this commit adds
        (the ones without a ``seq``) is persisted with ``seq`` = the
        allocated version — the sequence number deletes are scoped by.
        The in-memory manifest dict (facade "files" + reuse bookkeeping)
        is left unstamped; its only caller is :meth:`_advance`, which
        re-derives a commit that loses the head CAS on the winning head
        and allocates again. A lost allocation removes the segments it
        wrote."""
        persist = {
            k: v
            for k, v in manifest.items()
            if k
            not in ("files", "_base_entries", "_seg_layout", "_seg_stats")
        }
        while True:
            v = self._max_manifest_version(name) + 1
            seg_ids, seg_stats, fresh = self._write_segments(name, manifest, v)
            for key in _DELETE_LISTS:
                if key in manifest:
                    persist[key] = [_stamped(d, v) for d in manifest[key]]
            persist["segments"] = seg_ids
            persist["seg_stats"] = seg_stats
            persist["version"] = v
            try:
                with open(self._manifest_path(name, v), "x") as f:
                    json.dump(persist, f)
                manifest["version"] = v
                return v
            except FileExistsError:
                for sid in fresh:
                    os.remove(self._seg_path(name, sid))
                    self._seg_cache_drop((name, sid))

    def _link_pointer(self, path: str, content: str) -> bool:
        """Atomically publish ``content`` at ``path`` iff it doesn't exist
        (hard link from a written temp = exclusive create WITH content).
        Returns False if another writer won."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(
            os.path.dirname(path), f".tmp.{uuid.uuid4().hex}"
        )
        with open(tmp, "w") as f:
            f.write(content)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def _advance(
        self,
        name: str,
        ref: str,
        operation: str,
        derive,
        base: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """THE head advance; every commit to a branch goes through here.
        Loop: resolve ``ref``'s head, ``derive(head)``, allocate the
        snapshot (:meth:`_alloc_version`), exclusive-create the next
        ``seq`` pointer — a lock-free CAS, so readers always see a
        complete snapshot (≙ the reference's single AppendFiles.commit()).
        A writer that loses the CAS re-derives on the head that won and
        never links a snapshot derived from a stale one (Iceberg's retry
        contract); its orphaned manifest is reaped by
        :meth:`expire_snapshots`.

        ``derive(head)`` is a pure function of the head manifest (None
        on a branch with no commits; never mutated) and the caller's
        staged delta. It returns a new manifest; an existing snapshot id
        to link without allocating (:meth:`fast_forward`); or None when
        the change is already on the head (idempotent replay — the head
        version is returned). It raises :class:`CommitConflict` when the
        change cannot be re-applied there, ``ValueError`` when a guard
        no longer holds. ``base``, the manifest the caller already
        loaded, is derived on as is while it is still the head.

        The stamp rules live only here: ``operation``; ``parent`` = the
        head ``derive`` saw; a fresh ``committed_at``; ``txn`` /
        ``txn_entry`` only from ``txn`` = (record, entry index), never
        inherited (an inherited stamp makes a plain commit impersonate a
        txn member, or false-positives a DDL entry's idempotence walk);
        ``ndv_tbl`` only when ``derive`` set a blob of its own — the
        head's is valid only for the head's exact file set."""
        import time as _time

        os.makedirs(self._meta_dir(name), exist_ok=True)
        while True:
            seq, cur = self._ref_head(name, ref)
            if base is not None and base["version"] == cur:
                head = base
            else:
                head = self._load_manifest(name, cur) if cur >= 0 else None
            base = None  # a lost CAS means the head moved: reload
            out = derive(head)
            if out is None:
                return cur
            if isinstance(out, int):
                version = out
            else:
                out.pop("txn", None)
                out.pop("txn_entry", None)
                if head is not None and out.get("ndv_tbl") is head.get(
                    "ndv_tbl"
                ):
                    out.pop("ndv_tbl", None)
                if txn is not None:
                    out["txn"], out["txn_entry"] = txn
                out["operation"] = operation
                out["parent"] = None if head is None else head["version"]
                out["committed_at"] = _time.time()
                version = self._alloc_version(name, out)
            if self._link_pointer(
                os.path.join(self._heads_dir(name, ref), f"seq-{seq + 1:09d}"),
                str(version),
            ):
                return version

    @staticmethod
    def _validate_rewrite(base: dict, head: dict, removed: list[dict]) -> None:
        """Iceberg's RewriteFiles validation, for a commit that carries
        rows read at ``base`` and retires ``removed`` (entries of
        ``base``): raise :class:`CommitConflict` when ``head`` lost one
        of those files, or gained a delete descriptor ``base`` lacked.
        The rewritten rows take this commit's newer seq, so such a
        delete would no longer reach them."""
        if head is base:
            return
        live = {e["path"] for e in head["files"]}
        for e in removed:
            if e["path"] not in live:
                raise CommitConflict(
                    f"a concurrent commit removed {e['path']!r}, which "
                    f"this commit rewrites; aborting"
                )
        for key in _DELETE_LISTS:
            had = {_desc_id(g) for g in base.get(key, [])}
            if any(_desc_id(g) not in had for g in head.get(key, [])):
                raise CommitConflict(
                    "a concurrent commit added a delete the rows this "
                    "commit rewrites would escape; aborting"
                )

    def _rewrite(self, base: dict, removed: list[dict], added: list[dict]):
        """``derive`` of a commit that replaces ``removed`` (entries of
        ``base`` whose rows it read) with ``added``: files other commits
        stacked on the head stay, under :meth:`_validate_rewrite`."""
        gone = {e["path"] for e in removed}

        def derive(head: dict) -> dict:
            self._validate_rewrite(base, head, removed)
            files = [e for e in head["files"] if e["path"] not in gone]
            return {**head, "files": files + added}

        return derive

    # ----------------------------------------------------------------- DDL
    def create_table(
        self,
        name: str,
        schema: StructType,
        partition_by: list[Transform] | None = None,
        properties: dict[str, str] | None = None,
    ) -> None:
        props = dict(DEFAULT_PROPERTIES)
        props.update(properties or {})
        spec = [
            {"kind": t.kind, "source": t.source, "arg": t.arg}
            for t in (partition_by or [])
        ]

        def derive(head: dict | None) -> dict:
            if head is not None:
                raise ValueError(f"table {name!r} already exists")
            return {
                "schema": json.loads(schema.json()),
                "spec": spec,
                "properties": props,
                "files": [],
            }

        os.makedirs(os.path.join(self._dir(name), "data"), exist_ok=True)
        self._advance(name, "main", "create", derive)

    def exists(self, name: str) -> bool:
        return self._ref_head(name, "main")[1] >= 0

    def _spec(self, manifest: dict) -> list[Transform]:
        return [
            Transform(s["kind"], s["source"], s.get("arg"))
            for s in manifest["spec"]
        ]

    def schema(self, name: str, manifest: dict | None = None) -> StructType:
        m = self._load_manifest(name) if manifest is None else manifest
        return StructType.fromJson(m["schema"])

    def properties(
        self, name: str, manifest: dict | None = None
    ) -> dict[str, str]:
        m = self._load_manifest(name) if manifest is None else manifest
        return m["properties"]

    def set_properties(self, name: str, props: dict[str, str]) -> int:
        def derive(h: dict) -> dict:
            return {**h, "properties": {**h["properties"], **props}}

        m = self._load_manifest(name)
        return self._advance(name, "main", "set-properties", derive, base=m)

    def add_column(
        self, name: str, col: str, dtype: str, default: Any = None
    ) -> int:
        """Schema evolution: append an optional column. Existing data files
        are untouched; reads project NULL for them (Iceberg semantics).

        ``default`` sets an INITIAL DEFAULT (≙ Iceberg v3
        initial-default / SQL ``ADD COLUMN ... DEFAULT``): rows written
        BEFORE this commit read the default instead of NULL, while rows
        written after keep their explicit values — including genuine
        NULLs (presence is decided per data file by its recorded writer
        schema, never by value coalescing). Metadata-only either way: no
        file is rewritten, old files resolve the default at read time."""
        return self._evolve_schema(
            name,
            {
                "kind": "add-column",
                "col": col,
                "dtype": dtype,
                **({"default": default} if default is not None else {}),
            },
        )

    def _evolve_schema(self, name: str, ddl: dict) -> int:
        """Commit one add/widen DDL entry, validated and applied on the
        head it swaps — the same :func:`_apply_schema_ddl` a transaction
        replays."""
        def derive(h: dict) -> dict:
            return {**h, "schema": _apply_schema_ddl(h["schema"], ddl)}

        m = self._load_manifest(name)
        return self._advance(name, "main", ddl["kind"], derive, base=m)

    @staticmethod
    def _refuse_delete_bound(m: dict, col: str, verb: str) -> None:
        """Merge-on-read deletes bind by column NAME (Iceberg binds by
        field id): dropping or renaming a column one of them names would
        leave the read unable to apply it — materialize them first."""
        if any(
            c == col
            for g in m.get("global_pred_deletes", [])
            for c, _op, _v in g["where"]
        ):
            raise ValueError(
                f"column {col!r} has outstanding merge-on-read "
                f"deletes; run rewrite_deletes() before {verb}"
            )
        if any(col in g["cols"] for g in m.get("global_eq_deletes", [])):
            raise ValueError(
                f"column {col!r} keys outstanding equality deletes; "
                f"run rewrite_deletes() before {verb}"
            )

    def drop_column(self, name: str, col: str) -> int:
        """Schema evolution: drop a column. Metadata-only — data files keep
        the physical column; the explicit read schema simply stops
        projecting it (Iceberg semantics). Partition source columns cannot
        be dropped while a transform references them."""

        def derive(h: dict) -> dict:
            schema = StructType.fromJson(h["schema"])
            if col not in schema.fieldNames():
                raise ValueError(f"no such column {col!r}")
            if any(t.source == col for t in self._spec(h)):
                raise ValueError(
                    f"{col!r} is a partition source; drop the partition "
                    f"field first"
                )
            self._refuse_delete_bound(h, col, "dropping")
            kept = StructType([f for f in schema.fields if f.name != col])
            return {**h, "schema": json.loads(kept.json())}

        m = self._load_manifest(name)
        return self._advance(name, "main", "drop-column", derive, base=m)

    def rename_column(self, name: str, old: str, new: str) -> int:
        """Schema evolution: rename a column, metadata-only (≙ Iceberg
        ``ALTER TABLE ... RENAME COLUMN``, which resolves via field IDs).
        The field records its former names in metadata; reads coalesce the
        historical names so files written before the rename still resolve.
        Renaming a partition source is rejected (transforms bind by name
        here, and identity sources are baked into hive paths)."""

        def derive(h: dict) -> dict:
            schema = StructType.fromJson(h["schema"])
            if old not in schema.fieldNames():
                raise ValueError(f"no such column {old!r}")
            if new in schema.fieldNames():
                raise ValueError(f"column {new!r} already exists")
            if any(t.source == old for t in self._spec(h)):
                raise ValueError(
                    f"{old!r} is a partition source; cannot rename"
                )
            self._refuse_delete_bound(h, old, "renaming")
            fields = []
            for f in schema.fields:
                if f.name == old:
                    meta = dict(f.metadata)
                    meta["former_names"] = list(
                        dict.fromkeys([*meta.get("former_names", []), old])
                    )
                    f = StructField(new, f.dataType, f.nullable, meta)
                fields.append(f)
            return {**h, "schema": json.loads(StructType(fields).json())}

        m = self._load_manifest(name)
        return self._advance(name, "main", "rename-column", derive, base=m)

    def add_partition_field(self, name: str, transform: Transform) -> int:
        """Partition-spec evolution (≙ ``ALTER TABLE ... ADD PARTITION
        FIELD``, aig/TimeBasedPartitioningExamples.java:211-216): future
        writes partition by the extended spec; existing files keep their
        old layout and are never rewritten. Pruning stays correct on both:
        a file missing the new partition value is conservatively kept."""

        def derive(h: dict) -> dict:
            schema = StructType.fromJson(h["schema"])
            if transform.source not in schema.fieldNames():
                raise ValueError(f"no such column {transform.source!r}")
            if any(
                t.field_name == transform.field_name for t in self._spec(h)
            ):
                raise ValueError(
                    f"partition field {transform.field_name!r} already in spec"
                )
            field = {
                "kind": transform.kind,
                "source": transform.source,
                "arg": transform.arg,
            }
            return {**h, "spec": h["spec"] + [field]}

        m = self._load_manifest(name)
        return self._advance(name, "main", "add-partition-field", derive, base=m)

    def drop_partition_field(self, name: str, field_name: str) -> int:
        """Partition-spec evolution (≙ ``ALTER TABLE ... DROP PARTITION
        FIELD``, aig/TimeBasedPartitioningExamples.java:218-221): future
        writes stop partitioning by the field; existing files keep their
        layout and their manifest partition values still prune."""

        def derive(h: dict) -> dict:
            spec = self._spec(h)
            if not any(t.field_name == field_name for t in spec):
                raise ValueError(f"no partition field {field_name!r} in spec")
            return {
                **h,
                "spec": [
                    s
                    for s, t in zip(h["spec"], spec)
                    if t.field_name != field_name
                ],
            }

        m = self._load_manifest(name)
        return self._advance(name, "main", "drop-partition-field", derive, base=m)

    # value-preserving widenings Iceberg allows (no file rewrite needed:
    # reads up-cast old files through the align-cast in _read_files)
    _WIDENINGS = {("integer", "long"), ("float", "double")}

    def widen_column(self, name: str, col: str, to_type: str) -> int:
        """Schema evolution: widen a column's type in place (int→long,
        float→double — the promotions Iceberg permits). Metadata-only:
        existing files keep the narrow type and reads cast up; anything
        else would silently corrupt values and is rejected."""
        return self._evolve_schema(
            name, {"kind": "widen-column", "col": col, "to_type": to_type}
        )

    # --------------------------------------------------------------- writes
    def _write_files(
        self,
        name: str,
        df: DataFrame,
        spec: list[Transform],
        sort_within: list[Column] | None = None,
        manifest: dict | None = None,
    ) -> list[dict]:
        """Write df as parquet into an invisible staging dir (hidden
        partition columns derived, hive layout), then move the files under
        data/ keeping their partition subpaths. Returns file entries with
        partition values + stats for the manifest.

        ``sort_within`` (expressions over the data columns) sorts rows
        inside each task before writing — compaction passes its sort/
        z-order keys here so the clustering survives the partition
        co-location shuffle below (sorting before that shuffle would be
        undone by it).

        Declared clustering (≙ Iceberg's ``write.sort-order`` +
        ``write.distribution-mode=range`` table properties): when the
        table carries ``write.sort-order`` and no explicit sort is
        passed, every write sorts within tasks by those columns; with
        ``write.distribution-mode=range`` an UNPARTITIONED table is
        additionally range-repartitioned on them first, so each data
        file covers a disjoint value range and manifest min/max stats
        prune range scans on a NON-partition column from the first
        append on — no compaction pass needed."""
        staging = os.path.join(self._dir(name), "_staging", uuid.uuid4().hex)
        part_cols = [t.field_name for t in spec]
        data_cols = list(df.columns)  # writer schema, recorded per entry
        try:
            props = self.properties(name, manifest)
        except (FileNotFoundError, KeyError):
            props = {}
        range_dist = False
        if sort_within is None:
            order_cols = [
                c.strip()
                for c in props.get(SORT_ORDER_PROP, "").split(",")
                if c.strip() and c.strip() in data_cols
            ]
            if order_cols:
                sort_within = [F.col(c) for c in order_cols]
                range_dist = (
                    props.get(DISTRIBUTION_PROP, "") == "range"
                    and not part_cols
                )
        out = df
        for t in spec:
            if t.kind != "identity":
                out = out.withColumn(t.field_name, t.expr())
        if part_cols:
            # co-locate each partition value in one task: one file per
            # partition per append instead of one per (task x partition) —
            # the small-files guard that matters under frequent appends.
            out = out.repartition(*[F.col(c) for c in part_cols])
        elif range_dist:
            # explicit bucket count: AQE would coalesce a small range
            # shuffle into one partition and erase the file-level
            # disjointness the clustering exists for; at scale this knob
            # tracks target file size (≙ Iceberg's advisory partition
            # size under range distribution)
            n_range = int(
                props.get(RANGE_PARTITIONS_PROP, RANGE_PARTITIONS_DEFAULT)
            )
            out = out.repartitionByRange(n_range, *sort_within)
        if sort_within:
            out = out.sortWithinPartitions(
                *[F.col(c) for c in part_cols], *sort_within
            )
        writer = out.write.mode("overwrite").option("compression", "zstd")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(staging)

        # bloom index config (properties of the table's main head; see
        # module-level BLOOM_* docs). On a real cluster the writing TASK
        # computes the filter inline while streaming rows out (exactly
        # what Iceberg's parquet bloom writer does); the stand-in reads
        # back ONLY the indexed columns of each staged file — a
        # column-pruned, per-file pass, same asymptotics as the stats
        # footer walk below.
        bloom_cols = [
            c.strip()
            for c in props.get(BLOOM_COLS_PROP, "").split(",")
            if c.strip()
        ]
        bloom_bits = max(
            64, int(props.get(BLOOM_BITS_PROP, BLOOM_DEFAULT_BITS)) // 8 * 8
        )
        bloom_k = int(props.get(BLOOM_HASHES_PROP, BLOOM_DEFAULT_HASHES))

        entries: list[dict] = []
        data_root = os.path.join(self._dir(name), "data")
        for root, _dirs, files in os.walk(staging):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(root, fn)
                rel = os.path.relpath(root, staging)
                # partition values from the hive path (k=v dirs)
                pvals: dict[str, Any] = {}
                if rel != ".":
                    for seg in rel.split(os.sep):
                        k, _, v = seg.partition("=")
                        pvals[k] = v
                dst_dir = os.path.join(data_root, rel) if rel != "." else data_root
                os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(dst_dir, f"{uuid.uuid4().hex}.parquet")
                os.replace(src, dst)
                import pyarrow.parquet as pq

                md = pq.ParquetFile(dst).metadata
                entry = {
                    "path": os.path.relpath(dst, self._dir(name)),
                    "partition": pvals,
                    "records": md.num_rows,
                    "bytes": os.path.getsize(dst),
                    "stats": _collect_column_stats(md),
                    "nulls": _collect_null_counts(md),
                    # writer schema: which table columns this file
                    # physically holds — what decides initial-default
                    # resolution (absent column -> default; present
                    # column -> its values, NULLs included)
                    "cols": data_cols,
                }
                present = [
                    c for c in bloom_cols if c in md.schema.to_arrow_schema().names
                ]
                if present:
                    tbl = pq.read_table(dst, columns=present)
                    entry["bloom"] = {
                        c: {
                            "m": bloom_bits,
                            "k": bloom_k,
                            "b": _bloom_build(
                                tbl.column(c).to_pylist(), bloom_bits, bloom_k
                            ),
                        }
                        for c in present
                    }
                entries.append(entry)
        self._attach_ndv_sketches(name, entries, data_cols, props)
        import shutil

        # remove only THIS call's staging dir — concurrent writers stage
        # under sibling uuids in _staging/ at the same time
        shutil.rmtree(staging, ignore_errors=True)
        return entries

    def _attach_ndv_sketches(
        self,
        name: str,
        entries: list[dict],
        data_cols: list[str],
        props: dict,
    ) -> None:
        """Per-file mergeable NDV sketches for the columns named by the
        ``stats.ndv.columns`` table property (≙ Iceberg Puffin
        theta/HLL blobs; here Spark's native ``hll_sketch_agg`` —
        Apache DataSketches HLL_4, fixed internal hash so estimates are
        deterministic). ONE distributed job over just-written files —
        O(delta) like the footer stats walk, grouped by
        ``input_file_name`` so the sketch state stays bounded per task
        regardless of file size — then the serialized sketches ride the
        manifest entries base64-encoded (``ndv_sk``). Readers fold
        global or per-subset NDV from manifests alone via
        ``hll_union_agg`` — zero data reads (:meth:`ndv_estimates`)."""
        ndv_cols = [
            c.strip()
            for c in props.get(NDV_COLS_PROP, "").split(",")
            if c.strip() and c.strip() in data_cols
        ]
        if not ndv_cols or not entries or self.spark is None:
            return
        try:
            lgk = int(props.get(NDV_LGK_PROP, NDV_DEFAULT_LGK))
        except (TypeError, ValueError):
            lgk = NDV_DEFAULT_LGK
        paths = [os.path.join(self._dir(name), e["path"]) for e in entries]
        sk_rows = (
            self.spark.read.parquet(*paths)
            .select(F.input_file_name().alias("_f"), *ndv_cols)
            .groupBy("_f")
            .agg(
                *[
                    F.hll_sketch_agg(c, F.lit(lgk)).alias(c)
                    for c in ndv_cols
                ]
            )
            .collect()
        )
        from urllib.parse import unquote

        by_base = {os.path.basename(e["path"]): e for e in entries}
        for r in sk_rows:
            base = os.path.basename(r["_f"])
            # input_file_name() is a percent-encoded URI; managed file
            # names are uuid hex (raw match), but be robust anyway
            e = by_base.get(base) or by_base.get(unquote(base))
            if e is None:
                continue
            sk = {}
            for c in ndv_cols:
                raw = r[c]
                if raw is not None:  # all-NULL column: no sketch
                    sk[c] = base64.b64encode(bytes(raw)).decode("ascii")
            e["ndv_sk"] = sk
        # always set when profiling ran — {} means "profiled, nothing
        # found" (all-NULL or ZERO-ROW files, which produce no group
        # row), distinguishing it from an unsketched file; a None here
        # would break the table-level blob chain for every later append
        for e in entries:
            e.setdefault("ndv_sk", {})

    def _ndv_union_blob(
        self, parent_m: dict, new_entries: list[dict]
    ) -> dict | None:
        """O(delta) maintenance of the TABLE-LEVEL NDV sketch blob
        (``ndv_tbl``, ≙ Iceberg's snapshot-scoped Puffin statistics
        file): union the parent's running per-column sketch with the
        new files' sketches in one tiny job — the serve path then reads
        O(columns), flat in file count. Returns None (blob chain
        broken, readers fall back to the always-correct per-file fold)
        when any new file was written unsketched or the parent carries
        files but no blob. Per-column ``n`` counts contributing files
        so coverage stays honest for columns added to the profile
        late."""
        if self.spark is None or not new_entries:
            return None
        if any(e.get("ndv_sk") is None for e in new_entries):
            return None
        prev = parent_m.get("ndv_tbl")
        if prev is None and parent_m.get("files"):
            return None
        n_profiled = len(new_entries) + (int(prev["n"]) if prev else 0)
        rows = [
            (c, base64.b64decode(b))
            for e in new_entries
            for c, b in e["ndv_sk"].items()
        ]
        if prev:
            rows += [
                (c, base64.b64decode(b))
                for c, b in prev.get("cols", {}).items()
            ]
        if not rows:
            return {"n": n_profiled, "cols": {}}
        merged = (
            self.spark.createDataFrame(rows, "c string, sk binary")
            .groupBy("c")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .collect()
        )
        return {
            "n": n_profiled,
            "cols": {
                r["c"]: base64.b64encode(bytes(r["sk"])).decode("ascii")
                for r in merged
            },
        }

    def analyze_ndv(self, name: str, columns: list[str] | None = None) -> int:
        """≙ ``ANALYZE TABLE ... COMPUTE STATISTICS`` / Iceberg's Puffin
        stats generation: backfill NDV sketches for every live file that
        lacks them (zero-copy ``add_files`` onboarding, files written
        before the property was set) with ONE column-pruned job over
        only the missing files — O(missing), not O(table) — then
        rebuild the table-level blob from all files' sketches and
        commit. After this, both the per-file fold and the O(columns)
        serve path cover the whole table, and subsequent appends resume
        O(delta) blob maintenance on the repaired chain. ``columns``
        defaults to the ``stats.ndv.columns`` property."""
        m = self._load_manifest(name)
        props = m.get("properties") or {}
        cols = columns or [
            c.strip()
            for c in props.get(NDV_COLS_PROP, "").split(",")
            if c.strip()
        ]
        if not cols:
            raise ValueError(
                f"analyze_ndv({name!r}): no columns — pass columns= or "
                f"set the {NDV_COLS_PROP!r} table property"
            )
        try:
            lgk = int(props.get(NDV_LGK_PROP, NDV_DEFAULT_LGK))
        except (TypeError, ValueError):
            lgk = NDV_DEFAULT_LGK
        missing = [e for e in m["files"] if e.get("ndv_sk") is None]
        # sketch map keyed by entry PATH, applied to entry COPIES below:
        # manifest entries are shared by reference with the immutable
        # segment cache, and _plan_segments reuses unchanged segments by
        # identity — mutating a cached entry in place would never reach
        # disk (the backfill would evaporate on cache eviction/restart)
        new_sk: dict[str, dict] = {e["path"]: {} for e in missing}
        if missing:
            self._require_unique_basenames(name, m, "analyze_ndv")
            by_base: dict[str, str] = {}
            for e in missing:
                p = (
                    e["path"]
                    if os.path.isabs(e["path"])
                    else os.path.join(self._dir(name), e["path"])
                )
                by_base[os.path.basename(p)] = e["path"]
            paths = [
                e["path"]
                if os.path.isabs(e["path"])
                else os.path.join(self._dir(name), e["path"])
                for e in missing
            ]
            # files may physically lack some profiled columns (external
            # onboarding, pre-evolution writes): sketch only what each
            # file carries; absent columns contribute nothing, exactly
            # like all-NULL ones. Zero-row files produce no group row
            # and keep their pre-seeded {} ("profiled, nothing found").
            sk_rows = (
                self.spark.read.schema(self.schema(name, m))
                .parquet(*paths)
                .select(F.input_file_name().alias("_f"), *cols)
                .groupBy("_f")
                .agg(
                    *[
                        F.hll_sketch_agg(c, F.lit(lgk)).alias(c)
                        for c in cols
                    ]
                )
                .collect()
            )
            from urllib.parse import unquote

            for r in sk_rows:
                base = os.path.basename(r["_f"])
                # input_file_name() returns a percent-encoded URI: try
                # the raw basename first (uuid-named managed files),
                # then the decoded form (external files with specials)
                path = by_base.get(base) or by_base.get(unquote(base))
                if path is None:
                    continue
                new_sk[path] = {
                    c: base64.b64encode(bytes(r[c])).decode("ascii")
                    for c in cols
                    if r[c] is not None
                }

        def derive(head: dict) -> dict:
            # the sketches describe the files as read at m
            self._validate_rewrite(m, head, missing)
            files = [
                {**e, "ndv_sk": new_sk[e["path"]]}
                if e.get("ndv_sk") is None and e["path"] in new_sk
                else e
                for e in head["files"]
            ]
            return {**head, "files": files, "ndv_tbl": self._ndv_blob_of(files)}

        return self._advance(name, "main", "analyze-ndv", derive, base=m)

    def _ndv_blob_of(self, files: list[dict]) -> dict:
        """Union ALL files' sketches into the table-level blob shape
        ({col: {sk, n}}) with one tiny job — the O(files) rebuild
        analyze_ndv pays once and the O(delta) append maintenance
        avoids."""
        rows = [
            (c, base64.b64decode(b))
            for e in files
            for c, b in (e.get("ndv_sk") or {}).items()
        ]
        n_profiled = sum(1 for e in files if e.get("ndv_sk") is not None)
        if not rows:
            return {"n": n_profiled, "cols": {}}
        merged = (
            self.spark.createDataFrame(rows, "c string, sk binary")
            .groupBy("c")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .collect()
        )
        return {
            "n": n_profiled,
            "cols": {
                r["c"]: base64.b64encode(bytes(r["sk"])).decode("ascii")
                for r in merged
            },
        }

    def ndv_estimates(self, name: str, version: int | None = None):
        """Fold per-file NDV sketches into global estimates — a
        manifest-only read (O(files) sketch rows through one tiny
        ``hll_union_agg`` job, zero data files opened; ≙ reading
        Iceberg's Puffin ndv stats instead of scanning). Returns a
        DataFrame (col_name, ndv_est, n_sketches): ``n_sketches`` is
        how many files carried a sketch for the column, so callers can
        detect partial coverage (files onboarded via add_files have no
        sketches) instead of trusting an under-counted fold.

        Serve path: when the manifest carries the maintained
        table-level blob (``ndv_tbl``, kept O(delta) by append commits
        and dropped by any other file-changing op), the estimate reads
        O(columns) — FLAT in file count; otherwise it folds the
        per-file sketches, O(files)."""
        m = self._load_manifest(name, version)
        blob = m.get("ndv_tbl")
        if blob is not None:
            if not blob.get("cols"):
                return self.spark.createDataFrame(
                    [],
                    "col_name string, ndv_est bigint, n_sketches bigint",
                )
            brows = [
                (c, base64.b64decode(b), int(blob["n"]))
                for c, b in sorted(blob["cols"].items())
            ]
            return self.spark.createDataFrame(
                brows, "col_name string, sk binary, n_sketches bigint"
            ).select(
                "col_name",
                F.hll_sketch_estimate("sk").cast("bigint").alias("ndv_est"),
                "n_sketches",
            )
        rows = [
            (c, base64.b64decode(b64))
            for e in m["files"]
            for c, b64 in (e.get("ndv_sk") or {}).items()
        ]
        if not rows:
            return self.spark.createDataFrame(
                [], "col_name string, ndv_est bigint, n_sketches bigint"
            )
        # coverage counts PROFILED files (ndv_sk present, possibly {}):
        # a zero-row or all-NULL file is covered — it has no values to
        # count — while a file onboarded sketch-less is genuinely not
        n_profiled = sum(
            1 for e in m["files"] if e.get("ndv_sk") is not None
        )
        return (
            self.spark.createDataFrame(rows, "col_name string, sk binary")
            .groupBy("col_name")
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk"))
                .cast("bigint")
                .alias("ndv_est"),
            )
            .withColumn("n_sketches", F.lit(n_profiled).cast("bigint"))
        )

    def _enforce_constraints(
        self, name: str, df: DataFrame, manifest: dict | None = None
    ) -> None:
        """Reject the batch if any ``constraints.check.*`` property is not
        TRUE for every row (null-hostile on purpose: a data-quality gate
        that lets NULL slide is not a gate). One pass, map-side partial
        counts, raises :class:`ConstraintViolation` with per-check
        violation counts; the caller has staged nothing yet, so rejection
        leaves no snapshot and no orphan files."""
        try:
            props = self.properties(name, manifest)
        except (FileNotFoundError, KeyError):
            return
        checks = {
            k[len(CONSTRAINT_PROP_PREFIX):]: v
            for k, v in props.items()
            if k.startswith(CONSTRAINT_PROP_PREFIX)
        }
        if not checks:
            return
        counts = df.select(
            *[
                F.sum(
                    F.when(F.expr(expr), F.lit(0)).otherwise(F.lit(1))
                ).alias(cname)
                for cname, expr in checks.items()
            ]
        ).first()
        bad = {c: counts[c] for c in checks if counts[c]}
        if bad:
            detail = ", ".join(
                f"{c!r} ({checks[c]}): {n} row(s)" for c, n in sorted(bad.items())
            )
            raise ConstraintViolation(
                f"ingest into {name!r} rejected — check constraint(s) "
                f"violated: {detail}"
            )

    def _merge_schema(self, name: str, df: DataFrame) -> None:
        """Auto-evolve the table so the incoming batch fits (≙ Iceberg's
        ``write.spark.accept-any-schema`` + Spark's ``mergeSchema`` write
        option): unseen top-level columns are ADDED (nullable, metadata-
        only), and an incoming column whose type is a widening promotion
        of the table's (int→bigint, float→double) WIDENS it. Everything
        else — drops, renames, narrowing, nested restructures — still
        requires explicit DDL: silent destructive evolution is how
        pipelines eat their own schemas."""
        types = {
            f.name: f.dataType.typeName() for f in self.schema(name).fields
        }
        for f in df.schema.fields:
            if f.name not in types:
                self.add_column(name, f.name, f.dataType.simpleString())
            elif (types[f.name], f.dataType.typeName()) in self._WIDENINGS:
                self.widen_column(name, f.name, f.dataType.typeName())

    def append(
        self,
        name: str,
        df: DataFrame,
        ref: str = "main",
        merge_schema: bool = False,
        snapshot_properties: dict[str, str] | None = None,
    ) -> int:
        """Atomic multi-file append: all files of this call become visible
        in ONE commit (reference #20/#21: the whole parallel bulk load lands
        as a single snapshot). ``ref`` targets a branch — the
        write-audit-publish staging path: append to an audit branch,
        validate it, then :meth:`fast_forward` main.

        Default schema discipline: the batch is aligned to the TABLE
        schema (extra df columns dropped, missing ones NULL).
        ``merge_schema=True`` first auto-evolves the table to fit the
        batch (see :meth:`_merge_schema`), so new columns land instead
        of being dropped.

        ``snapshot_properties`` merge into the committed manifest's
        properties ATOMICALLY with the data — the snapshot-summary-
        property shape streaming sinks use to carry an epoch marker
        inside the very commit it marks (a separate set-properties
        commit would leave a crash window where the data landed unmarked
        and a replay duplicates it).

        Concurrency: the new files (and ``snapshot_properties``) stack
        on whichever head the commit swaps, so a concurrent commit is
        never lost — the data-adding rule of :meth:`transaction`.

        Auto-maintenance: with the ``write.compact-threshold`` table
        property set (an int), an append that leaves any partition's
        file count at/over the threshold triggers
        :meth:`compact_partitions` inline (min_files = threshold) — the
        count check is metadata-only, so streaming micro-appends
        (foreachBatch → append) self-heal their fragmentation without
        an external scheduler, and untouched partitions keep file
        identity (≙ Iceberg's commit-triggered table maintenance)."""
        if merge_schema:
            self._merge_schema(name, df)
        _seq, head = self._ref_head(name, ref)
        if head < 0:
            raise ValueError(f"branch {ref!r} does not exist on {name!r}")
        m = self._load_manifest(name, head)
        spec = self._spec(m)
        # one manifest load serves the whole append (schema, constraints,
        # write properties, threshold check): metadata cost per streaming
        # micro-append is O(1) manifest materializations, not four.
        # Schema stays TABLE-level (main's head) as in Iceberg — only a
        # main-branch append can reuse m for it.
        schema_cols = [
            f.name
            for f in self.schema(name, m if ref == "main" else None).fields
        ]
        aligned = df.select(
            *[
                F.col(c) if c in df.columns else F.lit(None).alias(c)
                for c in schema_cols
            ]
        )
        props_m = m if ref == "main" else None  # properties are table-level
        self._enforce_constraints(name, aligned, props_m)
        new_files = self._write_files(name, aligned, spec, manifest=props_m)

        def derive(head: dict) -> dict:
            # our files stack on whatever head won (its files included)
            out = {**head, "files": head["files"] + new_files}
            # an unsketched batch breaks the blob chain: _advance drops
            # the head's blob unless a fresh one is set here
            blob = self._ndv_union_blob(head, new_files)
            if blob is not None:
                out["ndv_tbl"] = blob
            if snapshot_properties:
                out["properties"] = {
                    **(head.get("properties") or {}),
                    **snapshot_properties,
                }
            return out

        v = self._advance(name, ref, "append", derive, base=m)
        # threshold + counts from the manifest already in hand — the
        # hot append path pays no extra manifest load; compact_partitions
        # re-derives against the true head if the trigger fires (a
        # concurrent append can only make counts HIGHER, and that
        # append's own trigger covers its commit)
        # defensive parse: an unparsable property value must never fail
        # the append AFTER its commit already landed — maintenance is
        # opt-in metadata, not a correctness surface
        try:
            thresh = int(m.get("properties", {}).get(COMPACT_THRESHOLD_PROP, 0))
        except (TypeError, ValueError):
            thresh = 0
        if thresh > 0 and ref == "main" and self.spark is not None:
            counts: dict[tuple, int] = {}
            for e in m["files"] + new_files:
                k = tuple(sorted(e["partition"].items()))
                counts[k] = counts.get(k, 0) + 1
            if any(c >= thresh for c in counts.values()):
                try:
                    # adopt the compaction COMMIT's version only if it
                    # actually rewrote: the no-op path (a concurrent
                    # compaction already defragmented) returns the head
                    # it examined, which can be a FOREIGN commit's id —
                    # callers pin the returned version for tags/time
                    # travel, so it must be a snapshot this call made
                    res = self.compact_partitions(name, min_files=thresh)
                    if res.get("rewritten"):
                        v = res["version"]
                except CommitConflict:
                    # a concurrent commit rewrote files this compaction
                    # planned (two appends crossed the threshold and
                    # raced their compactions) or added a delete its
                    # rewritten rows would escape: the rewrite aborts.
                    # Maintenance is best-effort — the append itself
                    # committed, and the winner's compaction (or the
                    # next append's trigger) covers the fragmentation.
                    # ONLY this race is swallowed: genuine failures (and
                    # txn-repair conflicts surfacing through the head
                    # reads) still propagate.
                    pass
        return v

    def add_files(
        self,
        name: str,
        paths: list[str],
        partition_values: dict[str, Any] | None = None,
        ref: str = "main",
    ) -> int:
        """Zero-copy onboarding of EXISTING parquet files (≙ Iceberg's
        ``add_files`` procedure / ``migrate``): register the files in one
        atomic commit without reading or rewriting a single data row —
        only footers are opened, yielding the same manifest metadata a
        written file gets (row counts, per-column min/max, null counts),
        so stats/partition pruning works on registered files from the
        first scan. This is how 100 TB of raw hive parquet becomes a
        managed table in seconds instead of a full rewrite.

        The files stay where they are: entries carry ABSOLUTE paths and
        an ``external`` marker, and :meth:`expire_snapshots` never
        deletes data the table doesn't own (delete files that later
        apply to them are still owned and reaped normally). Bloom indexes are
        not built (that would need a data pass — the zero-copy point);
        stats pruning still applies.

        Partition values for pruning: hive-style ``col=value`` path
        segments matching IDENTITY partition fields are parsed per file
        — scoped to segments BELOW a passed directory root, or to the
        trailing contiguous ``col=value`` chain above a directly-passed
        file (ancestor directories that merely look like ``col=value``
        never inject values);
        ``partition_values`` overrides/supplies values for all files.
        Identity fields with no value from either source raise (pruning
        would silently degrade); non-identity (derived) transform fields
        must come via ``partition_values`` if at all — absent values
        only cost pruning, never correctness, since scan predicates are
        always re-applied row-level as residuals. Schema discipline:
        each file must share at least one column with the table schema;
        absent table columns resolve exactly like evolved-away columns
        (NULL / initial-default), extra file columns are ignored by the
        explicit read schema.
        """
        import pyarrow.parquet as pq

        _seq, head = self._ref_head(name, ref)
        if head < 0:
            raise ValueError(f"branch {ref!r} does not exist on {name!r}")
        m = self._load_manifest(name, head)
        spec = self._spec(m)
        ident = {t.field_name for t in spec if t.kind == "identity"}
        # always the BRANCH-HEAD manifest's schema — for a non-main ref
        # whose schema diverged from main, validating file columns
        # against main's schema would accept/reject the wrong columns
        schema_cols = {f.name for f in self.schema(name, m).fields}
        # directories expand to their parquet files recursively (the
        # hive-layout onboarding shape: pass the dataset root, partition
        # values parse from each file's own col=value segments).
        # Partition parsing is SCOPED to what the caller passed: for a
        # directory, only segments BELOW that root; for a directly-passed
        # file, only the trailing contiguous col=value chain above it —
        # an ancestor directory that merely happens to be named
        # col=value (e.g. /data/env=prod/...) must never inject a
        # partition value, or manifest pruning silently drops rows.
        flat: list[tuple[str, list[str]]] = []
        for p in paths:
            ap = os.path.abspath(p)
            if os.path.isdir(ap):
                for root, _dirs, fns in sorted(os.walk(ap)):
                    rel = os.path.relpath(root, ap)
                    segs = [] if rel == "." else rel.split(os.sep)
                    flat.extend(
                        (os.path.join(root, fn), segs)
                        for fn in sorted(fns)
                        if fn.endswith(".parquet")
                    )
            else:
                chain: list[str] = []
                for seg in reversed(os.path.dirname(ap).split(os.sep)):
                    k, eq, _v = seg.partition("=")
                    if eq and k:
                        chain.append(seg)
                    else:
                        break
                flat.append((ap, list(reversed(chain))))
        if not flat:
            raise ValueError(f"add_files: no parquet files under {paths!r}")
        entries: list[dict] = []
        for ap, psegs in flat:
            md = pq.ParquetFile(ap).metadata
            fcols = [
                c for c in md.schema.to_arrow_schema().names if c in schema_cols
            ]
            if not fcols:
                raise ValueError(
                    f"{ap}: no column overlaps the table schema"
                )
            pvals: dict[str, Any] = {}
            for seg in psegs:
                k, eq, v = seg.partition("=")
                if eq and k in ident:
                    # hive escaping: writers percent-encode specials and
                    # spell NULL as __HIVE_DEFAULT_PARTITION__; the raw
                    # token would round-trip corrupted (and the null
                    # marker would defeat the missing-value error below)
                    if v == "__HIVE_DEFAULT_PARTITION__":
                        continue
                    from urllib.parse import unquote

                    pvals[k] = unquote(v)
            if partition_values:
                pvals.update(partition_values)
            missing = ident - set(pvals)
            if missing:
                raise ValueError(
                    f"{ap}: no partition value for identity field(s) "
                    f"{sorted(missing)} — pass partition_values or use a "
                    f"hive col=value layout"
                )
            # NORMALIZE to strings — the invariant every managed write
            # establishes (partition values come from hive path
            # segments): a raw int passed via partition_values would
            # otherwise never compare equal to the managed side's
            # string, so dynamic partition overwrite / merge partition
            # selection would silently MISS the external entry and
            # duplicate its rows (caught by test_segment_model's
            # add_files -> overwrite sequence). Rendering follows
            # Spark's hive writer: booleans lowercase, datetimes
            # isoformat with a space; pass exotic types (floats with
            # scientific rendering) as pre-rendered STRINGS if exact
            # partition matching against managed writes matters.
            def _hive_val(v: Any):
                import datetime as _dt

                if v is None or isinstance(v, str):
                    return v
                if isinstance(v, bool):
                    return "true" if v else "false"
                if isinstance(v, _dt.datetime):
                    return v.isoformat(sep=" ")
                return str(v)

            pvals = {
                k: _hive_val(v)
                for k, v in pvals.items()
                if k in {t.field_name for t in spec}
            }
            entries.append(
                {
                    "path": ap,
                    "partition": pvals,
                    "records": md.num_rows,
                    "bytes": os.path.getsize(ap),
                    "stats": _collect_column_stats(md),
                    "nulls": _collect_null_counts(md),
                    "cols": fcols,
                    "external": True,
                }
            )

        def derive(head: dict) -> dict:
            # duplicate guard (Iceberg add_files' check_duplicate_files):
            # re-registering a path would double every row on read.
            # Basename COLLISIONS are allowed — Spark's partitionBy reuses
            # one task file name across partition dirs, so hive datasets
            # collide routinely — but the row-level MoR machinery keys
            # rows by basename (_file_name), so ITS entry points refuse
            # tables with colliding basenames (_require_unique_basenames;
            # compact() rewrites externals into uuid names and clears the
            # state), and while such deletes are outstanding a colliding
            # add is refused (_refuse_colliding_adds)
            known = {e["path"] for e in head["files"]}
            for e in entries:
                if e["path"] in known:
                    raise ValueError(
                        f"add_files: {e['path']} is already registered"
                    )
                known.add(e["path"])
            self._refuse_colliding_adds(name, head, entries)
            return {**head, "files": head["files"] + entries}

        return self._advance(name, ref, "add-files", derive, base=m)

    # ------------------------------------------------- multi-table commits
    def _txns_dir(self) -> str:
        return os.path.join(self.warehouse, "_txns")

    def _txn_marker(self, seq: str, idx: int, table: str) -> str:
        # per-ENTRY granularity: one transaction may stage several ops
        # against the same table (append + upsert), each needing its own
        # applied-marker — a per-table marker would skip the second op
        return os.path.join(self._txns_dir(), f"{seq}.done.{idx}.{table}")

    def transaction(self) -> "Transaction":
        """Open a multi-table transaction (≙ Iceberg catalog multi-table
        transactions; a single-table commit is the degenerate case):
        stage appends, upserts, and schema DDL
        (add/widen — see :class:`Transaction`) on ANY number of tables, then
        land them with ONE atomic publish — fact and dims together or
        not at all, the backfill-consistency shape.

        Protocol (all-or-nothing visibility on a plain filesystem):

        1. ``stage``: each :meth:`Transaction.append` writes its data
           files immediately (parallel, expensive part) but advances no
           head — invisible, crash leaves only orphans.
        2. ``publish``: ONE exclusive-create of a txn record listing
           every (table, ref, added-files) — this is the commit point.
        3. ``apply``: per-table head CAS advances, idempotent.

        A crash between publish and apply cannot expose partial state:
        every head resolution (:meth:`_ref_head`) first rolls forward
        published-but-unapplied transactions for that table, so readers
        either see no effect (pre-publish) or, on first contact with ANY
        involved table, that table's full txn effect. Applies are
        idempotent (a table whose head already contains the staged files
        is skipped; per-table done-markers short-circuit), so concurrent
        repairers and the committing writer never double-append.

        Isolation: every commit, in a transaction or not, is re-derived
        by :meth:`_advance` on the head it swaps. Metadata-only ops (DDL,
        spec, properties, segment rewrite, rollback, predicate and
        positional merge-on-read deletes) re-run there with their guards
        re-checked; ops that add data (append, add_files, upsert,
        txn-append, cherry_pick, the snaptable writer) stack their files
        and delete descriptors there; ops that carry rows read at their
        base (compactions, rewrite_deletes, copy-on-write
        delete/update/merge, merge-on-read update, analyze_ndv,
        compact_deletes' merged descriptors) raise
        :class:`CommitConflict` when the head lost a file they remove or
        gained a delete their base lacked (Iceberg's RewriteFiles
        validation). ``overwrite`` replaces on the head;
        ``overwrite_partitions`` raises :class:`CommitConflict` when a
        concurrent commit added files into a partition it replaces.

        Conflict semantics: a staged entry that no longer applies on the
        head in the publish→apply window (:class:`CommitConflict` or a
        guard's ``ValueError``) aborts the record with
        :class:`TxnConflictError`; member-table entries applied BEFORE
        it stay applied — aborted, not compensated. "Together or not at
        all" therefore holds against crashes (roll-forward repair) but
        not against concurrent conflicting commits; callers needing
        atomicity under concurrent DDL must serialize schema changes
        with transactions externally."""
        return Transaction(self)

    def _publish_txn(self, entries: list[dict]) -> str:
        """Exclusive-create the txn record — the single commit point."""
        os.makedirs(self._txns_dir(), exist_ok=True)
        payload = json.dumps({"entries": entries}, sort_keys=True)
        while True:
            # allocate over EVERY txn-* name, dotted artifacts included:
            # a fully-applied txn prunes its pending record but leaves
            # <seq>.applied and markers behind — counting only pending
            # records would REUSE the pruned seq, silently aliasing the
            # new txn onto the old one's applied record (and from there,
            # rollback_transaction onto the wrong tables)
            used = [0]
            for fn in os.listdir(self._txns_dir()):
                if fn.startswith("txn-"):
                    digits = fn[4:].split(".", 1)[0]
                    if digits.isdigit():
                        used.append(int(digits))
            seq = f"txn-{max(used) + 1:09d}"
            if self._link_pointer(
                os.path.join(self._txns_dir(), seq), payload
            ):
                return seq

    def _apply_txn(self, seq: str, record: dict) -> dict[str, int]:
        """Idempotently roll a published txn forward on every table it
        touches; returns {table: head version after apply}. Each entry
        is one :meth:`_advance` stamped (txn, entry index); an entry
        that no longer applies on the head aborts the record."""
        prev, self._in_txn_repair = self._in_txn_repair, True
        try:
            out: dict[str, int] = {}
            for idx, entry in enumerate(record["entries"]):
                name, ref = entry["table"], entry.get("ref", "main")
                marker = self._txn_marker(seq, idx, name)
                if not os.path.exists(marker):
                    operation, derive = self._txn_entry_derive(seq, idx, entry)
                    try:
                        self._advance(name, ref, operation, derive, txn=(seq, idx))
                    except (CommitConflict, ValueError) as exc:
                        # consume the record instead of poisoning repair
                        self._abort_txn(seq, record)
                        err = (
                            RollbackConflictError
                            if entry.get("op") == "rollback"
                            else TxnConflictError
                        )
                        raise err(
                            f"table {name!r}: {exc}; txn {seq!r} aborted"
                        ) from exc
                    self._link_pointer(marker, "done")
                out[name] = self._ref_head(name, ref)[1]
            # durable applied-record (name contains "." so pending-repair
            # scans skip it): what rollback_transaction resolves a txn id
            # against after the live record below is pruned
            self._link_pointer(
                os.path.join(self._txns_dir(), f"{seq}.applied"),
                json.dumps(record, sort_keys=True),
            )
            # fully applied: prune the record + markers (pending scans on
            # every head resolution stay O(outstanding), not O(history))
            for idx, entry in enumerate(record["entries"]):
                try:
                    os.remove(self._txn_marker(seq, idx, entry["table"]))
                except FileNotFoundError:
                    pass
            try:
                os.remove(os.path.join(self._txns_dir(), seq))
            except FileNotFoundError:
                pass
            self._gc_applied_txns()
            return out
        finally:
            self._in_txn_repair = prev

    def _txn_entry_derive(self, seq: str, idx: int, entry: dict):
        """(operation, derive) of one published txn entry. Every derive
        returns None once its entry is on the head, so a crashed apply
        and a concurrent repairer replay it without doubling it."""
        name, op = entry["table"], entry.get("op")
        if op == "upsert":
            return "upsert", self._upsert_derive(name, entry)
        if op == "rollback":
            # txn-scoped rollback: the pre-txn snapshot's manifest
            def derive(head: dict) -> dict | None:
                if head.get("txn") == seq and head["operation"] == "rollback":
                    return None  # a concurrent repairer applied it
                # the head must still belong to the txn being undone:
                # rollback_transaction's pre-publish guard has a TOCTOU
                # window, and a foreign commit landing in it (or between
                # a crash after _publish_txn and a repair replay) must
                # abort the rollback, never be clobbered by it
                undoes = entry.get("undoes")
                if undoes is not None and head.get("txn") != undoes:
                    raise CommitConflict(
                        f"advanced past transaction {undoes!r} while the "
                        f"rollback was in flight (head txn is "
                        f"{head.get('txn')!r})"
                    )
                return self._load_manifest(name, entry["to"])

            return "rollback", derive
        if op == "ddl":
            # schema DDL staged inside the transaction, applied to the
            # head's schema; a foreign DDL that invalidates it raises
            def derive(head: dict) -> dict | None:
                # FULL-ancestry idempotence scan for this entry's (txn,
                # txn_entry) stamp, not just the head: a crash after the
                # DDL's head CAS but before its marker write, followed by
                # a foreign commit on top, leaves the applied DDL below a
                # foreign manifest — and a no-op re-apply (widen to a
                # type already in place) raises nothing, so it would
                # re-commit a duplicate stamp whose later rollback
                # resolves pre_txn to the foreign head
                v = head["version"]
                while v is not None:
                    try:
                        # raw manifest: O(history), not O(history x files)
                        mm = self._manifest_raw(name, v)
                    except FileNotFoundError:
                        break  # expired history: dangling parent pointer
                    if mm.get("txn") == seq and mm.get("txn_entry") == idx:
                        return None
                    v = mm.get("parent")
                return {**head, "schema": _apply_schema_ddl(head["schema"], entry)}

            return entry["kind"], derive
        added = entry.get("added", [])
        added_paths = {e["path"] for e in added}

        def derive(head: dict) -> dict | None:
            if added_paths <= {e["path"] for e in head["files"]}:
                return None  # a concurrent repairer applied it
            return {**head, "files": head["files"] + added}

        return "txn-append", derive

    def _gc_applied_txns(self) -> None:
        """Keep only the newest ``TXN_APPLIED_KEEP`` ``<seq>.applied``
        records so the txns dir (listed by every ``_publish_txn``
        allocation) stays O(KEEP + outstanding) instead of growing one
        file per all-time transaction. Deleting ``s.applied`` requires
        KEEP newer applied records to be present in the dir, so the
        allocation max never regresses below a used seq. A rollback of a
        GC'd transaction fails with the existing 'no applied record'
        error — rollbacks target recent txns by design."""
        d = self._txns_dir()
        try:
            applied = sorted(
                fn for fn in os.listdir(d) if fn.endswith(".applied")
            )
        except FileNotFoundError:
            return
        for fn in applied[: max(0, len(applied) - TXN_APPLIED_KEEP)]:
            try:
                os.remove(os.path.join(d, fn))
            except FileNotFoundError:
                pass
        aborted = sorted(
            fn for fn in os.listdir(d) if fn.endswith(".aborted")
        )
        for fn in aborted[: max(0, len(aborted) - TXN_APPLIED_KEEP)]:
            try:
                os.remove(os.path.join(d, fn))
            except FileNotFoundError:
                pass

    def _abort_txn(self, seq: str, record: dict) -> None:
        """Consume a published-but-unappliable txn record (rollback
        conflict): prune the live record + markers and leave a durable
        ``<seq>.aborted`` tombstone, so crash repair never replays it
        and the abort is diagnosable after the fact."""
        self._link_pointer(
            os.path.join(self._txns_dir(), f"{seq}.aborted"),
            json.dumps(record, sort_keys=True),
        )
        for idx, entry in enumerate(record["entries"]):
            try:
                os.remove(self._txn_marker(seq, idx, entry["table"]))
            except FileNotFoundError:
                pass
        try:
            os.remove(os.path.join(self._txns_dir(), seq))
        except FileNotFoundError:
            pass

    def rollback_transaction(self, txn_id: str) -> dict[str, int]:
        """Catalog-level undo of an APPLIED multi-table transaction: roll
        every member table back to its pre-txn head — all of them or none
        (≙ what Iceberg's per-table ``rollback_to_snapshot`` cannot give a
        multi-table commit). The rollback is itself a transaction: ONE
        exclusive-create of a rollback txn record is the commit point,
        then idempotent per-table head CASes with the same crash repair
        as forward applies (a reader touching any member table rolls the
        whole rollback forward — crash-injection pytest in
        tests/test_table_manager.py).

        Safety: refuses if any member table's head has advanced past the
        transaction's snapshots (rolling back would silently drop the
        later commits). Returns {table: head version after rollback}.

        Conflict semantics: the pre-publish guard re-validates inside
        each table's CAS loop; if a foreign commit slips in mid-apply a
        :class:`RollbackConflictError` aborts the record with member
        tables rolled back BEFORE the conflict left rolled back — abort,
        not compensation (mirror of :meth:`transaction`'s conflict
        contract). Crash-interruption, by contrast, is fully repaired:
        roll-forward on next contact completes ALL member rollbacks."""
        ap = os.path.join(self._txns_dir(), f"{txn_id}.applied")
        try:
            with open(ap) as f:
                record = json.loads(f.read())
        except FileNotFoundError:
            raise ValueError(
                f"transaction {txn_id!r} has no applied record (not "
                "committed, or already rolled back)"
            ) from None
        entries: list[dict] = []
        seen: set[tuple[str, str]] = set()
        for e in record["entries"]:
            name, ref = e["table"], e.get("ref", "main")
            if (name, ref) in seen:
                continue  # one rollback per table covers all its entries
            seen.add((name, ref))
            _seq, head = self._ref_head(name, ref)
            # walk the ancestry: the head must still be a snapshot of
            # THIS txn (possibly the last of several); the parent of the
            # txn's earliest snapshot is the pre-txn state
            v: int | None = head
            m = self._load_manifest(name, v)
            if m.get("txn") != txn_id:
                raise ValueError(
                    f"table {name!r} advanced past transaction {txn_id!r} "
                    f"(head {head} is not a txn snapshot); rolling back "
                    "would drop later commits"
                )
            while v is not None:
                m = self._load_manifest(name, v)
                if m.get("txn") != txn_id:
                    break
                pre_txn, v = m.get("parent"), m.get("parent")
            if pre_txn is None:
                # the txn spans the table's first snapshot: there is no
                # pre-txn state to restore, and passing None into
                # _load_manifest would resolve to the CURRENT head,
                # silently making the rollback a no-op of itself
                raise ValueError(
                    f"transaction {txn_id!r} created table {name!r}'s "
                    "first snapshot; there is no pre-transaction state "
                    "to roll back to (drop the table instead)"
                )
            entries.append(
                {
                    "table": name,
                    "ref": ref,
                    "op": "rollback",
                    "to": pre_txn,
                    # _apply_txn re-validates the head against this id
                    # inside its CAS loop — closes the guard→CAS TOCTOU
                    "undoes": txn_id,
                }
            )
        seq = self._publish_txn(entries)
        out = self._apply_txn(seq, {"entries": entries})
        # consume the applied record: a second rollback of the same txn
        # is an error, not a no-op re-roll
        try:
            os.remove(ap)
        except FileNotFoundError:
            pass
        return out

    def _repair_txns(self, name: str) -> None:
        """Roll forward any published-but-unapplied transaction touching
        ``name`` (and, transitively, every table in those records —
        repair is per-record, keeping the all-or-nothing story)."""
        d = self._txns_dir()
        try:
            records = sorted(
                fn
                for fn in os.listdir(d)
                if fn.startswith("txn-") and "." not in fn[4:]
            )
        except FileNotFoundError:
            return
        for seq in records:
            try:
                with open(os.path.join(d, seq)) as f:
                    record = json.loads(f.read())
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # pruned (fully applied) by a concurrent repairer
            if any(e["table"] == name for e in record["entries"]):
                try:
                    self._apply_txn(seq, record)
                except TxnConflictError:
                    # the record is already aborted (tombstoned + pruned)
                    # by _apply_txn; a reader doing crash repair must not
                    # fail head resolution over someone else's dead
                    # record — only the direct committing caller raises
                    continue

    def overwrite_partitions(
        self, name: str, df: DataFrame, ref: str = "main"
    ) -> int:
        """Dynamic partition overwrite (≙ Iceberg's dynamic ``overwrite``
        / Spark ``partitionOverwriteMode=dynamic``): atomically replace
        EXACTLY the partitions the new data touches; every other
        partition keeps its files untouched. The idempotent-backfill
        primitive — re-running a day's job replaces that day, never
        truncates the table.

        Concurrency: replaces on the head it swaps, so commits that only
        touched OTHER partitions survive; a concurrent commit that added
        files into a partition being replaced raises
        :class:`CommitConflict` (its rows would be silently dropped —
        Iceberg's validation semantics).

        ``ref`` targets a branch — the write-audit-publish staging shape
        for backfills: overwrite on the audit branch, diff it against
        main (:meth:`diff_refs`), then :meth:`fast_forward`."""
        _seq, head = self._ref_head(name, ref)
        if head < 0:
            raise ValueError(f"branch {ref!r} does not exist on {name!r}")
        m = self._load_manifest(name, head)
        spec = self._spec(m)
        if not spec:
            raise ValueError(
                "dynamic partition overwrite needs a partitioned table "
                "(use overwrite for full replacement)"
            )
        schema_cols = [f.name for f in self.schema(name).fields]
        aligned = df.select(
            *[
                F.col(c) if c in df.columns else F.lit(None).alias(c)
                for c in schema_cols
            ]
        )
        self._enforce_constraints(name, aligned)
        new_files = self._write_files(name, aligned, spec)
        touched = {tuple(sorted(e["partition"].items())) for e in new_files}
        base_files_in_touched = {
            e["path"]
            for e in m["files"]
            if tuple(sorted(e["partition"].items())) in touched
        }

        def derive(head: dict) -> dict:
            for e in head["files"]:
                if (
                    tuple(sorted(e["partition"].items())) in touched
                    and e["path"] not in base_files_in_touched
                ):
                    raise CommitConflict(
                        "concurrent commit added files into a partition "
                        "being overwritten; aborting"
                    )
            files = [
                e
                for e in head["files"]
                if tuple(sorted(e["partition"].items())) not in touched
            ]
            return {**head, "files": files + new_files}

        return self._advance(name, ref, "overwrite-partitions", derive, base=m)

    def overwrite(self, name: str, df: DataFrame) -> int:
        m = self._load_manifest(name)
        self._enforce_constraints(name, df)
        new_files = self._write_files(name, df, self._spec(m))
        return self._advance(
            name,
            "main",
            "overwrite",
            lambda h: {**_without_deletes(h), "files": new_files},
            base=m,
        )

    # --------------------------------------------------- row-level (CoW)
    @staticmethod
    def _manifest_spans(m: dict) -> list[tuple[str | None, list[dict]]]:
        """m["files"] sliced back into its segment spans (sid, entries),
        aligned with _seg_layout; one (None, files) span when the list
        no longer aligns with it (already rewritten in memory)."""
        files = m.get("files") or []
        layout = m.get("_seg_layout")
        if not layout or sum(c for _, c in layout) != len(files):
            return [(None, files)]
        spans: list[tuple[str | None, list[dict]]] = []
        off = 0
        for sid, cnt in layout:
            spans.append((sid, files[off : off + cnt]))
            off += cnt
        return spans

    def _affected_files(self, m: dict, where: list) -> list[dict]:
        """The files of ``m`` whose rows may satisfy ``where``.

        Segment-level pre-prune first (same _seg_may_match the scan path
        uses): a segment whose [min, max] partition summary excludes the
        predicate is skipped WHOLESALE — per-entry _may_match runs only
        over matching segments' entries, so planning a partition-scoped
        delete/update against a million-file table is
        O(segments + matching entries), not O(table)."""
        spec = self._spec(m)
        seg_stats = m.get("_seg_stats") or {}
        return [
            e
            for sid, chunk in self._manifest_spans(m)
            if sid is None
            or not where
            or _seg_may_match(spec, seg_stats.get(sid), where)
            for e in chunk
            if _may_match(spec, e, where)
        ]

    def delete(
        self,
        name: str,
        where: list[tuple[str, str, Any]] | None = None,
        mode: str = "cow",
        equality: list[str] | None = None,
        keys: DataFrame | None = None,
    ) -> int:
        """Row-level DELETE (≙ Iceberg row-level deletes; the reference
        has no row-level ops at all). NULL-predicate rows are kept, per
        SQL DELETE semantics.

        ``mode="cow"`` (default): copy-on-write — only files whose
        partition values / stats can contain matching rows are rewritten.
        Write cost proportional to affected data, reads stay pure scans.

        ``mode="mor"``: merge-on-read (≙ Iceberg v2 delete files) — NO
        data file is rewritten and no manifest entry changes; the
        predicate is recorded as one table-level descriptor
        ``{where, seq}`` in ``global_pred_deletes``, and every later read
        applies NOT(predicate) to the files older than it. Write cost is
        one metadata commit regardless of table size — the right trade
        for frequent small deletes (GDPR erasure streams) — while reads
        pay a filter until :meth:`rewrite_deletes` (or any rewriting op
        touching the file) folds the delete in. Both modes commit
        atomically and time-travel correctly: prior snapshots keep the
        pre-delete state.

        ``equality=[cols] + keys=<DataFrame>``: EQUALITY delete (≙
        Iceberg v2 equality-delete files — the streaming-CDC-upsert
        shape): instead of a predicate, the rows to delete are identified
        by a SET OF KEY TUPLES. ``keys`` must carry exactly the
        ``equality`` columns; it is deduplicated and written as parquet
        delete file(s) under ``deletes/``, recorded as one table-level
        descriptor in ``global_eq_deletes``; no manifest entry changes.
        Reads anti-join the delete set (null-safe, so a NULL key deletes
        NULL rows). Sequence semantics match Iceberg: the delete applies
        to files whose ``seq`` is below its own, i.e. files present at
        commit time — rows APPENDED AFTERWARDS with the same keys are
        NOT affected, which is what makes delete-then-reinsert (CDC
        upsert replay) correct. An empty key set, or keys that no
        current file's partition values / stats can hold, is a no-op.
        With ``mode="cow"`` the affected files are instead rewritten
        immediately via the same anti-join."""
        m = self._load_manifest(name)
        if equality is not None:
            if keys is None:
                raise ValueError("equality delete requires keys=")
            if where is not None:
                raise ValueError("pass either where= or equality=, not both")
            return self._delete_equality(name, m, equality, keys, mode)
        if not where:
            raise ValueError("predicate delete requires where=")
        if mode == "mor":
            where_json = [[c, op, _json_lit(v)] for c, op, v in where]

            def derive(head: dict) -> dict | None:
                if not self._affected_files(head, where):
                    return None  # provably nothing to delete: no-op
                return {
                    **head,
                    "global_pred_deletes": [
                        *head.get("global_pred_deletes", []),
                        {"where": where_json},
                    ],
                }

            return self._advance(name, "main", "delete-mor", derive, base=m)
        if mode != "cow":
            raise ValueError(f"unknown delete mode {mode!r}")
        affected = self._affected_files(m, where)
        if not affected:
            return m["version"]  # provably nothing to delete: no-op
        df = self._read_files(name, m, affected)
        keep = df.filter(~F.coalesce(_predicate(where), F.lit(False)))
        new_files = self._write_files(name, keep, self._spec(m))
        derive = self._rewrite(m, affected, new_files)
        return self._advance(name, "main", "delete", derive, base=m)

    def _delete_equality(
        self,
        name: str,
        m: dict,
        equality: list[str],
        keys: DataFrame,
        mode: str,
    ) -> int:
        """Write an equality-delete file and record it (mor) or fold it
        (cow). Affected-file selection maps the key set's per-column
        [min, max] range through the SAME stats/partition-transform
        pruning a scan uses: cow rewrites only the files that can hold
        those keys, and either mode is a no-op when no file can."""
        schema = StructType.fromJson(m["schema"])
        names = {f.name for f in schema.fields}
        missing = [c for c in equality if c not in names]
        if missing:
            raise ValueError(f"equality columns not in schema: {missing}")
        if sorted(keys.columns) != sorted(equality):
            raise ValueError(
                f"keys columns {keys.columns} != equality {equality}"
            )
        types = {f.name: f.dataType for f in schema.fields}
        dkeys = keys.select(
            *[F.col(c).cast(types[c]).alias(c) for c in equality]
        ).distinct()
        del_entries: list[dict] = []
        if mode == "mor":
            # write-first: the key set's ONE source-lineage job is the
            # delete-file write; the pruning predicate is then read from
            # the tiny written file (_eq_delete_bounds, the same bounds
            # file_deletes uses) instead of re-running the source scan
            # for a collect and a bounds agg. The basename-uniqueness
            # guard runs later, just before the commit, so a no-op
            # delete (empty keys, nothing bound) stays a silent no-op
            # even on a colliding-basename table.
            del_entries = self._write_eq_delete_files(name, dkeys, equality)
        def _discard_written() -> None:
            # nothing references the just-written delete file(s) yet —
            # remove them so no-op/error paths can't orphan parquet
            # under deletes/ (expire_snapshots' ttl sweep is the
            # backstop for crashes that skip even this)
            for d in del_entries:
                try:
                    os.remove(os.path.join(self._dir(name), d["path"]))
                except OSError:
                    pass

        try:
            return self._delete_equality_bound(
                name, m, equality, dkeys, mode, del_entries, _discard_written
            )
        except BaseException:
            _discard_written()
            raise

    def _delete_equality_bound(
        self,
        name: str,
        m: dict,
        equality: list[str],
        dkeys: DataFrame,
        mode: str,
        del_entries: list[dict],
        _discard_written,
    ) -> int:
        """Predicate/split/commit half of :meth:`_delete_equality` —
        runs after the delete file is staged; any raise before the
        commit is cleaned up by the caller's discard wrapper."""
        where_bounds, has_null_keys = (
            self._eq_delete_bounds(name, del_entries[0])
            if mode == "mor"
            else self._eq_key_predicate(dkeys, equality)
        )
        if not where_bounds and not has_null_keys:
            _discard_written()  # wrote for nothing: empty key set
            return m["version"]  # empty key set: no-op
        spec = self._spec(m)
        seg_stats = m.get("_seg_stats") or {}
        affected: list[dict] = []
        allowed = self._bucket_allowed(m, spec, where_bounds)
        for sid, chunk in self._manifest_spans(m):
            # segment-level pre-prune (identity-partition summaries):
            # a non-overlapping segment's entries go untouched WHOLESALE
            # — per-entry stats/bucket checks run only over matching
            # segments, so a point-keyed delete against a million-file
            # table plans O(segments + matching entries). NULL keys
            # disable it (min/max never covers NULL), same per-entry
            # rule as below.
            if (
                not has_null_keys
                and sid is not None
                and where_bounds
                and not _seg_may_match(spec, seg_stats.get(sid), where_bounds)
            ):
                continue
            cand = chunk if allowed is None else self._bucket_filter(
                chunk, allowed
            )
            pruned = set(map(id, cand))
            for e in chunk:
                hit = id(e) in pruned and _may_match(spec, e, where_bounds)
                # NULL keys carry no range info; stats can't exclude a
                # file for them (min/max never covers NULL)
                if hit or has_null_keys:
                    affected.append(e)
        if not affected:
            _discard_written()  # keys bind to no current file
            return m["version"]
        if mode == "cow":
            df = self._read_files(name, m, affected)
            cond = _null_safe_eq(df, dkeys, equality)
            kept = df.join(dkeys, on=cond, how="left_anti")
            new_files = self._write_files(name, kept, spec)
            derive = self._rewrite(m, affected, new_files)
            return self._advance(name, "main", "delete", derive, base=m)
        if mode != "mor":
            raise ValueError(f"unknown delete mode {mode!r}")

        def derive(head: dict) -> dict:
            # the equality MoR read path scopes delete applicability via
            # a basename-keyed seq map — colliding external basenames
            # would duplicate data rows through that left join. Checked
            # HERE (after the no-op early returns) so provably-empty
            # deletes never raise.
            self._require_unique_basenames(name, head, "delete(mode='mor')")
            return {
                **head,
                "global_eq_deletes": [
                    *head.get("global_eq_deletes", []),
                    *del_entries,
                ],
            }

        return self._advance(name, "main", "delete-mor", derive, base=m)

    # exact-membership pruning bound: key sets at or under this size are
    # collected driver-side and prune as `col IN (...)` — through bucket
    # transforms and gappy stats — instead of a coarse min/max range.
    # 1024 keys x a scalar is a trivial driver/manifest payload; a GDPR
    # erasure batch or CDC epoch is typically far smaller.
    EQ_POINT_KEY_LIMIT = 1024

    def _eq_key_predicate(
        self, dkeys: DataFrame, equality: list[str]
    ) -> tuple[list[tuple[str, str, Any]], bool]:
        """(pruning predicate, has_null_keys) for an equality key set.

        Small single-column sets become an exact ``IN`` membership test —
        which :func:`_may_match` maps through ANY deterministic transform
        and :meth:`_prune_buckets` maps through bucket transforms, so a
        point-keyed delete on a bucket-partitioned table selects only
        the matching buckets' files (the 100 TB GDPR-erasure shape).
        Larger or composite key sets fall back to per-column min/max
        ranges from one tiny agg job."""
        if len(equality) == 1:
            col = equality[0]
            sample = dkeys.limit(self.EQ_POINT_KEY_LIMIT + 1).collect()
            if len(sample) <= self.EQ_POINT_KEY_LIMIT:
                vals = [r[col] for r in sample]
                nonnull = [v for v in vals if v is not None]
                where = [(col, "in", nonnull)] if nonnull else []
                return where, len(nonnull) < len(vals)
        bounds = dkeys.agg(
            *[F.min(c).alias(f"mn_{c}") for c in equality],
            *[F.max(c).alias(f"mx_{c}") for c in equality],
            *[F.count(c).alias(f"nn_{c}") for c in equality],
            F.count(F.lit(1)).alias("n_all"),
        ).first()
        where_bounds: list[tuple[str, str, Any]] = []
        for c in equality:
            if bounds[f"mn_{c}"] is not None:
                where_bounds.append((c, ">=", bounds[f"mn_{c}"]))
            if bounds[f"mx_{c}"] is not None:
                where_bounds.append((c, "<=", bounds[f"mx_{c}"]))
        has_null_keys = any(
            bounds[f"nn_{c}"] < bounds["n_all"] for c in equality
        )
        return where_bounds, has_null_keys

    def _write_eq_delete_files(
        self, name: str, dkeys: DataFrame, equality: list[str]
    ) -> list[dict]:
        """Persist a deduplicated key set as ONE parquet equality-delete
        file under ``deletes/`` (a key set is small next to the data it
        deletes); returns its descriptor."""
        return [
            {
                "path": os.path.relpath(dst, self._dir(name)),
                "cols": list(equality),
                "bytes": os.path.getsize(dst),
            }
            for dst in self._stage_delete_parquet(
                name, dkeys.coalesce(1), "eqdel"
            )
        ]

    def read_with_positions(
        self,
        name: str,
        snapshot_id: int | None = None,
        ref: str | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Snapshot read carrying ``_file_name`` / ``_pos`` coordinate
        columns — what an audit query selects from to build the
        ``positions`` input of :meth:`delete_positions` (outstanding MoR
        deletes are already applied, so coordinates always name live
        rows)."""
        m = self._load_manifest(name, self._resolve(name, snapshot_id, ref, tag))
        return self._read_files(name, m, m["files"], with_positions=True)

    def _require_unique_basenames(self, name: str, m: dict, op: str) -> None:
        """Row-level MoR machinery (positional-delete coordinates,
        sequence-number scoping) keys files by BASENAME (``_file_name``)
        — unique by construction for managed writes (uuid names), but
        externally registered files (:meth:`add_files`) may collide
        (Spark's partitionBy reuses one task file name across partition
        dirs). Refuse with a remedy instead of corrupting silently.

        O(segments) fast path: managed writes are uuid-named (unique by
        construction), so when EVERY segment summary records ext=False
        (no add_files entries anywhere) the walk is skipped entirely —
        at 1M files the guard costs a dict scan over segment summaries,
        not an inventory pass. Spans out of alignment after an
        in-memory rewrite fall back to the full walk."""
        stats = m.get("_seg_stats", {})
        layout = m.get("_seg_layout")
        if (
            layout
            and sum(c for _, c in layout) == len(m.get("files") or [])
            and not any(stats[sid]["ext"] for sid, _cnt in layout)
        ):
            return
        seen: set[str] = set()
        for e in m["files"]:
            bn = os.path.basename(e["path"])
            if bn in seen:
                raise ValueError(
                    f"{op}: table {name!r} holds files with colliding "
                    f"basenames ({bn!r}, externally registered) — "
                    f"row-level deletes key rows by file name; run "
                    f"compact() first to rewrite them under unique names"
                )
            seen.add(bn)

    @staticmethod
    def _refuse_colliding_adds(name: str, m: dict, added: list[dict]) -> None:
        """The add_files half of the basename rule: while equality
        deletes or deletion vectors are outstanding, a file whose
        basename matches another entry's (or another added file's) is
        refused — deletion vectors name files by basename and the read's
        file-seq map is keyed by it, so the deletes would bind to the
        wrong file. Once none is outstanding, collisions are allowed."""
        if not (m.get("global_eq_deletes") or m.get("global_pos_deletes")):
            return
        seen = {os.path.basename(e["path"]) for e in m["files"]}
        for e in added:
            bn = os.path.basename(e["path"])
            if bn in seen:
                raise ValueError(
                    f"add_files: {e['path']!r} collides by basename with "
                    f"another file of {name!r}, which has outstanding "
                    f"equality or positional deletes keyed by file name; "
                    f"run rewrite_deletes() or compact() first"
                )
            seen.add(bn)

    def delete_positions(self, name: str, positions: DataFrame) -> int:
        """POSITIONAL delete, merge-on-read (≙ Iceberg v2 position-delete
        files — the third delete class next to predicate and equality
        MoR). ``positions`` carries (``_file_name``, ``_pos``): physical
        data-file name + 0-based row ordinal, the coordinates
        :meth:`read_with_positions` emits. The pairs are written as ONE
        bitmap deletion vector (:meth:`_dv_encode`) under ``deletes/``,
        recorded as a table-level descriptor in ``global_pos_deletes`` —
        no manifest entry changes, and it binds to exactly the named
        rows (file names are unique, so no stats guesswork). Every read
        anti-joins the decoded (file, row) set. No data file is
        rewritten; commit cost is O(delete set).

        This is the only delete class that can remove ONE of two
        physically identical rows (predicate and equality deletes name
        values, which both copies share) — i.e. the surgical tool for
        post-hoc dedup of an already-committed corpus. Later appends are
        naturally unaffected (new files have new names); renames/drops of
        columns don't unbind it (positions are name-agnostic).
        :meth:`compact_deletes` merges the vectors into one,
        :meth:`rewrite_deletes` folds them into the data;
        :meth:`expire_snapshots` GCs the delete files once
        unreferenced."""
        if sorted(positions.columns) != ["_file_name", "_pos"]:
            raise ValueError(
                f"positions needs exactly (_file_name, _pos); got "
                f"{positions.columns}"
            )
        m = self._load_manifest(name)
        self._require_unique_basenames(name, m, "delete_positions")
        by_fn = {os.path.basename(e["path"]): e for e in m["files"]}
        dpos = positions.distinct()
        touched = [r["_file_name"] for r in dpos.select("_file_name").distinct().collect()]
        unknown = [fn for fn in touched if fn not in by_fn]
        if unknown:
            raise ValueError(
                f"positions reference files not in the current snapshot: "
                f"{unknown[:3]}{'...' if len(unknown) > 3 else ''}"
            )
        if not touched:
            return m["version"]  # empty delete set: no-op
        dv = self._write_dv_files(name, self._dv_encode(dpos))

        def derive(head: dict) -> dict:
            if head is not m:  # the guards above, on the head that won
                self._require_unique_basenames(name, head, "delete_positions")
                live = {os.path.basename(e["path"]) for e in head["files"]}
                if not live.issuperset(touched):
                    raise CommitConflict(
                        "a concurrent commit removed a file these "
                        "positions name; aborting"
                    )
            return {
                **head,
                "global_pos_deletes": [*head.get("global_pos_deletes", []), *dv],
            }

        return self._advance(name, "main", "delete-mor", derive, base=m)

    def _stage_delete_parquet(
        self, name: str, df: DataFrame, prefix: str
    ) -> list[str]:
        """Write ``df`` via a private staging dir and promote each part
        file into ``deletes/`` under a uuid name — THE delete-file
        staging workflow (equality and DV writers both ride it);
        returns the promoted absolute paths."""
        del_dir = os.path.join(self._dir(name), "deletes")
        staging = os.path.join(self._dir(name), "_staging", uuid.uuid4().hex)
        df.write.mode("overwrite").option("compression", "zstd").parquet(
            staging
        )
        os.makedirs(del_dir, exist_ok=True)
        import shutil as _sh

        out: list[str] = []
        for fn in sorted(os.listdir(staging)):
            if not fn.endswith(".parquet"):
                continue
            dst = os.path.join(del_dir, f"{prefix}-{uuid.uuid4().hex}.parquet")
            os.replace(os.path.join(staging, fn), dst)
            out.append(dst)
        _sh.rmtree(staging, ignore_errors=True)
        return out

    @staticmethod
    def _dv_encode(coords: DataFrame) -> DataFrame:
        """(_file_name, _pos) coordinates -> BITMAP deletion-vector rows
        (≙ Iceberg v3 DV spec direction: roaring bitmaps per data file —
        our 64-bit word rows are exactly roaring's dense "bitmap
        container" shape, in a form Spark reads natively): one row per
        data file, ``words: array<struct<w, b>>`` sorted by w, where
        position p lives in word p>>6 at bit p&63, plus the per-file bit
        count ``n``. A file's delete set stores ceil(density*rows/64)
        16-byte rows instead of 8 bytes PER position — up to 32x smaller
        at full density, where a sorted position list would be
        largest."""
        return (
            coords.distinct()
            .select(
                "_file_name",
                F.shiftright("_pos", 6).alias("w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(pmod(_pos, 64) AS INT))"
                ).alias("bit"),
            )
            .groupBy("_file_name", "w")
            .agg(F.expr("bit_or(bit)").alias("b"))
            .groupBy("_file_name")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("w"), F.col("b")))
                ).alias("words"),
                F.expr("CAST(sum(bit_count(b)) AS BIGINT)").alias("n"),
            )
            .coalesce(1)
        )

    def _write_dv_files(self, name: str, dv: DataFrame) -> list[dict]:
        """Persist :meth:`_dv_encode` rows as parquet under ``deletes/``
        (≙ Iceberg v3 deletion vectors: positions stored compressed per
        file instead of one row per coordinate).

        Each descriptor records ``n_pos`` — the TOTAL coordinate count (a
        one-column driver read of the tiny per-file ``n`` rollup) —
        because a compressed DV's on-disk bytes under-represent the
        exploded rows the read-side anti-join materializes; the 64 MB
        broadcast guard must see coordinates, not compressed bytes."""
        import pyarrow.parquet as pq

        out: list[dict] = []
        for dst in self._stage_delete_parquet(name, dv, "dv"):
            ncol = pq.read_table(dst, columns=["n"])["n"]
            out.append(
                {
                    "path": os.path.relpath(dst, self._dir(name)),
                    "bytes": os.path.getsize(dst),
                    "n_pos": int(sum(v.as_py() or 0 for v in ncol)),
                }
            )
        return out

    def _dv_coords(self, name: str, gpos: list[dict]) -> DataFrame:
        """(_file_name, _pos) coordinates of deletion-vector descriptors:
        word w contributes position w*64+i for every set bit i — pure
        JVM expressions, no Python in the path. The read path's
        anti-join side, the changelog's and compact_deletes' input."""
        return (
            self.spark.read.parquet(
                *[os.path.join(self._dir(name), g["path"]) for g in gpos]
            )
            .select("_file_name", F.explode("words").alias("wd"))
            .select(
                "_file_name",
                F.explode(
                    F.expr(
                        "filter(transform(sequence(0, 63), i -> "
                        "IF((shiftright(wd.b, i) & 1) = 1, "
                        "wd.w * 64 + CAST(i AS BIGINT), "
                        "CAST(NULL AS BIGINT))), "
                        "x -> x IS NOT NULL)"
                    )
                ).alias("_pos"),
            )
        )

    def _eq_delete_keys(
        self, name: str, schema: StructType, cols: tuple, gdels: list[dict]
    ) -> DataFrame:
        """``(cols..., __del_seq)`` rows of equality-delete descriptors
        sharing one key-column set, in ONE multi-path scan of their key
        files (:func:`_key_files`) that reads only the key columns: a
        merged file carries ``__del_seq`` per row, any other file takes
        its descriptor's seq (looked up by file name). An upsert's data
        file lacks its identity partition columns; they come from its
        path, also by file name. Deletion vectors and predicate deletes
        on those files never shrink the key set. Explicit read schema at
        the current table types — widening promotion covers pre-widen
        files."""
        types = {f.name: f.dataType for f in schema.fields}
        files = [(p, g["seq"]) for g in gdels for p in _key_files(g)]
        df = self.spark.read.schema(
            StructType(
                [StructField(c, types[c], True) for c in cols]
                + [StructField("__del_seq", LongType(), True)]
            )
        ).parquet(*[os.path.join(self._dir(name), p) for p, _ in files])

        hive = {p: _hive_values(p) for p, _ in files}

        def key(c: str) -> Column:
            parted = [(p, v) for p, h in hive.items() if (v := h.get(c)) is not None]
            if not parted:
                return F.col(c)
            restored = _by_file_name(parted).cast(types[c])
            return F.coalesce(F.col(c), restored).alias(c)

        return df.select(
            *[key(c) for c in cols],
            F.coalesce("__del_seq", _by_file_name(files)).alias("__del_seq"),
        )

    def file_deletes(self, name: str, manifest: dict) -> dict[str, FileDeletes]:
        """Path -> :class:`FileDeletes` for every entry of ``manifest`` —
        THE owner of the delete format's two per-file facts: which
        deletes may touch a file (predicate descriptors with a higher
        seq whose ``where`` passes the scan's stats and partition
        pruning, equality descriptors with a higher seq whose key bounds
        (:meth:`_eq_delete_bounds`) pass the scan's stats, partition and
        bucket pruning, deletion vectors naming it) and how many row
        positions it has deleted (decoded from the vectors driver-side,
        exact across overlapping vectors). Used by rewrite_deletes,
        changelog, the metadata count queries and the snaptable
        connector."""
        import numpy as np
        import pyarrow.parquet as pq

        gdels = manifest.get("global_eq_deletes", [])
        spec = self._spec(manifest)
        bounds = [self._eq_delete_bounds(name, g) for g in gdels]
        allowed = [self._bucket_allowed(manifest, spec, w) for w, _n in bounds]
        eq_touch: list[set[int]] = []
        for g, (where, has_null), al in zip(gdels, bounds, allowed):
            older = [e for e in manifest["files"] if e["seq"] < g["seq"]]
            if not has_null:  # min/max never covers NULL keys
                older = [e for e in older if _may_match(spec, e, where)]
                if al is not None:
                    older = self._bucket_filter(older, al)
            eq_touch.append({id(e) for e in older})
        named: dict[str, tuple[list[dict], list]] = {}
        for g in manifest.get("global_pos_deletes", []):
            tbl = pq.read_table(
                os.path.join(self._dir(name), g["path"]),
                columns=["_file_name", "words"],
            )
            for fn, pos in _dv_positions(tbl).items():
                descs, parts = named.setdefault(fn, ([], []))
                descs.append(g)
                parts.append(pos)
        preds = manifest.get("global_pred_deletes", [])
        out: dict[str, FileDeletes] = {}
        for e in manifest["files"]:
            descs, parts = named.get(os.path.basename(e["path"]), ([], []))
            n_pos = len(np.unique(np.concatenate(parts))) if parts else 0
            out[e["path"]] = FileDeletes(
                [
                    g for g in preds
                    if g["seq"] > e["seq"] and _may_match(spec, e, g["where"])
                ],
                [g for g, ids in zip(gdels, eq_touch) if id(e) in ids],
                descs,
                n_pos,
            )
        return out

    def _eq_delete_bounds(self, name: str, g: dict) -> tuple[list, bool]:
        """(pruning predicate, has_null_keys) of one equality-delete
        descriptor, read driver-side from its key files
        (:func:`_key_files`): a single-column set of at most
        :attr:`EQ_POINT_KEY_LIMIT` integer or string keys becomes an
        exact ``in`` list (which also maps through bucket transforms);
        any other set becomes per-column [min, max] from the files'
        footers, normalized exactly like data-file stats. A key column
        a file lacks (an identity partition column the hive layout
        strips) gives no bound."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(g["cols"])
        pfs = [
            pq.ParquetFile(os.path.join(self._dir(name), p))
            for p in _key_files(g)
        ]
        if any(c not in pf.schema_arrow.names for pf in pfs for c in cols):
            return [], True
        n_rows = sum(pf.metadata.num_rows for pf in pfs)
        if n_rows == 0:
            return [(cols[0], "in", [])], False
        nulls = [_collect_null_counts(pf.metadata) for pf in pfs]
        has_null = any(n.get(c, 1) > 0 for n in nulls for c in cols)
        t = pfs[0].schema_arrow.field(cols[0]).type
        if (
            len(cols) == 1
            and n_rows <= self.EQ_POINT_KEY_LIMIT
            and (pa.types.is_integer(t) or pa.types.is_string(t))
        ):
            vals = [
                v
                for pf in pfs
                for v in pf.read(columns=cols).column(0).to_pylist()
                if v is not None
            ]
            return [(cols[0], "in", vals)], has_null
        stats = [_collect_column_stats(pf.metadata) for pf in pfs]
        # no bound on timestamps: footer stats are UTC, while time
        # partition transforms use the session zone
        where = [
            (c, op, pick(st[c][i] for st in stats))
            for c in cols
            if all(c in st for st in stats)
            and not pa.types.is_timestamp(pfs[0].schema_arrow.field(c).type)
            for op, i, pick in ((">=", 0, min), ("<=", 1, max))
        ]
        return where, has_null

    def upsert_equality(
        self, name: str, df: DataFrame, keys: list[str], ref: str = "main"
    ) -> int:
        """Merge-on-read UPSERT in ONE commit (≙ an Iceberg v2 streaming
        upsert epoch: an equality delete + data files under one
        snapshot/sequence number — the shape a CDC `foreachBatch` sink
        commits per micro-batch). The incoming rows land as new data
        files, written ONCE: they are also the delete's key set, so the
        one table-level descriptor in ``global_eq_deletes`` names them
        as its key source (``src``) instead of a separate delete file
        (the primary-key merge-on-read shape of Paimon and Hudi, under
        the Iceberg v2 sequence rule). Both take the commit's ``seq``:
        the delete applies to every OLDER file (old versions of those
        keys vanish) and not to the epoch's own files, so the commit
        atomically replaces each key's row(s). NO existing file is
        rewritten and no manifest entry changes; cost is one metadata
        commit + the new rows' write (≤2 Spark jobs, one manifest load),
        regardless of table size. An empty ``df`` commits nothing and
        returns the head. Rows sharing a key within ``df`` all survive
        (dedupe upstream per batch — Iceberg's upsert contract).
        Readers pay one anti-join per key-column set, however many
        epochs are outstanding, until :meth:`rewrite_deletes`;
        :meth:`compact_deletes` merges the epochs' key sets into one
        delete file."""
        m = self._load_manifest(name)
        staged = self._stage_upsert(name, m, df, keys)
        return self._advance(
            name, ref, "upsert", self._upsert_derive(name, staged), base=m
        )

    def _stage_upsert(
        self,
        name: str,
        m: dict,
        df: DataFrame,
        keys: list[str],
        schema_json: dict | None = None,
    ) -> dict:
        """Run the DATA half of an upsert epoch — ONE distributed write
        of the new rows, which are also the epoch's key set — with no
        head advance; ``m`` is the main head, loaded once by the caller.
        The JSON-able entry is applied later through
        :meth:`_upsert_derive` (directly, or through a multi-table
        :class:`Transaction`).
        ``schema_json`` overrides the alignment schema — a Transaction
        passes its staged-DDL projection so an upsert staged after an
        add_column writes the evolved shape instead of silently
        dropping the new column."""
        self._require_unique_basenames(name, m, "upsert")
        schema = StructType.fromJson(schema_json or m["schema"])
        schema_cols = [f.name for f in schema.fields]
        missing = [c for c in keys if c not in schema_cols]
        if missing:
            raise ValueError(f"equality columns not in schema: {missing}")
        aligned = df.select(
            *[
                F.col(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        self._enforce_constraints(name, aligned, m)
        added = []
        for e in self._write_files(name, aligned, self._spec(m), manifest=m):
            if e["records"]:
                added.append(e)
            else:  # an empty batch's writer may leave a 0-row file
                os.remove(os.path.join(self._dir(name), e["path"]))
        return {"op": "upsert", "added": added, "keys": list(keys)}

    def _upsert_derive(self, name: str, entry: dict):
        """``derive`` of a staged upsert: append the epoch's files and
        ONE equality descriptor naming them as its key source (``src``)
        on the apply-time head. Both take this commit's seq, so commits
        that won meanwhile correctly fall under the delete (sequence
        order) while the epoch's own files are exempt. Idempotent: None
        once the files are on the head — so an epoch that wrote no file
        commits nothing."""
        added_paths = {e["path"] for e in entry["added"]}
        desc = {
            "cols": list(entry["keys"]),
            "src": [e["path"] for e in entry["added"]],
            "bytes": sum(e["bytes"] for e in entry["added"]),
        }

        def derive(head: dict) -> dict | None:
            if added_paths <= {e["path"] for e in head["files"]}:
                return None  # already applied (idempotent replay)
            # the staging-time guard, on the head the descriptor lands
            # on: add_files may have registered colliding basenames since
            self._require_unique_basenames(name, head, "upsert")
            return {
                **head,
                "files": head["files"] + entry["added"],
                "global_eq_deletes": [
                    *head.get("global_eq_deletes", []),
                    desc,
                ],
            }

        return derive

    def rewrite_deletes(self, name: str) -> int:
        """Materialize merge-on-read deletes (≙ Iceberg
        ``rewrite_position_delete_files`` + data-file rewrite): ONLY the
        files some delete may touch (:meth:`file_deletes`) are read
        (deletes applied) and rewritten clean; every other file survives
        untouched. After this, reads of the new snapshot pay no delete
        filters, and the delete files become unreferenced (reaped by
        :meth:`expire_snapshots` once no surviving snapshot points at
        them). Table-level deletes that touch no file are dropped
        without a data rewrite. No-op if no delete is outstanding."""
        m = self._load_manifest(name)
        deletes = self.file_deletes(name, m)
        dirty = [e for e in m["files"] if deletes[e["path"]].dirty]
        if not dirty and not any(m.get(k) for k in _DELETE_LISTS):
            return m["version"]
        new_files: list[dict] = []
        if dirty:
            # the MoR read applying equality deletes and deletion vectors
            # keys rows by basename; colliding external names would
            # misattribute coordinates / duplicate rows through basename
            # joins. Predicate deletes bind by seq, not by file name.
            if m.get("global_eq_deletes") or m.get("global_pos_deletes"):
                self._require_unique_basenames(name, m, "rewrite_deletes")
            df = self._read_files(name, m, dirty)
            new_files = self._write_files(name, df, self._spec(m))
        rewrite = self._rewrite(m, dirty, new_files)
        # every file a table-level delete touches was rewritten
        return self._advance(
            name,
            "main",
            "rewrite-deletes",
            lambda h: _without_deletes(rewrite(h)),
            base=m,
        )

    def compact_deletes(self, name: str) -> int:
        """Merge the table-level deletes without touching any data file
        (≙ the delete-file half of Iceberg's
        rewrite_position_delete_files): the key sets of each key-column
        set's descriptors (delete files, or an upsert epoch's data files)
        become ONE delete file carrying ``(keys..., __del_seq)``
        with the highest seq per key (a later delete of the same key
        subsumes an earlier one, since ``delete seq > file seq`` holds
        for the max whenever it holds for any), and the deletion vectors
        become ONE vector. The read plan is one anti-join per key-column
        set either way; compaction bounds the number of delete files a
        read scans and a snapshot references. Row-visible state is
        unchanged (oracle-pinned by q_compact_deletes + value-identity
        pytest); superseded delete files become unreferenced and are
        reaped by :meth:`expire_snapshots`. Returns the head version —
        unchanged when nothing needed merging."""
        m = self._load_manifest(name)
        gdels = m.get("global_eq_deletes", [])
        gpos = m.get("global_pos_deletes", [])
        merge_eq = {c: ds for c, ds in _by_cols(gdels).items() if len(ds) > 1}
        if not merge_eq and len(gpos) <= 1:
            return m["version"]
        # the read path applying the merged deletes is basename-keyed;
        # refuse colliding external basenames before any of that work
        self._require_unique_basenames(name, m, "compact_deletes")
        merged_eq: list[dict] = []
        if merge_eq:
            schema = StructType.fromJson(m["schema"])
            for cols, ds in merge_eq.items():
                keys = (
                    self._eq_delete_keys(name, schema, cols, ds)
                    .groupBy(*cols)
                    .agg(F.max("__del_seq").alias("__del_seq"))
                )
                for g in self._write_eq_delete_files(name, keys, list(cols)):
                    merged_eq.append({**g, "seq": max(d["seq"] for d in ds)})
        merged_pos: list[dict] = []
        if len(gpos) > 1:
            merged_pos = [
                {**g, "seq": max(d["seq"] for d in gpos)}
                for g in self._write_dv_files(
                    name, self._dv_encode(self._dv_coords(name, gpos))
                )
            ]
        eq_gone = {_key_files(g) for ds in merge_eq.values() for g in ds}
        pos_gone = {_key_files(g) for g in gpos} if merged_pos else set()

        def swap(descs: list[dict], gone: set, merged: list[dict]) -> list:
            # descriptors the head gained since m stay as they are; the
            # merged ones must all still be there
            kept = [g for g in descs if _key_files(g) not in gone]
            if len(kept) + len(gone) != len(descs):
                raise CommitConflict(
                    "a concurrent commit removed delete files this "
                    "compaction merged; aborting"
                )
            return kept + merged

        def derive(head: dict) -> dict:
            out = dict(head)
            if eq_gone:
                out["global_eq_deletes"] = swap(
                    head.get("global_eq_deletes", []), eq_gone, merged_eq
                )
            if pos_gone:
                out["global_pos_deletes"] = swap(
                    head.get("global_pos_deletes", []), pos_gone, merged_pos
                )
            return out

        return self._advance(name, "main", "compact-deletes", derive, base=m)

    def update(
        self,
        name: str,
        set_exprs: dict[str, Column],
        where: list[tuple[str, str, Any]],
        mode: str = "cow",
    ) -> int:
        """Row-level UPDATE. ``mode="cow"`` (default), copy-on-write over
        possibly-affected files: matching rows get ``set_exprs`` applied,
        others are rewritten verbatim; provably-untouched files are not
        rewritten.

        ``mode="mor"``: merge-on-read (≙ Iceberg's MERGE-ON-READ update:
        position-delete file + replacement data files under ONE
        snapshot). The matched rows' (file, row) coordinates become a
        deletion vector retiring the OLD versions in place, and the
        updated copies land as new data files — NO existing file is
        rewritten, write cost is O(matched rows), not O(affected files).
        The frequent-small-update shape at 100 TB: a CoW update of 1k
        rows spread over 1k large files rewrites TBs; the MoR update
        writes kilobytes. Reads pay the coordinate anti-join until
        :meth:`rewrite_deletes` folds it."""
        m = self._load_manifest(name)
        affected = self._affected_files(m, where)
        if not affected:
            return m["version"]
        hit = F.coalesce(_predicate(where), F.lit(False))
        if mode == "mor":
            # positional coordinates key rows by basename — colliding
            # externally-registered names would retire same-position rows
            # in the WRONG partition's same-named file (silent corruption)
            self._require_unique_basenames(name, m, "update(mode='mor')")
            df = self._read_files(name, m, affected, with_positions=True)
            matched = df.filter(hit)
            dpos = matched.select("_file_name", "_pos").distinct()
            touched = [
                r["_file_name"]
                for r in dpos.select("_file_name").distinct().collect()
            ]
            if not touched:
                return m["version"]  # predicate matched no rows: no-op
            updated = matched.drop("_file_name", "_pos")
            for col, expr in set_exprs.items():
                updated = updated.withColumn(col, expr)
            new_files = self._write_files(name, updated, self._spec(m))
            dv = self._write_dv_files(name, self._dv_encode(dpos))
            retired = [
                e for e in affected if os.path.basename(e["path"]) in touched
            ]

            def derive(head: dict) -> dict:
                # the updated copies carry rows read at m
                self._validate_rewrite(m, head, retired)
                self._require_unique_basenames(name, head, "update(mode='mor')")
                return {
                    **head,
                    "files": head["files"] + new_files,
                    "global_pos_deletes": [
                        *head.get("global_pos_deletes", []),
                        *dv,
                    ],
                }

            return self._advance(name, "main", "update-mor", derive, base=m)
        if mode != "cow":
            raise ValueError(f"unknown update mode {mode!r}")
        df = self._read_files(name, m, affected)
        for col, expr in set_exprs.items():
            df = df.withColumn(col, F.when(hit, expr).otherwise(F.col(col)))
        new_files = self._write_files(name, df, self._spec(m))
        derive = self._rewrite(m, affected, new_files)
        return self._advance(name, "main", "update", derive, base=m)

    def merge(
        self,
        name: str,
        source: DataFrame,
        on: list[str],
        delete_when: Column | None = None,
        not_matched_by_source: str | None = None,
        not_matched_by_source_set: dict[str, Column] | None = None,
        not_matched_by_source_where: list[tuple[str, str, Any]] | None = None,
    ) -> int:
        """MERGE upsert (≙ Iceberg ``MERGE INTO``): target rows whose key
        appears in ``source`` are replaced by the source row; unmatched
        source rows are inserted.

        ``delete_when`` adds the ``WHEN MATCHED AND <cond> THEN DELETE``
        clause — the CDC-apply shape: a source row satisfying the
        condition (evaluated against the RAW source, so an ``op`` flag
        column that is not part of the table schema works) removes its
        matched target row instead of replacing it. Deletes, updates, and
        inserts land in ONE atomic commit.

        ``not_matched_by_source`` ("delete" or "update") adds the Spark 4
        / SQL:2023 ``WHEN NOT MATCHED BY SOURCE THEN DELETE / UPDATE SET
        not_matched_by_source_set`` clause — the FULL-SYNC shape: target
        rows whose key is ABSENT from the source are deleted (or
        updated), making the table mirror the source after the commit.
        ``not_matched_by_source_where`` is the clause's ``AND <cond>``,
        as manifest-prunable (col, op, literal) triples: it both gates
        the row-level action AND prunes files — a sync scoped to one
        partition (the common incremental-mirror shape) rewrites ONLY
        that partition's files, every other file survives by reference.
        Without it, every target file is affected (any row could be
        unmatched — exactly SQL's semantics and cost).

        Copy-on-write at partition granularity: the source's partition
        values (derived through the table's transforms — a small driver-
        side set, exactly what Iceberg reads from manifests) select the
        files that can hold matched keys; only those are rewritten, plus
        new files for the source rows. With no partition spec (or NULL
        partition values in the source) it degrades to a full rewrite.
        The source must cover the table schema's columns (missing ones
        land as NULL for inserted rows — align beforehand if not)."""
        m = self._load_manifest(name)
        spec = self._spec(m)
        schema_cols = [f.name for f in StructType.fromJson(m["schema"]).fields]

        def project(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.col(c) if c in df.columns else F.lit(None).alias(c)
                    for c in schema_cols
                ]
            )

        if not_matched_by_source not in (None, "delete", "update"):
            raise ValueError(
                "not_matched_by_source must be 'delete' or 'update'"
            )
        if not_matched_by_source == "update" and not not_matched_by_source_set:
            raise ValueError(
                "not_matched_by_source='update' requires "
                "not_matched_by_source_set"
            )
        # partition-value selection sees EVERY source row (upserts AND
        # deletes): a delete row's partition must be rewritten too
        pval_src = project(source)
        match_keys = source.select(on).distinct()
        if delete_when is not None:
            hit = F.coalesce(delete_when, F.lit(False))
            source = source.filter(~hit)
        src = project(source)
        affected = m["files"]
        if spec:
            pvals = (
                pval_src.select(
                    *[t.expr().cast("string").alias(t.field_name) for t in spec]
                )
                .distinct()
                .collect()
            )
            keys = {tuple(str(v) for v in r) for r in pvals}
            if not any(v == "None" for k in keys for v in k):
                affected = [
                    e
                    for e in m["files"]
                    if tuple(str(e["partition"].get(t.field_name)) for t in spec)
                    in keys
                ]
        if not_matched_by_source is not None:
            # the clause can touch rows no source partition points at:
            # widen the affected set to files that may hold rows
            # satisfying its condition (all files when unconditioned) —
            # SQL semantics at manifest-pruned cost
            if not_matched_by_source_where is None:
                affected = m["files"]
            else:
                cond_aff = self._affected_files(m, not_matched_by_source_where)
                aff_ids = {id(e) for e in affected} | {
                    id(e) for e in cond_aff
                }
                affected = [e for e in m["files"] if id(e) in aff_ids]
        target = self._read_files(name, m, affected)
        survivors = target.join(match_keys, on, "left_anti")
        if not_matched_by_source is not None:
            cond = (
                _predicate(not_matched_by_source_where)
                if not_matched_by_source_where
                else None
            )
            cond = F.lit(True) if cond is None else F.coalesce(
                cond, F.lit(False)
            )
            if not_matched_by_source == "delete":
                survivors = survivors.filter(~cond)
            else:
                for col, expr in (not_matched_by_source_set or {}).items():
                    survivors = survivors.withColumn(
                        col, F.when(cond, expr).otherwise(F.col(col))
                    )
        merged = survivors.unionByName(src)
        new_files = self._write_files(name, merged, spec)
        derive = self._rewrite(m, affected, new_files)
        return self._advance(name, "main", "merge", derive, base=m)

    # ---------------------------------------------------------------- reads
    def _read_files(
        self,
        name: str,
        manifest: dict,
        files: list[dict],
        with_positions: bool = False,
    ) -> DataFrame:
        """Plan a read over manifest-listed files.

        ``with_positions=True`` appends ``_file_name`` / ``_pos`` columns
        (physical data file name + 0-based row ordinal, from Spark's
        ``_metadata`` hidden columns) — the coordinates
        :meth:`delete_positions` consumes. They reflect the PHYSICAL file
        layout, so they are stable across reads and unaffected by the
        delete filters applied below.

        Files are grouped by their hive partition layout (the key set of
        their manifest partition values) so partition-spec evolution works:
        files written under different specs live at different path depths,
        and each group is read with its own layout then unioned — mixing
        depths in one ``spark.read`` would trip partition discovery.

        Each group reads with an EXPLICIT schema instead of mergeSchema:
        evolved-away columns come back NULL, and files written before a
        ``widen_column`` read through Spark's parquet widening promotion
        (int32→long, float→double) — mergeSchema would refuse that merge.
        Renamed columns resolve via ``former_names`` field metadata:
        the read schema carries every historical name and the projection
        coalesces them (a file has exactly one of the names). Path-only
        partition columns are typed string and dropped; their parse type
        never matters.

        Merge-on-read deletes, applied so readers see the post-delete
        state without any file having been rewritten:

        - each table-level predicate delete is one filter in the group's
          projection: NOT(predicate) when every file of the group is
          older than it, ``NOT (predicate AND __file_seq < seq)`` when
          the group holds files on both sides of its seq, nothing when
          none is older. External files, whose basenames may collide
          and so cannot key the file-seq map, are grouped by the
          predicate deletes that cover them instead.
        - the manifest's table-level equality deletes apply to the whole
          read as ONE null-safe broadcast anti-join per key-column set,
          on ``keys match AND __del_seq > __file_seq``: each row's file
          seq is looked up by its file name in a literal map, each
          delete row's seq comes from :meth:`_eq_delete_keys`.
        - the manifest's deletion vectors apply as ONE broadcast
          (file, row) anti-join.

        The plan shape is the same however many delete commits are
        outstanding. A descriptor whose seq is at or below every planned
        file's seq cannot touch any of them and is skipped."""
        schema = StructType.fromJson(manifest["schema"])
        min_seq = min((e["seq"] for e in files), default=0)
        gdels = [
            g for g in manifest.get("global_eq_deletes", [])
            if g["seq"] > min_seq
        ]
        gpos = [
            g for g in manifest.get("global_pos_deletes", [])
            if g["seq"] > min_seq
        ]
        preds = [
            g for g in manifest.get("global_pred_deletes", []) if g["seq"] > min_seq
        ]
        if not files:
            if with_positions:
                schema = schema.add("_file_name", StringType()).add(
                    "_pos", "long"
                )
            return self.spark.createDataFrame([], schema)
        names = {f.name for f in schema.fields}
        former = {
            f.name: [
                n
                for n in f.metadata.get("former_names", [])
                if n not in names
            ]
            for f in schema.fields
        }
        # initial-default columns (Iceberg v3 semantics): a file whose
        # recorded writer schema lacks the column reads the default for
        # every row; files that HAVE it keep their values, genuine NULLs
        # included.
        dflt = {
            f.name: (f.metadata["initial_default"], f.dataType)
            for f in schema.fields
            if "initial_default" in (f.metadata or {})
        }
        # a renamed column's files recorded the OLD name in their writer
        # schema — presence must resolve through every historical name
        dflt_names = {
            f.name: {f.name, *f.metadata.get("former_names", [])}
            for f in schema.fields
            if f.name in dflt
        }
        groups: dict[tuple, list[dict]] = {}
        for e in files:
            ecols = set(e["cols"])
            absent = tuple(
                sorted(c for c in dflt if not (dflt_names[c] & ecols))
            )
            ext = bool(e.get("external"))
            # external groups additionally split by partition VALUES and
            # by file column set: hive-layout files don't physically
            # carry identity partition columns, so the read restores
            # them from the manifest — which needs one literal per
            # group, i.e. value-homogeneous groups. They also split by
            # how many predicate deletes are newer than the file:
            # external basenames may collide, so no external group may
            # need the basename-keyed file-seq map below
            extkey = (
                (
                    ext,
                    tuple(sorted(e["partition"].items())),
                    tuple(e["cols"]),
                    sum(g["seq"] > e["seq"] for g in preds),
                )
                if ext
                else (ext, (), (), 0)
            )
            groups.setdefault(
                (tuple(sorted(e["partition"])), absent, extkey), []
            ).append(e)
        # per group: (predicate delete some file is older than, whether
        # some file is not)
        filters = [
            [
                (g, any(e["seq"] >= g["seq"] for e in entries))
                for g in preds
                if any(e["seq"] < g["seq"] for e in entries)
            ]
            for entries in groups.values()
        ]
        file_seq = bool(gdels) or any(mx for fs in filters for _g, mx in fs)

        parts: list[DataFrame] = []
        for ((layout, absent, extkey), entries), fs in zip(
            groups.items(), filters
        ):
            external = extkey[0]
            hidden = [k for k in layout if k not in names]
            read_schema = StructType(
                [
                    StructField(f.name, _nested_nullable(f.dataType), True)
                    for f in schema.fields
                ]
                + [
                    StructField(n, _nested_nullable(f.dataType), True)
                    for f in schema.fields
                    for n in former[f.name]
                ]
                + [StructField(h, StringType(), True) for h in hidden]
            )
            # external (add_files-registered) entries live OUTSIDE the
            # table dir: no basePath (Spark requires every input under
            # it), no hive path parsing — their partition metadata is
            # manifest-only, and identity partition columns are
            # physically present in the files
            reader = self.spark.read
            if not external:
                reader = reader.option(
                    "basePath", os.path.join(self._dir(name), "data")
                )
            df = reader.schema(read_schema).parquet(
                *[os.path.join(self._dir(name), e["path"]) for e in entries]
            )
            if external:
                # restore identity partition columns hive layouts strip
                # from the data files: manifest value -> typed literal
                # (the group is partition-value- and column-homogeneous
                # by construction of extkey above)
                evals = dict(extkey[1])
                ecols = set(extkey[2])
                for f in schema.fields:
                    if f.name in evals and f.name not in ecols:
                        df = df.withColumn(
                            f.name,
                            F.lit(evals[f.name]).cast(
                                _nested_nullable(f.dataType)
                            ),
                        )
            meta_cols = (
                [
                    F.col("_metadata.file_name").alias("_file_name"),
                    F.col("_metadata.row_index").alias("_pos"),
                ]
                if (with_positions or gpos)
                else []
            )
            if file_seq:
                meta_cols.append(
                    _by_file_name((e["path"], e["seq"]) for e in entries).alias(
                        "__file_seq"
                    )
                )
            def _field_expr(f: StructField) -> Column:
                if f.name in absent:
                    v, dt = dflt[f.name]
                    return F.lit(v).cast(_nested_nullable(dt)).alias(f.name)
                if former[f.name]:
                    return (
                        F.coalesce(
                            F.col(f.name), *[F.col(n) for n in former[f.name]]
                        )
                        .cast(_nested_nullable(f.dataType))
                        .alias(f.name)
                    )
                return F.col(f.name).cast(_nested_nullable(f.dataType))

            proj = df.select(
                *[_field_expr(f) for f in schema.fields], *meta_cols
            )
            for g, mixed in fs:
                hit = F.coalesce(_predicate(g["where"]), F.lit(False))
                if mixed:
                    hit = hit & (F.col("__file_seq") < g["seq"])
                proj = proj.filter(~hit)
            parts.append(proj)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if gpos:
            # deletion vectors: anti-join on the physical (file, row)
            # coordinate — applies to exactly the named rows, which is
            # what lets one of two IDENTICAL rows be removed (a shape no
            # predicate or key set can express). Coordinates bind by file
            # name; uuid names never recur, so no seq condition is needed
            # row-side. A coordinate set that outgrew broadcast (billions
            # of deletes between rewrites, estimated at ~10 B per
            # coordinate) falls back to a shuffle anti-join —
            # rewrite_deletes is the pressure valve there.
            gp_df = self._dv_coords(name, gpos)
            if sum(g["n_pos"] for g in gpos) * 10 < 64 * 1024 * 1024:
                gp_df = F.broadcast(gp_df)
            out = out.join(
                gp_df, on=["_file_name", "_pos"], how="left_anti"
            )
        if gdels:
            for cols, ds in _by_cols(gdels).items():
                # no .distinct(): an anti-join is insensitive to
                # build-side duplicates across delete files
                dels = self._eq_delete_keys(name, schema, cols, ds)
                if sum(d.get("bytes", 0) for d in ds) < 64 * 1024 * 1024:
                    dels = F.broadcast(dels)
                cond = _null_safe_eq(out, dels, list(cols)) & (
                    dels["__del_seq"] > out["__file_seq"]
                )
                out = out.join(dels, on=cond, how="left_anti")
        if gpos or file_seq:
            # drop the columns only the deletes needed
            out = out.select(
                *[f.name for f in schema.fields],
                *(["_file_name", "_pos"] if with_positions else []),
            )
        return out

    def _resolve(
        self,
        name: str,
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of: float | str | None = None,
    ) -> int:
        """Resolve a read target: explicit snapshot id > commit-time
        bound (``as_of``: epoch seconds or an ISO-8601 UTC instant — the
        ``TIMESTAMP AS OF`` analogue, resolving to the newest main-chain
        snapshot committed at or before the bound) > tag > branch > main
        head."""
        if snapshot_id is not None:
            return snapshot_id
        if as_of is not None:
            try:  # DataSource options arrive as strings — epoch first
                bound = float(as_of)
            except (TypeError, ValueError):
                import datetime as _dt

                d = _dt.datetime.fromisoformat(str(as_of))
                if d.tzinfo is None:
                    d = d.replace(tzinfo=_dt.timezone.utc)
                bound = d.timestamp()
            best = -1
            for v in self._ancestors(name, self._current_version(name)):
                # raw manifest — committed_at is a top-level key; as-of
                # resolution must not materialize every ancestor's
                # inventory
                m = self._manifest_raw(name, v)
                if m.get("committed_at", float("-inf")) <= bound:
                    best = max(best, v)
            if best < 0:
                raise ValueError(
                    f"no snapshot of {name!r} committed at or before {as_of!r}"
                )
            return best
        if ref is not None and ref != "main":
            tag = self._tag_path(name, ref)
            if os.path.exists(tag):
                with open(tag) as f:
                    return int(f.read().strip())
            _seq, v = self._ref_head(name, ref)
            if v >= 0:
                return v
            raise ValueError(f"no branch or tag {ref!r} on table {name!r}")
        return self._current_version(name)

    def read(
        self,
        name: str,
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of: float | str | None = None,
    ) -> DataFrame:
        """Read the table at the current snapshot, a historical snapshot
        (time travel ≙ Iceberg ``VERSION AS OF``), a named branch/tag
        (≙ ``VERSION AS OF 'ref'``), or the newest snapshot committed at
        or before an instant (``as_of`` ≙ ``TIMESTAMP AS OF``).

        Planned by the same :meth:`_plan_read` as :meth:`scan`, with no
        predicate: every live file, read by :meth:`_read_files` with the
        snapshot's deletes applied.

        Snapshot read plans are CACHED per (session, manifest identity):
        a snapshot's file set and delete state are immutable while the
        snapshot exists, so the logical plan is too — re-reading the
        same version re-uses the built DataFrame instead of re-issuing
        the per-group reader calls (≙ Iceberg's catalog metadata cache;
        a long-running service reads a hot table thousands of times per
        metadata change). Keyed on the manifest file's (path, mtime_ns,
        size, inode) so a table dropped and recreated in place can
        never serve a stale plan — the inode closes the coarse-mtime
        corner where drop+recreate yields a same-size manifest within
        one mtime tick (a fresh file is a fresh inode) — plus a WEAK
        reference to the SparkSession (live weakrefs compare by
        referent and a dead ref never equals a live one, so
        ``newSession()`` siblings / restarted sessions can't collide
        even under id() reuse, and the cache pins no stopped session's
        JVM state: entries whose session was collected are purged at
        store time)."""
        v = self._resolve(name, snapshot_id, ref, as_of)
        mp = self._manifest_path(name, v)
        try:
            st = os.stat(mp)
            key = (
                weakref.ref(self.spark),
                mp,
                st.st_mtime_ns,
                st.st_size,
                st.st_ino,
            )
        except (FileNotFoundError, TypeError):
            key = None
        hit = self._READ_PLANS.get(key)
        if hit is not None:
            return hit
        raw, files, _total = self._plan_read(name, v, [])
        return self._READ_PLANS.put(key, self._read_files(name, raw, files))

    # (session weakref, manifest path, mtime_ns, size, inode) -> DataFrame
    READ_PLAN_CACHE_MAX = 256
    _READ_PLANS = LRU(READ_PLAN_CACHE_MAX)

    # ----------------------------------------------------- branches & tags
    def create_branch(
        self, name: str, branch: str, at_snapshot: int | None = None
    ) -> int:
        """Create a mutable named ref at ``at_snapshot`` (default: main
        head). Appends with ``ref=branch`` advance only the branch — the
        write-audit-publish staging pattern (≙ Iceberg branching)."""
        if branch == "main":
            raise ValueError("'main' is reserved")
        base = (
            self._current_version(name) if at_snapshot is None else at_snapshot
        )
        if not os.path.exists(self._manifest_path(name, base)):
            raise ValueError(f"snapshot {base} does not exist on {name!r}")
        seq_path = os.path.join(self._heads_dir(name, branch), "seq-000000000")
        if not self._link_pointer(seq_path, str(base)):
            raise ValueError(f"branch {branch!r} already exists on {name!r}")
        return base

    def create_tag(self, name: str, tag: str, at_snapshot: int | None = None) -> int:
        """Create an immutable named snapshot pointer (≙ Iceberg tags).
        Tagged snapshots survive :meth:`expire_snapshots`."""
        base = (
            self._current_version(name) if at_snapshot is None else at_snapshot
        )
        if not os.path.exists(self._manifest_path(name, base)):
            raise ValueError(f"snapshot {base} does not exist on {name!r}")
        if not self._link_pointer(self._tag_path(name, tag), str(base)):
            raise ValueError(f"tag {tag!r} already exists on {name!r}")
        return base

    def drop_branch(self, name: str, branch: str) -> None:
        if branch == "main":
            raise ValueError("cannot drop 'main'")
        import shutil

        shutil.rmtree(self._heads_dir(name, branch))

    def drop_tag(self, name: str, tag: str) -> None:
        os.remove(self._tag_path(name, tag))

    # ------------------------------------------------- per-ref retention
    # ≙ Iceberg's per-ref retention knobs (`max-ref-age-ms`,
    # `min-snapshots-to-keep`): the production cleanup contract for WAP
    # audit branches and quarantine tags — without it every staging
    # branch pins its history forever. Policies live per ref under
    # _meta/<table>/refprops/ and are honored by expire_snapshots:
    # over-age refs are REMOVED (their snapshots then expire by the
    # normal rules), a branch with max-snapshot-age-ms stops pinning
    # ancestors older than that age, and min-snapshots-to-keep FLOORS
    # that age-based expiry (newest N always survive). `main` is
    # governed by expire_snapshots' own keep_last/older_than arguments,
    # never by a ref policy.

    def _ref_props_path(self, name: str, ref: str) -> str:
        return os.path.join(self._meta_dir(name), "refprops", f"{ref}.json")

    def set_ref_policy(
        self,
        name: str,
        ref: str,
        max_ref_age_ms: float | None = None,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: float | None = None,
    ) -> None:
        """Attach a retention policy to a branch or tag (replaces any
        prior policy for that ref). Knob semantics match Iceberg's
        same-named ref properties exactly:

        - ``max_ref_age_ms``: the REF itself is removed once its pointer
          is older than this; its snapshots then expire normally.
        - ``max_snapshot_age_ms`` (branches only): branch ANCESTRY stops
          pinning snapshots committed longer ago than this — the knob
          that actually expires branch history.
        - ``min_snapshots_to_keep`` (branches only): a retention FLOOR
          on ``max_snapshot_age_ms`` — the newest N ancestors survive
          age-based expiry regardless of age. By itself it expires
          NOTHING (a branch with only this knob still pins its full
          ancestry), exactly like Iceberg, where it never acts alone."""
        if ref == "main":
            raise ValueError(
                "main's retention is keep_last/older_than on "
                "expire_snapshots, not a ref policy"
            )
        is_branch = self._ref_head(name, ref)[1] >= 0
        is_tag = os.path.exists(self._tag_path(name, ref))
        if not (is_branch or is_tag):
            raise ValueError(f"no branch or tag {ref!r} on table {name!r}")
        if min_snapshots_to_keep is not None and is_tag:
            raise ValueError(
                "min_snapshots_to_keep applies to branches only"
            )
        if max_snapshot_age_ms is not None and is_tag:
            raise ValueError(
                "max_snapshot_age_ms applies to branches only"
            )
        os.makedirs(
            os.path.dirname(self._ref_props_path(name, ref)), exist_ok=True
        )
        with open(self._ref_props_path(name, ref), "w") as f:
            json.dump(
                {
                    "max_ref_age_ms": max_ref_age_ms,
                    "min_snapshots_to_keep": min_snapshots_to_keep,
                    "max_snapshot_age_ms": max_snapshot_age_ms,
                },
                f,
            )

    def _ref_policy(self, name: str, ref: str) -> dict:
        try:
            with open(self._ref_props_path(name, ref)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _ref_age_ms(self, name: str, ref: str) -> float:
        """Age of a ref = time since its pointer was last WRITTEN (a
        branch ages from its newest head-advance, a tag from creation)
        — so an active audit branch never expires mid-use."""
        import time as _time

        d = self._heads_dir(name, ref)
        if os.path.isdir(d):
            seqs = [fn for fn in os.listdir(d) if fn.startswith("seq-")]
            if seqs:
                newest = max(
                    os.path.getmtime(os.path.join(d, fn)) for fn in seqs
                )
                return (_time.time() - newest) * 1000.0
        tp = self._tag_path(name, ref)
        if os.path.exists(tp):
            return (_time.time() - os.path.getmtime(tp)) * 1000.0
        return 0.0

    # ----------------------------------------------------- versioned views
    # ≙ the Iceberg VIEW SPEC: a catalog object holding VERSIONED SQL
    # definitions — every replace appends an immutable new version, old
    # versions stay readable (time travel over the view DEFINITION, the
    # analytics-contract audit trail: "what did the KPI view compute
    # last quarter?"). Definitions are text; resolution happens through
    # spark.sql at read time, so a view over snaptable-backed temp
    # views composes with table time travel.

    def _views_dir(self, view: str) -> str:
        return os.path.join(self.warehouse, "_views", view)

    def _view_version_path(self, view: str, version: int) -> str:
        return os.path.join(self._views_dir(view), f"v{version}.json")

    def create_view(self, view: str, sql: str) -> int:
        """Create version 1 of a named SQL view. Fails if it exists."""
        if os.path.isdir(self._views_dir(view)):
            raise ValueError(f"view {view!r} already exists")
        os.makedirs(self._views_dir(view), exist_ok=True)
        return self._write_view_version(view, sql)

    def replace_view(self, view: str, sql: str) -> int:
        """Append a new immutable version (CREATE OR REPLACE VIEW): the
        head definition changes, every prior version stays readable."""
        if not os.path.isdir(self._views_dir(view)):
            raise ValueError(f"view {view!r} does not exist")
        return self._write_view_version(view, sql)

    def _write_view_version(self, view: str, sql: str) -> int:
        import time as _time

        while True:
            v = self._max_view_version(view) + 1
            try:
                with open(self._view_version_path(view, v), "x") as f:
                    json.dump(
                        {"version": v, "sql": sql, "created_at": _time.time()},
                        f,
                    )
                return v
            except FileExistsError:
                continue  # concurrent definer won this number: next

    def _max_view_version(self, view: str) -> int:
        best = 0
        try:
            for fn in os.listdir(self._views_dir(view)):
                if fn.startswith("v") and fn.endswith(".json"):
                    try:
                        best = max(best, int(fn[1:-5]))
                    except ValueError:
                        pass
        except FileNotFoundError:
            pass
        return best

    def view_sql(
        self,
        view: str,
        version: int | None = None,
        as_of: float | str | None = None,
    ) -> str:
        """The SQL text of a view version: explicit ``version``, or the
        newest version created at or before ``as_of`` (``TIMESTAMP AS
        OF`` over view DEFINITIONS), or the head."""
        if version is None and as_of is not None:
            try:
                bound = float(as_of)
            except (TypeError, ValueError):
                import datetime as _dt

                d = _dt.datetime.fromisoformat(str(as_of))
                if d.tzinfo is None:
                    d = d.replace(tzinfo=_dt.timezone.utc)
                bound = d.timestamp()
            best = -1
            for vv in range(1, self._max_view_version(view) + 1):
                with open(self._view_version_path(view, vv)) as f:
                    rec = json.load(f)
                if rec["created_at"] <= bound:
                    best = vv
            if best < 0:
                raise ValueError(
                    f"no version of view {view!r} at or before {as_of!r}"
                )
            version = best
        if version is None:
            version = self._max_view_version(view)
        if version < 1:
            raise ValueError(f"view {view!r} does not exist")
        p = self._view_version_path(view, version)
        if not os.path.exists(p):
            raise ValueError(f"view {view!r} has no version {version}")
        with open(p) as f:
            return json.load(f)["sql"]

    def read_view(
        self,
        view: str,
        version: int | None = None,
        as_of: float | str | None = None,
    ) -> DataFrame:
        """Evaluate a view version through ``spark.sql`` — the renamed
        tables/temp views its text references resolve in the session,
        so a view over snaptable temp views composes with table time
        travel."""
        return self.spark.sql(self.view_sql(view, version, as_of))

    def install_view(self, view: str, version: int | None = None) -> None:
        """Bind a view version into the session as a TEMP VIEW under its
        own name, so plain ``spark.sql('SELECT ... FROM <view>')``
        works — the SQL-surface face of the versioned catalog entry."""
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {view} AS "
            + self.view_sql(view, version)
        )

    def view_versions(self, view: str) -> DataFrame:
        """Version history (≙ Iceberg view-spec ``versions`` metadata)."""
        rows = []
        for vv in range(1, self._max_view_version(view) + 1):
            p = self._view_version_path(view, vv)
            if os.path.exists(p):
                with open(p) as f:
                    rec = json.load(f)
                rows.append((vv, rec["sql"], float(rec["created_at"])))
        return self.spark.createDataFrame(
            rows, "version INT, sql STRING, created_at DOUBLE"
        )

    def drop_view(self, view: str) -> None:
        import shutil as _sh

        if not os.path.isdir(self._views_dir(view)):
            raise ValueError(f"view {view!r} does not exist")
        _sh.rmtree(self._views_dir(view))

    def rewrite_segments(self, name: str) -> int:
        """Rebin the current snapshot's manifest segments into fresh
        target-sized ones (≙ Iceberg's ``rewrite_manifests`` maintenance
        action): a long run of micro-appends leaves one under-full
        segment per commit beyond what commit-time merging coalesced —
        planning then touches O(commits) segment files. This rewrites
        the SEGMENTS ONLY: every data-file entry survives by value
        (zero data I/O, path identity pinned in tests), the snapshot's
        row-visible state is unchanged, and superseded segment files are
        reaped by :meth:`expire_snapshots` once unreferenced. Commit
        cost is an explicit O(table-entries) re-encode — the same deal
        Iceberg's action makes; run it on maintenance cadence, not per
        commit."""

        def derive(head: dict) -> dict:
            # no reuse bookkeeping: every entry re-bins into fresh
            # target-sized segments instead of surviving by identity run
            return {
                k: v
                for k, v in head.items()
                if k not in ("_seg_layout", "_base_entries")
            }

        m = self._load_manifest(name)
        return self._advance(name, "main", "rewrite-manifests", derive, base=m)

    def refs(self, name: str) -> DataFrame:
        """All named refs (≙ Iceberg ``.refs`` metadata table)."""
        rows = [("main", "branch", self._current_version(name))]
        heads = os.path.join(self._meta_dir(name), "heads")
        if os.path.isdir(heads):
            for b in sorted(os.listdir(heads)):
                if b != "main":
                    rows.append((b, "branch", self._ref_head(name, b)[1]))
        tags = os.path.join(self._meta_dir(name), "tags")
        if os.path.isdir(tags):
            for t in sorted(os.listdir(tags)):
                with open(os.path.join(tags, t)) as f:
                    rows.append((t, "tag", int(f.read().strip())))
        return self.spark.createDataFrame(
            rows, "ref STRING, type STRING, snapshot_id INT"
        )

    def _ancestors(self, name: str, version: int) -> list[int]:
        """Snapshot ids reachable from ``version`` via parent links (stops
        at expired history)."""
        out, v = [], version
        while v is not None and os.path.exists(self._manifest_path(name, v)):
            out.append(v)
            # raw manifest: the parent link must not materialize the
            # whole inventory per hop (chains are walked inside expiry
            # and as-of resolution)
            v = self._manifest_raw(name, v).get("parent")
        return out

    def fast_forward(self, name: str, branch: str, ref: str = "main") -> int:
        """Advance ``ref`` (default main) to ``branch``'s head — the
        publish step of write-audit-publish. Fails unless the target head
        descends from the current ``ref`` head (same rule as Iceberg's
        ``fast_forward`` procedure), re-checked if ``ref`` moves
        concurrently."""

        def derive(head: dict | None) -> int | None:
            cur = -1 if head is None else head["version"]
            _bseq, target = self._ref_head(name, branch)
            if target < 0:
                raise ValueError(f"no branch {branch!r} on table {name!r}")
            if target == cur:
                return None
            if cur >= 0 and cur not in self._ancestors(name, target):
                raise ValueError(
                    f"{ref!r} (at {cur}) is not an ancestor of "
                    f"{branch!r} (at {target}); not a fast-forward"
                )
            return target

        return self._advance(name, ref, "fast-forward", derive)

    def cherry_pick(self, name: str, snapshot_id: int, ref: str = "main") -> int:
        """Re-apply one append snapshot's added files on top of ``ref``'s
        head (≙ Iceberg ``cherrypick_snapshot`` — the other WAP publish
        path, when only SOME audited commits should ship). Only append
        snapshots are cherry-pickable; a file already present on the
        target head aborts (double-publish guard)."""
        snap = self._load_manifest(name, snapshot_id)
        if snap["operation"] != "append":
            raise ValueError(
                f"snapshot {snapshot_id} is {snap['operation']!r}: only "
                "append snapshots can be cherry-picked"
            )
        parent = snap.get("parent")
        parent_paths = (
            {e["path"] for e in self._load_manifest(name, parent)["files"]}
            if parent is not None
            else set()
        )
        # re-added files take the cherry-pick commit's seq: deletes the
        # target committed before the pick never apply to them
        added = [
            {k: v for k, v in e.items() if k != "seq"}
            for e in snap["files"]
            if e["path"] not in parent_paths
        ]

        def derive(head: dict) -> dict:
            clash = {e["path"] for e in head["files"]} & {
                e["path"] for e in added
            }
            if clash:
                raise ValueError(
                    f"cherry-pick of {snapshot_id} conflicts: "
                    f"{len(clash)} file(s) already on target"
                )
            return {**head, "files": head["files"] + added}

        _seq, head = self._ref_head(name, ref)
        return self._advance(
            name, ref, "append", derive, base=self._load_manifest(name, head)
        )

    def _prune_buckets(
        self, m: dict, spec: list["Transform"], files: list[dict], where: list
    ) -> list[dict]:
        """Drop files whose bucket partition value cannot hold any literal
        of an ``==``/``in`` predicate on the bucket's source column.
        Bucket transforms are not order-preserving, so :func:`_may_match`
        skips them; membership still maps exactly: x IN (v1..vn) =>
        bucket(x) IN (bucket(v1)..bucket(vn)). Conservative: files from
        a spec generation without the bucket value are kept."""
        allowed = self._bucket_allowed(m, spec, where)
        if allowed is None:
            return files
        return self._bucket_filter(files, allowed)

    @staticmethod
    def _bucket_allowed(
        m: dict, spec: list["Transform"], where: list
    ) -> dict[str, set[str]] | None:
        """Bucket field -> the bucket-value strings the ``==``/``in``
        literals of ``where`` on its source column can land in, or None
        when bucket pruning does not apply. Each literal is hashed in
        pure Python with the writer's own function (:func:`bucket_of`:
        Spark's xxhash64 after a cast to the column's declared type —
        hash input type changes the hash), so planning runs no Spark
        job. A literal with no exact Python hash leaves its field
        unpruned."""
        schema = StructType.fromJson(m["schema"])
        allowed: dict[str, set[str]] = {}
        blind: set[str] = set()
        for col, op, lit_v in where:
            if op not in ("==", "in"):
                continue
            for t in spec:
                if t.kind != "bucket" or t.source != col:
                    continue
                for v in lit_v if op == "in" else [lit_v]:
                    b = bucket_of(v, schema[col].dataType, t.arg)
                    if b is None:
                        blind.add(t.field_name)
                    else:
                        allowed.setdefault(t.field_name, set()).add(str(b))
        for f in blind:
            allowed.pop(f, None)
        return allowed or None

    @staticmethod
    def _bucket_filter(
        files: list[dict], allowed: dict[str, set[str]]
    ) -> list[dict]:
        return [
            e
            for e in files
            if all(
                e["partition"].get(f) is None
                or str(e["partition"].get(f)) in vs
                for f, vs in allowed.items()
            )
        ]

    def scan(
        self, name: str, where: list[tuple[str, str, Any]] | None = None
    ) -> tuple[DataFrame, int, int]:
        """Filtered scan with manifest-level partition pruning — the
        ``newScan().filter().planTasks()`` analogue (reference #5).

        ``where`` is a list of (column, op, literal) with op in
        {==, >=, <=, >, <, in, isnull, notnull} (for ``in`` the literal
        is a list of members; for isnull/notnull it is ignored — pass
        None). Planning (:meth:`_plan_read`, shared with :meth:`read`)
        prunes segments by their partition summaries, then files by
        their manifest partition values, column min/max stats, null
        counts (IS NULL skips zero-null files, IS NOT NULL skips
        all-null files, and an all-null column fails every comparison
        even without min/max stats), Bloom indexes, and BUCKET
        membership for ``==``/``in`` (the literal's bucket is computed
        in pure Python with the same xxhash64 the writer used, so
        planning runs no Spark job). ALL predicates are still applied
        row-level as residuals.
        Returns (df, files_planned, files_total)."""
        w = where or []
        raw, files, total = self._plan_read(name, self._current_version(name), w)
        df = self._read_files(name, raw, files)
        pred = _predicate(w)
        if pred is not None:
            df = df.filter(pred)
        return df, len(files), total

    def _plan_read(
        self, name: str, version: int, where: list
    ) -> tuple[dict, list[dict], int]:
        """The one read planner behind :meth:`scan` and :meth:`read`:
        ``(raw manifest, files to read, live file count)``. Segments
        whose summary cannot match ``where`` are skipped before their
        entries are touched; surviving segments' entries (process-
        cached) are kept if they may match, then bucket-pruned."""
        raw = self._manifest_raw(name, version)
        spec = self._spec(raw)
        seg_stats = raw["seg_stats"]
        surv = [
            sid
            for sid in raw["segments"]
            if _seg_may_match(spec, seg_stats[sid], where)
        ]
        self._prefetch_segments(name, surv)
        files = [
            e
            for sid in surv
            for e in self._seg_entries(name, sid)
            if _may_match(spec, e, where)
        ]
        files = self._prune_buckets(raw, spec, files, where)
        total = sum(seg_stats[sid]["n"] for sid in raw["segments"])
        return raw, files, total

    # ------------------------------------------------------------- metadata
    def snapshots(self, name: str, ref: str = "main") -> DataFrame:
        """Snapshot history of a branch — the parent chain from its head
        (≙ ``table.snapshots()`` iteration, reference #27,
        aig/PartitionValueDebugger.java:164-196). With branches, snapshot
        ids are global but each branch sees only its own lineage."""
        rows = []
        for v in sorted(self._ancestors(name, self._resolve(name, ref=ref))):
            raw = self._manifest_raw(name, v)
            # O(segments) rollup from the per-segment summaries —
            # snapshot inspection never touches entries
            stats = [raw["seg_stats"][sid] for sid in raw["segments"]]
            n_f = sum(st["n"] for st in stats)
            n_r = sum(st["rec"] for st in stats)
            n_b = sum(st["byt"] for st in stats)
            rows.append(
                (
                    raw["version"],
                    raw.get("parent"),
                    raw["operation"],
                    n_f,
                    int(n_r),
                    int(n_b),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "snapshot_id INT, parent INT, operation STRING, n_files INT, "
            "n_records BIGINT, total_bytes BIGINT",
        )

    def files(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        """``files`` METADATA TABLE (≙ Iceberg ``table$files``): one row
        per live data file with its manifest metadata. Against columnar
        segments this is a DISTRIBUTED read — Spark scans the segment
        parquet files directly (column-pruned to the four exposed
        fields), so inspecting a 1M-file inventory is an executor job,
        not a driver materialization."""
        v = (
            self._current_version(name)
            if snapshot_id is None
            else snapshot_id
        )
        raw = self._manifest_raw(name, v)
        return self.spark.read.schema(
            "path string, partition string, records long, bytes long"
        ).parquet(*[self._seg_path(name, sid) for sid in raw["segments"]])

    def partitions(self, name: str) -> DataFrame:
        return (
            self.files(name)
            .groupBy("partition")
            .agg(
                F.count("*").alias("n_files"),
                F.sum("records").alias("n_records"),
                F.sum("bytes").alias("total_bytes"),
            )
        )

    def partition_stats(
        self, name: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """``partitions`` served from MAINTAINED stats (≙ Iceberg's
        partition statistics files): every segment records its
        per-partition [n_files, n_records, n_bytes] rollup in the
        manifest's segment summary when it is WRITTEN (O(delta) at
        commit — reused segments keep their rollups by reference), so
        this read folds O(segments x partitions-per-segment) summary
        maps with ZERO entry decodes and zero data reads — while
        :meth:`partitions` recomputes the same table from the full file
        inventory every call. Value-identical to :meth:`partitions` at
        every snapshot (gated in tests)."""
        v = (
            self._current_version(name)
            if snapshot_id is None
            else snapshot_id
        )
        folded = self._fold_partition_stats(name, v)
        return self.spark.createDataFrame(
            [(k, *vals) for k, vals in sorted(folded.items())],
            "partition STRING, n_files BIGINT, n_records BIGINT, "
            "total_bytes BIGINT",
        )

    def _fold_partition_stats(
        self, name: str, version: int
    ) -> dict[str, list[int]]:
        """The maintained-stats fold shared by :meth:`partition_stats`
        and the ``snaptable`` connector's ``partitions`` metadata table:
        canonical-partition-JSON -> [n_files, n_records, n_bytes],
        O(segments x partitions-per-segment) with zero entry decodes."""
        raw = self._manifest_raw(name, version)
        folded: dict[str, list[int]] = {}
        for sid in raw["segments"]:
            for k, (nf, nr, nb) in raw["seg_stats"][sid]["pr"].items():
                slot = folded.setdefault(k, [0, 0, 0])
                slot[0] += nf
                slot[1] += nr
                slot[2] += nb
        return folded

    def rollback(self, name: str, snapshot_id: int) -> int:
        m = self._load_manifest(name, snapshot_id)
        return self._advance(name, "main", "rollback", lambda _head: dict(m))

    def read_incremental(
        self, name: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Rows appended strictly after ``from_snapshot`` up to
        ``to_snapshot`` (≙ Iceberg incremental scan, the CDC-lite pattern
        that lets a downstream job process only the new data each run).
        Like Iceberg, only append snapshots are readable incrementally —
        a replace/delete/merge in the range raises (its files mix old and
        new rows)."""
        to_v = self._current_version(name) if to_snapshot is None else to_snapshot
        m_to = self._load_manifest(name, to_v)
        chain: list[dict] = []  # (from, to] walking parent links
        v: int | None = to_v
        while v is not None and v != from_snapshot:
            m = self._load_manifest(name, v)
            # compact-deletes is row-equivalent and adds no data files:
            # incremental reads walk straight through it (maintenance
            # must not break downstream incremental consumers)
            if m["operation"] not in ("append", "compact-deletes"):
                raise ValueError(
                    f"snapshot {v} is {m['operation']!r}: incremental read "
                    "only spans append snapshots (Iceberg semantics)"
                )
            chain.append(m)
            v = m.get("parent")
        if v is None:
            raise ValueError(
                f"snapshot {from_snapshot} is not an ancestor of {to_v}"
            )
        seen = {e["path"] for e in self._load_manifest(name, from_snapshot)["files"]}
        new_files: list[dict] = []
        for m in reversed(chain):
            for e in m["files"]:
                if e["path"] not in seen:
                    seen.add(e["path"])
                    new_files.append(e)
        return self._read_files(name, m_to, new_files)

    def changelog(
        self, name: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Row-level change stream between two snapshots (≙ Iceberg's
        ``create_changelog_view`` / Delta's change data feed): every row
        inserted or deleted in ``(from_snapshot, to_snapshot]``, tagged
        with ``_change_type`` ('insert' | 'delete') and the
        ``_snapshot_id`` that committed it, in commit order. An update is
        its delete+insert pair, per CDC convention.

        Semantics per commit, derived from the manifest file diff (never
        a full-table diff — only the files each commit touched are read):

        - ``append``: rows of the added files are inserts.
        - ``replace`` / ``rewrite-deletes`` (compaction): skipped — the
          data is equivalent by construction.
        - copy-on-write ``overwrite``/``delete``/``update``/``merge``:
          rows of removed files are deletes, rows of added files are
          inserts, and carry-over rows (unchanged rows rewritten only
          because they shared a file with a changed row — Iceberg's
          'carry-over' class) are cancelled with an ``exceptAll`` in each
          direction, scoped to the affected files only.
        - ``upsert`` / ``delete-mor`` / ``update-mor``: the table-level
          delete descriptors new in the commit, applied to the
          PARENT-visible rows of the files they may touch (so stacked
          deletes don't double-count; a filter per predicate, a
          semi-join per key-column set and one per deletion-vector set,
          in one plan), give the deletes; added files give the inserts.

        Rows are read under each commit's own schema and aligned by name
        (columns added later read as NULL for earlier commits)."""
        from functools import reduce as _reduce

        to_v = self._current_version(name) if to_snapshot is None else to_snapshot
        chain: list[dict] = []
        v: int | None = to_v
        while v is not None and v != from_snapshot:
            m = self._load_manifest(name, v)
            chain.append(m)
            v = m.get("parent")
        if v is None:
            raise ValueError(
                f"snapshot {from_snapshot} is not an ancestor of {to_v}"
            )
        parts: list[DataFrame] = []
        for m in reversed(chain):  # commit order
            op = m["operation"]
            if op in ("replace", "rewrite-deletes", "compact-deletes", "rollback"):
                continue  # row-equivalent by construction: no changes
            pm = self._load_manifest(name, m["parent"])
            parent_files = {e["path"]: e for e in pm["files"]}
            child_files = {e["path"]: e for e in m["files"]}
            added = [e for p, e in child_files.items() if p not in parent_files]
            removed = [e for p, e in parent_files.items() if p not in child_files]
            ins = self._read_files(name, m, added) if added else None
            dels = self._read_files(name, pm, removed) if removed else None
            hit = self._new_delete_hits(name, pm, m)
            if hit is not None:
                dels = hit if dels is None else dels.unionByName(hit)
            if ins is not None and dels is not None:
                ins, dels = ins.exceptAll(dels), dels.exceptAll(ins)
            for df, tag in ((ins, "insert"), (dels, "delete")):
                if df is not None:
                    parts.append(
                        df.withColumn("_change_type", F.lit(tag)).withColumn(
                            "_snapshot_id", F.lit(int(m["version"]))
                        )
                    )
        if not parts:
            schema = self.schema(name).add("_change_type", "string").add(
                "_snapshot_id", "long"
            )
            return self.spark.createDataFrame([], schema)
        return _reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )

    def _new_delete_hits(
        self, name: str, pm: dict, m: dict
    ) -> DataFrame | None:
        """Parent-visible rows of ``pm`` that the table-level delete
        descriptors NEW in commit ``m`` remove, or None. Only the parent
        files those descriptors may touch (:meth:`file_deletes`: the
        files a deletion vector names, the files an equality key set's
        bounds or a predicate may match) are read; each row matched by
        any of them is returned once (rows are told apart by their
        physical coordinate)."""
        new: dict[str, list[dict]] = {}
        for k in _DELETE_LISTS:
            old = {_desc_id(g) for g in pm.get(k, [])}
            new[k] = [g for g in m.get(k, []) if _desc_id(g) not in old]
        if not any(new.values()):
            return None
        deletes = self.file_deletes(name, {**pm, **new})
        touched = [e for e in pm["files"] if deletes[e["path"]].dirty]
        if not touched:
            return None
        new_eq, new_pos = new["global_eq_deletes"], new["global_pos_deletes"]
        key = ["_file_name", "_pos"]
        base = self._read_files(name, pm, touched, with_positions=True)
        hits = [
            base.filter(F.coalesce(_predicate(g["where"]), F.lit(False)))
            for g in new["global_pred_deletes"]
        ]
        if new_pos:
            dv = F.broadcast(self._dv_coords(name, new_pos))
            hits.append(base.join(dv, on=key, how="left_semi"))
        schema = StructType.fromJson(pm["schema"])
        for cols, ds in _by_cols(new_eq).items():
            dk = F.broadcast(self._eq_delete_keys(name, schema, cols, ds))
            hits.append(
                base.join(
                    dk, on=_null_safe_eq(base, dk, list(cols)), how="left_semi"
                )
            )
        out = hits[0]
        for h in hits[1:]:
            out = out.unionByName(h)
        if len(hits) > 1:
            out = out.dropDuplicates(key)
        return out.drop(*key)

    def diff_refs(
        self, name: str, to_ref: str, from_ref: str = "main"
    ) -> DataFrame:
        """Row-level change stream between two REFS — "what would
        publishing this branch change?", the write-audit-publish review
        step: diff the audit branch against main BEFORE
        :meth:`fast_forward`, inspect/validate the +/- rows, then
        publish. Same per-commit manifest-diff semantics as
        :meth:`changelog` (appends → inserts, overwrites → delete+insert
        with carry-over cancellation, MoR deletes surfaced), and the
        same precondition as fast_forward itself: ``from_ref``'s head
        must be an ancestor of ``to_ref``'s head — so the diff is
        exactly the commit chain a publish would make visible, and
        applying it to ``from_ref`` reproduces the branch head
        row-for-row (the fast-forward-equivalence invariant, pytest in
        tests/test_table_manager.py)."""
        _s, frm = self._ref_head(name, from_ref)
        _s2, to = self._ref_head(name, to_ref)
        if frm < 0:
            raise ValueError(f"ref {from_ref!r} does not exist on {name!r}")
        if to < 0:
            raise ValueError(f"ref {to_ref!r} does not exist on {name!r}")
        return self.changelog(name, from_snapshot=frm, to_snapshot=to)

    def expire_snapshots(
        self,
        name: str,
        keep_last: int = 1,
        orphan_ttl_s: float | None = None,
        older_than: float | None = None,
    ) -> dict[str, int]:
        """Retire expired snapshots and delete data files no surviving
        snapshot references (≙ Iceberg ``expire_snapshots`` +
        ``remove_orphan_files`` — the maintenance loop that stops
        metadata and storage growing without bound under streaming
        appends + compaction). Time travel remains valid only for
        surviving snapshots.

        Retention policy: without ``older_than``, keep the newest
        ``keep_last`` snapshots of the main chain (count-based). With
        ``older_than`` (epoch seconds), production AGE-based retention:
        every main-chain snapshot committed at/after the cutoff survives,
        plus the newest ``keep_last`` regardless of age (the head can
        never expire) — ≙ Iceberg's ``expire_snapshots(older_than=...,
        retain_last=...)``. Either way, EVERYTHING reachable from any
        branch head or tag is ref-pinned and survives (Iceberg: refs pin
        history) — except as a PER-REF POLICY (:meth:`set_ref_policy`)
        says otherwise: an over-``max_ref_age_ms`` branch/tag is removed
        here (then expires normally), a branch with
        ``max_snapshot_age_ms`` stops pinning ancestors older than that
        age, and ``min_snapshots_to_keep`` floors that expiry with the
        newest N (by itself it expires nothing — Iceberg semantics).
        ``orphan_ttl_s`` additionally removes crashed writers'
        staging dirs whose newest write is older than the ttl (≙
        remove_orphan_files' ``older_than`` guard: never set it below
        the longest plausible in-flight write)."""
        main_chain = sorted(
            self._ancestors(name, self._current_version(name))
        )
        keep = set(main_chain[-keep_last:])
        if older_than is not None:
            # raw manifests: the age check must not materialize
            # inventories for snapshots about to be dropped
            keep |= {
                v
                for v in main_chain
                if self._manifest_raw(name, v).get("committed_at", 0.0)
                >= older_than
            }
        # per-ref retention (≙ Iceberg max-ref-age-ms /
        # min-snapshots-to-keep): over-age refs are REMOVED here — their
        # snapshots then expire by the normal rules below — and a branch
        # carrying min_snapshots_to_keep pins only its newest N
        # ancestors instead of its whole history. Refs without a policy
        # keep today's conservative behavior (full ancestry pinned).
        removed_refs = 0
        heads = os.path.join(self._meta_dir(name), "heads")
        if os.path.isdir(heads):
            for b in os.listdir(heads):
                if b == "main":
                    continue
                pol = self._ref_policy(name, b)
                age_cap = pol.get("max_ref_age_ms")
                if (
                    age_cap is not None
                    and self._ref_age_ms(name, b) > age_cap
                ):
                    self.drop_branch(name, b)
                    removed_refs += 1
                    continue
                anc = self._ancestors(name, self._ref_head(name, b)[1])
                # per-ref max_snapshot_age_ms expires branch ancestry;
                # min_snapshots_to_keep FLOORS it (newest N survive any
                # age) and by itself expires nothing — Iceberg's exact
                # split of the two knobs (min-snapshots-to-keep is never
                # a cap; a policy-less or age-less branch pins its full
                # ancestry)
                snap_age_cap = pol.get("max_snapshot_age_ms")
                if snap_age_cap is not None:
                    import time as _time

                    floor_n = max(1, int(pol.get("min_snapshots_to_keep") or 1))
                    cutoff = _time.time() - snap_age_cap / 1000.0
                    anc = [
                        v
                        for i, v in enumerate(anc)
                        if i < floor_n
                        or self._manifest_raw(name, v).get(
                            "committed_at", 0.0
                        )
                        >= cutoff
                    ]
                keep |= set(anc)
        tags = os.path.join(self._meta_dir(name), "tags")
        if os.path.isdir(tags):
            for t in os.listdir(tags):
                pol = self._ref_policy(name, t)
                age_cap = pol.get("max_ref_age_ms")
                if (
                    age_cap is not None
                    and self._ref_age_ms(name, t) > age_cap
                ):
                    self.drop_tag(name, t)
                    removed_refs += 1
                    continue
                with open(os.path.join(tags, t)) as f:
                    keep |= set(self._ancestors(name, int(f.read().strip())))
        # everything else — expired main history AND orphaned loser
        # manifests from lost commit CASes — goes
        drop = [
            v
            for v in range(self._max_manifest_version(name) + 1)
            if v not in keep and os.path.exists(self._manifest_path(name, v))
        ]
        live: set[str] = set()
        live_segs: set[str] = set()
        for v in keep:
            mm = self._load_manifest(name, v)
            live_segs.update(sid for sid, _ in mm["_seg_layout"])
            live.update(e["path"] for e in mm["files"])
            # an upsert descriptor's source files stay while it is live,
            # even once compaction or a delete took them out of files
            live.update(_delete_files(mm))
        removed_files = removed_snaps = 0
        drop_segs: set[str] = set()
        for v in drop:
            dm = self._load_manifest(name, v)
            drop_segs.update(sid for sid, _ in dm["_seg_layout"])
            # external (add_files-registered) data files are never
            # owned by the table, so expiry must never delete them
            dropped_paths = [
                e["path"] for e in dm["files"] if not e.get("external")
            ] + _delete_files(dm)
            for p in dropped_paths:
                if p not in live:
                    fp = os.path.join(self._dir(name), p)
                    if os.path.exists(fp):
                        os.remove(fp)
                        removed_files += 1
                    live.add(p)  # count each orphan once
            os.remove(self._manifest_path(name, v))
            removed_snaps += 1
        # segment files no surviving snapshot references (metadata twin
        # of the data-file reap above; dropped AFTER every dropped
        # manifest's inventory was materialized)
        for sid in drop_segs - live_segs:
            sp = self._seg_path(name, sid)
            if os.path.exists(sp):
                os.remove(sp)
            self._seg_cache_drop((name, sid))
        # crash-orphaned segments: a writer that died between segment
        # write and manifest create leaves segments NO manifest ever
        # referenced — invisible to the drop-based reap above. Age-gate
        # them like staging dirs (an in-flight commit's segments are
        # always younger than any sane ttl).
        if orphan_ttl_s is not None:
            import time as _time

            segs_dir = self._segs_dir(name)
            if os.path.isdir(segs_dir):
                now = _time.time()
                for fn in os.listdir(segs_dir):
                    sid = os.path.splitext(fn)[0] if "." in fn else fn
                    p = os.path.join(segs_dir, fn)
                    if (
                        sid not in live_segs
                        and now - os.path.getmtime(p) > orphan_ttl_s
                    ):
                        os.remove(p)
                        self._seg_cache_drop((name, sid))
            # delete files no manifest ever referenced (a writer that
            # crashed between staging the equality/positional delete
            # parquet and committing its descriptor — the write-first delete
            # path's crash window): same age gate, same invariant (every
            # REFERENCED delete file is in `live` via the descriptors
            # above, so only true orphans can pass)
            del_dir = os.path.join(self._dir(name), "deletes")
            if os.path.isdir(del_dir):
                now = _time.time()
                for fn in os.listdir(del_dir):
                    rel = os.path.join("deletes", fn)
                    p = os.path.join(del_dir, fn)
                    if (
                        rel not in live
                        and now - os.path.getmtime(p) > orphan_ttl_s
                    ):
                        os.remove(p)
        # orphaned staging from crashed writers (≙ remove_orphan_files'
        # other half): a staging dir is invisible by design, so one whose
        # last write is older than orphan_ttl_s can only be a crash
        # leftover — no writer stages for that long before committing
        removed_staging = 0
        if orphan_ttl_s is not None:
            import shutil as _sh
            import time as _time

            sdir = os.path.join(self._dir(name), "_staging")
            if os.path.isdir(sdir):
                now = _time.time()
                for d in os.listdir(sdir):
                    p = os.path.join(sdir, d)
                    newest = max(
                        (
                            os.path.getmtime(os.path.join(root, f))
                            for root, _dd, ff in os.walk(p)
                            for f in ff
                        ),
                        default=os.path.getmtime(p),
                    )
                    if now - newest > orphan_ttl_s:
                        _sh.rmtree(p, ignore_errors=True)
                        removed_staging += 1
        return {
            "snapshots": removed_snaps,
            "files": removed_files,
            "refs": removed_refs,
            "staging": removed_staging,
        }

    # ------------------------------------------------------------ compaction
    def compact_partitions(
        self,
        name: str,
        small_file_bytes: int | None = None,
        min_files: int = 2,
    ) -> dict[str, int]:
        """Targeted maintenance — the 100 TB-viable form of :meth:`compact`:
        rewrite ONLY partitions fragmented by frequent small appends
        (>= ``min_files`` files with at least one under ``small_file_bytes``,
        default a quarter of the target file size). Everything else is
        untouched — a full-table rewrite is infeasible once the table is
        large, and unnecessary: streaming ingest fragments the recent
        partitions only.

        Concurrency: files a concurrent append added stay; a concurrent
        commit that removed a file being rewritten, or added a delete
        the rewritten rows would escape, raises :class:`CommitConflict`
        (Iceberg ``rewrite_data_files`` validation semantics)."""
        m = self._load_manifest(name)
        target = int(
            m["properties"].get("write.target-file-size-bytes", 128 * 1024 * 1024)
        )
        small = small_file_bytes if small_file_bytes is not None else target // 4
        groups: dict[tuple, list[dict]] = {}
        for e in m["files"]:
            groups.setdefault(tuple(sorted(e["partition"].items())), []).append(e)
        affected: list[dict] = []
        for entries in groups.values():
            if len(entries) >= min_files and any(e["bytes"] < small for e in entries):
                affected.extend(entries)
        if not affected:
            return {"version": m["version"], "rewritten": 0, "added": 0}
        df = self._read_files(name, m, affected)
        if not self._spec(m):
            # partitioned tables coalesce through _write_files' partition
            # co-location shuffle; an UNPARTITIONED rewrite has no such
            # shuffle, and the file source assigns each small file its
            # own task (openCost-dominated splits), so without an
            # explicit repartition the "compaction" would re-emit one
            # small file per input file — size the output to the target
            df = df.repartition(
                int(max(1, -(-sum(e["bytes"] for e in affected) // target)))
            )
        new_files = self._write_files(name, df, self._spec(m))
        derive = self._rewrite(m, affected, new_files)
        v = self._advance(name, "main", "rewrite-data-files", derive, base=m)
        return {"version": v, "rewritten": len(affected), "added": len(new_files)}

    _ZBITS = 16  # bin resolution per z-order dimension

    def _zvalue(self, m: dict, cols: list[str]) -> Column:
        """Z-order key: each column is uniformly binned to _ZBITS bits
        between its manifest-global min and max (the stats already in the
        manifest — no extra pass over the data), and the bins'
        bits are interleaved. Pure JVM expressions (shift/and/or), no UDF.
        Numeric and timestamp columns only; NULL and degenerate (min==max)
        values bin to 0."""
        schema = StructType.fromJson(m["schema"])
        n = len(cols)
        binned = []
        for c in cols:
            dt = schema[c].dataType.typeName()
            if dt not in {
                "integer", "long", "short", "byte", "float", "double",
                "timestamp", "timestamp_ntz", "date",
            }:
                raise ValueError(f"zorder column {c!r} has type {dt}; only "
                                 "numeric/timestamp/date columns are supported")
            stats = [e["stats"][c] for e in m["files"] if c in e.get("stats", {})]
            if not stats:
                raise ValueError(f"no column stats for zorder column {c!r}")
            lo = min(s[0] for s in stats)
            hi = max(s[1] for s in stats)
            v = F.col(c)
            if dt in {"timestamp", "timestamp_ntz"}:
                # manifest stats are ISO strings; epoch-seconds both sides
                # (UTC — bin edges only affect locality, never correctness)
                import calendar
                import datetime as _dt

                lo = calendar.timegm(_dt.datetime.fromisoformat(lo).timetuple())
                hi = calendar.timegm(_dt.datetime.fromisoformat(hi).timetuple())
                v = v.cast("timestamp").cast("double")
            elif dt == "date":
                import datetime as _dt

                epoch = _dt.date(1970, 1, 1).toordinal()
                lo = _dt.date.fromisoformat(lo).toordinal() - epoch
                hi = _dt.date.fromisoformat(hi).toordinal() - epoch
                v = F.datediff(v, F.lit("1970-01-01"))
            v = v.cast("double")
            if hi <= lo:
                binned.append(F.lit(0).cast("long"))
                continue
            scale = (2**self._ZBITS - 1) / float(hi - lo)
            b = F.floor((v - F.lit(float(lo))) * F.lit(scale)).cast("long")
            binned.append(
                F.coalesce(F.greatest(F.least(b, F.lit(2**self._ZBITS - 1)),
                                      F.lit(0)), F.lit(0))
            )
        z = F.lit(0).cast("long")
        for bit in range(self._ZBITS):
            for j, b in enumerate(binned):
                z = z.bitwiseOR(
                    F.shiftleft(b.bitwiseAND(F.lit(1 << bit)), bit * (n - 1) + j)
                )
        return z

    def compact(
        self,
        name: str,
        target_bytes: int | None = None,
        sort_by: list[str] | None = None,
        zorder: list[str] | None = None,
    ) -> int:
        """``rewrite_data_files`` analogue: coalesce small files per
        partition up to write.target-file-size-bytes, commit as a REPLACE
        snapshot. After streaming/micro-batch appends this is what keeps
        scans fast (reference sets the target size, #24; real compaction is
        north-star).

        ``sort_by`` additionally clusters the rewrite (range partition +
        sort within files, ≙ ``rewrite_data_files(strategy => 'sort')``):
        each output file then covers a narrow value range, so parquet
        min/max row-group stats prune scans on those columns — the cheap
        80% of what Z-ordering buys, for single-column-dominant filters.

        ``zorder`` clusters on the interleaved-bits space-filling curve
        (≙ ``rewrite_data_files(strategy => 'sort', sort_order =>
        'zorder(a, b)')``): every listed dimension gets narrow per-file
        min/max ranges simultaneously, so predicates on ANY of them skip
        files — what a linear sort only gives its leading column."""
        m = self._load_manifest(name)
        target = target_bytes or int(
            m["properties"].get("write.target-file-size-bytes", 128 * 1024 * 1024)
        )
        spec = self._spec(m)
        df = self._read_files(name, m, m["files"])
        total_bytes = sum(e["bytes"] for e in m["files"])
        n_out = int(max(1, -(-total_bytes // target)))  # ceil
        if sort_by and zorder:
            raise ValueError("sort_by and zorder are mutually exclusive")
        if zorder:
            cluster = [self._zvalue(m, zorder)]
        elif sort_by:
            cluster = [F.col(c) for c in sort_by]
        else:
            cluster = None
        if cluster:
            df = df.repartitionByRange(n_out, *cluster)
        else:
            df = df.repartition(n_out)
        new_files = self._write_files(name, df, spec, sort_within=cluster)
        rewrite = self._rewrite(m, m["files"], new_files)
        # every file was rewritten post-delete: the table-level deletes
        # are fully materialized (their seq guards would no-op against
        # the fresh files anyway) — drop them so expiry can reap them
        return self._advance(
            name, "main", "replace", lambda h: _without_deletes(rewrite(h)), base=m
        )


_INT_RANGES = {
    "byte": (-(1 << 7), (1 << 7) - 1),
    "short": (-(1 << 15), (1 << 15) - 1),
    "integer": (-(1 << 31), (1 << 31) - 1),
    "long": (-(1 << 63), (1 << 63) - 1),
}


def _validate_initial_default(default: Any, dtype: str) -> None:
    """Reject an initial default that doesn't fit the declared type at
    DDL time — otherwise the two read faces diverge (Spark's lenient
    cast silently truncates, the connector's Arrow cast raises)."""
    t = _parse_dtype(dtype).typeName()
    bad = (
        (t in _INT_RANGES and (isinstance(default, bool)
                               or not isinstance(default, int)
                               or not _INT_RANGES[t][0] <= default
                               <= _INT_RANGES[t][1]))
        or (t in ("float", "double") and (isinstance(default, bool)
                                          or not isinstance(default,
                                                            (int, float))))
        or (t == "string" and not isinstance(default, str))
        or (t == "boolean" and not isinstance(default, bool))
    )
    if bad:
        raise ValueError(
            f"initial default {default!r} does not fit column type {dtype}"
        )


def _apply_schema_ddl(schema_json: dict, entry: dict) -> dict:
    """Validate + apply one staged-DDL txn entry to a schema — shared by
    stage-time validation (fail fast, before any publish) and apply-time
    re-derivation on the head a commit swaps (foreign appends never
    change the schema; a foreign DDL that invalidates the entry raises
    and aborts the record)."""
    schema = StructType.fromJson(schema_json)
    kind = entry["kind"]
    if kind == "add-column":
        col, dtype = entry["col"], entry["dtype"]
        default = entry.get("default")
        if col in schema.fieldNames():
            raise ValueError(f"column {col!r} already exists")
        if any(
            col in f.metadata.get("former_names", []) for f in schema.fields
        ):
            raise ValueError(f"{col!r} is a former name of a renamed column")
        if default is not None:
            _validate_initial_default(default, dtype)
        if default is not None:
            schema = schema.add(
                StructField(
                    col,
                    _parse_dtype(dtype),
                    True,
                    {"initial_default": _norm_stat(default)},
                )
            )
        else:
            schema = schema.add(col, dtype, True)
    elif kind == "widen-column":
        col, to_type = entry["col"], entry["to_type"]
        if col not in schema.fieldNames():
            raise ValueError(f"no such column {col!r}")
        old = schema[col].dataType.typeName()
        if (
            old,
            to_type,
        ) not in ParquetTableManager._WIDENINGS and old != to_type:
            raise ValueError(
                f"cannot widen {col!r} {old} -> {to_type}: only "
                f"{sorted(ParquetTableManager._WIDENINGS)} are "
                "value-preserving"
            )
        fields = [
            StructField(
                f.name,
                StructType.fromDDL(f"x {to_type}")[0].dataType
                if f.name == col
                else f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
        schema = StructType(fields)
    else:
        raise ValueError(f"unknown DDL kind {kind!r}")
    return json.loads(schema.json())


class Transaction:
    """Staged multi-table commit — see
    :meth:`ParquetTableManager.transaction` for the protocol. Appends,
    upserts, and SCHEMA DDL (add_column / widen_column): each
    :meth:`append` runs the distributed write NOW, so ``commit()`` is
    pure metadata. A staged DDL applies atomically with the data —
    appends staged after it write files under the evolved schema, and
    the rollback of a committed txn restores the pre-txn schema along
    with the pre-txn file set (the rollback manifest IS the pre-txn
    manifest). rename_column / drop_column are REFUSED inside
    transactions: both carry merge-on-read delete-binding guards that
    must be evaluated against the head they commit on, and a txn's
    publish→apply window would reorder them past foreign epochs."""

    def __init__(self, mgr: ParquetTableManager):
        self.mgr = mgr
        self._staged: list[dict] = []
        self._done = False
        # per-(table, ref) schema as projected by staged DDL, so later
        # staged appends align (and write) the evolved shape
        self._schemas: dict[tuple[str, str], dict] = {}

    def _head_schema(self, name: str, ref: str, m: dict) -> dict:
        return self._schemas.get((name, ref), m["schema"])

    def add_column(
        self,
        name: str,
        col: str,
        dtype: str,
        default: Any = None,
        ref: str = "main",
    ) -> "Transaction":
        """Stage ``add_column`` to land atomically with the txn's data
        (the evolve-then-backfill shape: new column + the backfill that
        fills it, one commit point across any number of tables)."""
        return self._stage_ddl(
            name,
            ref,
            {"kind": "add-column", "col": col, "dtype": dtype,
             **({"default": default} if default is not None else {})},
        )

    def widen_column(
        self, name: str, col: str, to_type: str, ref: str = "main"
    ) -> "Transaction":
        """Stage ``widen_column`` (int→long, float→double) to land
        atomically with the txn's data."""
        return self._stage_ddl(
            name, ref, {"kind": "widen-column", "col": col, "to_type": to_type}
        )

    def rename_column(self, *_a, **_k):
        raise ValueError(
            "rename_column is not supported inside a transaction: its "
            "merge-on-read delete-binding guard must be evaluated on the "
            "head it commits against; run it as a standalone commit"
        )

    def drop_column(self, *_a, **_k):
        raise ValueError(
            "drop_column is not supported inside a transaction: its "
            "merge-on-read delete-binding guard must be evaluated on the "
            "head it commits against; run it as a standalone commit"
        )

    def _stage_ddl(self, name: str, ref: str, spec: dict) -> "Transaction":
        if self._done:
            raise ValueError("transaction already committed")
        mgr = self.mgr
        _seq, head = mgr._ref_head(name, ref)
        if head < 0:
            raise ValueError(f"branch {ref!r} does not exist on {name!r}")
        m = mgr._load_manifest(name, head)
        # fail fast at stage time against head schema + prior staged DDL
        projected = _apply_schema_ddl(self._head_schema(name, ref, m), spec)
        self._schemas[(name, ref)] = projected
        self._staged.append(
            {"table": name, "ref": ref, "op": "ddl", **spec}
        )
        return self

    def append(self, name: str, df: DataFrame, ref: str = "main") -> "Transaction":
        if self._done:
            raise ValueError("transaction already committed")
        mgr = self.mgr
        _seq, head = mgr._ref_head(name, ref)
        if head < 0:
            raise ValueError(f"branch {ref!r} does not exist on {name!r}")
        m = mgr._load_manifest(name, head)
        fields = StructType.fromJson(self._head_schema(name, ref, m)).fields
        aligned = df.select(
            *[
                F.col(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ]
        )
        files = mgr._write_files(name, aligned, mgr._spec(m))
        for s in self._staged:
            if (
                s["table"] == name
                and s.get("ref", "main") == ref
                and s.get("op") is None
                # never merge across a staged-DDL boundary: post-DDL
                # appends must apply AFTER the schema change
                and (name, ref) not in self._schemas
            ):
                s["added"] = s["added"] + files
                return self
        self._staged.append({"table": name, "ref": ref, "added": files})
        return self

    def upsert(
        self, name: str, df: DataFrame, keys: list[str], ref: str = "main"
    ) -> "Transaction":
        """Stage a merge-on-read upsert epoch (the batch's data files,
        which its equality delete names as its key set —
        :meth:`ParquetTableManager.upsert_equality` semantics) to land
        atomically with the transaction's other staged operations: the
        fact-and-dim-CDC-epoch-together shape.
        The delete takes its sequence number at APPLY time against the
        then-current head, so commits that win in between correctly
        fall under the delete (sequence order).
        An upsert staged AFTER a staged DDL aligns (and writes) the
        evolved schema, same as :meth:`append`."""
        if self._done:
            raise ValueError("transaction already committed")
        entry = self.mgr._stage_upsert(
            name,
            self.mgr._load_manifest(name),
            df,
            keys,
            schema_json=self._schemas.get((name, ref)),
        )
        self._staged.append({"table": name, "ref": ref, **entry})
        return self

    def commit(self) -> dict[str, int]:
        """Publish the txn record (the atomic commit point), then apply
        the per-table head advances. Returns {table: new version}. A
        crash after publish is repaired by the next reader of any
        involved table; a crash before publish leaves only invisible
        staged files."""
        if self._done:
            raise ValueError("transaction already committed")
        if not self._staged:
            raise ValueError("nothing staged")
        self._done = True
        seq = self.mgr._publish_txn(self._staged)
        self.txn_id = seq  # handle for rollback_transaction
        return self.mgr._apply_txn(seq, {"entries": self._staged})


# --------------------------------------------------- Iceberg (env-gated)


def iceberg_conf(warehouse: str, catalog: str = "lake") -> dict[str, str]:
    """Spark conf for a real Iceberg catalog — used when the
    iceberg-spark-runtime jar is on the classpath (not bundled in this
    container; set SPARK_GRAFT_ICEBERG_JAR to enable). The engine's table
    layer then swaps for native ``CREATE TABLE ... USING iceberg`` with the
    same transform set (PARTITIONED BY (tenant, days(ts), ...)) — the
    deployment target the reference hand-rolls against AWS Glue
    (Main.java:46-53)."""
    conf = {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }
    jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if jar:
        conf["spark.jars"] = jar
    return conf
