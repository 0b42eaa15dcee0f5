"""Python DataSource (Spark 4) exposing the snapshot table layer through
``spark.read.format("snaptable")`` / ``readStream.format("snaptable")``.

This is the connector face of :mod:`iceberg_poc_spark.tables.manager` —
the same integration Iceberg ships as a DataSourceV2 catalog (reference:
``aig/PartitionValueDebugger.java:118`` reads through the Iceberg table
API), rebuilt on Spark's Python DataSource API:

- **batch**: time travel (``snapshot``), branches/tags (``ref``), one
  :class:`InputPartition` per data file (scan parallelism = file count,
  no mixed-hive-layout pitfalls under partition-spec evolution),
  manifest-level file pruning driven by Spark's own pushed filters
  (``pushFilters`` — partition values AND column min/max stats), and
  schema-evolution-aware file reads (added columns → NULL, renamed
  columns resolved via former_names, widened types cast up).
- **streaming**: the table-changes source (≙ Iceberg streaming read):
  offsets are snapshot versions; each micro-batch plans exactly the files
  appended in ``(start, end]`` by walking the manifest parent chain —
  appends only, a non-append snapshot in range fails the stream rather
  than silently replaying rewritten data.

Everything driver-side is manifest JSON (O(files) metadata, no data I/O);
executors read single parquet files via Arrow and never see the manifest.
"""

from __future__ import annotations

import os
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from iceberg_poc_spark.tables.manager import (
    ParquetTableManager,
    _dv_positions,
    _hive_values,
    _key_files,
    _may_match,
    _nested_nullable,
)

_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}

# Spark's ExternalCatalogUtils.escapePathName char set: partition values
# written through the connector name their hive directories exactly as
# manager.append's Spark partitionBy does. The escaping only names
# directories: the manifest records the unescaped value (NULL as None),
# parsed back from the directory by _hive_values.
_HIVE_ESCAPE = (
    set('"#%\'*/:=?\\{[]^')
    | {chr(c) for c in range(0x20)}
    | {chr(0x7F)}  # DEL — in Spark's charToEscape bitset too
)
HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _hive_part_str(v) -> str:
    """Stringify + escape one partition value the way Spark's hive-layout
    writer does (None -> __HIVE_DEFAULT_PARTITION__, control/special chars
    %-escaped)."""
    import datetime as dt

    if v is None:
        return HIVE_NULL_PART
    if isinstance(v, dt.datetime):
        s = v.isoformat(sep=" ")
    else:
        s = str(v)
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in s
    )


def route_partitions(df, warehouse: str, table: str):
    """Prepare a DataFrame for a PARTITIONED ``df.write.format("snaptable")``:
    derive the table spec's hidden-partition columns with the SAME JVM-side
    expressions ``manager.append`` uses (so bucket = ``pmod(xxhash64(c), n)``
    exactly — no Python hash reimplementation), then repartition on them so
    each task is partition-pure and writes one file per partition value.

    The Python DataSource API gives the writer no engine-side transform
    routing hook; this helper moves the routing into the plan, where
    Catalyst executes it — the writer only SPLITS pre-routed Arrow batches
    (vectorized group-by, no per-row Python). ≙ the hand-rolled per-record
    partition routing at ``aig/AIGEventsTableCreator.java:385-394``, done
    declaratively."""
    mgr = ParquetTableManager(None, warehouse)
    spec = mgr._spec(mgr._load_manifest(table))
    out = df
    for t in spec:
        if t.kind != "identity":
            out = out.withColumn(t.field_name, t.expr())
    if spec:
        from pyspark.sql import functions as F

        out = out.repartition(*[F.col(t.field_name) for t in spec])
    return out


def _mgr(options) -> tuple[ParquetTableManager, str]:
    warehouse = options.get("warehouse")
    table = options.get("table")
    if not warehouse or not table:
        raise ValueError("snaptable requires options warehouse= and table=")
    # the manager's metadata methods are pure path/JSON work — no session
    return ParquetTableManager(None, warehouse), table


def _resolve_manifest(options) -> tuple[dict, str]:
    mgr, table = _mgr(options)
    snap = options.get("snapshot")
    v = mgr._resolve(
        table,
        snapshot_id=int(snap) if snap is not None else None,
        ref=options.get("ref"),
        as_of=options.get("as_of"),  # TIMESTAMP AS OF (epoch or ISO UTC)
    )
    return mgr._load_manifest(table, v), mgr._dir(table)


def _coerce_scalar(v, typ):
    """JSON-normalized manifest literal -> pyarrow scalar of the column's
    type (temporals travel as ISO strings)."""
    import datetime as dt

    import pyarrow as pa

    if isinstance(v, str) and pa.types.is_timestamp(typ):
        return pa.scalar(dt.datetime.fromisoformat(v), typ)
    if isinstance(v, str) and pa.types.is_date(typ):
        return pa.scalar(dt.date.fromisoformat(v), typ)
    return pa.scalar(v, typ)


def _apply_mor_deletes(tbl, entry: dict, table_dir: str):
    """Apply the merge-on-read deletes that touch this file to an aligned
    Arrow table — the executor-side twin of the manager read path's
    NOT(predicate) filters and null-safe anti-joins, so `.format(
    "snaptable")` readers see the SAME post-delete state as
    ``manager.read`` (a dirty table must never leak deleted rows through
    the connector face). The driver attaches
    (:meth:`ParquetTableManager.file_deletes`) ``_dv`` — the deletion
    vectors naming the file — and, among the descriptors with a higher
    seq than the file's, ``_pred`` — the predicate deletes that may
    match it — and ``_eq`` — the equality deletes whose key bounds may
    match it."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # positional deletes FIRST, while row indices are still physical
    # (predicate/equality filters below would shift them)
    if entry.get("_dv"):
        import numpy as np

        fn = os.path.basename(entry["path"])
        # predicate pushdown into the parquet scan: each data-file task
        # keeps only ITS row of each (table-wide) vector — row-group
        # stats + dictionary pages skip the rest
        kill = _dv_positions(
            pa.concat_tables(
                [
                    pq.read_table(
                        os.path.join(table_dir, d["path"]),
                        columns=["_file_name", "words"],
                        filters=[("_file_name", "==", fn)],
                    )
                    for d in entry["_dv"]
                ]
            )
        ).get(fn)
        if kill is not None and kill.size:
            keep = ~np.isin(np.arange(tbl.num_rows, dtype=np.int64), kill)
            tbl = tbl.filter(pa.array(keep))
    ops = {
        "==": pc.equal,
        ">=": pc.greater_equal,
        "<=": pc.less_equal,
        ">": pc.greater,
        "<": pc.less,
    }
    for g in entry.get("_pred", []):
        mask = None
        for col, op, v in g["where"]:
            c = tbl[col]
            if op == "in":
                m = pc.is_in(
                    c,
                    value_set=pa.array(
                        [_coerce_scalar(x, c.type).as_py() for x in v],
                        c.type,
                    ),
                )
            elif op in ("isnull", "notnull"):
                m = pc.is_null(c) if op == "isnull" else pc.is_valid(c)
            else:
                m = ops[op](c, _coerce_scalar(v, c.type))
            mask = m if mask is None else pc.and_kleene(mask, m)
        if mask is not None:
            # SQL DELETE keeps NULL-predicate rows: null -> keep
            tbl = tbl.filter(pc.fill_null(pc.invert(mask), True))
    # the key set applying to THIS file: every row of a descriptor's
    # key files (its descriptor seq is above the file's), the rows of a
    # merged file whose __del_seq is — the executor-side twin of the
    # manager read path's `__del_seq > __file_seq` condition. An
    # upsert's key files are its data files: only the key columns are
    # read, identity partition columns come from the hive path.
    key_sets: dict[tuple, list["pa.Table"]] = {}
    for g in entry.get("_eq", []):
        cols = list(g["cols"])
        for p in _key_files(g):
            pf = pq.ParquetFile(os.path.join(table_dir, p))
            have = set(pf.schema_arrow.names)
            gt = pf.read(columns=[c for c in (*cols, "__del_seq") if c in have])
            if "__del_seq" in have:
                gt = gt.filter(pc.greater(gt["__del_seq"], entry["seq"]))
            hive = _hive_values(p)
            key_sets.setdefault(tuple(cols), []).append(
                pa.table(
                    {
                        c: pc.cast(
                            gt[c]
                            if c in have
                            else pa.array([hive.get(c)] * gt.num_rows, pa.string()),
                            tbl[c].type,
                        )
                        for c in cols
                    }
                )
            )
    for cols, parts in key_sets.items():
        keys = pa.concat_tables(parts)
        nn_mask = None
        for c in cols:
            m = pc.is_valid(keys[c])
            nn_mask = m if nn_mask is None else pc.and_(nn_mask, m)
        nn_keys = keys.filter(nn_mask)
        if nn_keys.num_rows:
            # arrow anti-join never matches null left keys — exactly the
            # null-safe semantics for the non-null delete tuples
            tbl = tbl.join(
                nn_keys.group_by(list(cols)).aggregate([]),
                keys=list(cols),
                join_type="left anti",
            )
        for krow in keys.filter(pc.invert(nn_mask)).to_pylist():
            # null-bearing delete tuples: null matches null (<=>)
            mask = None
            for c in cols:
                m = (
                    pc.is_null(tbl[c])
                    if krow[c] is None
                    else pc.equal(tbl[c], _coerce_scalar(krow[c], tbl[c].type))
                )
                m = pc.fill_null(m, False)
                mask = m if mask is None else pc.and_(mask, m)
            tbl = tbl.filter(pc.invert(mask))
    return tbl


def _plan_row_groups(pf, where: list) -> list[int]:
    """Row-group indices of ``pf`` that MAY satisfy every pushed
    predicate, from footer min/max/null-count statistics alone — the
    executor-side twin of the manifest's per-file pruning, one level
    finer (≙ Iceberg's vectorized parquet reader consulting row-group
    stats). Conservative: missing column / missing stats / any doubt →
    keep. Only called for files no deletion vector names (skipping a row
    group shifts physical row ordinals, which positional delete
    application depends on)."""
    schema_names = set(pf.schema_arrow.names)
    keep = []
    for i in range(pf.metadata.num_row_groups):
        rg = pf.metadata.row_group(i)
        cols = {
            rg.column(j).path_in_schema: rg.column(j)
            for j in range(rg.num_columns)
        }
        ok = True
        for col, op, v in where:
            if col not in schema_names or col not in cols:
                continue
            cm = cols[col]
            st = cm.statistics
            if st is None:
                continue
            if op == "isnull":
                if st.has_null_count and st.null_count == 0:
                    ok = False
                    break
                continue
            if op == "notnull":
                if st.has_null_count and st.null_count == rg.num_rows:
                    ok = False
                    break
                continue
            if not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            try:
                miss = {
                    "==": v < lo or v > hi,
                    ">=": hi < v,
                    ">": hi <= v,
                    "<=": lo > v,
                    "<": lo >= v,
                }.get(op, False)
            except TypeError:
                continue  # incomparable literal/stat types: keep
            if miss:
                ok = False
            if not ok:
                break
        if ok:
            keep.append(i)
    return keep


def _read_file_as_batches(
    entry: dict, table_dir: str, schema_json: dict, where: list | None = None
) -> Iterator["pa.RecordBatch"]:  # noqa: F821
    """Read ONE manifest file entry aligned to the current table schema:
    present columns cast up (widening promotion), renamed columns resolved
    via former_names, identity-partition columns restored from the hive
    partition values, evolved-in columns filled with NULL; outstanding
    merge-on-read deletes (positional, predicate, equality) applied.
    ``where`` (Spark's pushed residual predicates) prunes ROW GROUPS from
    footer stats before any data page is decoded — Spark re-applies every
    filter row-level, so this only has to be conservative, never exact."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromJson(schema_json)
    target = to_arrow_schema(
        StructType(
            [
                type(f)(f.name, _nested_nullable(f.dataType), True)
                for f in schema.fields
            ]
        ),
        timestamp_utc=False,
    )
    pf = pq.ParquetFile(os.path.join(table_dir, entry["path"]))
    if where and not entry.get("_dv"):
        rgs = _plan_row_groups(pf, where)
        if len(rgs) == pf.metadata.num_row_groups:
            tbl = pf.read()
        elif rgs:
            tbl = pf.read_row_groups(rgs)
        else:
            tbl = pf.schema_arrow.empty_table()
    else:
        tbl = pf.read()
    n = tbl.num_rows
    cols = []
    for f, afield in zip(schema.fields, target):
        name = f.name
        source = None
        if name in tbl.column_names:
            source = tbl[name]
        else:
            for old in f.metadata.get("former_names", []):
                if old in tbl.column_names:
                    source = tbl[old]
                    break
        if source is None and name in entry["partition"]:
            # the manifest records the value itself, NULL as None
            source = pc.cast(
                pa.array([entry["partition"][name]] * n, pa.string()), afield.type
            )
        if source is None:
            # initial-default columns (Iceberg v3): a file whose RECORDED
            # writer schema lacks the column (under every historical
            # name) reads the default, exactly the manager read path's
            # rule. Without this the connector face diverges from
            # manager.read on default-bearing tables.
            fmeta = f.metadata or {}
            if "initial_default" in fmeta:
                hist = {name, *fmeta.get("former_names", [])}
                if not (hist & set(entry["cols"])):
                    # the loop tail casts to afield.type; defaults are
                    # type-validated at DDL time (_validate_initial_default)
                    source = pa.array([fmeta["initial_default"]] * n)
        if source is None:
            source = pa.nulls(n, afield.type)
        cols.append(pc.cast(source, afield.type))
    out = _apply_mor_deletes(pa.table(cols, schema=target), entry, table_dir)
    # arrow joins may reorder columns; the batch contract is target order
    yield from out.select(target.names).cast(target).to_batches()


class SnapMetaReader(DataSourceReader):
    """``files`` METADATA-TABLE reader (≙ Iceberg's ``table$files`` /
    ``SELECT * FROM t.files``): one row per live data file with its
    manifest metadata, read DISTRIBUTED — each task scans one COLUMNAR
    segment file (column-pruned to the exposed fields), so inspecting a
    1M-file inventory is an executor job, never a driver JSON
    materialization. The ``partitions`` table is its Spark-side
    aggregation (``GROUP BY partition``) — the engine keeps that
    derivation in the query plan where Catalyst can fold further
    aggregates into it, instead of hiding a second code path in the
    source."""

    META_DDL = "path string, partition string, records long, bytes long"

    def __init__(self, options):
        mgr, table = _mgr(options)
        snap = options.get("snapshot")
        v = mgr._resolve(
            table,
            snapshot_id=int(snap) if snap is not None else None,
            ref=options.get("ref"),
            as_of=options.get("as_of"),
        )
        raw = mgr._manifest_raw(table, v)
        self._seg_paths = [mgr._seg_path(table, sid) for sid in raw["segments"]]

    def partitions(self):
        return [InputPartition(p) for p in self._seg_paths]

    def read(self, partition):
        if partition is None:  # no segments: Spark reads one None split
            return
        import pyarrow.parquet as pq

        cols = ["path", "partition", "records", "bytes"]
        yield from pq.read_table(partition.value, columns=cols).to_batches()


class SnapPartitionsReader(DataSourceReader):
    """``partitions`` METADATA-TABLE reader (≙ Iceberg's
    ``table$partitions``), served from the MAINTAINED partition
    statistics: segment summaries carry per-partition
    [n_files, n_records, n_bytes] rollups written at commit time, so
    the driver folds O(segments x partitions-per-segment) summary maps
    — zero entry decodes, zero data reads — and ships O(partitions)
    rows."""

    def __init__(self, options):
        mgr, table = _mgr(options)
        snap = options.get("snapshot")
        v = mgr._resolve(
            table,
            snapshot_id=int(snap) if snap is not None else None,
            ref=options.get("ref"),
            as_of=options.get("as_of"),
        )
        folded = mgr._fold_partition_stats(table, v)
        self._rows = sorted(
            (k, nf, nr, nb) for k, (nf, nr, nb) in folded.items()
        )

    def partitions(self):
        return [InputPartition(self._rows)]

    def read(self, partition):
        import pyarrow as pa

        rows = partition.value
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([r[0] for r in rows], pa.string()),
                pa.array([r[1] for r in rows], pa.int64()),
                pa.array([r[2] for r in rows], pa.int64()),
                pa.array([r[3] for r in rows], pa.int64()),
            ],
            ["partition", "n_files", "n_records", "total_bytes"],
        )


class SnapTableReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        manifest, table_dir = _resolve_manifest(options)
        mgr, table = _mgr(options)
        self._table_dir = table_dir
        self._schema_json = manifest["schema"]
        self._spec = manifest["spec"]
        # each entry rides with exactly the table-level deletes that
        # touch it; untouched files read (and row-group prune) clean
        deletes = mgr.file_deletes(table, manifest)
        self._files = []
        for e in manifest["files"]:
            d = deletes[e["path"]]
            if d.dirty:
                e = {**e, "_pred": d.preds, "_eq": d.eq, "_dv": d.dv}
            self._files.append(e)

    def pushFilters(self, filters: list[Filter]):
        """Plan-time file pruning from Spark's own pushed predicates:
        flat-column comparisons prune via manifest partition values and
        column min/max stats (same _may_match as the manager's scan). All
        filters are returned as unsupported so Spark still applies them
        row-level — pruning only shrinks the file list, it never claims
        exact evaluation."""
        where = []
        for f in filters:
            if isinstance(f, (IsNull, IsNotNull)) and len(f.attribute) == 1:
                where.append((
                    f.attribute[0],
                    "isnull" if isinstance(f, IsNull) else "notnull",
                    None,
                ))
                continue
            op = _OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                where.append((f.attribute[0], op, f.value))
        if where:
            spec = ParquetTableManager._spec(None, {"spec": self._spec})
            self._files = [
                e for e in self._files if _may_match(spec, e, where)
            ]
            # the same triples ride into each InputPartition for
            # executor-side ROW-GROUP pruning from footer stats — a
            # stats-sorted file decodes only the groups that can match
            self._where = where
        return filters

    _where: list = []

    def partitions(self):
        return [
            InputPartition(
                (e, self._table_dir, self._schema_json, self._where)
            )
            for e in self._files
        ]

    def read(self, partition):
        if partition is None:  # no files: Spark reads one None split
            return
        entry, table_dir, schema_json, where = partition.value
        yield from _read_file_as_batches(entry, table_dir, schema_json, where)


class SnapTableStreamReader(DataSourceStreamReader):
    """Table-changes stream: snapshot versions are the offsets."""

    def __init__(self, options, schema: StructType):
        self._options = options
        mgr, table = _mgr(options)
        self._warehouse = options["warehouse"]
        self._table = table
        # lock the read schema at stream start: files appended after a
        # mid-stream schema evolution still align to what the sink expects
        self._schema_json = schema.jsonValue()
        start = options.get("from_snapshot")
        self._start = (
            int(start) if start is not None else mgr._current_version(table)
        )

    def _m(self) -> tuple[ParquetTableManager, str]:
        return _mgr(self._options)

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        mgr, table = self._m()
        return {"version": mgr._current_version(table)}

    def partitions(self, start: dict, end: dict):
        mgr, table = self._m()
        sv, ev = start["version"], end["version"]
        chain = []
        v: Any = ev
        while v is not None and v != sv:
            m = mgr._load_manifest(table, v)
            # compact-deletes adds NO data files (it rewrites delete
            # metadata only), so a maintenance pass mid-stream is safe to
            # walk through — a CDC stream must survive table maintenance
            if m["operation"] not in ("append", "create", "compact-deletes"):
                raise ValueError(
                    f"snapshot {v} is {m['operation']!r}: the snaptable "
                    "stream replays appends only (Iceberg semantics)"
                )
            chain.append(m)
            v = m.get("parent")
        if v is None:
            raise ValueError(f"offset {sv} is not an ancestor of {ev}")
        seen = {e["path"] for e in mgr._load_manifest(table, sv)["files"]}
        table_dir = mgr._dir(table)
        out = []
        for m in reversed(chain):
            for e in m["files"]:
                if e["path"] not in seen:
                    seen.add(e["path"])
                    out.append(
                        InputPartition((e, table_dir, self._schema_json))
                    )
        return out

    def read(self, partition):
        entry, table_dir, schema_json = partition.value
        yield from _read_file_as_batches(entry, table_dir, schema_json)

    def commit(self, end: dict) -> None:
        pass


# table property recording the last streaming epoch committed through the
# native sink — the idempotence marker that makes micro-batch replays
# (crash-restart under the same checkpoint) exactly-once in TABLE state
STREAM_EPOCH_PROP = "streaming.last-epoch"


class _StagedFiles(WriterCommitMessage):
    """Commit message: the parquet files one task staged."""

    def __init__(self, files: list[str]):
        self.files = files


class SnapTableWriter(DataSourceArrowWriter):
    """``df.write.format("snaptable").mode("append"|"overwrite")`` — the
    WRITE half of the connector face (≙ Iceberg's DataSourceV2 batch
    write): executor tasks stream their Arrow batches into staged parquet
    files (invisible under ``_staging/``), and the driver-side
    ``commit()`` turns the staged set into ONE atomic snapshot — stats
    collected per file, Bloom indexes built per the table's
    ``index.bloom.*`` properties, CHECK constraints enforced over the
    staged batch before anything becomes visible, and the manifest CAS'd
    exactly like :meth:`ParquetTableManager.append`. A failed job
    ``abort()``s by deleting the staging dir; readers never see a partial
    write.

    Hidden-partitioned tables are supported through PRE-ROUTED input:
    the caller applies :func:`route_partitions` (which derives the spec's
    transform columns with the same JVM-side expressions
    ``manager.append`` uses and repartitions on them), and each task then
    group-splits its Arrow batches by the routing columns — one staged
    hive subdir per partition value, vectorized Arrow throughout, never
    per-row Python. Identity partition source columns are moved into the
    path (exactly what Spark's ``partitionBy`` does), so file contents,
    manifest partition strings, stats, and null counts are
    byte-compatible with ``manager.append``'s (parity asserted in
    ``tests/test_pyds.py``). One caveat shared with the manager path's
    physical layout: CHECK constraints referencing an identity PARTITION
    column are unenforceable on this path (the staged files no longer
    hold the column) and raise at commit rather than silently passing."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        manifest, table_dir = _resolve_manifest(options)
        import uuid as _uuid

        self._table_dir = table_dir
        self._warehouse = options["warehouse"]
        self._table = options["table"]
        self._overwrite = overwrite
        self._cols = [f["name"] for f in manifest["schema"]["fields"]]
        spec = ParquetTableManager._spec(None, {"spec": manifest["spec"]})
        self._route_cols = [t.field_name for t in spec]
        missing = [c for c in self._route_cols if c not in schema.names]
        if missing:
            raise ValueError(
                f"snaptable write into hidden-partitioned table "
                f"{self._table!r} requires the routing column(s) {missing} "
                "in the input — wrap the DataFrame with "
                "iceberg_poc_spark.sources.pyds.route_partitions(df, "
                "warehouse, table) before .write"
            )
        # the physical file drops ALL routing columns: derived transform
        # columns are not table schema, and identity sources live in the
        # hive path (Spark partitionBy semantics; the read path restores
        # them from the manifest partition values)
        self._file_cols = [c for c in self._cols if c not in self._route_cols]
        self._staging = os.path.join(
            table_dir, "_staging", f"dsw-{_uuid.uuid4().hex}"
        )

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(self._staging, exist_ok=True)
        if not self._route_cols:
            path = os.path.join(self._staging, f"{_uuid.uuid4().hex}.parquet")
            writer = None
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(
                        path, batch.schema, compression="zstd"
                    )
                writer.write_batch(batch)
            if writer is None:
                return _StagedFiles([])  # empty task: nothing staged
            writer.close()
            return _StagedFiles([path])
        # partitioned: split each batch by the pre-routed partition tuple.
        # After route_partitions' repartition a task is partition-pure, so
        # the group-by finds ONE tuple and the split is a no-op select —
        # the general path still handles mixed tasks (a caller who skipped
        # the repartition) correctly, just with more files.
        writers: dict[str, Any] = {}
        files: list[str] = []
        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            # Arrow's grouper can return a NULL key as several groups;
            # deduplicated here, or each copy writes its rows again
            keys = list(
                {
                    tuple(k.values()): k
                    for k in tbl.select(self._route_cols)
                    .group_by(self._route_cols)
                    .aggregate([])
                    .to_pylist()
                }.values()
            )
            data = tbl.select(self._file_cols)
            for krow in keys:
                if len(keys) == 1:
                    part = data
                else:
                    mask = None
                    for c in self._route_cols:
                        m = (
                            pc.is_null(tbl[c])
                            if krow[c] is None
                            else pc.fill_null(pc.equal(tbl[c], krow[c]), False)
                        )
                        mask = m if mask is None else pc.and_(mask, m)
                    part = data.filter(mask)
                sub = os.path.join(
                    *[
                        f"{c}={_hive_part_str(krow[c])}"
                        for c in self._route_cols
                    ]
                )
                w = writers.get(sub)
                if w is None:
                    d = os.path.join(self._staging, sub)
                    os.makedirs(d, exist_ok=True)
                    path = os.path.join(d, f"{_uuid.uuid4().hex}.parquet")
                    w = pq.ParquetWriter(path, part.schema, compression="zstd")
                    writers[sub] = w
                    files.append(path)
                w.write_table(part)
        for w in writers.values():
            w.close()
        return _StagedFiles(files)

    def _cleanup(self) -> None:
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages) -> None:
        self._cleanup()

    def commit(self, messages) -> None:
        staged = [p for msg in messages if msg for p in msg.files]
        self._publish(staged)

    def _publish(self, staged: list[str], epoch: int | None = None) -> None:
        """Validate the staged files against the table's CHECK
        constraints, move each under ``data/`` and describe it through
        the table layer's one registrar (``_register_files``: partition
        values unescaped from the staged ``k=v`` dirs, NULL as None;
        stats; Bloom index), and atomically commit them as one snapshot.
        ``epoch`` (streaming) is recorded in the table properties inside
        the SAME commit — the idempotence marker a replayed micro-batch
        is skipped by."""
        from iceberg_poc_spark.tables.manager import (
            CONSTRAINT_PROP_PREFIX,
            ConstraintViolation,
            _register_files,
            _without_deletes,
        )
        # the commit callback runs in a Python worker with no Spark
        # session; manifest ops below are pure JSON/OS, and the CHECK
        # gate evaluates over the staged parquet with DuckDB (constraint
        # expressions stay in the SQL subset both engines share — the
        # same discipline the oracle twins already impose)
        mgr = ParquetTableManager(None, self._warehouse)
        props = mgr.properties(self._table)
        checks = {
            k[len(CONSTRAINT_PROP_PREFIX):]: v
            for k, v in props.items()
            if k.startswith(CONSTRAINT_PROP_PREFIX)
        }
        if staged and checks:
            import duckdb

            plist = "[" + ", ".join(f"'{p}'" for p in staged) + "]"
            bad = {}
            for cname, expr in checks.items():
                n = duckdb.sql(
                    f"SELECT CAST(COUNT(*) AS BIGINT) FROM "
                    f"read_parquet({plist}) "
                    f"WHERE ({expr}) IS DISTINCT FROM TRUE"
                ).fetchone()[0]
                if n:
                    bad[cname] = n
            if bad:
                self._cleanup()
                detail = ", ".join(
                    f"{c!r} ({checks[c]}): {n} row(s)"
                    for c, n in sorted(bad.items())
                )
                raise ConstraintViolation(
                    f"ingest into {self._table!r} rejected — check "
                    f"constraint(s) violated: {detail}"
                )
        at: list[tuple[str, str]] = []
        for src in staged:
            # the staging root is the dsw-* dir, NOT self._staging: under
            # streaming the executor-side writer instance (which staged)
            # and the driver-side one (which commits) are distinct
            # deserializations with distinct staging uuids
            parts = os.path.normpath(os.path.dirname(src)).split(os.sep)
            i = max(
                (ix for ix, s in enumerate(parts) if s.startswith("dsw-")),
                default=len(parts) - 1,
            )
            at.append((os.sep + os.path.join(*parts[: i + 1]), src))
        entries = _register_files(self._table_dir, at, list(self._cols), props)
        self._cleanup()
        import shutil

        for root in {root for root, _src in at}:  # executor-side (streaming)
            shutil.rmtree(root, ignore_errors=True)

        def derive(head: dict) -> dict:
            out = (
                {**_without_deletes(head), "files": entries}
                if self._overwrite
                else {**head, "files": head["files"] + entries}
            )
            if epoch is not None:
                out["properties"] = {
                    **head.get("properties", {}),
                    STREAM_EPOCH_PROP: str(epoch),
                }
            return out

        op = "overwrite" if self._overwrite else "append"
        mgr._advance(self._table, "main", op, derive)


class SnapTableStreamWriter(SnapTableWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("snaptable")`` — the NATIVE streaming sink
    (≙ Iceberg's streaming write): every micro-batch lands as ONE atomic
    snapshot, and the committing snapshot records its epoch id in the
    table properties, so a replayed micro-batch (crash-restart under the
    same checkpoint re-running epoch N) is detected and skipped — at
    least-once delivery from the engine becomes exactly-once TABLE
    state, the same guarantee the foreachBatch sink
    (streaming/pipelines.run_to_table) gets from the checkpoint, but
    carried by the table itself. One streaming writer per table (the
    epoch marker is table-scoped), matching the single-writer discipline
    streaming table sinks assume."""

    def commit(self, messages, batchId: int) -> None:
        from iceberg_poc_spark.tables.manager import ParquetTableManager

        mgr = ParquetTableManager(None, self._warehouse)
        last = mgr.properties(self._table).get(STREAM_EPOCH_PROP)
        if last is not None and int(last) >= batchId:
            self._cleanup()  # replayed epoch: already committed, skip
            return
        staged = [p for msg in messages if msg for p in msg.files]
        self._publish(staged, epoch=batchId)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup()


class SnapTableDataSource(DataSource):
    """``spark.read.format("snaptable").option("warehouse", w)
    .option("table", t)[.option("snapshot", id) | .option("ref", name)
    | .option("as_of", instant)]``

    The same options work from PURE SQL — the ``VERSION AS OF`` /
    ``TIMESTAMP AS OF`` surface without any Python API call::

        CREATE TEMPORARY VIEW orders_v3 USING snaptable
        OPTIONS (warehouse '/w', `table` 'orders', snapshot '3')

    (gated end-to-end by ``q_time_travel_sql``).

    ``.option("meta", "files")`` reads the ``files`` METADATA TABLE
    instead of the data (one row per live file: path, partition,
    records, bytes) — distributed over the columnar segment manifests,
    one task per segment. The ``partitions`` metadata table is its
    ``GROUP BY partition`` aggregation, expressed in the query plan."""

    @classmethod
    def name(cls) -> str:
        return "snaptable"

    def schema(self) -> StructType:
        meta = self.options.get("meta")
        if meta is not None:
            if meta == "partitions":
                # served from MAINTAINED partition statistics (segment
                # summary rollups, ≙ Iceberg partition stats files) —
                # O(partitions) rows with zero entry decodes
                return StructType(
                    [
                        StructField("partition", StringType(), True),
                        StructField("n_files", LongType(), True),
                        StructField("n_records", LongType(), True),
                        StructField("total_bytes", LongType(), True),
                    ]
                )
            if meta != "files":
                raise ValueError(
                    f"unknown metadata table {meta!r}; supported: "
                    "'files', 'partitions'"
                )
            # no fromDDL: the planning worker has no active session
            return StructType(
                [
                    StructField("path", StringType(), True),
                    StructField("partition", StringType(), True),
                    StructField("records", LongType(), True),
                    StructField("bytes", LongType(), True),
                ]
            )
        manifest, _ = _resolve_manifest(self.options)
        declared = StructType.fromJson(manifest["schema"])
        # nullable-ized like the manager's read (files predating a schema
        # evolution legitimately surface NULLs), former_names metadata
        # stripped — it's internal bookkeeping, not read-schema surface
        return StructType(
            [
                type(f)(f.name, _nested_nullable(f.dataType), True)
                for f in declared.fields
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        meta = self.options.get("meta")
        if meta == "partitions":
            return SnapPartitionsReader(self.options)
        if meta is not None:
            return SnapMetaReader(self.options)
        return SnapTableReader(self.options, schema)

    def streamReader(self, schema: StructType) -> SnapTableStreamReader:
        return SnapTableStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> SnapTableWriter:
        return SnapTableWriter(self.options, schema, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> SnapTableStreamWriter:
        return SnapTableStreamWriter(self.options, schema, overwrite)


def register_snaptable(spark) -> None:
    spark.dataSource.register(SnapTableDataSource)
