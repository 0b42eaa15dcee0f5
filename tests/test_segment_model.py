"""Model-based property test of the SEGMENTED-MANIFEST layer: hypothesis
drives random op sequences against a table configured with a tiny
segment target (2 entries) and aggressive merge window (3 pieces), so
every sequence exercises segment reuse, rewrite, chunked merging, and
reaping that production reaches only at large file counts. After every
op the test checks BOTH row correctness (facade vs an in-memory model,
incl. a partition point-scan through the segment-summary pre-prune) and
the structural invariants the design rests on:

- manifest JSON never carries an inline inventory ("files" absent);
- the persisted seg_stats cover exactly the segment list;
- the materialized facade equals the concatenation of the segments;
- every live snapshot's segment files exist on disk, including after
  expire_snapshots reaps history;
- the segment-summary scan is row-identical to the per-entry scan
  (the superset rule: segment pruning may only skip provably-empty
  segments);
- externally REGISTERED files (add_files) ride inside segments like any
  entry — reused by identity, rewritten away by compaction — and their
  data files survive every expire_snapshots (the table never owns them).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from iceberg_poc_spark.tables import ParquetTableManager, identity
from iceberg_poc_spark.tables.manager import (
    SEGMENT_MERGE_RUN_PROP,
    SEGMENT_TARGET_PROP,
)

SCHEMA = StructType(
    [
        StructField("k", IntegerType(), False),
        StructField("part", IntegerType(), False),
        StructField("v", LongType(), False),
    ]
)

kv = st.tuples(st.integers(0, 24), st.integers(0, 100))
batch = st.lists(kv, min_size=1, max_size=5)

op = st.one_of(
    st.tuples(st.just("append"), batch),
    st.tuples(st.just("add_files"), st.integers(0, 3), batch),
    st.tuples(st.just("delete_part_mor"), st.integers(0, 3)),
    st.tuples(st.just("delete_v"), st.integers(0, 100)),
    st.tuples(st.just("overwrite"), batch),
    st.tuples(st.just("compact")),
    st.tuples(st.just("expire")),
)


def _rows(pairs):
    return [(k, k % 4, v) for k, v in pairs]


def _check_structure(mgr, name: str) -> None:
    """Structural invariants over EVERY live snapshot."""
    versions = [
        int(fn[1:-5])
        for fn in os.listdir(mgr._meta_dir(name))
        if fn.startswith("v") and fn.endswith(".json")
    ]
    for v in versions:
        raw = mgr._manifest_raw(name, v)
        assert "files" not in raw, f"v{v} carries an inline inventory"
        segs = raw.get("segments", [])
        assert set(raw.get("seg_stats", {})) == set(segs), f"v{v} stats"
        n_from_segs = 0
        for sid in segs:
            assert os.path.exists(mgr._seg_path(name, sid)), (v, sid)
            n_from_segs += len(mgr._seg_entries(name, sid))
            assert raw["seg_stats"][sid]["n"] == len(
                mgr._seg_entries(name, sid)
            )
        m = mgr._load_manifest(name, v)
        assert len(m["files"]) == n_from_segs, f"v{v} facade mismatch"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(ops=st.lists(op, min_size=1, max_size=6), probe=st.integers(0, 3))
def test_segment_layer_matches_model_under_random_ops(spark, ops, probe):
    wh = tempfile.mkdtemp(prefix="segmodel_wh_")
    try:
        mgr = ParquetTableManager(spark, wh)
        mgr.create_table(
            "t",
            SCHEMA,
            [identity("part")],
            properties={
                SEGMENT_TARGET_PROP: "2",
                SEGMENT_MERGE_RUN_PROP: "3",
            },
        )
        model: list[tuple[int, int, int]] = []
        ext_dirs: list[str] = []
        ext_files: list[str] = []
        for o in ops:
            kind = o[0]
            if kind == "add_files":
                import glob as _glob

                p, pairs = o[1], o[2]
                rows = [(k, p, v) for k, v in pairs]
                ext = tempfile.mkdtemp(prefix="segmodel_ext_")
                ext_dirs.append(ext)
                sub = os.path.join(ext, "d")
                spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
                    sub
                )
                fps = sorted(_glob.glob(os.path.join(sub, "*.parquet")))
                mgr.add_files("t", fps, partition_values={"part": p})
                ext_files.extend(fps)
                model.extend(rows)
            elif kind == "append":
                rows = _rows(o[1])
                mgr.append("t", spark.createDataFrame(rows, SCHEMA))
                model.extend(rows)
            elif kind == "delete_part_mor":
                p = o[1]
                mgr.delete("t", [("part", "==", p)], mode="mor")
                model = [r for r in model if r[1] != p]
            elif kind == "delete_v":
                x = o[1]
                mgr.delete("t", [("v", "<", x)])
                model = [r for r in model if not r[2] < x]
            elif kind == "overwrite":
                rows = _rows(o[1])
                mgr.overwrite_partitions(
                    "t", spark.createDataFrame(rows, SCHEMA)
                )
                touched = {r[1] for r in rows}
                model = [r for r in model if r[1] not in touched] + rows
            elif kind == "compact":
                mgr.compact("t")
            else:  # expire: reap history + unreferenced segments
                mgr.expire_snapshots("t", keep_last=1)
            _check_structure(mgr, "t")
            # head row-set matches the model through the facade...
            got = Counter(
                (r.k, r.part, r.v) for r in mgr.read("t").collect()
            )
            assert got == Counter(model)
        # ...and a partition point-scan through the segment-summary
        # pre-prune returns exactly the model's slice (superset rule:
        # summaries may only skip provably-empty segments)
        df, planned, total = mgr.scan("t", where=[("part", "==", probe)])
        got = Counter((r.k, r.part, r.v) for r in df.collect())
        want = Counter(r for r in model if r[1] == probe)
        assert got == want
        assert 0 <= planned <= total
        # broad scan equals the full model and plans every file
        bdf, bp, bt = mgr.scan("t")
        assert Counter((r.k, r.part, r.v) for r in bdf.collect()) == Counter(
            model
        )
        assert bp == bt
        # the table never owns registered data: every external file
        # survived all interleaved compactions and expiries
        assert all(os.path.exists(p) for p in ext_files)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        for d in ext_dirs:
            shutil.rmtree(d, ignore_errors=True)
