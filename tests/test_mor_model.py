"""Model-based randomized check of the MoR delete triad + maintenance:
a seeded random sequence of appends / equality upserts / positional
deletes / predicate deletes / compact_deletes / rewrite_deletes /
compact_partitions runs against BOTH the snapshot table layer and a
plain in-memory dict model; after EVERY op the table's visible rows
must equal the model exactly. This is the interleaving coverage the
example-based tests can't enumerate — e.g. a positional delete landing
on top of a folded global equality state, then a targeted compaction,
then another fold."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from iceberg_poc_spark.sources.pyds import register_snaptable
from iceberg_poc_spark.tables import ParquetTableManager


@pytest.fixture
def mgr(spark, tmp_path):
    return ParquetTableManager(spark, str(tmp_path / "wh"))


def _table_rows(mgr):
    return {
        (r.k, r.v, r.g) for r in mgr.read("m").collect()
    }


@pytest.mark.parametrize("seed", [7, 23, 41, 58])
def test_random_mor_interleavings_match_model(mgr, spark, seed):
    rng = random.Random(seed)
    next_k = [0]

    def fresh_batch(n):
        rows = [
            (next_k[0] + i, f"v{seed}-{next_k[0] + i}", (next_k[0] + i) % 3)
            for i in range(n)
        ]
        next_k[0] += n
        return rows

    base = fresh_batch(30)
    df0 = spark.createDataFrame(base, "k long, v string, g int")
    mgr.create_table("m", df0.schema, [])
    v0 = mgr.append("m", df0)
    model: dict[int, tuple[str, int]] = {k: (v, g) for k, v, g in base}

    ops = ["append", "upsert", "pos_delete", "pred_delete",
           "compact_deletes", "rewrite_deletes", "compact_partitions"]
    for step in range(14):
        op = rng.choice(ops)
        if op == "append":
            rows = fresh_batch(rng.randint(1, 6))
            mgr.append(
                "m",
                spark.createDataFrame(rows, "k long, v string, g int")
                .coalesce(1),
            )
            model.update({k: (v, g) for k, v, g in rows})
        elif op == "upsert":
            live = sorted(model)
            if not live:
                continue
            targets = rng.sample(live, min(len(live), rng.randint(1, 5)))
            rows = [(k, f"u{step}-{k}", model[k][1]) for k in targets]
            new = fresh_batch(rng.randint(0, 2))
            rows += list(new)
            mgr.upsert_equality(
                "m",
                spark.createDataFrame(rows, "k long, v string, g int")
                .coalesce(1),
                ["k"],
            )
            model.update({k: (v, g) for k, v, g in rows})
        elif op == "pos_delete":
            live = sorted(model)
            if not live:
                continue
            targets = set(rng.sample(live, min(len(live), rng.randint(1, 4))))
            coords = (
                mgr.read_with_positions("m")
                .filter(F.col("k").isin(list(targets)))
                .select("_file_name", "_pos")
            )
            mgr.delete_positions("m", coords)
            for k in targets:
                model.pop(k, None)
        elif op == "pred_delete":
            live = sorted(model)
            if not live:
                continue
            lo = rng.choice(live)
            hi = lo + rng.randint(0, 8)
            mgr.delete(
                "m", [("k", ">=", lo), ("k", "<=", hi)],
                mode=rng.choice(["cow", "mor"]),
            )
            for k in [k for k in model if lo <= k <= hi]:
                model.pop(k, None)
        elif op == "compact_deletes":
            mgr.compact_deletes("m")
        elif op == "rewrite_deletes":
            mgr.rewrite_deletes("m")
        elif op == "compact_partitions":
            mgr.compact_partitions("m", min_files=2)
        got = _table_rows(mgr)
        want = {(k, v, g) for k, (v, g) in model.items()}
        assert got == want, (
            f"seed={seed} step={step} op={op}: "
            f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
        )
    # the connector face reads the same final state
    register_snaptable(spark)
    snap = (
        spark.read.format("snaptable")
        .option("warehouse", mgr.warehouse)
        .option("table", "m")
        .load()
    )
    assert {(r.k, r.v, r.g) for r in snap.collect()} == want
    # replaying the change stream over the base rows reproduces the
    # model, and no row is ever deleted more than inserted (or twice)
    net = Counter((k, v, g) for k, v, g in base)
    for r in mgr.changelog("m", v0).collect():
        net[(r.k, r.v, r.g)] += 1 if r["_change_type"] == "insert" else -1
    assert set(net.values()) <= {0, 1}, sorted(net.items())[:5]
    assert {row for row, n in net.items() if n == 1} == want


@pytest.mark.parametrize("seed", [5, 31, 77])
def test_random_interleavings_with_schema_evolution(mgr, spark, seed):
    """The model test with add_column interleaved into the delete /
    maintenance mix: rows written before an evolution read the initial
    default (or NULL), rows written after carry explicit values, and
    every fold/rewrite/compaction preserves that per-row story exactly.
    This is where schema evolution meets the delete triad — the
    interleavings (eq-delete anti-joins over evolved schemas, folds
    after DDL, compactions rewriting pre-DDL files) no example test
    enumerates."""
    rng = random.Random(seed)
    next_k = [0]
    extra_cols: list[tuple[str, object]] = []  # (name, default)

    def fresh_rows(n):
        rows = []
        for i in range(n):
            k = next_k[0] + i
            row = {"k": k, "v": f"v{seed}-{k}", "g": k % 3}
            for c, _d in extra_cols:
                row[c] = f"{c}-{k}" if rng.random() < 0.8 else None
            rows.append(row)
        next_k[0] += n
        return rows

    def to_df(rows):
        cols = ["k", "v", "g"] + [c for c, _ in extra_cols]
        data = [tuple(r[c] for c in cols) for r in rows]
        ddl = "k long, v string, g int" + "".join(
            f", {c} string" for c, _ in extra_cols
        )
        return spark.createDataFrame(data, ddl).coalesce(1)

    base = fresh_rows(25)
    mgr.create_table("m", to_df(base).schema, [])
    mgr.append("m", to_df(base))
    model: dict[int, dict] = {r["k"]: dict(r) for r in base}

    def visible(row):
        # a row dict may predate later columns: those read the column's
        # initial default (or NULL)
        out = [row["k"], row["v"], row["g"]]
        for c, d in extra_cols:
            out.append(row[c] if c in row else d)
        return tuple(out)

    ops = ["append", "upsert", "pos_delete", "add_column",
           "compact_deletes", "rewrite_deletes", "compact_partitions"]
    for step in range(14):
        op = rng.choice(ops)
        if op == "add_column" and len(extra_cols) < 3:
            c = f"c{len(extra_cols)}"
            default = f"dflt-{c}" if rng.random() < 0.5 else None
            mgr.add_column("m", c, "string", default=default)
            extra_cols.append((c, default))
        elif op == "append":
            rows = fresh_rows(rng.randint(1, 5))
            mgr.append("m", to_df(rows))
            model.update({r["k"]: dict(r) for r in rows})
        elif op == "upsert":
            live = sorted(model)
            if not live:
                continue
            targets = rng.sample(live, min(len(live), rng.randint(1, 4)))
            rows = []
            for k in targets:
                row = {"k": k, "v": f"u{step}-{k}", "g": model[k]["g"]}
                for c, _d in extra_cols:
                    row[c] = f"{c}-up{step}"
                rows.append(row)
            rows += fresh_rows(rng.randint(0, 2))
            mgr.upsert_equality("m", to_df(rows), ["k"])
            model.update({r["k"]: dict(r) for r in rows})
        elif op == "pos_delete":
            live = sorted(model)
            if not live:
                continue
            targets = set(rng.sample(live, min(len(live), rng.randint(1, 3))))
            coords = (
                mgr.read_with_positions("m")
                .filter(F.col("k").isin(list(targets)))
                .select("_file_name", "_pos")
            )
            mgr.delete_positions("m", coords)
            for k in targets:
                model.pop(k, None)
        elif op == "compact_deletes":
            mgr.compact_deletes("m")
        elif op == "rewrite_deletes":
            mgr.rewrite_deletes("m")
        elif op == "compact_partitions":
            mgr.compact_partitions("m", min_files=2)
        got = {tuple(r) for r in mgr.read("m").collect()}
        want = {visible(r) for r in model.values()}
        assert got == want, (
            f"seed={seed} step={step} op={op} cols={extra_cols}: "
            f"missing={sorted(want - got)[:4]} extra={sorted(got - want)[:4]}"
        )
