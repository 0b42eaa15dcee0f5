"""Registered table-layer queries (operators/tablelayer.py): properties the
oracle comparison can't see — snapshot isolation and partition-granular
copy-on-write file survival."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_poc_spark.operators import tablelayer
from iceberg_poc_spark.sources import load_table
from tests.conftest import SF_DIR


def test_time_travel_isolated_from_later_appends(spark):
    """The tagged read sees batch 1 exactly, even though the live head
    holds both batches."""
    mgr, _snaps = tablelayer._setup_orders_tt(spark, SF_DIR)
    tagged = mgr.read("orders_tt", ref="pre_cutoff")
    head = mgr.read("orders_tt")
    cutoff = F.lit(tablelayer.CUTOFF).cast("timestamp_ntz")
    n_batch1 = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .count()
    )
    assert tagged.count() == n_batch1
    assert head.count() > n_batch1
    assert tagged.filter(F.col("o_orderdate") >= cutoff).count() == 0


def test_incremental_reads_only_the_delta(spark):
    mgr, snaps = tablelayer._setup_orders_tt(spark, SF_DIR)
    inc = mgr.read_incremental(
        "orders_tt", from_snapshot=snaps["snap1"], to_snapshot=snaps["snap2"]
    )
    cutoff = F.lit(tablelayer.CUTOFF).cast("timestamp_ntz")
    n_batch2 = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderdate") >= cutoff)
        .count()
    )
    assert inc.count() == n_batch2
    assert inc.filter(F.col("o_orderdate") < cutoff).count() == 0


def test_merge_is_partition_granular_cow(spark):
    """Only the matched partition's files are rewritten by the merge:
    every non-AUTOMOBILE data file of the base snapshot survives (same
    path) into the merged snapshot, AUTOMOBILE files do not, and a new
    MERGED partition appears."""
    mgr, _snaps = tablelayer._setup_customer_m(spark, SF_DIR)
    head_v = mgr._current_version("customer_m")
    m_head = mgr._load_manifest("customer_m", head_v)
    assert m_head["operation"] == "merge"
    m_base = mgr._load_manifest("customer_m", m_head["parent"])

    def by_partition(manifest):
        out: dict[str, set[str]] = {}
        for e in manifest["files"]:
            seg = e["partition"]["c_mktsegment"]
            out.setdefault(seg, set()).add(e["path"])
        return out

    base, head = by_partition(m_base), by_partition(m_head)
    assert "MERGED" not in base and "MERGED" in head
    assert base["AUTOMOBILE"].isdisjoint(head["AUTOMOBILE"])
    for seg in base:
        if seg != "AUTOMOBILE":
            assert base[seg] == head[seg], f"{seg} files must survive CoW"


def test_merge_updates_and_inserts(spark):
    mgr, _snaps = tablelayer._setup_customer_m(spark, SF_DIR)
    merged = mgr.read("customer_m")
    cust = load_table(spark, SF_DIR, "customer")
    n_auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").count()
    # inserts: one MERGED row per AUTOMOBILE customer, zero balance
    ins = merged.filter(F.col("c_mktsegment") == "MERGED")
    assert ins.count() == n_auto
    assert ins.filter(F.col("c_acctbal") != 0.0).count() == 0
    # updates: every AUTOMOBILE balance moved +100 (exact double add)
    got = {
        r["c_custkey"]: r["c_acctbal"]
        for r in merged.filter(F.col("c_mktsegment") == "AUTOMOBILE").collect()
    }
    want = {
        r["c_custkey"]: r["c_acctbal"] + 100.0
        for r in cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").collect()
    }
    assert got == want
    # total row count = base + inserts
    assert merged.count() == cust.count() + n_auto


def test_overwrite_partition_is_partition_granular(spark):
    """The dynamic overwrite replaces exactly the one year's files; every
    other year's files survive by path, and row counts are unchanged."""
    mgr, _snaps = tablelayer._setup_orders_tt(spark, SF_DIR)
    head_v = mgr._current_version("orders_tt")
    m_head = mgr._load_manifest("orders_tt", head_v)
    assert m_head["operation"] == "overwrite-partitions"
    m_base = mgr._load_manifest("orders_tt", m_head["parent"])

    def by_year(manifest):
        out: dict = {}
        for e in manifest["files"]:
            out.setdefault(e["partition"]["o_orderdate_years"], set()).add(
                e["path"]
            )
        return out

    base, head = by_year(m_base), by_year(m_head)
    y = str(tablelayer.OVERWRITE_YEAR)
    assert base[y].isdisjoint(head[y]), "target year must be rewritten"
    for year in base:
        if year != y:
            assert base[year] == head[year], f"{year} files must survive"
    assert mgr.read("orders_tt").count() == (
        load_table(spark, SF_DIR, "orders").count()
    )


def test_schema_evolution_null_projection_and_rename(spark):
    """Pre-evolution files project NULL for the added column; the renamed
    column resolves values from files written under the old name."""
    mgr, _snaps = tablelayer._setup_cust_ev(spark, SF_DIR)
    df = mgr.read("cust_ev")
    assert set(df.columns) == {"c_custkey", "c_fullname", "c_acctbal", "c_tier"}
    cust = load_table(spark, SF_DIR, "customer")
    n_old = cust.filter(
        F.col("c_nationkey") < tablelayer.EVOLVE_NATION_SPLIT
    ).count()
    assert df.filter(F.col("c_tier").isNull()).count() == n_old
    # every row (both file generations) resolves a non-null c_fullname
    assert df.filter(F.col("c_fullname").isNull()).count() == 0
    assert df.count() == cust.count()


def test_wap_pre_publish_isolation(spark):
    """Before the fast-forward, main (recorded base snapshot) held no
    error events; after publish, the head holds the full table and the
    publish added no data files beyond the branch's."""
    mgr, snaps = tablelayer._setup_events_wap(spark, SF_DIR)
    base = mgr.read("events_wap", snapshot_id=snaps["wap_base"])
    assert base.filter(F.col("event_type") == "error").count() == 0
    head = mgr.read("events_wap")
    n_err = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "error")
        .count()
    )
    assert head.filter(F.col("event_type") == "error").count() == n_err
    assert head.count() == load_table(spark, SF_DIR, "events").count()


def test_compaction_reduces_files_preserves_rows(spark):
    mgr, snaps = tablelayer._setup_li_cmp(spark, SF_DIR)
    m = mgr._load_manifest("li_cmp")
    assert m["operation"] == "replace"
    assert len(m["files"]) < snaps["cmp_pre_files"]
    # sorted clustering: file key ranges must not overlap
    spans = sorted(
        (e["stats"]["l_orderkey"][0], e["stats"]["l_orderkey"][1])
        for e in m["files"]
        if e.get("stats", {}).get("l_orderkey")
    )
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "sorted compaction must produce disjoint ranges"


def test_partition_evolution_prunes_each_generation(spark):
    """Per-spec-generation planning: the date bound prunes files of BOTH
    generations via their years value; the priority bound prunes only
    generation-2 files (generation-1 lacks the partition value and is
    conservatively kept by the manifest planner)."""
    mgr, _snaps = tablelayer._setup_orders_pe(spark, SF_DIR)
    m = mgr._load_manifest("orders_pe")

    def split(files):
        gen1 = [e for e in files if "o_orderpriority" not in e["partition"]]
        gen2 = [e for e in files if "o_orderpriority" in e["partition"]]
        return gen1, gen2

    gen1_all, gen2_all = split(m["files"])
    assert gen1_all and gen2_all, "both spec generations must have files"

    # date-only probe: prunes within BOTH generations (years partition
    # value exists in each); gen-1 spans 1995-1997, so years < 1997 drop
    _df, planned_date, total = mgr.scan(
        "orders_pe", where=[("o_orderdate", ">=", tablelayer.PE_DATE_LO)]
    )
    assert planned_date < total

    # priority-only probe: every gen-1 file kept (conservative), gen-2
    # pruned to the one priority's files
    from iceberg_poc_spark.tables.manager import _may_match, _stats_may_match

    spec = mgr._spec(m)
    pri_where = [("o_orderpriority", "==", tablelayer.PE_PRIORITY)]
    plan_pri = [e for e in m["files"] if _may_match(spec, e, pri_where)]
    g1, g2 = split(plan_pri)
    # gen-1 has no priority partition value: the planner may drop a gen-1
    # file only via column STATS, never via partition values
    g1_stats_kept = [
        e
        for e in gen1_all
        if _stats_may_match(e, "o_orderpriority", "==", tablelayer.PE_PRIORITY)
    ]
    assert len(g1) == len(g1_stats_kept), "gen-1 conservatively kept"
    assert len(g2) < len(gen2_all), "gen-2 pruned by identity value"
    assert all(
        e["partition"]["o_orderpriority"] == tablelayer.PE_PRIORITY for e in g2
    )

    # combined probe (the registered query's scan): no wrong rows and
    # exact agreement with the raw-parquet filter
    df, planned_both, _ = mgr.scan(
        "orders_pe",
        where=[
            ("o_orderdate", ">=", tablelayer.PE_DATE_LO),
            ("o_orderpriority", "==", tablelayer.PE_PRIORITY),
        ],
    )
    assert planned_both <= planned_date
    expect = (
        load_table(spark, SF_DIR, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(tablelayer.PE_DATE_LO).cast("timestamp_ntz"))
            & (F.col("o_orderpriority") == tablelayer.PE_PRIORITY)
        )
        .count()
    )
    assert df.count() == expect


def test_merge_cdc_delete_is_partition_granular(spark):
    """The CDC merge rewrites only the partitions its source rows (updates,
    inserts, AND deletes) touch; every other segment's files survive
    byte-identical."""
    mgr, _snaps = tablelayer._setup_cust_cdc(spark, SF_DIR)
    head_v = mgr._current_version("cust_cdc")
    m_head = mgr._load_manifest("cust_cdc", head_v)
    assert m_head["operation"] == "merge"
    m_base = mgr._load_manifest("cust_cdc", m_head["parent"])

    def by_partition(manifest):
        out = {}
        for e in manifest["files"]:
            out.setdefault(e["partition"]["c_mktsegment"], set()).add(e["path"])
        return out

    base, head = by_partition(m_base), by_partition(m_head)
    assert "CDC_NEW" not in base and "CDC_NEW" in head
    touched = {"BUILDING", "MACHINERY", "CDC_NEW"}
    for seg in base:
        if seg not in touched:
            assert base[seg] == head[seg], f"{seg} files must survive CoW"
    # the deletes really happened
    cust = load_table(spark, SF_DIR, "customer")
    n_neg = cust.filter(
        (F.col("c_mktsegment") == "MACHINERY") & (F.col("c_acctbal") < 0)
    ).count()
    got = mgr.read("cust_cdc").filter(F.col("c_mktsegment") == "MACHINERY")
    assert got.count() == cust.filter(F.col("c_mktsegment") == "MACHINERY").count() - n_neg
    assert got.filter(F.col("c_acctbal") < 0).count() == 0


def test_row_dml_rewrites_only_touched_years(spark):
    """DELETE touches only 1998 files, UPDATE only 2000 files; every other
    year's files flow through both commits untouched."""
    mgr, _snaps = tablelayer._setup_orders_dml(spark, SF_DIR)
    head_v = mgr._current_version("orders_dml")
    m_upd = mgr._load_manifest("orders_dml", head_v)
    m_del = mgr._load_manifest("orders_dml", m_upd["parent"])
    m_base = mgr._load_manifest("orders_dml", m_del["parent"])
    assert (m_upd["operation"], m_del["operation"]) == ("update", "delete")

    def by_year(manifest):
        out = {}
        for e in manifest["files"]:
            out.setdefault(e["partition"]["o_orderdate_years"], set()).add(e["path"])
        return out

    base, after_del, after_upd = by_year(m_base), by_year(m_del), by_year(m_upd)
    for y in base:
        if y != "1998":
            assert base[y] == after_del[y], f"{y} must survive the delete"
    for y in after_del:
        if y != "2000":
            assert after_del[y] == after_upd[y], f"{y} must survive the update"
    assert base["1998"] != after_del.get("1998", set())
    assert after_del["2000"] != after_upd["2000"]


def test_snapshot_expiry_reaps_and_head_survives(spark):
    """expire_snapshots removed manifests and orphaned pre-compaction data
    files; the surviving head still reads the full corpus."""
    mgr, snaps = tablelayer._setup_ev_exp(spark, SF_DIR)
    gc = snaps["gc"]
    assert gc["snapshots"] >= 3  # 3 appends expired (compaction head kept)
    assert gc["files"] >= 1  # pre-compaction files orphaned and reaped
    n = load_table(spark, SF_DIR, "events").count()
    assert mgr.read("ev_exp").count() == n
    # only the head manifest remains on disk
    import os
    meta = mgr._meta_dir("ev_exp")
    manifests = [f for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json")]
    assert len(manifests) == 1


def test_mor_deletes_are_metadata_only_and_time_travel(spark):
    """Both MoR delete commits left every manifest entry untouched and
    recorded one table-level descriptor each; the pre-delete snapshot
    still reads the full table."""
    mgr, snaps = tablelayer._setup_orders_mor(spark, SF_DIR)
    m_head = mgr._load_manifest("orders_mor", snaps["mor_head"])
    m_base = mgr._load_manifest("orders_mor", snaps["base"])
    assert m_head["files"] == m_base["files"], "merge-on-read must rewrite nothing"
    assert m_head["operation"] == "delete-mor"
    assert len(m_head["global_pred_deletes"]) == 2
    deletes = mgr.file_deletes("orders_mor", m_head)
    assert any(deletes[e["path"]].preds for e in m_head["files"])
    n_all = load_table(spark, SF_DIR, "orders").count()
    assert mgr.read("orders_mor", snapshot_id=snaps["base"]).count() == n_all
    assert mgr.read("orders_mor").count() < n_all


def test_zorder_prunes_both_dimensions(spark):
    """After Z-order compaction on (user_id, ts), a filter on EITHER
    dimension alone must skip files via manifest min/max stats — the
    multi-dimensional locality a linear sort can't give its trailing
    columns."""
    mgr, _ = tablelayer._setup_ev_z(spark, SF_DIR)
    _, p_uid, total = mgr.scan(
        "ev_z",
        where=[
            ("user_id", ">=", tablelayer.Z_UID_LO),
            ("user_id", "<=", tablelayer.Z_UID_HI),
        ],
    )
    _, p_ts, _ = mgr.scan(
        "ev_z",
        where=[("ts", ">=", tablelayer.Z_TS_LO), ("ts", "<=", tablelayer.Z_TS_HI)],
    )
    assert total > 4, f"compaction produced only {total} files"
    assert p_uid < total, f"user_id filter planned {p_uid}/{total} files"
    assert p_ts < total, f"ts filter planned {p_ts}/{total} files"


def test_changelog_empty_range_and_rewrite_noise_free(spark):
    """A changelog over a range containing only data-equivalent commits
    (compaction) is empty; the full range never double-counts MoR
    deletes that stack on the same file."""
    mgr, snaps = tablelayer._setup_orders_chg(spark, SF_DIR)
    head = mgr._current_version("orders_chg")
    same = mgr.changelog("orders_chg", from_snapshot=head)
    assert same.count() == 0
    chg = mgr.changelog("orders_chg", from_snapshot=snaps["base"], to_snapshot=head)
    # every change row carries exactly one tag and a real snapshot id
    n_total = chg.count()
    n_tagged = chg.filter(F.col("_change_type").isin("insert", "delete")).count()
    assert n_total == n_tagged


def test_cherry_pick_isolation_both_ways(spark):
    """Cherry-pick ships exactly the picked batch to main; the held batch
    stays branch-only, and the branch still sees everything."""
    mgr, _ = tablelayer._setup_orders_cp(spark, SF_DIR)
    main = mgr.read("orders_cp")
    audit = mgr.read("orders_cp", ref="audit")
    y = F.year("o_orderdate")
    assert main.filter(y == tablelayer.CP_HOLD_YEAR).count() == 0
    assert main.filter(y == tablelayer.CP_PICK_YEAR).count() > 0
    assert (
        audit.filter(y == tablelayer.CP_HOLD_YEAR).count()
        == load_table(spark, SF_DIR, "orders")
        .filter(F.year("o_orderdate") == tablelayer.CP_HOLD_YEAR)
        .count()
    )


def test_rollback_restores_head_keeps_bad_snapshot_in_history(spark):
    """Rollback is metadata-only recovery: the head equals good+corrected
    exactly, the corrupted snapshot survives in history (forensics /
    time travel), and reading AT the bad snapshot still shows the
    corruption."""
    mgr, snaps = tablelayer._setup_orders_rb(spark, SF_DIR)
    cutoff = F.lit(tablelayer.CUTOFF).cast("timestamp_ntz")
    orders = load_table(spark, SF_DIR, "orders")
    n_all = orders.count()
    head = mgr.read("orders_rb")
    assert head.count() == n_all
    # no corrupted (x100) price survives at the head
    max_raw = orders.agg(F.max("o_totalprice")).first()[0]
    assert head.agg(F.max("o_totalprice")).first()[0] <= max_raw
    # the bad snapshot is still resolvable and still corrupted
    bad = mgr.read("orders_rb", snapshot_id=snaps["bad"])
    assert bad.filter(F.col("o_orderdate") >= cutoff).agg(
        F.max("o_totalprice")
    ).first()[0] > max_raw
    # history retains the rollback commit as its own operation
    ops = [r["operation"] for r in mgr.snapshots("orders_rb").collect()]
    assert "rollback" in ops


def test_compact_partitions_touches_only_fragmented_tail(spark):
    """Targeted compaction: tail day-partitions (4 micro-append files)
    collapse to one file each; bulk-history partitions keep their exact
    file paths (byte-identical survivors, no rewrite)."""
    mgr, snaps = tablelayer._setup_ev_cp(spark, SF_DIR)
    assert snaps["rewritten"] > 0 and snaps["added"] > 0
    m = mgr._load_manifest("ev_cp")
    split_day = tablelayer.EV_CP_SPLIT[:10]
    per_part: dict[str, list] = {}
    for e in m["files"]:
        day = list(e["partition"].values())[0]
        per_part.setdefault(str(day), []).append(e["path"])
    for day, paths in per_part.items():
        if str(day) >= split_day:
            assert len(paths) == 1, f"tail {day} still fragmented: {len(paths)}"
    # untouched partitions: same paths as the pre-compaction base append
    base_version = sorted(
        r["snapshot_id"]
        for r in mgr.snapshots("ev_cp").collect()
        if r["operation"] == "append"
    )[0]
    base_m = mgr._load_manifest("ev_cp", base_version)
    base_paths = {e["path"] for e in base_m["files"]}
    head_paths = {e["path"] for e in m["files"]}
    assert base_paths <= head_paths, "bulk-history files were rewritten"


def test_eq_deletes_are_metadata_only_and_sequence_scoped(spark):
    """Equality-delete commits leave every data-file path untouched;
    the re-insert append's rows survive despite their keys being in the
    first delete's key set (a delete binds only to files present at its
    commit); time travel to base still reads the full table."""
    mgr, snaps = tablelayer._setup_orders_eqd(spark, SF_DIR)
    m_eq = mgr._load_manifest("orders_eqd", snaps["eq_head"])
    m_base = mgr._load_manifest("orders_eqd", snaps["base"])
    assert {e["path"] for e in m_eq["files"]} == {
        e["path"] for e in m_base["files"]
    }, "equality merge-on-read must rewrite nothing"
    assert m_eq["operation"] == "delete-mor"
    assert m_eq["files"] == m_base["files"], "no manifest entry changes"
    # two distinct key-column sets, one table-level descriptor each
    colsets = [tuple(d["cols"]) for d in m_eq["global_eq_deletes"]]
    assert colsets == [("o_orderkey",), ("o_custkey",)]
    n_all = load_table(spark, SF_DIR, "orders").count()
    assert mgr.read("orders_eqd", snapshot_id=snaps["base"]).count() == n_all
    # re-appended files (post-delete) are younger than both deletes: no
    # delete may touch them
    m_head = mgr._load_manifest("orders_eqd", snaps["head"])
    base_paths = {e["path"] for e in m_base["files"]}
    new_entries = [e for e in m_head["files"] if e["path"] not in base_paths]
    deletes = mgr.file_deletes("orders_eqd", m_head)
    assert new_entries and all(
        not deletes[e["path"]].dirty for e in new_entries
    )
    # and their rows are all visible at head
    n_readd = sum(e["records"] for e in new_entries)
    got = mgr.read("orders_eqd")
    k1 = load_table(spark, SF_DIR, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") >= 350000.0)
        & (F.col("o_orderkey") % 2 == 0)
    )
    assert n_readd == k1.count()
    assert (
        got.join(k1.select("o_orderkey"), "o_orderkey", "left_semi").count()
        == n_readd
    )


def test_upsert_equality_epochs_are_single_commit_zero_rewrite(spark):
    """Each CDC epoch advances the table by exactly ONE snapshot whose
    operation is 'upsert'; no pre-existing manifest entry is ever
    rewritten, changed or dropped by an upsert; each epoch's own files
    fall under no delete of its own; and stacked epochs leave exactly
    one visible row per key."""
    mgr, snaps = tablelayer._setup_users_upsert(spark, SF_DIR)
    heads = snaps["heads"]
    assert len(heads) == 3
    entries_before: list = []
    for i, v in enumerate(heads):
        m = mgr._load_manifest("users_up", v)
        assert m["operation"] == "upsert"
        n = len(entries_before)
        assert m["files"][:n] == entries_before, (
            "upsert must not rewrite/change/drop entries"
        )
        new_entries = m["files"][n:]
        deletes = mgr.file_deletes("users_up", m)
        assert new_entries and all(
            not deletes[e["path"]].eq for e in new_entries
        ), "an epoch's own files must not fall under its delete"
        assert all(e["seq"] == v for e in new_entries)
        assert m["global_eq_deletes"][-1]["seq"] == v
        assert all(deletes[e["path"]].eq for e in entries_before)
        assert v == heads[i - 1] + 1 if i > 0 else True
        entries_before = m["files"]
    got = mgr.read("users_up")
    n_users = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert got.count() == n_users
    assert got.select("user_id").distinct().count() == n_users


def test_meta_count_mor_split_is_meaningful(spark):
    """q_meta_count_mor's claim rests on a non-vacuous split: exactly
    the 1997 partition's files carry the delete, every other year's
    counts come from manifest arithmetic alone."""
    mgr, _snaps = tablelayer._setup_orders_mc(spark, SF_DIR)
    m = mgr._load_manifest("orders_mc")
    deletes = mgr.file_deletes("orders_mc", m)
    dirty = [e for e in m["files"] if deletes[e["path"]].dirty]
    clean = [e for e in m["files"] if not deletes[e["path"]].dirty]
    assert dirty and clean, "split must exercise BOTH halves"
    assert {e["partition"]["o_orderdate_years"] for e in dirty} == {"1997"}
    assert "1997" not in {
        e["partition"]["o_orderdate_years"] for e in clean
    }
    # clean-half records must account for the non-1997 rows exactly
    n_meta = sum(e["records"] for e in clean)
    raw = load_table(spark, SF_DIR, "orders")
    n_raw_other = raw.filter(F.year("o_orderdate") != 1997).count()
    assert n_meta == n_raw_other


def test_bloom_index_prunes_point_lookups(spark):
    """Per-file Bloom index: the 3-id lookup plans only the files whose
    filter admits an id (no partition/bucket/stats help exists on
    docs_blm by construction); an absent id plans zero files; planned
    files never lose a matching row."""
    mgr, _snaps = tablelayer._setup_docs_blm(spark, SF_DIR)
    df, planned, total = mgr.scan(
        "docs_blm", where=[("doc_id", "in", tablelayer.BLM_LOOKUP_IDS)]
    )
    assert total >= tablelayer.BLM_SLICES
    # each id lives in exactly one slice-file (+ tiny fp slack)
    assert planned <= len(tablelayer.BLM_LOOKUP_IDS) + 1
    got = sorted(r.doc_id for r in df.collect())
    assert got == sorted(tablelayer.BLM_LOOKUP_IDS)
    # definite absence: never-inserted key -> zero files planned
    _df, p_miss, _t = mgr.scan("docs_blm", where=[("doc_id", "==", 10**12)])
    assert p_miss == 0
    # stats alone could NOT have pruned: each file spans ~the full range
    m = mgr._load_manifest("docs_blm")
    lo = min(e["stats"]["doc_id"][0] for e in m["files"])
    hi = max(e["stats"]["doc_id"][1] for e in m["files"])
    for e in m["files"]:
        s = e["stats"]["doc_id"]
        assert s[0] <= lo + tablelayer.BLM_SLICES
        assert s[1] >= hi - tablelayer.BLM_SLICES
        assert "doc_id" in e.get("bloom", {})


def test_constraint_rejection_is_atomic_and_orphan_free(spark):
    """A rejected batch must leave NO trace: head unmoved (asserted in
    the setup itself), no new snapshot, and no orphan parquet under
    data/ beyond what the committed manifests reference."""
    import os

    mgr, snaps = tablelayer._setup_docs_cons(spark, SF_DIR)
    m = mgr._load_manifest("docs_cons")
    # final state holds every raw row exactly once
    assert (
        mgr.read("docs_cons").count()
        == load_table(spark, SF_DIR, "documents").count()
    )
    # every file on disk is referenced by the current manifest or an
    # ancestor (no stranded files from the rejected append)
    referenced = set()
    for v in mgr._ancestors("docs_cons", m["version"]):
        mv = mgr._load_manifest("docs_cons", v)
        referenced |= {e["path"] for e in mv["files"]}
    droot = mgr._dir("docs_cons")
    on_disk = set()
    for root, _dirs, files in os.walk(os.path.join(droot, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, fn), droot))
    assert on_disk <= referenced
    # violation counts are per-check and precise
    from iceberg_poc_spark.tables.manager import ConstraintViolation

    docs = load_table(spark, SF_DIR, "documents").limit(5)
    poisoned = docs.withColumn("n_chars", F.lit(-1))
    try:
        mgr.append("docs_cons", poisoned)
        raise AssertionError("poisoned batch committed")
    except ConstraintViolation as e:
        assert "len_nonneg" in str(e) and "5 row(s)" in str(e)


def test_positional_delete_surgical_and_zero_rewrite(spark):
    """Positional deletes: identical-twin rows are separated (exactly one
    copy survives), no data file is rewritten by the delete commit, the
    changelog renders exactly the duplicate rows as deletes, time travel
    still shows the dup state, and rewrite_deletes folds it all in."""
    mgr, snaps = tablelayer._setup_ev_pd(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    n_raw = ev.count()
    n_extra = ev.filter(
        F.col("event_id") % tablelayer.PD_DUP_MOD == 0
    ).count()
    # dup state existed, fixed state is exactly the raw corpus
    assert snaps["n_dup"] == n_raw + n_extra
    fixed = mgr.read("ev_pd")
    assert fixed.count() == n_raw
    assert fixed.select("event_id").distinct().count() == n_raw
    # zero rewrite: the delete commit kept every data file path
    m_dup = mgr._load_manifest("ev_pd", snaps["snap_dup"])
    m_fix = mgr._load_manifest("ev_pd", snaps["snap_fixed"])
    assert m_dup["files"] == m_fix["files"]
    assert len(m_fix["global_pos_deletes"]) == 1
    assert sum(
        d.n_pos for d in mgr.file_deletes("ev_pd", m_fix).values()
    ) == n_extra
    # time travel: the dup snapshot still shows the duplicates
    assert mgr.read("ev_pd", snapshot_id=snaps["snap_dup"]).count() == (
        n_raw + n_extra
    )
    # changelog of the fix commit: exactly the n_extra dup rows, as deletes
    cl = mgr.changelog("ev_pd", snaps["snap_dup"], snaps["snap_fixed"])
    by_type = {
        r["_change_type"]: r["n"]
        for r in cl.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {"delete": n_extra}
    deleted_ids = {r["event_id"] for r in cl.select("event_id").collect()}
    assert all(i % tablelayer.PD_DUP_MOD == 0 for i in deleted_ids)
    # rewrite_deletes folds: same rows, no deletion vector left
    mgr.rewrite_deletes("ev_pd")
    m2 = mgr._load_manifest("ev_pd")
    assert "global_pos_deletes" not in m2
    assert mgr.read("ev_pd").count() == n_raw


def test_initial_default_is_metadata_only_and_presence_based(spark):
    """ADD COLUMN ... DEFAULT: the add rewrites nothing (file path
    identity across the commit), pre-add files read the default,
    post-add files keep genuine NULLs — and a rename of the defaulted
    column keeps the default resolving."""
    mgr, _snaps = tablelayer._setup_orders_def(spark, SF_DIR)
    # metadata-only: every pre-add data file survives the add + the
    # later append (the add itself added no files either)
    versions = sorted(
        mgr._ancestors("orders_def", mgr._current_version("orders_def"))
    )
    m_first_append = mgr._load_manifest("orders_def", versions[1])
    m_head = mgr._load_manifest("orders_def")
    pre_paths = {e["path"] for e in m_first_append["files"]}
    assert pre_paths <= {e["path"] for e in m_head["files"]}
    # presence-based: pre-add files lack the column in their recorded
    # writer schema; post-add files carry it
    pre = [e for e in m_head["files"] if e["path"] in pre_paths]
    post = [e for e in m_head["files"] if e["path"] not in pre_paths]
    assert post and all("o_channel" in e["cols"] for e in post)
    assert all("o_channel" not in e["cols"] for e in pre)
    # rename keeps the default bound (metadata travels with the field)
    mgr.rename_column("orders_def", "o_channel", "o_chan")
    got = {
        r["o_chan"]
        for r in mgr.read("orders_def").select("o_chan").distinct().collect()
    }
    assert got == {"LEGACY", "ONLINE", None}
    mgr.rename_column("orders_def", "o_chan", "o_channel")


def test_update_mor_zero_rewrite_and_changelog_pairs(spark):
    """MoR update: the commit keeps every pre-existing data file
    (positional delete + new files only), reads show updated values, and
    the changelog renders exactly one delete+insert pair per matched
    row."""
    mgr, snaps = tablelayer._setup_ev_um(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    n_raw = ev.count()
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    m_base = mgr._load_manifest("ev_um", snaps["snap_base"])
    m_upd = mgr._load_manifest("ev_um", snaps["snap_upd"])
    base_paths = {e["path"] for e in m_base["files"]}
    upd_paths = {e["path"] for e in m_upd["files"]}
    assert base_paths <= upd_paths  # nothing rewritten or removed
    assert len(upd_paths) > len(base_paths)  # updated copies landed
    deletes = mgr.file_deletes("ev_um", m_upd)
    assert any(deletes[p].n_pos for p in base_paths)
    assert not any(deletes[p].n_pos for p in upd_paths - base_paths)
    got = mgr.read("ev_um")
    assert got.count() == n_raw
    # every purchase row carries the bump exactly once
    joined = (
        got.filter(F.col("event_type") == "purchase")
        .select("event_id", F.col("value").alias("v_new"))
        .join(
            ev.filter(F.col("event_type") == "purchase").select(
                "event_id", "value"
            ),
            "event_id",
        )
    )
    assert joined.count() == n_purch
    assert (
        joined.filter(
            F.abs(F.col("v_new") - F.col("value") - tablelayer.UM_BUMP) > 1e-9
        ).count()
        == 0
    )
    cl = mgr.changelog("ev_um", snaps["snap_base"], snaps["snap_upd"])
    by_type = {
        r["_change_type"]: r["n"]
        for r in cl.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {"delete": n_purch, "insert": n_purch}


def test_bloom_index_recomputed_by_compaction(spark, tmp_path):
    """Every write path recomputes the Bloom index from table properties
    — a compaction's rewritten files carry fresh filters and point
    lookups keep pruning afterwards."""
    from iceberg_poc_spark.tables import ParquetTableManager
    from iceberg_poc_spark.tables.manager import BLOOM_COLS_PROP

    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    mgr.create_table("blm_cmp", docs.schema, [])
    mgr.set_properties("blm_cmp", {BLOOM_COLS_PROP: "doc_id"})
    for k in range(4):
        mgr.append("blm_cmp", docs.filter(F.col("doc_id") % 4 == k))
    mgr.compact("blm_cmp")  # full rewrite into target-size files
    m = mgr._load_manifest("blm_cmp")
    assert m["operation"] in ("replace", "rewrite-data-files")
    assert all("doc_id" in e.get("bloom", {}) for e in m["files"])
    df, planned, total = mgr.scan("blm_cmp", where=[("doc_id", "==", 10**12)])
    assert planned == 0 and total >= 1


def test_sorted_write_yields_disjoint_stats_tight_files(spark):
    """Declared clustering: files from one append cover DISJOINT
    n_chars ranges (no overlap between any two files' [min,max]) and a
    range scan prunes files without any compaction having run."""
    mgr, _snaps = tablelayer._setup_docs_sw(spark, SF_DIR)
    m = mgr._load_manifest("docs_sw")
    ranges = sorted(
        tuple(e["stats"]["n_chars"]) for e in m["files"]
    )
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {ranges}"
    _df, planned, total = mgr.scan(
        "docs_sw",
        where=[
            ("n_chars", ">=", tablelayer.SW_LO),
            ("n_chars", "<=", tablelayer.SW_HI),
        ],
    )
    assert planned < total
    # only one snapshot carries data: clustering came from the WRITE,
    # not a later rewrite
    ops = [r["operation"] for r in mgr.snapshots("docs_sw").collect()]
    assert "replace" not in ops and "rewrite-data-files" not in ops


def test_null_count_pruning_all_three_shapes(spark, tmp_path):
    """Manifest null counts drive all three prunes: IS NULL skips
    zero-null files, IS NOT NULL skips all-null files, and a comparison
    on an all-null column (no min/max stats at all) skips the file."""
    from iceberg_poc_spark.tables import ParquetTableManager

    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 4 == 0, F.col("id") * 1.0).alias("v"),
    )
    mgr.create_table("t", base.schema, [])
    mgr.append("t", base.coalesce(1))  # mixed: 25 non-null, 75 null
    mgr.append("t", spark.range(100, 200).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).coalesce(1))  # fully enriched: zero nulls
    mgr.append("t", spark.range(200, 300).select(
        F.col("id").alias("k"), F.lit(None).cast("double").alias("v")
    ).coalesce(1))  # all null: parquet writes no min/max for v
    m = mgr._load_manifest("t")
    assert sorted(e["nulls"]["v"] for e in m["files"]) == [0, 75, 100]

    df, planned, total = mgr.scan("t", where=[("v", "isnull", None)])
    assert total == 3 and planned == 2  # zero-null file skipped
    assert df.count() == 75 + 100

    df, planned, _ = mgr.scan("t", where=[("v", "notnull", None)])
    assert planned == 2  # all-null file skipped
    assert df.count() == 25 + 100

    # comparison on the all-null file: pruned by null count alone
    # (its parquet footer has NO min/max for v, so stats can't do it)
    all_null = [e for e in m["files"] if e["nulls"]["v"] == 100][0]
    assert "v" not in all_null.get("stats", {})
    df, planned, _ = mgr.scan("t", where=[("v", ">=", 0.0)])
    assert planned == 2
    assert df.count() == 25 + 100


def test_null_pruning_query_plans_only_partial_wave(spark):
    """q_scan_null_pruned's IS NULL scan plans ONLY files that actually
    contain nulls — the fully-enriched wave never gets opened."""
    mgr, _s = tablelayer._setup_docs_nn(spark, SF_DIR)
    m = mgr._load_manifest("docs_nn")
    with_nulls = [e for e in m["files"] if e["nulls"]["lang_conf"] > 0]
    assert 0 < len(with_nulls) < len(m["files"])
    _df, planned, total = mgr.scan(
        "docs_nn", where=[("lang_conf", "isnull", None)]
    )
    assert total == len(m["files"])
    assert planned == len(with_nulls)


def test_merge_sync_partition_granular_file_survival(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE: (a) the conditioned sync rewrites
    ONLY the scoped partition's files — every other partition's files
    survive by PATH IDENTITY; (b) row semantics are exact (update /
    delete-absent / insert); (c) the UPDATE variant applies set exprs to
    unmatched rows instead of dropping them; (d) an unconditioned
    clause affects every file (SQL semantics); (e) bad arguments raise."""
    import pytest

    from iceberg_poc_spark.tables import ParquetTableManager, identity

    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(40)],
        "k long, part string, v double",
    )
    mgr.create_table("t", df.schema, [identity("part")])
    mgr.append("t", df)
    pre = {e["path"] for e in mgr._load_manifest("t")["files"]}
    pre_b = {p for p in pre if "part=b" in p}
    # source mirrors partition 'a': k%3==0 dropped, others repriced +100,
    # one new key
    src = (
        df.filter((F.col("part") == "a") & (F.pmod("k", F.lit(3)) != 0))
        .withColumn("v", F.col("v") + 100.0)
        .unionByName(
            spark.createDataFrame([(999, "a", 0.0)], df.schema)
        )
    )
    mgr.merge(
        "t",
        src,
        on=["k"],
        not_matched_by_source="delete",
        not_matched_by_source_where=[("part", "==", "a")],
    )
    post = {e["path"] for e in mgr._load_manifest("t")["files"]}
    assert pre_b <= post, "partition b files must survive by reference"
    assert not (pre - pre_b) & post, "partition a files must be rewritten"
    rows = {(r.k, r.part, r.v) for r in mgr.read("t").collect()}
    expect = (
        {(i, "b", float(i)) for i in range(0, 40, 2)}
        | {
            (i, "a", i + 100.0)
            for i in range(40)
            if i % 2 and i % 3 != 0
        }
        | {(999, "a", 0.0)}
    )
    assert rows == expect
    # UPDATE variant: unmatched rows get set-exprs, nothing dropped
    mgr2 = ParquetTableManager(spark, str(tmp_path / "wh2"))
    mgr2.create_table("t", df.schema, [identity("part")])
    mgr2.append("t", df)
    n_before = mgr2.read("t").count()
    mgr2.merge(
        "t",
        df.filter((F.col("part") == "a") & (F.col("k") < 10)),
        on=["k"],
        not_matched_by_source="update",
        not_matched_by_source_set={"v": F.lit(-1.0)},
        not_matched_by_source_where=[("part", "==", "a")],
    )
    got = {(r.k, r.v) for r in mgr2.read("t").filter("part = 'a'").collect()}
    assert got == {
        (i, float(i) if i < 10 else -1.0) for i in range(1, 40, 2)
    }
    assert mgr2.read("t").count() == n_before
    # unconditioned delete clause: every file affected, table == source
    mgr3 = ParquetTableManager(spark, str(tmp_path / "wh3"))
    mgr3.create_table("t", df.schema, [identity("part")])
    mgr3.append("t", df)
    pre3 = {e["path"] for e in mgr3._load_manifest("t")["files"]}
    keep = df.filter(F.col("k") < 5)
    mgr3.merge("t", keep, on=["k"], not_matched_by_source="delete")
    post3 = {e["path"] for e in mgr3._load_manifest("t")["files"]}
    assert not pre3 & post3, "unconditioned sync rewrites everything"
    assert {r.k for r in mgr3.read("t").collect()} == set(range(5))
    with pytest.raises(ValueError, match="delete.*update|update.*delete"):
        mgr3.merge("t", keep, on=["k"], not_matched_by_source="upsert")
    with pytest.raises(ValueError, match="not_matched_by_source_set"):
        mgr3.merge("t", keep, on=["k"], not_matched_by_source="update")


def test_merge_sync_query_survival_at_fixture(spark):
    """The registered q_merge_sync fixture really left the non-mirrored
    partitions' files untouched."""
    mgr, snaps = tablelayer._setup_orders_sync(spark, SF_DIR)
    post = {e["path"] for e in mgr._load_manifest("orders_sync")["files"]}
    pre = snaps["pre_paths"]
    pre_other = {p for p in pre if "1-URGENT" not in p}
    assert pre_other and pre_other <= post
    assert not (pre - pre_other) & post


def test_versioned_views_history_asof_install_drop(spark, tmp_path):
    """Versioned view catalog: immutable version history, AS OF
    resolution over CREATED_AT, install_view SQL binding by name, drop,
    and the error surface (duplicate create, missing view/version)."""
    import time

    import pytest

    from iceberg_poc_spark.tables import ParquetTableManager

    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    spark.range(5).createOrReplaceTempView("vv_base")
    assert mgr.create_view("v", "SELECT COUNT(*) AS n FROM vv_base") == 1
    t_between = time.time()
    time.sleep(0.01)
    assert (
        mgr.replace_view("v", "SELECT COUNT(*) + 100 AS n FROM vv_base")
        == 2
    )
    # both versions evaluate; head is v2
    assert mgr.read_view("v", version=1).collect()[0].n == 5
    assert mgr.read_view("v").collect()[0].n == 105
    # AS OF a moment between the definitions resolves v1
    assert mgr.read_view("v", as_of=t_between).collect()[0].n == 5
    hist = mgr.view_versions("v").collect()
    assert [r.version for r in hist] == [1, 2]
    assert "100" in hist[1].sql and "100" not in hist[0].sql
    assert hist[0].created_at <= hist[1].created_at
    # SQL-surface binding: plain spark.sql over the installed name
    mgr.install_view("v", version=1)
    assert spark.sql("SELECT n FROM v").collect()[0].n == 5
    mgr.install_view("v")
    assert spark.sql("SELECT n FROM v").collect()[0].n == 105
    with pytest.raises(ValueError, match="already exists"):
        mgr.create_view("v", "SELECT 1")
    with pytest.raises(ValueError, match="no version 9"):
        mgr.read_view("v", version=9)
    mgr.drop_view("v")
    with pytest.raises(ValueError, match="does not exist"):
        mgr.replace_view("v", "SELECT 1")
    with pytest.raises(ValueError, match="does not exist"):
        mgr.view_sql("v")


def test_continuous_aggregate_refresh_is_partition_pruned(spark):
    """The continuous aggregate's late-data refresh must recompute from
    a days-PRUNED scan of the raw table (the O(affected partitions)
    property the operator exists for), and the maintained rollup must
    equal a from-scratch recompute of its defining query."""
    from iceberg_poc_spark.operators.tablelayer import (
        _ca_hourly,
        _setup_events_ca,
    )
    from iceberg_poc_spark.sources import load_table

    sf_dir = "/root/testdata/sf0.001"
    mgr, info = _setup_events_ca(spark, sf_dir)
    assert 0 < info["planned"] < info["total"], info
    got = sorted(
        tuple(r) for r in mgr.read("events_ca_hourly").collect()
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want = sorted(tuple(r) for r in _ca_hourly(ev).collect())
    assert got == want
