"""Similarity search over the ``embeddings`` table (✦ north-star).

- ``q_sim_topk``: brute-force cosine top-k — the exact baseline. One scan,
  per-partition top-k heaps (TakeOrderedAndProject), no shuffle of the
  full table.
- ``q_sim_ann_ivf``: IVF-style approximate search: vectors are coarse-
  quantized into sign-LSH cells; the query probes only its own cell plus
  all cells at Hamming distance 1 (nprobe = 1 + n_bits). At 100 TB the
  cell id becomes the table's partition key so a probe prunes partitions
  at the source — same plan, real pruning.

JVM-side vector math from functions/vectors.py (zip_with/aggregate fold) —
no Python in the scan path; the pandas-UDF variant of the same cosine is
exercised separately by q_udf_pandas_scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_poc_spark.functions.sqlround import dround
from iceberg_poc_spark.functions.vectors import (
    cosine_similarity,
    sign_bucket,
    sign_bucket_sql,
)
from iceberg_poc_spark.registry import register
from iceberg_poc_spark.scratch import once, scratch_dir
from iceberg_poc_spark.sources import load_table

TOP_K = 10
QUERY_VEC_ID = 0

IVF_BITS = 4
IVF_TOP_K = 5


def _index(spark: SparkSession, prefix: str, sf_dir: str, build):
    """``(mgr, state)`` over the scratch warehouse ``prefix`` for ``sf_dir``:
    ``state = build(mgr)`` writes the index, once per process. The index
    owns its warehouse, so an attempt starts by emptying it: a retry after
    a failed build does not meet the tables the failed one committed."""
    import shutil

    from iceberg_poc_spark.tables import ParquetTableManager

    mgr = ParquetTableManager(spark, scratch_dir(prefix, sf_dir))

    def attempt():
        shutil.rmtree(mgr.warehouse, ignore_errors=True)
        return build(mgr)

    return mgr, once(mgr.warehouse, attempt)


@register(
    "q_sim_topk",
    oracle=f"""
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id
    LIMIT {TOP_K}
    """,
    doc="Brute-force cosine top-k against the vec_id=0 query vector "
    "(exact ANN baseline).",
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qemb")
    )
    sim = cosine_similarity(F.col("embedding"), F.col("qemb"))
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qvec))
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


def _hamming_sql(a: str, b: str, n: int) -> str:
    return " + ".join(
        f"CAST(substr({a}, {i + 1}, 1) <> substr({b}, {i + 1}, 1) AS INT)"
        for i in range(n)
    )


@register(
    "q_sim_ann_ivf",
    oracle=f"""
    WITH cells AS (
        SELECT vec_id, embedding,
               {sign_bucket_sql("embedding", IVF_BITS)} AS cell
        FROM embeddings
    ),
    q AS (SELECT embedding, cell FROM cells WHERE vec_id = {QUERY_VEC_ID})
    SELECT c.vec_id,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM cells c CROSS JOIN q
    WHERE c.vec_id <> {QUERY_VEC_ID}
      AND ({_hamming_sql("c.cell", "q.cell", IVF_BITS)}) <= 1
    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id
    LIMIT {IVF_TOP_K}
    """,
    doc="IVF/LSH approximate nearest neighbors: probe the query's sign-LSH "
    "cell plus Hamming-1 neighbor cells, exact cosine within probed cells. "
    "Measured quality (tests/test_ann_recall.py, >=25 strided probes vs "
    "brute-force ground truth): mean recall@5 ~0.46-0.48 scanning ~31% "
    "of the corpus on the synthetic isotropic embeddings — the LSH floor "
    "case (no cluster structure); widening the probe to Hamming<=2 "
    "raises recall to ~0.84-0.89 at ~69% scanned. The probe radius is "
    "the recall/cost knob.",
)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), IVF_BITS).alias("cell"),
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qemb"), F.col("cell").alias("qcell")
    )
    hamming = sum(
        F.when(
            F.substring("cell", i + 1, 1) != F.substring("qcell", i + 1, 1), 1
        ).otherwise(0)
        for i in range(IVF_BITS)
    )
    sim = cosine_similarity(F.col("embedding"), F.col("qemb"))
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .filter(hamming <= 1)
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(IVF_TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


def _ann_pruned_scan(spark: SparkSession, sf_dir: str):
    """Write embeddings through the snapshot table layer partitioned by
    sign-LSH cell (once per process per sf_dir), then PLAN a probe that
    reads only the query's cell + its Hamming-1 neighbors — manifest-level
    partition pruning before any file is opened, the reference's
    ``newScan().filter().planTasks()`` shape
    (aig/TimeBasedPartitioningExamples.java:180-195) applied to vector
    search. Returns (df, files_planned, files_total, probe_cells)."""
    from iceberg_poc_spark.tables import identity

    def build(mgr) -> None:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            sign_bucket(F.col("embedding"), IVF_BITS).alias("cell"),
        )
        mgr.create_table("emb_cells", emb.schema, [identity("cell")])
        mgr.append("emb_cells", emb)

    mgr, _ = _index(spark, "annwh", sf_dir, build)
    # the query vector is the probe's input (single bounded row)
    qrow = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
    )
    qemb = [float(v) for v in qrow.embedding]
    qcell = "".join("1" if v >= 0 else "0" for v in qemb[:IVF_BITS])
    probe_cells = [qcell] + [
        qcell[:i] + ("0" if qcell[i] == "1" else "1") + qcell[i + 1 :]
        for i in range(IVF_BITS)
    ]
    df, planned, total = mgr.scan("emb_cells", where=[("cell", "in", probe_cells)])
    return df, planned, total, qemb


@register(
    "q_sim_ann_pruned",
    oracle=f"""
    WITH cells AS (
        SELECT vec_id, embedding,
               {sign_bucket_sql("embedding", IVF_BITS)} AS cell
        FROM embeddings
    ),
    q AS (SELECT embedding, cell FROM cells WHERE vec_id = {QUERY_VEC_ID})
    SELECT c.vec_id,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM cells c CROSS JOIN q
    WHERE c.vec_id <> {QUERY_VEC_ID}
      AND ({_hamming_sql("c.cell", "q.cell", IVF_BITS)}) <= 1
    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id
    LIMIT {IVF_TOP_K}
    """,
    doc="Storage-pruned ANN: q_sim_ann_ivf's probe, but the Hamming<=1 "
    "cell restriction prunes FILES at the manifest (embeddings live in a "
    "snapshot table hidden-partitioned by sign-LSH cell; the probe plans "
    "only the 1+bits matching cells) instead of scanning every vector "
    "and filtering. Same result as q_sim_ann_ivf (same oracle); at "
    "100 TB the unprobed ~11/16 of the corpus is never read. Table write "
    "is once-per-process (ingest-time cost, like any IVF index build). "
    "Approximation quality is quantified, not just oracle-consistent: "
    "mean recall@5 ~0.46-0.48 at ~31% scan fraction on the isotropic "
    "synthetic corpus, ~0.84-0.89 at Hamming<=2 (tests/test_ann_recall."
    "py asserts the floors and the radius knob). For a higher recall "
    "floor at a stated scan budget, q_sim_ann_multiprobe is the "
    "production path: an anchor-IVF quantizer with budgeted multi-probe "
    "(best-B cells by query-anchor cosine) reaching recall@5 >= 0.8 at "
    "<= 50% scan on the same corpus — ANN_MP_PROBE/ANN_MP_CELLS is the "
    "recall/scan knob.",
)
def q_sim_ann_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _planned, _total, qemb = _ann_pruned_scan(spark, sf_dir)
    qlit = F.array(*[F.lit(v) for v in qemb])
    sim = cosine_similarity(F.col("embedding"), qlit)
    return (
        df.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(IVF_TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


ANN_MP_CELLS = 48  # anchor-Voronoi cells (IVF coarse quantizer)
ANN_MP_PROBE = 24  # probed cells per query (the recall/scan knob)


def _seq_cos(a, b) -> float:
    """Driver-side sequential left-fold cosine — identical double
    arithmetic to the engine fold AND DuckDB's list_cosine_similarity C
    loop (the cross-engine parity every ANN oracle relies on). One
    definition for all ANN scan paths: a tie-break or arithmetic tweak
    here is a contract change and must land everywhere at once."""
    d = na = nb = 0.0
    for x, y in zip(a, b):
        d += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return d / ((na**0.5) * (nb**0.5))


def _strided_anchors(
    emb: DataFrame, astep: int
) -> list[tuple[int, list[float]]]:
    """The frozen anchor set: corpus vectors at vec_id = aid * astep,
    aid in [0, ANN_MP_CELLS) — deterministic, oracle-reproducible."""
    rows = (
        emb.filter(
            (F.col("vec_id") % astep == 0)
            & (F.col("vec_id") < astep * ANN_MP_CELLS)
        )
        .select(
            (F.col("vec_id") / astep).cast("int").alias("aid"), "embedding"
        )
        .collect()
    )
    return sorted(
        (r["aid"], [float(v) for v in r["embedding"]]) for r in rows
    )


def _probe_order(
    anchors: list[tuple[int, list[float]]], qemb: list[float]
) -> list[tuple[int, float]]:
    """Cells ranked by query-anchor cosine (ties to the smaller aid) —
    the probe admission order every budgeted scan below shares."""
    return sorted(
        ((aid, _seq_cos(aemb, qemb)) for aid, aemb in anchors),
        key=lambda t: (-t[1], t[0]),
    )


def _assign_anchor_cells(
    spark: SparkSession, emb: DataFrame, anchors: list[tuple[int, list[float]]]
) -> DataFrame:
    """Per-row IVF cell id: argmax_a cosine(embedding, anchor_a), ties to
    the smallest anchor id. Broadcast the anchor table, score each
    (vector, anchor) pair with the JVM fold cosine (the exact double
    arithmetic DuckDB's list_cosine_similarity reproduces — the
    cross-engine parity the ANN oracles rely on), then take the per-key
    max_by with a (sim, -aid) struct order. Partial aggregation makes
    the shuffle O(corpus), not O(corpus x anchors) — one corpus pass at
    index-build time, which the partition-by-cell write repeats anyway.
    (A pure-expression fold over 48 literal anchor arrays was tried
    first: zero shuffle, but the 3k-literal Catalyst tree cost ~6 s of
    optimizer/codegen per build — compile time, not data time.)"""
    adf = spark.createDataFrame(
        [(aid, aemb) for aid, aemb in anchors],
        "aid int, aemb array<double>",
    )
    sim = cosine_similarity(F.col("embedding"), F.col("aemb"))
    # max of (s, -aid): larger sim wins; equal sim -> smaller aid
    order = F.struct(
        sim.alias("s"), (F.lit(0) - F.col("aid")).alias("t")
    )
    return (
        emb.join(F.broadcast(adf))
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.max_by("aid", order).alias("cell"),
        )
        .select("vec_id", "embedding", "cell")
    )


def _ann_multiprobe_scan(spark: SparkSession, sf_dir: str):
    """Anchor-IVF index build (once per process per sf_dir; the anchors
    are its state, so a warm call runs no job before the scan) +
    budgeted multi-probe plan. Returns (df, planned, total, qemb,
    ranked, mgr)."""
    from iceberg_poc_spark.tables import identity

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build(mgr) -> list:
        anchors = _strided_anchors(emb, emb.count() // ANN_MP_CELLS)
        cells = _assign_anchor_cells(spark, emb, anchors)
        mgr.create_table("emb_ivf", cells.schema, [identity("cell")])
        mgr.append("emb_ivf", cells)
        return anchors

    mgr, anchors = _index(spark, "annmp", sf_dir, build)
    qemb = next(a for aid, a in anchors if aid == 0)  # vec_id 0 IS anchor 0
    ranked = _probe_order(anchors, qemb)
    probe = [aid for aid, _ in ranked[:ANN_MP_PROBE]]
    df, planned, total = mgr.scan("emb_ivf", where=[("cell", "in", probe)])
    return df, planned, total, qemb, ranked, mgr


ANN_MASS_BUDGET = 0.5  # probed fraction of corpus RECORDS (not cells)


def _ann_mass_budget_scan(spark: SparkSession, sf_dir: str):
    """MASS-budgeted multi-probe over the same anchor-IVF index: cells
    are admitted in descending query-anchor-cosine order WHILE the
    cumulative manifest record count stays under ANN_MASS_BUDGET of the
    corpus (always at least the best cell). A fixed CELL-count budget
    (q_sim_ann_multiprobe's ANN_MP_PROBE) stops bounding the scan the
    moment cell occupancy skews — on a 10x near-duplicate-clustered
    corpus the best 24/48 cells hold ~75% of all rows
    (tests/test_ann_recall.py) — while the record-count budget holds the
    scan fraction BY CONSTRUCTION under any skew, and the heavy cells it
    admits first are exactly where a clustered query's neighbors live
    (measured: recall@5 1.0 at ~54% scan on the skewed 10x corpus). The
    cell sizes come from the manifest — the budgeting decision is
    metadata-only, no data touched until the pruned scan."""
    _df, _planned, _total, qemb, ranked, mgr = _ann_multiprobe_scan(
        spark, sf_dir
    )
    m = mgr._load_manifest("emb_ivf")
    occ: dict[int, int] = {}
    for e in m["files"]:
        c = int(e["partition"]["cell"])
        occ[c] = occ.get(c, 0) + e["records"]
    n = sum(occ.values())
    probe, cum = [], 0
    for aid, _sim in ranked:
        if cum >= ANN_MASS_BUDGET * n:
            break
        probe.append(aid)
        cum += occ.get(aid, 0)
    df, planned, total = mgr.scan("emb_ivf", where=[("cell", "in", probe)])
    return df, planned, total, qemb, probe


@register(
    "q_sim_ann_multiprobe",
    oracle=f"""
    WITH params AS (
        SELECT CAST(COUNT(*) // {ANN_MP_CELLS} AS BIGINT) AS stride
        FROM embeddings
    ),
    anchors AS (
        SELECT CAST(vec_id // stride AS INT) AS aid, embedding AS aemb
        FROM embeddings, params
        WHERE vec_id % stride = 0 AND vec_id < stride * {ANN_MP_CELLS}
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, a.aid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ),
    assign AS (
        SELECT vec_id, embedding, aid AS cell FROM scored WHERE rn = 1
    ),
    q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
        SELECT aid FROM anchors, q
        ORDER BY list_cosine_similarity(CAST(aemb AS DOUBLE[]),
                                        CAST(qemb AS DOUBLE[])) DESC, aid
        LIMIT {ANN_MP_PROBE}
    )
    SELECT c.vec_id,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM assign c
    JOIN probe p ON c.cell = p.aid
    CROSS JOIN q
    WHERE c.vec_id <> {QUERY_VEC_ID}
    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, c.vec_id
    LIMIT {IVF_TOP_K}
    """,
    doc=f"Budgeted multi-probe ANN over an anchor-IVF coarse quantizer — "
    f"the recall upgrade over q_sim_ann_pruned's fixed-radius sign-LSH "
    f"(recall@5 ~0.46 at 31% scan): {ANN_MP_CELLS} Voronoi cells "
    f"anchored at deterministic strided corpus vectors, each vector "
    f"assigned to its max-cosine anchor via a broadcast anchor join + "
    f"map-side-partial max_by (JVM fold cosine, no Python; shuffle is "
    f"O(corpus), once, at index build), the table hidden-partitioned by cell "
    f"id. A query probes the best {ANN_MP_PROBE} cells ordered by "
    f"query-anchor cosine — files of unprobed cells are pruned at the "
    f"manifest before any open. Measured on the isotropic synthetic "
    f"corpus: recall@5 ~0.86-0.98 at ~50% scan across sf0.001-0.1 "
    f"(floors asserted in tests/test_ann_recall.py; probe budget is "
    f"the knob). The oracle reproduces the anchor selection, argmax "
    f"assignment, probe ranking, and final top-k relationally — the "
    f"whole index family is closed-form, so this ANN path is value-"
    f"checked, not just characterized. At 100 TB: index build is one "
    f"scan + one fold; queries touch {ANN_MP_PROBE}/{ANN_MP_CELLS} "
    f"of the corpus.",
)
def q_sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _planned, _total, qemb, _ranked, _mgr = _ann_multiprobe_scan(
        spark, sf_dir
    )
    qlit = F.array(*[F.lit(v) for v in qemb])
    sim = cosine_similarity(F.col("embedding"), qlit)
    return (
        df.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(IVF_TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


@register(
    "q_sim_ann_mass_budget",
    oracle=f"""
    WITH params AS (
        SELECT CAST(COUNT(*) // {ANN_MP_CELLS} AS BIGINT) AS stride,
               COUNT(*) * {ANN_MASS_BUDGET} AS budget
        FROM embeddings
    ),
    anchors AS (
        SELECT CAST(vec_id // stride AS INT) AS aid, embedding AS aemb
        FROM embeddings, params
        WHERE vec_id % stride = 0 AND vec_id < stride * {ANN_MP_CELLS}
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, a.aid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ),
    assign AS (
        SELECT vec_id, embedding, aid AS cell FROM scored WHERE rn = 1
    ),
    counts AS (SELECT cell, COUNT(*) AS cnt FROM assign GROUP BY cell),
    q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    ranked AS (
        SELECT a.aid, c.cnt,
               SUM(c.cnt) OVER (
                   ORDER BY list_cosine_similarity(CAST(a.aemb AS DOUBLE[]),
                                                   CAST(q.qemb AS DOUBLE[]))
                            DESC, a.aid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS cum_before
        FROM anchors a JOIN counts c ON c.cell = a.aid
        CROSS JOIN q
    ),
    probe AS (
        SELECT aid FROM ranked, params WHERE COALESCE(cum_before, 0) < budget
    )
    SELECT c.vec_id,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM assign c
    JOIN probe p ON c.cell = p.aid
    CROSS JOIN q
    WHERE c.vec_id <> {QUERY_VEC_ID}
    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, c.vec_id
    LIMIT {IVF_TOP_K}
    """,
    doc=f"MASS-budgeted multi-probe ANN (the skew-proof probe policy "
    f"q_sim_ann_multiprobe's fixed cell count lacks): cells are admitted "
    f"in descending query-anchor-cosine order while the cumulative "
    f"manifest RECORD count stays under {ANN_MASS_BUDGET:.0%} of the "
    f"corpus — the budgeting decision is metadata-only (per-cell sizes "
    f"read from the manifest, nothing opened until the pruned scan). "
    f"Under cell-occupancy skew — the 10x near-duplicate-clustered "
    f"corpus in tests/test_ann_recall.py, busiest cell >20x the uniform "
    f"share — a fixed 24/48-cell probe balloons to ~75% of rows scanned, "
    f"while the record budget holds ~50% BY CONSTRUCTION with recall@5 "
    f"~1.0 (the heavy cells admitted first are where a clustered "
    f"query's neighbors live). The oracle reproduces the anchor "
    f"selection, argmax assignment, per-cell counts, cumulative-budget "
    f"window, and final top-k relationally. At 100 TB this is the "
    f"difference between a latency SLO that survives data drift and one "
    f"that silently decays as the corpus clusters.",
)
def q_sim_ann_mass_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _planned, _total, qemb, _probe = _ann_mass_budget_scan(spark, sf_dir)
    qlit = F.array(*[F.lit(v) for v in qemb])
    sim = cosine_similarity(F.col("embedding"), qlit)
    return (
        df.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(IVF_TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


# --- incremental ANN index maintenance (append-without-rebuild) --------
#
# Base corpus = vec_id % 5 != 4 (80%); three daily-ingest batches =
# vec_id % 15 == 4 / 9 / 14 (the remaining 20% in thirds). Anchors are
# FROZEN at index creation and chosen at vec_ids divisible by 5*stride2
# — always multiples of 5, hence always IN the base — so an incremental
# append never needs the anchors recomputed: new vectors are argmax-
# assigned to the existing cells and appended into the cell-partitioned
# index table (the append-only commit model of the reference,
# BulkParquetToIcebergAtomicMultipart.java:97-101, applied to an ANN
# index). Base index files are never rewritten (identity asserted in
# tests/test_ann_recall.py), and the probe plan prunes unprobed cells'
# files — base AND appended — at the manifest.
ANN_INC_BATCHES = 3


def _ann_incremental_scan(spark: SparkSession, sf_dir: str):
    """Build the frozen-anchor IVF index on the BASE corpus, append
    ANN_INC_BATCHES incremental batches (assignment only — no anchor
    recompute, no rebuild), then plan a budgeted multi-probe over the
    grown index. Returns (df, planned, total, qemb, mgr,
    base_file_paths)."""
    from iceberg_poc_spark.tables import identity

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build(mgr) -> tuple:
        n = emb.count()
        anchors = _strided_anchors(emb, 5 * ((n // 5) // ANN_MP_CELLS))
        base = emb.filter(F.col("vec_id") % 5 != 4)
        cells = _assign_anchor_cells(spark, base, anchors)
        mgr.create_table("emb_ivf_inc", cells.schema, [identity("cell")])
        mgr.append("emb_ivf_inc", cells)
        base_paths = frozenset(
            e["path"] for e in mgr._load_manifest("emb_ivf_inc")["files"]
        )
        for b in range(ANN_INC_BATCHES):
            batch = emb.filter(F.col("vec_id") % 15 == 4 + 5 * b)
            # assignment to FROZEN anchors + atomic append — the whole
            # daily maintenance job; the base index is never rescanned
            mgr.append(
                "emb_ivf_inc", _assign_anchor_cells(spark, batch, anchors)
            )
        return anchors, base_paths

    mgr, (anchors, base_paths) = _index(spark, "anninc", sf_dir, build)
    qemb = next(a for aid, a in anchors if aid == 0)  # vec_id 0 IS anchor 0
    probe = [aid for aid, _ in _probe_order(anchors, qemb)[:ANN_MP_PROBE]]
    df, planned, total = mgr.scan(
        "emb_ivf_inc", where=[("cell", "in", probe)]
    )
    return df, planned, total, qemb, mgr, base_paths


@register(
    "q_sim_ann_incremental",
    oracle=f"""
    WITH params AS (
        SELECT CAST(5 * ((COUNT(*) // 5) // {ANN_MP_CELLS}) AS BIGINT)
               AS astep
        FROM embeddings
    ),
    anchors AS (
        SELECT CAST(vec_id // astep AS INT) AS aid, embedding AS aemb
        FROM embeddings, params
        WHERE vec_id % astep = 0 AND vec_id < astep * {ANN_MP_CELLS}
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, a.aid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ),
    assign AS (
        SELECT vec_id, embedding, aid AS cell FROM scored WHERE rn = 1
    ),
    q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
        SELECT aid FROM anchors, q
        ORDER BY list_cosine_similarity(CAST(aemb AS DOUBLE[]),
                                        CAST(qemb AS DOUBLE[])) DESC, aid
        LIMIT {ANN_MP_PROBE}
    )
    SELECT c.vec_id,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM assign c
    JOIN probe p ON c.cell = p.aid
    CROSS JOIN q
    WHERE c.vec_id <> {QUERY_VEC_ID}
    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, c.vec_id
    LIMIT {IVF_TOP_K}
    """,
    doc=f"Incremental ANN index maintenance — append WITHOUT rebuild, "
    f"the operator a 100 TB daily-ingest vector pipeline actually runs. "
    f"The anchor-IVF index is built once on the base corpus (80%: "
    f"vec_id %% 5 != 4) with {ANN_MP_CELLS} FROZEN anchors (picked at "
    f"multiples of 5*stride, so always inside the base); each of "
    f"{ANN_INC_BATCHES} incremental batches is argmax-assigned to the "
    f"existing cells and atomically APPENDED into the cell-partitioned "
    f"index table — no anchor recompute, no base rescan, no file "
    f"rewrite (base file identity + append-only snapshot ancestry "
    f"asserted in tests/test_ann_recall.py). The query multi-probes the "
    f"best {ANN_MP_PROBE} cells over the GROWN index, pruning unprobed "
    f"cells' files — base and appended alike — at the manifest. Frozen "
    f"anchors mean zero assignment drift by construction (the same "
    f"vector always lands in the same cell); the quantizer itself can "
    f"drift from optimal as the corpus distribution shifts — the recall "
    f"floor after every batch (recall@5 >= 0.8 at <= 55% scan, "
    f"tests/test_ann_recall.py) is the measured bound, and the "
    f"mass-budget probe (q_sim_ann_mass_budget) is the mitigation once "
    f"occupancy skews. The oracle reproduces anchors, assignment, "
    f"probe, and top-k over the full corpus relationally — identical to "
    f"the grown index because frozen-anchor assignment is the same "
    f"formula at build and at append time.",
)
def q_sim_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _planned, _total, qemb, _mgr, _base = _ann_incremental_scan(
        spark, sf_dir
    )
    qlit = F.array(*[F.lit(v) for v in qemb])
    sim = cosine_similarity(F.col("embedding"), qlit)
    return (
        df.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(IVF_TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


@register(
    "q_sim_ann_occupancy",
    oracle=f"""
    WITH params AS (
        SELECT CAST(5 * ((COUNT(*) // 5) // {ANN_MP_CELLS}) AS BIGINT)
               AS astep,
               COUNT(*) AS n
        FROM embeddings
    ),
    anchors AS (
        SELECT CAST(vec_id // astep AS INT) AS aid, embedding AS aemb
        FROM embeddings, params
        WHERE vec_id % astep = 0 AND vec_id < astep * {ANN_MP_CELLS}
    ),
    scored AS (
        SELECT e.vec_id, a.aid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ),
    occ AS (
        SELECT aid AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM scored WHERE rn = 1 GROUP BY aid
    )
    SELECT cell, n_vecs,
           CAST(n_vecs * {ANN_MP_CELLS} > 2 * n AS BOOLEAN) AS hot
    FROM occ, params
    """,
    doc=f"Metadata-only ANN index health: per-cell occupancy of the "
    f"anchor-IVF index read from the MANIFEST alone (per-file record "
    f"counts summed per cell partition — zero data files opened), plus "
    f"a 'hot' flag for cells holding over 2x the uniform share — the "
    f"re-anchor / mass-budget trigger signal a production index "
    f"monitors as the corpus drifts (q_sim_ann_mass_budget is the "
    f"query-time mitigation; re-anchoring is the rebuild-time one). "
    f"The oracle recomputes occupancy RELATIONALLY from the corpus "
    f"(anchor selection + argmax assignment + group counts), so the "
    f"hash gate proves the index manifest's metadata is row-exact "
    f"against the data it claims to index — across the base build AND "
    f"all of q_sim_ann_incremental's frozen-anchor appends. At 100 TB "
    f"the monitoring query costs one manifest read; the relational "
    f"recount it equals would cost a corpus scan.",
)
def q_sim_ann_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    _df, _p, _t, _q, mgr, _b = _ann_incremental_scan(spark, sf_dir)
    m = mgr._load_manifest("emb_ivf_inc")
    occ: dict[int, int] = {}
    for e in m["files"]:
        c = int(e["partition"]["cell"])
        occ[c] = occ.get(c, 0) + e["records"]
    n = sum(occ.values())
    rows = [
        (c, cnt, bool(cnt * ANN_MP_CELLS > 2 * n))
        for c, cnt in sorted(occ.items())
    ]
    return spark.createDataFrame(
        rows, "cell INT, n_vecs BIGINT, hot BOOLEAN"
    )


def _ann_delete_scan(spark: SparkSession, sf_dir: str):
    """Build the frozen-anchor IVF index over the full corpus, then
    REMOVE the opted-out vectors (vec_id % 7 == 3) with a merge-on-read
    positional delete + compact_deletes pass — no index file rewritten —
    and plan the budgeted multi-probe over the redacted index. Returns
    (df, planned, total, qemb, mgr, pre_paths)."""
    from iceberg_poc_spark.tables import identity

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build(mgr) -> tuple:
        n = emb.count()
        anchors = _strided_anchors(emb, 5 * ((n // 5) // ANN_MP_CELLS))
        cells = _assign_anchor_cells(spark, emb, anchors)
        mgr.create_table("emb_ivf_del", cells.schema, [identity("cell")])
        mgr.append("emb_ivf_del", cells)
        pre_paths = frozenset(
            e["path"] for e in mgr._load_manifest("emb_ivf_del")["files"]
        )
        # the redaction epoch: positional MoR delete of the opted-out
        # rows (coordinates, so even a bit-identical duplicate of a
        # surviving vector could be removed), kept at ONE table-level
        # deletion vector — the index data files never move
        coords = (
            mgr.read_with_positions("emb_ivf_del")
            .filter(F.col("vec_id") % 7 == 3)
            .select("_file_name", "_pos")
        )
        mgr.delete_positions("emb_ivf_del", coords)
        mgr.compact_deletes("emb_ivf_del")
        return anchors, pre_paths

    mgr, (anchors, pre_paths) = _index(spark, "anndel", sf_dir, build)
    qemb = next(a for aid, a in anchors if aid == 0)
    probe = [aid for aid, _ in _probe_order(anchors, qemb)[:ANN_MP_PROBE]]
    df, planned, total = mgr.scan(
        "emb_ivf_del", where=[("cell", "in", probe)]
    )
    return df, planned, total, qemb, mgr, pre_paths


@register(
    "q_sim_ann_delete",
    oracle=f"""
    WITH params AS (
        SELECT CAST(5 * ((COUNT(*) // 5) // {ANN_MP_CELLS}) AS BIGINT)
               AS astep
        FROM embeddings
    ),
    anchors AS (
        SELECT CAST(vec_id // astep AS INT) AS aid, embedding AS aemb
        FROM embeddings, params
        WHERE vec_id % astep = 0 AND vec_id < astep * {ANN_MP_CELLS}
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, a.aid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ),
    assign AS (
        SELECT vec_id, embedding, aid AS cell FROM scored
        WHERE rn = 1 AND vec_id % 7 <> 3
    ),
    q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
        SELECT aid FROM anchors, q
        ORDER BY list_cosine_similarity(CAST(aemb AS DOUBLE[]),
                                        CAST(qemb AS DOUBLE[])) DESC, aid
        LIMIT {ANN_MP_PROBE}
    )
    SELECT c.vec_id,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM assign c
    JOIN probe p ON c.cell = p.aid
    CROSS JOIN q
    WHERE c.vec_id <> {QUERY_VEC_ID}
    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, c.vec_id
    LIMIT {IVF_TOP_K}
    """,
    doc=f"ANN index DELETE without rebuild — the redaction/opt-out path "
    f"that completes the index lifecycle next to q_sim_ann_incremental's "
    f"append path: opted-out vectors (vec_id %% 7 == 3) are removed from "
    f"the anchor-IVF index with a merge-on-read POSITIONAL delete "
    f"(coordinates, the one delete class that could also remove one of "
    f"two bit-identical vectors) kept by compact_deletes at ONE "
    f"table-level deletion vector — zero index data files rewritten (file "
    f"identity asserted in tests/test_ann_recall.py), and the probe "
    f"read pays a single broadcast coordinate anti-join on top of the "
    f"manifest cell pruning. A deleted vector can NEVER surface from "
    f"any probe (asserted across strided probes in pytest). At 100 TB "
    f"this is how a GDPR/opt-out batch leaves a multi-TB vector index "
    f"queryable in minutes instead of rebuilding it for days. The "
    f"oracle reproduces anchors, assignment, the redaction predicate, "
    f"probe, and top-k relationally.",
)
def q_sim_ann_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _planned, _total, qemb, _mgr, _pre = _ann_delete_scan(spark, sf_dir)
    qlit = F.array(*[F.lit(v) for v in qemb])
    sim = cosine_similarity(F.col("embedding"), qlit)
    return (
        df.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(IVF_TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


ANN_RE_HOT = 2  # cells split per re-anchor pass (the top-occupancy ones)


def reanchor_index(
    spark: SparkSession,
    mgr,
    table: str,
    anchors: list[tuple[int, list[float]]],
    cells_to_split: list[int],
    id_base: int = ANN_MP_CELLS,
) -> list[tuple[int, list[float]]]:
    """Rebalance hot cells of an anchor-IVF index WITHOUT a rebuild —
    the triggered ACTION behind q_sim_ann_occupancy's hot flag, closing
    the index lifecycle (build → append → delete → monitor → REANCHOR).

    Each cell in ``cells_to_split`` splits into two sub-cells anchored at
    its residents of cosine-to-current-anchor rank ``cnt div 4`` and
    ``(3*cnt) div 4`` (the quartile straddle, so the Voronoi bisector
    lands near the occupancy median — measured on the 10x-skewed corpus
    to halve the hot cell per pass where farthest-point splitting only
    peels outliers; tests/test_ann_recall.py). Residents re-argmax over
    the two sub-anchors only; sub-cell ids are ``cell`` (keeps the id)
    and ``id_base + cell``. Everything else is FROZEN: one atomic
    REPLACE commit swaps only the split cells' files — untouched cells
    keep file identity (asserted in pytest), so at 100 TB a re-anchor
    pass costs O(hot-cell data), never an index rebuild. Returns the
    post-split anchor list.
    """
    from pyspark.sql import Window

    m = mgr._load_manifest(table)
    hot = set(int(c) for c in cells_to_split)
    df, _planned, _total = mgr.scan(table, where=[("cell", "in", sorted(hot))])
    adf = spark.createDataFrame(
        [(aid, aemb) for aid, aemb in anchors if aid in hot],
        "cell int, aemb array<double>",
    )
    scored = df.join(F.broadcast(adf), "cell").select(
        "cell",
        "vec_id",
        "embedding",
        cosine_similarity(F.col("embedding"), F.col("aemb")).alias("s"),
    )
    w = Window.partitionBy("cell").orderBy(F.col("s").desc(), "vec_id")
    ranked = scored.select(
        "cell",
        "vec_id",
        "embedding",
        (F.row_number().over(w) - F.lit(1)).alias("rk"),
        F.count("*").over(Window.partitionBy("cell")).alias("cnt"),
    )
    picks = ranked.filter(
        (F.col("rk") == F.expr("cnt div 4"))
        | (F.col("rk") == F.expr("(3 * cnt) div 4"))
    ).collect()  # <= 2 rows per split cell: trivial driver payload
    sub_rows: list[tuple[int, int, list[float]]] = []
    for r in picks:
        emb_l = [float(v) for v in r["embedding"]]
        if r["rk"] == r["cnt"] // 4:
            sub_rows.append((r["cell"], r["cell"], emb_l))
        if r["rk"] == (3 * r["cnt"]) // 4:
            sub_rows.append((r["cell"], id_base + r["cell"], emb_l))
    sdf = spark.createDataFrame(
        sub_rows, "cell int, sub_cell int, semb array<double>"
    )
    order = F.struct(
        cosine_similarity(F.col("embedding"), F.col("semb")).alias("s"),
        (F.lit(0) - F.col("sub_cell")).alias("t"),
    )
    resub = (
        df.join(F.broadcast(sdf), "cell")
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.max_by("sub_cell", order).alias("cell"),
        )
        .select("vec_id", "embedding", "cell")
    )
    # ONE atomic commit: untouched cells' entries carry over by
    # reference (their manifest segments are reused byte-for-byte).
    # Operation is OVERWRITE, not "replace": a re-anchor CHANGES row
    # content (the cell assignment), so changelog/diff_refs must see it
    # as delete+insert of the split cells' rows — "replace" is reserved
    # for row-equivalent rewrites (compaction), which changelog skips
    split = [e for e in m["files"] if int(e["partition"]["cell"]) in hot]
    new_files = mgr._write_files(table, resub, mgr._spec(m))
    mgr._advance(
        table, "main", "overwrite", mgr._rewrite(m, split, new_files), base=m
    )
    out = [(aid, aemb) for aid, aemb in anchors if aid not in hot]
    out += [(sub_cell, semb) for _cell, sub_cell, semb in sub_rows]
    return sorted(out)


def _ann_reanchor_scan(spark: SparkSession, sf_dir: str):
    """Full-corpus anchor-IVF build, then ONE re-anchor pass splitting
    the ANN_RE_HOT highest-occupancy cells (manifest-counted, ties to
    the smaller cell id), then the budgeted multi-probe over the
    rebalanced index. Returns (df, planned, total, qemb, mgr,
    untouched_pre_paths)."""
    from iceberg_poc_spark.tables import identity

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build(mgr) -> tuple:
        n = emb.count()
        anchors = _strided_anchors(emb, n // ANN_MP_CELLS)
        cells = _assign_anchor_cells(spark, emb, anchors)
        mgr.create_table("emb_ivf_re", cells.schema, [identity("cell")])
        mgr.append("emb_ivf_re", cells)
        # hot-cell selection from the MANIFEST (metadata-only — the
        # q_sim_ann_occupancy signal): top-ANN_RE_HOT by records
        m = mgr._load_manifest("emb_ivf_re")
        occ: dict[int, int] = {}
        for e in m["files"]:
            c = int(e["partition"]["cell"])
            occ[c] = occ.get(c, 0) + e["records"]
        hot = [
            c
            for c, _cnt in sorted(occ.items(), key=lambda t: (-t[1], t[0]))[
                :ANN_RE_HOT
            ]
        ]
        pre_untouched = frozenset(
            e["path"]
            for e in m["files"]
            if int(e["partition"]["cell"]) not in set(hot)
        )
        # query vector pinned from the PRE-split anchors: anchor 0 IS
        # vec 0 at build time, but a split of cell 0 replaces its anchor
        # with a resident's vector — the query must stay vec 0
        qemb0 = next(a for aid, a in anchors if aid == 0)
        anchors2 = reanchor_index(spark, mgr, "emb_ivf_re", anchors, hot)
        return anchors2, pre_untouched, qemb0

    mgr, (anchors2, pre_untouched, qemb) = _index(spark, "annre", sf_dir, build)
    probe = [aid for aid, _ in _probe_order(anchors2, qemb)[:ANN_MP_PROBE]]
    df, planned, total = mgr.scan("emb_ivf_re", where=[("cell", "in", probe)])
    return df, planned, total, qemb, mgr, pre_untouched


@register(
    "q_sim_ann_reanchor",
    oracle=f"""
    WITH params AS (
        SELECT CAST(COUNT(*) // {ANN_MP_CELLS} AS BIGINT) AS astep
        FROM embeddings
    ),
    anchors AS (
        SELECT CAST(vec_id // astep AS INT) AS aid, embedding AS aemb
        FROM embeddings, params
        WHERE vec_id % astep = 0 AND vec_id < astep * {ANN_MP_CELLS}
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, a.aid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ),
    assign AS (
        SELECT vec_id, embedding, aid AS cell FROM scored WHERE rn = 1
    ),
    hot AS (
        SELECT cell FROM (
            SELECT cell, COUNT(*) AS n_vecs FROM assign GROUP BY cell
        ) ORDER BY n_vecs DESC, cell LIMIT {ANN_RE_HOT}
    ),
    res AS (
        SELECT s.vec_id, s.embedding, s.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY s.cell
                   ORDER BY list_cosine_similarity(
                       CAST(s.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, s.vec_id
               ) - 1 AS rk,
               COUNT(*) OVER (PARTITION BY s.cell) AS cnt
        FROM assign s JOIN anchors a ON s.cell = a.aid
        WHERE s.cell IN (SELECT cell FROM hot)
    ),
    subanch AS (
        SELECT cell, CAST(cell AS INT) AS sub_cell, embedding AS semb
        FROM res WHERE rk = cnt // 4
        UNION ALL
        SELECT cell, CAST({ANN_MP_CELLS} + cell AS INT), embedding
        FROM res WHERE rk = (3 * cnt) // 4
    ),
    resub AS (
        SELECT r.vec_id, r.embedding, s.sub_cell,
               ROW_NUMBER() OVER (
                   PARTITION BY r.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(r.embedding AS DOUBLE[]),
                       CAST(s.semb AS DOUBLE[])) DESC, s.sub_cell
               ) AS rn2
        FROM res r JOIN subanch s ON r.cell = s.cell
    ),
    final_assign AS (
        SELECT vec_id, embedding, cell FROM assign
        WHERE cell NOT IN (SELECT cell FROM hot)
        UNION ALL
        SELECT vec_id, embedding, sub_cell AS cell FROM resub WHERE rn2 = 1
    ),
    final_anchors AS (
        SELECT aid, aemb FROM anchors
        WHERE aid NOT IN (SELECT cell FROM hot)
        UNION ALL
        SELECT sub_cell AS aid, semb AS aemb FROM subanch
    ),
    q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
        SELECT aid FROM final_anchors, q
        ORDER BY list_cosine_similarity(CAST(aemb AS DOUBLE[]),
                                        CAST(qemb AS DOUBLE[])) DESC, aid
        LIMIT {ANN_MP_PROBE}
    )
    SELECT c.vec_id,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM final_assign c
    JOIN probe p ON c.cell = p.aid
    CROSS JOIN q
    WHERE c.vec_id <> {QUERY_VEC_ID}
    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, c.vec_id
    LIMIT {IVF_TOP_K}
    """,
    doc=f"ANN index RE-ANCHOR — the rebalance ACTION q_sim_ann_occupancy's "
    f"hot flag triggers, completing the lifecycle (build → append → "
    f"delete → monitor → reanchor): the {ANN_RE_HOT} highest-occupancy "
    f"cells (counted from the MANIFEST, ties to the smaller id) each "
    f"split into two sub-cells anchored at their own residents of "
    f"cosine-to-anchor rank cnt div 4 and (3·cnt) div 4 — the quartile "
    f"straddle puts the Voronoi bisector near the occupancy median, "
    f"halving the hot cell per pass where farthest-point splitting only "
    f"peels outliers (measured on the 10x-skewed corpus in "
    f"tests/test_ann_recall.py: iterated passes return the fixed "
    f"{ANN_MP_PROBE}-cell probe to <=55% scan with recall@5 back at the "
    f"floor). Residents re-argmax over the two sub-anchors only; ONE "
    f"atomic REPLACE commit swaps the split cells' files while every "
    f"untouched cell keeps file identity (asserted in pytest) — at "
    f"100 TB a re-anchor pass costs O(hot-cell data), never a rebuild. "
    f"The query multi-probes the best {ANN_MP_PROBE} of the post-split "
    f"anchor set. The oracle reproduces assignment, hot selection, "
    f"quartile sub-anchors, re-assignment, probe, and top-k "
    f"relationally.",
)
def q_sim_ann_reanchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _planned, _total, qemb, _mgr, _pre = _ann_reanchor_scan(
        spark, sf_dir
    )
    qlit = F.array(*[F.lit(v) for v in qemb])
    sim = cosine_similarity(F.col("embedding"), qlit)
    return (
        df.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(IVF_TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


KNN_K = 3
KNN_STRIDE = 50  # queries = every 50th vector
# GEMM ranks candidates; the top-(k+pad) survivors are re-scored with the
# oracle-order sequential fold before anything is emitted. BLAS blocked
# summation differs from the fold only at the last ulp, so a pad of 5
# ranks is far beyond any reachable rank flip.
KNN_RESCORE_PAD = 5


def _seq_fold_norm(vals) -> float:
    """sqrt of a sequential left-fold sum of squares — bit-identical to
    DuckDB's list_cosine_similarity norm accumulation (C double loop)."""
    import math

    s = 0.0
    for v in vals:
        s += v * v
    return math.sqrt(s)


@register(
    "q_sim_knn_join",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS qemb
        FROM embeddings WHERE vec_id % {KNN_STRIDE} = 0
    ),
    s AS (
        SELECT q.q_id, e.vec_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.qemb AS DOUBLE[])) AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.q_id
    ),
    r AS (
        SELECT q_id, vec_id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY sim DESC, vec_id
               ) AS rn
        FROM s
    )
    SELECT q_id, vec_id AS neighbor_id, ROUND(sim, 4) AS cos_sim
    FROM r WHERE rn <= {KNN_K}
    """,
    doc="k-NN JOIN: top-3 cosine neighbors for EVERY query vector at once "
    "(queries = every 50th vector) — the batch shape behind hard-negative "
    "mining and embedding-dedup candidate generation, vs q_sim_topk's "
    "single-query probe. The probe batch (bounded by construction: it is "
    "the operator's input, like q_sim_topk's single query vector) ships "
    "to every task as a broadcast variable; ONE corpus scan streams "
    "through an Arrow mapInPandas kernel that scores each batch against "
    "all probes with a single float64 GEMM and emits only its LOCAL "
    "top-k per probe. The global merge then aggregates at most "
    "(k+pad) * probes * batches candidate rows — the n*m scored pairs "
    "never leave their task (the r1 window formulation shuffled and "
    "sorted all of them). Determinism: the GEMM only PRUNES (BLAS "
    "blocked/SIMD accumulation can differ from a sequential fold at the "
    "last ulp); every emitted sim is re-computed over the top-(k+pad) "
    "survivors with a sequential left-fold dot/norm — bit-identical to "
    "the oracle's list_cosine_similarity double loop — so rounding and "
    "near-tie ordering cannot drift between engines. When the probe "
    "batch outgrows broadcast size, flip to the IVF cell-join path "
    "(q_sim_ann_ivf's cells as the join key).",
)
def q_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probe_df = emb.filter(F.col("vec_id") % KNN_STRIDE == 0)
    # BOUNDED collect: take one row past the broadcast budget — at or
    # under it the probe batch rides a broadcast variable (fast path);
    # past it, nothing was materialized beyond the budget and the
    # cogrouped grid join takes over (no unbounded driver collect on
    # any input size)
    head = probe_df.take(KNN_BROADCAST_PROBES + 1)
    if len(head) <= KNN_BROADCAST_PROBES:
        return _knn_broadcast(
            spark, emb, [(r.vec_id, r.embedding) for r in head]
        )
    probes = probe_df.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qemb")
    )
    return _knn_grid(spark, emb, probes, probes.count())


# ceiling on float64 cells materialized per GEMM strip (~16 MB): the
# full rows x probes sims matrix at the grid path's cell bounds
# (65,536 rows x 4,096 probes) would be ~2 GB per task plus a
# same-shape self-match mask — an executor-OOM hazard in the exact
# path built to avoid OOM — so the kernel strip-mines the corpus side
_KNN_STRIP_CELLS = 2_000_000


def _knn_block_topk(q_ids, q_mat, q_norm, vec_ids, x, local_k):
    """Score one corpus block against one probe block: a float64 GEMM
    ranks candidates (prune only — BLAS accumulation can differ at the
    last ulp), then every survivor is RE-SCORED with a sequential
    left-fold dot/norm bit-identical to the oracle's
    list_cosine_similarity double loop. Returns (q, neighbor, sim)
    lists of the local top-``local_k`` per probe.

    The GEMM is STRIP-MINED: corpus rows are pre-sorted by vec_id and
    scored in contiguous strips of at most ``_KNN_STRIP_CELLS / n_q``
    rows, folding each strip's per-probe top-``local_k`` into a running
    (local_k x n_q) candidate matrix — peak memory is one strip plus
    two candidate matrices regardless of block size. Selection is
    EXACTLY the full-matrix (sim DESC, vec_id ASC) rule: a stable
    argsort on -sims breaks ties by row position, rows are vec_id-ASC
    within every strip, and the running rows always hold smaller
    vec_ids than the incoming strip's, so stable merge order preserves
    the tie rule inductively."""
    import numpy as np

    n_q = len(q_ids)
    order0 = np.argsort(vec_ids, kind="stable")
    vec_ids = np.ascontiguousarray(vec_ids[order0])
    x = np.ascontiguousarray(x[order0])
    xn = np.sqrt(np.einsum("ij,ij->i", x, x))
    strip = max(64, _KNN_STRIP_CELLS // max(1, n_q))
    run_s = np.empty((0, n_q), dtype="float64")
    run_i = np.empty((0, n_q), dtype="int64")
    with np.errstate(divide="ignore", invalid="ignore"):
        for s0 in range(0, len(vec_ids), strip):
            xs = x[s0 : s0 + strip]
            ids_s = vec_ids[s0 : s0 + strip]
            xns = xn[s0 : s0 + strip]
            if len(xs) < strip and s0 > 0:
                # FIXED-SHAPE strips: BLAS results can differ at the
                # last ulp with matrix shape, so a short tail strip
                # would score duplicate rows differently from their
                # twins in full strips and break the tie rule the
                # selection depends on. Zero rows score NaN (zero
                # norm) and are filtered like real zero vectors.
                pad = strip - len(xs)
                xs = np.vstack([xs, np.zeros((pad, xs.shape[1]))])
                xns = np.concatenate([xns, np.zeros(pad)])
                ids_s = np.concatenate(
                    [ids_s, np.full(pad, -1, dtype="int64")]
                )
            sims = (xs @ q_mat.T) / (xns[:, None] * q_norm[None, :])
            # rank on ROUNDED sims: BLAS gives bitwise-identical rows
            # different last-ulp results at different row positions
            # (measured: ±4e-16 inside one dgemm), which would split
            # exact-duplicate ties arbitrarily instead of by vec_id —
            # with more duplicates than the rescore pad that drops the
            # oracle's lowest-vec_id picks. 1e-12 granularity collapses
            # the jitter while real cosine gaps stay ordered; the
            # emitted sims are exact-fold rescored either way.
            sims = np.round(sims, 12)
            sims[ids_s[:, None] == q_ids[None, :]] = -np.inf  # self-match
            top = np.argsort(-sims, axis=0, kind="stable")[:local_k]
            all_s = np.vstack(
                [run_s, np.take_along_axis(sims, top, axis=0)]
            )
            all_i = np.vstack([run_i, ids_s[top]])
            keep = np.argsort(-all_s, axis=0, kind="stable")[:local_k]
            run_s = np.take_along_axis(all_s, keep, axis=0)
            run_i = np.take_along_axis(all_i, keep, axis=0)
    x_lists = x.tolist()
    q_lists = q_mat.tolist()
    norm_cache: dict[int, float] = {}
    out_q, out_n, out_s = [], [], []
    for j in range(n_q):
        col = run_s[:, j]
        qrow, qnj = q_lists[j], q_norm[j]
        for cid in run_i[:, j][np.isfinite(col)]:
            i = int(np.searchsorted(vec_ids, cid))
            xrow = x_lists[i]
            dot = 0.0
            for a, b in zip(xrow, qrow):
                dot += a * b
            nx = norm_cache.get(i)
            if nx is None:
                nx = norm_cache[i] = _seq_fold_norm(xrow)
            denom = nx * qnj
            if denom == 0.0:
                continue
            out_q.append(int(q_ids[j]))
            out_n.append(int(cid))
            out_s.append(dot / denom)
    return out_q, out_n, out_s


def _knn_merge(local_topk: DataFrame, k: int) -> DataFrame:
    """Global top-k per probe from per-block candidates: sort ascending
    on (-sim, neighbor_id) == (sim DESC, vec_id ASC)."""
    merged = local_topk.groupBy("q_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("sim")).alias("neg_sim"),
                        F.col("neighbor_id").alias("neighbor_id"),
                    )
                )
            ),
            1,
            k,
        ).alias("top")
    )
    hit = F.explode("top").alias("hit")
    return merged.select("q_id", hit).select(
        "q_id",
        F.col("hit.neighbor_id").alias("neighbor_id"),
        F.round(-F.col("hit.neg_sim"), 4).alias("cos_sim"),
    )


# probe batches at or under this row count ride a broadcast variable
# into the one-scan GEMM kernel (zero extra shuffle); larger batches
# flip to the cogrouped grid join (_knn_grid) — the bound is what makes
# the driver-side collect safe at any corpus size
KNN_BROADCAST_PROBES = 65_536


def _knn_broadcast(spark: SparkSession, emb: DataFrame, probes) -> DataFrame:
    """Broadcast-probe kNN: the probe batch rides a broadcast variable,
    ONE corpus scan streams through an Arrow mapInPandas kernel, only
    local top-(k+pad) candidates leave each task."""
    import numpy as np

    q_ids = np.array([r[0] for r in probes], dtype="int64")
    q_mat = np.array([r[1] for r in probes], dtype="float64")
    # fold-order norms (NOT einsum): emitted sims must match the oracle's
    # sequential accumulation bit-for-bit
    q_norm = np.array([_seq_fold_norm(row) for row in q_mat.tolist()])
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))
    local_k = KNN_K + KNN_RESCORE_PAD

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        ids, qm, qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vec_ids = pdf["vec_id"].to_numpy()
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            out_q, out_n, out_s = _knn_block_topk(
                ids, qm, qn, vec_ids, x, local_k
            )
            yield pd.DataFrame(
                {
                    "q_id": np.array(out_q, dtype="int64"),
                    "neighbor_id": np.array(out_n, dtype="int64"),
                    "sim": np.array(out_s, dtype="float64"),
                }
            )

    local_topk = emb.mapInPandas(
        score_batches, "q_id long, neighbor_id long, sim double"
    )
    return _knn_merge(local_topk, KNN_K)


def _knn_grid(
    spark: SparkSession,
    emb: DataFrame,
    probes: DataFrame,
    n_probes: int,
) -> DataFrame:
    """Grid (block nested-loop) kNN join — the scale path when the probe
    batch outgrows broadcast: probes split into G hash groups, corpus
    into B blocks; each (group, block) cell cogroups one bounded probe
    slice with one bounded corpus slice and runs the SAME GEMM +
    sequential-rescore kernel. Fully distributed — no driver collect of
    either side; shuffle volume is corpus x G + probes x B, and only
    (k+pad) x probes x blocks candidate rows reach the global merge.
    At a fixed per-cell memory budget, G grows with the probe count and
    B with the corpus, so the plan holds at 100 TB."""
    n_grp = max(1, -(-n_probes // 4096))  # ~4k probes per slice
    # B scales with the CORPUS (applyInPandas materializes each cell's
    # corpus slice as one pandas frame — a fixed B would grow that frame
    # linearly with the table, the OOM this path exists to avoid):
    # ~64k rows x 64 dims x 8 B ≈ 32 MB per cell, floored at the
    # cluster width so small corpora still use every core.
    n_corpus = emb.count()
    n_blk = max(
        spark.sparkContext.defaultParallelism,
        -(-n_corpus // 65_536),
    )
    local_k = KNN_K + KNN_RESCORE_PAD

    corpus_g = emb.withColumn(
        "g", F.explode(F.sequence(F.lit(0), F.lit(n_grp - 1)))
    ).withColumn("b", F.pmod(F.col("vec_id"), F.lit(n_blk)).cast("int"))
    probes_g = probes.withColumn(
        "g", F.pmod(F.col("q_id"), F.lit(n_grp)).cast("int")
    ).withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(n_blk - 1))))

    def score_cell(left, right):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "q_id": np.array([], dtype="int64"),
                "neighbor_id": np.array([], dtype="int64"),
                "sim": np.array([], dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        q_ids = right["q_id"].to_numpy()
        q_mat = np.stack(right["qemb"].to_numpy()).astype("float64")
        q_norm = np.array([_seq_fold_norm(r) for r in q_mat.tolist()])
        vec_ids = left["vec_id"].to_numpy()
        x = np.stack(left["embedding"].to_numpy()).astype("float64")
        out_q, out_n, out_s = _knn_block_topk(
            q_ids, q_mat, q_norm, vec_ids, x, local_k
        )
        return pd.DataFrame(
            {
                "q_id": np.array(out_q, dtype="int64"),
                "neighbor_id": np.array(out_n, dtype="int64"),
                "sim": np.array(out_s, dtype="float64"),
            }
        )

    local_topk = (
        corpus_g.groupBy("g", "b")
        .cogroup(probes_g.groupBy("g", "b"))
        .applyInPandas(score_cell, "q_id long, neighbor_id long, sim double")
    )
    return _knn_merge(local_topk, KNN_K)


@register(
    "q_sim_knn_join_grid",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS qemb
        FROM embeddings WHERE vec_id % {KNN_STRIDE} = 0
    ),
    s AS (
        SELECT q.q_id, e.vec_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.qemb AS DOUBLE[])) AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.q_id
    ),
    r AS (
        SELECT q_id, vec_id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY sim DESC, vec_id
               ) AS rn
        FROM s
    )
    SELECT q_id, vec_id AS neighbor_id, ROUND(sim, 4) AS cos_sim
    FROM r WHERE rn <= {KNN_K}
    """,
    doc="k-NN join, GRID (block nested-loop) path — what q_sim_knn_join "
    "flips to when the probe batch outgrows its broadcast budget: "
    "probes hash into G bounded slices, the corpus into B blocks, and "
    "each (slice, block) cell cogroups two bounded pandas frames "
    "through the SAME GEMM + sequential-rescore kernel as the "
    "broadcast path, so both paths are value-identical by construction "
    "(this registration pins that with the same oracle). Neither side "
    "is ever collected to the driver; shuffle volume is corpus x G + "
    "probes x B and only (k+pad) x probes x blocks candidate rows "
    "reach the merge — the 100 TB posture for million-probe "
    "hard-negative mining where a broadcast variable cannot hold the "
    "probe matrix.",
)
def q_sim_knn_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") % KNN_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qemb")
    )
    return _knn_grid(spark, emb, probes, probes.count())


PQ_M = 8  # subspaces over the 64-dim embedding (8 dims each)
PQ_K = 32  # codebook entries per subspace (strided corpus sample)
PQ_TOP_K = 10


def _seq_l2(a: list[float], b: list[float]) -> float:
    """Driver-side sequential-fold euclidean distance — bit-identical to
    DuckDB's ``list_distance`` C loop AND the JVM
    ``sqrt(aggregate-fold)`` used at encode time (verified bit-for-bit
    on corpus subvectors): the same left-to-right IEEE-double adds and
    one final correctly-rounded sqrt. The PQ oracle's cross-engine
    determinism rests on this identity, exactly as the cosine paths
    rest on :func:`_seq_cos`."""
    import math

    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return math.sqrt(s)


def _pq_codebooks(emb: DataFrame):
    """Deterministic PQ codebooks (oracle-reproducible): ``PQ_K`` strided
    corpus vectors, each split into ``PQ_M`` contiguous subvectors —
    centroid (m, cid) is sample cid's m-th slice. Returns
    (cents, ds, qemb, n); qemb is the vec_id=0 query vector, which IS
    sample cid 0."""
    n = emb.count()
    stride = n // PQ_K
    rows = (
        emb.filter(
            (F.col("vec_id") % stride == 0) & (F.col("vec_id") < stride * PQ_K)
        )
        .select((F.col("vec_id") / stride).cast("int").alias("cid"), "embedding")
        .collect()
    )
    sample = {r["cid"]: [float(v) for v in r["embedding"]] for r in rows}
    dims = len(sample[0])
    if dims % PQ_M:
        raise ValueError(f"embedding dims {dims} not divisible by PQ_M={PQ_M}")
    ds = dims // PQ_M
    # sparse id spaces (re-keyed replicas, post-delete corpora) yield
    # fewer than PQ_K sample hits — the codebook is whatever strided
    # vectors EXIST (consumers iterate the cents keys, never
    # range(PQ_K)); dense driver corpora always yield the full PQ_K
    cents = {
        (m, cid): vec[m * ds : (m + 1) * ds]
        for cid, vec in sample.items()
        for m in range(PQ_M)
    }
    return cents, ds, sample[0], n


def _pq_codes_wide(
    spark: SparkSession, emb: DataFrame, cents: dict, ds: int
) -> DataFrame:
    """Encode the corpus against the codebooks in one pass: broadcast the
    256-row centroid table, score each (vector, subspace, centroid) with
    the JVM fold L2, take the per-(vec, m) ``min_by`` (partial
    aggregation keeps the shuffle O(corpus x M), never
    O(corpus x M x K)), then pivot the M codes into one row per vector —
    the packed form a real deployment stores, M small ints instead of
    dims floats."""
    adf = spark.createDataFrame(
        [(m, cid, c) for (m, cid), c in sorted(cents.items())],
        "m int, cid int, cent array<double>",
    )
    sub = F.slice(F.col("embedding"), F.col("m") * ds + 1, ds)
    diff2 = F.zip_with(
        sub,
        F.col("cent"),
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    # sqrt on BOTH engines: sqrt rounds-to-nearest, so two squared
    # sums 1 ulp apart can collapse to an equal sqrt — the tie-break
    # comparison must see the same values DuckDB's list_distance sees
    dist = F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x))
    order = F.struct(dist.alias("d"), F.col("cid").alias("t"))
    return (
        emb.join(F.broadcast(adf))
        .groupBy("vec_id", "m")
        .agg(F.min_by("cid", order).alias("cid"))
        .groupBy("vec_id")
        .agg(
            *[
                F.max(F.when(F.col("m") == m, F.col("cid"))).alias(f"c{m}")
                for m in range(PQ_M)
            ]
        )
    )


def _pq_build(spark: SparkSession, sf_dir: str):
    """Build-or-load the flat product-quantization index for ``sf_dir``
    (codebooks via :func:`_pq_codebooks`, one-pass encoding via
    :func:`_pq_codes_wide`; the codes land in a managed table once per
    process per sf_dir — queries scan ONLY that table until the exact
    rerank). The driver-side codebooks are kept with the index, so warm
    queries never rescan the float corpus for them. Returns (mgr, cents,
    n, qemb, ds)."""

    def build(mgr) -> tuple:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        cents, ds, qemb, n = _pq_codebooks(emb)
        wide = _pq_codes_wide(spark, emb, cents, ds)
        mgr.create_table("emb_pq", wide.schema, [])
        mgr.append("emb_pq", wide)
        return cents, ds, qemb, n

    mgr, (cents, ds, qemb, n) = _index(spark, "annpq", sf_dir, build)
    return mgr, cents, n, qemb, ds


def _exact_rerank(
    emb: DataFrame, cand: DataFrame, qemb: list[float], k: int
) -> DataFrame:
    """The shared exact-rerank tail of every candidate-generating ANN
    path: broadcast semi-join the candidate ids to the float corpus,
    exact fold cosine vs the query literal, (sim desc, vec_id) top-k,
    round 4. ONE definition — the tie-break and rounding here are a
    cross-engine contract (see :func:`_seq_cos`); a change must land in
    every oracle at once."""
    qlit = F.array(*[F.lit(v) for v in qemb])
    sim = cosine_similarity(F.col("embedding"), qlit)
    return (
        emb.join(F.broadcast(cand), "vec_id")
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(k)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


def _pq_adc_col(cents: dict, ds: int, qemb: list[float]):
    """The asymmetric-distance expression over packed code columns:
    PQ_M literal 32-entry maps built driver-side from the query's
    subvector-to-centroid distances (:func:`_seq_l2` — bit-identical to
    DuckDB's list_distance), added in fixed left-to-right order so both
    engines associate identically. Pure map-lookup column — no Python,
    no shuffle."""
    cids = sorted({cid for (_m, cid) in cents})
    adc = None
    for m in range(PQ_M):
        pairs: list = []
        for cid in cids:
            pairs.append(F.lit(cid))
            pairs.append(
                F.lit(_seq_l2(qemb[m * ds : (m + 1) * ds], cents[(m, cid)]))
            )
        term = F.element_at(F.create_map(*pairs), F.col(f"c{m}"))
        adc = term if adc is None else adc + term
    return adc


def _pq_candidates(spark: SparkSession, sf_dir: str):
    """ADC candidate generation: scan ONLY the codes table (M small ints
    per vector — at 100 TB this is the in-memory index; the float
    corpus stays cold), score each row with an asymmetric-distance
    lookup (8 literal 32-entry maps built driver-side from the query's
    subvector-to-centroid distances, added in fixed left-to-right order
    so both engines associate identically), and keep the best n//4 by
    (adc, vec_id). Returns (cand_df, n, qemb)."""
    mgr, cents, n, qemb, ds = _pq_build(spark, sf_dir)
    codes, _planned, _total = mgr.scan("emb_pq")
    adc = _pq_adc_col(cents, ds, qemb)
    return (
        codes.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id"))
        .limit(n // 4)
        .select("vec_id"),
        n,
        qemb,
    )


@register(
    "q_sim_ann_pq",
    oracle=f"""
    WITH params AS (
        SELECT COUNT(*) // {PQ_K} AS stride, COUNT(*) // 4 AS cand
        FROM embeddings
    ),
    sample AS (
        SELECT CAST(vec_id // stride AS INT) AS cid, embedding
        FROM embeddings, params
        WHERE vec_id % stride = 0 AND vec_id < stride * {PQ_K}
    ),
    subs AS (SELECT UNNEST(range({PQ_M})) AS m),
    cents AS (
        SELECT m, cid,
               CAST(embedding[m*8+1 : m*8+8] AS DOUBLE[]) AS cent
        FROM sample CROSS JOIN subs
    ),
    scored AS (
        SELECT e.vec_id, c.m, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id, c.m
                   ORDER BY list_distance(
                       CAST(e.embedding[c.m*8+1 : c.m*8+8] AS DOUBLE[]),
                       c.cent), c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ),
    codes AS (SELECT vec_id, m, cid FROM scored WHERE rn = 1),
    q AS (SELECT embedding AS qemb FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}),
    lut AS (
        SELECT m, cid,
               list_distance(CAST(qemb[m*8+1 : m*8+8] AS DOUBLE[]),
                             cent) AS qd
        FROM cents, q
    ),
    adc AS (
        SELECT k.vec_id,
               (((((MAX(CASE WHEN k.m=0 THEN l.qd END)
                 + MAX(CASE WHEN k.m=1 THEN l.qd END))
                 + MAX(CASE WHEN k.m=2 THEN l.qd END))
                 + MAX(CASE WHEN k.m=3 THEN l.qd END))
                 + MAX(CASE WHEN k.m=4 THEN l.qd END))
                 + MAX(CASE WHEN k.m=5 THEN l.qd END))
                 + MAX(CASE WHEN k.m=6 THEN l.qd END)
                 + MAX(CASE WHEN k.m=7 THEN l.qd END) AS dist
        FROM codes k JOIN lut l ON k.m = l.m AND k.cid = l.cid
        WHERE k.vec_id <> {QUERY_VEC_ID}
        GROUP BY k.vec_id
    ),
    cand AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS arank
        FROM adc
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM cand
    JOIN embeddings e USING (vec_id)
    CROSS JOIN q
    WHERE cand.arank <= (SELECT cand FROM params)
    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, e.vec_id
    LIMIT {PQ_TOP_K}
    """,
    doc=f"Product-quantization ANN (the FAISS IVF-PQ memory trick, "
    f"deterministic-codebook variant): the {PQ_M * 8}-dim corpus is "
    f"split into {PQ_M} contiguous subspaces, each coarse-coded against "
    f"{PQ_K} centroids taken from strided corpus vectors, so every "
    f"vector compresses to {PQ_M} small ints — one byte each in a real "
    f"deployment, ~32x smaller than the 256-byte float32 vector. A "
    f"query builds an "
    f"asymmetric-distance lookup table driver-side ({PQ_M}x{PQ_K} "
    f"doubles), scores the ENTIRE corpus by scanning only the codes "
    f"table (pure map-lookup expression, zero Python, zero shuffle — "
    f"TakeOrdered keeps the best n//4), then exact-reranks just those "
    f"candidates against the float corpus via a broadcast semi-join. "
    f"The oracle reproduces codebook selection, encoding argmin (with "
    f"the cid tie-break), the ADC sum in the same association order, "
    f"the n//4 cutoff, and the final rerank relationally — value-for-"
    f"value, not a characterization; the candidate pool's recall"
    f"@{PQ_TOP_K} vs the exact top-{PQ_TOP_K} is 1.0 for the oracle "
    f"probe at every shipped sf and ~0.84 mean over 25 strided probes "
    f"(floored at 0.8 in tests/test_ann_recall.py — the isotropic "
    f"corpus is PQ's no-structure worst case). At 100 TB the codes table is "
    f"the only full-corpus read per query: ~{PQ_M} bytes/vector vs 256 "
    f"float bytes — the difference between an in-memory "
    f"index and a cold scan; encode is one corpus pass at build time.",
)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, _n, qemb = _pq_candidates(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _exact_rerank(emb, cand, qemb, PQ_TOP_K)


def _pq_inc_scan(spark: SparkSession, sf_dir: str):
    """Incremental PQ index: codebooks FROZEN at bootstrap (strided over
    the BASE slice vec_id%5!=4 — strided ids landing in the batch slice
    are simply absent, the sparse-codebook rule), base codes committed
    once, then the daily batch (vec_id%5==4) encoded AGAINST THE FROZEN
    CODEBOOKS batch-locally and appended — no codebook recompute, no
    base re-encode (base file identity + pure-append ancestry pinned in
    tests/test_ann_recall.py). PQ codes are order-independent given
    frozen codebooks, so the incrementally-built index is value-
    identical to a from-scratch build — which is exactly what lets the
    oracle reproduce it relationally. Returns (cand_df, n, qemb)."""

    def build(mgr) -> tuple:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        base = emb.filter(F.col("vec_id") % 5 != 4)
        # _pq_codebooks over the BASE slice: base already excludes the
        # batch ids, so its strided sample is exactly the frozen,
        # oracle-reproducible codebook (and dims%PQ_M validation rides
        # along); n is the full corpus for the n//4 candidate cutoff
        cents, ds, qemb, _n_base = _pq_codebooks(base)
        n = emb.count()
        base_codes = _pq_codes_wide(spark, base, cents, ds)
        mgr.create_table("emb_pq_inc", base_codes.schema, [])
        mgr.append("emb_pq_inc", base_codes)
        batch = emb.filter(F.col("vec_id") % 5 == 4)
        mgr.append("emb_pq_inc", _pq_codes_wide(spark, batch, cents, ds))
        return cents, ds, qemb, n

    mgr, (cents, ds, qemb, n) = _index(spark, "annpqinc", sf_dir, build)
    codes, _planned, _total = mgr.scan("emb_pq_inc")
    adc = _pq_adc_col(cents, ds, qemb)
    cand = (
        codes.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id"))
        .limit(n // 4)
        .select("vec_id")
    )
    return cand, n, qemb, mgr


@register(
    "q_sim_ann_pq_incremental",
    oracle=f"""
    WITH params AS (
        SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 <> 4)
                   // {PQ_K} AS stride,
               COUNT(*) // 4 AS cand
        FROM embeddings
    ),
    sample AS (
        SELECT CAST(vec_id // stride AS INT) AS cid, embedding
        FROM embeddings, params
        WHERE vec_id % stride = 0 AND vec_id < stride * {PQ_K}
          AND vec_id % 5 <> 4
    ),
    subs AS (SELECT UNNEST(range({PQ_M})) AS m),
    cents AS (
        SELECT m, cid,
               CAST(embedding[m*8+1 : m*8+8] AS DOUBLE[]) AS cent
        FROM sample CROSS JOIN subs
    ),
    scored AS (
        SELECT e.vec_id, c.m, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id, c.m
                   ORDER BY list_distance(
                       CAST(e.embedding[c.m*8+1 : c.m*8+8] AS DOUBLE[]),
                       c.cent), c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ),
    codes AS (SELECT vec_id, m, cid FROM scored WHERE rn = 1),
    q AS (SELECT embedding AS qemb FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}),
    lut AS (
        SELECT m, cid,
               list_distance(CAST(qemb[m*8+1 : m*8+8] AS DOUBLE[]),
                             cent) AS qd
        FROM cents, q
    ),
    adc AS (
        SELECT k.vec_id,
               (((((MAX(CASE WHEN k.m=0 THEN l.qd END)
                 + MAX(CASE WHEN k.m=1 THEN l.qd END))
                 + MAX(CASE WHEN k.m=2 THEN l.qd END))
                 + MAX(CASE WHEN k.m=3 THEN l.qd END))
                 + MAX(CASE WHEN k.m=4 THEN l.qd END))
                 + MAX(CASE WHEN k.m=5 THEN l.qd END))
                 + MAX(CASE WHEN k.m=6 THEN l.qd END)
                 + MAX(CASE WHEN k.m=7 THEN l.qd END) AS dist
        FROM codes k JOIN lut l ON k.m = l.m AND k.cid = l.cid
        WHERE k.vec_id <> {QUERY_VEC_ID}
        GROUP BY k.vec_id
    ),
    cand AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS arank
        FROM adc
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM cand
    JOIN embeddings e USING (vec_id)
    CROSS JOIN q
    WHERE cand.arank <= (SELECT cand FROM params)
    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, e.vec_id
    LIMIT {PQ_TOP_K}
    """,
    doc=f"Incremental PQ index maintenance — the append leg of the "
    f"quantized-index lifecycle (build: q_sim_ann_pq; two-level: "
    f"q_sim_ann_ivfpq; live arrival: q_stream_ann_ingest): codebooks "
    f"FREEZE at bootstrap (strided over the base slice — strided ids "
    f"falling in the future batch are simply absent, the sparse-"
    f"codebook rule), the daily batch encodes against the frozen "
    f"codebooks batch-locally — O(batch x {PQ_M}x{PQ_K}), never a "
    f"codebook retrain or base re-encode — and appends as one atomic "
    f"commit (base code files keep byte identity, pure-append "
    f"ancestry, pytest-pinned). PQ codes are order-independent under "
    f"frozen codebooks, so the incrementally-grown index is value-"
    f"identical to a from-scratch build — which is what lets the "
    f"oracle reproduce codebooks/encoding/ADC/cutoff/rerank "
    f"relationally over the full corpus. At 100 TB this is the nightly "
    f"embedding-index refresh: the float corpus is touched only for "
    f"the new batch; the query-side ADC scan still reads ~{PQ_M} "
    f"bytes/vector.",
)
def q_sim_ann_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, _n, qemb, _mgr = _pq_inc_scan(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _exact_rerank(emb, cand, qemb, PQ_TOP_K)


IVFPQ_CAND_DIV = 8  # ADC keeps the best n//8 of the probed cells' rows


def _ivfpq_scan(spark: SparkSession, sf_dir: str):
    """Build-or-load the combined IVF-PQ index and run the two-level
    probe: coarse anchor-Voronoi routing prunes unprobed CELLS at the
    manifest (their code files are never opened), PQ-ADC ranks the
    probed cells' packed codes, the best n//8 go to exact rerank.
    Warm probes reuse the kept codebooks AND coarse anchors instead of
    rescanning the corpus. Returns (cand_df, n, qemb, planned, total)."""
    from iceberg_poc_spark.tables import identity

    def build(mgr) -> tuple:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        cents, ds, qemb, n = _pq_codebooks(emb)
        anchors = _strided_anchors(emb, n // ANN_MP_CELLS)
        cells = _assign_anchor_cells(spark, emb, anchors).select(
            "vec_id", "cell"
        )
        idx = _pq_codes_wide(spark, emb, cents, ds).join(cells, "vec_id")
        mgr.create_table("emb_ivfpq", idx.schema, [identity("cell")])
        mgr.append("emb_ivfpq", idx)
        return cents, ds, qemb, n, anchors

    mgr, (cents, ds, qemb, n, anchors) = _index(spark, "annivfpq", sf_dir, build)
    ranked = _probe_order(anchors, qemb)
    probe = [aid for aid, _ in ranked[:ANN_MP_PROBE]]
    codes, planned, total = mgr.scan(
        "emb_ivfpq", where=[("cell", "in", probe)]
    )
    adc = _pq_adc_col(cents, ds, qemb)
    cand = (
        codes.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id"))
        .limit(n // IVFPQ_CAND_DIV)
        .select("vec_id")
    )
    return cand, n, qemb, planned, total


@register(
    "q_sim_ann_ivfpq",
    oracle=f"""
    WITH params AS (
        SELECT COUNT(*) // {ANN_MP_CELLS} AS astride,
               COUNT(*) // {PQ_K} AS cstride,
               COUNT(*) // {IVFPQ_CAND_DIV} AS cand
        FROM embeddings
    ),
    anchors AS (
        SELECT CAST(vec_id // astride AS INT) AS aid, embedding AS aemb
        FROM embeddings, params
        WHERE vec_id % astride = 0 AND vec_id < astride * {ANN_MP_CELLS}
    ),
    ascored AS (
        SELECT e.vec_id, a.aid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ),
    assign AS (SELECT vec_id, aid AS cell FROM ascored WHERE rn = 1),
    q AS (SELECT embedding AS qemb FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
        SELECT aid FROM anchors, q
        ORDER BY list_cosine_similarity(CAST(aemb AS DOUBLE[]),
                                        CAST(qemb AS DOUBLE[])) DESC, aid
        LIMIT {ANN_MP_PROBE}
    ),
    sample AS (
        SELECT CAST(vec_id // cstride AS INT) AS cid, embedding
        FROM embeddings, params
        WHERE vec_id % cstride = 0 AND vec_id < cstride * {PQ_K}
    ),
    subs AS (SELECT UNNEST(range({PQ_M})) AS m),
    cents AS (
        SELECT m, cid,
               CAST(embedding[m*8+1 : m*8+8] AS DOUBLE[]) AS cent
        FROM sample CROSS JOIN subs
    ),
    pscored AS (
        SELECT e.vec_id, c.m, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id, c.m
                   ORDER BY list_distance(
                       CAST(e.embedding[c.m*8+1 : c.m*8+8] AS DOUBLE[]),
                       c.cent), c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ),
    codes AS (SELECT vec_id, m, cid FROM pscored WHERE rn = 1),
    lut AS (
        SELECT m, cid,
               list_distance(CAST(qemb[m*8+1 : m*8+8] AS DOUBLE[]),
                             cent) AS qd
        FROM cents, q
    ),
    adc AS (
        SELECT k.vec_id,
               (((((MAX(CASE WHEN k.m=0 THEN l.qd END)
                 + MAX(CASE WHEN k.m=1 THEN l.qd END))
                 + MAX(CASE WHEN k.m=2 THEN l.qd END))
                 + MAX(CASE WHEN k.m=3 THEN l.qd END))
                 + MAX(CASE WHEN k.m=4 THEN l.qd END))
                 + MAX(CASE WHEN k.m=5 THEN l.qd END))
                 + MAX(CASE WHEN k.m=6 THEN l.qd END)
                 + MAX(CASE WHEN k.m=7 THEN l.qd END) AS dist
        FROM codes k
        JOIN assign s ON s.vec_id = k.vec_id
        JOIN probe p ON s.cell = p.aid
        JOIN lut l ON k.m = l.m AND k.cid = l.cid
        WHERE k.vec_id <> {QUERY_VEC_ID}
        GROUP BY k.vec_id
    ),
    cand AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS arank
        FROM adc
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM cand
    JOIN embeddings e USING (vec_id)
    CROSS JOIN q
    WHERE cand.arank <= (SELECT cand FROM params)
    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, e.vec_id
    LIMIT {PQ_TOP_K}
    """,
    doc=f"IVF-PQ — the production ANN composition (FAISS's workhorse "
    f"index, both levels deterministic so the oracle reproduces the "
    f"ENTIRE pipeline relationally): the packed-codes table is "
    f"hidden-partitioned by anchor-Voronoi cell, so a query's "
    f"best-{ANN_MP_PROBE}-of-{ANN_MP_CELLS} probe prunes unprobed "
    f"cells' code files at the MANIFEST (never opened), PQ-ADC scores "
    f"only the probed cells' codes (~{PQ_M} bytes/vector, pure "
    f"map-lookup expression), and the best n//{IVFPQ_CAND_DIV} get the "
    f"exact rerank against the float corpus via broadcast semi-join. "
    f"Combines q_sim_ann_multiprobe's scan pruning with q_sim_ann_pq's "
    f"memory compression: at 100 TB a query opens "
    f"~{ANN_MP_PROBE}/{ANN_MP_CELLS} of a codes table that is itself "
    f"~32x smaller than the vectors — the two multiplicative cost cuts "
    f"a real deployment stacks. Candidate recall@{PQ_TOP_K} 0.8-1.0 "
    f"for the oracle probe across shipped sfs; strided-probe floor in "
    f"tests/test_ann_recall.py.",
)
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, _n, qemb, _planned, _total = _ivfpq_scan(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _exact_rerank(emb, cand, qemb, PQ_TOP_K)


QUANT_LEVELS = 127  # symmetric int8


@register(
    "q_embed_quantize",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    s AS (
        SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) / {QUANT_LEVELS} AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(e, x -> floor(x / nullif(scale, 0) + 0.5)) AS qv,
               e
        FROM s
    )
    SELECT vec_id,
           {dround("scale", 6)} AS scale,
           CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT))) AS BIGINT)
             AS q_checksum,
           {dround(
        "list_max(list_transform(range(1, len(e) + 1),"
        " i -> abs(e[i] - qv[i] * scale)))",
        6,
    )} AS max_abs_err
    FROM q
    """,
    doc=f"Symmetric int8 embedding quantization — the storage/serving "
    f"compression step of a vector pipeline: per-vector scale = "
    f"max|x|/{QUANT_LEVELS}, code = floor(x/scale + 0.5) (identical "
    f"half-up in both engines — no engine-specific round()), plus the "
    f"per-element max dequantization error as the quality readout (max, "
    f"not a sum: per-element error doubles are bit-identical across "
    f"engines, but a 64-term float SUM is summation-order-sensitive at "
    f"the last ulp, which flips rounding at knife-edge values). All JVM "
    f"higher-order "
    f"expressions (transform/aggregate folds) in one scan projection — "
    f"no shuffle, no Python; zero-vectors yield NULL via nullif rather "
    f"than dividing by zero.",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = (
        F.array_max(F.transform(e, lambda x: F.abs(x))) / QUANT_LEVELS
    )
    # the raw scale keeps its own name: aliasing the ROUNDED output as
    # "scale" in the same select would lateral-alias-shadow the column
    # the error expression reads, silently quantizing against the
    # 6-digit-rounded scale
    d = emb.select("vec_id", e.alias("e"), scale.alias("scale_raw"))
    qv = F.transform(
        F.col("e"),
        lambda x: F.floor(x / F.nullif(F.col("scale_raw"), F.lit(0.0)) + 0.5),
    )
    d = d.withColumn("qv", qv)
    abs_err = F.zip_with(
        F.col("e"),
        F.col("qv"),
        lambda x, q: F.abs(x - q * F.col("scale_raw")),
    )
    return d.select(
        "vec_id",
        F.round("scale_raw", 6).alias("scale"),
        F.aggregate(
            F.col("qv"), F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint")
        ).alias("q_checksum"),
        F.round(F.array_max(abs_err), 6).alias("max_abs_err"),
    )


@register(
    "q_sim_centroids",
    oracle=f"""
    WITH cells AS (
        SELECT {sign_bucket_sql("embedding", IVF_BITS)} AS cell,
               CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ),
    dims AS (
        SELECT cell,
               UNNEST(emb) AS x,
               CAST(generate_subscripts(emb, 1) - 1 AS INT) AS dim
        FROM cells
    )
    SELECT cell, dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {dround("SUM(x) / COUNT(*)", 4)} AS centroid
    FROM dims
    GROUP BY 1, 2
    """,
    doc=f"IVF coarse-quantizer training step (one Lloyd/k-means update): "
    f"the per-cell mean vector of every sign-LSH cell — exactly the "
    f"centroid refresh an IVF index (q_sim_ann_ivf / q_sim_ann_pruned "
    f"use these cells) runs periodically as the corpus grows. Long-form "
    f"output (cell, dim, centroid): posexplode is map-side, the "
    f"aggregate combines partially on (cell, dim) — the shuffle carries "
    f"|cells| x {64} rows per task, never vectors. Mean = SUM/COUNT "
    f"explicitly on both engines (the explicit-moments determinism "
    f"pattern), dround pinning the 4-dp tie.",
)
def q_sim_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.functions.vectors import sign_bucket

    e = load_table(spark, sf_dir, "embeddings")
    cells = e.select(
        sign_bucket(F.col("embedding"), IVF_BITS).alias("cell"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    return cells.groupBy("cell", "dim").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.sum("x") / F.count("*"), 4).alias("centroid"),
    )
