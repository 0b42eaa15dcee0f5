"""Differential fuzz of the text-op twins: for arbitrary documents, the
Spark expressions and their DuckDB oracle SQL must produce identical
shingles and identical MinHash signatures. These two primitives underpin
every near-dedup / decontamination query, so a silent divergence (split
semantics, slice bounds, hex-min ordering) would skew their results at
any scale. One batched Spark+DuckDB pass per example set keeps it fast.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iceberg_poc_spark.operators.dedup import _minhash_cols
from iceberg_poc_spark.operators.text import (
    shingles_col,
    shingles_sql,
    with_words,
)

# space-free tokens (the split contract): printable ascii sans space
token = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1,
    max_size=8,
)
doc = st.lists(token, min_size=1, max_size=30).map(" ".join)


def _duck(docs: list[str], select: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(docs)))
        + ") t(doc_id, text)",
        docs,
    )
    return sorted(map(tuple, con.execute(select).fetchall()))


@pytest.mark.parametrize("k", [3, 8])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(doc, min_size=1, max_size=20))
def test_shingles_match_oracle(spark, docs, k):
    sdf = spark.createDataFrame(
        list(enumerate(docs)), "doc_id INT, text STRING"
    )
    got = sorted(
        map(
            tuple,
            with_words(sdf)
            .select("doc_id", F.explode(shingles_col(k=k)).alias("s"))
            .collect(),
        )
    )
    want = _duck(
        docs,
        f"SELECT doc_id, unnest({shingles_sql(k=k)}) AS s "
        "FROM documents ORDER BY 1, 2",
    )
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(doc, min_size=1, max_size=12))
def test_minhash_signatures_match_oracle(spark, docs):
    from iceberg_poc_spark.operators.dedup import (
        N_SALTS,
        WORDS_PER_MD5,
    )

    sdf = spark.createDataFrame(
        list(enumerate(docs)), "doc_id INT, text STRING"
    )
    got = sorted(
        map(
            tuple,
            with_words(sdf)
            .select(
                "doc_id",
                F.explode(F.array_distinct(shingles_col())).alias("shingle"),
            )
            .groupBy("doc_id")
            .agg(*_minhash_cols())
            .collect(),
        )
    )
    mh_exprs = ",\n".join(
        f"min(substr(md5('{s}:' || shingle), {1 + 8 * w}, 8)) AS mh{s * WORDS_PER_MD5 + w}"
        for s in range(N_SALTS)
        for w in range(WORDS_PER_MD5)
    )
    want = _duck(
        docs,
        f"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_distinct({shingles_sql()})) AS shingle
            FROM documents
        )
        SELECT doc_id, {mh_exprs} FROM sh GROUP BY doc_id ORDER BY doc_id
        """,
    )
    assert got == want


def test_propagate_labels_releases_cache_and_conf_on_error(spark, monkeypatch):
    """A failing fixpoint loop must not leak the cached edge RDD nor
    leave AQE switched off for the next query on the session."""
    from iceberg_poc_spark.operators import dedup

    def _boom(*_a, **_k):
        raise RuntimeError("injected")

    monkeypatch.setattr(dedup, "_propagate_rounds", _boom)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a INT, doc_b INT")
    with pytest.raises(RuntimeError, match="injected"):
        dedup._propagate_labels(spark, pairs)
    assert jsc.getPersistentRDDs().size() == before
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
