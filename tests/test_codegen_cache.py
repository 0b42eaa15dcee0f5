"""Warm queries reuse Spark's generated code.

Spark caches the classes whole-stage codegen compiles with Janino. When
the cache holds fewer classes than a workload generates, every warm pass
evicts and recompiles them (and HotSpot re-JITs each new class). This
pins the behaviour, not the conf value: a second back-to-back sweep of
the 22 TPC-H queries compiles next to nothing.
"""

from __future__ import annotations

from iceberg_poc_spark.registry import load_all
from tests.conftest import SF_DIR

TPCH = [f"q_tpch_q{i}" for i in range(1, 23)]


def test_warm_tpch_sweep_compiles_almost_nothing(spark):
    queries = load_all()
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()

    def sweep() -> int:
        c0 = compiles.getCount()
        for n in TPCH:
            queries[n].fn(spark, SF_DIR).collect()
        return compiles.getCount() - c0

    first, second = sweep(), sweep()
    assert second <= 10, (first, second)
