"""Session defaults: generated code compiles once per session, and plans
build without Python call-site capture."""

from __future__ import annotations

import re

from pyspark.errors.utils import is_debugging_enabled

from bakery_big_data_spark.plans import REGISTRY
from bakery_big_data_spark.session import CODEGEN_CACHE_ENTRIES
from perfbench.workloads import serving_names


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_is_sized(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_dataframe_debugging_is_off(spark):
    """PySpark caches the setting per process at the first wrapped call, so
    the session conf and the cached value must both say off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_serving_round_reuses_generated_code(spark, sf01_dir):
    """A serving round generates a few hundred classes, more than Spark's
    default 100-entry cache holds; with the cache sized by ``get_spark``,
    the third identical round compiles nothing for any query whose plan
    repeats an earlier round's.

    Plans are compared as optimized-plan text without expression ids.  A
    plan need not repeat: Spark orders the Expand projections of an
    aggregate with several COUNT(DISTINCT) groups by expression-id hashes,
    so such a query (``global_scalar_uniqueness``) draws one of n!
    orderings per build, and a new ordering is new code."""
    names = serving_names(REGISTRY)
    assert len(names) >= 20
    seen: dict[str, set] = {name: set() for name in names}
    for _ in range(3):
        last = {}
        for name in names:
            before = _compiles(spark)
            df = REGISTRY[name].build(spark, sf01_dir)
            df.collect()
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            plan = re.sub(r"#\d+L?", "", plan)
            last[name] = (plan in seen[name], _compiles(spark) - before)
            seen[name].add(plan)
    repeated = {n: c for n, (again, c) in last.items() if again}
    assert len(repeated) >= len(names) // 2, sorted(set(names) - set(repeated))
    assert sum(repeated.values()) == 0, {n: c for n, c in repeated.items() if c}
