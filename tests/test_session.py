"""The session factory's generated-class cache: a mix of queries cycled
through one session reuses its whole-stage-codegen classes instead of
recompiling them on every pass, and a query re-run over unchanged
inputs generates the same source text as its first run."""

from __future__ import annotations

import pytest

from elt_data4transformation_spark.plans import REGISTRY
from tests.conftest import SF_SMALL

# the 14 read queries of the benchmark's dashboard mix: one pass of them
# generates more classes than Spark's default cache of 100 holds
DASHBOARD = (
    "top_k_orders",
    "array_ops",
    "weighted_avg",
    "conditional_agg",
    "date_parts",
    "distinct_counts",
    "lag_trend",
    "latest_order",
    "customers_no_orders",
    "exists_semi_anti",
    "cube_orders",
    "party_normalize",
    "ann_cosine_topk",
    "multimodal_features",
)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (CodegenMetrics counts one
    sample per generated class compiled, cache hits excluded)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _run_pass(spark) -> None:
    for name in DASHBOARD:
        REGISTRY[name].fn(spark, SF_SMALL).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()


def test_cycled_mix_reuses_generated_classes(spark):
    _run_pass(spark)
    before = _compiles(spark)
    _run_pass(spark)
    assert _compiles(spark) == before, (
        f"the repeat pass compiled {_compiles(spark) - before} classes: "
        "the generated-class cache no longer holds one pass of the mix "
        "(spark.sql.codegen.cache.maxEntries in session.get_spark)"
    )


# dq_runner: AQE numbers its query stages in completion order, which
# varies run to run (a recompile unless the class name leaves the id
# out); coverage_funnel: four DISTINCT aggregates made Spark order its
# Expand projections by expression-id hash (a recompile every run)
@pytest.mark.parametrize("name", ["dq_runner", "coverage_funnel"])
def test_rerun_generates_no_new_classes(spark, name):
    def run() -> None:
        REGISTRY[name].fn(spark, SF_SMALL).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()

    run()
    before = _compiles(spark)
    run()
    run()
    assert _compiles(spark) == before, (
        f"{name}: two re-runs over unchanged inputs compiled "
        f"{_compiles(spark) - before} classes"
    )
