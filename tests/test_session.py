"""``session.get_session`` sizes Spark's generated-code cache to the
engine's working set: once the headline queries have run, running them
again compiles no class."""

from __future__ import annotations

from bench import HEADLINE
from datapipeline_gcp_spark import registry

from tests.conftest import SF_SMOKE


def test_headline_second_pass_compiles_nothing(spark):
    queries = registry.all_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def headline_pass() -> None:
        for name in HEADLINE:
            queries[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    headline_pass()
    before = compiles.getCount()
    headline_pass()
    assert compiles.getCount() - before == 0
