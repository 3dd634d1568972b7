"""Spark's generated-class cache must hold a served statement mix.

A server answers the same statements over and over. The 22 TPC-H texts
need more generated classes than Spark's default cache of 100, so with
the default every pass over them evicts and recompiles all of them.
``EngineConfig.spark_confs`` sizes the cache (a static conf, applied by
the session builder) so that repeated passes compile nothing new.
"""

from swanlake_spark.queries.tpch import TPCH_QUERIES


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_tpch_mix_compiles_nothing_new(spark, sf_dir):
    specs = [TPCH_QUERIES[f"tpch_q{n}"] for n in range(1, 23)]
    added = []
    for _ in range(3):
        before = _compilations(spark)
        for spec in specs:
            spec.build(spark, sf_dir).collect()
        added.append(_compilations(spark) - before)
    assert added[2] == 0, f"compilations per pass: {added}"
