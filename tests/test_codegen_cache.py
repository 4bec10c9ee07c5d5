"""A session compiles each generated class once.

The staged document profile runs ~400 distinct whole-stage codegen
classes a pass. With Spark's defaults (stage id in every class name, a
100-class cache) every warm build recompiled nearly all of them; the
session's confs make a second build of the same plan reuse them.
"""

from __future__ import annotations

from tests.conftest import SF_DIR

from tscan_spark.cache import release_caches
from tscan_spark.registry import QUERIES
from tscan_spark.session import BUILDER_CONF

# AQE may re-plan a stage differently on the second pass depending on
# timing; a handful of new classes is that, hundreds is a cache miss
MAX_WARM_COMPILES = 10


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _build_and_write(spark) -> None:
    df = QUERIES["tscan_doc_profile_staged"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    release_caches(df)


def test_session_reports_codegen_confs(spark):
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    for k, v in BUILDER_CONF.items():
        assert spark.conf.get(k) == v


def test_second_build_reuses_compiled_classes(spark):
    _build_and_write(spark)
    before = _compiles(spark)
    _build_and_write(spark)
    compiled = _compiles(spark) - before
    assert compiled <= MAX_WARM_COMPILES, compiled
