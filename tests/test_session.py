"""Session construction: the codegen cache holds the engine's working set.

Spark caches Janino-compiled generated classes in an LRU keyed by the
generated source.  At Spark's default of 100 entries, a pass over the
bench headline queries plus the corpus pipeline (well over 100 classes)
evicted every class before its next use, so each warm pass recompiled
all of them.  ``get_spark`` sizes the cache so a repeated pass
compiles almost nothing.
"""

from __future__ import annotations

import bench
from powertrainstreaming_spark import session
from powertrainstreaming_spark.plans.registry import all_defs

_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
_CORPUS_OPS = ("pipeline_corpus_clean", "dedup_near_minhash", "sim_knn_ivf_kmeans")

# Classes a warm round may still compile.  With the cache sized to the
# working set a warm round compiled 0-2 here (2-8 for a perfbench
# ``batch_mix`` pass); at Spark's default of 100 entries it was 225-232.
_WARM_COMPILE_BOUND = 25


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one histogram sample each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_working_set(spark, sf_dir: str) -> None:
    defs = all_defs()
    fns = [*bench._headline().values(), *(defs[k].fn for k in _CORPUS_OPS)]
    for fn in fns:
        fn(spark, sf_dir).collect()


def test_get_spark_sizes_the_codegen_cache(spark):
    assert session.get_spark() is spark
    entries = str(session._CODEGEN_CACHE_ENTRIES)
    assert spark.sparkContext.getConf().get(_CACHE_KEY) == entries
    assert spark.conf.get(_CACHE_KEY) == entries


def test_warm_pass_reuses_generated_classes(spark, sf_small):
    _run_working_set(spark, sf_small)
    before = _compiles(spark)
    _run_working_set(spark, sf_small)
    recompiled = _compiles(spark) - before
    assert recompiled <= _WARM_COMPILE_BOUND, (
        f"a warm pass over the headline + corpus working set compiled "
        f"{recompiled} classes; the codegen cache is evicting them"
    )
