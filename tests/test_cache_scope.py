"""Caches must not outlive one operator invocation.

Spark's CacheManager substitutes a cached plan into ANY later query
whose analyzed plan ``sameResult``-matches it. An operator that persists
a deterministic intermediate and never unpersists it therefore makes
every subsequent invocation over the same input silently read the first
invocation's rows instead of recomputing — re-executions must compute
from source (the bench and the oracle both rely on that), and the cache
must not accumulate across a long session.

Guard: after a near-dup run() returns, the session holds zero cached
RDDs, the CacheManager is empty and the operator object holds no
per-run state (two run() calls on one object must not share a cache
handle); a mixture-sampler ``cache_input``
run leaves no CacheManager entry either (it materializes via
localCheckpoint, which is invocation-local by construction).
"""

import pytest
from pyspark.sql import functions as F

from dataflow_spark.core.registry import get_operator


def _n_cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def docs(spark):
    rows = [(i, f"some shared boilerplate text piece number {i % 7} "
                f"with a distinct tail {i}") for i in range(60)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


_NEAR_DUP = {
    "MinHashDeduplicateFilter": ({"input_key": "text"}, False),
    "SimHashDeduplicateFilter": ({"input_key": "text"}, False),
    "SemDeduplicateFilter": ({"embedding_key": "embedding"}, False),
    "IncrementalMinHashDedupFilter": ({"input_key": "text"}, True),
}


@pytest.mark.parametrize("name", list(_NEAR_DUP))
def test_neardup_run_leaves_no_state(spark, docs, name):
    """After run() returns: the CacheManager is empty, no cached RDD
    was added (the collapse cache / signature persists are released
    inside run()), and nothing was stored on the operator object."""
    spark.catalog.clearCache()  # isolate from other tests' cache state
    params, incremental = _NEAR_DUP[name]
    base = _n_cached_rdds(spark)  # lingering checkpoint blocks allowed
    op = get_operator(name, {**params, "order_key": "doc_id"})
    before = dict(vars(op))
    df = docs.withColumn("embedding", F.array(
        (F.col("doc_id") % 7).cast("double"), F.lit(1.0),
        (F.col("doc_id") % 3).cast("double")))
    kwargs = {}
    if incremental:
        kwargs["existing"] = df.filter(F.col("doc_id") % 3 == 0)
        df = df.filter(F.col("doc_id") % 3 != 0)
    counts = []
    for _ in range(2):
        out = op.run(df, **kwargs)
        assert _cache_manager_empty(spark)
        assert _n_cached_rdds(spark) <= base
        assert vars(op) == before
        counts.append(out.count())
    # the second invocation recomputes and agrees (nothing cached to
    # serve it)
    assert counts[0] == counts[1]


def test_mixture_sampler_cache_input_no_cache_manager_entry(spark):
    spark.catalog.clearCache()  # isolate from other tests' cache state
    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    op = get_operator("DomainMixtureSampler", {
        "weights": {"a": 0.5, "b": 0.3, "c": 0.2}, "cache_input": True})
    out_cached = op.run(df.withColumn("doc_id", F.col("doc_id")))
    assert _cache_manager_empty(spark)
    op_plain = get_operator("DomainMixtureSampler", {
        "weights": {"a": 0.5, "b": 0.3, "c": 0.2}})
    out_plain = op_plain.run(df)
    # cache_input changes materialization, never results
    a = sorted(r.doc_id for r in out_cached.collect())
    b = sorted(r.doc_id for r in out_plain.collect())
    assert a == b
