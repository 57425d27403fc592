"""Cache lifetime gates: every persisted or checkpointed frame a query
registers is freed by ``release_caches`` — nothing outlives its query in a
shared session — and the scope frees what it registered, checkpoints
included (``DataFrame.unpersist()`` does not free a ``localCheckpoint``)."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from laji_pygeoapi_spark.plans.curation import release_caches

SF_DIR = "/root/testdata/sf0.001"


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_scope_frees_persists_and_checkpoints(spark):
    from laji_pygeoapi_spark import cache
    before = _persistent_ids(spark)
    df = spark.range(50).withColumn("x", F.col("id") * 2)
    with pytest.raises(RuntimeError):
        with cache.scope():
            cache.persist(df.select("id")).count()
            cache.checkpoint(df)
            cache.checkpoint(df, eager=False)
            assert len(_persistent_ids(spark) - before) == 3
            raise RuntimeError("released on the way out")
    assert not _persistent_ids(spark) - before
    with cache.scope() as frames:
        early = cache.checkpoint(df)
        kept = cache.checkpoint(df)
        cache.unpersist(early)
        assert frames == [kept]
        assert len(_persistent_ids(spark) - before) == 1
    assert not _persistent_ids(spark) - before


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_releases_every_cache(spark, name):
    """Each queries() entry, materialized the way bench.py does (noop
    write, then release_caches), leaves no persistent RDD behind."""
    before = _persistent_ids(spark)
    res = entrymod.queries()[name](spark, SF_DIR)
    res.write.format("noop").mode("overwrite").save()
    release_caches(res)
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"{name} leaked persistent RDDs {sorted(leaked)}"
