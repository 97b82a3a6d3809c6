import os

import pytest

# Test sessions default to 24 cores: the suite is wall-clock bound on the
# verification window and the heavy modules (store roundtrips, PQ/IVF
# training, codec kernels) scale with cores — measured on test_store.py:
# 517 s at 8, 320 s at 24, 340 s at 32 (task-scheduling overhead passes
# the compute win beyond ~24). Shuffle partitions stay 8 (sized to the
# sf0.001 test data, not to cores). SPARK_GRAFT_TEST_CPUS overrides
# unconditionally; an inherited SPARK_GRAFT_CPUS (e.g. from a bench
# wrapper) is respected as before.
os.environ["SPARK_GRAFT_CPUS"] = os.environ.get(
    "SPARK_GRAFT_TEST_CPUS", os.environ.get("SPARK_GRAFT_CPUS", "24")
)
os.environ.setdefault("SPDB_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from spdb_spark.session import get_spark

    spark = get_spark("spdb_spark_tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from spdb_spark.session import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def gate_frame(spark):
    """`gate_frame(name, fn)`: full collect (every column) of registry gate
    `fn` under a session whose ANSI flag is forced on, memoised per gate
    name for the session — the ANSI net (test_ansi_parity) and the gate's
    oracle compare (test_suite_r13/r14) grade the same frame instead of
    running each streaming/crawl gate twice."""
    frames = {}

    def collect(name, fn):
        if name not in frames:
            before = spark.conf.get("spark.sql.ansi.enabled")
            spark.conf.set("spark.sql.ansi.enabled", "true")
            try:
                frames[name] = fn(spark, SF_DIR).toPandas()
            finally:
                spark.conf.set("spark.sql.ansi.enabled", before)
        return frames[name].copy()

    return collect


@pytest.fixture(scope="session")
def clustered2k(spark):
    """The 2000-vector recall-floor corpus (tools.ann_recall.make_clustered
    defaults) — built once per SESSION: three recall-floor tests across
    test_pq.py and test_pq_arrow.py each rebuilt it plus its brute-force
    truth table."""
    from tools.ann_recall import make_clustered

    return make_clustered(spark, n=2000, dim=64, n_clusters=40, noise=0.3).persist()


@pytest.fixture(scope="session")
def truth2k(spark, clustered2k):
    """Brute-force ground truth over clustered2k (queries = vec_id % 100
    == 0, k=10), shared by every recall-floor test."""
    from pyspark.sql import functions as F

    from spdb_spark.functions.similarity import brute_force_topk
    from tools.ann_recall import _truth_sets

    queries = clustered2k.where(F.col("vec_id") % 100 == 0)
    return _truth_sets(brute_force_topk(clustered2k, queries, k=10))
