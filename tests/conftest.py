import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("ssb-sgis-spark-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def jobs_during(spark):
    """``jobs_during(fn)`` -> (fn(), ids of the Spark jobs fn ran), read
    from a job group of its own: the status store keeps finished jobs,
    so a shared group id would also count an earlier call's jobs."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-during-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def cc_paths(monkeypatch):
    """``for _ in cc_paths(): ...`` runs a test body on both
    connected-components paths: the driver-side labels at the default
    ``LOCAL_CC_MAX_EDGES``, then the distributed rounds with the bound
    at 0 (a strict ``<``, so even an empty graph goes distributed)."""
    from ssb_sgis_spark.operators import clusters

    def paths():
        for bound in (clusters.LOCAL_CC_MAX_EDGES, 0):
            monkeypatch.setattr(clusters, "LOCAL_CC_MAX_EDGES", bound)
            yield bound

    return paths
