from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# the reference processor_SUITE fixtures, rebuilt in-repo (FIXTURES.md §1.1-1.2)
FIXTURES = Path(__file__).resolve().parent / "fixtures"
FIXTURE_OSM = str(FIXTURES / "1.osm")
FIXTURE_POLY = str(FIXTURES / "simple.poly")


@pytest.fixture(scope="session")
def spark():
    from osm_cut_spark.session import get_session

    s = get_session(app_name="osm_cut_spark_tests", cpus=4, shuffle_partitions=8)
    yield s


@pytest.fixture(params=["worklist", "fixpoint"])
def closure_path(request, monkeypatch):
    """Run a test on both relation-closure paths: the driver worklist, and
    the DataFrame fixpoint, forced by an edge limit of 0."""
    if request.param == "fixpoint":
        from osm_cut_spark.operators import extract

        monkeypatch.setattr(extract, "DRIVER_MAX_EDGES", 0)
    return request.param


def persisted_rdds(spark) -> int:
    """How many RDDs the session holds persisted (caches and checkpoints)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def drop_persisted(spark) -> int:
    """Free what earlier tests left persisted and return the count left.
    ``clearCache()`` drops cached tables but not checkpoint blocks, so
    every persisted RDD is unpersisted too."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in list(rdds.keySet()):
        rdds.get(rdd_id).unpersist(False)
    return persisted_rdds(spark)
