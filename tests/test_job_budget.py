"""Spark job budget of one extract() call, per mode.

Job counts are deterministic where walls are not, so they are pinned:
a change that adds a job to the extract chain fails here.  The counts
come from the status tracker's job group, which includes the edge
probe's jobs (the probe runs on an InheritableThread, so its jobs carry
the caller's group).  The generated table has relation->relation links
that the closure follows in both modes, so the driver walk and its
ship-back of the new ancestors are inside the count.
"""

from __future__ import annotations

import uuid

import pytest

from osm_cut_spark.functions.cells import polygon_cell_cover
from osm_cut_spark.functions.geometry import prepare_polygon
from osm_cut_spark.operators.extract import extract
from osm_cut_spark.sources.docs import synthetic_docs_spark

TRIANGLE = [(0.0, 0.0), (5.0, 0.0), (10.0, 5.0)]

# measured on 40 generated documents (seed 3), local[4], 8 shuffle partitions
JOB_BUDGET = {False: 22, True: 25}


def _extract_jobs(spark, docs, poly, cover, complete: bool) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        res = extract(spark, docs, poly, complete=complete, cover=cover)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    res.release()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("complete", [False, True], ids=["non_complete", "complete"])
def test_extract_job_budget(spark, complete):
    poly = prepare_polygon([("include", TRIANGLE)])
    cover = polygon_cell_cover(poly)
    docs = synthetic_docs_spark(spark, 40, seed=3)
    assert _extract_jobs(spark, docs, poly, cover, complete) == JOB_BUDGET[complete]
