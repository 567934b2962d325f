"""Spark job budget and output-plan size of one whole cut, per mode.

Job counts are deterministic where walls are not, so they are pinned:
a change that adds a job to the cut fails here.  The count covers
``extract()`` plus one ``elements()`` action in the same job group: the
selections are checkpointed leaves whose jobs run partly at the
``extract()`` call and partly inside the first action, so neither half
alone is comparable across changes.  The counts come from the status
tracker's job group, which includes the edge probe's jobs (the probe runs
on an InheritableThread, so its jobs carry the caller's group).  The
generated table has relation->relation links that the closure follows in
both modes, so the driver walk and its ship-back of the new ancestors are
inside the count.

The output plan is pinned too: it is one docs scan joined to one
checkpointed selection map, not the selection DAG (which once rendered to
millions of characters for every execution and AQE re-plan).
"""

from __future__ import annotations

import uuid

import pytest

from osm_cut_spark.functions.cells import polygon_cell_cover
from osm_cut_spark.functions.geometry import prepare_polygon
from osm_cut_spark.operators.extract import extract
from osm_cut_spark.sources.docs import synthetic_docs_spark

TRIANGLE = [(0.0, 0.0), (5.0, 0.0), (10.0, 5.0)]

# measured on 40 generated documents (seed 3), local[4], 8 shuffle
# partitions: extract() + elements().collect()
JOB_BUDGET = {False: 28, True: 31}
# characters of the output's executed plan (about 6,200 on this input)
MAX_PLAN_CHARS = 20_000


def _cut(spark, complete: bool):
    poly = prepare_polygon([("include", TRIANGLE)])
    docs = synthetic_docs_spark(spark, 40, seed=3)
    return extract(spark, docs, poly, complete=complete, cover=polygon_cell_cover(poly))


def _cut_jobs(spark, complete: bool) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        res = _cut(spark, complete)
        res.elements().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    res.release()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("complete", [False, True], ids=["non_complete", "complete"])
def test_extract_job_budget(spark, complete):
    assert _cut_jobs(spark, complete) == JOB_BUDGET[complete]


@pytest.mark.parametrize("complete", [False, True], ids=["non_complete", "complete"])
def test_output_plan_size(spark, complete):
    res = _cut(spark, complete)
    plan = res.elements()._jdf.queryExecution().executedPlan().toString()
    res.release()
    assert len(plan) <= MAX_PLAN_CHARS, len(plan)
