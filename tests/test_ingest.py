"""Spark ingest tests: span reconstruction == Python reference decoder."""

from __future__ import annotations

import pytest

from osm_cut_spark.operators.ingest import (
    explode_elements,
    parse_documents,
    parse_passthrough_spans,
)
from osm_cut_spark.sources.docs import (
    doc_rows_to_spark,
    elements_to_doc_rows,
    synthetic_docs_spark,
)
from osm_cut_spark.sources.osm_xml import load_osm_xml

from conftest import FIXTURE_OSM


@pytest.fixture(scope="module")
def fixture_docs(spark):
    els = load_osm_xml(FIXTURE_OSM)
    return doc_rows_to_spark(spark, elements_to_doc_rows(els)), els


def test_explode_elements_order(spark, fixture_docs):
    docs, els = fixture_docs
    rows = explode_elements(docs).orderBy("offset").collect()
    assert [r.kind for r in rows] == [e["kind"] for e in els]
    assert [len(r.child_spans) for r in rows][:6] == [0, 0, 2, 1, 0, 0]


def test_parse_nodes_fields(spark, fixture_docs):
    docs, els = fixture_docs
    nodes, ways, relations = parse_documents(docs)
    got = {r.id: r for r in nodes.collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    n1 = got[1]
    assert (n1.lon, n1.lat, n1.version, n1.uid, n1.user, n1.changeset) == (
        0.0,
        0.0,
        1,
        6871,
        "smsm1",
        440330,
    )
    assert n1.timestamp == "2008-12-17T01:18:42Z"
    n3 = got[3]
    assert [(t.k, t.v) for t in n3.tags] == [("name", "Jam's Sandwich Bar"), ("amenity", "cafe")]


def test_parse_ways_order_and_absent_meta(spark, fixture_docs):
    docs, _ = fixture_docs
    _, ways, _ = parse_documents(docs)
    got = {r.id: r for r in ways.collect()}
    assert got[1].nds == [1, 2, 3, 4, 1]  # order-significant
    assert [(t.k, t.v) for t in got[1].tags] == [("access", "private"), ("highway", "service")]
    w2 = got[2]
    assert w2.nds == [4]
    assert w2.version is None and w2.user is None and w2.timestamp is None


def test_parse_relations_members(spark, fixture_docs):
    docs, _ = fixture_docs
    _, _, relations = parse_documents(docs)
    got = {r.id: r for r in relations.collect()}
    assert [(m.type, m.ref, m.role) for m in got[1].members] == [("way", 1, ""), ("node", 6, "")]
    assert [(m.type, m.ref, m.role) for m in got[4].members] == [
        ("relation", 2, ""),
        ("relation", 3, ""),
    ]
    assert [(t.k, t.v) for t in got[1].tags] == [
        ("admin_level", "8"),
        ("boundary", "administrative"),
        ("name", "Warsaw"),
        ("type", "boundary"),
    ]


def test_unsorted_spans_defensive_sort(spark, fixture_docs):
    _, els = fixture_docs
    rows = elements_to_doc_rows(els)
    rows[0]["spans"] = list(reversed(rows[0]["spans"]))
    docs = doc_rows_to_spark(spark, rows)
    nodes, ways, _ = parse_documents(docs, assume_sorted=False)
    assert {r.id for r in nodes.collect()} == {1, 2, 3, 4, 5, 6}
    assert {r.id: r.nds for r in ways.collect()}[1] == [1, 2, 3, 4, 1]


def test_synthetic_ingest_counts(spark):
    docs = synthetic_docs_spark(spark, 30, seed=42)
    nodes, ways, relations = parse_documents(docs)
    assert nodes.count() == 240
    assert ways.count() == 60
    assert relations.count() == 30
    # cross-doc refs exist: some way nd refs point outside the doc's own nodes
    import pyspark.sql.functions as F

    n_refs = ways.select(F.explode("nds").alias("ref")).distinct().count()
    assert n_refs > 0


def test_passthrough_spans(spark):
    docs = synthetic_docs_spark(spark, 10, seed=42)
    pt = parse_passthrough_spans(docs)
    kinds = {r.kind for r in pt.collect()}
    assert kinds == {"text", "media"}
    media = pt.filter("kind = 'media'").collect()
    assert all(r.media_ref.startswith("media://") for r in media)


def test_ingest_plan_has_no_python_and_no_shuffle(spark, fixture_docs):
    """The ingest stage must stay JVM-side (no ArrowEvalPython/BatchEvalPython)
    and shuffle-free (no Exchange)."""
    docs, _ = fixture_docs
    nodes, _, _ = parse_documents(docs)
    plan = nodes._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_narrow_parse_prunes_media_ref(spark, tmp_path):
    """The selection-phase parse must not pay for span fields it never
    reads: parse_elements_narrow's parquet ReadSchema carries ONLY
    (kind, text, offset) — media_ref (arbitrarily fat on real multimodal
    corpora) is pruned at the reader.  The HOF pipeline alone defeats
    Spark's nested-schema pruning; the arrays_zip-of-field-accesses
    projection in parse_elements_narrow is what buys this, so pin it.
    Output parity with the unpruned path is covered by the extract/oracle
    suites (same columns, same values)."""
    from osm_cut_spark.operators.ingest import parse_elements_narrow
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    path = str(tmp_path / "docs.parquet")
    synthetic_docs_spark(spark, 20, seed=7).write.parquet(path)
    docs = spark.read.parquet(path)
    plan = parse_elements_narrow(docs)._jdf.queryExecution().executedPlan().toString()
    import re

    rs = re.search(r"ReadSchema: ([^\n]*)", plan).group(1)
    assert "media_ref" not in rs, rs
    assert "kind" in rs and "text" in rs and "offset" in rs, rs
    # and the stage contract still holds
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
