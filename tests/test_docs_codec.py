"""Codec + XML loader + synthetic generator tests (no Spark needed here)."""

from __future__ import annotations

import json

from osm_cut_spark.sources.docs import (
    element_to_spans,
    elements_to_doc_rows,
    spans_to_elements,
    synthesize_osm_docs,
)
from osm_cut_spark.sources.osm_xml import load_osm_xml

from conftest import FIXTURE_OSM


def test_xml_loader_fixture_shape():
    els = load_osm_xml(FIXTURE_OSM)
    kinds = [e["kind"] for e in els]
    assert kinds == ["node"] * 6 + ["way"] * 2 + ["relation"] * 4
    n3 = els[2]
    assert n3["id"] == 3 and n3["lon"] == 10.0 and n3["lat"] == 5.0
    assert n3["tags"] == [("name", "Jam's Sandwich Bar"), ("amenity", "cafe")]
    w1 = els[6]
    assert w1["nds"] == [1, 2, 3, 4, 1]
    w2 = els[7]
    assert w2["version"] is None and w2["user"] is None  # absent-attr tolerance
    r4 = els[11]
    assert r4["members"] == [("relation", 2, "sub" if False else ""), ("relation", 3, "")]


def test_roundtrip_fixture():
    els = load_osm_xml(FIXTURE_OSM)
    rows = elements_to_doc_rows(els)
    assert len(rows) == 1
    decoded = spans_to_elements(rows[0]["spans"])
    assert decoded == els


def test_roundtrip_chunked():
    els = load_osm_xml(FIXTURE_OSM)
    rows = elements_to_doc_rows(els, elements_per_doc=3)
    assert len(rows) == 4
    decoded = [e for r in rows for e in spans_to_elements(r["spans"])]
    assert decoded == els


def test_span_offsets_contiguous():
    els = load_osm_xml(FIXTURE_OSM)
    rows = elements_to_doc_rows(els)
    offsets = [s[3] for s in rows[0]["spans"]]
    assert offsets == list(range(len(offsets)))


def test_canonical_json_deterministic():
    el = load_osm_xml(FIXTURE_OSM)[0]
    a = element_to_spans(el)
    b = element_to_spans(dict(reversed(list(el.items()))))  # key order irrelevant
    assert a == b
    attrs = json.loads(a[0][1])
    assert attrs["id"] == 1 and attrs["lon"] == 0.0


def test_absent_attrs_omitted():
    els = load_osm_xml(FIXTURE_OSM)
    w2 = [e for e in els if e["kind"] == "way" and e["id"] == 2][0]
    spans = element_to_spans(w2)
    assert json.loads(spans[0][1]) == {"id": 2}


def test_generator_deterministic():
    a = synthesize_osm_docs(20, seed=42)
    b = synthesize_osm_docs(20, seed=42)
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["spans"].tolist() == b["spans"].tolist()
    c = synthesize_osm_docs(20, seed=43)
    assert a["spans"].tolist() != c["spans"].tolist()


def test_generator_decodable_and_interleaved():
    pdf = synthesize_osm_docs(10, seed=1)
    kinds_seen = set()
    node_count = way_count = 0
    for spans in pdf["spans"]:
        offsets = [s[3] for s in spans]
        assert offsets == list(range(len(offsets)))
        kinds_seen |= {s[0] for s in spans}
        els = spans_to_elements(spans)
        node_count += sum(1 for e in els if e["kind"] == "node")
        way_count += sum(1 for e in els if e["kind"] == "way")
        for e in els:
            if e["kind"] == "way":
                assert len(e["nds"]) >= 2
    assert {"node", "way", "relation", "nd", "member", "tag", "text", "media"} <= kinds_seen
    assert node_count == 80 and way_count == 20


def test_generator_hot_cell_skew():
    pdf = synthesize_osm_docs(50, seed=42, hot_fraction=0.5)
    lons = []
    for spans in pdf["spans"]:
        for e in spans_to_elements(spans):
            if e["kind"] == "node":
                lons.append(e["lon"])
    hot = sum(1 for x in lons if abs(x - 2.0) < 0.01)
    assert hot > 0.4 * len(lons)
