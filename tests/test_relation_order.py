"""Stream-order semantics of non-complete relation selection.

The reference's single pass means a relation's relation-type members only
count if the member relation was already written — i.e. appears EARLIER
in the stream (osm_process_non_complete.erl:90-105).  Our stream order is
(doc_id, offset).  These tests pin the order dependence with chained
relations placed before/after their children.
"""

from __future__ import annotations

import pytest

from osm_cut_spark.functions.cells import polygon_cell_cover
from osm_cut_spark.functions.geometry import prepare_polygon
from osm_cut_spark.operators import extract as X
from osm_cut_spark.operators.extract import extract
from osm_cut_spark.sources.docs import doc_rows_to_spark, elements_to_doc_rows

TRIANGLE = [(0.0, 0.0), (5.0, 0.0), (10.0, 5.0)]


def _node(i, lon, lat):
    return {"kind": "node", "id": i, "lon": lon, "lat": lat, "version": 1,
            "timestamp": None, "uid": None, "user": None, "changeset": None, "tags": []}


def _way(i, nds):
    return {"kind": "way", "id": i, "nds": nds, "version": None, "timestamp": None,
            "uid": None, "user": None, "changeset": None, "tags": []}


def _rel(i, members):
    return {"kind": "relation", "id": i, "members": members, "version": None,
            "timestamp": None, "uid": None, "user": None, "changeset": None, "tags": []}


@pytest.fixture(scope="module")
def setup(spark):
    poly = prepare_polygon([("include", TRIANGLE)])
    return poly, polygon_cell_cover(poly)


def _rows(spark, els, poly, cover, complete, epd):
    docs = doc_rows_to_spark(spark, elements_to_doc_rows(els, elements_per_doc=epd))
    r = extract(spark, docs, poly, complete=complete, cover=cover)
    rows = sorted(
        (x.phase, x.kind, x.id, x.doc_id, x.offset, tuple(tuple(c) for c in x.out_child_spans))
        for x in r.elements().collect()
    )
    r.release()
    return rows


def _run(spark, els, poly, cover, complete=False, epd=0):
    """Selected (kind, id) set.  Every case runs on both closure paths —
    the driver worklist and the DataFrame fixpoint, forced by an edge
    limit of 0 — and the two must produce identical output rows."""
    worklist = _rows(spark, els, poly, cover, complete, epd)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(X, "DRIVER_MAX_EDGES", 0)
        fixpoint = _rows(spark, els, poly, cover, complete, epd)
    assert fixpoint == worklist
    return {(kind, i) for _, kind, i, *_ in worklist}


def test_relation_chain_forward_order_kept(spark, setup):
    """rel 10 (selected via way) earlier than rel 11 {rel 10} -> 11 kept."""
    poly, cover = setup
    els = [
        _node(1, 1.0, 0.2),
        _way(5, [1]),
        _rel(10, [("way", 5, "")]),
        _rel(11, [("relation", 10, "")]),
    ]
    got = _run(spark, els, poly, cover)
    assert ("relation", 11) in got and ("relation", 10) in got


def test_relation_chain_backward_order_dropped(spark, setup):
    """rel 11 {rel 10} BEFORE rel 10 in the stream -> 11 dropped
    (single-pass semantics: 10 was not yet in the set)."""
    poly, cover = setup
    els = [
        _node(1, 1.0, 0.2),
        _way(5, [1]),
        _rel(11, [("relation", 10, "")]),
        _rel(10, [("way", 5, "")]),
    ]
    got = _run(spark, els, poly, cover)
    assert ("relation", 10) in got
    assert ("relation", 11) not in got


def test_relation_chain_depth3(spark, setup):
    """10 <- 11 <- 12 all in forward order -> all kept transitively."""
    poly, cover = setup
    els = [
        _node(1, 1.0, 0.2),
        _way(5, [1]),
        _rel(10, [("way", 5, "")]),
        _rel(11, [("relation", 10, "")]),
        _rel(12, [("relation", 11, "")]),
    ]
    got = _run(spark, els, poly, cover)
    assert {("relation", 10), ("relation", 11), ("relation", 12)} <= got


def test_relation_chain_across_docs(spark, setup):
    """Chain spans documents; (doc_id, offset) is the global order."""
    poly, cover = setup
    els = [
        _node(1, 1.0, 0.2),
        _way(5, [1]),
        _rel(10, [("way", 5, "")]),
        _rel(11, [("relation", 10, "")]),
        _rel(12, [("relation", 11, "")]),
        _rel(13, [("relation", 99, "")]),  # dangling ref -> dropped
    ]
    got = _run(spark, els, poly, cover, epd=2)  # 2 elements per doc
    assert {("relation", 10), ("relation", 11), ("relation", 12)} <= got
    assert ("relation", 13) not in got


def test_complete_mode_order_independent(spark, setup):
    """Complete mode's ancestor closure ignores relation order
    (osm_process_complete.erl stores all relations before closing)."""
    poly, cover = setup
    els = [
        _node(1, 1.0, 0.2),
        _way(5, [1]),
        _rel(11, [("relation", 10, "")]),  # parent BEFORE child
        _rel(10, [("way", 5, "")]),
    ]
    got = _run(spark, els, poly, cover, complete=True)
    assert {("relation", 10), ("relation", 11)} <= got


def test_complete_chain_past_fixpoint_checkpoints(spark, setup):
    """A 70-level ancestor chain in complete mode: past the every-8-levels
    localCheckpoint of the DataFrame fixpoint, which runs until its
    frontier is empty, with no level cap.  Listed parent-first, so stream
    order never helps.  Both paths must select all 71 relations, with
    identical output rows."""
    poly, cover = setup
    depth = 70
    chain = [_rel(100 + i, [("relation", 99 + i, "")]) for i in range(depth, 0, -1)]
    els = [_node(1, 1.0, 0.2), _way(5, [1]), *chain, _rel(100, [("way", 5, "")])]
    got = _run(spark, els, poly, cover, complete=True, epd=8)
    assert {("relation", 100 + i) for i in range(depth + 1)} <= got


def test_complete_duplicate_relation_id_across_docs(spark, setup, closure_path):
    """One relation id in two documents (complete mode).  Selection is by
    id, so both rows are candidates; the row whose members all miss the
    selection is absent from the output, not emitted with no members."""
    poly, cover = setup
    els = [
        _node(1, 1.0, 0.2),
        _node(2, 20.0, 20.0),  # outside
        _way(5, [1]),
        _rel(10, [("way", 5, "")]),  # doc 0: selected via way 5
        _rel(10, [("node", 2, "")]),  # doc 1: no member survives
        _rel(11, [("relation", 10, "")]),  # doc 1: closure parent of 10
    ]
    docs = doc_rows_to_spark(spark, elements_to_doc_rows(els, elements_per_doc=4))
    r = extract(spark, docs, poly, complete=True, cover=cover)
    rels = sorted(
        (x.id, x.doc_id) for x in r.elements().filter("kind = 'relation'").collect()
    )
    r.release()
    doc0, doc1 = sorted({row["doc_id"] for row in elements_to_doc_rows(els, 4)})
    assert rels == [(10, doc0), (11, doc1)]
