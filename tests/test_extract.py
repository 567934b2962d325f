"""End-to-end extraction goldens — ports processor_SUITE.erl:177-264.

Non-complete: exactly nodes {1,2,3}, way 1 (node list projected to
[1,2,3,1]), relation 1 (members projected to {way 1}).  Complete: adds
node 4 (completion), relations 2 and 4 (closure), way 1 keeps [1,2,3,4,1].
The reference counts 7/10 objects including the osm header + endDocument
markers; as element rows that is 5/8.  The goldens run on both closure
paths (``closure_path``: driver worklist and forced DataFrame fixpoint).
"""

from __future__ import annotations

import contextlib
import json

import pytest

from osm_cut_spark.functions.cells import polygon_cell_cover
from osm_cut_spark.operators.extract import extract
from osm_cut_spark.sources.docs import (
    doc_rows_to_spark,
    elements_to_doc_rows,
    spans_to_elements,
)
from osm_cut_spark.sources.osm_xml import load_osm_xml
from osm_cut_spark.sources.poly import compile_poly

from conftest import FIXTURE_OSM, FIXTURE_POLY, drop_persisted, persisted_rdds


@pytest.fixture(scope="module")
def fixture(spark):
    els = load_osm_xml(FIXTURE_OSM)
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    return els, poly, cover


# (phase, kind, id) of the §1.3 goldens
NON_COMPLETE_GOLDEN = [
    (0, "node", 1),
    (0, "node", 2),
    (0, "node", 3),
    (2, "way", 1),
    (3, "relation", 1),
]
COMPLETE_GOLDEN = [
    (0, "node", 1),
    (0, "node", 2),
    (0, "node", 3),
    (1, "node", 4),  # completion node (outside, referenced by way 1)
    (2, "way", 1),
    (3, "relation", 1),
    (3, "relation", 2),  # closure
    (3, "relation", 4),  # closure
]


def _run(spark, els, poly, cover, complete, elements_per_doc=0):
    docs = doc_rows_to_spark(spark, elements_to_doc_rows(els, elements_per_doc))
    return extract(spark, docs, poly, complete=complete, cover=cover)


def _collect_elements(result):
    rows = result.elements().orderBy("phase", "doc_id", "offset").collect()
    return [(r.phase, r.kind, r.id) for r in rows]


def _projected(el, nds=None, members=None):
    out = dict(el)
    if nds is not None:
        out["nds"] = nds
    if members is not None:
        out["members"] = members
    return out


def _kept_child(child, el, out):
    """Reference keep rule for one child span of output element ``el``:
    tags always; a way's nd when the way keeps its whole list (complete
    mode) or the node is selected; a relation member when the member is
    itself in the output — for a relation member in non-complete mode,
    only when that relation comes earlier in stream order."""
    kind, text = child[0], child[1]
    if kind == "tag":
        return True
    ref = json.loads(text)
    if kind == "nd":
        return out["complete"] or ref["ref"] in out["nodes"]
    if ref["type"] == "relation":
        rows = out["relations"].get(ref["ref"], [])
        return any(out["complete"] or pos < (el.doc_id, el.offset) for pos in rows)
    return ref["ref"] in out[ref["type"] + "s"]


def _assert_output_matches_reference(docs, result, complete):
    """elements() against ingest.explode_elements + the reference keep
    rule; documents() against a pure-Python regroup of elements() plus
    the input's passthrough text/media spans."""
    from osm_cut_spark.operators.ingest import explode_elements

    els = result.elements().collect()
    assert els
    assert len({(e.doc_id, e.offset) for e in els}) == len(els)
    src = {(r.doc_id, r.offset): r for r in explode_elements(docs).collect()}
    out = {
        "complete": complete,
        "nodes": {e.id for e in els if e.kind == "node"},
        "ways": {e.id for e in els if e.kind == "way"},
        "relations": {},
    }
    for e in els:
        if e.kind == "relation":
            out["relations"].setdefault(e.id, []).append((e.doc_id, e.offset))
    for e in els:
        ref = src[(e.doc_id, e.offset)]
        assert (e.kind, e.attrs_json) == (ref.kind, ref.attrs_json)
        assert json.loads(e.attrs_json)["id"] == e.id
        want = [tuple(c) for c in ref.child_spans if _kept_child(c, e, out)]
        assert [tuple(c) for c in e.out_child_spans] == want, (e.kind, e.id)

    spans: dict = {}
    for e in els:
        spans.setdefault(e.doc_id, []).append((e.kind, e.attrs_json, None, e.offset))
        spans[e.doc_id] += [tuple(c) for c in e.out_child_spans]
    for d in docs.collect():
        if d.doc_id in spans:
            spans[d.doc_id] += [tuple(s) for s in d.spans if s.kind in ("text", "media")]
    want_docs = {
        doc_id: [(k, t, m, i) for i, (k, t, m, _) in enumerate(sorted(ss, key=lambda s: s[3]))]
        for doc_id, ss in spans.items()
    }
    got_docs = {r.doc_id: [tuple(s) for s in r.spans] for r in result.documents().collect()}
    assert got_docs == want_docs


def test_doc_grouped_output_equals_element_join(spark, fixture):
    """Output assembly against an independent reference, both modes, on
    the fixture split 3 elements per document and on a synthetic table
    with cross-document refs and text/media spans."""
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    els, poly, cover = fixture
    for docs in (
        doc_rows_to_spark(spark, elements_to_doc_rows(els, 3)),
        synthetic_docs_spark(spark, 60, seed=11),
    ):
        for complete in (False, True):
            result = extract(spark, docs, poly, complete=complete, cover=cover)
            _assert_output_matches_reference(docs, result, complete)
            result.release()


def test_doc_grouped_output_bucketed_no_wide_shuffle(spark, fixture, tmp_path):
    """With the docs table bucketed by doc_id, the doc-grouped output join
    reads the wide side straight from buckets: the scan subtree on the
    docs side carries no Exchange (only the slim key map shuffles)."""
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    _, poly, cover = fixture
    syn = synthetic_docs_spark(spark, 40, seed=5)
    spark.sql("DROP TABLE IF EXISTS docs_bucketed_t")
    (
        syn.write.bucketBy(4, "doc_id")
        .sortBy("doc_id")
        .option("path", str(tmp_path / "docs_bucketed"))
        .mode("overwrite")
        .saveAsTable("docs_bucketed_t")
    )
    syn.write.mode("overwrite").parquet(str(tmp_path / "docs_plain"))
    try:
        # size-based broadcasts off: the small checkpointed selection map
        # would otherwise be broadcast, and then neither layout shuffles
        # its wide side
        with _no_size_broadcasts(spark):
            docs_b = spark.table("docs_bucketed_t")
            res_b = extract(spark, docs_b, poly, complete=False, cover=cover)
            plan_b = res_b.elements()._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount" in plan_b or "Bucketed: true" in plan_b, plan_b[:2000]

            docs_u = spark.read.parquet(str(tmp_path / "docs_plain"))
            res_u = extract(spark, docs_u, poly, complete=False, cover=cover)
            plan_u = res_u.elements()._jdf.queryExecution().executedPlan().toString()
            # the bucketed wide side skips its exchange: strictly fewer
            # Exchange nodes than the identical unbucketed plan
            assert plan_b.count("Exchange") < plan_u.count("Exchange"), (
                plan_b.count("Exchange"), plan_u.count("Exchange"))
            # and results agree
            kb = sorted((r.phase, r.kind, r.id) for r in res_b.elements().collect())
            ku = sorted((r.phase, r.kind, r.id) for r in res_u.elements().collect())
            assert kb == ku and len(kb) > 0
            res_b.release()
            res_u.release()
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_bucketed_t")


def test_non_complete_golden(spark, fixture, closure_path):
    els, poly, cover = fixture
    before = drop_persisted(spark)
    result = _run(spark, els, poly, cover, complete=False)
    got = _collect_elements(result)
    assert got == NON_COMPLETE_GOLDEN
    # deep record equality via the documents() span output
    docs_out = result.documents().collect()
    assert len(docs_out) == 1
    decoded = spans_to_elements([tuple(s) for s in docs_out[0].spans])
    by_id = {(e["kind"], e["id"]): e for e in decoded}
    assert by_id[("node", 1)] == els[0]
    assert by_id[("node", 3)] == els[2]  # tags + metadata intact
    assert by_id[("way", 1)] == _projected(els[6], nds=[1, 2, 3, 1])
    assert by_id[("relation", 1)] == _projected(els[8], members=[("way", 1, "")])
    # release() frees every cache and checkpoint, the closure's included
    result.release()
    assert persisted_rdds(spark) == before


def test_non_complete_span_sequence(spark, fixture, closure_path):
    """Output doc == input doc filtered to kept spans, offsets renumbered —
    byte-exact (kind, text, media_ref, order) equality."""
    els, poly, cover = fixture
    result = _run(spark, els, poly, cover, complete=False)
    expected_els = [
        els[0],
        els[1],
        els[2],
        _projected(els[6], nds=[1, 2, 3, 1]),
        _projected(els[8], members=[("way", 1, "")]),
    ]
    expected = elements_to_doc_rows(expected_els)[0]["spans"]
    got = [tuple(s) for s in result.documents().collect()[0].spans]
    assert got == expected


def test_complete_golden(spark, fixture, closure_path):
    els, poly, cover = fixture
    before = drop_persisted(spark)
    result = _run(spark, els, poly, cover, complete=True)
    got = _collect_elements(result)
    assert got == COMPLETE_GOLDEN
    docs_out = result.documents().collect()
    decoded = spans_to_elements([tuple(s) for s in docs_out[0].spans])
    by_id = {(e["kind"], e["id"]): e for e in decoded}
    assert by_id[("node", 4)] == els[3]  # written whole, with its tag
    assert by_id[("way", 1)] == els[6]  # FULL node list [1,2,3,4,1]
    assert by_id[("relation", 1)] == _projected(els[8], members=[("way", 1, "")])
    assert by_id[("relation", 2)] == els[9]  # members [(node,4,'')] all kept
    assert by_id[("relation", 4)] == _projected(els[11], members=[("relation", 2, "")])
    result.release()
    assert persisted_rdds(spark) == before


def test_complete_span_sequence(spark, fixture, closure_path):
    els, poly, cover = fixture
    result = _run(spark, els, poly, cover, complete=True)
    expected_els = [
        els[0],
        els[1],
        els[2],
        els[3],
        els[6],
        _projected(els[8], members=[("way", 1, "")]),
        els[9],
        _projected(els[11], members=[("relation", 2, "")]),
    ]
    expected = elements_to_doc_rows(expected_els)[0]["spans"]
    got = [tuple(s) for s in result.documents().collect()[0].spans]
    assert got == expected


@pytest.mark.parametrize("complete,n", [(False, 5), (True, 8)])
def test_chunked_docs_same_selection(spark, fixture, complete, n, closure_path):
    """Splitting elements across documents must not change the selection
    (closure and joins are cross-document)."""
    els, poly, cover = fixture
    result = _run(spark, els, poly, cover, complete=complete, elements_per_doc=3)
    got = _collect_elements(result)
    assert len(got) == n
    assert {(k, i) for _, k, i in got} == {
        (k, i) for _, k, i in _collect_elements(_run(spark, els, poly, cover, complete))
    }


def test_synthetic_extraction_with_passthrough(spark, fixture):
    _, poly, cover = fixture
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    docs = synthetic_docs_spark(spark, 20, seed=42)
    result = extract(spark, docs, poly, complete=True, cover=cover)
    out_docs = {r.doc_id: [tuple(s) for s in r.spans] for r in result.documents().collect()}
    assert out_docs, "some documents must be selected"
    in_docs = {r.doc_id: [tuple(s) for s in r.spans] for r in docs.collect()}
    for doc_id, spans in out_docs.items():
        src = in_docs[doc_id]
        # offsets contiguous
        assert [s[3] for s in spans] == list(range(len(spans)))
        # output spans are a subsequence of input spans (ignoring offsets)
        src_seq = [(s[0], s[1], s[2]) for s in src]
        out_seq = [(s[0], s[1], s[2]) for s in spans]
        assert _is_subsequence(out_seq, src_seq), doc_id
        # passthrough text/media spans preserved for kept docs
        src_media = [s for s in src_seq if s[0] == "media"]
        out_media = [s for s in out_seq if s[0] == "media"]
        assert out_media == src_media


def _is_subsequence(sub, seq):
    it = iter(seq)
    return all(any(x == y for y in it) for x in sub)


def test_no_selection_yields_empty(spark, fixture):
    els, _, _ = fixture
    from osm_cut_spark.functions.geometry import prepare_polygon

    far = prepare_polygon([("include", [(100, 100), (101, 100), (101, 101), (100, 101)])])
    result = _run(spark, els, far, polygon_cell_cover(far), complete=True)
    assert result.elements().count() == 0
    assert result.documents().count() == 0


def test_select_points_native_routing_plan_and_parity(spark):
    """Cover routing is native AND single-join: the plan has exactly ONE
    ArrowEvalPython (the boundary-cell branch — uniform-cell points never
    cross the Arrow boundary) and at most one BroadcastHashJoin per union
    branch (ancestor-explode probe of the single verdict table — NOT one
    join per cover level, the round-4 regression), and the result equals
    the direct polygon kernel on a non-convex polygon."""
    import numpy as np
    import pandas as pd

    from osm_cut_spark.functions.cells import cell_res, polygon_cell_cover
    from osm_cut_spark.functions.geometry import prepare_polygon
    from osm_cut_spark.operators.extract import select_points

    ring = [(0, 0), (10, 0), (10, 10), (5, 5), (0, 10)]  # non-convex notch
    poly = prepare_polygon([("include", ring)])
    cover = polygon_cell_cover(poly, 4, 8)
    rng = np.random.default_rng(41)
    px, py = rng.uniform(-2, 12, 20000), rng.uniform(-2, 12, 20000)
    pts = spark.createDataFrame(
        pd.DataFrame({"pt": np.arange(20000), "lon": px, "lat": py})
    )
    out = select_points(spark, pts, poly, cover)
    sel = {r.pt for r in out.collect()}
    want = set(np.nonzero(poly.contains(px, py))[0].tolist())
    assert sel == want and len(sel) > 0

    plan = out._jdf.queryExecution().sparkPlan().toString()
    n_levels = len(
        set(np.unique(cell_res(cover.inside_cells)).tolist())
        | ({cover.res} if cover.boundary_cells.size else set())
    )
    assert n_levels > 1  # the fixture genuinely has a multi-level cover
    assert plan.count("ArrowEvalPython") == 1, plan[:3000]
    # ONE verdict join per union branch, regardless of cover depth
    assert plan.count("BroadcastHashJoin") <= 2, plan[:3000]


def test_select_points_boundary_only_arrow_rows(spark):
    """The Arrow transfer is provably boundary-only: the boundary PIP
    UDF's row accumulator sees exactly the boundary-cell point count —
    a strict subset of the bbox survivors (which is what the old
    all-points UDF transferred)."""
    import numpy as np
    import pandas as pd

    from osm_cut_spark.functions.cells import lonlat_to_cell, polygon_cell_cover
    from osm_cut_spark.functions.geometry import prepare_polygon
    from osm_cut_spark.operators.extract import select_points

    poly = prepare_polygon([("include", [(0, 0), (10, 0), (10, 10), (0, 10)])])
    cover = polygon_cell_cover(poly, 4, 7)
    rng = np.random.default_rng(43)
    px, py = rng.uniform(-1, 11, 8000), rng.uniform(-1, 11, 8000)
    pts = spark.createDataFrame(pd.DataFrame({"pt": np.arange(8000), "lon": px, "lat": py}))
    acc = spark.sparkContext.accumulator(0)
    out = select_points(spark, pts, poly, cover, arrow_rows_acc=acc)
    got = {r.pt for r in out.collect()}
    assert got == set(np.nonzero(poly.contains(px, py))[0].tolist())

    # expected Arrow input: bbox survivors whose fine cell is a boundary
    # cell and no ancestor is in the inside set
    x0, x1, y0, y1 = poly.bbox
    inbox = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
    fine = lonlat_to_cell(px, py, cover.res)
    bset = set(cover.boundary_cells.tolist())
    iset = set(cover.inside_cells.tolist())

    def _ancestor_inside(c):
        while c >= 1:
            if c in iset:
                return True
            c >>= 2
        return False

    n_bnd = sum(
        1
        for i in range(8000)
        if inbox[i] and not _ancestor_inside(int(fine[i])) and int(fine[i]) in bset
    )
    assert 0 < n_bnd < int(inbox.sum())
    assert acc.value == n_bnd, (acc.value, n_bnd, int(inbox.sum()))


def test_member_semijoin_broadcasts_keys(spark, fixture):
    """The relation member semi-joins must run as broadcast hash joins on
    the packed long key when the selected-key set is under the broadcast
    cap (the default): the exploded member stream then never enters an
    exchange.  Wall-clock deltas are not resolvable on this host, so the
    lever is pinned at the plan level, with size-based broadcasts switched
    off so that only the hint can plan a broadcast LeftSemi join."""
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    _, poly, cover = fixture
    docs = synthetic_docs_spark(spark, 40, seed=7)
    with _no_size_broadcasts(spark):
        for complete in (True, False):
            since = _last_execution_id(spark)
            res = extract(spark, docs, poly, complete=complete, cover=cover)
            res.elements().collect()
            assert _member_semijoin_broadcast(spark, since)
            res.release()


@contextlib.contextmanager
def _no_size_broadcasts(spark):
    """Switch off size-based broadcasts (static and AQE) for the block, so
    only an explicit hint can plan a broadcast join."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def _executions(spark) -> list:
    """Every SQL execution the session has run (its UI data, retained)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _last_execution_id(spark) -> int:
    return max((e.executionId() for e in _executions(spark)), default=-1)


def _member_semijoin_broadcast(spark, since: int) -> bool:
    """A broadcast LeftSemi join ran in an SQL execution after ``since``,
    read from the plan Spark last reported for it (the final plan under
    AQE).  The cut runs its semi-joins inside the selection checkpoints,
    so the plans read are the ones Spark executed, not the output's."""
    return any(
        "BroadcastHashJoin" in line and "LeftSemi" in line
        for e in _executions(spark)
        if e.executionId() > since
        for line in e.physicalPlanDescription().splitlines()
    )


def test_member_semijoin_shuffle_fallback(spark, fixture, monkeypatch):
    """A key set over BROADCAST_MAX_KEYS takes the shuffle semi-join: the
    §1.3 goldens hold in both modes and the executed plans carry no
    broadcast LeftSemi join (the mirror of
    test_member_semijoin_broadcasts_keys).  Size-based broadcasts are
    switched off, because the fixture's tiny sides would otherwise be
    broadcast by statistics alone; the default cap is the control."""
    from osm_cut_spark.operators import extract as X

    els, poly, cover = fixture
    default_cap = X.BROADCAST_MAX_KEYS
    with _no_size_broadcasts(spark):
        for complete, golden in ((False, NON_COMPLETE_GOLDEN), (True, COMPLETE_GOLDEN)):
            for cap in (default_cap, 0):
                monkeypatch.setattr(X, "BROADCAST_MAX_KEYS", cap)
                since = _last_execution_id(spark)
                result = _run(spark, els, poly, cover, complete)
                assert _collect_elements(result) == golden
                assert _member_semijoin_broadcast(spark, since) == (cap > 0)
                result.release()
