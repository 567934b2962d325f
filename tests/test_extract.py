"""End-to-end extraction goldens — ports processor_SUITE.erl:177-264.

Non-complete: exactly nodes {1,2,3}, way 1 (node list projected to
[1,2,3,1]), relation 1 (members projected to {way 1}).  Complete: adds
node 4 (completion), relations 2 and 4 (closure), way 1 keeps [1,2,3,4,1].
The reference counts 7/10 objects including the osm header + endDocument
markers; as element rows that is 5/8.  The goldens run on both closure
paths (``closure_path``: driver worklist and forced DataFrame fixpoint).
"""

from __future__ import annotations

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

from conftest import FIXTURE_OSM, FIXTURE_POLY


@pytest.fixture(scope="module")
def fixture(spark):
    els = load_osm_xml(FIXTURE_OSM)
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    return els, poly, cover


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


def test_doc_grouped_output_equals_element_join(spark, fixture):
    """The doc-grouped output path (per-document selection map joined on
    doc_id — the bucketed-table zero-wide-shuffle plan) must produce the
    exact same element rows as the per-element join, both modes."""
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    els, poly, cover = fixture
    docs = doc_rows_to_spark(spark, elements_to_doc_rows(els, 3))
    for complete in (False, True):
        a = extract(spark, docs, poly, complete=complete, cover=cover)
        b = extract(
            spark, docs, poly, complete=complete, cover=cover, doc_grouped_output=True
        )
        rows = lambda r: sorted(
            (x.phase, x.kind, x.id, x.doc_id, x.offset, x.attrs_json,
             tuple(tuple(c) for c in x.out_child_spans))
            for x in r.elements().collect()
        )
        assert rows(b) == rows(a)
        a.release()
        b.release()
    # and on a larger synthetic table (cross-doc refs, media/text spans)
    syn = synthetic_docs_spark(spark, 60, seed=11)
    a = extract(spark, syn, poly, complete=True, cover=cover)
    b = extract(spark, syn, poly, complete=True, cover=cover, doc_grouped_output=True)
    ka = sorted((r.phase, r.kind, r.id) for r in a.elements().collect())
    kb = sorted((r.phase, r.kind, r.id) for r in b.elements().collect())
    assert kb == ka
    # documents() too: the grouped no-shuffle regroup must be span-exact
    docs_a = {r.doc_id: [tuple(s) for s in r.spans] for r in a.documents().collect()}
    docs_b = {r.doc_id: [tuple(s) for s in r.spans] for r in b.documents().collect()}
    assert docs_b == docs_a
    a.release()
    b.release()


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
        docs_b = spark.table("docs_bucketed_t")
        res_b = extract(spark, docs_b, poly, complete=False, cover=cover,
                        doc_grouped_output=True)
        plan_b = res_b.elements()._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan_b or "Bucketed: true" in plan_b, plan_b[:2000]

        docs_u = spark.read.parquet(str(tmp_path / "docs_plain"))
        res_u = extract(spark, docs_u, poly, complete=False, cover=cover,
                        doc_grouped_output=True)
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
    result = _run(spark, els, poly, cover, complete=False)
    got = _collect_elements(result)
    assert got == [
        (0, "node", 1),
        (0, "node", 2),
        (0, "node", 3),
        (2, "way", 1),
        (3, "relation", 1),
    ]
    # deep record equality via the documents() span output
    docs_out = result.documents().collect()
    assert len(docs_out) == 1
    decoded = spans_to_elements([tuple(s) for s in docs_out[0].spans])
    by_id = {(e["kind"], e["id"]): e for e in decoded}
    assert by_id[("node", 1)] == els[0]
    assert by_id[("node", 3)] == els[2]  # tags + metadata intact
    assert by_id[("way", 1)] == _projected(els[6], nds=[1, 2, 3, 1])
    assert by_id[("relation", 1)] == _projected(els[8], members=[("way", 1, "")])


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
    result = _run(spark, els, poly, cover, complete=True)
    got = _collect_elements(result)
    assert got == [
        (0, "node", 1),
        (0, "node", 2),
        (0, "node", 3),
        (1, "node", 4),  # completion node (outside, referenced by way 1)
        (2, "way", 1),
        (3, "relation", 1),
        (3, "relation", 2),
        (3, "relation", 4),
    ]
    docs_out = result.documents().collect()
    decoded = spans_to_elements([tuple(s) for s in docs_out[0].spans])
    by_id = {(e["kind"], e["id"]): e for e in decoded}
    assert by_id[("node", 4)] == els[3]  # written whole, with its tag
    assert by_id[("way", 1)] == els[6]  # FULL node list [1,2,3,4,1]
    assert by_id[("relation", 1)] == _projected(els[8], members=[("way", 1, "")])
    assert by_id[("relation", 2)] == els[9]  # members [(node,4,'')] all kept
    assert by_id[("relation", 4)] == _projected(els[11], members=[("relation", 2, "")])


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
    lever is pinned at the plan level."""
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    _, poly, cover = fixture
    docs = synthetic_docs_spark(spark, 40, seed=7)
    for complete in (True, False):
        res = extract(spark, docs, poly, complete=complete, cover=cover)
        # the STATIC physical plan (pre-AQE): only the explicit hint puts a
        # BroadcastHashJoin here — AQE runtime conversions would not,
        # so this pins the hint itself
        plan = res.elements()._jdf.queryExecution().sparkPlan().toString()
        assert any(
            "BroadcastHashJoin" in line and "LeftSemi" in line
            for line in plan.splitlines()
        ), plan[:3000]
        res.release()
