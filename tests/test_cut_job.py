"""CLI (cut_job) + distributed XML converter tests.

The e2e shape mirrors the reference UX: ``cut.escript <osm> <poly> <out>``
(processor_SUITE goldens: 5 non-complete / 8 complete element rows).
"""

from __future__ import annotations

from pathlib import Path

import pytest

from osm_cut_spark.sources.docs import (
    doc_rows_to_spark,
    elements_to_doc_rows,
    spans_to_elements,
)
from osm_cut_spark.sources.osm_xml import load_osm_xml
from osm_cut_spark.sources.osm_xml_dist import osm_xml_to_docs
from osm_cut_spark.sources.xml_writer import elements_to_xml

from conftest import FIXTURE_OSM, FIXTURE_POLY


def _decode_docs(df):
    """Concatenate per-doc decoded elements in doc_id (== stream) order."""
    rows = sorted(df.collect(), key=lambda r: r.doc_id)
    out = []
    for r in rows:
        out.extend(spans_to_elements([tuple(s) for s in r.spans]))
    return out


def test_xml_dist_roundtrip_fixture(spark):
    els = load_osm_xml(FIXTURE_OSM)
    docs = osm_xml_to_docs(spark, FIXTURE_OSM, elements_per_doc=0)
    assert _decode_docs(docs) == els
    # span-level byte equality vs the Python codec
    got = sorted(docs.collect(), key=lambda r: r.doc_id)
    want = elements_to_doc_rows(els, 0, doc_prefix="1-000000")
    assert [tuple(s) for s in got[0].spans] == [tuple(s) for s in want[0]["spans"]]


def test_xml_dist_multichunk(spark, tmp_path):
    # synthetic file big enough for many byte ranges; odd sizes stress the
    # re-sync (ranges starting mid-element, elements spanning range ends)
    els = []
    for i in range(1, 301):
        els.append(
            {"kind": "node", "id": i, "lon": float(i % 17), "lat": float(i % 7),
             "version": 1, "timestamp": None, "uid": i % 13, "user": f"u{i % 5}",
             "changeset": i, "tags": [("name", f"n{i}")] if i % 3 == 0 else []}
        )
        if i % 10 == 0:
            els.append(
                {"kind": "way", "id": 1000 + i, "nds": [i - 2, i - 1, i],
                 "version": None, "timestamp": None, "uid": None, "user": None,
                 "changeset": None, "tags": [("highway", "x")]}
            )
        if i % 50 == 0:
            els.append(
                {"kind": "relation", "id": 2000 + i,
                 "members": [("way", 1000 + i, "outer"), ("node", i, "")],
                 "version": None, "timestamp": None, "uid": None, "user": None,
                 "changeset": None, "tags": []}
            )
    xml_file = tmp_path / "synth.osm"
    xml_file.write_text(elements_to_xml(els))
    size = xml_file.stat().st_size
    docs = osm_xml_to_docs(spark, xml_file, target_chunk_bytes=size // 7, elements_per_doc=25)
    assert docs.rdd.getNumPartitions() >= 7 or docs.count() > 1
    assert _decode_docs(docs) == els


def test_xml_dist_extraction_matches_driver_path(spark):
    from osm_cut_spark.functions.cells import polygon_cell_cover
    from osm_cut_spark.operators.extract import extract
    from osm_cut_spark.sources.poly import compile_poly

    els = load_osm_xml(FIXTURE_OSM)
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    via_driver = extract(
        spark, doc_rows_to_spark(spark, elements_to_doc_rows(els, 2)), poly,
        complete=True, cover=cover,
    )
    via_dist = extract(
        spark, osm_xml_to_docs(spark, FIXTURE_OSM, elements_per_doc=2), poly,
        complete=True, cover=cover,
    )
    key = lambda df: sorted(
        (r.phase, r.kind, r.id) for r in df.elements().collect()
    )
    assert key(via_dist) == key(via_driver)
    via_driver.release()
    via_dist.release()


def test_cut_job_cli_complete_golden(spark, tmp_path):
    from osm_cut_spark import cut_job

    out = tmp_path / "cut_out"
    summary = cut_job.main(
        ["--docs", FIXTURE_OSM, "--poly", FIXTURE_POLY, "--out", str(out),
         "--complete", "--format", "parquet", "--elements-per-doc", "3"]
    )
    assert summary["n_out"] == 8
    rows = sorted(
        (r.phase, r.kind, r.id) for r in spark.read.parquet(str(out)).collect()
    )
    assert rows == sorted([
        (0, "node", 1), (0, "node", 2), (0, "node", 3),
        (1, "node", 4),
        (2, "way", 1),
        (3, "relation", 1), (3, "relation", 2), (3, "relation", 4),
    ])


def test_cut_job_cli_positional_xml(spark, tmp_path):
    from osm_cut_spark import cut_job

    out = tmp_path / "cut.osm"
    cut_job.main([FIXTURE_OSM, FIXTURE_POLY, str(out)])  # escript-compatible
    assert out.is_file()
    got = load_osm_xml(out)
    assert sorted((e["kind"], e["id"]) for e in got) == sorted([
        ("node", 1), ("node", 2), ("node", 3), ("node", 4),
        ("way", 1), ("relation", 1), ("relation", 2), ("relation", 4),
    ])
    # way 1 keeps the complete node list (complete mode)
    way = next(e for e in got if e["kind"] == "way")
    assert way["nds"] == [1, 2, 3, 4, 1]


def test_cut_job_doc_grouped_matches(spark, tmp_path):
    """``--format docs`` writes exactly extract(...).documents()."""
    from osm_cut_spark import cut_job
    from osm_cut_spark.operators.extract import extract
    from osm_cut_spark.sources.poly import compile_poly

    out = tmp_path / "docs_out"
    summary = cut_job.main(
        ["--docs", FIXTURE_OSM, "--poly", FIXTURE_POLY, "--out", str(out),
         "--complete", "--format", "docs", "--elements-per-doc", "3"]
    )
    docs = cut_job.load_docs(spark, FIXTURE_OSM, elements_per_doc=3)
    result = extract(spark, docs, compile_poly(FIXTURE_POLY), complete=True)
    spans = lambda df: {r.doc_id: [tuple(s) for s in r.spans] for r in df.collect()}
    want = spans(result.documents())
    result.release()
    assert spans(spark.read.parquet(str(out))) == want
    assert summary["n_out"] == len(want) > 0


def test_cut_job_resume_mode(spark, tmp_path):
    from osm_cut_spark import cut_job

    out = tmp_path / "resume_out"
    s1 = cut_job.main(
        ["--docs", FIXTURE_OSM, "--poly", FIXTURE_POLY, "--out", str(out),
         "--complete", "--resume", "--buckets", "2"]
    )
    assert s1["n_out"] == 8 and s1["resumed_buckets"] == 0
    s2 = cut_job.main(
        ["--docs", FIXTURE_OSM, "--poly", FIXTURE_POLY, "--out", str(out),
         "--complete", "--resume", "--buckets", "2"]
    )
    assert s2["resumed_buckets"] == 4  # 2 node + 2 way buckets skipped
    assert s2["n_out"] == 8


def test_cut_job_usage_errors(tmp_path):
    from osm_cut_spark import cut_job

    with pytest.raises(SystemExit):
        cut_job._resolve_args(["only", "two"])
    with pytest.raises(SystemExit):
        cut_job._resolve_args(["--docs", "x", "--poly", "y"])
    with pytest.raises(SystemExit):
        cut_job._resolve_args(
            ["--docs", "x", "--poly", "y", "--out", "z.osm", "--resume"]
        )
