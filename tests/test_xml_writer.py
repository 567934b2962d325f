"""XML sink tests: python roundtrip + distributed render parity."""

from __future__ import annotations

from pathlib import Path

from osm_cut_spark.functions.cells import polygon_cell_cover
from osm_cut_spark.operators.extract import extract
from osm_cut_spark.sources.docs import doc_rows_to_spark, elements_to_doc_rows
from osm_cut_spark.sources.osm_xml import load_osm_xml
from osm_cut_spark.sources.poly import compile_poly
from osm_cut_spark.sources.xml_writer import element_to_xml, elements_to_xml, write_xml

from conftest import FIXTURE_OSM, FIXTURE_POLY


def test_xml_roundtrip_fixture(tmp_path):
    els = load_osm_xml(FIXTURE_OSM)
    xml = elements_to_xml(els)
    p = tmp_path / "rt.osm"
    p.write_text(xml)
    assert load_osm_xml(p) == els


def test_xml_escaping(tmp_path):
    el = {
        "kind": "node", "id": 1, "lon": 1.5, "lat": 2.0, "version": 1,
        "timestamp": None, "uid": None, "user": 'a<b>&"c', "tags": [("k<>", 'v"&')],
        "changeset": None,
    }
    xml = elements_to_xml([el])
    assert "&lt;" in xml and "&quot;" in xml and "&amp;" in xml
    p = tmp_path / "esc.osm"
    p.write_text(xml)
    got = load_osm_xml(p)[0]
    assert got["user"] == 'a<b>&"c' and got["tags"] == [("k<>", 'v"&')]


def test_integral_coordinate_format():
    el = {
        "kind": "node", "id": 1, "lon": 0.0, "lat": 5.0, "version": None,
        "timestamp": None, "uid": None, "user": None, "changeset": None, "tags": [],
    }
    xml = element_to_xml(el)
    assert 'lon="0"' in xml and 'lat="5"' in xml  # like the source ints


def test_distributed_xml_write_roundtrip(spark, tmp_path):
    els = load_osm_xml(FIXTURE_OSM)
    docs = doc_rows_to_spark(spark, elements_to_doc_rows(els))
    poly = compile_poly(FIXTURE_POLY)
    result = extract(spark, docs, poly, complete=True, cover=polygon_cell_cover(poly))
    out = tmp_path / "xml_out"
    write_xml(result.elements(), str(out))
    text = "\n".join(
        p.read_text() for p in sorted(Path(out).glob("part-*"))
    )
    rt = tmp_path / "rt.osm"
    rt.write_text(text)
    parsed = load_osm_xml(rt)
    by_key = {(e["kind"], e["id"]): e for e in parsed}
    assert set(by_key) == {
        ("node", 1), ("node", 2), ("node", 3), ("node", 4),
        ("way", 1), ("relation", 1), ("relation", 2), ("relation", 4),
    }
    assert by_key[("way", 1)]["nds"] == [1, 2, 3, 4, 1]  # document order kept
    assert by_key[("node", 3)]["tags"] == [("name", "Jam's Sandwich Bar"), ("amenity", "cafe")]
    assert by_key[("relation", 4)]["members"] == [("relation", 2, "")]


def test_sharded_xml_write_concat_equals_single(spark, tmp_path):
    """sharded=True writes globally-range-ordered part files: concatenated
    in filename order they are byte-identical to the single-file mode."""
    els = load_osm_xml(FIXTURE_OSM)
    docs = doc_rows_to_spark(spark, elements_to_doc_rows(els, 2))
    poly = compile_poly(FIXTURE_POLY)
    result = extract(spark, docs, poly, complete=True, cover=polygon_cell_cover(poly))
    single = tmp_path / "xml_single"
    sharded = tmp_path / "xml_sharded"
    write_xml(result.elements(), str(single))
    write_xml(result.elements(), str(sharded), sharded=True)
    one = b"".join(p.read_bytes() for p in sorted(Path(single).glob("part-*")))
    many = b"".join(p.read_bytes() for p in sorted(Path(sharded).glob("part-*")))
    assert many == one and one.startswith(b"<?xml")
