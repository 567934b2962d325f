"""Tests for the Osmosis .poly reader (format per osm_polygon_compiler.erl:85-161)."""

from __future__ import annotations

import pytest

from osm_cut_spark.sources.poly import compile_poly, read_poly

from conftest import FIXTURE_POLY

SIMPLE_POLY = """simple
1
0 0
5 0
10 5
END
END
"""

MULTI_POLY = """multi
1
0 0
1e1 0
10 10
0 1.0e1
END
!2
4 4
6 4
6 6
4 6
END
END
"""


def test_read_simple(tmp_path):
    p = tmp_path / "simple.poly"
    p.write_text(SIMPLE_POLY)
    rings = read_poly(p)
    assert rings == [("include", [(0.0, 0.0), (5.0, 0.0), (10.0, 5.0)])]


def test_read_multi_with_exclude_and_exponents(tmp_path):
    p = tmp_path / "multi.poly"
    p.write_text(MULTI_POLY)
    rings = read_poly(p)
    assert rings[0][0] == "include"
    assert rings[0][1][1] == (10.0, 0.0)  # 1e1 parsed
    assert rings[0][1][3] == (0.0, 10.0)  # 1.0e1 parsed
    assert rings[1] == ("exclude", [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)])


def test_compile_reference_fixture():
    """The reference fixture triangle compiles and matches golden probes."""
    poly = compile_poly(FIXTURE_POLY)
    assert poly.contains_point(0, 0)
    assert poly.contains_point(10, 5)
    assert not poly.contains_point(10, 10)
    assert not poly.contains_point(15, 15)


def test_compile_multi(tmp_path):
    p = tmp_path / "multi.poly"
    p.write_text(MULTI_POLY)
    poly = compile_poly(p)
    assert poly.contains_point(1, 1)
    assert not poly.contains_point(5, 5)


def test_bad_point_line(tmp_path):
    p = tmp_path / "bad.poly"
    p.write_text("bad\n1\n0 zero\nEND\nEND\n")
    with pytest.raises(ValueError, match="bad point line"):
        read_poly(p)


def test_missing_section(tmp_path):
    p = tmp_path / "empty.poly"
    p.write_text("name\nEND\n")
    with pytest.raises(ValueError, match="no polygon sections"):
        read_poly(p)
