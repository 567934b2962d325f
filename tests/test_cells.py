"""Cell index kernel tests: id math bit-exactness, hierarchy, covers, disks."""

from __future__ import annotations

import numpy as np
import pytest

from osm_cut_spark.functions import cells as C
from osm_cut_spark.functions.geometry import prepare_polygon

OSM_TRIANGLE = [(0, 0), (5, 0), (10, 5)]


def _slow_cell(lon: float, lat: float, res: int) -> int:
    """Independent scalar reference implementation (loop-based interleave)."""
    n = 1 << res
    ix = min(n - 1, max(0, int((lon + 180.0) / 360.0 * n)))
    iy = min(n - 1, max(0, int((lat + 90.0) / 180.0 * n)))
    m = 0
    for b in range(res):
        m |= ((ix >> b) & 1) << (2 * b)
        m |= ((iy >> b) & 1) << (2 * b + 1)
    return m | (1 << (2 * res))


def test_known_values():
    assert C.lonlat_to_cell(np.array([0.0]), np.array([0.0]), 1)[0] == 7
    assert C.lonlat_to_cell(np.array([0.0]), np.array([0.0]), 2)[0] == 28
    # res 0 is the single root cell
    assert C.lonlat_to_cell(np.array([123.4]), np.array([-55.0]), 0)[0] == 1


@pytest.mark.parametrize("res", [0, 1, 3, 7, 10, 15])
def test_vectorized_matches_scalar_reference(res):
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    got = C.lonlat_to_cell(lon, lat, res)
    want = np.array([_slow_cell(x, y, res) for x, y in zip(lon, lat)])
    assert np.array_equal(got, want)


def test_xy_roundtrip():
    rng = np.random.default_rng(11)
    for res in (1, 5, 10, 15):
        n = 1 << res
        ix = rng.integers(0, n, 500)
        iy = rng.integers(0, n, 500)
        cell = C.xy_to_cell(ix, iy, res)
        rx, ry, rr = C.cell_to_xy(cell)
        assert np.array_equal(rx, ix)
        assert np.array_equal(ry, iy)
        assert np.array_equal(rr, np.full(500, res))


def test_parent_child_hierarchy():
    rng = np.random.default_rng(13)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    fine = C.lonlat_to_cell(lon, lat, 10)
    coarse = C.lonlat_to_cell(lon, lat, 7)
    assert np.array_equal(C.cell_parent(fine, 3), coarse)
    for cell in fine[:20]:
        kids = C.cell_children(int(C.cell_parent(np.array([cell]))[0]))
        assert int(cell) in kids.tolist()


def test_bbox_contains_point():
    rng = np.random.default_rng(17)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    cell = C.lonlat_to_cell(lon, lat, 9)
    lon0, lat0, lon1, lat1 = C.cell_to_bbox(cell)
    assert ((lon0 <= lon) & (lon <= lon1) & (lat0 <= lat) & (lat <= lat1)).all()


def test_disk_and_ring():
    cell = int(C.lonlat_to_cell(np.array([5.0]), np.array([5.0]), 8)[0])
    d0 = C.cell_disk(cell, 0)
    assert d0.tolist() == [cell]
    d1 = C.cell_disk(cell, 1)
    assert d1.shape[0] == 9
    r1 = C.cell_ring(cell, 1)
    assert r1.shape[0] == 8
    assert set(r1.tolist()) | {cell} == set(d1.tolist())
    # all at same resolution
    assert (C.cell_res(d1) == 8).all()
    # edge clipping: corner cell has a 2x2 disk
    corner = int(C.xy_to_cell(np.array([0]), np.array([0]), 8)[0])
    assert C.cell_disk(corner, 1).shape[0] == 4


def _route_through_cover(cover: C.CellCover, poly, lon, lat):
    """Replicates the engine's routing: inside-set (ancestor chain) ->
    inside; boundary-set -> PIP; else outside."""
    fine = C.lonlat_to_cell(lon, lat, cover.res)
    inside_set = set(cover.inside_cells.tolist())
    boundary_set = set(cover.boundary_cells.tolist())
    out = np.zeros(lon.shape[0], dtype=bool)
    need_pip = np.zeros(lon.shape[0], dtype=bool)
    for i, cell in enumerate(fine.tolist()):
        c = cell
        hit = False
        while c >= 1:
            if c in inside_set:
                out[i] = True
                hit = True
                break
            c >>= 2
        if not hit and cell in boundary_set:
            need_pip[i] = True
    if need_pip.any():
        out[need_pip] = poly.contains(lon[need_pip], lat[need_pip])
    return out


@pytest.mark.parametrize("res_min,res_max", [(7, 10), (5, 8), (10, 10)])
def test_cover_routing_matches_direct_pip(res_min, res_max):
    poly = prepare_polygon([("include", OSM_TRIANGLE)])
    cover = C.polygon_cell_cover(poly, res_min, res_max)
    assert cover.boundary_cells.shape[0] > 0
    rng = np.random.default_rng(23)
    lon = rng.uniform(-2, 12, 4000)
    lat = rng.uniform(-2, 7, 4000)
    direct = poly.contains(lon, lat)
    routed = _route_through_cover(cover, poly, lon, lat)
    assert np.array_equal(routed, direct)


def test_cover_with_exclude_ring():
    poly = prepare_polygon(
        [
            ("include", [(0, 0), (10, 0), (10, 10), (0, 10)]),
            ("exclude", [(4, 4), (6, 4), (6, 6), (4, 6)]),
        ]
    )
    cover = C.polygon_cell_cover(poly, 7, 11)
    rng = np.random.default_rng(29)
    lon = rng.uniform(-1, 11, 3000)
    lat = rng.uniform(-1, 11, 3000)
    direct = poly.contains(lon, lat)
    routed = _route_through_cover(cover, poly, lon, lat)
    assert np.array_equal(routed, direct)


def test_cover_max_cells_budget_degrades_gracefully():
    poly = prepare_polygon([("include", OSM_TRIANGLE)])
    cover = C.polygon_cell_cover(poly, 7, 15, max_cells=500)
    # budget stops refinement early but routing stays exact
    rng = np.random.default_rng(31)
    lon = rng.uniform(-2, 12, 1500)
    lat = rng.uniform(-2, 7, 1500)
    assert np.array_equal(
        _route_through_cover(cover, poly, lon, lat), poly.contains(lon, lat)
    )


def test_cover_determinism():
    poly = prepare_polygon([("include", OSM_TRIANGLE)])
    a = C.polygon_cell_cover(poly, 7, 10)
    b = C.polygon_cell_cover(poly, 7, 10)
    assert np.array_equal(a.inside_cells, b.inside_cells)
    assert np.array_equal(a.boundary_cells, b.boundary_cells)
    # frozen fingerprint: stable across runs / machines (bit-exact int math)
    fp = int(a.inside_cells.sum() % 1_000_000_007), a.inside_cells.shape[0], a.boundary_cells.shape[0]
    assert fp == test_cover_determinism.GOLDEN, f"cover fingerprint drifted: {fp}"


# computed once from the frozen kernel; drift means the id math changed
test_cover_determinism.GOLDEN = (102892573, 69, 135)


# ---------------------------------------------------------------------------
# property test: extract._route_points — the numpy model of cover routing,
# sharing _boundary_verdict (the per-boundary-cell edge CSR test) with the
# production boundary UDF — equals the direct polygon kernel on random
# star-shaped polygons (optionally holed) and points that include exact
# vertices and on-edge samples — guards the vectorized gather/CSR indexing
# against shape edge cases the fixed fixtures cannot cover.
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 10_000_000))
def test_route_points_matches_direct_pip_hypothesis(seed):
    from osm_cut_spark.operators.extract import _route_points

    rng = np.random.default_rng(seed)
    n_vert = int(rng.integers(3, 48))
    cx, cy = rng.uniform(-50, 50, 2)
    angles = np.sort(rng.uniform(0, 2 * np.pi, n_vert))
    # distinct angles => simple (star-shaped) ring
    if np.unique(angles).shape[0] < 3:
        return
    radii = rng.uniform(0.5, 6.0, n_vert)
    ring = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a, r in zip(angles, radii)]
    defs = [("include", ring)]
    if rng.random() < 0.4:
        hole = [
            (cx + 0.2 * r * np.cos(a), cy + 0.2 * r * np.sin(a))
            for a, r in zip(angles, radii)
        ]
        defs.append(("exclude", hole))
    poly = prepare_polygon(defs)

    from osm_cut_spark.functions.geometry import PreparedPolygon  # noqa: F401
    from osm_cut_spark.functions.cells import boundary_edge_index, cell_res

    cover = C.polygon_cell_cover(poly, 7, 11)
    res_of = cell_res(cover.inside_cells)
    inside_by_res = {
        int(r): np.sort(cover.inside_cells[res_of == r]) for r in np.unique(res_of)
    }
    ei = (
        boundary_edge_index(poly, cover.boundary_cells)
        if cover.boundary_cells.size
        else None
    )

    # random points around the bbox + exact vertices + on-edge samples
    x0, x1, y0, y1 = poly.bbox
    xs = rng.uniform(x0 - 1, x1 + 1, 1500)
    ys = rng.uniform(y0 - 1, y1 + 1, 1500)
    vx = np.array([p[0] for p in ring])
    vy = np.array([p[1] for p in ring])
    t = rng.uniform(0, 1, n_vert)
    ex = vx * (1 - t) + np.roll(vx, -1) * t
    ey = vy * (1 - t) + np.roll(vy, -1) * t
    X = np.concatenate([xs, vx, ex])
    Y = np.concatenate([ys, vy, ey])

    routed = _route_points(poly, cover, inside_by_res, X, Y, ei)
    direct = poly.contains(X, Y)
    assert np.array_equal(routed, direct)


def test_native_cell_col_matches_numpy_bit_exact(spark):
    """THE bit-exactness contract of cells_sql: cell_col / cell_parent_col
    agree with lonlat_to_cell / cell_parent on every probe class that can
    expose truncation-edge drift between the codegen twin and numpy —
    exact grid-boundary coordinates at several resolutions, ±1 ULP around
    them, 10k random points, out-of-range extremes (|coord| up to 1e30 and
    ±inf, where the pre-multiply clamp keeps the two engines' long casts
    identical), and the null/NaN -> -1 sentinel incl. the -1 parent guard.

    A misroute between same-verdict cells passes every end-to-end test
    silently; only this direct comparison pins the kernel itself.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from osm_cut_spark.functions.cells_sql import cell_col, cell_parent_col

    RES = [0, 1, 4, 7, 10, 15]

    def edge_coords(lo: float, hi: float) -> np.ndarray:
        vals = [lo, hi]
        for res in RES:
            n = 1 << res
            for k in {0, 1, 2, n // 3, n // 2, n - 1, n}:
                k = min(max(k, 0), n)
                x = lo + (hi - lo) * (k / n)
                vals += [x, np.nextafter(x, -np.inf), np.nextafter(x, np.inf)]
        return np.unique(np.array(vals, dtype=np.float64))

    lon_e, lat_e = edge_coords(C.LON_MIN, C.LON_MAX), edge_coords(C.LAT_MIN, C.LAT_MAX)
    # cross-product of the edge coordinates (every lon-edge against every
    # lat-edge), then random + extreme points paired elementwise
    LON, LAT = np.meshgrid(lon_e, lat_e)
    rng = np.random.default_rng(47)
    extremes = np.array(
        [0.0, 1e18, -1e18, 1e30, -1e30, np.inf, -np.inf], dtype=np.float64
    )
    X = np.concatenate([LON.ravel(), rng.uniform(-200, 200, 10_000), extremes])
    Y = np.concatenate([LAT.ravel(), rng.uniform(-100, 100, 10_000), extremes[::-1]])

    df = spark.createDataFrame(pd.DataFrame({"lon": X, "lat": Y}))
    cols, want = [], {}
    for res in RES:
        ref = C.lonlat_to_cell(X, Y, res)
        cols.append(cell_col(F.col("lon"), F.col("lat"), res).alias(f"c{res}"))
        want[f"c{res}"] = ref
        for steps in {1, res // 2, res}:
            if steps == 0:
                continue
            cols.append(
                cell_parent_col(
                    cell_col(F.col("lon"), F.col("lat"), res), steps
                ).alias(f"p{res}_{steps}")
            )
            want[f"p{res}_{steps}"] = C.cell_parent(ref, steps)
    got = df.select(*cols).toPandas()
    for name, ref in want.items():
        g = got[name].to_numpy(dtype=np.int64)
        assert np.array_equal(g, ref), (
            name,
            int(np.nonzero(g != ref)[0][0]),
            X[np.nonzero(g != ref)[0][0]],
            Y[np.nonzero(g != ref)[0][0]],
        )

    # null / NaN sentinel: cell id -1, and the parent guard keeps -1
    bad = spark.createDataFrame(
        pd.DataFrame({"lon": [np.nan, 1.0, None], "lat": [1.0, np.nan, None]})
    )
    out = bad.select(
        cell_col(F.col("lon"), F.col("lat"), 10).alias("c"),
        cell_parent_col(cell_col(F.col("lon"), F.col("lat"), 10), 3).alias("p"),
    ).collect()
    assert all(r.c == -1 and r.p == -1 for r in out)
