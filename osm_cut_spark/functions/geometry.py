"""Vectorized point-in-polygon geometry kernel (pure numpy, no Spark).

Semantics are pinned to the reference polygon compiler
(``/root/reference/src/osm_polygon_compiler.erl``):

* Each ring edge (p1, p2) is compiled to a line equation ``A*x + B*y + C``
  with ``A = y2 - y1``, ``B = x1 - x2``, ``C = -(A*x1 + B*y1)`` plus the edge
  bounding box (``interval_for``, osm_polygon_compiler.erl:848-854).
* The point test is an even-odd leftward-ray cast: the sign of (A, B, C) is
  normalized so that "a leftward ray from (x, y) crosses the edge" becomes
  ``R = A*x + B*y + C > 0`` (``in_intervals_for_ray(left, ...)``,
  osm_polygon_compiler.erl:790-796); a crossing is counted only when
  ``ymin <= y < ymax`` (half-open at the top so shared vertices are not
  double-counted) and ``x >= xmin`` (count_inside_intersects/left,
  osm_polygon_compiler.erl:693-706).
* A point exactly ON an edge segment is inside (``R == 0 -> on``,
  osm_polygon_compiler.erl:699).  The reference's `on` short-circuit checks
  only the ray-side bbox half (an artifact its geotree direction-selection
  hides); the deterministic, direction-independent rule consistent with every
  probe in ``test/poligon_compiler_SUITE.erl:108-172`` is: R == 0 AND the
  point lies within the FULL edge bbox.  That is what we implement.
* Multi-polygon composition: inside := any(include ring) AND NOT any(exclude
  ring) (``compile/1``, osm_polygon_compiler.erl:168-180).
* Open rings are auto-closed (``extended_polygon_points``,
  osm_polygon_compiler.erl:140-146).

The kernel is orientation-independent (the reference test suite compiles each
ring in both orientations and asserts identical results).

Memory: the (points x edges) broadcast is chunked so intermediate matrices
stay ~<= EDGE_CHUNK_CELLS float64 cells regardless of ring size, which keeps
per-Arrow-batch peak memory bounded inside pandas UDFs at 100 TB scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

# Max cells (points*edges) per vectorized block: 4M cells ~= 32 MB float64.
EDGE_CHUNK_CELLS = 4_000_000

Point = tuple[float, float]
RingDef = tuple[str, list[Point]]  # ("include" | "exclude", points)


def _close_ring(points: list[Point]) -> list[Point]:
    """Append the first point if the ring is not closed.

    Mirrors extended_polygon_points (osm_polygon_compiler.erl:140-146).
    """
    if len(points) < 2:
        raise ValueError("ring needs at least 2 points")
    if points[0] != points[-1]:
        return list(points) + [points[0]]
    return list(points)


@dataclass(frozen=True)
class PreparedRing:
    """Edge-compiled ring: line coefficients + per-edge bboxes (numpy arrays).

    ``a`` is sign-normalized to ``a >= 0`` so a leftward-ray crossing test is
    a single ``R > 0`` comparison (osm_polygon_compiler.erl:790-796).
    """

    a: np.ndarray
    b: np.ndarray
    c: np.ndarray
    xmin: np.ndarray
    xmax: np.ndarray
    ymin: np.ndarray
    ymax: np.ndarray

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        return (
            float(self.xmin.min()),
            float(self.xmax.max()),
            float(self.ymin.min()),
            float(self.ymax.max()),
        )

    @property
    def n_edges(self) -> int:
        return int(self.a.shape[0])


def prepare_ring(points: list[Point]) -> PreparedRing:
    """Compile a ring's points into edge arrays (A, B, C, bbox per edge)."""
    pts = np.asarray(_close_ring(points), dtype=np.float64)
    x1, y1 = pts[:-1, 0], pts[:-1, 1]
    x2, y2 = pts[1:, 0], pts[1:, 1]
    a = y2 - y1
    b = x1 - x2
    c = -(a * x1 + b * y1)
    # Normalize so a >= 0: leftward-ray crossing <=> R > 0.
    neg = a < 0
    a = np.where(neg, -a, a)
    b = np.where(neg, -b, b)
    c = np.where(neg, -c, c)
    return PreparedRing(
        a=a,
        b=b,
        c=c,
        xmin=np.minimum(x1, x2),
        xmax=np.maximum(x1, x2),
        ymin=np.minimum(y1, y2),
        ymax=np.maximum(y1, y2),
    )


def ring_contains(ring: PreparedRing, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Boundary-inclusive even-odd test for one ring, vectorized over points.

    Returns a boolean array: True when the point is strictly inside (odd
    leftward-ray crossing parity) or exactly on an edge segment.
    """
    x = np.ascontiguousarray(x, dtype=np.float64)
    y = np.ascontiguousarray(y, dtype=np.float64)
    n = x.shape[0]
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    chunk = max(1, EDGE_CHUNK_CELLS // max(1, ring.n_edges))
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        cx = x[lo:hi, None]
        cy = y[lo:hi, None]
        r = cx * ring.a + cy * ring.b + ring.c
        yspan = (ring.ymin <= cy) & (cy <= ring.ymax)
        on = yspan & (ring.xmin <= cx) & (cx <= ring.xmax) & (r == 0)
        cross = yspan & (cy < ring.ymax) & (ring.xmin <= cx) & (r > 0)
        out[lo:hi] = on.any(axis=1) | ((cross.sum(axis=1) & 1) == 1)
    return out


@dataclass(frozen=True)
class PreparedPolygon:
    """Compiled multi-polygon: include/exclude prepared rings + overall bbox.

    The object is small (a handful of numpy arrays) and is meant to be
    shipped to executors as a Spark broadcast variable.
    """

    include: tuple[PreparedRing, ...]
    exclude: tuple[PreparedRing, ...] = field(default_factory=tuple)

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        """Union bbox of the include rings — the native pushdown prefilter."""
        boxes = [r.bbox for r in self.include]
        return (
            min(b[0] for b in boxes),
            max(b[1] for b in boxes),
            min(b[2] for b in boxes),
            max(b[3] for b in boxes),
        )

    def contains(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """inside := any(include) AND NOT any(exclude)

        (compile/1, osm_polygon_compiler.erl:168-180).
        """
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        inside = np.zeros(x.shape[0], dtype=bool)
        for ring in self.include:
            inside |= ring_contains(ring, x, y)
        if inside.any():
            for ring in self.exclude:
                inside &= ~ring_contains(ring, x, y)
        return inside

    def contains_point(self, x: float, y: float) -> bool:
        return bool(self.contains(np.array([x]), np.array([y]))[0])


def prepare_polygon(rings: list[RingDef]) -> PreparedPolygon:
    """Compile a polygon definition list into a PreparedPolygon."""
    include: list[PreparedRing] = []
    exclude: list[PreparedRing] = []
    for kind, points in rings:
        if kind == "include":
            include.append(prepare_ring(points))
        elif kind == "exclude":
            exclude.append(prepare_ring(points))
        else:
            raise ValueError(f"unknown ring kind: {kind!r}")
    if not include:
        raise ValueError("polygon needs at least one include ring")
    return PreparedPolygon(include=tuple(include), exclude=tuple(exclude))


def star_polygon(
    n_vertices: int = 1000,
    center: Point = (6.0, 3.5),
    rmin: float = 2.0,
    rmax: float = 5.5,
    seed: int = 42,
) -> list[Point]:
    """Deterministic wavy ring — a stand-in for real .poly files (country
    polygons have thousands of vertices tracing a SMOOTH boundary, so
    consecutive edges are short).  Radius varies by a few low-frequency
    sinusoids plus mild noise; adjacent vertices stay close, matching the
    short-edge structure real cut polygons have."""
    rng = np.random.default_rng(seed)
    theta = np.linspace(0.0, 2.0 * np.pi, n_vertices, endpoint=False)
    rm = (rmin + rmax) / 2.0
    amp = (rmax - rmin) / 2.0
    phases = rng.uniform(0, 2 * np.pi, 3)
    r = (
        rm
        + 0.5 * amp * np.sin(3 * theta + phases[0])
        + 0.3 * amp * np.sin(7 * theta + phases[1])
        + 0.2 * amp * np.sin(13 * theta + phases[2])
    )
    xs = center[0] + r * np.cos(theta)
    ys = center[1] + r * np.sin(theta)
    return [(float(x), float(y)) for x, y in zip(xs, ys)]


def segments_intersect_rect(
    ring: PreparedRing,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> bool:
    """True if any edge of the ring intersects the closed rectangle.

    Used by the cell-cover builder to classify cells as boundary vs uniform.
    An edge intersects the rect iff (a) its bbox overlaps the rect AND (b)
    the rect's four corners are not all strictly on one side of the edge's
    line (standard separating-axis test for segment-vs-AABB).
    """
    overlap = (
        (ring.xmin <= xmax)
        & (ring.xmax >= xmin)
        & (ring.ymin <= ymax)
        & (ring.ymax >= ymin)
    )
    if not overlap.any():
        return False
    a, b, c = ring.a[overlap], ring.b[overlap], ring.c[overlap]
    corners = np.array(
        [[xmin, ymin], [xmin, ymax], [xmax, ymin], [xmax, ymax]], dtype=np.float64
    )
    r = corners[:, 0:1] * a + corners[:, 1:2] * b + c  # (4, k)
    all_pos = (r > 0).all(axis=0)
    all_neg = (r < 0).all(axis=0)
    return bool((~(all_pos | all_neg)).any())
