"""Polygon-cut extraction pipeline (the engine's flagship operator).

Batch-DataFrame re-expression of the reference's one-pass mode machine
(/root/reference/src/osm_process_non_complete.erl and
osm_process_complete.erl).  Semantics are identical; the physical plan is
Spark-shaped:

* **Node filter** — native bbox predicate (pushdown/row-group pruning, the
  analog of the geotree root bbox prune, osm_polygon_compiler.erl:200-206),
  then NATIVE cover routing: the fine cell id is pure codegen integer math
  (cells_sql.cell_col) and per-resolution broadcast hash joins against the
  polygon cell cover resolve uniform cells JVM-side (the geotree's in/out
  constant folding, erl:303-334); only boundary-cell points enter the
  Arrow-vectorized edge-subset PIP kernel (select_points).
* **Way semi-join** — posexplode(nds) ⋈ selected-node ids, regrouped per
  way.  Non-complete keeps the intersection node list in original order
  (osm_process_non_complete.erl:75-87); complete keeps the full list and
  computes completion nodes (refs outside the polygon joined back to the
  full node table — osm_process_complete.erl:86-100, 136-152).
* **Relation selection** — one routine for both modes (relation_closure):
  seed relations (≥1 node/way member hit) plus the ancestor walk over
  child→parent relation links (osm_process_complete.erl:109-134, 229-251).
  complete: keyed by relation id, order-free; closure-only relations keep
  only their relation-type members (erl:118-124, 253-257).  non-complete:
  keyed by relation row, and a parent counts only after its child in
  stream order (doc_id, offset) (osm_process_non_complete.erl:90-105).
  Small link graphs walk on the driver, large ones run a DataFrame
  self-join to fixpoint.
* **Output** — element rows carry their ORIGINAL span text (attrs and
  children re-emitted verbatim, child spans filtered to kept refs), phased
  nodes → completion nodes → ways → relations (osm_process_complete.erl:
  60-64, 143-167, 170-190), and can be regrouped into an output document
  table with contiguous renumbered offsets preserving the per-document
  span-sequence invariant.

Scale notes: the only shuffles are the way/member explode-joins and the
final regroups, all on well-distributed keys (node id, (doc_id, offset));
the polygon/cover broadcast is a few MB even for continent-size polygons;
AQE handles skew and picks broadcast sides when the selection is small.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import BooleanType, LongType

from osm_cut_spark.functions.cells import (
    BOUNDARY,
    INSIDE,
    OUTSIDE,
    CellCover,
    boundary_edge_index,
    lonlat_to_cell,
    polygon_cell_cover,
)
from osm_cut_spark.functions.geometry import PreparedPolygon
from osm_cut_spark.operators import ingest


# ---------------------------------------------------------------------------
# point-in-polygon UDF with cell-cover routing
# ---------------------------------------------------------------------------


def _isin_sorted(values: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    if sorted_arr.shape[0] == 0:
        return np.zeros(values.shape[0], dtype=bool)
    idx = np.searchsorted(sorted_arr, values)
    idx = np.clip(idx, 0, sorted_arr.shape[0] - 1)
    return sorted_arr[idx] == values


def _ring_verdict_pairs(
    ring, ptr: np.ndarray, eidx: np.ndarray, cell_pos: np.ndarray, x: np.ndarray, y: np.ndarray
) -> np.ndarray:
    """Fully-vectorized per-cell edge-subset even-odd test for one ring.

    Expands (point, local edge) pairs flat (total pairs = sum over points
    of their cell's edge count — hundreds of times fewer than points *
    all_edges for complex polygons), evaluates the crossing/on masks per
    pair, and segment-reduces back per point with bincount.
    """
    n = x.shape[0]
    counts = ptr[cell_pos + 1] - ptr[cell_pos]
    total = int(counts.sum())
    if total == 0:
        return np.zeros(n, dtype=bool)
    rep = np.repeat(np.arange(n), counts)
    # flat gather of each point's cell edge slice
    offs = (
        np.arange(total)
        - np.repeat(np.cumsum(counts) - counts, counts)
        + np.repeat(ptr[cell_pos], counts)
    )
    e = eidx[offs]
    px, py = x[rep], y[rep]
    a, b, c = ring.a[e], ring.b[e], ring.c[e]
    r = px * a + py * b + c
    yspan = (ring.ymin[e] <= py) & (py <= ring.ymax[e])
    xok = ring.xmin[e] <= px
    on = yspan & xok & (px <= ring.xmax[e]) & (r == 0)
    cross = yspan & xok & (py < ring.ymax[e]) & (r > 0)
    n_cross = np.bincount(rep[cross], minlength=n)
    has_on = np.zeros(n, dtype=bool)
    has_on[rep[on]] = True
    return has_on | ((n_cross & 1) == 1)


def _boundary_verdict(
    poly: PreparedPolygon,
    edge_index: list[tuple[np.ndarray, np.ndarray]],
    cell_pos: np.ndarray,
    x: np.ndarray,
    y: np.ndarray,
) -> np.ndarray:
    """Per-cell edge-subset PIP for boundary-cell points (exact)."""
    rings = list(poly.include) + list(poly.exclude)
    n_inc = len(poly.include)
    inside = np.zeros(x.shape[0], dtype=bool)
    for ri in range(n_inc):
        ptr, eidx = edge_index[ri]
        inside |= _ring_verdict_pairs(rings[ri], ptr, eidx, cell_pos, x, y)
    if inside.any():
        for ri in range(n_inc, len(rings)):
            ptr, eidx = edge_index[ri]
            inside &= ~_ring_verdict_pairs(rings[ri], ptr, eidx, cell_pos, x, y)
    return inside


def _route_points(
    poly: PreparedPolygon,
    cover: CellCover,
    inside_by_res: dict[int, np.ndarray],
    x: np.ndarray,
    y: np.ndarray,
    edge_index: list[tuple[np.ndarray, np.ndarray]] | None = None,
) -> np.ndarray:
    fine = lonlat_to_cell(x, y, cover.res)
    out = np.zeros(x.shape[0], dtype=bool)
    undecided = np.ones(x.shape[0], dtype=bool)
    for r, arr in inside_by_res.items():
        anc = fine >> np.int64(2 * (cover.res - r))
        hit = undecided & _isin_sorted(anc, arr)
        out |= hit
        undecided &= ~hit
    bnd = undecided & _isin_sorted(fine, cover.boundary_cells)
    if bnd.any():
        if edge_index is not None:
            pos = np.searchsorted(cover.boundary_cells, fine[bnd])
            out[bnd] = _boundary_verdict(poly, edge_index, pos, x[bnd], y[bnd])
        else:
            out[bnd] = poly.contains(x[bnd], y[bnd])
    return out


def make_pip_udf(spark: SparkSession, poly: PreparedPolygon, cover: CellCover):
    """Vectorized boolean pandas UDF: (lon, lat) -> inside polygon.

    Ships a per-boundary-cell edge index with the broadcast so boundary
    points only test edges local to their cell (the geotree per-leaf
    interval trick, osm_polygon_compiler.erl:341-345) — exact, and turns
    the per-point cost from O(all edges) into O(local edges).
    """
    from osm_cut_spark.functions.cells import boundary_edge_index, cell_res

    res_of = cell_res(cover.inside_cells)
    inside_by_res = {
        int(r): np.sort(cover.inside_cells[res_of == r]) for r in np.unique(res_of)
    }
    edge_index = (
        boundary_edge_index(poly, cover.boundary_cells)
        if cover.boundary_cells.size
        else None
    )
    bc = spark.sparkContext.broadcast((poly, cover, inside_by_res, edge_index))

    @F.pandas_udf(BooleanType())
    def pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        p, c, ibr, ei = bc.value
        x = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        y = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        ok = ~(np.isnan(x) | np.isnan(y))
        res = np.zeros(x.shape[0], dtype=bool)
        if ok.any():
            res[ok] = _route_points(p, c, ibr, x[ok], y[ok], ei)
        return pd.Series(res)

    return pip


def make_cell_udf(spark: SparkSession, res: int):
    """Vectorized long pandas UDF: (lon, lat) -> cell id at ``res``.

    Superseded on every hot path by the native ``cells_sql.cell_col``
    expression (bit-exact twin, whole-stage-codegen, no Arrow transfer);
    kept as the reference implementation the parity tests compare against.
    """

    @F.pandas_udf(LongType())
    def cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        x = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        y = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        out = lonlat_to_cell(np.nan_to_num(x), np.nan_to_num(y), res)
        out[np.isnan(x) | np.isnan(y)] = -1
        return pd.Series(out)

    return cell


def make_boundary_pip_udf(
    spark: SparkSession,
    poly: PreparedPolygon,
    cover: CellCover,
    edge_index,
    rows_acc=None,
):
    """Vectorized boolean pandas UDF for BOUNDARY-CELL points only:
    (lon, lat, fine_cell) -> inside polygon.

    The caller has already routed uniform-verdict cells natively
    (select_points), so every input row sits in a boundary cell and pays
    exactly its cell's local edge subset — the Arrow transfer shrinks from
    all-bbox-passing points to boundary points (typically 10-50x fewer).
    The fine cell id arrives as a column (computed JVM-side by cell_col),
    so Python does no cell math at all — just a searchsorted into the
    boundary-cell array and the CSR edge-subset even-odd test.
    ``rows_acc`` (optional Spark accumulator) counts Arrow input rows —
    the observable that pins "boundary-only transfer" in tests.
    """
    bc = spark.sparkContext.broadcast((poly, cover.boundary_cells, edge_index))

    @F.pandas_udf(BooleanType())
    def pip_bnd(lon: pd.Series, lat: pd.Series, fc: pd.Series) -> pd.Series:
        p, bcells, ei = bc.value
        if rows_acc is not None:
            rows_acc.add(len(lon))
        x = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        y = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        f = fc.to_numpy(dtype=np.int64, na_value=-1)
        out = np.zeros(x.shape[0], dtype=bool)
        if bcells.shape[0] == 0:
            return pd.Series(out)
        pos = np.clip(np.searchsorted(bcells, f), 0, bcells.shape[0] - 1)
        ok = (bcells[pos] == f) & ~(np.isnan(x) | np.isnan(y))
        if ok.any():
            if ei is not None:
                out[ok] = _boundary_verdict(p, ei, pos[ok], x[ok], y[ok])
            else:
                out[ok] = p.contains(x[ok], y[ok])
        return pd.Series(out)

    # nondeterministic marker is a FENCE, not a semantic statement: it stops
    # CombineFilters/PushDownPredicate from merging this filter into the
    # verdict filter below it — merged, the ArrowEvalPython would evaluate
    # the UDF on EVERY routed row and the boundary-only transfer is lost
    # (measured: all bbox survivors crossed Arrow; pinned by the
    # arrow_rows_acc test).
    return pip_bnd.asNondeterministic()


def auto_cover(poly: PreparedPolygon, coarse_res: int = 7, max_cells: int = 2_000_000) -> CellCover:
    """Build a cell cover whose fine resolution tracks the polygon's edge
    scale: complex polygons (country .poly files have thousands of short
    edges) need finer cells or every cell is a boundary cell and all points
    pay the full edge test."""
    exts = np.concatenate(
        [
            np.maximum(r.xmax - r.xmin, r.ymax - r.ymin)
            for r in list(poly.include) + list(poly.exclude)
        ]
    )
    med = float(np.median(exts)) if exts.size else 1.0
    res = int(np.ceil(np.log2(360.0 / max(med, 1e-9))))
    res = min(13, max(10, res))
    return polygon_cell_cover(poly, coarse_res, res, max_cells=max_cells)


def bbox_predicate(
    poly: PreparedPolygon, lon_col: str = "lon", lat_col: str = "lat"
) -> Column:
    """Native pre-filter on the include-rings bbox (Catalyst-visible)."""
    x0, x1, y0, y1 = poly.bbox
    return (
        F.col(lon_col).between(F.lit(x0), F.lit(x1))
        & F.col(lat_col).between(F.lit(y0), F.lit(y1))
    )


# ---------------------------------------------------------------------------
# stage 1: node selection
# ---------------------------------------------------------------------------


def make_point_selector(
    spark: SparkSession,
    poly: PreparedPolygon,
    cover: CellCover | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    arrow_rows_acc=None,
):
    """Build the cover-routing machinery ONCE and return a reusable
    ``points -> selected points`` callable.

    The per-call setup of select_points (edge-index build, the ONE verdict
    DataFrame, the boundary-UDF broadcast) is polygon-derived and identical
    across calls — a streaming query or a multi-cut session pays it once
    here instead of per microbatch/extract.
    """
    from osm_cut_spark.functions.cells import cell_res
    from osm_cut_spark.functions.cells_sql import cell_col, cell_parent_col

    if cover is None:
        cover = polygon_cell_cover(poly)
    levels = sorted(
        set(np.unique(cell_res(cover.inside_cells)).tolist())
        | ({cover.res} if cover.boundary_cells.size else set())
    )
    if not levels:
        # degenerate cover (polygon smaller than any cell / no cells at
        # all): nothing can match — selection is provably empty; checked
        # FIRST so the edge-index / verdict-frame Spark work below is
        # never built for an empty cover
        return lambda points: points.filter(F.lit(False))
    edge_index = (
        boundary_edge_index(poly, cover.boundary_cells)
        if cover.boundary_cells.size
        else None
    )

    # ONE (cell_id, verdict) frame for the whole cover.  Cell ids carry a
    # marker bit above their Morton bits, so ids are globally unique ACROSS
    # resolutions — inside cells at every level and the boundary cells (at
    # cover.res) can share a single broadcast hash table, and a point probes
    # it once with all its ancestor candidates instead of once per level.
    parts = [
        pd.DataFrame(
            {
                "_ck": cover.inside_cells,
                "_v": np.full(cover.inside_cells.shape[0], INSIDE, dtype=np.int32),
            }
        )
    ]
    if cover.boundary_cells.size:
        parts.append(
            pd.DataFrame(
                {
                    "_ck": cover.boundary_cells,
                    "_v": np.full(
                        cover.boundary_cells.shape[0], BOUNDARY, dtype=np.int32
                    ),
                }
            )
        )
    vpdf = pd.concat(parts, ignore_index=True)
    vdf = spark.createDataFrame(vpdf, schema="_ck long, _v int")
    pip_bnd = (
        make_boundary_pip_udf(spark, poly, cover, edge_index, arrow_rows_acc)
        if cover.boundary_cells.size
        else None
    )

    def select(points: DataFrame) -> DataFrame:
        # bbox prune -> fine cell -> explode the (tiny, n_levels-long)
        # ancestor-candidate array -> ONE inner broadcast hash join.  The
        # cover refines disjointly, so at most one ancestor matches: the
        # inner join both routes and drops OUTSIDE rows, no row ever
        # duplicates, and the whole probe stays inside one codegen stage.
        anc = F.array(
            *[cell_parent_col(F.col("_fc"), cover.res - r) for r in levels]
        )
        routed = (
            points.filter(bbox_predicate(poly, lon_col, lat_col))
            .withColumn("_fc", cell_col(F.col(lon_col), F.col(lat_col), cover.res))
            .withColumn("_ack", F.explode(anc))
            .join(F.broadcast(vdf), F.col("_ack") == F.col("_ck"), "inner")
        )
        inside = routed.filter(F.col("_v") == INSIDE)
        bnd = routed.filter(F.col("_v") == BOUNDARY)
        if pip_bnd is not None:
            bnd = bnd.filter(pip_bnd(F.col(lon_col), F.col(lat_col), F.col("_fc")))
        else:
            bnd = bnd.filter(F.lit(False))
        out_cols = points.columns
        return inside.select(*out_cols).unionByName(bnd.select(*out_cols))

    return select


def select_points(
    spark: SparkSession,
    points: DataFrame,
    poly: PreparedPolygon,
    cover: CellCover | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    arrow_rows_acc=None,
) -> DataFrame:
    """Points inside the polygon — natively cover-routed PIP.

    The routing that used to happen inside the pandas UDF (cells.py cover
    semantics: fine cell in the inside set at any ancestor resolution ->
    accept; in the boundary set -> edge test; neither -> reject) now runs
    entirely JVM-side:

    1. native bbox prune (Catalyst-visible, pushdown-friendly);
    2. native fine-cell id (``cells_sql.cell_col`` — bit-exact twin of
       lonlat_to_cell, pure codegen integer math);
    3. ONE inner BroadcastHashJoin: the point explodes its (n_levels-long)
       ancestor-cell array and probes a single (cell_id, verdict) table —
       cell ids are resolution-tagged (marker bit) so all cover levels
       share one hash table, the cover refines disjointly so at most one
       ancestor matches (no duplication), and unmatched (OUTSIDE) rows
       drop in the join itself;
    4. uniform cells resolve right there: verdict==INSIDE rows are kept
       with no Python at all;
    5. ONLY verdict==BOUNDARY rows (typically 2-50x fewer than the bbox
       survivors) enter the ArrowEvalPython edge-subset kernel
       (make_boundary_pip_udf), as a separate union branch so the Arrow
       transfer provably excludes uniform-cell rows (plan-tested).

    Analog of the reference geotree's constant-folded quadrant dispatch
    (osm_polygon_compiler.erl:303-334) — but the dispatch is a broadcast
    hash probe inside whole-stage codegen instead of per-point Erlang.

    One-shot form of ``make_point_selector`` — repeated callers (streaming
    microbatches, multi-cut sessions) should build the selector once.
    """
    return make_point_selector(
        spark, poly, cover, lon_col, lat_col, arrow_rows_acc
    )(points)


def select_nodes(
    spark: SparkSession,
    nodes: DataFrame,
    poly: PreparedPolygon,
    cover: CellCover | None = None,
) -> DataFrame:
    """Nodes inside the polygon (bbox prune -> native cover routing ->
    boundary-only PIP UDF; see select_points)."""
    return select_points(
        spark, nodes.filter(F.col("id").isNotNull()), poly, cover
    )


# ---------------------------------------------------------------------------
# stage 2: way semi-join (+ completion in complete mode)
# ---------------------------------------------------------------------------

_WAY_KEY = ["doc_id", "offset"]


def select_ways(ways: DataFrame, sel_node_ids: DataFrame, complete: bool) -> DataFrame:
    """Ways with >=1 selected node ref.

    Adds ``kept_nds`` (array<long>, original order):
    * non-complete: the projected intersection (way#nodes := kept refs,
      osm_process_non_complete.erl:83-86);
    * complete: the full original list (osm_process_complete.erl:95-99).
    """
    exploded = ways.select(*_WAY_KEY, F.posexplode("nds").alias("pos", "ref"))
    hits = exploded.join(sel_node_ids, exploded.ref == sel_node_ids.node_id, "inner")
    if complete:
        # complete mode keeps the FULL nd list, so only MEMBERSHIP matters:
        # a slim semi-join on the hit keys replaces the round-6
        # collect_list/sort_array regroup (guide §2.3 "aggregate before you
        # shuffle" in reverse — don't aggregate a payload nobody reads; the
        # exchange now carries bare (doc_id, offset) rows, no struct arrays)
        return ways.join(
            hits.select(*_WAY_KEY), _WAY_KEY, "left_semi"
        ).withColumn("kept_nds", F.col("nds"))
    kept = hits.groupBy(*_WAY_KEY).agg(
        F.sort_array(F.collect_list(F.struct("pos", "ref"))).alias("kp")
    )
    out = ways.join(kept, _WAY_KEY, "inner")
    return out.withColumn(
        "kept_nds", F.expr("transform(kp, x -> x.ref)")
    ).drop("kp")


def completion_nodes(
    ways_sel: DataFrame, nodes: DataFrame, sel_node_ids: DataFrame
) -> DataFrame:
    """Outside nodes referenced by kept ways, fetched whole from the node
    table (osm_process_complete.erl:136-152).  Excludes already-selected
    node ids; refs with no backing node row vanish naturally."""
    refs = (
        ways_sel.select(F.explode("kept_nds").alias("ref"))
        .distinct()
        .join(sel_node_ids, F.col("ref") == F.col("node_id"), "left_anti")
    )
    return nodes.join(refs, nodes.id == refs.ref, "left_semi")


# ---------------------------------------------------------------------------
# stage 3: relation selection
# ---------------------------------------------------------------------------


def _enc_key(kind_col, ref_col):
    """(kind, id) membership key packed into ONE long: id*4 + kind code.

    Every member/key join in the pipeline runs on this encoding — a single
    8-byte join key instead of (string, long), which halves shuffle row
    width, makes the hash probe one long compare, and makes the key set
    broadcastable at 2x the row count for the same memory.  OSM ids are
    < 2^60 so the *4 cannot overflow for real data; ids OUTSIDE [0, 2^60)
    (corrupt input) would silently wrap to an aliased key, so they are
    nulled out — an equi-join never matches NULL, the same outcome a kind
    outside node/way/relation gets (and the same outcome the old
    (string, long) comparison gave corrupt member types).
    """
    code = (
        F.when(kind_col == "node", F.lit(0))
        .when(kind_col == "way", F.lit(1))
        .when(kind_col == "relation", F.lit(2))
    )
    safe_ref = F.when((ref_col >= 0) & (ref_col < F.lit(1 << 60)), ref_col)
    return safe_ref * F.lit(4) + code


def _member_hits(
    relations: DataFrame, base_keys: DataFrame, broadcast_keys: bool = False
) -> DataFrame:
    """Relations with >=1 member matching base_keys(kind, key_id):
    (doc_id, offset, rid) — one row per hit relation row.

    ``base_keys`` only ever contains node/way kinds (base_key_df), so
    relation-type members are pruned INSIDE the explode — they can never
    match, and on real OSM graphs they are the members that make parent
    relations huge.  ``broadcast_keys=True`` hints the (long-encoded) key
    set onto the build side of a broadcast semi-join: the exploded member
    stream (the big side — every member of every relation) then never
    enters an exchange at all.  finish_extract sets the hint from the
    measured key count; callers with key sets too large to broadcast leave
    it False and fall back to the shuffle semi-join (AQE-skew-guarded).

    Round 7: the relation ``id`` rides through the explode, so callers
    read ``rid`` straight off the hit rows — the old shape re-joined the
    (doc_id, offset) hits against the relation table just to recover the
    id, one whole extra exchange+join per selection pass.
    """
    mem = (
        relations.select(*_WAY_KEY, "id", F.explode("members").alias("m"))
        .filter(F.col("m.type").isin("node", "way"))
        .select(
            *_WAY_KEY,
            F.col("id").alias("rid"),
            _enc_key(F.col("m.type"), F.col("m.ref")).alias("k"),
        )
    )
    keys = base_keys.select(_enc_key(F.col("kind"), F.col("key_id")).alias("k"))
    keys = F.broadcast(keys) if broadcast_keys else keys
    # NOT distinct: one row per matching member — each caller dedups on
    # exactly the key set it needs (rid alone, or the full triple), so the
    # selection pays ONE exchange instead of two
    return mem.join(keys, "k", "left_semi").select(*_WAY_KEY, "rid")


def base_key_df(
    sel_node_ids: DataFrame,
    comp_node_ids: DataFrame | None,
    way_keys_ids: DataFrame,
) -> DataFrame:
    """(kind, key_id) union of selected nodes (+completion nodes) and ways.

    No distinct: the branches are mutually disjoint by construction (node
    vs way kind tags; completion ids are anti-joined against selected ids)
    — a distinct here was a full-width shuffle of the entire key set for
    nothing (~13 s at 2M docs), and every consumer is a semi-join or a
    dedup-after aggregate, so duplicates (including cross-document
    duplicate way/completion ids, which round 7 stopped pre-deduping)
    cannot change results.
    """
    parts = [sel_node_ids.select(F.lit("node").alias("kind"), F.col("node_id").alias("key_id"))]
    if comp_node_ids is not None:
        parts.append(
            comp_node_ids.select(F.lit("node").alias("kind"), F.col("node_id").alias("key_id"))
        )
    parts.append(way_keys_ids.select(F.lit("way").alias("kind"), F.col("way_id").alias("key_id")))
    return reduce(DataFrame.unionByName, parts)


# Edge count up to which the closure is one driver-side worklist walk over
# the collected relation->relation links (the link graph is tiny next to the
# data: OSM planet <<1% of elements); above it, a DataFrame self-join to
# fixpoint.  start_edge_probe reads it once and hands it to the consumer
# with the rows, so the collect and the worklist test always agree.
DRIVER_MAX_EDGES = 2_000_000

# schema of the closure keys the driver walk ships back to Spark
_KEY_SCHEMA = {False: "rid BIGINT", True: "doc_id STRING, offset INT, rid BIGINT"}


def _rel_key(ordered: bool) -> list[str]:
    """The closure's node key: the relation id (complete mode), or the
    relation ROW — stream position plus id — when stream order matters
    (non-complete mode)."""
    return ["doc_id", "offset", "rid"] if ordered else ["rid"]


def _relation_edges(relations: DataFrame, ordered: bool) -> DataFrame:
    """child->parent relation links: (child, <parent key>).

    Over ALL relations, not only non-seed parents: an edge whose parent is
    already selected is a closure no-op, so the superset yields the same
    closure — and the edge scan depends only on the relation table, which
    lets extract() probe it concurrently with the selection fill.
    """
    return (
        relations.select(*_WAY_KEY, F.col("id").alias("rid"), F.explode("members").alias("m"))
        .filter(F.col("m.type") == "relation")
        .select(F.col("m.ref").alias("child"), *_rel_key(ordered))
    )


def start_edge_probe(relations: DataFrame, complete: bool):
    """Kick the closure's bounded edge collect off on a DRIVER THREAD so it
    overlaps the selection-fill jobs (guide §2.6 — overlap independent
    jobs: the edge scan needs only the narrow relation frame, which the
    caller has already cached, while the selection fill runs PIP/joins
    that never touch relation members).  Returns a zero-arg callable that
    joins the thread and yields ``(rows, limit)``: the collected edges
    (at most ``limit + 1``, the in-line probe relation_closure would
    otherwise run) and the DRIVER_MAX_EDGES value they were collected
    under (re-raising any failure)."""
    edges = _relation_edges(relations, ordered=not complete)
    limit = DRIVER_MAX_EDGES
    box: dict = {}

    def run():
        try:
            box["rows"] = edges.limit(limit + 1).collect()
        except BaseException as e:  # noqa: BLE001 — re-raised at join()
            box["err"] = e

    # InheritableThread: the probe's jobs carry the caller's job group and
    # its JVM thread is released when it finishes
    t = InheritableThread(target=run, daemon=True)
    t.start()

    def get():
        t.join()
        if "err" in box:
            raise box["err"]
        return box["rows"], limit

    return get


def walk(start, parents_of) -> set:
    """Worklist ancestor walk (osm_process_complete.erl:237-251): every key
    reachable from ``start`` through ``parents_of``, excluding ``start``
    itself.  Shared by both cut modes and the streaming closure delta."""
    seen = set(start)
    found: set = set()
    work = list(seen)
    while work:
        for p in parents_of(work.pop()):
            if p not in seen:
                seen.add(p)
                found.add(p)
                work.append(p)
    return found


def relation_closure(
    seeds: DataFrame,
    edges: DataFrame,
    ordered: bool,
    edge_probe=None,
    max_edges: int | None = None,
) -> DataFrame:
    """``seeds`` plus their ancestor closure over ``edges``
    (``_relation_edges`` shape), keyed by ``_rel_key(ordered)``.

    Complete mode (``ordered=False``) follows every child->parent link
    (osm_process_complete.erl:109-134, 229-251).  Non-complete mode keys
    the walk by relation row and counts a parent only when it comes AFTER
    its child in stream order (doc_id, offset): the single pass has
    written the child by then (osm_process_non_complete.erl:90-105).

    One bounded collect probes the edge count and fetches the rows
    (``edge_probe``, from start_edge_probe, hands back the same collect
    already overlapped with the selection fill, with its limit).  Up to
    the limit — DRIVER_MAX_EDGES unless ``max_edges`` forces another —
    the closure is a driver worklist: only the edges and the seeds that
    touch them are collected, and the new ancestors ship back via Arrow,
    so driver traffic is O(edges), not O(selected relations).  Above it,
    a DataFrame self-join runs until the frontier is empty.  Either way
    the result is distinct on the key.
    """
    spark = seeds.sparkSession
    if edge_probe is not None:
        rows, limit = edge_probe()
    else:
        limit = DRIVER_MAX_EDGES if max_edges is None else max_edges
        rows = edges.limit(limit + 1).collect()
    if not rows:
        return seeds
    key = _rel_key(ordered)

    if len(rows) <= limit:
        links: dict[int, list[tuple]] = {}
        for r in rows:
            links.setdefault(r[0], []).append(tuple(r[1:]))
        cdf = spark.createDataFrame(
            pd.DataFrame({"rid": np.array(list(links), dtype=np.int64)})
        )
        start = [tuple(r) for r in seeds.join(cdf, "rid", "left_semi").select(*key).collect()]
        extra = walk(
            start,
            lambda k: [p for p in links.get(k[-1], ()) if not ordered or k[:2] < p[:2]],
        )
        if not extra:
            return seeds
        extra_df = spark.createDataFrame(
            pd.DataFrame(sorted(extra), columns=key), _KEY_SCHEMA[ordered]
        )
        return seeds.unionByName(extra_df).distinct()

    # DF fixpoint (giant link graphs).  Each level is a localCheckpoint, so
    # its plan is a leaf: a persisted level keeps its whole lineage, and the
    # next level's plan (frontier + `seen`, both holding every earlier
    # level) grows until building the plan string alone exhausts the driver
    # heap (a 70-level chain did).  `seen` is a flat union of the levels,
    # re-checkpointed every 8 to keep the union narrow.  Each level is
    # anti-joined against `seen`, which only grows over a finite key set,
    # so the frontier empties and the loop ends.
    as_child = {"rid": "child", "doc_id": "c_doc", "offset": "c_off"}
    edges = edges.persist()
    seen = frontier = seeds
    for depth in itertools.count(1):
        nxt = edges.join(frontier.select(*[F.col(c).alias(as_child[c]) for c in key]), "child")
        if ordered:
            nxt = nxt.filter(
                (F.col("c_doc") < F.col("doc_id"))
                | ((F.col("c_doc") == F.col("doc_id")) & (F.col("c_off") < F.col("offset")))
            )
        nxt = nxt.select(*key).distinct().join(seen, key, "left_anti").localCheckpoint()
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt)
        if depth % 8 == 0:
            seen = seen.localCheckpoint()
        frontier = nxt
    edges.unpersist()
    return seen


def broadcast_key_cap(spark: SparkSession, broadcast_max_keys: int) -> int:
    """Memory-aware bound on how many packed-long keys may be broadcast.

    A LongHashedRelation costs ~64 bytes/key built on the DRIVER before
    shipping; a row-count-only threshold OOMs the broadcast build on small
    heaps (observed: 15M keys fine in a 32g local driver, fatal in 8g).
    Cap the broadcast at ~10% of the driver's max heap and let larger key
    sets fall back to the shuffle semi-join.
    """
    try:
        max_mem = int(spark.sparkContext._jvm.Runtime.getRuntime().maxMemory())
        return min(broadcast_max_keys, int(max_mem * 0.1) // 64)
    except Exception:
        return broadcast_max_keys


def relation_outputs(
    relations: DataFrame,
    keys: DataFrame,
    complete: bool,
    caches: list | None = None,
    broadcast_keys: bool = False,
    edge_probe=None,
) -> DataFrame:
    """Relation selection + member projection: (doc_id, offset, kept_m) for
    every selected relation, given the node/way key set ``keys``.

    Selection is relation_closure over the seeds (relations with >=1
    node/way member in ``keys``).  complete: seeds keep ALL member kinds in
    the final set, closure-only relations keep only relation-type members
    (osm_process_complete.erl:118-124, 184, 253-257).  non-complete:
    stream-order selection; members kept as of the relation's position
    (osm_process_non_complete.erl:95-105).  Shared by finish_extract and
    the incremental streaming cut (which refreshes this per epoch over the
    accumulated relation table).

    Output rows are relation ROWS that keep >=1 member.  Complete mode
    selects by relation id, so when one id appears in several documents
    every row of a selected id is a candidate, and a row none of whose
    members survive is absent from the output (not emitted with an empty
    kept_m).
    """
    if caches is None:
        caches = []
    _maybe_bcast = F.broadcast if broadcast_keys else (lambda df: df)
    ordered = not complete
    seeds = (
        _member_hits(relations, keys, broadcast_keys)
        .select(*_rel_key(ordered))
        .distinct()
        .persist()
    )
    caches.append(seeds)
    sel_rel = relation_closure(
        seeds, _relation_edges(relations, ordered), ordered, edge_probe
    )
    if complete:
        all_keys = keys.select(_enc_key(F.col("kind"), F.col("key_id")).alias("k")).unionByName(
            sel_rel.select((F.col("rid") * F.lit(4) + F.lit(2)).alias("k"))
        )
        seeds_marked = seeds.select(F.col("rid"), F.lit(True).alias("seed"))
        rel_rows = (
            relations.join(sel_rel, relations.id == sel_rel.rid, "left_semi")
            .join(seeds_marked, F.col("id") == seeds_marked.rid, "left")
            .drop("rid")
        )
        mem = (
            rel_rows.select("doc_id", "offset", "seed", F.explode("members").alias("m"))
            .withColumn("k", _enc_key(F.col("m.type"), F.col("m.ref")))
            .join(_maybe_bcast(all_keys), "k", "left_semi")
        )
        # the groupBy alone covers EVERY selected relation id: a seed has
        # >=1 node/way member in base_keys (its selection criterion — in
        # all_keys, kept by the seed filter arm), and a closure-only
        # relation was added exactly because a child RELATION member is
        # selected (that child's rid key is in all_keys, kept by the
        # type=relation arm) — the same row-coverage argument the
        # non-complete branch relies on
        mem = mem.filter((F.col("seed").isNotNull()) | (F.col("m.type") == "relation"))
    else:
        rel_rows = relations.join(sel_rel.select("doc_id", "offset"), _WAY_KEY, "left_semi")
        # members at processing time: nodes/ways in set + relations selected
        # EARLIER in stream order (osm_process_non_complete.erl:95-105)
        sel_rel_keys = sel_rel.select(
            (F.col("rid") * F.lit(4) + F.lit(2)).alias("k"),
            F.col("doc_id").alias("k_doc"),
            F.col("offset").alias("k_off"),
        )
        nw_keys = keys.select(
            _enc_key(F.col("kind"), F.col("key_id")).alias("k"),
            F.lit(None).cast("string").alias("k_doc"),
            F.lit(None).cast("int").alias("k_off"),
        )
        all_keys = nw_keys.unionByName(sel_rel_keys)
        mem = (
            rel_rows.select("doc_id", "offset", F.explode("members").alias("m"))
            .withColumn("k", _enc_key(F.col("m.type"), F.col("m.ref")))
            .join(_maybe_bcast(all_keys), "k", "inner")
        )
        mem = mem.filter(
            F.col("k_doc").isNull()
            | (F.col("k_doc") < F.col("doc_id"))
            | ((F.col("k_doc") == F.col("doc_id")) & (F.col("k_off") < F.col("offset")))
        )
    return mem.groupBy("doc_id", "offset").agg(
        F.collect_set(F.struct(F.col("m.type").alias("type"), F.col("m.ref").alias("ref"))).alias(
            "kept_m"
        )
    )


# ---------------------------------------------------------------------------
# output assembly
# ---------------------------------------------------------------------------

PHASE_NODE, PHASE_COMPLETION, PHASE_WAY, PHASE_RELATION = 0, 1, 2, 3


def _null_arr(t: str):
    return F.lit(None).cast(t)


@dataclass
class ExtractResult:
    """Selected elements (phased) + document-level passthrough spans.

    ``all_elements`` schema: (phase, kind, id, doc_id, offset, attrs_json,
    out_child_spans) — attrs and child spans are the ORIGINAL input span
    text, with nd/member child spans filtered to the kept refs.

    ``release()`` unpersists every selection-phase cache once the caller
    has consumed the output (repeated cuts in one session would otherwise
    accumulate cached blocks until eviction pressure).
    """

    all_elements: DataFrame
    passthrough: DataFrame  # (doc_id, kind, text, media_ref, offset)
    caches: list = field(default_factory=list)
    # finish_extract precomputes output documents as narrow per-row HOFs
    # over the selmap join (no regroup shuffle) in EVERY mode; a manually
    # constructed result may leave this None, in which case documents()
    # falls back to the union + groupBy path
    documents_grouped: DataFrame | None = None

    def release(self) -> None:
        for df in self.caches:
            try:
                df.unpersist()
            except Exception:
                pass
        self.caches = []

    def elements(self) -> DataFrame:
        return self.all_elements

    def documents(self) -> DataFrame:
        """Regroup output into the interleaved-docs table shape.

        Output spans = (element parent spans + kept child spans +
        passthrough text/media spans of documents that kept >=1 element),
        ordered by original offset, offsets renumbered contiguously —
        i.e. each output document is the input document filtered to kept
        spans (the span-sequence invariant).
        """
        if self.documents_grouped is not None:
            return self.documents_grouped
        el = self.all_elements
        parent_spans = el.select(
            "doc_id",
            F.struct(
                F.col("kind"),
                F.col("attrs_json").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.col("offset"),
            ).alias("span"),
        )
        child_spans = el.select(
            "doc_id", F.explode("out_child_spans").alias("span")
        ).select(
            "doc_id",
            F.struct(
                F.col("span.kind"),
                F.col("span.text"),
                F.col("span.media_ref"),
                F.col("span.offset"),
            ).alias("span"),
        )
        kept_docs = el.select("doc_id").distinct()
        pt = self.passthrough.join(kept_docs, "doc_id", "left_semi").select(
            "doc_id",
            F.struct(
                F.col("kind"), F.col("text"), F.col("media_ref"), F.col("offset")
            ).alias("span"),
        )
        all_spans = parent_spans.unionByName(child_spans).unionByName(pt)
        return (
            all_spans.groupBy("doc_id")
            .agg(
                F.expr(
                    "array_sort(collect_list(span), (l, r) -> int(l.offset) - int(r.offset))"
                ).alias("sorted")
            )
            .select(
                "doc_id",
                F.expr(
                    "transform(sorted, (s, i) ->"
                    " struct(s.kind AS kind, s.text AS text,"
                    "        s.media_ref AS media_ref, int(i) AS offset))"
                ).alias("spans"),
            )
        )


def extract(
    spark: SparkSession,
    docs: DataFrame,
    poly: PreparedPolygon,
    complete: bool = False,
    cover: CellCover | None = None,
    assume_sorted: bool = True,
    doc_grouped_output: bool = False,
    selector=None,
) -> ExtractResult:
    """Full polygon-cut extraction over an interleaved-docs DataFrame.

    The output join is per DOCUMENT in every mode (round 7): selections
    are grouped into a per-doc offset map and joined on doc_id — pair with
    a doc_id-bucketed docs table to keep the wide span data entirely
    shuffle-free.  ``doc_grouped_output`` is retained for API
    compatibility; both values produce the identical plan.

    ``selector``: a prebuilt ``make_point_selector(spark, poly, ...)``
    callable.  Repeated cuts of the SAME polygon (benchmark reps,
    interactive sessions, streaming epochs) should build it once and pass
    it here — the cover/edge-index build and the verdict-frame broadcast
    are per-polygon setup, not per-cut work.

    Late-materialization architecture: ALL selection logic (PIP, semi-
    joins, closure) runs over one cached NARROW frame (ids/geometry/refs
    only, ~8x smaller than the raw spans); the output phase joins the
    selected (doc_id, offset) keys back to a single fresh span scan so
    wide text data is touched exactly twice (scan + output join) no matter
    how many selection passes run.
    """
    caches: list = []
    narrow = ingest.parse_elements_narrow(docs, assume_sorted).persist()
    caches.append(narrow)
    # eager fill: several AQE shuffle-stage jobs consume this cache
    # CONCURRENTLY at action time; if the cache is still cold they all
    # recompute the parse (measured: 3-4x duplicated work). One count()
    # materializes the cached batches first; the returned element count
    # also lets finish_extract bound the selected-key set without a
    # second counting barrier (n_keys <= 2 * n_elements).
    n_elements = narrow.count()
    nodes = narrow.filter(F.col("kind") == "node").select("id", "lon", "lat", "doc_id", "offset")
    ways = narrow.filter(F.col("kind") == "way").select("id", "nds", "doc_id", "offset")
    relations = narrow.filter(F.col("kind") == "relation").select(
        "id", "members", "doc_id", "offset"
    )
    if selector is None:
        # the cover is only consumed by the selector build — callers that
        # pass a prebuilt selector skip the per-cut driver-side cover
        # construction entirely (that amortization is the point of the
        # parameter)
        if cover is None:
            cover = auto_cover(poly)
        selector = make_point_selector(spark, poly, cover)
    nodes_sel = selector(nodes.filter(F.col("id").isNotNull()))
    sel_node_ids = nodes_sel.select(F.col("id").alias("node_id")).distinct()
    ways_sel = select_ways(ways, sel_node_ids, complete)
    # overlap the closure's bounded edge collect with the selection fill
    # (guide §2.6): it reads only the (already cached) narrow relation
    # frame, so its job back-fills cores while the PIP/way stages run
    edge_probe = start_edge_probe(relations, complete)
    return finish_extract(
        spark, docs, nodes, relations, nodes_sel, ways_sel, complete, assume_sorted,
        caches=caches, doc_grouped_output=doc_grouped_output,
        n_elements_hint=n_elements, edge_probe=edge_probe,
    )


def finish_extract(
    spark: SparkSession,
    docs: DataFrame,
    nodes: DataFrame,
    relations: DataFrame,
    nodes_sel: DataFrame,
    ways_sel: DataFrame,
    complete: bool,
    assume_sorted: bool = True,
    caches: list | None = None,
    doc_grouped_output: bool = False,
    broadcast_max_keys: int = 50_000_000,
    n_elements_hint: int | None = None,
    edge_probe=None,
) -> ExtractResult:
    """Completion + relation selection + output assembly over precomputed
    (narrow) node/way selections (also the resume path of
    plans/checkpoint.py).  ``docs`` is only consulted once at the end for
    the wide output join.  Every persist lands in ``caches`` (exposed on
    the result as ``ExtractResult.caches``; call ``release()`` after the
    output action).

    ``broadcast_max_keys``: selected-key sets up to this many rows are
    broadcast into the relation member semi-joins (no shuffle of the
    exploded member stream).  Keys are packed to ONE long each
    (``_enc_key``), so 50M keys ≈ 400 MB raw / ~1 GB hashed — sized for
    local mode and beefy executors; lower it on memory-tight clusters to
    fall back to the shuffle semi-join on very large selections."""
    if caches is None:
        caches = []
    # persist the SMALL selected-key sets — each gates several joins
    nodes_sel = nodes_sel.persist()
    sel_node_ids = nodes_sel.select(F.col("id").alias("node_id")).distinct().persist()
    # eager fill BEFORE the fan-out below: the concurrent AQE stages of a
    # later action would each recompute a cold nodes_sel cache (the whole
    # routed selection subtree — union + cover joins + boundary UDF), the
    # same duplicated-work trap the narrow cache's count() documents.
    # Counting sel_node_ids (not nodes_sel) fills BOTH caches in the one
    # barrier: the distinct forces every nodes_sel partition first.
    sel_node_ids.count()
    ways_sel = ways_sel.persist()
    # NO distinct on way/completion ids (round 7): both id sets are unique
    # per element row already (dups only from the same id in two documents),
    # and every consumer tolerates duplicates — the member joins are
    # semi-joins (complete) or feed a collect_set (non-complete), and the
    # broadcast-cap count only errs conservative.  Each distinct was a
    # whole exchange+dedup pass inside the keys barrier.
    way_ids = ways_sel.select(F.col("id").alias("way_id"))
    caches += [nodes_sel, sel_node_ids, ways_sel]

    comp: DataFrame | None = None
    comp_ids: DataFrame | None = None
    if complete:
        comp = completion_nodes(ways_sel, nodes, sel_node_ids).persist()
        comp_ids = comp.select(F.col("id").alias("node_id"))
        caches += [comp]

    keys = base_key_df(sel_node_ids, comp_ids, way_ids).persist()
    caches.append(keys)
    # the selected-key set gates every relation semi-join; when it fits a
    # broadcast (the overwhelmingly common case — selections are a fraction
    # of the input), hint it so the exploded member streams (the big sides)
    # never shuffle.  Round 7: when the caller supplies the input element
    # count, the broadcast decision uses the bound
    # n_keys <= |sel nodes| + |completion nodes| + |ways| <= 2 * n_elements
    # instead of a keys.count() — one whole blocking job (and its
    # sequential ways/completion stage chain) removed from every extract
    # whose input is safely under the cap; oversized or unhinted inputs
    # keep the exact count + eager-fill barrier.
    cap = broadcast_key_cap(spark, broadcast_max_keys)
    if n_elements_hint is not None and 2 * n_elements_hint <= cap:
        bcast = True
    else:
        bcast = keys.count() <= cap

    rel_out = relation_outputs(
        relations, keys, complete, caches=caches, broadcast_keys=bcast,
        edge_probe=edge_probe,
    )

    # ---- late materialization: one wide pass joined to selected keys ----
    sel_keys = (
        nodes_sel.select(
            "doc_id",
            "offset",
            F.lit(PHASE_NODE).alias("phase"),
            _null_arr("array<bigint>").alias("kept_nds"),
            _null_arr("array<struct<type:string,ref:bigint>>").alias("kept_m"),
        )
    )
    if complete:
        sel_keys = sel_keys.unionByName(
            comp.select(
                "doc_id",
                "offset",
                F.lit(PHASE_COMPLETION).alias("phase"),
                _null_arr("array<bigint>").alias("kept_nds"),
                _null_arr("array<struct<type:string,ref:bigint>>").alias("kept_m"),
            )
        )
    sel_keys = sel_keys.unionByName(
        ways_sel.select(
            "doc_id",
            "offset",
            F.lit(PHASE_WAY).alias("phase"),
            F.col("kept_nds"),
            _null_arr("array<struct<type:string,ref:bigint>>").alias("kept_m"),
        )
    ).unionByName(
        rel_out.select(
            "doc_id",
            "offset",
            F.lit(PHASE_RELATION).alias("phase"),
            _null_arr("array<bigint>").alias("kept_nds"),
            F.col("kept_m").cast("array<struct<type:string,ref:bigint>>"),
        )
    )

    # Output join (BOTH modes, round-7 shape): group the slim selection
    # keys per document and join the docs table ONCE on doc_id — with a
    # doc_id-bucketed (Iceberg-layout) docs table the wide side needs NO
    # exchange at all; only the slim key map shuffles.  Two wins over the
    # old per-element join (guide §1.2 "don't compute things you throw
    # away"):
    #   * documents with no selected element drop in the doc_id join
    #     BEFORE any span parsing happens (the per-element join exploded
    #     and child-filtered EVERY document first, then threw the
    #     unselected rows away at the join);
    #   * the selective explode (_SEL_ELEMENTS) assembles child_spans only
    #     for SELECTED parents — inside a kept document the per-parent
    #     span-window scan skips the (majority) unselected elements.
    # array_distinct collapses byte-identical duplicate selections (a
    # caller feeding finish_extract non-distinct frames) inside the one
    # groupBy — no extra exchange; CONFLICTING duplicates (same offset,
    # different phase/kept payload) still fail map_from_entries, which
    # is correct: the selection would be ambiguous.
    sel_doc = sel_keys.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_distinct(
                F.collect_list(
                    F.struct(F.col("offset"), F.struct("phase", "kept_nds", "kept_m"))
                )
            )
        ).alias("_selmap")
    )
    joined = docs.join(sel_doc, "doc_id")
    out = _output_projection(_selected_elements(joined, assume_sorted))
    # the grouped document output is a lazy DataFrame over the same joined
    # frame — defining it unconditionally costs nothing and routes
    # documents() through the no-regroup HOF path in every mode (span-exact
    # to the old union+groupBy fallback, pinned by
    # test_doc_grouped_output_equals_element_join)
    docs_grouped = _documents_grouped(ingest._sorted_spans(joined, assume_sorted))

    passthrough = ingest.parse_passthrough_spans(docs, assume_sorted)
    return ExtractResult(
        all_elements=out,
        passthrough=passthrough,
        caches=caches,
        documents_grouped=docs_grouped,
    )


# Selective element explode for the output join: parents are paired with
# their selection-map entry FIRST, unselected parents are dropped, and the
# child-span window scan runs ONLY for the selected survivors.  The `nxt`
# bound is the next parent's offset over the FULL parent array (computed
# before the selection filter), so child windows are identical to
# ingest._ELEMENTS; 2147483647 (no upper bound) stands in for "last
# parent" — span offsets are int32.
_SEL_ELEMENTS = """
transform(
  filter(
    transform(parents, (p, i) -> struct(
        p AS p,
        element_at(_selmap, p.offset) AS sel,
        IF(i = size(parents) - 1, 2147483647, parents[i + 1].offset) AS nxt)),
    q -> q.sel IS NOT NULL),
  q -> struct(
    q.p.kind AS kind,
    q.p.text AS attrs_json,
    q.p.offset AS offset,
    filter(spans, c -> c.offset > q.p.offset
                   AND c.offset < q.nxt
                   AND c.kind IN ('nd','member','tag')) AS child_spans,
    q.sel.phase AS phase,
    q.sel.kept_nds AS kept_nds,
    q.sel.kept_m AS kept_m))
"""


def _selected_elements(joined: DataFrame, assume_sorted: bool) -> DataFrame:
    """(docs ⋈ _selmap) rows -> one row per SELECTED element with raw attrs
    + children + its selection payload (phase, kept_nds, kept_m)."""
    return (
        ingest._sorted_spans(joined, assume_sorted)
        .withColumn("parents", F.expr(ingest._PARENTS))
        .select("doc_id", F.explode(F.expr(_SEL_ELEMENTS)).alias("e"))
        .select(
            "doc_id",
            F.col("e.kind").alias("kind"),
            F.col("e.attrs_json").alias("attrs_json"),
            F.col("e.offset").alias("offset"),
            F.col("e.child_spans").alias("child_spans"),
            F.col("e.phase").alias("phase"),
            F.col("e.kept_nds").alias("kept_nds"),
            F.col("e.kept_m").alias("kept_m"),
        )
    )


# single projected parse per child span (the round-2 output-phase hot spot
# re-ran from_json once per predicate — twice per member child, and inside
# the exists() lambda once per kept member): bind (span, parsed ref/type)
# structs FIRST, then filter on the parsed attributes.  Non-nd/member
# spans skip the JSON parse entirely via the kind CASE.
_PARSED_NDREF = (
    "CASE WHEN {c}.kind = 'nd'"
    " THEN from_json({c}.text, 'ref BIGINT').ref END"
)
_PARSED_MEMBER = (
    "CASE WHEN {c}.kind = 'member'"
    " THEN from_json({c}.text, 'type STRING, ref BIGINT') END"
)


def _documents_grouped(joined: DataFrame) -> DataFrame:
    """Output documents computed entirely within each (docs ⋈ selmap) row:
    kept parent spans + filtered child spans + passthrough text/media,
    offset-sorted and renumbered — the documents() semantics with NO
    regroup shuffle (per-row HOFs only; with a bucketed docs table the
    whole document output is shuffle-free after selection).

    Node/completion-phase selections carry null kept_nds/kept_m, in which
    case their (tag-only) children pass the keep rule unchanged — the same
    `otherwise(child_spans)` semantics as the element-join projection.

    Per-row bindings keep every expensive expression single-evaluation:
    ``pspans`` parses each child span's ref/member JSON exactly once per
    document, and ``psel`` resolves each parent's selection-map lookup
    exactly once per parent (the round-2 shape re-parsed and re-probed
    inside every child predicate).
    """
    pspans = f"""
    transform(spans, c -> struct(
        c AS s,
        {_PARSED_NDREF.format(c='c')} AS ref,
        {_PARSED_MEMBER.format(c='c')} AS pj))
    """
    psel = """
    transform(parents, p -> struct(p AS p, element_at(_selmap, p.offset) AS sel))
    """
    keep_child = """
    CASE WHEN x.s.kind = 'tag' THEN true
         WHEN x.s.kind = 'nd' THEN e.sel.kept_nds IS NOT NULL
              AND array_contains(e.sel.kept_nds, x.ref)
         WHEN x.s.kind = 'member' THEN e.sel.kept_m IS NOT NULL
              AND exists(e.sel.kept_m,
                         k -> k.type = x.pj.type AND k.ref = x.pj.ref)
         ELSE false END
    """
    kept_runs = f"""
    flatten(transform(psel, (e, i) ->
        CASE WHEN e.sel IS NOT NULL THEN
            concat(array(e.p),
                   transform(
                       filter(pspans, x -> x.s.offset > e.p.offset
                            AND (i = size(parents) - 1 OR x.s.offset < parents[i + 1].offset)
                            AND x.s.kind IN ('nd', 'member', 'tag')
                            AND ({keep_child})),
                       x -> x.s))
        ELSE array() END))
    """
    out_spans = f"""
    transform(
        array_sort(
            concat(({kept_runs}), filter(spans, s -> s.kind IN ('text', 'media'))),
            (l, r) -> int(l.offset) - int(r.offset)),
        (s, i) -> struct(s.kind AS kind, s.text AS text,
                         s.media_ref AS media_ref, int(i) AS offset))
    """
    return (
        joined.withColumn("parents", F.expr(ingest._PARENTS))
        .withColumn("pspans", F.expr(pspans))
        .withColumn("psel", F.expr(psel))
        .select("doc_id", F.expr(out_spans).alias("spans"))
        .filter(F.size("spans") > 0)
    )


def _output_projection(el: DataFrame) -> DataFrame:
    """Final element rows from a frame carrying (phase, kind, attrs_json,
    doc_id, offset, child_spans, kept_nds, kept_m): child spans filtered to
    kept refs, ORIGINAL span text re-emitted verbatim.  Each child span's
    JSON is parsed at most ONCE (bound in a struct before the filter), not
    once per predicate term."""
    way_children = f"""
    transform(
        filter(
            transform(child_spans, c -> struct(
                c AS s, {_PARSED_NDREF.format(c='c')} AS ref)),
            x -> x.s.kind != 'nd' OR array_contains(kept_nds, x.ref)),
        x -> x.s)
    """
    rel_children = f"""
    transform(
        filter(
            transform(child_spans, c -> struct(
                c AS s, {_PARSED_MEMBER.format(c='c')} AS pj)),
            x -> x.s.kind != 'member'
                 OR exists(kept_m, k -> k.type = x.pj.type AND k.ref = x.pj.ref)),
        x -> x.s)
    """
    return el.select(
        "phase",
        "kind",
        F.from_json("attrs_json", "id BIGINT").getField("id").alias("id"),
        "doc_id",
        "offset",
        "attrs_json",
        F.when(F.col("phase") == PHASE_WAY, F.expr(way_children))
        .when(F.col("phase") == PHASE_RELATION, F.expr(rel_children))
        .otherwise(F.col("child_spans"))
        .alias("out_child_spans"),
    )
