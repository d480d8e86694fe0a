"""Point-in-polygon spatial join (north-rule operator).

Algorithm: cell-bucketed candidate generation + native ray casting.

1. Polygon prep (small side, driver-light, all DataFrame ops):
   ring -> edge array + covering cell ids of the polygon bbox at a
   chosen resolution.  One row per (cell, polygon) with the full edge
   array carried along.
2. Candidate join: points compute their cell id (pure expression,
   functions/expressions.cell_id) and broadcast-join the cell->polygon
   table.  With a broadcast small side this is a ZERO-shuffle join of
   the 10^12-row table — the big side never moves.
3. Refinement: even-odd ray casting evaluated as a higher-order
   array expression (size(filter(edges, crossing-predicate)) % 2) —
   native, codegen'd, no Python and no per-candidate shuffle.
4. First-match-wins: min(struct(poly_seq, poly_id)) per point —
   algebraic aggregate (map-side combine), mirroring the reference's
   ordered grid-list semantics (src/pj_apply_gridshift.c:143: first
   containing grid in list order wins; on miss the point passes
   through unshifted, here: no output row / null poly depending on
   ``how``).

Skew: hot cells (one urban cell holding 10^8 points) are harmless on
the join itself (broadcast = no partition by cell). The final
per-point aggregate partitions by point id, which is uniform.  For
grouped outputs per polygon use operators.skew.salted_agg.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import expressions as E

# A ray-cast needs the edge list; keep it as array<struct> so the whole
# candidate evaluation is one higher-order expression.
_EDGE = "struct<x1:double,y1:double,x2:double,y2:double>"


def polygon_edges(polys: DataFrame, ring: str = "ring", poly_id: str = "poly_id") -> DataFrame:
    """ring array<struct<lon,lat>> -> closed edge array + bbox.

    Adds ``poly_seq`` (zero-based input order — the first-match
    priority, analog of grid list position) if not present.
    """
    r = E._q(ring)
    seq = []
    if "poly_seq" not in polys.columns:
        seq = [f"row_number() OVER (ORDER BY {E._q(poly_id)}) - 1 AS poly_seq"]
    # edges i -> i+1 (ring is closed: last == first, so stop at n-2)
    edges = (
        f"transform(slice({r}, 1, size({r}) - 1), (v, i) -> "
        f"named_struct('x1', v.lon, 'y1', v.lat, 'x2', {r}[i + 1].lon, 'y2', {r}[i + 1].lat))"
    )
    lons, lats = f"transform({r}, v -> v.lon)", f"transform({r}, v -> v.lat)"
    # one projection: every withColumn would re-analyze the lambdas
    return polys.selectExpr(
        "*",
        *seq,
        f"{edges} AS edges",
        f"array_min({lons}) AS bbox_w",
        f"array_max({lons}) AS bbox_e",
        f"array_min({lats}) AS bbox_s",
        f"array_max({lats}) AS bbox_n",
    )


def polygon_cover(polys_edged: DataFrame, res: int) -> DataFrame:
    """Explode each polygon's bbox into covering cell ids at ``res``.

    Equirectangular cells make the cover a rectangle of cell indices:
    sequence(ix_min..ix_max) x sequence(iy_min..iy_max) — all native.
    """
    n = 1 << res
    two_n = 2 * n

    def ix_of(lon):
        return f"least(greatest(floor(({lon} + 180.0D) / 360.0D * {two_n}), 0), {two_n - 1})"

    def iy_of(lat):
        return f"least(greatest(floor(({lat} + 90.0D) / 180.0D * {n}), 0), {n - 1})"

    # one select per explode, then one for the outputs: each step
    # re-analyzes the whole plan, lambdas included
    cells = polys_edged.selectExpr(
        "*", f"explode(sequence({ix_of('bbox_w')}, {ix_of('bbox_e')})) AS _ix"
    ).selectExpr("*", f"explode(sequence({iy_of('bbox_s')}, {iy_of('bbox_n')})) AS _iy")

    # classify each cover cell: fully inside the polygon (every point
    # in it is a hit — candidates skip the ray cast) vs boundary.
    # Sound test: no edge meets the closed cell, so the boundary never
    # enters it, AND one corner is inside by the ray cast.  An edge
    # meets the cell when their bboxes overlap and the 4 corners are
    # not all strictly on one side of the edge's line; the side test's
    # margin (1e-9 deg of distance) can only make fewer cells full.
    # This runs on the SMALL cover table only; it is the S2-style
    # interior/boundary covering split that makes refinement cost
    # proportional to the boundary band, not the polygon area.
    dx, dy = 360.0 / two_n, 180.0 / n
    cw, ce = f"(_ix * {dx!r}D - 180.0D)", f"((_ix + 1) * {dx!r}D - 180.0D)"
    cs, cn = f"(_iy * {dy!r}D - 90.0D)", f"((_iy + 1) * {dy!r}D - 90.0D)"
    corners = [(cw, cs), (cw, cn), (ce, cs), (ce, cn)]
    side = ", ".join(
        f"(e.x2 - e.x1) * ({y} - e.y1) - (e.y2 - e.y1) * ({x} - e.x1)" for x, y in corners
    )
    margin = "1e-9D * (abs(e.x2 - e.x1) + abs(e.y2 - e.y1))"
    edge_meets = (
        f"exists(edges, e -> greatest(e.x1, e.x2) >= {cw} AND least(e.x1, e.x2) <= {ce}"
        f" AND greatest(e.y1, e.y2) >= {cs} AND least(e.y1, e.y2) <= {cn}"
        f" AND greatest({side}) >= -{margin} AND least({side}) <= {margin})"
    )
    return cells.selectExpr(
        *[E._q(c) for c in polys_edged.columns],
        f"CAST(_iy * {two_n} + _ix AS BIGINT) AS cell",
        f"(NOT {edge_meets}) AND ({_inside_sql(cw, cs)}) AS `full`",
    )


def _inside_sql(lon_col: str, lat_col: str, edges_col: str = "edges") -> str:
    """Even-odd ray cast (eastward ray) as one native SQL expression;
    ``lon_col``/``lat_col`` may be any SQL expression."""
    return (
        f"size(filter({edges_col}, e -> "
        f"((e.y1 > {lat_col}) != (e.y2 > {lat_col})) AND "
        f"{lon_col} < (e.x2 - e.x1) * ({lat_col} - e.y1) / (e.y2 - e.y1) + e.x1"
        f")) % 2 = 1"
    )


def point_in_polygon_join(
    points: DataFrame,
    polys: DataFrame,
    res: int = 6,
    lon: str = "lon",
    lat: str = "lat",
    point_id: str = "point_id",
    how: str = "first_match",
) -> DataFrame:
    """Join points to containing polygons.

    how='first_match': at most one row per point, lowest poly_seq wins
    (reference grid-list semantics). how='all': every containing
    polygon. how='left_first': like first_match but misses kept with
    null poly_id (the reference's pass-through-on-miss,
    src/pj_apply_gridshift.c:243).
    """
    if how not in ("first_match", "left_first", "all"):
        raise ValueError(f"unknown how={how!r}")
    cover = polygon_cover(polygon_edges(polys), res).selectExpr(
        "cell", "poly_id", "poly_seq", "edges", "`full`"
    )
    qlon, qlat = E._q(lon), E._q(lat)
    pts = points.withColumn("_cell", F.expr(E._cell_id(qlon, qlat, res)))

    if how == "all":
        cand = pts.join(F.broadcast(cover), pts["_cell"] == cover["cell"], "inner")
        # fully-interior cells skip the (non-codegen) ray-cast refinement
        return cand.where(f"`full` OR ({_inside_sql(qlon, qlat)})").drop(
            "cell", "_cell", "edges", "full"
        )

    # first-match WITHOUT any per-point aggregation: the SMALL cover is
    # pre-grouped into one row per cell with a seq-sorted candidate
    # array (driver-side shuffle of ~10^3 rows), broadcast, and each
    # point selects its first containing candidate as ONE native
    # expression — the 10^12-row side sees a broadcast join plus a
    # projection, ZERO exchanges.  (Correct because a point belongs to
    # exactly one cell, so all its candidates arrive in one array.)
    cell_cands = cover.groupBy(F.expr("cell")).agg(
        F.expr("sort_array(collect_list(struct(poly_seq, poly_id, `full`, edges))) AS _cands")
    )
    j = pts.join(
        F.broadcast(cell_cands),
        pts["_cell"] == cell_cands["cell"],
        "left" if how == "left_first" else "inner",
    )
    first = (
        f"get(filter(_cands, c -> c.full OR ("
        f"{_inside_sql(qlon, qlat, 'c.edges')})), 0)"
    )
    out = j.withColumn("_m", F.expr(first))
    if how == "first_match":
        return out.where("_m IS NOT NULL").selectExpr(
            E._q(point_id), "_m.poly_id AS poly_id", "_m.poly_seq AS poly_seq"
        )
    return out.select(
        *[points[c] for c in points.columns],
        F.expr("_m.poly_id AS poly_id"),
        F.expr("_m.poly_seq AS poly_seq"),
    )
