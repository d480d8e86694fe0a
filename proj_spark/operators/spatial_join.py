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

from pyspark.sql import DataFrame, Window
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
    seq = []
    if "poly_seq" not in polys.columns:
        seq = [(F.row_number().over(Window.orderBy(poly_id)) - 1).alias("poly_seq")]
    # edges i -> i+1 (ring is closed: last == first, so stop at n-2)
    edges = F.expr(
        f"transform(slice({ring}, 1, size({ring}) - 1), (v, i) -> "
        f"named_struct('x1', v.lon, 'y1', v.lat, "
        f"'x2', {ring}[i + 1].lon, 'y2', {ring}[i + 1].lat))"
    )
    lons = F.expr(f"transform({ring}, v -> v.lon)")
    lats = F.expr(f"transform({ring}, v -> v.lat)")
    # one projection: every withColumn would re-analyze the lambdas
    return polys.select(
        "*",
        *seq,
        edges.alias("edges"),
        F.array_min(lons).alias("bbox_w"),
        F.array_max(lons).alias("bbox_e"),
        F.array_min(lats).alias("bbox_s"),
        F.array_max(lats).alias("bbox_n"),
    )


def polygon_cover(polys_edged: DataFrame, res: int) -> DataFrame:
    """Explode each polygon's bbox into covering cell ids at ``res``.

    Equirectangular cells make the cover a rectangle of cell indices:
    sequence(ix_min..ix_max) x sequence(iy_min..iy_max) — all native.
    """
    n = 1 << res
    two_n = 2 * n

    def ix_of(lon):
        v = F.floor((F.col(lon) + 180.0) / 360.0 * two_n)
        return F.least(F.greatest(v, F.lit(0)), F.lit(two_n - 1))

    def iy_of(lat):
        v = F.floor((F.col(lat) + 90.0) / 180.0 * n)
        return F.least(F.greatest(v, F.lit(0)), F.lit(n - 1))

    # one select per explode, then one for the outputs: each step
    # re-analyzes the whole plan, lambdas included
    cells = polys_edged.select(
        "*", F.explode(F.sequence(ix_of("bbox_w"), ix_of("bbox_e"))).alias("_ix")
    ).select("*", F.explode(F.sequence(iy_of("bbox_s"), iy_of("bbox_n"))).alias("_iy"))

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
    edge_meets = F.expr(
        f"exists(edges, e -> greatest(e.x1, e.x2) >= {cw} AND least(e.x1, e.x2) <= {ce}"
        f" AND greatest(e.y1, e.y2) >= {cs} AND least(e.y1, e.y2) <= {cn}"
        f" AND greatest({side}) >= -{margin} AND least({side}) <= {margin})"
    )
    return cells.select(
        *polys_edged.columns,
        (F.col("_iy") * two_n + F.col("_ix")).cast("long").alias("cell"),
        (~edge_meets & _inside_expr(cw, cs)).alias("full"),
    )


def _inside_expr(lon_col: str, lat_col: str, edges_col: str = "edges"):
    """Even-odd ray cast (eastward ray) as one native expression;
    ``lon_col``/``lat_col`` may be any SQL expression."""
    return F.expr(
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
    cover = polygon_cover(polygon_edges(polys), res).select(
        "cell", "poly_id", "poly_seq", "edges", "full"
    )
    pts = points.withColumn("_cell", E.cell_id(lon, lat, res))

    if how == "all":
        cand = pts.join(F.broadcast(cover), pts["_cell"] == cover["cell"], "inner")
        # fully-interior cells skip the (non-codegen) ray-cast refinement
        return cand.where(F.col("full") | _inside_expr(lon, lat)).drop(
            "cell", "_cell", "edges", "full"
        )

    if how not in ("first_match", "left_first"):
        raise ValueError(f"unknown how={how!r}")

    # first-match WITHOUT any per-point aggregation: the SMALL cover is
    # pre-grouped into one row per cell with a seq-sorted candidate
    # array (driver-side shuffle of ~10^3 rows), broadcast, and each
    # point selects its first containing candidate as ONE native
    # expression — the 10^12-row side sees a broadcast join plus a
    # projection, ZERO exchanges.  (Correct because a point belongs to
    # exactly one cell, so all its candidates arrive in one array.)
    cell_cands = cover.groupBy("cell").agg(
        F.sort_array(
            F.collect_list(F.struct("poly_seq", "poly_id", "full", "edges"))
        ).alias("_cands")
    )
    j = pts.join(
        F.broadcast(cell_cands),
        pts["_cell"] == cell_cands["cell"],
        "left" if how == "left_first" else "inner",
    )
    first = F.get(
        F.expr(
            f"filter(_cands, c -> c.full OR ("
            f"size(filter(c.edges, e -> "
            f"((e.y1 > {lat}) != (e.y2 > {lat})) AND "
            f"{lon} < (e.x2 - e.x1) * ({lat} - e.y1) / (e.y2 - e.y1) + e.x1"
            f")) % 2 = 1))"
        ),
        F.lit(0),
    )
    out = j.withColumn("_m", first)
    if how == "first_match":
        return out.where(F.col("_m").isNotNull()).select(
            point_id,
            F.col("_m.poly_id").alias("poly_id"),
            F.col("_m.poly_seq").alias("poly_seq"),
        )
    return out.select(
        *[points[c] for c in points.columns],
        F.col("_m.poly_id").alias("poly_id"),
        F.col("_m.poly_seq").alias("poly_seq"),
    )
