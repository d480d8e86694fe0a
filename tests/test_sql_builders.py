"""The SQL-text column builders == the Column-built forms they replaced.

Each builder of the composed path (cell_id, tile_x/tile_y/tile_key,
assign_tiles, tile_counts, polygon_edges/polygon_cover, the join's
candidate aggregate and first match, transform's output columns) is
one ``F.expr`` SQL string per output column: one Py4J command where
every PySpark ``Column`` operator is a round trip of its own.  The
``ref_*`` functions below are the Column-built forms, kept verbatim as
the oracle: the optimized plans must have the same result, the
schemas must match field for field (names, types, nullability), and
an order-independent digest over every column must match on a frame
of edge cases (antimeridian, Mercator and geographic poles, NaN,
null, zoom 0/11/19).
"""
from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from proj_spark.functions import expressions as E
from proj_spark.functions.transform import transform, transform_udf
from proj_spark.kernels.xmath import DEG_TO_RAD
from proj_spark.operators.spatial_join import (
    point_in_polygon_join,
    polygon_cover,
    polygon_edges,
)
from proj_spark.operators.tiles import assign_tiles, tile_counts

ZOOMS = [0, 11, 19]


# ------------------------------------------------ Column-built references
def _c(col):
    return F.col(col) if isinstance(col, str) else col


def ref_adjlon_deg(lon):
    lon = _c(lon)
    return lon - 360.0 * F.floor((lon + 180.0) / 360.0)


def ref_tile_x(lon_deg, zoom):
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    n = F.pow(F.lit(2.0), z.cast("double"))
    tx = F.floor((_c(lon_deg) + 180.0) / 360.0 * n)
    return F.least(F.greatest(tx, F.lit(0)), (n - 1).cast("long")).cast("long")


def ref_tile_y(lat_deg, zoom):
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    n = F.pow(F.lit(2.0), z.cast("double"))
    t = F.tan(_c(lat_deg) * F.lit(DEG_TO_RAD))
    asinh_t = F.log(t + F.sqrt(t * t + 1.0))
    ty = F.floor((1.0 - asinh_t / math.pi) / 2.0 * n)
    return F.least(F.greatest(ty, F.lit(0)), (n - 1).cast("long")).cast("long")


def ref_tile_key(tx, ty, zoom):
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    return (
        z.cast("long") * F.lit(2 ** 58) + ty.cast("long") * F.lit(2 ** 29) + tx.cast("long")
    )


def ref_cell_id(lon_deg, lat_deg, res):
    n = float(1 << res)
    ix = F.floor((ref_adjlon_deg(_c(lon_deg)) + 180.0) / 360.0 * (2.0 * n))
    ix = F.least(F.greatest(ix, F.lit(0)), F.lit(int(2 * n) - 1))
    iy = F.floor((_c(lat_deg) + 90.0) / 180.0 * n)
    iy = F.least(F.greatest(iy, F.lit(0)), F.lit(int(n) - 1))
    return (iy * F.lit(int(2 * n)) + ix).cast("long")


def ref_assign_tiles(df, zooms, lon="lon", lat="lat"):
    zoom = F.explode(F.array(*[F.lit(z) for z in zooms])).alias("zoom")
    return df.select("*", zoom).select(
        "*",
        ref_tile_x(lon, F.col("zoom")).alias("tile_x"),
        ref_tile_y(lat, F.col("zoom")).alias("tile_y"),
        ref_tile_key(F.col("tile_x"), F.col("tile_y"), F.col("zoom")).alias("tile_key"),
    )


def ref_tile_counts(df, zooms, lon="lon", lat="lat"):
    zmax = max(zooms)
    fine = (
        df.select(
            ref_tile_x(lon, F.lit(zmax)).alias("tile_x"),
            ref_tile_y(lat, F.lit(zmax)).alias("tile_y"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if len(zooms) == 1 and zooms[0] == zmax:
        return fine.select(F.lit(zmax).cast("int").alias("zoom"), "tile_x", "tile_y", "n")
    zoom = F.explode(F.array(*[F.lit(int(z)) for z in zooms])).alias("zoom")
    return (
        fine.select("tile_x", "tile_y", "n", zoom)
        .groupBy(
            "zoom",
            F.expr(f"shiftright(tile_x, {int(zmax)} - zoom)").alias("tile_x"),
            F.expr(f"shiftright(tile_y, {int(zmax)} - zoom)").alias("tile_y"),
        )
        .agg(F.sum("n").alias("n"))
        .select(F.col("zoom").cast("int").alias("zoom"), "tile_x", "tile_y", "n")
    )


def ref_polygon_edges(polys, ring="ring", poly_id="poly_id"):
    seq = []
    if "poly_seq" not in polys.columns:
        seq = [(F.row_number().over(Window.orderBy(poly_id)) - 1).alias("poly_seq")]
    edges = F.expr(
        f"transform(slice({ring}, 1, size({ring}) - 1), (v, i) -> "
        f"named_struct('x1', v.lon, 'y1', v.lat, "
        f"'x2', {ring}[i + 1].lon, 'y2', {ring}[i + 1].lat))"
    )
    lons = F.expr(f"transform({ring}, v -> v.lon)")
    lats = F.expr(f"transform({ring}, v -> v.lat)")
    return polys.select(
        "*",
        *seq,
        edges.alias("edges"),
        F.array_min(lons).alias("bbox_w"),
        F.array_max(lons).alias("bbox_e"),
        F.array_min(lats).alias("bbox_s"),
        F.array_max(lats).alias("bbox_n"),
    )


def ref_inside(lon_col, lat_col, edges_col="edges"):
    return F.expr(
        f"size(filter({edges_col}, e -> "
        f"((e.y1 > {lat_col}) != (e.y2 > {lat_col})) AND "
        f"{lon_col} < (e.x2 - e.x1) * ({lat_col} - e.y1) / (e.y2 - e.y1) + e.x1"
        f")) % 2 = 1"
    )


def ref_polygon_cover(polys_edged, res):
    n = 1 << res
    two_n = 2 * n

    def ix_of(lon):
        v = F.floor((F.col(lon) + 180.0) / 360.0 * two_n)
        return F.least(F.greatest(v, F.lit(0)), F.lit(two_n - 1))

    def iy_of(lat):
        v = F.floor((F.col(lat) + 90.0) / 180.0 * n)
        return F.least(F.greatest(v, F.lit(0)), F.lit(n - 1))

    cells = polys_edged.select(
        "*", F.explode(F.sequence(ix_of("bbox_w"), ix_of("bbox_e"))).alias("_ix")
    ).select("*", F.explode(F.sequence(iy_of("bbox_s"), iy_of("bbox_n"))).alias("_iy"))
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
        (~edge_meets & ref_inside(cw, cs)).alias("full"),
    )


def ref_point_in_polygon_join(points, polys, res=6, lon="lon", lat="lat",
                              point_id="point_id", how="first_match"):
    cover = ref_polygon_cover(ref_polygon_edges(polys), res).select(
        "cell", "poly_id", "poly_seq", "edges", "full"
    )
    pts = points.withColumn("_cell", ref_cell_id(lon, lat, res))
    if how == "all":
        cand = pts.join(F.broadcast(cover), pts["_cell"] == cover["cell"], "inner")
        return cand.where(F.col("full") | ref_inside(lon, lat)).drop(
            "cell", "_cell", "edges", "full"
        )
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


def ref_transform(df, src, dst, lon="lon", lat="lat", z=None, out_prefix=""):
    udf = transform_udf(src, dst)
    cols = [F.col(lon), F.col(lat)] + ([F.col(z)] if z else [])
    out = df.withColumn("_xyz", udf(*cols))
    return (
        out.withColumn(out_prefix + "x", F.col("_xyz.x"))
        .withColumn(out_prefix + "y", F.col("_xyz.y"))
        .withColumn(out_prefix + "z", F.col("_xyz.z"))
        .drop("_xyz")
    )


# --------------------------------------------------------------- fixtures
EDGE_LON = [-180.0, 180.0, 179.9999999, -179.9999999, 0.0, -118.25, 10.0, math.nan, None]
EDGE_LAT = [85.0511, -85.0511, 90.0, -90.0, 0.0, 34.05, 84.9, math.nan, None]
# (id, closed ring): two on the antimeridian/pole corner and the
# prime meridian, three CONUS-sized n-gons
RINGS = [
    ("pole", [(170.0, 80.0), (180.0, 80.0), (180.0, 90.0), (170.0, 90.0), (170.0, 80.0)]),
    ("zero", [(-10.0, -10.0), (12.0, -8.0), (10.0, 11.0), (-9.0, 9.0), (-10.0, -10.0)]),
]


def _ngon(cx, cy, r, nv, rng):
    pts = []
    for j in range(nv):
        a = 2.0 * math.pi * j / nv
        rr = r * (0.7 + 0.3 * rng.random())
        pts.append((round(cx + rr * math.cos(a), 6), round(cy + rr * math.sin(a), 6)))
    return pts + [pts[0]]


@pytest.fixture(scope="module")
def points(spark):
    rng = random.Random(20261019)
    rows = [
        (i * len(EDGE_LAT) + j, lo, la)
        for i, lo in enumerate(EDGE_LON)
        for j, la in enumerate(EDGE_LAT)
    ]
    base = len(rows)
    for k in range(600):
        if k % 3 == 0:
            lo, la = rng.uniform(168.0, 180.0), rng.uniform(78.0, 90.0)
        elif k % 3 == 1:
            lo, la = rng.uniform(-12.0, 13.0), rng.uniform(-12.0, 12.0)
        else:
            lo, la = rng.uniform(-125.0, -67.0), rng.uniform(25.0, 49.0)
        rows.append((base + k, lo, la))
    return spark.createDataFrame(rows, "point_id long, lon double, lat double")


@pytest.fixture(scope="module")
def rings():
    rng = random.Random(7)
    out = list(RINGS)
    for i, (cx, cy) in enumerate([(-118.0, 34.0), (-100.0, 40.0), (-80.0, 35.0)]):
        out.append((f"conus{i}", _ngon(cx, cy, rng.uniform(2.0, 6.0), rng.randint(4, 9), rng)))
    return out


def _polys(spark, rings, with_seq=True):
    rows = [
        (pid, [(x, y) for x, y in ring]) + ((i,) if with_seq else ())
        for i, (pid, ring) in enumerate(rings)
    ]
    schema = "poly_id string, ring array<struct<lon:double,lat:double>>" + (
        ", poly_seq long" if with_seq else ""
    )
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def polys(spark, rings):
    return _polys(spark, rings)


def _digest(df: DataFrame):
    return tuple(
        df.agg(
            F.count(F.lit(1)).alias("rows"), F.bit_xor(F.xxhash64(*df.columns)).alias("xor")
        ).first()
    )


def assert_equivalent(got: DataFrame, ref: DataFrame) -> None:
    """Same optimized plan result, same schema, same rows."""
    gp = got._jdf.queryExecution().optimizedPlan()
    rp = ref._jdf.queryExecution().optimizedPlan()
    assert gp.sameResult(rp), f"plans differ:\n{gp.toString()}\nvs reference\n{rp.toString()}"
    assert [(f.name, f.dataType, f.nullable) for f in got.schema.fields] == [
        (f.name, f.dataType, f.nullable) for f in ref.schema.fields
    ]
    assert _digest(got) == _digest(ref)


# ------------------------------------------------------------------ tests
@pytest.mark.parametrize("zoom", ZOOMS + ["zoom"])
def test_tile_xy_key_match_column_form(spark, points, zoom):
    df = points.crossJoin(spark.createDataFrame([(z,) for z in ZOOMS], "zoom int"))
    ref_zoom = F.col(zoom) if isinstance(zoom, str) else zoom
    got = df.select(
        "*",
        E.tile_x("lon", zoom).alias("tx"),
        E.tile_y("lat", zoom).alias("ty"),
        E.tile_key("tx", "ty", zoom).alias("k"),
    )
    ref = df.select(
        "*",
        ref_tile_x("lon", ref_zoom).alias("tx"),
        ref_tile_y("lat", ref_zoom).alias("ty"),
        ref_tile_key(F.col("tx"), F.col("ty"), ref_zoom).alias("k"),
    )
    assert_equivalent(got, ref)


def test_builders_take_column_arguments(points):
    """A Column argument is spliced in as its own SQL text."""
    z = F.lit(11)
    got = points.select(
        E.tile_x(F.col("lon") * 0.5, z).alias("tx"),
        E.tile_y("lat", z).alias("ty"),
        E.cell_id(F.col("lon") - 1.5, "lat", 7).alias("c"),
        E.adjlon_deg(F.col("lon") + 200.0).alias("a"),
        E.tile_key(E.tile_x("lon", 11), E.tile_y("lat", 11), 11).alias("k"),
    )
    ref = points.select(
        ref_tile_x(F.col("lon") * 0.5, z).alias("tx"),
        ref_tile_y("lat", z).alias("ty"),
        ref_cell_id(F.col("lon") - 1.5, "lat", 7).alias("c"),
        ref_adjlon_deg(F.col("lon") + 200.0).alias("a"),
        ref_tile_key(ref_tile_x("lon", 11), ref_tile_y("lat", 11), 11).alias("k"),
    )
    assert_equivalent(got, ref)


@pytest.mark.parametrize("res", [0, 6, 8, 12])
def test_cell_id_matches_column_form(points, res):
    got = points.select("*", E.cell_id("lon", "lat", res).alias("c"))
    ref = points.select("*", ref_cell_id("lon", "lat", res).alias("c"))
    assert_equivalent(got, ref)


def test_assign_tiles_matches_column_form(points):
    assert_equivalent(assign_tiles(points, ZOOMS), ref_assign_tiles(points, ZOOMS))


@pytest.mark.parametrize("zooms", [[11], [0, 11, 19], [19, 4]])
def test_tile_counts_matches_column_form(points, zooms):
    assert_equivalent(tile_counts(points, zooms), ref_tile_counts(points, zooms))


@pytest.mark.parametrize("with_seq", [True, False])
@pytest.mark.parametrize("res", [6, 8])
def test_polygon_cover_matches_column_form(spark, rings, res, with_seq):
    polys = _polys(spark, rings, with_seq)
    got = polygon_cover(polygon_edges(polys), res)
    ref = ref_polygon_cover(ref_polygon_edges(polys), res)
    assert_equivalent(got, ref)
    assert got.where("full").count() > 0  # the fixture exercises interior cells


@pytest.mark.parametrize("how", ["first_match", "left_first", "all"])
@pytest.mark.parametrize("res", [6, 8])
def test_point_in_polygon_join_matches_column_form(points, polys, res, how):
    got = point_in_polygon_join(points, polys, res=res, how=how)
    ref = ref_point_in_polygon_join(points, polys, res=res, how=how)
    assert_equivalent(got, ref)
    assert got.where("poly_id IS NOT NULL").count() > 0


def test_transform_matches_column_form(points):
    src, dst = "+proj=latlong +datum=WGS84", "+proj=merc +datum=WGS84"
    got = transform(points, src, dst, out_prefix="m_")
    ref = ref_transform(points, src, dst, out_prefix="m_")
    assert [f.name for f in got.schema.fields] == [f.name for f in ref.schema.fields]
    assert_equivalent(got, ref)


# ---------------------------------------------------- Py4J command ceiling
# Non-memory Py4J commands (anything not starting "m\n") sent while
# building the composed benchmark's timed plan: load -> transform ->
# point_in_polygon_join -> assign_tiles.  Measured, not designed: 313
# with one SQL expression per built column, 1,737 with the Column-built
# builders.  A change may lower it; one that raises it has added round
# trips.
COMPOSED_PLAN_COMMANDS = 313


def test_composed_plan_py4j_commands_ceiling(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import inputs
    from perfbench.workloads import ComposedCheckpoint

    path = str(tmp_path / "points")
    pq.write_to_dataset(pa.table(inputs.points(11, 2_000, "points")), path)
    wl = ComposedCheckpoint(
        spark,
        {"points": {"path": path, "rows": 2_000}, "polygons": inputs.polygons(11)},
        str(tmp_path),
    )
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    counts = []
    for _ in range(3):
        sent.clear()
        client.send_command = counting
        try:
            wl.timed_plan()
        finally:
            client.send_command = send
        counts.append(len(sent))
    # the first build may infer the table's schema; later ones repeat
    assert counts[1] == counts[2], counts
    assert counts[2] <= COMPOSED_PLAN_COMMANDS, counts
