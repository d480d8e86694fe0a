"""Native Column-expression builders (JVM-side, whole-stage codegen).

These are the fast path of the engine: anything the reference computes
with closed-form math that Spark SQL can express stays OUT of Python.
Each builder returns a ``pyspark.sql.Column`` assembled from built-in
functions only, so Catalyst can constant-fold, push down, and keep the
work inside WholeStageCodegen.  The pandas-UDF path
(:mod:`proj_spark.functions.transform`) is reserved for iterative
kernels (phi2 / inv_mlfn / grid shift) that SQL cannot express.

Reference semantics mirrored here:
- spherical Mercator forward  — /root/reference/src/PJ_merc.c:5-15
  (sphere branch: x = k0*lam, y = k0*ln(tan(pi/4 + phi/2)))
- web tile assignment         — merc + floor at fixed zoom (north rule;
  not in reference, composed from the merc kernel)
- haversine                   — fast-path distance used before Karney
  geodesic refinement (src/geodesic.c:944 is the exact oracle)
- lon wrap (adjlon)           — src/adjlon.c:10-15
"""
from __future__ import annotations

import math

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..kernels.xmath import DEG_TO_RAD


def _rad(col):
    """Degrees -> radians via explicit DEG_TO_RAD multiply.

    NOT the radians() builtin: Java Math.toRadians computes x/180*pi
    (divide first) while the reference and the SQL oracles compute
    x*DEG_TO_RAD (src/proj_api.h:47) — they differ in the last ulp,
    which matters for floor()-quantized cross-engine checks.
    """
    return col * F.lit(DEG_TO_RAD)

# WGS84 semi-major axis (src/pj_ellps.c "WGS84")
WGS84_A = 6378137.0
# mean Earth radius used by the haversine fast path (authalic-ish)
EARTH_RADIUS_M = 6371008.8

# golden-ratio fractions for the deterministic key->coordinate derivation
# (FIXTURES.md §1: centroid from phash * phi^-1 / phi^-2 fractions)
_PHI_INV = 0.6180339887498949
_SQRT3_FRAC = 0.7320508075688772  # sqrt(3)-1: independent of PHI_INV mod 1


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _q(name: str) -> str:
    """Back-quoted SQL identifier of a column name; ``a.b`` is field
    ``b`` of struct ``a``, as for ``F.col``."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in name.split("."))


def _sql(x: Column | str | int | float) -> str:
    """SQL text of a builder argument: a column name, an int (``L``
    past the INT range, the type ``F.lit`` gives it), a float (``D``:
    a bare ``180.0`` parses as DECIMAL) or a Column (its expression's
    own SQL, which costs a few Py4J round trips)."""
    if isinstance(x, str):
        return _q(x)
    if isinstance(x, int):
        return str(x) if -(2**31) <= x < 2**31 else f"{x}L"
    if isinstance(x, float):
        return f"({x!r}D)"
    return f"({SparkSession.active()._jsparkSession.expression(x._jc).sql()})"


# --------------------------------------------------------------- key->point
def frac(x: Column) -> Column:
    """Fractional part (matches DuckDB ``x - floor(x)`` exactly)."""
    return x - F.floor(x)


def synth_lon(key: Column | str, lo: float = -125.0, span: float = 58.0) -> Column:
    """Deterministic longitude from an integer key (CONUS window).

    Pure float64 arithmetic — bit-identical in Spark and DuckDB, so the
    driver's oracle can re-derive the same geography.
    """
    k = _c(key).cast("double")
    return F.lit(lo) + F.lit(span) * frac(k * F.lit(_PHI_INV))


def synth_lat(key: Column | str, lo: float = 25.0, span: float = 24.0) -> Column:
    k = _c(key).cast("double")
    return F.lit(lo) + F.lit(span) * frac(k * F.lit(_SQRT3_FRAC))


# ------------------------------------------------------------------ adjlon
# The builders of the composed path (adjlon, tiles, cell ids) are SQL
# text: ``F.expr`` is one Py4J command, where every Column operator or
# ``F.<fn>`` call is its own round trip (about ten with PySpark's
# query-context capture).  ``_<name>(...)`` takes and returns SQL text;
# the public builder wraps it in one ``F.expr``.
def _adjlon(lon: str) -> str:
    return f"({lon} - 360.0D * floor(({lon} + 180.0D) / 360.0D))"


def adjlon_deg(lon: Column | str) -> Column:
    """Wrap degrees longitude to [-180, 180) (src/adjlon.c semantics)."""
    return F.expr(_adjlon(_sql(lon)))


# ----------------------------------------------------------- merc / tiles
def webmerc_x(lon_deg: Column | str, a: float = WGS84_A) -> Column:
    """Spherical-Mercator x in meters (PJ_merc.c:13 sphere fwd, k0=1,
    scaled by a as in pj_fwd.c:32)."""
    return _rad(_c(lon_deg)) * F.lit(a)


def webmerc_y(lat_deg: Column | str, a: float = WGS84_A) -> Column:
    """Spherical-Mercator y = a*ln(tan(pi/4 + phi/2)) (PJ_merc.c:14)."""
    phi = _rad(_c(lat_deg))
    return F.lit(a) * F.log(F.tan(F.lit(math.pi / 4.0) + phi * 0.5))


def _tile_n(zoom: str) -> str:
    return f"power(2.0D, CAST({zoom} AS DOUBLE))"


def _clamp_tile(t: str, zoom: str) -> str:
    n = _tile_n(zoom)
    return f"CAST(least(greatest({t}, 0), CAST({n} - 1 AS BIGINT)) AS BIGINT)"


def _tile_x(lon: str, zoom: str) -> str:
    return _clamp_tile(f"floor(({lon} + 180.0D) / 360.0D * {_tile_n(zoom)})", zoom)


def _tile_y(lat: str, zoom: str) -> str:
    t = f"tan({lat} * {DEG_TO_RAD!r}D)"
    asinh_t = f"ln({t} + sqrt({t} * {t} + 1.0D))"
    ty = f"floor((1.0D - {asinh_t} / {math.pi!r}D) / 2.0D * {_tile_n(zoom)})"
    return _clamp_tile(ty, zoom)


def _tile_key(tx: str, ty: str, zoom: str) -> str:
    return (
        f"CAST({zoom} AS BIGINT) * {2**58}L + CAST({ty} AS BIGINT) * {2**29}"
        f" + CAST({tx} AS BIGINT)"
    )


def tile_x(lon_deg: Column | str, zoom: Column | str | int) -> Column:
    """Web-Mercator tile column at ``zoom`` (slippy-map convention).

    n = 2^zoom; tx = floor((lon+180)/360 * n), clamped into [0, n-1].
    ``zoom`` is an int or the name of a zoom column.
    """
    return F.expr(_tile_x(_sql(lon_deg), _sql(zoom)))


def tile_y(lat_deg: Column | str, zoom: Column | str | int) -> Column:
    """ty = floor((1 - asinh(tan(phi))/pi)/2 * n), clamped.

    ``asinh(t) = ln(t + sqrt(t^2+1))`` written out so the DuckDB oracle
    can use the identical expression.
    """
    return F.expr(_tile_y(_sql(lat_deg), _sql(zoom)))


def quadkey(tx: Column | str, ty: Column | str, zoom: int) -> Column:
    """Bing-maps quadkey string for a slippy tile (public Bing Maps
    tile-system algorithm): one base-4 digit per zoom level,
    d_i = bit_i(tx) + 2*bit_i(ty), most-significant level first.

    The property that matters at 100 TB is the HIERARCHICAL PREFIX:
    an ancestor tile's quadkey is the child's first k characters, and
    lexicographic quadkey order is Z-order — sorting/clustering a tile
    table by quadkey puts spatially-adjacent tiles in adjacent file
    ranges, so a bbox query prunes to a few contiguous row groups
    instead of scattering over the whole table.  Pure whole-stage
    codegen concat (no UDF); fixed ``zoom`` keeps it a flat expression.
    """
    if not 1 <= zoom <= 28:
        raise ValueError(f"zoom must be 1..28, got {zoom}")
    x, y = _c(tx).cast("long"), _c(ty).cast("long")
    digits = []
    for i in range(1, zoom + 1):
        k = zoom - i
        d = F.shiftright(x, k).bitwiseAND(F.lit(1)) + (
            F.shiftright(y, k).bitwiseAND(F.lit(1)) * 2
        )
        digits.append(d.cast("string"))
    return F.concat(*digits)


def with_hilbert_key(
    df,
    tx_col: str,
    ty_col: str,
    zoom: int,
    out_col: str = "hkey",
):
    """Append the Hilbert-curve index of tile (tx, ty) at ``zoom``
    (cells 0..4^zoom-1) — the seam-free locality key: unlike Z-order
    (quadkey/geohash), consecutive Hilbert keys are ALWAYS spatially
    adjacent cells, so range scans over a Hilbert-sorted table touch
    one contiguous blob with no diagonal jumps (the clustering layout
    modern table formats use for multi-dimensional sort keys).

    Standard public xy->d algorithm (Hamilton's / the classic
    rotate-and-accumulate loop), UNROLLED over the zoom levels as
    chained column projections: each level materializes named columns,
    keeping the expression tree linear in ``zoom`` (a single nested
    expression would grow exponentially — each level references the
    previous x/y several times).  Pure codegen, no UDF; the DuckDB
    oracle unrolls the identical levels as chained CTEs.
    """
    if not 1 <= zoom <= 28:
        raise ValueError(f"zoom must be 1..28, got {zoom}")
    cur = df.withColumn("_hx", _c(tx_col).cast("long")).withColumn(
        "_hy", _c(ty_col).cast("long")
    ).withColumn(out_col, F.lit(0).cast("long"))
    for k in range(zoom - 1, -1, -1):
        s = 1 << k
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0).cast("long")
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0).cast("long")
        cur = cur.withColumn("_rx", rx).withColumn("_ry", ry)
        d2 = F.col(out_col) + F.lit(s) * F.lit(s) * (
            (F.lit(3) * F.col("_rx")).bitwiseXOR(F.col("_ry"))
        )
        # rotate the quadrant frame when ry == 0 (flip if rx == 1, then
        # swap axes) — the invariant that removes Z-order's seams
        flip_x = F.when(
            F.col("_rx") == 1, F.lit(s - 1) - F.col("_hx")
        ).otherwise(F.col("_hx"))
        flip_y = F.when(
            F.col("_rx") == 1, F.lit(s - 1) - F.col("_hy")
        ).otherwise(F.col("_hy"))
        nx = F.when(F.col("_ry") == 0, flip_y).otherwise(F.col("_hx"))
        ny = F.when(F.col("_ry") == 0, flip_x).otherwise(F.col("_hy"))
        cur = (
            cur.withColumn(out_col, d2)
            .withColumn("_nx", nx)
            .withColumn("_ny", ny)
            .drop("_hx", "_hy", "_rx", "_ry")
            .withColumnRenamed("_nx", "_hx")
            .withColumnRenamed("_ny", "_hy")
        )
    return cur.drop("_hx", "_hy")


def hilbert_decode(d: int, zoom: int) -> tuple[int, int]:
    """Inverse (driver-side helper): Hilbert index -> (tx, ty)."""
    x = y = 0
    t = d
    s = 1
    while s < (1 << zoom):
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon_deg: Column | str, lat_deg: Column | str, precision: int = 7) -> Column:
    """Standard geohash string (public Niemeyer algorithm / base32
    bisection): ``precision`` chars = 5p bits, longitude taking the
    even bit positions from the MSB (so ceil(5p/2) lon bits,
    floor(5p/2) lat bits).

    Closed form instead of the textbook bisection loop: quantize each
    axis to its bit budget, interleave the two integers MSB-first into
    one long with an ``aggregate`` fold over the bit positions, then
    slice base-32 digits out of it — all whole-stage codegen, no UDF,
    and the identical arithmetic runs in ANSI SQL for the oracle.
    Like quadkey, a geohash PREFIX is a containing cell, so sorting by
    it clusters spatially (with geohash's well-known Z-order seams).
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be 1..12, got {precision}")
    bits = 5 * precision
    nlon = (bits + 1) // 2
    nlat = bits // 2
    lonq = F.least(
        F.greatest(
            F.floor((_c(lon_deg) + 180.0) / 360.0 * float(1 << nlon)), F.lit(0)
        ),
        F.lit((1 << nlon) - 1),
    ).cast("long")
    latq = F.least(
        F.greatest(
            F.floor((_c(lat_deg) + 90.0) / 180.0 * float(1 << nlat)), F.lit(0)
        ),
        F.lit((1 << nlat) - 1),
    ).cast("long")
    # MSB-first interleave: even positions take lon bits high-to-low.
    # shiftright with a COLUMN shift needs the SQL function directly
    # (the python wrapper only takes a literal int shift)
    ks = F.sequence(F.lit(0), F.lit(bits - 1))
    bit_at = F.transform(
        ks,
        lambda k: F.when(
            k % 2 == 0,
            F.call_function(
                "shiftright", lonq, (F.lit(nlon - 1) - k / 2).cast("int")
            ).bitwiseAND(F.lit(1)),
        ).otherwise(
            F.call_function(
                "shiftright", latq, (F.lit(nlat - 1) - (k - 1) / 2).cast("int")
            ).bitwiseAND(F.lit(1))
        ),
    )
    interleaved = F.aggregate(
        bit_at, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b.cast("long")
    )
    chars = [
        F.substring(
            F.lit(_GEOHASH_B32),
            (
                F.shiftright(interleaved, 5 * (precision - 1 - j)).bitwiseAND(F.lit(31))
                + 1
            ).cast("int"),
            1,
        )
        for j in range(precision)
    ]
    return F.concat(*chars)


def geohash_decode(gh: str) -> tuple[float, float, float, float]:
    """Inverse (driver-side helper): geohash -> (lon_lo, lat_lo,
    lon_hi, lat_hi) bounding box of the cell."""
    bits_list = []
    for ch in gh:
        d = _GEOHASH_B32.index(ch)
        bits_list.extend((d >> k) & 1 for k in range(4, -1, -1))
    lon_lo, lon_hi, lat_lo, lat_hi = -180.0, 180.0, -90.0, 90.0
    for i, b in enumerate(bits_list):
        if i % 2 == 0:
            mid = (lon_lo + lon_hi) / 2
            lon_lo, lon_hi = (mid, lon_hi) if b else (lon_lo, mid)
        else:
            mid = (lat_lo + lat_hi) / 2
            lat_lo, lat_hi = (mid, lat_hi) if b else (lat_lo, mid)
    return lon_lo, lat_lo, lon_hi, lat_hi


def quadkey_decode(qk: str) -> tuple[int, int, int]:
    """Inverse of :func:`quadkey` (driver-side helper): quadkey string
    -> (zoom, tile_x, tile_y)."""
    tx = ty = 0
    for ch in qk:
        d = int(ch)
        if not 0 <= d <= 3:
            raise ValueError(f"bad quadkey digit {ch!r}")
        tx = tx * 2 + (d & 1)
        ty = ty * 2 + (d >> 1)
    return len(qk), tx, ty


def tile_key(tx: Column | str, ty: Column | str, zoom: Column | str | int) -> Column:
    """Single int64 tile key: (zoom << 58) | (ty << 29) | tx.

    29 bits per axis supports zoom <= 28; keeps joins on one long column
    instead of a 3-tuple (one comparison in codegen, narrower shuffle).
    """
    return F.expr(_tile_key(_sql(tx), _sql(ty), _sql(zoom)))


# -------------------------------------------------------------- haversine
def haversine_m(
    lon1: Column | str,
    lat1: Column | str,
    lon2: Column | str,
    lat2: Column | str,
    radius: float = EARTH_RADIUS_M,
) -> Column:
    """Great-circle distance in meters on a sphere.

    Fast-path metric for kNN candidate ranking; the Karney geodesic
    (kernels/geodesy.py, ref src/geodesic.c:944) is the refinement
    oracle.  Uses the numerically stable haversine form.
    """
    rlat1, rlat2 = _rad(_c(lat1)), _rad(_c(lat2))
    dlat = (rlat2 - rlat1) * 0.5
    dlon = (_rad(_c(lon2)) - _rad(_c(lon1))) * 0.5
    h = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    # clamp for antipodal rounding
    h = F.least(h, F.lit(1.0))
    return F.lit(2.0 * radius) * F.asin(F.sqrt(h))


# ------------------------------------------------------------- cell index
def _cell_id(lon: str, lat: str, res: int) -> str:
    n = 1 << res  # cells per 180 deg
    ix = f"floor(({_adjlon(lon)} + 180.0D) / 360.0D * {2.0 * n!r}D)"
    iy = f"floor(({lat} + 90.0D) / 180.0D * {float(n)!r}D)"
    return (
        f"CAST(least(greatest({iy}, 0), {n - 1}) * {2 * n}"
        f" + least(greatest({ix}, 0), {2 * n - 1}) AS BIGINT)"
    )


def cell_id(lon_deg: Column | str, lat_deg: Column | str, res: int) -> Column:
    """Equirectangular cell index at resolution ``res`` (cells are
    (360/2^res) x (180/2^res) degrees), encoded as one int64:
    ``iy * 2^(res+1) + ix``.

    This is the engine's H3-analog addressing scheme: hierarchical
    (parent = child cell at res-1 = id arithmetic), k-ring friendly
    (neighbors are +-1 in ix/iy), and — unlike true H3 — exactly
    reproducible in ANSI SQL so the driver oracle can check joins.
    The equal-area variants (HEALPix/ISEA, ref PJ_healpix.c:468,
    PJ_isea.c:320) plug into the same id layout via the kernel UDFs.
    """
    return F.expr(_cell_id(_sql(lon_deg), _sql(lat_deg), res))


def cell_parent(cell: Column, res: int) -> Column:
    """Parent cell id at ``res-1`` from a cell id at ``res``."""
    n = 1 << res
    ix = cell % F.lit(2 * n)
    iy = F.floor(cell / F.lit(2 * n))
    return (F.floor(iy / 2) * F.lit(n) + F.floor(ix / 2)).cast("long")


def cell_neighbors(cell: Column, res: int, k: int = 1) -> Column:
    """Array column of the (2k+1)^2 k-ring cell ids around ``cell``
    (clamped at the poles, wrapped in longitude)."""
    n = 1 << res
    ix = cell % F.lit(2 * n)
    iy = F.floor(cell / F.lit(2 * n))
    ids = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            nx = (ix + dx + 2 * n) % F.lit(2 * n)
            ny = F.least(F.greatest(iy + dy, F.lit(0)), F.lit(n - 1))
            ids.append((ny * F.lit(2 * n) + nx).cast("long"))
    return F.array_distinct(F.array(*ids))


# ------------------------------------------------- cube-face (S2-like) id
def cubeface_cell(lon_deg: Column | str, lat_deg: Column | str, level: int) -> Column:
    """Quadrilateralized-spherical-cube cell id (S2-style).

    Face decomposition follows the reference QSC projection
    (src/PJ_qsc.c:52-60: six faces +x -x +y -y +z -z selected by the
    dominant ECEF axis); within a face, gnomonic (u,v) in [-1,1] is
    quantized to a 2^level x 2^level grid.  id = face * 4^level
    + iy * 2^level + ix.  Pure expressions — no UDF.
    """
    lam = _rad(_c(lon_deg))
    phi = _rad(_c(lat_deg))
    x = F.cos(phi) * F.cos(lam)
    y = F.cos(phi) * F.sin(lam)
    z = F.sin(phi)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    # face: 0:+x 1:+y 2:+z 3:-x 4:-y 5:-z  (S2 ordering)
    face = (
        F.when((ax >= ay) & (ax >= az), F.when(x >= 0, F.lit(0)).otherwise(F.lit(3)))
        .when(ay >= az, F.when(y >= 0, F.lit(1)).otherwise(F.lit(4)))
        .otherwise(F.when(z >= 0, F.lit(2)).otherwise(F.lit(5)))
    )
    # gnomonic coords on the face (u,v in [-1,1])
    u = (
        F.when(face == 0, y / x)
        .when(face == 3, z / x)
        .when(face == 1, -x / y)
        .when(face == 4, z / y)
        .when(face == 2, -x / z)
        .otherwise(-y / z)
    )
    v = (
        F.when(face == 0, z / x)
        .when(face == 3, -y / x)
        .when(face == 1, z / y)
        .when(face == 4, -x / y)
        .when(face == 2, y / z)
        .otherwise(-x / z)
    )
    n = 1 << level
    iu = F.least(F.greatest(F.floor((u + 1.0) * 0.5 * n), F.lit(0)), F.lit(n - 1))
    iv = F.least(F.greatest(F.floor((v + 1.0) * 0.5 * n), F.lit(0)), F.lit(n - 1))
    return (face.cast("long") * F.lit(n * n) + iv * F.lit(n) + iu).cast("long")
