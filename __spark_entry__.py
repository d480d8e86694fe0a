"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises every operator family from SURVEY.md §2 over
the driver's parquet tables; ``oracle_sql()`` gives the DuckDB-dialect
ANSI mirror for each SQL-expressible query.  Cross-engine float
discipline (see proj_spark/functions/expressions.py):

- degree->radian conversion is an explicit ``* DEG_TO_RAD`` multiply
  in both engines (never the engines' radians() builtins),
- every float output is quantized with floor() at a scale far coarser
  than the engines' possible 1-ulp libm drift,
- every aggregate avoids float summation (counts / min / max of ints),
- iterative kernels (phi2, inv_mlfn, grid shift, Vincenty) are NOT
  SQL-expressible -> registered without an oracle entry (rows-only
  check), with pytest golden-vector coverage instead (tests/).

Synthetic geography: deterministic CONUS points derived from integer
keys via golden-ratio / sqrt(3) fractions (pure float64 arithmetic,
bit-identical in Spark and DuckDB).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proj_spark.crs import CRS
from proj_spark.kernels.xmath import DEG_TO_RAD
from proj_spark.functions import expressions as E
from proj_spark.sources.tables import load_table

# --------------------------------------------------------------- constants
D = repr(DEG_TO_RAD)  # exact float literal shared by all SQL oracles
PHI = "0.6180339887498949"
SQ3 = "0.7320508075688772"
PI_L = "3.141592653589793"

# hand-checked vs proj_spark.crs: UTM zone 11 on WGS84
_UTM11 = CRS.from_proj4("+proj=utm +zone=11 +datum=WGS84")
_LCC = CRS.from_proj4(
    "+proj=lcc +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96 +ellps=GRS80"
)


def _lon_sql(k: str) -> str:
    return f"(-125.0 + 58.0 * (({k} * {PHI}) - floor({k} * {PHI})))"


def _lat_sql(k: str) -> str:
    return f"(25.0 + 24.0 * (({k} * {SQ3}) - floor({k} * {SQ3})))"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, f"{sf_dir}/{name}.parquet")


def _points(spark, sf_dir, table: str, key: str) -> DataFrame:
    df = _load(spark, sf_dir, table)
    return df.select(
        F.col(key).alias("pk"),
        E.synth_lon(F.col(key).cast("double")).alias("lon"),
        E.synth_lat(F.col(key).cast("double")).alias("lat"),
    )


# =================================================================== tiles
def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-tile rollup at zoom 8 over orders-derived points."""
    from proj_spark.operators.tiles import tile_counts

    pts = _points(spark, sf_dir, "orders", "o_orderkey")
    out = tile_counts(pts, [8], "lon", "lat")
    return out.select(
        F.col("zoom").cast("long").alias("zoom"),
        "tile_x",
        "tile_y",
        F.col("n").alias("n"),
    )


_TILE_SQL_TMPL = """
SELECT CAST({z} AS BIGINT) AS zoom,
       CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}.0), 0), {n} - 1) AS BIGINT) AS tile_x,
       CAST(least(greatest(floor((1.0 - ln(tan(lat * {D}) + sqrt(tan(lat * {D}) * tan(lat * {D}) + 1.0)) / {PI}) / 2.0 * {n}.0), 0), {n} - 1) AS BIGINT) AS tile_y,
       count(*) AS n
FROM ({src})
GROUP BY 1, 2, 3
"""


def _tile_oracle(z: int, src: str) -> str:
    return _TILE_SQL_TMPL.format(z=z, n=1 << z, D=D, PI=PI_L, src=src)


_ORDERS_PTS_SQL = (
    f"SELECT o_orderkey AS pk, {_lon_sql('CAST(o_orderkey AS DOUBLE)')} AS lon, "
    f"{_lat_sql('CAST(o_orderkey AS DOUBLE)')} AS lat FROM orders"
)
_LINEITEM_PTS_SQL = (
    "SELECT l_orderkey * 8 + l_linenumber AS pk, "
    + f"{_lon_sql('CAST(l_orderkey * 8 + l_linenumber AS DOUBLE)')} AS lon, "
    + f"{_lat_sql('CAST(l_orderkey * 8 + l_linenumber AS DOUBLE)')} AS lat FROM lineitem"
)
_CUSTOMER_PTS_SQL = (
    f"SELECT c_custkey AS pk, {_lon_sql('CAST(c_custkey AS DOUBLE)')} AS lon, "
    f"{_lat_sql('CAST(c_custkey AS DOUBLE)')} AS lat FROM customer"
)


def q_tile_multizoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom tile assignment (explode) over lineitem points."""
    from proj_spark.operators.tiles import tile_counts

    li = _load(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("pk"),
        E.synth_lon((F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("double")).alias("lon"),
        E.synth_lat((F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("double")).alias("lat"),
    )
    out = tile_counts(pts, [4, 8, 12], "lon", "lat")
    return out.select(F.col("zoom").cast("long").alias("zoom"), "tile_x", "tile_y", "n")


# ================================================================ webmerc
def q_webmerc_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical web-Mercator forward (native expressions), dm floor."""
    pts = _points(spark, sf_dir, "orders", "o_orderkey")
    return pts.select(
        "pk",
        F.floor(E.webmerc_x("lon") * 10.0).cast("long").alias("x_dm"),
        F.floor(E.webmerc_y("lat") * 10.0).cast("long").alias("y_dm"),
    )


# ============================================================= UTM kernel
def _series_consts():
    """Inline numeric constants of the compiled UTM-11 CRS for SQL."""
    import proj_spark.kernels.xmath as xm
    from proj_spark.kernels.core import compile_proj

    cp = compile_proj(_UTM11)
    es = _UTM11.es
    en = xm.enfn(es)
    return {
        "es": repr(es),
        "esp": repr(es / (1.0 - es)),
        "k0": repr(cp.k0),
        "lam0": repr(cp.lam0),
        "a": repr(_UTM11.a),
        "x0": repr(cp.x0),
        "en0": repr(en[0]),
        "en1": repr(en[1]),
        "en2": repr(en[2]),
        "en3": repr(en[3]),
        "en4": repr(en[4]),
    }


def q_utm_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ellipsoidal transverse-Mercator forward through the real kernel
    pipeline (pandas UDF), vs an independent SQL transcription of the
    Snyder 8th-order series (ref PJ_tmerc.c:21-57).  Points restricted
    near the zone so the series is well-conditioned; output dm floor.
    """
    from proj_spark.functions.transform import transform

    pts = _points(spark, sf_dir, "orders", "o_orderkey").where(
        (F.col("lon") >= -126.0) & (F.col("lon") <= -108.0)
    )
    out = transform(pts, "+proj=latlong +datum=WGS84", _UTM11, "lon", "lat")
    return out.select(
        "pk",
        F.floor(F.col("x") * 10.0).cast("long").alias("x_dm"),
        F.floor(F.col("y") * 10.0).cast("long").alias("y_dm"),
    )


def q_utm_cheby_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chebyshev SURROGATE transform (the reference's own fast path:
    mk_cheby/proj -T, src/mk_cheby.c:36-177) as a DataFrame operator —
    degree-12 fit of the full UTM11 pipeline over the zone window,
    evaluated executor-side as two BLAS-contracted series.  Outputs
    floor to decimeters against the EXACT Snyder-series SQL oracle, so
    a green row proves |surrogate - exact| << 0.1 m on every point
    (measured fit residual ~4e-8 m; tol guards regressions)."""
    from proj_spark.functions.transform import transform_cheby

    pts = _points(spark, sf_dir, "orders", "o_orderkey").where(
        (F.col("lon") >= -126.0) & (F.col("lon") <= -108.0)
    )
    out = transform_cheby(
        pts,
        "+proj=latlong +datum=WGS84",
        _UTM11,
        (-126.0, -108.0),
        (25.0, 49.0),
        degree=12,
        tol=1e-4,
    )
    return out.select(
        "pk",
        F.floor(F.col("x") * 10.0).cast("long").alias("x_dm"),
        F.floor(F.col("y") * 10.0).cast("long").alias("y_dm"),
    )


def _utm_oracle() -> str:
    c = _series_consts()
    # transcribed with the kernel's exact nesting (PJ_tmerc.c fwd via
    # proj_spark/kernels/core.py _tmerc_build)
    return f"""
WITH pts AS ({_ORDERS_PTS_SQL}),
flt AS (SELECT * FROM pts WHERE lon >= -126.0 AND lon <= -108.0),
r AS (
  SELECT pk,
         lon * {D} - {c['lam0']} AS lam,
         lat * {D} AS phi
  FROM flt
),
t1 AS (
  SELECT pk, lam, phi,
         sin(phi) AS sinphi, cos(phi) AS cosphi
  FROM r
),
t2 AS (
  SELECT pk, lam, phi, sinphi, cosphi,
         (sinphi / cosphi) * (sinphi / cosphi) AS t,
         cosphi * lam AS al0,
         {c['esp']} * cosphi * cosphi AS n
  FROM t1
),
t3 AS (
  SELECT pk, lam, phi, sinphi, cosphi, t, n,
         al0 * al0 AS als,
         al0 / sqrt(1.0 - {c['es']} * sinphi * sinphi) AS al
  FROM t2
),
t4 AS (
  SELECT pk, sinphi, al, lam, t, n, als,
         {c['k0']} * al * (1.0 + 0.16666666666666666666 * als * (1.0 - t + n
            + 0.05 * als * (5.0 + t * (t - 18.0) + n * (14.0 - 58.0 * t)
              + 0.02380952380952380952 * als * (61.0 + t * (t * (179.0 - t) - 479.0))))) AS x,
         {c['k0']} * (({c['en0']} * phi - (cosphi * sinphi) * ({c['en1']} + (sinphi * sinphi) * ({c['en2']} + (sinphi * sinphi) * ({c['en3']} + (sinphi * sinphi) * {c['en4']}))))
            + sinphi * al * lam * 0.5 * (1.0
              + 0.08333333333333333333 * als * (5.0 - t + n * (9.0 + 4.0 * n)
                + 0.03333333333333333333 * als * (61.0 + t * (t - 58.0) + n * (270.0 - 330.0 * t)
                  + 0.01785714285714285714 * als * (1385.0 + t * (t * (543.0 - t) - 3111.0)))))) AS y
  FROM t3
)
SELECT pk,
       CAST(floor(({c['a']} * x + {c['x0']}) * 10.0) AS BIGINT) AS x_dm,
       CAST(floor(({c['a']} * y + 0.0) * 10.0) AS BIGINT) AS y_dm
FROM t4
"""


# ============================================================= LCC kernel
def q_lcc_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambert Conformal Conic (2SP, GRS80) forward through the kernel
    pipeline vs SQL transcription (ref PJ_lcc.c:13-25); dm floor."""
    from proj_spark.functions.transform import transform

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    out = transform(pts, "+proj=latlong +ellps=GRS80", _LCC, "lon", "lat")
    return out.select(
        "pk",
        F.floor(F.col("x") * 10.0).cast("long").alias("x_dm"),
        F.floor(F.col("y") * 10.0).cast("long").alias("y_dm"),
    )


def _lcc_oracle() -> str:
    import math

    import proj_spark.kernels.xmath as xm
    from proj_spark.kernels.core import compile_proj

    # re-derive setup constants exactly as setup_lcc does
    e = _LCC.e
    es = _LCC.es
    cp = compile_proj(_LCC)
    phi1 = 33.0 * 0.0174532925199433  # dms_param path (crs._VM[0])
    phi2v = 45.0 * 0.0174532925199433
    sinphi = math.sin(phi1)
    cosphi = math.cos(phi1)
    m1 = float(xm.msfn(sinphi, cosphi, es))
    ml1 = float(xm.tsfn(phi1, sinphi, e))
    sinphi2 = math.sin(phi2v)
    n = math.log(m1 / float(xm.msfn(sinphi2, math.cos(phi2v), es)))
    n /= math.log(ml1 / float(xm.tsfn(phi2v, sinphi2, e)))
    c = m1 * ml1 ** (-n) / n
    rho0 = c * float(xm.tsfn(cp.phi0, math.sin(cp.phi0), e)) ** n
    halfpi = repr(math.pi / 2)
    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL}),
r AS (
  SELECT pk, lon * {D} - {repr(cp.lam0)} AS lam, lat * {D} AS phi FROM pts
),
t1 AS (
  SELECT pk, lam, phi, sin(phi) * {repr(e)} AS se FROM r
),
t2 AS (
  SELECT pk, lam,
         {repr(c)} * power(tan(0.5 * ({halfpi} - phi)) / power((1.0 - se) / (1.0 + se), {repr(0.5 * e)}), {repr(n)}) AS rho
  FROM t1
),
t3 AS (
  SELECT pk,
         rho * sin(lam * {repr(n)}) AS x,
         {repr(rho0)} - rho * cos(lam * {repr(n)}) AS y
  FROM t2
)
SELECT pk,
       CAST(floor(({repr(_LCC.a)} * x + 0.0) * 10.0) AS BIGINT) AS x_dm,
       CAST(floor(({repr(_LCC.a)} * y + 0.0) * 10.0) AS BIGINT) AS y_dm
FROM t3
"""


# ===================================================== aea / stere / sinu
_AEA = CRS.from_proj4("+proj=aea +lat_1=29.5 +lat_2=45.5 +lon_0=-96 +ellps=GRS80")
_STERE_N = CRS.from_proj4("+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +ellps=WGS84")
_SINU = CRS.from_proj4("+proj=sinu +lon_0=-100 +ellps=GRS80")


def q_aea_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Albers equal-area conic forward through the kernel pipeline vs
    an independent SQL transcription (ref PJ_aea.c + pj_qsfn.c)."""
    from proj_spark.functions.transform import transform

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    out = transform(pts, "+proj=latlong +ellps=GRS80", _AEA, "lon", "lat")
    return out.select(
        "pk",
        F.floor(F.col("x") * 10.0).cast("long").alias("x_dm"),
        F.floor(F.col("y") * 10.0).cast("long").alias("y_dm"),
    )


def _aea_oracle() -> str:
    import math

    import proj_spark.kernels.xmath as xm

    es, e = _AEA.es, _AEA.e
    one_es = _AEA.one_es
    # setup_aea constant derivation (kernels/extra.py)
    phi1 = 29.5 * 0.0174532925199433
    phi2 = 45.5 * 0.0174532925199433
    sinphi = math.sin(phi1)
    cosphi = math.cos(phi1)
    m1 = float(xm.msfn(sinphi, cosphi, es))
    ml1 = float(xm.qsfn(sinphi, e, one_es))
    sinphi2 = math.sin(phi2)
    m2 = float(xm.msfn(sinphi2, math.cos(phi2), es))
    ml2 = float(xm.qsfn(sinphi2, e, one_es))
    n = (m1 * m1 - m2 * m2) / (ml2 - ml1)
    c = m1 * m1 + n * ml1
    dd = 1.0 / n
    import numpy as _np

    from proj_spark.kernels.core import compile_proj

    cp = compile_proj(_AEA)
    rho0 = dd * math.sqrt(c - n * float(xm.qsfn(math.sin(cp.phi0), e, one_es)))
    qsfn = (
        f"{one_es!r} * (sin(phi) / (1.0 - ({e!r} * sin(phi)) * ({e!r} * sin(phi)))"
        f" - (0.5 / {e!r}) * ln((1.0 - {e!r} * sin(phi)) / (1.0 + {e!r} * sin(phi))))"
    )
    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL}),
r AS (SELECT pk, lon * {D} - {cp.lam0!r} AS lam, lat * {D} AS phi FROM pts),
t AS (
  SELECT pk, lam, {dd!r} * sqrt({c!r} - {n!r} * ({qsfn})) AS rho FROM r
)
SELECT pk,
       CAST(floor(({_AEA.a!r} * (rho * sin(lam * {n!r})) + 0.0) * 10.0) AS BIGINT) AS x_dm,
       CAST(floor(({_AEA.a!r} * ({rho0!r} - rho * cos(lam * {n!r})) + 0.0) * 10.0) AS BIGINT) AS y_dm
FROM t
"""


def q_stere_polar_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polar stereographic (N pole, lat_ts=70) kernel vs SQL
    transcription (ref PJ_stere.c e_forward N_POLE + pj_tsfn.c)."""
    from proj_spark.functions.transform import transform

    pts = _load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        E.synth_lon(F.col("p_partkey").cast("double"), lo=-180.0, span=360.0).alias("lon"),
        E.synth_lat(F.col("p_partkey").cast("double"), lo=55.0, span=30.0).alias("lat"),
    )
    out = transform(pts, "+proj=latlong +ellps=WGS84", _STERE_N, "lon", "lat")
    return out.select(
        "pk",
        F.floor(F.col("x") * 10.0).cast("long").alias("x_dm"),
        F.floor(F.col("y") * 10.0).cast("long").alias("y_dm"),
    )


def _stere_oracle() -> str:
    import math

    import proj_spark.kernels.xmath as xm
    from proj_spark.kernels.core import compile_proj

    e = _STERE_N.e
    cp = compile_proj(_STERE_N)
    phits = abs(70.0 * 0.0174532925199433)
    st = math.sin(phits)
    akm1 = math.cos(phits) / float(xm.tsfn(phits, st, e))
    st *= e
    akm1 /= math.sqrt(1.0 - st * st)
    akm1 *= cp.k0  # k0 = 1 here, kept for clarity
    pts = (
        f"SELECT p_partkey AS pk, "
        f"(-180.0 + 360.0 * ((CAST(p_partkey AS DOUBLE) * {PHI}) - floor(CAST(p_partkey AS DOUBLE) * {PHI}))) AS lon, "
        f"(55.0 + 30.0 * ((CAST(p_partkey AS DOUBLE) * {SQ3}) - floor(CAST(p_partkey AS DOUBLE) * {SQ3}))) AS lat "
        f"FROM part"
    )
    # tsfn(phi) = tan(0.5*(HALFPI - phi)) / ((1 - e sinphi)/(1 + e sinphi))^(e/2)
    ts = (
        f"tan(0.5 * (1.5707963267948966 - phi)) / "
        f"power((1.0 - {e!r} * sin(phi)) / (1.0 + {e!r} * sin(phi)), {0.5 * e!r})"
    )
    return f"""
WITH pts AS ({pts}),
r AS (
  SELECT pk,
         (lon * {D} - ({cp.lam0!r})) - 6.283185307179586 * floor(((lon * {D} - ({cp.lam0!r})) + 3.141592653589793) / 6.283185307179586) AS lam,
         lat * {D} AS phi
  FROM pts
),
t AS (SELECT pk, lam, {akm1!r} * ({ts}) AS xk FROM r)
SELECT pk,
       CAST(floor(({_STERE_N.a!r} * (xk * sin(lam)) + 0.0) * 10.0) AS BIGINT) AS x_dm,
       CAST(floor(({_STERE_N.a!r} * (-(xk) * cos(lam)) + 0.0) * 10.0) AS BIGINT) AS y_dm
FROM t
"""


def q_sinu_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ellipsoidal sinusoidal kernel vs SQL transcription (ref
    PJ_gn_sinu.c sinu + pj_mlfn.c series)."""
    from proj_spark.functions.transform import transform

    pts = _points(spark, sf_dir, "orders", "o_orderkey")
    out = transform(pts, "+proj=latlong +ellps=GRS80", _SINU, "lon", "lat")
    return out.select(
        "pk",
        F.floor(F.col("x") * 10.0).cast("long").alias("x_dm"),
        F.floor(F.col("y") * 10.0).cast("long").alias("y_dm"),
    )


def _sinu_oracle() -> str:
    import proj_spark.kernels.xmath as xm
    from proj_spark.kernels.core import compile_proj

    es = _SINU.es
    en = xm.enfn(es)
    cp = compile_proj(_SINU)
    ml = (
        f"{en[0]!r} * phi - (cos(phi) * sin(phi)) * ({en[1]!r} + (sin(phi) * sin(phi)) * "
        f"({en[2]!r} + (sin(phi) * sin(phi)) * ({en[3]!r} + (sin(phi) * sin(phi)) * {en[4]!r})))"
    )
    return f"""
WITH pts AS ({_ORDERS_PTS_SQL}),
r AS (SELECT pk, lon * {D} - ({cp.lam0!r}) AS lam, lat * {D} AS phi FROM pts)
SELECT pk,
       CAST(floor(({_SINU.a!r} * (lam * cos(phi) / sqrt(1.0 - {es!r} * sin(phi) * sin(phi))) + 0.0) * 10.0) AS BIGINT) AS x_dm,
       CAST(floor(({_SINU.a!r} * ({ml}) + 0.0) * 10.0) AS BIGINT) AS y_dm
FROM r
"""


# ========================================================== helmert + ECEF
_HELMERT_SRC = "+proj=latlong +ellps=GRS80 +towgs84=-99.1,-225.3,-65.0,0.1,0.2,-0.3,1.2"


def q_helmert_ecef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodetic->ECEF + 7-parameter Helmert (position-vector) through
    the datum pipeline (ref pj_geocentric_to_wgs84,
    src/pj_transform.c:502-544); meter floor."""
    from proj_spark.functions.transform import transform

    pts = _points(spark, sf_dir, "supplier", "s_suppkey")
    out = transform(pts, _HELMERT_SRC, "+proj=geocent +datum=WGS84", "lon", "lat")
    return out.select(
        "pk",
        F.floor(F.col("x")).cast("long").alias("x_m"),
        F.floor(F.col("y")).cast("long").alias("y_m"),
        F.floor(F.col("z")).cast("long").alias("z_m"),
    )


def _helmert_oracle() -> str:
    crs = CRS.from_proj4(_HELMERT_SRC)
    dx, dy, dz, rx, ry, rz, mm = crs.datum_params
    a, es = repr(crs.a), repr(crs.es)
    sup = (
        f"SELECT s_suppkey AS pk, {_lon_sql('CAST(s_suppkey AS DOUBLE)')} AS lon, "
        f"{_lat_sql('CAST(s_suppkey AS DOUBLE)')} AS lat FROM supplier"
    )
    return f"""
WITH pts AS ({sup}),
r AS (SELECT pk, lon * {D} AS lam, lat * {D} AS phi FROM pts),
g AS (
  SELECT pk,
         ({a} / sqrt(1.0 - {es} * sin(phi) * sin(phi)) + 0.0) * cos(phi) * cos(lam) AS gx,
         ({a} / sqrt(1.0 - {es} * sin(phi) * sin(phi)) + 0.0) * cos(phi) * sin(lam) AS gy,
         (({a} / sqrt(1.0 - {es} * sin(phi) * sin(phi))) * (1.0 - {es}) + 0.0) * sin(phi) AS gz
  FROM r
),
h AS (
  SELECT pk,
         {repr(mm)} * (gx - {repr(rz)} * gy + {repr(ry)} * gz) + {repr(dx)} AS hx,
         {repr(mm)} * ({repr(rz)} * gx + gy - {repr(rx)} * gz) + {repr(dy)} AS hy,
         {repr(mm)} * (-{repr(ry)} * gx + {repr(rx)} * gy + gz) + {repr(dz)} AS hz
  FROM g
)
SELECT pk, CAST(floor(hx) AS BIGINT) AS x_m, CAST(floor(hy) AS BIGINT) AS y_m,
       CAST(floor(hz) AS BIGINT) AS z_m
FROM h
"""


# =============================================================== cell ids
def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equirectangular cell-index rollup at res 7 (the H3-analog
    addressing layer) over customer points."""
    pts = _points(spark, sf_dir, "customer", "c_custkey")
    return (
        pts.withColumn("cell", E.cell_id("lon", "lat", 7))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.min("pk").alias("min_pk"), F.max("pk").alias("max_pk"))
    )


def _cell_oracle(src: str, res: int) -> str:
    n = 1 << res
    return f"""
WITH pts AS ({src}),
c AS (
  SELECT pk,
         CAST(least(greatest(floor(((lon - 360.0 * floor((lon + 180.0) / 360.0)) + 180.0) / 360.0 * {float(2 * n)!r}), 0), {2 * n - 1}) AS BIGINT) AS ix,
         CAST(least(greatest(floor((lat + 90.0) / 180.0 * {float(n)!r}), 0), {n - 1}) AS BIGINT) AS iy
  FROM pts
)
SELECT iy * {2 * n} + ix AS cell, count(*) AS n, min(pk) AS min_pk, max(pk) AS max_pk
FROM c GROUP BY 1
"""


def q_cubeface_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube-face (S2-style, ref PJ_qsc.c:52-60) cell rollup, level 4."""
    pts = _points(spark, sf_dir, "customer", "c_custkey")
    return (
        pts.withColumn("cell", E.cubeface_cell("lon", "lat", 4))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.min("pk").alias("min_pk"))
    )


def _cubeface_oracle(src: str, level: int) -> str:
    n = 1 << level
    return f"""
WITH pts AS ({src}),
xyz AS (
  SELECT pk,
         cos(lat * {D}) * cos(lon * {D}) AS x,
         cos(lat * {D}) * sin(lon * {D}) AS y,
         sin(lat * {D}) AS z
  FROM pts
),
fc AS (
  SELECT pk, x, y, z,
         CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
              WHEN abs(y) >= abs(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
              ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END AS face
  FROM xyz
),
uv AS (
  SELECT pk, face,
         CASE face WHEN 0 THEN y / x WHEN 3 THEN z / x WHEN 1 THEN -x / y
                   WHEN 4 THEN z / y WHEN 2 THEN -x / z ELSE -y / z END AS u,
         CASE face WHEN 0 THEN z / x WHEN 3 THEN -y / x WHEN 1 THEN z / y
                   WHEN 4 THEN -x / y WHEN 2 THEN y / z ELSE -x / z END AS v
  FROM fc
),
q AS (
  SELECT pk, face,
         CAST(least(greatest(floor((u + 1.0) * 0.5 * {n}), 0), {n - 1}) AS BIGINT) AS iu,
         CAST(least(greatest(floor((v + 1.0) * 0.5 * {n}), 0), {n - 1}) AS BIGINT) AS iv
  FROM uv
)
SELECT CAST(face AS BIGINT) * {n * n} + iv * {n} + iu AS cell, count(*) AS n, min(pk) AS min_pk
FROM q GROUP BY 1
"""


# ==================================================================== kNN
_HAVERSINE_SQL = (
    "12742017.6 * asin(sqrt(least("
    "sin(({lat2} * {D} - {lat1} * {D}) * 0.5) * sin(({lat2} * {D} - {lat1} * {D}) * 0.5)"
    " + cos({lat1} * {D}) * cos({lat2} * {D})"
    " * sin(({lon2} * {D} - {lon1} * {D}) * 0.5) * sin(({lon2} * {D} - {lon1} * {D}) * 0.5)"
    ", 1.0)))"
)


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join (brute-force exact semantics): 25 nation-derived query
    points against customer points, k=5, haversine metric, total-order
    tie-break (dist, neighbor)."""
    from proj_spark.operators.knn import knn_join_bruteforce

    nations = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("qk"),
        E.synth_lon((F.col("n_nationkey") * 7919 + 13).cast("double")).alias("qlon"),
        E.synth_lat((F.col("n_nationkey") * 7919 + 13).cast("double")).alias("qlat"),
    )
    cust = _points(spark, sf_dir, "customer", "c_custkey")
    out = knn_join_bruteforce(
        nations, cust, k=5,
        q_id="qk", q_lon="qlon", q_lat="qlat",
        c_id="pk", c_lon="lon", c_lat="lat",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.floor(F.col("dist_m") * 10.0).cast("long").alias("dist_dm"),
    )


_DBSCAN_EPS_M, _DBSCAN_MINPTS = 60000.0, 3


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering (operators/dbscan.py): cell-bucketed
    ε-pairs -> degree/core flags -> connected components over
    core-core edges -> deterministic min-label border assignment.
    Oracle: DuckDB re-derives it from scratch — all-pairs haversine,
    recursive-CTE reachability, the same total-order border rule."""
    from proj_spark.operators.dbscan import dbscan

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    out = dbscan(
        pts, _DBSCAN_EPS_M, _DBSCAN_MINPTS, id_col="pk", lon="lon", lat="lat"
    )
    return out.select(
        F.col("id"), F.col("cluster").cast("long").alias("cluster"), "is_core"
    )


def _dbscan_oracle() -> str:
    hav = _HAVERSINE_SQL.format(
        lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon", D=D
    )
    return f"""
WITH RECURSIVE
pts AS ({_CUSTOMER_PTS_SQL}),
pairs AS (
  SELECT a.pk AS ida, b.pk AS idb
  FROM pts a JOIN pts b ON a.pk <> b.pk
  WHERE {hav} <= {_DBSCAN_EPS_M!r}
),
deg AS (SELECT ida AS id, count(*) + 1 AS degree FROM pairs GROUP BY 1),
core AS (
  SELECT p.pk AS id FROM pts p LEFT JOIN deg ON deg.id = p.pk
  WHERE coalesce(deg.degree, 1) >= {_DBSCAN_MINPTS}
),
ce AS (
  SELECT ida AS u, idb AS v FROM pairs
  WHERE ida IN (SELECT id FROM core) AND idb IN (SELECT id FROM core)
),
reach(u, v) AS (
  SELECT u, v FROM ce
  UNION SELECT r.u, e.v FROM reach r JOIN ce e ON r.v = e.u
),
comp AS (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u),
corelab AS (
  SELECT c.id, coalesce(comp.component, c.id) AS cluster
  FROM core c LEFT JOIN comp ON comp.node = c.id
),
borderlab AS (
  SELECT p.ida AS id, min(cl.cluster) AS bcluster
  FROM pairs p JOIN corelab cl ON cl.id = p.idb GROUP BY 1
)
SELECT p.pk AS id,
       CAST(CASE WHEN cl.id IS NOT NULL THEN cl.cluster
                 ELSE coalesce(bl.bcluster, -1) END AS BIGINT) AS cluster,
       cl.id IS NOT NULL AS is_core
FROM pts p
LEFT JOIN corelab cl ON cl.id = p.pk
LEFT JOIN borderlab bl ON bl.id = p.pk
"""


def q_seg_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment x segment intersection join (operators/segments.py):
    the line-crossing overlay — bbox-cell bucketed candidates (never
    all-pairs), distinct pairs, exact proper-crossing ccw predicate.
    Customer-derived short segments vs supplier-derived ones; the
    oracle is the all-pairs SQL with token-identical ccw trees."""
    from proj_spark.operators.segments import segment_intersection_join

    def segs(table, key):
        pts = _points(spark, sf_dir, table, key)
        return pts.select(
            F.col("pk").alias("seg_id"),
            F.col("lon").alias("x1"),
            F.col("lat").alias("y1"),
            (F.col("lon") + E.synth_lon((F.col("pk") * 3 + 1).cast("double"), lo=-0.6, span=1.2)).alias("x2"),
            (F.col("lat") + E.synth_lat((F.col("pk") * 5 + 2).cast("double"), lo=-0.6, span=1.2)).alias("y2"),
        )

    out = segment_intersection_join(
        segs("customer", "c_custkey"), segs("supplier", "s_suppkey"), res=6
    )
    return out.select("a_id", "b_id")


def _seg_oracle() -> str:
    from proj_spark.operators.segments import ccw_sql

    def seg_sql(table, kcol):
        k = f"CAST({kcol} AS DOUBLE)"
        k2 = f"CAST({kcol} * 3 + 1 AS DOUBLE)"
        k3 = f"CAST({kcol} * 5 + 2 AS DOUBLE)"
        return (
            f"SELECT {kcol} AS seg_id, {_lon_sql(k)} AS x1, {_lat_sql(k)} AS y1, "
            f"{_lon_sql(k)} + (-0.6 + 1.2 * (({k2} * {PHI}) - floor({k2} * {PHI}))) AS x2, "
            f"{_lat_sql(k)} + (-0.6 + 1.2 * (({k3} * {SQ3}) - floor({k3} * {SQ3}))) AS y2 "
            f"FROM {table}"
        )

    d1 = ccw_sql("a.x1", "a.y1", "a.x2", "a.y2", "b.x1", "b.y1")
    d2 = ccw_sql("a.x1", "a.y1", "a.x2", "a.y2", "b.x2", "b.y2")
    d3 = ccw_sql("b.x1", "b.y1", "b.x2", "b.y2", "a.x1", "a.y1")
    d4 = ccw_sql("b.x1", "b.y1", "b.x2", "b.y2", "a.x2", "a.y2")
    return f"""
WITH a AS ({seg_sql("customer", "c_custkey")}),
b AS ({seg_sql("supplier", "s_suppkey")})
SELECT a.seg_id AS a_id, b.seg_id AS b_id
FROM a, b
WHERE ({d1}) * ({d2}) < 0 AND ({d3}) * ({d4}) < 0
"""


_DISS_NX, _DISS_NY = 8, 6


def _parcel_fixture():
    """Unit-square parcel grid with 2x2 owner blocks (odd rows traced
    clockwise so shared edges run in opposite directions); parcel 0
    gets a unique owner to exercise the singleton path."""
    out = []
    for j in range(_DISS_NY):
        for i in range(_DISS_NX):
            pid = j * _DISS_NX + i
            x, y = float(i), float(j)
            ring = [
                (x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1), (x, y),
            ]
            if j % 2:
                ring = ring[::-1]
            owner = 9 if pid == 0 else ((i // 2) + (j // 2) * 3) % 4
            out.append((pid, owner, ring))
    return out


def q_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve by attribute (operators/dissolve.py): parcels sharing
    a geometric edge AND an owner merge — canonical quantized edge
    keys (direction-independent), one groupBy, connected components.
    Oracle: DuckDB re-derives adjacency from the same ring geometry
    (identical edge-key expressions) and clusters with the recursive
    reachability CTE."""
    from proj_spark.operators.dissolve import dissolve_by

    rows = [
        {"poly_id": pid, "owner": o, "ring": [{"lon": a, "lat": b} for a, b in r]}
        for pid, o, r in _parcel_fixture()
    ]
    df = spark.createDataFrame(
        rows, "poly_id long, owner int, ring array<struct<lon:double,lat:double>>"
    )
    out = dissolve_by(df, "owner")
    return out.select(
        "poly_id",
        F.col("owner").cast("long").alias("owner"),
        F.col("group_id").cast("long").alias("group_id"),
        F.col("group_size").cast("long").alias("group_size"),
    )


def _dissolve_oracle() -> str:
    from proj_spark.operators.dissolve import QUANT

    edge_rows = []
    for pid, o, ring in _parcel_fixture():
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            edge_rows.append(f"({pid}, {o}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    pt = lambda x, y: (  # noqa: E731
        f"CAST(CAST(floor({x} * {QUANT!r}) AS BIGINT) AS VARCHAR) || ':' || "
        f"CAST(CAST(floor({y} * {QUANT!r}) AS BIGINT) AS VARCHAR)"
    )
    a, b = pt("x1", "y1"), pt("x2", "y2")
    return f"""
WITH RECURSIVE
e0(pid, owner, x1, y1, x2, y2) AS (VALUES {",".join(edge_rows)}),
e AS (
  SELECT pid, owner,
         least({a}, {b}) || '|' || greatest({a}, {b}) AS ek
  FROM e0
),
pairs AS (
  SELECT DISTINCT l.pid AS u, r.pid AS v
  FROM e l JOIN e r ON l.ek = r.ek AND l.owner = r.owner AND l.pid < r.pid
),
edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION SELECT rr.u, ee.v FROM reach rr JOIN edges ee ON rr.v = ee.u
),
comp AS (SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u),
g AS (
  SELECT p.pid AS poly_id, CAST(p.owner AS BIGINT) AS owner,
         coalesce(c.component, p.pid) AS group_id
  FROM (SELECT DISTINCT pid, owner FROM e0) p
  LEFT JOIN comp c ON c.node = p.pid
)
SELECT poly_id, owner, CAST(group_id AS BIGINT) AS group_id,
       CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
FROM g
"""


def q_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic as-of join (operators/asof.py): every 'view' event
    matched to the user's latest preceding 'click' — union + ordered
    window (ONE shuffle of |L|+|R|, no replication).  Oracle: DuckDB's
    NATIVE `ASOF LEFT JOIN` — an independent engine-level derivation
    of the same point-in-time semantics, not a replay.

    Clicks are deduped to max(event_id) per (user_id, ts) IN BOTH
    engines before joining: asof_join requires right (key, ts)
    uniqueness (DuckDB's native ASOF picks an arbitrary survivor on
    ties while the Spark operator picks the max), so the gate would be
    fixture-dependent without it (round-4 review)."""
    from proj_spark.operators.asof import asof_join

    ev = _load(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(views, clicks, key="user_id", ts="ts", right_cols=["click_id"])
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        F.col("asof_ts").cast("timestamp").cast("long").alias("asof_s"),
        "click_id",
    )


def _asof_oracle() -> str:
    return """
WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT v.event_id, v.user_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS ts_s,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS asof_s,
       c.click_id
FROM v ASOF LEFT JOIN c ON v.user_id = c.user_id AND v.ts >= c.ts
"""


_SOBEL = dict(n_x=4, n_y=3, tile_px=64)


def q_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Halo-exchange Sobel stencil (operators/stencil.py): per-tile
    edge magnitude with 1-px halos shipped as edge STRIPS (shuffle
    ~1.06x input, never the naive 9x) — the canonical distributed
    raster neighborhood op.  Oracle: DuckDB evaluates the same 12-term
    kernel per pixel from the LCG closed form with the zero-outside
    rule."""
    from proj_spark.operators.stencil import sobel_tiles
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles

    g = LatLonGrid(
        lon0=0.0, lat0=0.0, dlon=0.01, dlat=0.01,
        width=_SOBEL["n_x"] * 64, height=_SOBEL["n_y"] * 64, tile_px=64,
    )
    tiles = lcg_tiles(spark, g, partitions=6).select(
        F.col("sx").alias("x"), F.col("sy").alias("y"), "bytes"
    )
    out = sobel_tiles(tiles, _SOBEL["tile_px"], _SOBEL["n_x"], _SOBEL["n_y"])
    return out.select("x", "y", "n_hi", "mag_sum", "mag_cks")


def _sobel_oracle() -> str:
    from proj_spark.operators.stencil import sobel_oracle_sql

    return sobel_oracle_sql(**_SOBEL)


def q_horn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn slope/aspect terrain analysis (operators/stencil.py):
    same halo-exchange plan as sobel (1-px strips, ~1.06x shuffle),
    exact int64 Horn gradient numerators, and a 45-degree-sector
    aspect histogram whose boundaries are pure integer comparisons —
    no atan2, so the SQL oracle reproduces it bit-for-bit."""
    from proj_spark.operators.stencil import horn_tiles
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles

    g = LatLonGrid(
        lon0=0.0, lat0=0.0, dlon=0.01, dlat=0.01,
        width=_SOBEL["n_x"] * 64, height=_SOBEL["n_y"] * 64, tile_px=64,
    )
    tiles = lcg_tiles(spark, g, partitions=6).select(
        F.col("sx").alias("x"), F.col("sy").alias("y"), "bytes"
    )
    return horn_tiles(tiles, _SOBEL["tile_px"], _SOBEL["n_x"], _SOBEL["n_y"])


def _horn_oracle() -> str:
    from proj_spark.operators.stencil import horn_oracle_sql

    return horn_oracle_sql(**_SOBEL)


_ADAPT_CAP, _ADAPT_L = 50, 8


def q_adaptive_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree binning (operators/adaptive.py): every point
    binned at the shortest quadkey prefix holding ≤ cap points — the
    equi-load spatial partitioning that fixes hot-cell skew at 10^12
    rows.  Closed form (level-exploded prefix counts + min satisfying
    level), so DuckDB replays it with the same two aggregates."""
    from proj_spark.operators.adaptive import adaptive_bins

    pts = _points(spark, sf_dir, "orders", "o_orderkey")
    out = adaptive_bins(pts, _ADAPT_CAP, _ADAPT_L, id_col="pk")
    return out.select(F.col("id"), "bin", "level")


def _adaptive_oracle() -> str:
    L, cap = _ADAPT_L, _ADAPT_CAP
    n = 1 << L
    tx = f"CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}.0), 0), {n} - 1) AS BIGINT)"
    ty = (
        f"CAST(least(greatest(floor((1.0 - ln(tan(lat * {D}) + sqrt(tan(lat * {D}) * tan(lat * {D}) + 1.0)) / {PI_L}) / 2.0 * {n}.0), 0), {n} - 1) AS BIGINT)"
    )
    digits = " || ".join(
        f"CAST(((tx >> {L - i}) & 1) + 2 * ((ty >> {L - i}) & 1) AS VARCHAR)"
        for i in range(1, L + 1)
    )
    return f"""
WITH p AS (SELECT pk, {tx} AS tx, {ty} AS ty FROM ({_ORDERS_PTS_SQL})),
qk AS (SELECT pk, {digits} AS qk FROM p),
pref AS (
  SELECT pk, qk, lvl.range AS level,
         substr(qk, 1, CAST(lvl.range AS INT)) AS prefix
  FROM qk, range(0, {L + 1}) lvl
),
counts AS (SELECT level, prefix, count(*) AS n FROM pref GROUP BY 1, 2),
chosen AS (
  SELECT p.pk, p.qk,
         min(CASE WHEN c.n <= {cap} THEN p.level END) AS lvl
  FROM pref p JOIN counts c ON c.level = p.level AND c.prefix = p.prefix
  GROUP BY p.pk, p.qk
)
SELECT pk AS id,
       CASE WHEN lvl IS NULL THEN qk ELSE substr(qk, 1, CAST(lvl AS INT)) END AS bin,
       CAST(coalesce(lvl, {L}) AS BIGINT) AS level
FROM chosen
"""


def _chips_fixture():
    """16 LCG chip bboxes over the warp grid (+1 fully outside) —
    shared literals between the Spark DataFrame and the SQL VALUES."""
    g = _WARP_GRID
    lon_span = g["width"] * g["dlon"]
    lat_span = g["height"] * g["dlat"]
    out, s = [], 171717
    for i in range(16):
        vals = []
        for _ in range(4):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            vals.append((s >> 11) / float(1 << 53))
        w = g["lon0"] - 0.4 + (lon_span + 0.4) * vals[0]
        sl = (g["lat0"] - lat_span) - 0.4 + (lat_span + 0.4) * vals[1]
        out.append(
            (f"chip{i:03d}", w, sl, w + 0.3 + 1.4 * vals[2], sl + 0.3 + 1.4 * vals[3])
        )
    out.append(("chip_out", 40.0, -40.0, 41.0, -39.0))
    return out


def q_chips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-chip extraction (operators/chips.py): fixed-size image
    chips cut from the tiled raster by AOI bbox — broadcast chip
    candidate map, big tile side unshuffled, one bounded-fan shuffle.
    The per-pixel map is pure rational arithmetic, so the DuckDB
    oracle reproduces EVERY pixel (not just the aggregate shape)."""
    from proj_spark.operators.chips import extract_chips
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles

    grid = LatLonGrid(**_WARP_GRID)
    tiles = lcg_tiles(spark, grid, partitions=8)
    chips = spark.createDataFrame(
        _chips_fixture(),
        "chip_id string, lon_w double, lat_s double, lon_e double, lat_n double",
    )
    out = extract_chips(tiles, chips, grid, out_px=64)
    return out.select("chip_id", "n_valid", "px_sum", "px_cks")


def _chips_oracle() -> str:
    from proj_spark.operators.chips import chips_oracle_sql
    from proj_spark.operators.warp import LatLonGrid

    return chips_oracle_sql(_chips_fixture(), LatLonGrid(**_WARP_GRID), out_px=64)


_COMP = dict(n_x=3, n_y=2, n_t=5, tile_px=64, cloud_mod=5)


def q_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-pixel temporal composite (operators/composite.py): per
    pixel, keep the LATEST cloud-free observation out of 5 revisits —
    one bounded-group shuffle, vectorized argmax.  Oracle: DuckDB
    replays the per-pixel max-t-valid rule over the same LCG closed
    forms and checks the exact-integer (n_filled, px_sum, px_cks,
    t_sum) per tile."""
    from proj_spark.operators.composite import (
        best_pixel_composite,
        lcg_observations,
    )

    obs = lcg_observations(spark, partitions=8, **_COMP)
    out = best_pixel_composite(obs, _COMP["tile_px"])
    return out.select("x", "y", "n_filled", "px_sum", "px_cks", "t_sum")


def _composite_oracle() -> str:
    from proj_spark.operators.composite import composite_oracle_sql

    return composite_oracle_sql(**_COMP)


_IDW = dict(lon0=-125.0, lat0=25.0, pitch_deg=1.0, nx=58, ny=24,
            radius_m=300000.0)


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW surface interpolation (operators/interpolate.py): supplier
    samples (value = pk % 251) onto a 58x24 one-degree grid, 300 km
    search radius.  Distances floor to whole meters, weights are the
    integer division 10^12 div (dm²+1), so (n, sum_w, sum_wv) are
    exact int64 — the oracle replays the identical trees brute-force."""
    from proj_spark.operators.interpolate import idw_grid

    samples = _points(spark, sf_dir, "supplier", "s_suppkey").withColumn(
        "value", F.col("pk") % 251
    )
    return idw_grid(spark, samples, id_col="pk", **_IDW)


def _idw_oracle() -> str:
    from proj_spark.operators.interpolate import idw_oracle_sql

    k = "CAST(s_suppkey AS DOUBLE)"
    samples_sql = (
        f"SELECT s_suppkey AS pk, {_lon_sql(k)} AS lon, {_lat_sql(k)} AS lat, "
        f"s_suppkey % 251 AS val FROM supplier"
    )
    hav_t = _HAVERSINE_SQL.replace("{D}", D)
    sql = idw_oracle_sql(samples_sql, hav_template=hav_t, **_IDW)
    # DuckDB sums BIGINT into HUGEINT; pin the comparison types
    return sql.replace(
        "SELECT cx, cy, count(*) AS n,", "SELECT cx, cy, CAST(count(*) AS BIGINT) AS n,"
    )


# warp fixture: 512x512 plate-carrée raster (8x8 tiles of 64px) over
# the US-NW window, warped onto zoom-6 web-mercator tiles
_WARP_GRID = dict(
    lon0=-120.0, lat0=48.0, dlon=0.02, dlat=0.02,
    width=512, height=512, tile_px=64,
)
_WARP_ZOOM, _WARP_OPX = 6, 64


def q_warp_webmerc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster warp (operators/warp.py): reproject a tiled plate-carrée
    raster onto web-mercator tiles — inverse-map every output pixel
    center, nearest-neighbor sample.  Broadcast candidate map keeps
    the big (source-tile) side unshuffled; the one exchange groups
    bounded-fan fragments per OUTPUT tile.  Oracle: DuckDB replays the
    identical per-pixel expression trees over range() and checks the
    exact-integer (n_valid, px_sum, position-weighted px_cks) triple
    per tile."""
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles, warp_to_webmerc

    grid = LatLonGrid(**_WARP_GRID)
    tiles = lcg_tiles(spark, grid, partitions=8)
    out = warp_to_webmerc(spark, tiles, grid, _WARP_ZOOM, _WARP_OPX)
    return out.select("z", "tx", "ty", "n_valid", "px_sum", "px_cks")


def _warp_oracle() -> str:
    from proj_spark.operators.warp import LatLonGrid, warp_oracle_sql

    return warp_oracle_sql(LatLonGrid(**_WARP_GRID), _WARP_ZOOM, _WARP_OPX)


def q_warp_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear raster warp (operators/warp.warp_bilinear_tiles): the
    smooth-resample sibling of warp_webmerc — continuous inverse map,
    2x2 support with separable weights, full-support validity, values
    quantized floor(v*16).  Same broadcast-candidate / bounded-fan
    plan with the candidate bbox widened one source pixel so supports
    straddling a source-tile edge stay in-group.  Oracle: DuckDB
    replays the identical clamped-fetch + bilinear double tree per
    pixel."""
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles, warp_bilinear_tiles

    grid = LatLonGrid(**_WARP_GRID)
    tiles = lcg_tiles(spark, grid, partitions=8)
    return warp_bilinear_tiles(spark, tiles, grid, _WARP_ZOOM, _WARP_OPX)


def _warp_bilinear_oracle() -> str:
    from proj_spark.operators.warp import LatLonGrid, warp_bilinear_oracle_sql

    return warp_bilinear_oracle_sql(LatLonGrid(**_WARP_GRID), _WARP_ZOOM, _WARP_OPX)


def q_knn_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN via HEX k-ring expansion (operators/knn.knn_join_hex — the
    north rule's 'kNN via H3 k-ring expansion with haversine
    refinement' path): narrow candidate side, broadcast exploded
    rings, coverage-checked ring escalation + brute-force residue make
    the INDEXED path exact, so the oracle is plain brute-force SQL."""
    from proj_spark.operators.knn import knn_join_hex

    q = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("qk"),
        E.synth_lon((F.col("n_nationkey") * 104729 + 57).cast("double")).alias("qlon"),
        E.synth_lat((F.col("n_nationkey") * 104729 + 57).cast("double")).alias("qlat"),
    )
    cust = _points(spark, sf_dir, "customer", "c_custkey")
    out = knn_join_hex(
        q, cust, k=5, size_deg=1.5, ring=1, max_ring=3,
        q_id="qk", q_lon="qlon", q_lat="qlat",
        c_id="pk", c_lon="lon", c_lat="lat",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.floor(F.col("dist_m") * 10.0).cast("long").alias("dist_dm"),
    )


def _knn_hex_oracle() -> str:
    hav = _HAVERSINE_SQL.format(
        lat1="q.qlat", lon1="q.qlon", lat2="c.lat", lon2="c.lon", D=D
    )
    qk = "CAST(n_nationkey * 104729 + 57 AS DOUBLE)"
    return f"""
WITH q AS (
  SELECT n_nationkey AS qk, {_lon_sql(qk)} AS qlon, {_lat_sql(qk)} AS qlat FROM nation
),
c AS ({_CUSTOMER_PTS_SQL}),
pairs AS (
  SELECT q.qk AS query_id, c.pk AS neighbor_id, {hav} AS dist_m
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, neighbor_id, dist_m,
         row_number() OVER (PARTITION BY query_id ORDER BY dist_m ASC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(dist_m * 10.0) AS BIGINT) AS dist_dm
FROM ranked WHERE rank <= 5
"""


def q_hex_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal cell-index rollup (functions/hexgrid.py — the
    H3-analog axial hex grid, pure codegen cube-rounding with
    floor(x+0.5) ties so DuckDB reproduces every cell id bit-for-bit)
    at circumradius 1.0 deg over customer points."""
    from proj_spark.functions import hexgrid as H

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    return (
        pts.withColumn("cell", H.hex_cell("lon", "lat", 1.0))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
    )


def _hex_rollup_oracle() -> str:
    from proj_spark.functions.hexgrid import hex_cell_sql

    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL})
SELECT {hex_cell_sql("lon", "lat", 1.0)} AS cell,
       count(*) AS n, min(pk) AS min_pk, max(pk) AS max_pk
FROM pts GROUP BY 1
"""


def q_ea_hex_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUAL-AREA hex cell rollup (functions/eagrid.ea_hex_cell — the
    hexgrid cube-rounding on the cylindrical equal-area plane
    x=lon, y=sin(lat)*180/pi, ref src/PJ_cea.c sphere forward): every
    cell covers the same sphere area, so global density rollups stop
    over-resolving high latitudes.  Pure closed-form expressions in
    both engines — DuckDB reproduces every cell id bit-for-bit."""
    from proj_spark.functions import eagrid as EA

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    return (
        pts.withColumn("cell", EA.ea_hex_cell("lon", "lat", 1.0))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
    )


def _ea_hex_rollup_oracle() -> str:
    from proj_spark.functions.eagrid import ea_hex_cell_sql

    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL})
SELECT {ea_hex_cell_sql("lon", "lat", 1.0)} AS cell,
       count(*) AS n, min(pk) AS min_pk, max(pk) AS max_pk
FROM pts GROUP BY 1
"""


# knn_isea fixture: a WIDE window reaching 75N so the equal-area claim
# is exercised where the equirect grid degrades; spans chosen so the
# oracle replays the identical synth expressions
_ISEA_LON = (-170.0, 120.0)  # lo, span
_ISEA_LAT = (25.0, 50.0)


def q_knn_isea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN via EQUAL-AREA (ISEA-plane) hex k-ring expansion
    (operators/knn.knn_join_isea over functions/eagrid.py — the
    H3-grade upgrade: cells on the Icosahedral Snyder Equal Area
    plane, ref src/PJ_isea.c, bounded distortion at every latitude).
    Coverage-checked escalation + face-edge seam guard + brute-force
    residue make the indexed path exact, so the oracle is plain
    brute-force SQL."""
    from proj_spark.operators.knn import knn_join_isea

    lon_lo, lon_span = _ISEA_LON
    lat_lo, lat_span = _ISEA_LAT
    q = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("qk"),
        E.synth_lon(
            (F.col("n_nationkey") * 60013 + 11).cast("double"), lon_lo, lon_span
        ).alias("qlon"),
        E.synth_lat(
            (F.col("n_nationkey") * 60013 + 11).cast("double"), lat_lo, lat_span
        ).alias("qlat"),
    )
    cust = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk"),
        E.synth_lon(F.col("c_custkey").cast("double"), lon_lo, lon_span).alias("lon"),
        E.synth_lat(F.col("c_custkey").cast("double"), lat_lo, lat_span).alias("lat"),
    )
    out = knn_join_isea(
        q, cust, k=5, size_m=300_000.0, ring=1, max_ring=3,
        q_id="qk", q_lon="qlon", q_lat="qlat",
        c_id="pk", c_lon="lon", c_lat="lat",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.floor(F.col("dist_m") * 10.0).cast("long").alias("dist_dm"),
    )


def _knn_isea_oracle() -> str:
    lon_lo, lon_span = _ISEA_LON
    lat_lo, lat_span = _ISEA_LAT

    def lon_sql(k: str) -> str:
        return f"({lon_lo!r} + {lon_span!r} * (({k} * {PHI}) - floor({k} * {PHI})))"

    def lat_sql(k: str) -> str:
        return f"({lat_lo!r} + {lat_span!r} * (({k} * {SQ3}) - floor({k} * {SQ3})))"

    hav = _HAVERSINE_SQL.format(
        lat1="q.qlat", lon1="q.qlon", lat2="c.lat", lon2="c.lon", D=D
    )
    qk = "CAST(n_nationkey * 60013 + 11 AS DOUBLE)"
    ck = "CAST(c_custkey AS DOUBLE)"
    return f"""
WITH q AS (
  SELECT n_nationkey AS qk, {lon_sql(qk)} AS qlon, {lat_sql(qk)} AS qlat FROM nation
),
c AS (
  SELECT c_custkey AS pk, {lon_sql(ck)} AS lon, {lat_sql(ck)} AS lat FROM customer
),
pairs AS (
  SELECT q.qk AS query_id, c.pk AS neighbor_id, {hav} AS dist_m
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, neighbor_id, dist_m,
         row_number() OVER (PARTITION BY query_id ORDER BY dist_m ASC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(dist_m * 10.0) AS BIGINT) AS dist_dm
FROM ranked WHERE rank <= 5
"""


# range_join_isea fixture: a POLAR window (55..78N) where the
# equirect grid's 1/cos(lat) ring sizing degrades; the ISEA ring
# bound is latitude-independent
_RJI_LON = (-180.0, 356.0)
_RJI_LAT = (55.0, 23.0)


def q_range_join_isea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLAR distance-range join (within 250 km) through the
    EQUAL-AREA hex grid (operators/knn.within_distance_join_isea over
    functions/eagrid.py): latitude-independent ring bound, face-edge
    seam queries through a broadcast banded residue, big candidate
    side never shuffles.  Exact by construction, so the oracle is the
    brute-force distance filter."""
    from proj_spark.operators.knn import within_distance_join_isea

    lon_lo, lon_span = _RJI_LON
    lat_lo, lat_span = _RJI_LAT
    nations = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("qk"),
        E.synth_lon((F.col("n_nationkey") * 30011 + 3).cast("double"), lon_lo, lon_span).alias("qlon"),
        E.synth_lat((F.col("n_nationkey") * 30011 + 3).cast("double"), lat_lo, lat_span).alias("qlat"),
    )
    cust = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk"),
        E.synth_lon(F.col("c_custkey").cast("double"), lon_lo, lon_span).alias("lon"),
        E.synth_lat(F.col("c_custkey").cast("double"), lat_lo, lat_span).alias("lat"),
    )
    out = within_distance_join_isea(
        nations, cust, 250_000.0,
        q_id="qk", q_lon="qlon", q_lat="qlat",
        c_id="pk", c_lon="lon", c_lat="lat",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("dist_m") * 10.0).cast("long").alias("dist_dm"),
    )


def _range_join_isea_oracle() -> str:
    lon_lo, lon_span = _RJI_LON
    lat_lo, lat_span = _RJI_LAT

    def lon_sql(k: str) -> str:
        return f"({lon_lo!r} + {lon_span!r} * (({k} * {PHI}) - floor({k} * {PHI})))"

    def lat_sql(k: str) -> str:
        return f"({lat_lo!r} + {lat_span!r} * (({k} * {SQ3}) - floor({k} * {SQ3})))"

    hav = _HAVERSINE_SQL.format(
        lat1="q.qlat", lon1="q.qlon", lat2="c.lat", lon2="c.lon", D=D
    )
    qk = "CAST(n_nationkey * 30011 + 3 AS DOUBLE)"
    ck = "CAST(c_custkey AS DOUBLE)"
    return f"""
WITH q AS (
  SELECT n_nationkey AS qk, {lon_sql(qk)} AS qlon, {lat_sql(qk)} AS qlat FROM nation
),
c AS (
  SELECT c_custkey AS pk, {lon_sql(ck)} AS lon, {lat_sql(ck)} AS lat FROM customer
),
pairs AS (
  SELECT q.qk AS query_id, c.pk AS neighbor_id, {hav} AS dist_m
  FROM c CROSS JOIN q
)
SELECT query_id, neighbor_id,
       CAST(floor(dist_m * 10.0) AS BIGINT) AS dist_dm
FROM pairs WHERE dist_m <= 250000.0
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-range join (within 200 km, haversine) through the
    cell-pruned scale path (operators/knn.py within_distance_join:
    guaranteed-cover k-ring + broadcast, big side never shuffles) vs
    the all-pairs SQL filter oracle."""
    from proj_spark.operators.knn import within_distance_join

    nations = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("qk"),
        E.synth_lon((F.col("n_nationkey") * 7919 + 13).cast("double")).alias("qlon"),
        E.synth_lat((F.col("n_nationkey") * 7919 + 13).cast("double")).alias("qlat"),
    )
    cust = _points(spark, sf_dir, "customer", "c_custkey")
    out = within_distance_join(
        nations, cust, 200_000.0, res=6,
        q_id="qk", q_lon="qlon", q_lat="qlat",
        c_id="pk", c_lon="lon", c_lat="lat",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("dist_m") * 10.0).cast("long").alias("dist_dm"),
    )


def _range_join_oracle() -> str:
    hav = _HAVERSINE_SQL.format(
        lat1="q.qlat", lon1="q.qlon", lat2="c.lat", lon2="c.lon", D=D
    )
    qk = "CAST(n_nationkey * 7919 + 13 AS DOUBLE)"
    return f"""
WITH q AS (
  SELECT n_nationkey AS qk, {_lon_sql(qk)} AS qlon, {_lat_sql(qk)} AS qlat FROM nation
),
c AS ({_CUSTOMER_PTS_SQL}),
pairs AS (
  SELECT q.qk AS query_id, c.pk AS neighbor_id, {hav} AS dist_m
  FROM c CROSS JOIN q
)
SELECT query_id, neighbor_id,
       CAST(floor(dist_m * 10.0) AS BIGINT) AS dist_dm
FROM pairs WHERE dist_m <= 200000.0
"""


def _knn_oracle() -> str:
    hav = _HAVERSINE_SQL.format(
        lat1="q.qlat", lon1="q.qlon", lat2="c.lat", lon2="c.lon", D=D
    )
    qk = "CAST(n_nationkey * 7919 + 13 AS DOUBLE)"
    return f"""
WITH q AS (
  SELECT n_nationkey AS qk, {_lon_sql(qk)} AS qlon, {_lat_sql(qk)} AS qlat FROM nation
),
c AS ({_CUSTOMER_PTS_SQL}),
pairs AS (
  SELECT q.qk AS query_id, c.pk AS neighbor_id, {hav} AS dist_m
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, neighbor_id, dist_m,
         row_number() OVER (PARTITION BY query_id ORDER BY dist_m ASC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(dist_m * 10.0) AS BIGINT) AS dist_dm
FROM ranked WHERE rank <= 5
"""


# =================================================== point-in-polygon join
def _fixture_polygons():
    """Deterministic jittered n-gons (FIXTURES.md §2), pure python so
    the SAME literals are inlined into the Spark fixture and the SQL
    oracle."""
    import math
    import random

    rng = random.Random(20240416)
    polys = []
    for i in range(12):
        cx = rng.uniform(-120.0, -72.0)
        cy = rng.uniform(27.0, 46.0)
        nv = rng.randint(4, 9)
        rad = rng.uniform(1.0, 4.0)
        ring = []
        for j in range(nv):
            ang = 2.0 * math.pi * j / nv
            rr = rad * (0.7 + 0.3 * rng.random())
            ring.append((round(cx + rr * math.cos(ang), 6), round(cy + rr * math.sin(ang), 6)))
        ring.append(ring[0])
        polys.append((f"poly{i:03d}", ring))
    return polys


def q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join: customer points vs fixture polygons,
    cell-bucketed candidate join + native ray cast, first-match-wins
    (ref grid-list semantics src/pj_apply_gridshift.c:143)."""
    from proj_spark.operators.spatial_join import point_in_polygon_join

    polys = _fixture_polygons()
    rows = [
        {"poly_id": pid, "ring": [{"lon": x, "lat": y} for x, y in ring], "poly_seq": i}
        for i, (pid, ring) in enumerate(polys)
    ]
    pdf = spark.createDataFrame(rows)
    pts = _points(spark, sf_dir, "customer", "c_custkey")
    out = point_in_polygon_join(pts, pdf, res=6, point_id="pk", how="first_match")
    return out.select(F.col("pk").alias("point_id"), "poly_id")


def q_boundary_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-boundary distance join (operators/boundary.py):
    millimeter-floored distance from every customer point to the
    closest fixture-polygon EDGE, ties broken by polygon/edge input
    order.  Inline path: the whole edge set is one constant array and
    the operator is a zero-exchange codegen expression (plan-gated in
    tests/test_boundary.py).  Oracle: the identical segment-distance
    tokens over an edges VALUES table, row_number tie-break."""
    from proj_spark.operators.boundary import boundary_distance_join

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    return boundary_distance_join(pts, _fixture_polygons()).select(
        "pk", "nearest_poly", "dist_mm"
    )


def _boundary_distance_oracle() -> str:
    from proj_spark.operators.boundary import _dist_mm_sql, _edge_rows

    edge_vals = ",".join(
        f"({s}, {i}, '{p}', {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for s, i, p, x1, y1, x2, y2 in _edge_rows(_fixture_polygons())
    )
    dm = _dist_mm_sql("lon", "lat", "x1", "y1", "x2", "y2")
    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL}),
edges(s, i, p, x1, y1, x2, y2) AS (VALUES {edge_vals}),
cand AS (
  SELECT pk, p, s, i, {dm} AS dm
  FROM pts CROSS JOIN edges
),
r AS (
  SELECT pk, p, dm,
         row_number() OVER (PARTITION BY pk ORDER BY dm, s, i) AS rn
  FROM cand
)
SELECT pk, p AS nearest_poly, dm AS dist_mm FROM r WHERE rn = 1
"""


# Douglas-Peucker lane: densify the fixture rings with LCG jitter so
# simplification has real work, then simplify at _SIMP_TOL_M meters
_SIMP_M, _SIMP_AMP, _SIMP_TOL_M = 6, 0.02, 1200.0


def _dense_polys():
    """Fixture rings with every edge densified into _SIMP_M sub-points
    carrying deterministic LCG jitter — pure literals, shared verbatim
    by the Spark query and the SQL oracle's VALUES table."""
    out = []
    for seq, (pid, ring) in enumerate(_fixture_polygons()):
        pts = []
        for ei, ((ax, ay), (bx, by)) in enumerate(zip(ring[:-1], ring[1:])):
            pts.append((ax, ay))
            for t in range(1, _SIMP_M):
                f = t / _SIMP_M
                h1 = ((seq * 1000 + ei * _SIMP_M + t) * 2654435761) % (1 << 32)
                h2 = ((seq * 1000 + ei * _SIMP_M + t) * 2246822519) % (1 << 32)
                pts.append(
                    (
                        ax + f * (bx - ax) + (h1 / float(1 << 32) - 0.5) * 2.0 * _SIMP_AMP,
                        ay + f * (by - ay) + (h2 / float(1 << 32) - 0.5) * 2.0 * _SIMP_AMP,
                    )
                )
        pts.append(ring[-1])
        out.append((pid, pts))
    return out


def q_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Douglas-Peucker (operators/simplify.py): narrow
    mapInPandas over one-ring-per-row geometries; deterministic
    anchors / tie-breaks / strict tolerance make the kept-vertex set a
    pure function of the input.  Oracle: the SAME split recursion
    unrolled into per-round SQL CTEs (max-distance split with
    lowest-index ties) over the identical VALUES vertex table; the
    round CTEs are MATERIALIZED — inlined, DuckDB re-evaluates each
    round's whole ancestor chain (~4^rounds paths) and never returns."""
    from proj_spark.operators.simplify import simplify_rings

    rows = [
        {"poly_id": pid, "ring": [{"lon": x, "lat": y} for x, y in ring]}
        for pid, ring in _dense_polys()
    ]
    df = spark.createDataFrame(
        rows, "poly_id string, ring array<struct<lon:double,lat:double>>"
    )
    out = simplify_rings(df, _SIMP_TOL_M)
    cks = F.expr(
        "aggregate(ring, 0L, (acc, p) -> acc + CAST(floor(p.lon * 1e7) AS BIGINT)"
        " + CAST(floor(p.lat * 1e7) AS BIGINT))"
    )
    return out.select(
        "poly_id",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_out").cast("long").alias("n_out"),
        cks.alias("cks"),
    )


def _dp_dist_sql(px, py, ax, ay, bx, by) -> str:
    """Token-for-token SQL mirror of operators/simplify._seg_dist."""
    dx, dy = f"({bx} - {ax})", f"({by} - {ay})"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    t = (
        f"least(greatest(CASE WHEN {len2} = 0.0 THEN 0.0 ELSE "
        f"(({px} - {ax}) * {dx} + ({py} - {ay}) * {dy}) / {len2} END, 0.0), 1.0)"
    )
    qx, qy = f"({ax} + {t} * {dx})", f"({ay} + {t} * {dy})"
    return f"sqrt(({px} - {qx}) * ({px} - {qx}) + ({py} - {qy}) * ({py} - {qy}))"


def _simplify_oracle() -> str:
    import numpy as np

    from proj_spark.operators.simplify import M_PER_DEG, _seg_dist

    tol = _SIMP_TOL_M / M_PER_DEG
    vert_rows = []
    rounds_needed = 0
    for pid, pts in _dense_polys():
        n = len(pts) - 1
        lat0 = sum(p[1] for p in pts[:-1]) / n
        cl = math.cos(lat0 * DEG_TO_RAD)
        xs = np.array([p[0] for p in pts], dtype=np.float64) * cl
        ys = np.array([p[1] for p in pts], dtype=np.float64)
        for idx, (lon, lat) in enumerate(pts):
            vert_rows.append(f"('{pid}', {idx}, {xs[idx]!r}, {ys[idx]!r}, {lon!r}, {lat!r})")
        # python replay of the SQL's per-round BFS to size the unroll
        d0 = np.sqrt((xs[:n] - xs[0]) ** 2 + (ys[:n] - ys[0]) ** 2)
        a = int(np.argmax(d0))
        # simplify_ring has two degenerate fallbacks the SQL does NOT
        # mirror (all-coincident vertices -> a == 0; fewer than 4 kept
        # vertices -> return the original ring).  Assert the fixture
        # avoids both so the engines cannot diverge (round-4 review).
        if a == 0:
            raise AssertionError(f"simplify fixture {pid}: coincident ring")
        kept = {0, a, n}
        segs = {(0, a), (a, n)}
        r = 0
        while True:
            splits = set()
            for i, j in segs:
                if j - i < 2:
                    continue
                d = _seg_dist(xs[i + 1: j], ys[i + 1: j], xs[i], ys[i], xs[j], ys[j])
                kk = int(np.argmax(d))
                if d[kk] > tol:
                    splits.add((i, j, i + 1 + kk))
            if not splits:
                break
            kept |= {k for _, _, k in splits}
            segs = {(i, k) for i, j, k in splits} | {(k, j) for i, j, k in splits}
            r += 1
        if len(kept) < 4:
            raise AssertionError(
                f"simplify fixture {pid}: ring simplifies below a triangle "
                f"({len(kept)} kept) — simplify_ring would return the "
                "original while the SQL oracle keeps the simplified set"
            )
        rounds_needed = max(rounds_needed, r)
    R = rounds_needed
    if R > 32:
        raise AssertionError(f"DP unroll depth {R} exceeds the sane bound")

    dist = _dp_dist_sql("v.x", "v.y", "vi.x", "vi.y", "vj.x", "vj.y")
    parts = [
        "SELECT poly, i AS idx FROM segs0",
        "SELECT poly, j AS idx FROM segs0",
    ]
    rounds_sql = []
    prev = "segs0"
    for r in range(1, R + 1):
        rounds_sql.append(f""",
cand{r} AS MATERIALIZED (
  SELECT s.poly, s.i, s.j, v.idx, {dist} AS d
  FROM {prev} s
  JOIN verts vi ON vi.poly = s.poly AND vi.idx = s.i
  JOIN verts vj ON vj.poly = s.poly AND vj.idx = s.j
  JOIN verts v  ON v.poly  = s.poly AND v.idx > s.i AND v.idx < s.j
),
far{r} AS MATERIALIZED (SELECT poly, i, j, max(d) AS md FROM cand{r} GROUP BY 1, 2, 3),
split{r} AS MATERIALIZED (
  SELECT c.poly, c.i, c.j, min(c.idx) AS k
  FROM cand{r} c JOIN far{r} f
    ON c.poly = f.poly AND c.i = f.i AND c.j = f.j AND c.d = f.md
  WHERE f.md > {tol!r} GROUP BY 1, 2, 3
),
segs{r} AS MATERIALIZED (
  SELECT poly, i, k AS j FROM split{r}
  UNION ALL SELECT poly, k AS i, j FROM split{r}
)""")
        parts.append(f"SELECT poly, k AS idx FROM split{r}")
        prev = f"segs{r}"
    return f"""
WITH verts(poly, idx, x, y, lon, lat) AS (VALUES {",".join(vert_rows)}),
nv AS (SELECT poly, max(idx) AS n FROM verts GROUP BY poly),
d0 AS MATERIALIZED (
  SELECT v.poly, v.idx,
         sqrt((v.x - o.x) * (v.x - o.x) + (v.y - o.y) * (v.y - o.y)) AS d
  FROM verts v
  JOIN verts o ON o.poly = v.poly AND o.idx = 0
  JOIN nv ON nv.poly = v.poly
  WHERE v.idx < nv.n
),
anc AS (
  SELECT d0.poly, min(d0.idx) AS a
  FROM d0 JOIN (SELECT poly, max(d) AS md FROM d0 GROUP BY poly) mx
    ON mx.poly = d0.poly AND d0.d = mx.md
  GROUP BY d0.poly
),
segs0(poly, i, j) AS MATERIALIZED (
  SELECT anc.poly, 0, a FROM anc
  UNION ALL SELECT anc.poly, a, nv.n FROM anc JOIN nv ON nv.poly = anc.poly
){"".join(rounds_sql)},
kept AS (SELECT DISTINCT poly, idx FROM ({" UNION ALL ".join(parts)})),
nin AS (SELECT poly, CAST(count(*) AS BIGINT) AS n_in FROM verts GROUP BY poly)
SELECT k.poly AS poly_id,
       nin.n_in,
       CAST(count(*) AS BIGINT) AS n_out,
       CAST(sum(CAST(floor(v.lon * 1e7) AS BIGINT)
              + CAST(floor(v.lat * 1e7) AS BIGINT)) AS BIGINT) AS cks
FROM kept k
JOIN verts v ON v.poly = k.poly AND v.idx = k.idx
JOIN nin ON nin.poly = k.poly
GROUP BY k.poly, nin.n_in
"""


def q_fused_pip_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused reproject+PIP+tile rollup kernel (operators/fused.py):
    one mapInPandas pass computes the transform, the first-match
    ray-cast polygon assignment (ref grid-list semantics
    src/pj_apply_gridshift.c:143) and the z9 tile indices, and
    partial-aggregates to packed (tile, poly) keys in-worker; the
    only exchange carries |distinct keys| longs.  Identity CRS here
    so the DuckDB oracle can replicate the math in ANSI SQL; the
    datum-shift lane of the same kernel is covered bit-exactly by
    tests/test_fused.py against the composed operators."""
    from proj_spark.operators.fused import reproject_pip_tile_rollup

    pts = _points(spark, sf_dir, "orders", "o_orderkey")
    out = reproject_pip_tile_rollup(
        pts,
        "+proj=latlong +datum=WGS84",
        "+proj=latlong +datum=WGS84",
        _fixture_polygons(),
        zoom=9,
    )
    return out.select("tile_x", "tile_y", "poly_seq", "n")


def _fused_pip_tiles_oracle(z: int = 9) -> str:
    polys = _fixture_polygons()
    edge_rows = []
    for seq, (_pid, ring) in enumerate(polys):
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            edge_rows.append(f"({seq}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    edges = ",\n    ".join(edge_rows)
    n = 1 << z
    return f"""
WITH edges(poly_seq, x1, y1, x2, y2) AS (
  VALUES {edges}
),
pts AS ({_ORDERS_PTS_SQL}),
crossings AS (
  SELECT p.pk, e.poly_seq, count(*) AS nc
  FROM pts p JOIN edges e
    ON ((e.y1 > p.lat) != (e.y2 > p.lat))
   AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
  GROUP BY 1, 2
),
firsts AS (
  SELECT pk, CAST(min(poly_seq) AS BIGINT) AS poly_seq
  FROM crossings WHERE nc % 2 = 1 GROUP BY pk
),
assigned AS (
  SELECT p.lon, p.lat, f.poly_seq FROM pts p LEFT JOIN firsts f USING (pk)
)
SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}.0), 0), {n} - 1) AS BIGINT) AS tile_x,
       CAST(least(greatest(floor((1.0 - ln(tan(lat * {D}) + sqrt(tan(lat * {D}) * tan(lat * {D}) + 1.0)) / {PI_L}) / 2.0 * {n}.0), 0), {n} - 1) AS BIGINT) AS tile_y,
       poly_seq,
       count(*) AS n
FROM assigned
GROUP BY 1, 2, 3
"""


def q_fused_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row fused assignment (operators/fused.py rows mode): one
    mapInPandas pass yields (point, z9 tile, first-match polygon) for
    every input row — the user-facing spatial-join + tile-assignment
    output shape of the north rule."""
    from proj_spark.operators.fused import reproject_pip_tile_rows

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    out = reproject_pip_tile_rows(
        pts,
        "+proj=latlong +datum=WGS84",
        "+proj=latlong +datum=WGS84",
        _fixture_polygons(),
        zoom=9,
        id_col="pk",
    )
    return out.select(
        F.col("pk").alias("point_id"), "tile_x", "tile_y", "poly_seq"
    )


def _fused_assign_oracle(z: int = 9) -> str:
    polys = _fixture_polygons()
    edge_rows = []
    for seq, (_pid, ring) in enumerate(polys):
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            edge_rows.append(f"({seq}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    edges = ",\n    ".join(edge_rows)
    n = 1 << z
    return f"""
WITH edges(poly_seq, x1, y1, x2, y2) AS (
  VALUES {edges}
),
pts AS ({_CUSTOMER_PTS_SQL}),
crossings AS (
  SELECT p.pk, e.poly_seq, count(*) AS nc
  FROM pts p JOIN edges e
    ON ((e.y1 > p.lat) != (e.y2 > p.lat))
   AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
  GROUP BY 1, 2
),
firsts AS (
  SELECT pk, CAST(min(poly_seq) AS BIGINT) AS poly_seq
  FROM crossings WHERE nc % 2 = 1 GROUP BY pk
)
SELECT p.pk AS point_id,
       CAST(least(greatest(floor((p.lon + 180.0) / 360.0 * {n}.0), 0), {n} - 1) AS BIGINT) AS tile_x,
       CAST(least(greatest(floor((1.0 - ln(tan(p.lat * {D}) + sqrt(tan(p.lat * {D}) * tan(p.lat * {D}) + 1.0)) / {PI_L}) / 2.0 * {n}.0), 0), {n} - 1) AS BIGINT) AS tile_y,
       f.poly_seq
FROM pts p LEFT JOIN firsts f USING (pk)
"""


def _pip_oracle() -> str:
    polys = _fixture_polygons()
    edge_rows = []
    for seq, (pid, ring) in enumerate(polys):
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            edge_rows.append(f"({seq}, '{pid}', {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    edges = ",\n    ".join(edge_rows)
    return f"""
WITH edges(poly_seq, poly_id, x1, y1, x2, y2) AS (
  VALUES {edges}
),
pts AS ({_CUSTOMER_PTS_SQL}),
crossings AS (
  SELECT p.pk, e.poly_seq, e.poly_id, count(*) AS nc
  FROM pts p JOIN edges e
    ON ((e.y1 > p.lat) != (e.y2 > p.lat))
   AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
  GROUP BY 1, 2, 3
),
inside AS (
  SELECT pk, poly_seq, poly_id FROM crossings WHERE nc % 2 = 1
),
firsts AS (
  SELECT pk, poly_id, row_number() OVER (PARTITION BY pk ORDER BY poly_seq ASC) AS rn
  FROM inside
)
SELECT pk AS point_id, poly_id FROM firsts WHERE rn = 1
"""


# ========================================================== text pipeline
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from proj_spark.operators.dedup import exact_dedup

    docs = _load(spark, sf_dir, "documents")
    return exact_dedup(docs, text="text", id_col="doc_id")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from proj_spark.operators.text import token_stats

    docs = _load(spark, sf_dir, "documents")
    out = token_stats(docs, text="text", id_col="doc_id")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpeish").cast("long").alias("n_bpeish"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.floor(F.col("mean_tok_len") * 1000.0).cast("long").alias("mean_tok_len_milli"),
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics (length band, stopword ratio,
    punctuation ratio, repetition) + the composite keep score —
    operators/text.py quality_score, milli-quantized for the oracle
    hash (both engines compute the identical IEEE expression tree)."""
    from proj_spark.operators.text import quality_score

    docs = _load(spark, sf_dir, "documents")
    out = quality_score(docs, text="text", id_col="doc_id")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.col("stop_ratio") * 1000.0).cast("long").alias("stop_milli"),
        F.floor(F.col("punct_ratio") * 1000.0).cast("long").alias("punct_milli"),
        F.floor(F.col("rep_ratio") * 1000.0).cast("long").alias("rep_milli"),
        F.floor(F.col("quality") * 1000.0).cast("long").alias("quality_milli"),
    )


def _quality_oracle() -> str:
    from proj_spark.operators.text import LANG_STOPWORDS

    sw = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
r AS (
  SELECT doc_id,
    len(toks) AS n_tok,
    CAST(len(list_filter(toks, x -> list_contains([{sw}], x))) AS DOUBLE) / len(toks) AS stop_ratio,
    CAST(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) AS punct_ratio,
    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS rep_ratio
  FROM t
)
SELECT doc_id,
  CAST(n_tok AS BIGINT) AS n_tokens,
  CAST(floor(stop_ratio * 1000.0) AS BIGINT) AS stop_milli,
  CAST(floor(punct_ratio * 1000.0) AS BIGINT) AS punct_milli,
  CAST(floor(rep_ratio * 1000.0) AS BIGINT) AS rep_milli,
  CAST(floor((0.35 * least(n_tok / 64.0, 1.0)
            + 0.25 * least(stop_ratio * 4.0, 1.0)
            + 0.25 * rep_ratio
            + 0.15 * (1.0 - least(punct_ratio * 5.0, 1.0))) * 1000.0) AS BIGINT) AS quality_milli
FROM r"""


_TOKENS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"
_TOKENS_RAW_SQL = "string_split_regex(trim(text), '\\s+')"


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from proj_spark.operators.text import language_id

    docs = _load(spark, sf_dir, "documents")
    out = language_id(docs, text="text", id_col="doc_id").join(
        docs.select("doc_id", "lang"), on="doc_id"
    )
    return (
        out.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _langid_oracle() -> str:
    from proj_spark.operators.text import LANG_STOPWORDS

    score_exprs = []
    for lg in sorted(LANG_STOPWORDS):
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lg])
        score_exprs.append(
            f"CAST(len(list_filter(toks, t -> list_contains([{words}], t))) AS DOUBLE) / len(toks) AS score_{lg}"
        )
    scores = ",\n         ".join(score_exprs)
    langs = sorted(LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    pred = "'unknown'"
    for lg in sorted(langs, reverse=True):
        pred = f"CASE WHEN score_{lg} = best THEN '{lg}' ELSE {pred} END"
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
s AS (
  SELECT doc_id, lang,
         {scores}
  FROM t
),
b AS (SELECT doc_id, lang, {best} AS best, * EXCLUDE (doc_id, lang) FROM s),
p AS (
  SELECT doc_id, lang,
         CASE WHEN best <= 0.0 THEN 'unknown' ELSE {pred} END AS pred_lang
  FROM b
)
SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from proj_spark.operators.text import fingerprint

    docs = _load(spark, sf_dir, "documents")
    return fingerprint(docs, text="text", id_col="doc_id")


def _fingerprint_oracle() -> str:
    # mirror of operators.text.fingerprint: exact int64 arithmetic
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
c AS (
  SELECT doc_id,
         list_transform(toks, tok -> CAST(length(tok) * 31 + ascii(tok) AS BIGINT)) AS vals
  FROM t
),
w AS (
  SELECT doc_id,
         list_transform(range(len(vals)), i -> ((i * 131) % 997 + 1) * vals[i + 1]) AS contribs
  FROM c
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), contribs),
                   (acc, x) -> (acc + x) % 2147483647) AS fingerprint
FROM w
"""


# ============================================================ minhash LSH
def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic minhash signatures (dictionary token ids +
    modular hash family — bit-identical in ANSI SQL)."""
    from proj_spark.operators.dedup import minhash_signatures, tokenize

    docs = tokenize(_load(spark, sf_dir, "documents"))
    return minhash_signatures(docs, id_col="doc_id", deterministic=True)


_MINHASH_DICT_SQL = """
tok AS (
  SELECT DISTINCT doc_id, t.tok AS token
  FROM documents, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
  WHERE t.tok != ''
),
dic AS (
  SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
  FROM (SELECT DISTINCT token FROM tok)
),
dt AS (
  SELECT tok.doc_id, dic.tid FROM tok JOIN dic USING (token)
)
"""


def _minhash_oracle() -> str:
    from proj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    aggs = ",\n       ".join(
        f"min(({MINHASH_A[i]} * tid + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
        for i in range(8)
    )
    return f"WITH {_MINHASH_DICT_SQL}\nSELECT doc_id, {aggs} FROM dt GROUP BY doc_id"


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs from the deterministic signatures.
    Band key = the raw (mh_i, mh_j) pair (no engine hash function so
    the oracle can reproduce it)."""
    from proj_spark.operators.dedup import minhash_signatures, tokenize

    docs = tokenize(_load(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, id_col="doc_id", deterministic=True)
    pairs = None
    for b in range(4):
        ca, cb = f"mh{2 * b}", f"mh{2 * b + 1}"
        s = sigs.select(F.col("doc_id").alias("id"), F.col(ca).alias("b0"), F.col(cb).alias("b1"))
        lhs = s.select(F.col("id").alias("id_a"), "b0", "b1")
        rhs = s.select(F.col("id").alias("id_b"), "b0", "b1")
        p = lhs.join(rhs, on=["b0", "b1"]).where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


def _lsh_pairs_oracle() -> str:
    from proj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    aggs = ",\n       ".join(
        f"min(({MINHASH_A[i]} * tid + {MINHASH_B[i]}) % {MINHASH_P}) AS mh{i}"
        for i in range(8)
    )
    bands = "\nUNION\n".join(
        f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sigs a JOIN sigs b "
        f"ON a.mh{2 * b} = b.mh{2 * b} AND a.mh{2 * b + 1} = b.mh{2 * b + 1} "
        f"AND a.doc_id < b.doc_id"
        for b in range(4)
    )
    return (
        f"WITH {_MINHASH_DICT_SQL},\n"
        f"sigs AS (SELECT doc_id, {aggs} FROM dt GROUP BY doc_id)\n{bands}"
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from proj_spark.operators.dedup import simhash, tokenize

    docs = tokenize(_load(spark, sf_dir, "documents"))
    return simhash(docs, id_col="doc_id", bits=16, deterministic=True)


def _simhash_oracle() -> str:
    from proj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    votes = ",\n       ".join(
        f"sum((((tid * {MINHASH_A[j % 8]} + {MINHASH_B[j % 8]} + {j}) % {MINHASH_P}) % 2) * 2 - 1) AS s{j}"
        for j in range(16)
    )
    sig = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return (
        f"WITH {_MINHASH_DICT_SQL},\n"
        f"v AS (SELECT doc_id, {votes} FROM dt GROUP BY doc_id)\n"
        f"SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup PAIRS (hamming <= 2 over 16-bit
    deterministic signatures).  The Spark side is the scale operator —
    pigeonhole buckets over max_hamming+1 disjoint bit bands, which
    guarantees recall — so at oracle scale its output is EXACTLY the
    all-pairs bit_count filter the DuckDB oracle runs."""
    from proj_spark.operators.dedup import simhash, simhash_near_pairs, tokenize

    docs = tokenize(_load(spark, sf_dir, "documents"))
    sigs = simhash(docs, id_col="doc_id", bits=16, deterministic=True)
    pairs = simhash_near_pairs(sigs, id_col="doc_id", max_hamming=2, bits=16)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _simhash_pairs_oracle() -> str:
    from proj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    votes = ",\n       ".join(
        f"sum((((tid * {MINHASH_A[j % 8]} + {MINHASH_B[j % 8]} + {j}) % {MINHASH_P}) % 2) * 2 - 1) AS s{j}"
        for j in range(16)
    )
    sig = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return (
        f"WITH {_MINHASH_DICT_SQL},\n"
        f"v AS (SELECT doc_id, {votes} FROM dt GROUP BY doc_id),\n"
        f"s AS (SELECT doc_id, CAST({sig} AS BIGINT) AS sig FROM v)\n"
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b,\n"
        "       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming\n"
        "FROM s a JOIN s b ON a.doc_id < b.doc_id\n"
        "WHERE bit_count(xor(a.sig, b.sig)) <= 2"
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER ids from the banded simhash near-dup pairs:
    connected components via min-label propagation + pointer jumping
    (operators/components.py — the distributed union-find the dedup
    pipeline needs to go from pairs to keep/drop decisions).  The
    DuckDB oracle computes the same transitive closure with a
    recursive reachability CTE."""
    from proj_spark.operators.components import connected_components

    pairs = q_simhash_pairs(spark, sf_dir).where(F.col("hamming") <= 1)
    return connected_components(pairs)


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup verdict: group id (component min) + the
    canonical keep flag, singletons included — the materialized form a
    training-data filter actually consumes."""
    from proj_spark.operators.components import dedup_groups

    docs = _load(spark, sf_dir, "documents")
    pairs = q_simhash_pairs(spark, sf_dir).where(F.col("hamming") <= 1)
    out = dedup_groups(docs, pairs, id_col="doc_id")
    return out.select("doc_id", "group_id", "is_canonical")


def _cc_reach_sql() -> str:
    """Shared recursive-CTE body: simhash(hamming<=1) edges +
    transitive reachability (DuckDB replay of connected components)."""
    return (
        f"pairs AS (SELECT id_a, id_b FROM ({_simhash_pairs_oracle()}) "
        "WHERE hamming <= 1),\n"
        "edges AS (SELECT id_a AS u, id_b AS v FROM pairs "
        "UNION SELECT id_b AS u, id_a AS v FROM pairs),\n"
        "reach(u, v) AS (SELECT u, v FROM edges "
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)"
    )


def _dedup_components_oracle() -> str:
    return (
        f"WITH RECURSIVE {_cc_reach_sql()}\n"
        "SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u"
    )


def _dedup_groups_oracle() -> str:
    return (
        f"WITH RECURSIVE {_cc_reach_sql()},\n"
        "comp AS (SELECT u AS node, least(u, min(v)) AS component "
        "FROM reach GROUP BY u)\n"
        "SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id,\n"
        "       d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical\n"
        "FROM documents d LEFT JOIN comp c ON d.doc_id = c.node"
    )


def q_image_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-side near-dup clustering: phash hamming<=3 banded pairs
    (pigeonhole recall guarantee at that radius) -> connected
    components -> canonical keeper — the image analog of dedup_groups.

    Near-dup load by construction: each odd row adopts its even
    sibling's phash (200 guaranteed hamming-0 pairs) without touching
    payloads.  Oracle: DuckDB computes all-pairs hamming and the
    components itself via a recursive CTE — an independent
    cross-engine derivation, not a replay."""
    from proj_spark.operators.components import dedup_groups
    from proj_spark.operators.multimodal import phash_dedup_pairs
    from proj_spark.sources.images import generate_images

    imgs = generate_images(spark, 400, partitions=4).select("image_id", "phash")
    idx = F.substring("image_id", 4, 12).cast("long")
    base = imgs.select(
        F.col("image_id").alias("base_id"), F.col("phash").alias("base_phash")
    )
    keyed = imgs.select(
        "image_id", F.format_string("img%012d", idx - idx % 2).alias("base_id")
    )
    docs = keyed.join(base, "base_id").select(
        "image_id", F.col("base_phash").alias("phash")
    )
    pairs = phash_dedup_pairs(docs, max_hamming=3)
    out = dedup_groups(
        docs.select("image_id"), pairs, id_col="image_id", a="id_a", b="id_b"
    )
    return out.select("image_id", "group_id", "is_canonical")


def _image_dedup_groups_oracle() -> str:
    from proj_spark.sources.images import average_phash, synth_pixels

    ph: dict[int, int] = {}
    vals = []
    for idx in range(400):
        b = idx - idx % 2
        if b not in ph:
            ph[b] = average_phash(synth_pixels(b, 32, 32))
        vals.append(f"('img{idx:012d}',{ph[b]})")
    return (
        "WITH RECURSIVE imgs(image_id, phash) AS (SELECT * FROM (VALUES "
        + ",".join(vals)
        + ") t(a, b)),\n"
        "cand AS (SELECT a.image_id AS id_a, b.image_id AS id_b FROM imgs a "
        "JOIN imgs b ON a.image_id < b.image_id "
        "WHERE bit_count(xor(a.phash, b.phash)) <= 3),\n"
        "edges AS (SELECT id_a AS u, id_b AS v FROM cand "
        "UNION SELECT id_b AS u, id_a AS v FROM cand),\n"
        "reach(u, v) AS (SELECT u, v FROM edges "
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),\n"
        "comp AS (SELECT u AS node, least(u, min(v)) AS component "
        "FROM reach GROUP BY u)\n"
        "SELECT i.image_id, coalesce(c.component, i.image_id) AS group_id,\n"
        "       i.image_id = coalesce(c.component, i.image_id) AS is_canonical\n"
        "FROM imgs i LEFT JOIN comp c ON i.image_id = c.node"
    )


def q_phash_star_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-0 perceptual-duplicate STAR edges (operators/multimodal.py
    exact_phash_pairs): per identical phash, (min image_id -> member).
    O(n) output where clique pairs are quadratic — the generator the
    image funnel uses for exact-duplicate clustering (a thumbnail-farm
    phash shared by 10^6 rows emits 10^6-1 edges, not 5*10^11).  Same
    adopted-sibling-phash fixture as image_dedup_groups; oracle = the
    per-phash min-hub join in plain SQL."""
    from proj_spark.operators.multimodal import exact_phash_pairs
    from proj_spark.sources.images import generate_images

    imgs = generate_images(spark, 400, partitions=4).select("image_id", "phash")
    idx = F.substring("image_id", 4, 12).cast("long")
    base = imgs.select(
        F.col("image_id").alias("base_id"), F.col("phash").alias("base_phash")
    )
    keyed = imgs.select(
        "image_id", F.format_string("img%012d", idx - idx % 2).alias("base_id")
    )
    docs = keyed.join(base, "base_id").select(
        "image_id", F.col("base_phash").alias("phash")
    )
    pairs = exact_phash_pairs(docs)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _phash_star_pairs_oracle() -> str:
    from proj_spark.sources.images import average_phash, synth_pixels

    ph: dict[int, int] = {}
    vals = []
    for idx in range(400):
        b = idx - idx % 2
        if b not in ph:
            ph[b] = average_phash(synth_pixels(b, 32, 32))
        vals.append(f"('img{idx:012d}',{ph[b]})")
    return (
        "WITH imgs(image_id, phash) AS (SELECT * FROM (VALUES "
        + ",".join(vals)
        + ") t(a, b)),\n"
        "hubs AS (SELECT phash, min(image_id) AS hub FROM imgs GROUP BY phash)\n"
        "SELECT h.hub AS id_a, i.image_id AS id_b, CAST(0 AS BIGINT) AS hamming\n"
        "FROM imgs i JOIN hubs h ON i.phash = h.phash WHERE i.image_id <> h.hub"
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio lane end-to-end: synthesize REAL WAV payloads (RIFF/PCM16,
    sources/audio.py) for customer-keyed seeds, decode them back on
    executors, and emit integer-exact features (energy, peak, strict
    zero crossings, duration).  The oracle recomputes the features
    from the generator's integer LCG formula in BIGINT SQL — the WAV
    encode->decode roundtrip is what the Spark side adds on top."""
    from proj_spark.operators.multimodal import audio_features
    from proj_spark.sources.audio import audio_for_ids

    ids = (
        _load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("long").alias("id"))
        .where(F.col("id") <= 240)
    )
    wavs = audio_for_ids(ids)
    out = audio_features(wavs)
    return out.select(
        "media_id",
        F.col("rate").cast("long").alias("rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        "energy",
        "peak",
        "zero_crossings",
    )


def _audio_features_oracle() -> str:
    from proj_spark.sources.audio import PCM_A, PCM_B

    return f"""WITH ids AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         CAST(4000 + (c_custkey % 5) * 2000 AS BIGINT) AS n
  FROM customer WHERE c_custkey <= 240
),
s AS (
  SELECT id, n, t.k AS k,
         (({PCM_A} * (id + 1) + {PCM_B} * t.k) % 65536) - 32768 AS v
  FROM ids, unnest(range(n)) AS t(k)
),
s2 AS (
  SELECT id, n, k, v, lag(v) OVER (PARTITION BY id ORDER BY k) AS pv FROM s
),
agg AS (
  SELECT id, max(n) AS n_samples, sum(v * v) AS energy, max(abs(v)) AS peak,
         sum(CASE WHEN v * pv < 0 THEN 1 ELSE 0 END) AS zero_crossings
  FROM s2 GROUP BY id
)
SELECT 'a' || lpad(CAST(id AS VARCHAR), 9, '0') AS media_id,
       CAST(8000 AS BIGINT) AS rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(n_samples * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(energy AS BIGINT) AS energy, CAST(peak AS BIGINT) AS peak,
       CAST(zero_crossings AS BIGINT) AS zero_crossings
FROM agg"""


# surrogate-phash construction shared by q_phash_pairs and its oracle:
# customers group by 8 (one 'source image' per group); quarters of the
# 64-bit hash derive from the group id, and members flip at most ONE
# low bit — so intra-group pairs sit at hamming <= 2 and the query's
# max_hamming=3 keeps the 4x16-bit pigeonhole recall guarantee exact.
_PHQ = [(1103, 12289), (2069, 3301), (4919, 773), (7907, 51)]  # (A_i, B_i)


def q_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup PAIRS via the banded 4x16-bit-quarter
    operator (operators/multimodal.py phash_dedup_pairs), driven by a
    SQL-reproducible surrogate phash so the DuckDB oracle can replay
    the exact all-pairs filter.  Quarter-exact bucketing guarantees
    recall for hamming <= 3 (pigeonhole over 4 disjoint quarters)."""
    from proj_spark.operators.multimodal import phash_dedup_pairs

    c = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("image_id")
    )
    grp = F.floor(F.col("image_id") / F.lit(8)).cast("long")
    quarters = [((grp * F.lit(a) + F.lit(b)) % F.lit(65521)) for a, b in _PHQ]
    base = (
        quarters[0]
        + quarters[1] * F.lit(1 << 16)
        + quarters[2] * F.lit(1 << 32)
        + (quarters[3] % F.lit(32768)) * F.lit(1 << 48)
    )
    k = F.col("image_id") % F.lit(8)
    mask = F.when(k == 0, F.lit(0).cast("long")).otherwise(
        F.expr("shiftleft(1L, cast(image_id % 8 - 1 as int))")
    )
    imgs = c.select("image_id", base.bitwiseXOR(mask).cast("long").alias("phash"))
    pairs = phash_dedup_pairs(imgs, max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _phash_pairs_oracle() -> str:
    qs = [
        f"(((c_custkey // 8) * {a} + {b}) % 65521)" for a, b in _PHQ
    ]
    base = (
        f"({qs[0]} + {qs[1]} * {1 << 16} + {qs[2]} * {1 << 32}"
        f" + ({qs[3]} % 32768) * {1 << 48})"
    )
    mask = "(CASE WHEN c_custkey % 8 = 0 THEN 0 ELSE 1 << CAST(c_custkey % 8 - 1 AS INTEGER) END)"
    return (
        "WITH s AS (\n"
        f"  SELECT CAST(c_custkey AS BIGINT) AS id, xor(CAST({base} AS BIGINT), CAST({mask} AS BIGINT)) AS sig\n"
        "  FROM customer\n"
        ")\n"
        "SELECT a.id AS id_a, b.id AS id_b,\n"
        "       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming\n"
        "FROM s a JOIN s b ON a.id < b.id\n"
        "WHERE bit_count(xor(a.sig, b.sig)) <= 3"
    )


def q_jaccard_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for the deterministic pair family
    (doc_id, doc_id+1) — the refine stage of the near-dup pipeline."""
    from proj_spark.operators.dedup import jaccard_refine, tokenize

    docs = tokenize(_load(spark, sf_dir, "documents"))
    ids = docs.select(F.col("doc_id").alias("id_a"))
    pairs = ids.withColumn("id_b", F.col("id_a") + 1).join(
        docs.select(F.col("doc_id").alias("id_b")), on="id_b", how="inner"
    )
    out = jaccard_refine(pairs, docs, id_col="doc_id", threshold=0.0)
    return out.select(
        "id_a", "id_b", F.floor(F.col("jaccard") * 1000000.0).cast("long").alias("jaccard_micro")
    )


def _jaccard_oracle() -> str:
    return """
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok AS token
  FROM documents, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
  WHERE t.tok != ''
),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN tok ta ON ta.doc_id = p.id_a
  JOIN tok tb ON tb.doc_id = p.id_b AND tb.token = ta.token
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(floor(CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter) * 1000000.0) AS BIGINT) AS jaccard_micro
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
"""


# ==================================================================== ANN
def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (ordered fold dot
    product = DuckDB list_reduce parity)."""
    from proj_spark.operators.ann import cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, q, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.floor(F.col("cos") * 10000.0).cast("long").alias("cos_e4"),
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN in oracle mode: with bits=2 and 2-bit
    multiprobe every one of the 4 sign buckets is probed, which is
    EXACTLY brute force — pinning the whole LSH plumbing (hyperplane
    determinism, signature expression, probe explosion, bucket join,
    refine) against the same cross-engine mirror as ann_cosine.
    Recall at selective probe counts is covered by pytest."""
    from proj_spark.operators.ann import lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, q, k=5, bits=2, multiprobe_bits=2)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.floor(F.col("cos") * 10000.0).cast("long").alias("cos_e4"),
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in oracle mode: nprobe = n_centroids probes every
    inverted list, which is EXACTLY brute force (each vector lives in
    one cell) — so the cross-engine oracle pins the whole IVF plumbing
    (training determinism, cell assignment, probe join, refine).
    Recall at small nprobe is covered by pytest."""
    from proj_spark.operators.ann import ivf_topk, train_centroids

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = train_centroids(emb, n_centroids=8)
    out = ivf_topk(emb, q, cents, k=5, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.floor(F.col("cos") * 10000.0).cast("long").alias("cos_e4"),
    )


def q_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs in exact mode (bits=0 ==
    all-pairs — the oracle mode; the hyperplane-bucketed scale path is
    recall-tested in pytest).  The synthetic embeddings are
    near-orthogonal, so the 'near-dup' threshold sits in the
    similarity tail to make the check non-trivial."""
    from proj_spark.operators.ann import cosine_dedup_pairs

    emb = _load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    out = cosine_dedup_pairs(emb, threshold=0.3, bits=0)
    return out.select(
        "id_a",
        "id_b",
        F.floor(F.col("cos") * 1e4).cast("long").alias("cos_e4"),
    )


def _cosine_dedup_oracle() -> str:
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(64), i -> CAST(a.e[i + 1] AS DOUBLE) * CAST(b.e[i + 1] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )
    norm_a = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(64), i -> CAST(a.e[i + 1] AS DOUBLE) * CAST(a.e[i + 1] AS DOUBLE))), "
        "(acc, x) -> acc + x))"
    )
    norm_b = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(64), i -> CAST(b.e[i + 1] AS DOUBLE) * CAST(b.e[i + 1] AS DOUBLE))), "
        "(acc, x) -> acc + x))"
    )
    return f"""
WITH v AS (SELECT vec_id, embedding AS e FROM embeddings WHERE vec_id < 300)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(floor(({dot} / ({norm_a} * {norm_b})) * 1e4) AS BIGINT) AS cos_e4
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {dot} / ({norm_a} * {norm_b}) >= 0.3
"""


def _ann_oracle() -> str:
    # ordered-fold dot/norm exactly like F.aggregate (sequential)
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(64), i -> CAST(a.e[i + 1] AS DOUBLE) * CAST(b.e[i + 1] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )
    norm_a = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(64), i -> CAST(a.e[i + 1] AS DOUBLE) * CAST(a.e[i + 1] AS DOUBLE))), "
        "(acc, x) -> acc + x))"
    )
    norm_b = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(64), i -> CAST(b.e[i + 1] AS DOUBLE) * CAST(b.e[i + 1] AS DOUBLE))), "
        "(acc, x) -> acc + x))"
    )
    return f"""
WITH a AS (SELECT vec_id AS query_id, embedding AS e FROM embeddings WHERE vec_id < 10),
b AS (SELECT vec_id AS neighbor_id, embedding AS e FROM embeddings),
pairs AS (
  SELECT a.query_id, b.neighbor_id,
         {dot} / ({norm_a} * {norm_b}) AS cos
  FROM b CROSS JOIN a
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(cos * 10000.0) AS BIGINT) AS cos_e4
FROM ranked WHERE rank <= 5
"""


# ================================================================= events
def _with_injected_boilerplate(docs: DataFrame) -> DataFrame:
    """The synthetic documents are single-line, so the boilerplate
    queries inject deterministic chrome lines (plain string concat —
    identically reproducible in SQL): one line in EVERY doc, one in
    every even doc, one unique per doc."""
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nsubscribe to our newsletter today\nref code "),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("\nfollow us on social media")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_BOILER_INJECT_SQL = (
    "SELECT doc_id, text || chr(10) || 'subscribe to our newsletter today' "
    "|| chr(10) || 'ref code ' || CAST(doc_id AS VARCHAR) "
    "|| CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'follow us on social media' "
    "ELSE '' END AS text FROM documents"
)

_BOILER_DICT_SQL = """lines AS (
  SELECT DISTINCT doc_id, trim(lower(l.line)) AS line
  FROM d, unnest(string_split(text, chr(10))) AS l(line)
  WHERE length(trim(lower(l.line))) >= 10
),
boiler AS (
  SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM lines GROUP BY line HAVING count(DISTINCT doc_id) >= 2
)"""


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate dictionary: lines repeated verbatim across
    documents (operators/text.py boilerplate_lines) — the injected
    every-doc and every-even-doc chrome must surface, per-doc lines
    must not."""
    from proj_spark.operators.text import boilerplate_lines

    docs = _with_injected_boilerplate(_load(spark, sf_dir, "documents"))
    return boilerplate_lines(docs, min_docs=2, min_chars=10)


def _boilerplate_oracle() -> str:
    return (
        f"WITH d AS ({_BOILER_INJECT_SQL}),\n{_BOILER_DICT_SQL}\n"
        "SELECT line, n_docs FROM boiler"
    )


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal end-to-end: build the dictionary, strip
    matching lines from every document (broadcast anti-join at line
    granularity, order-preserving reassembly), return the cleaned
    text per doc."""
    from proj_spark.operators.text import boilerplate_lines, strip_boilerplate

    docs = _with_injected_boilerplate(_load(spark, sf_dir, "documents"))
    boiler = boilerplate_lines(docs, min_docs=2, min_chars=10)
    out = strip_boilerplate(docs, boiler)
    return out.select("doc_id", "text_clean")


def _strip_boilerplate_oracle() -> str:
    return f"""WITH d AS ({_BOILER_INJECT_SQL}),
{_BOILER_DICT_SQL},
bl AS (SELECT list(line) AS bls FROM boiler)
SELECT d.doc_id,
       list_aggregate(
         list_filter(string_split(d.text, chr(10)),
                     x -> NOT list_contains(bl.bls, trim(lower(x)))),
         'string_agg', chr(10)) AS text_clean
FROM d CROSS JOIN bl"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (operators/text.py scrub_pii): inject one
    deterministic email / phone / IPv4 per document (string concat,
    SQL-identical), then count and replace with typed placeholders.
    Patterns are lookaround-free so Java regex and RE2 agree."""
    from proj_spark.operators.text import scrub_pii

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 415 555 01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    out = scrub_pii(docs)
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "text_scrubbed"
    )


def _pii_scrub_oracle() -> str:
    from proj_spark.operators.text import PII_PATTERNS

    em, ph, ip = PII_PATTERNS["email"], PII_PATTERNS["phone"], PII_PATTERNS["ipv4"]
    inject = (
        "SELECT doc_id, text || ' contact doc' || CAST(doc_id AS VARCHAR) "
        "|| '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) "
        "|| '.7 call +1 415 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') "
        "AS text FROM documents"
    )
    # counts mirror scrub_pii's progressive semantics: each kind is
    # counted on the text AFTER the previous kinds were replaced.
    return f"""WITH d AS ({inject}),
s1 AS (SELECT doc_id, text,
         regexp_replace(text, '{em}', '[EMAIL]', 'g') AS t1 FROM d),
s2 AS (SELECT doc_id, text, t1,
         regexp_replace(t1, '{ph}', '[PHONE]', 'g') AS t2 FROM s1)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(t1, '{ph}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(t2, '{ip}')) AS BIGINT) AS n_ipv4,
  regexp_replace(t2, '{ip}', '[IPV4]', 'g') AS text_scrubbed
FROM s2"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination check (operators/text.py
    contamination): 13-gram collisions of every document against a
    benchmark set (here: the n-grams of docs 0-4, standing in for an
    eval set).  The benchmark docs flag themselves fully; the
    synthetic corpus's heavy self-similarity makes nonzero counts on
    OTHER docs the interesting signal."""
    from proj_spark.operators.text import contamination, ngram_set

    docs = _load(spark, sf_dir, "documents")
    bench = ngram_set(docs.where(F.col("doc_id") < 5), w=13)
    return contamination(docs, bench, w=13)


def _contamination_oracle() -> str:
    w = 13
    return f"""WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i.i, i.i + {w - 1}), ' ') AS ngram
  FROM tok, unnest(range(1, len(toks) - {w} + 2)) AS i(i)
),
bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id < 5),
hits AS (
  SELECT g.doc_id, count(*) AS n FROM g JOIN bench USING (ngram) GROUP BY g.doc_id
)
SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (operators/text.py repetition_stats):
    modal 2-gram coverage + duplicate-line fraction, milli-quantized;
    the modal gram's (count desc, gram asc) tie-break makes the row
    deterministic in both engines."""
    from proj_spark.operators.text import repetition_stats

    docs = _load(spark, sf_dir, "documents")
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        "n_lines",
        F.floor(F.col("dup_line_frac") * 1000.0).cast("long").alias("dup_line_milli"),
        "top_gram",
        "top_gram_n",
        F.floor(F.col("top_gram_frac") * 1000.0).cast("long").alias("top_gram_milli"),
    )


def _repetition_oracle() -> str:
    return r"""WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         len(regexp_replace(text, '\s+', '', 'g')) AS nchars
  FROM documents
),
g AS (
  SELECT doc_id, nchars,
         array_to_string(list_slice(toks, i.i, i.i + 1), ' ') AS gram
  FROM base, unnest(range(1, len(toks))) AS i(i)
),
pg AS (
  SELECT doc_id, nchars, gram, count(*) AS n FROM g GROUP BY doc_id, nchars, gram
),
top AS (
  SELECT doc_id, gram, n, nchars,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, gram ASC) AS rn
  FROM pg
)
SELECT b.doc_id,
  CAST(len(b.lines) AS BIGINT) AS n_lines,
  CAST(floor(1000.0 * (len(b.lines) - len(list_distinct(b.lines)))
             / len(b.lines)) AS BIGINT) AS dup_line_milli,
  coalesce(t.gram, '') AS top_gram,
  CAST(coalesce(t.n, 0) AS BIGINT) AS top_gram_n,
  CAST(floor(1000.0 * coalesce(
      t.n * len(regexp_replace(t.gram, '\s+', '', 'g')) / b.nchars,
      0.0)) AS BIGINT) AS top_gram_milli
FROM base b LEFT JOIN (SELECT * FROM top WHERE rn = 1) t ON b.doc_id = t.doc_id"""


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass ingest QC profile (operators/profile.py) over the
    events table's cleanly-renderable columns (bigint + varchar; float
    and timestamp min/max string forms are engine-specific, so they
    stay out of the cross-engine gate and in pytest)."""
    from proj_spark.operators.profile import profile_table

    ev = _load(spark, sf_dir, "events")
    return profile_table(ev, columns=["event_id", "user_id", "event_type"])


def _profile_oracle() -> str:
    rows = []
    for c, dt in [
        ("event_id", "bigint"),
        ("user_id", "bigint"),
        ("event_type", "string"),
    ]:
        rows.append(
            f"SELECT '{c}' AS column, '{dt}' AS dtype,\n"
            f"  CAST(count(*) AS BIGINT) AS n_rows,\n"
            f"  CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,\n"
            f"  CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,\n"
            f"  CAST(min({c}) AS VARCHAR) AS min_str,\n"
            f"  CAST(max({c}) AS VARCHAR) AS max_str\n"
            f"FROM events"
        )
    return "\nUNION ALL\n".join(rows)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by LCG hash ring
    (operators/split.py hash_split — never rand(): resume/retry must
    reproduce the split).  The oracle recomputes the exact bucket."""
    from proj_spark.operators.split import hash_split

    docs = _load(spark, sf_dir, "documents")
    return hash_split(docs, id_col="doc_id").select("doc_id", "split")


def _hash_split_oracle() -> str:
    from proj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    a, b = MINHASH_A[0], MINHASH_B[0]
    cut1 = int(0.9 * MINHASH_P)
    cut2 = int((0.9 + 0.05) * MINHASH_P)
    return f"""WITH h AS (
  SELECT doc_id, ({a} * (doc_id % {MINHASH_P}) + {b}) % {MINHASH_P} AS hh
  FROM documents
)
SELECT doc_id,
       CASE WHEN hh < {cut1} THEN 'train'
            WHEN hh < {cut2} THEN 'val'
            ELSE 'test' END AS split
FROM h"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language 20% deterministic sample (operators/split.py
    stratified_sample): exact per-stratum proportions, ordered by the
    id hash so any partitioning yields the identical subset."""
    from proj_spark.operators.split import stratified_sample

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, keys=["lang"], frac=0.2, id_col="doc_id")


def _stratified_sample_oracle() -> str:
    from proj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    a, b = MINHASH_A[0], MINHASH_B[0]
    return f"""WITH h AS (
  SELECT doc_id, lang,
         ({a} * (doc_id % {MINHASH_P}) + {b}) % {MINHASH_P} AS hh
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY hh ASC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM h
)
SELECT doc_id, lang FROM r WHERE rn <= ceil(cnt * 0.2)"""


def q_pack_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget pack assignment (operators/pack.py): canonical
    hash order within 8 buckets, packs cut at 512-token boundaries of
    the running count.  Integer windows — the oracle recomputes the
    identical assignment."""
    from proj_spark.operators.pack import pack_by_token_budget
    from proj_spark.operators.text import token_stats

    docs = _load(spark, sf_dir, "documents")
    toks = token_stats(docs).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    out = pack_by_token_budget(toks, budget=512, n_buckets=8)
    return out.select("doc_id", "n_tokens", "pack_id", "pack_pos")


def _pack_budget_oracle() -> str:
    from proj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    a, b = MINHASH_A[0], MINHASH_B[0]
    return f"""WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         ({a} * (doc_id % {MINHASH_P}) + {b}) % {MINHASH_P} AS hh
  FROM documents
),
w AS (
  SELECT doc_id, n_tokens, hh, hh % 8 AS bkt,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY hh % 8 ORDER BY hh ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(bkt * {1 << 40} + floor(bef / 512.0) AS BIGINT) AS pack_id,
       CAST(bef - floor(bef / 512.0) * 512 AS BIGINT) AS pack_pos
FROM w"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.py) per event_type
    over user_id, k=16 so the large groups exercise the ESTIMATOR
    branch (not just exact fallback).  The LCG hash is pure BIGINT
    math, so the oracle rebuilds the identical sketch in SQL."""
    from proj_spark.operators.sketch import kmv_distinct

    ev = _load(spark, sf_dir, "events")
    return kmv_distinct(ev, ["event_type"], "user_id", k=16)


def _kmv_oracle() -> str:
    from proj_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    prod = float((16 - 1) * MINHASH_P)  # (k-1) * P as one double literal
    return f"""WITH h AS (
  SELECT DISTINCT event_type,
         ({MINHASH_A[0]} * CAST(user_id AS BIGINT) + {MINHASH_B[0]}) % {MINHASH_P} AS _h
  FROM events
),
r AS (
  SELECT event_type, _h,
         row_number() OVER (PARTITION BY event_type ORDER BY _h ASC) AS _rn
  FROM h
),
t AS (
  SELECT event_type, count(*) AS n_sketch, max(_h) AS _maxh
  FROM r WHERE _rn <= 16 GROUP BY event_type
)
SELECT event_type, CAST(n_sketch AS BIGINT) AS n_sketch,
       CASE WHEN n_sketch < 16 THEN NULL ELSE _maxh END AS kth_min,
       CAST(floor(CASE WHEN n_sketch < 16 THEN CAST(n_sketch AS DOUBLE)
                       ELSE {prod!r} / _maxh END) AS BIGINT) AS est_distinct
FROM t"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (operators/
    sessions.py — lag start-flags + running sum, the gaps-and-islands
    plan) vs the identical ANSI-SQL windows in DuckDB.  Bounds as
    epoch seconds, sums as integer cents (cross-engine exact)."""
    from proj_spark.operators.sessions import sessionize

    ev = _load(spark, sf_dir, "events").withColumn(
        "value_cents", F.round(F.col("value") * 100.0).cast("long")
    )
    out = sessionize(ev, gap_s=1800, value="value_cents")
    return out.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.col("started").cast("timestamp").cast("long").alias("started_s"),
        F.col("ended").cast("timestamp").cast("long").alias("ended_s"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("long").alias("sum_cents"),
    )


def _sessionize_oracle() -> str:
    return """WITH m AS (
  SELECT user_id, ts, CAST(round(value * 100.0) AS BIGINT) AS cents,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
              THEN 1 ELSE 0 END AS st
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, cents,
         sum(st) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM m
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS started_s,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS ended_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM s GROUP BY user_id, session_id"""


def q_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity trajectory statistics (operators/trajectory.py):
    order each user's event pings in time (event_id tiebreak), floor
    each consecutive haversine step to decimeters, aggregate path
    length / longest step / net first->last displacement.  One
    window shuffle; the groupBy reuses its partitioning.  Oracle: the
    identical lag/first_value/last_value window SQL in DuckDB."""
    from proj_spark.operators.trajectory import trajectory_stats

    ev = _load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        E.synth_lon(F.col("event_id").cast("double")).alias("lon"),
        E.synth_lat(F.col("event_id").cast("double")).alias("lat"),
    )
    out = trajectory_stats(
        ev, user="user_id", ts="ts", lon="lon", lat="lat", tie="event_id"
    )
    return out.select(
        F.col("user").alias("user_id"),
        "n_points",
        "n_steps",
        "path_dm",
        "max_step_dm",
        "net_dm",
    )


def _trajectory_oracle() -> str:
    k = "CAST(event_id AS DOUBLE)"
    step = _HAVERSINE_SQL.format(
        lat1="plat", lon1="plon", lat2="lat", lon2="lon", D=D
    )
    net = _HAVERSINE_SQL.format(
        lat1="flat", lon1="flon", lat2="llat", lon2="llon", D=D
    )
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         {_lon_sql(k)} AS lon, {_lat_sql(k)} AS lat
  FROM events
),
w AS (
  SELECT user_id, lon, lat,
         lag(lon) OVER win AS plon, lag(lat) OVER win AS plat,
         first_value(lon) OVER winf AS flon, first_value(lat) OVER winf AS flat,
         last_value(lon) OVER winf AS llon, last_value(lat) OVER winf AS llat
  FROM pts
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id),
         winf AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
s AS (
  SELECT user_id, flon, flat, llon, llat,
         -- NULL guard: least() skips NULLs in the haversine clamp
         CASE WHEN plon IS NULL THEN NULL
              ELSE CAST(floor({step} * 10.0) AS BIGINT) END AS step_dm,
         {net} AS net_m
  FROM w
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(count(step_dm) AS BIGINT) AS n_steps,
       CAST(coalesce(sum(step_dm), 0) AS BIGINT) AS path_dm,
       CAST(coalesce(max(step_dm), -1) AS BIGINT) AS max_step_dm,
       CAST(floor(min(net_m) * 10.0) AS BIGINT) AS net_dm
FROM s GROUP BY user_id
"""


def q_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key rollup through the salted two-phase aggregation
    (operators/skew.py salted_agg): event_type has a handful of hot
    values — the shape of the north rule's hot-cell skew.  Salting
    must be invisible in the result, so the oracle is the plain GROUP
    BY.  Sums are integer cents (order-independent across engines)."""
    from proj_spark.operators.skew import salted_agg

    ev = _load(spark, sf_dir, "events").withColumn(
        "value_cents", F.round(F.col("value") * 100.0).cast("long")
    )
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n": (F.count(F.lit(1)), F.sum("n")),
            "sum_cents": (F.sum("value_cents"), F.sum("sum_cents")),
            "vmin": (F.min("value"), F.min("vmin")),
            "vmax": (F.max("value"), F.max("vmax")),
        },
        n_salts=16,
        salt_by=["event_id"],
    )
    return out.select(
        "event_type", F.col("n").cast("long").alias("n"), "sum_cents", "vmin", "vmax"
    )


def q_salted_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed equi-join through the salted replicated join
    (operators/skew.py salted_broadcast_join): events.user_id is a hot
    probe key against a customer-derived dim; the salt replicates the
    dim 8x so one hot key spreads across tasks.  The result must equal
    the plain inner join + GROUP BY (the oracle)."""
    from proj_spark.operators.skew import salted_broadcast_join

    ev = _load(spark, sf_dir, "events").select("event_id", "user_id")
    dim = (
        _load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .where(F.col("user_id") < 64)
    )
    j = salted_broadcast_join(ev, dim, on="user_id", n_salts=8)
    return j.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


def q_event_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped rollup: events -> synthetic points -> zoom-6
    tiles per event_type (batch view of the tile-stream aggregation)."""
    ev = _load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        E.synth_lon(F.col("event_id").cast("double")).alias("lon"),
        E.synth_lat(F.col("event_id").cast("double")).alias("lat"),
    )
    return (
        pts.withColumn("tile_x", E.tile_x("lon", 6))
        .withColumn("tile_y", E.tile_y("lat", 6))
        .groupBy("event_type", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _event_tiles_oracle() -> str:
    src = (
        f"SELECT event_type, {_lon_sql('CAST(event_id AS DOUBLE)')} AS lon, "
        f"{_lat_sql('CAST(event_id AS DOUBLE)')} AS lat FROM events"
    )
    return f"""
WITH pts AS ({src})
SELECT event_type,
       CAST(least(greatest(floor((lon + 180.0) / 360.0 * 64.0), 0), 63) AS BIGINT) AS tile_x,
       CAST(least(greatest(floor((1.0 - ln(tan(lat * {D}) + sqrt(tan(lat * {D}) * tan(lat * {D}) + 1.0)) / {PI_L}) / 2.0 * 64.0), 0), 63) AS BIGINT) AS tile_y,
       count(*) AS n
FROM pts GROUP BY 1, 2, 3
"""


# ====================================== rows-only (non-SQL-expressible)
def q_gridshift_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full datum pipeline with a synthetic CTABLE grid: NAD-style
    gridshift fwd (+ iterative inverse on the way back).  Iterative
    (nad_cvt <=9 iter) -> no SQL oracle; pytest covers the numerics
    against the scalar reference implementation."""
    from proj_spark.functions.transform import transform
    from proj_spark.operators.gridshift import make_synthetic_grid, register_grid

    register_grid("conus_syn", make_synthetic_grid())
    pts = _points(spark, sf_dir, "orders", "o_orderkey")
    out = transform(
        pts,
        "+proj=latlong +ellps=clrk66 +nadgrids=conus_syn",
        "+proj=latlong +datum=WGS84",
        "lon",
        "lat",
    )
    return out.select(
        "pk",
        F.floor(F.col("x") * 1e7).cast("long").alias("lon_e7"),
        F.floor(F.col("y") * 1e7).cast("long").alias("lat_e7"),
    )


def q_geodesic_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ellipsoidal geodesic inverse (Vincenty iteration; role of
    geod_inverse, ref src/geodesic.c:944).  Iterative -> rows-only."""
    from proj_spark.functions.transform import geodesic_inverse_udf

    n = _load(spark, sf_dir, "nation")
    a = n.select(
        F.col("n_nationkey").alias("id_a"),
        E.synth_lon((F.col("n_nationkey") * 7919 + 13).cast("double")).alias("lon1"),
        E.synth_lat((F.col("n_nationkey") * 7919 + 13).cast("double")).alias("lat1"),
    )
    b = n.select(
        F.col("n_nationkey").alias("id_b"),
        E.synth_lon((F.col("n_nationkey") * 104729 + 7).cast("double")).alias("lon2"),
        E.synth_lat((F.col("n_nationkey") * 104729 + 7).cast("double")).alias("lat2"),
    )
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    udf = geodesic_inverse_udf()
    out = pairs.withColumn("g", udf("lon1", "lat1", "lon2", "lat2"))
    # quantization chosen so Karney (Spark) and the INDEPENDENT Vincenty
    # golden table (oracle) agree robustly: measured cross-algorithm
    # deltas are <4e-5 m and <3e-10 deg on this pair set
    return out.select(
        "id_a",
        "id_b",
        F.floor(F.col("g.s12") / 10.0).cast("long").alias("s12_dam"),
        F.floor(F.col("g.azi1") * 1e4).cast("long").alias("azi1_e4"),
    )


def q_utm_inverse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fwd + iterative inverse roundtrip error (inv_mlfn Newton).
    Residual oracle: every row must floor to 0 at 1e-9 deg.  Points
    restricted to the true zone width (+/-3 deg of the central
    meridian) where the reference's own FC-series tmerc holds 1e-9;
    outside the zone the series itself is only cm-accurate — in the
    reference too (the reason PROJ grew etmerc)."""
    from proj_spark.functions.transform import transform

    pts = _points(spark, sf_dir, "supplier", "s_suppkey").where(
        (F.col("lon") >= -120.0) & (F.col("lon") <= -114.0)
    )
    fwd = transform(pts, "+proj=latlong +datum=WGS84", _UTM11, "lon", "lat")
    back = transform(fwd, _UTM11, "+proj=latlong +datum=WGS84", "x", "y", out_prefix="r")
    return back.select(
        "pk",
        F.floor(F.abs(F.col("rx") - F.col("lon")) * 1e9).cast("long").alias("err_lon_e9"),
        F.floor(F.abs(F.col("ry") - F.col("lat")) * 1e9).cast("long").alias("err_lat_e9"),
    )


def q_images_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint image table: generate deterministic payloads, decode,
    verify PSNR>=40dB + caption equality, roll up by fmt.  Binary
    codecs -> rows-only."""
    from proj_spark.sources.images import generate_images, verify_payloads

    imgs = generate_images(spark, 2000, partitions=8)
    v = verify_payloads(imgs).join(imgs.select("image_id", "fmt"), on="image_id")
    return (
        v.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("caption_ok") & F.col("pixels_ok"), 1).otherwise(0)).alias("n_ok"),
            F.floor(F.min("psnr_db")).cast("long").alias("min_psnr_db"),
        )
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (decode -> channel means, luma
    histogram, phash, edge energy) + phash near-dup pair count over
    the deterministic image table -> rows-only."""
    from proj_spark.operators.multimodal import extract_features, phash_dedup_pairs
    from proj_spark.sources.images import generate_images

    imgs = generate_images(spark, 1000, partitions=4)
    feats = extract_features(imgs)
    n_pairs = phash_dedup_pairs(
        feats.select(F.col("image_id"), "phash"), max_hamming=2
    ).count()
    return feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.avg("mean_r")).cast("long").alias("avg_r"),
        F.floor(F.avg("edge_energy") * 1000.0).cast("long").alias("avg_edge_milli"),
        F.lit(n_pairs).cast("long").alias("n_neardup_pairs"),
    )


_VID_N = 48
_VID_FRAMES = 24
_VID_EVERY = 6


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video lane end-to-end: build MJPEG-in-AVI payloads on the
    EXECUTORS (real baseline JPEG frames inside a real RIFF/AVI
    container), sample every 6th frame via the container walk
    (operators/multimodal.sample_frames), decode the sampled MJPEG
    bitstreams back to pixels, and roll up per-video fidelity stats.

    Per-frame metrics are floored to integers BEFORE aggregation so
    the rollup is exact under any partitioning (float summation order
    can flip a floor on the boundary).  Oracle: single-process local
    replay of the identical codec chain."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from proj_spark.operators.multimodal import sample_frames
    from proj_spark.sources.images import decode_image, psnr_db, synth_pixels

    def gen(batches):
        from proj_spark.sources.avi import write_avi_mjpeg
        from proj_spark.sources.jpeg import encode_jpeg

        for b in batches:
            rows = []
            for vid in b["id"].to_numpy():
                vid = int(vid)
                frames = [
                    encode_jpeg(synth_pixels(vid * 1000 + i, 16, 16))
                    for i in range(_VID_FRAMES)
                ]
                rows.append((f"vid{vid:04d}", write_avi_mjpeg(frames, 16, 16)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes"])

    videos = (
        spark.range(0, _VID_N, 1, 8)
        .mapInPandas(
            gen,
            T.StructType(
                [
                    T.StructField("media_id", T.StringType()),
                    T.StructField("bytes", T.BinaryType()),
                ]
            ),
        )
        .withColumn("fmt", F.lit("avi"))
    )
    frames = sample_frames(videos, every_n=_VID_EVERY)

    def met(batches):
        for b in batches:
            out = []
            for mid, idx, data, fmt in zip(
                b["media_id"].to_numpy(),
                b["frame_idx"].to_numpy(),
                b["bytes"].to_numpy(),
                b["fmt"].to_numpy(),
            ):
                px = decode_image(bytes(data), fmt)
                src = synth_pixels(int(mid[3:]) * 1000 + int(idx), 16, 16)
                luma = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
                out.append(
                    (
                        mid,
                        int(idx),
                        int(np.floor(psnr_db(src, px))),
                        int(np.floor(float(luma.mean()) * 100.0)),
                    )
                )
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "psnr_fl", "luma_centi"]
            )

    m = frames.mapInPandas(
        met,
        T.StructType(
            [
                T.StructField("media_id", T.StringType()),
                T.StructField("frame_idx", T.IntegerType()),
                T.StructField("psnr_fl", T.LongType()),
                T.StructField("luma_centi", T.LongType()),
            ]
        ),
    )
    return m.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("frame_idx").cast("long").alias("sum_frame_idx"),
        F.min("psnr_fl").cast("long").alias("min_psnr_db"),
        F.sum("luma_centi").cast("long").alias("sum_luma_centi"),
    )


def q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-side curation signals (operators/multimodal.image_quality):
    Laplacian blur variance, contrast, luma entropy, saturation per
    image over the deterministic payload table, floored to integers
    for a stable cross-engine hash.  Oracle: local pandas replay."""
    from proj_spark.operators.multimodal import image_quality
    from proj_spark.sources.images import generate_images

    imgs = generate_images(spark, 500, partitions=4)
    qy = image_quality(imgs)
    return qy.select(
        "image_id",
        F.floor(F.col("blur_var")).cast("long").alias("blur_var_fl"),
        F.floor(F.col("contrast") * 100.0).cast("long").alias("contrast_centi"),
        F.floor(F.col("entropy_bits") * 1000.0).cast("long").alias("entropy_milli"),
        F.floor(F.col("saturation") * 100.0).cast("long").alias("saturation_centi"),
    )


def q_tile_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tile-thumbnail sink's manifest (operators/tilesink.py): run
    the real export — thumbnail + per-tile WebDataset tar shards into
    a temp dir — and return the per-tile manifest.  The oracle
    recomputes the expected tile occupancy from the centroid law
    locally (the shards themselves are checked by tests/test_tilesink
    and the image-funnel tool)."""
    import tempfile

    from proj_spark.operators.tilesink import tile_thumbnails
    from proj_spark.sources.images import generate_images, with_centroids

    imgs = with_centroids(generate_images(spark, 300, partitions=4))
    out = tempfile.mkdtemp(prefix="tile_manifest_q_")
    return tile_thumbnails(imgs, out, zoom=6, thumb=8).select(
        "tile_x", "tile_y", "n"
    )


def _tile_manifest_oracle() -> str:
    """Expected tile occupancy from the centroid + webmerc tile law,
    replayed locally (math.floor in plain Python)."""
    import math

    from proj_spark.sources.images import average_phash, centroid_of, synth_pixels

    counts: dict[tuple[int, int], int] = {}
    z = 1 << 6
    for idx in range(300):
        ph = average_phash(synth_pixels(idx, 32, 32))
        lon, lat = centroid_of(ph, idx, 5, -118.25, 34.05)
        tx = min(max(math.floor((lon + 180.0) / 360.0 * z), 0), z - 1)
        # mirror functions/expressions.tile_y float-for-float:
        # sec is computed as sqrt(tan^2 + 1), not 1/cos
        t = math.tan(lat * 0.017453292519943295)
        ty = min(
            max(
                math.floor(
                    (1.0 - math.log(t + math.sqrt(t * t + 1.0)) / math.pi)
                    / 2.0
                    * z
                ),
                0,
            ),
            z - 1,
        )
        counts[(tx, ty)] = counts.get((tx, ty), 0) + 1
    rows = [f"({tx},{ty},{n})" for (tx, ty), n in sorted(counts.items())]
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(tile_x, tile_y, n)"
    )


def q_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distortion analysis (pj_factors: scale h/k, areal s) on the
    two-SP Lambert conformal conic.  The Spark side uses the NUMERIC
    4-point derivative machinery (pj_deriv.c); the DuckDB oracle uses
    the ANALYTIC conformal factors k = h = n rho / m (PJ_lcc.c
    geometry), so the finite-difference engine is cross-checked against
    closed-form truth (numeric error ~3e-11 << the 1e-5 quantum)."""
    from proj_spark.functions.transform import factors_udf

    pts = _points(spark, sf_dir, "nation", "n_nationkey")
    udf = factors_udf(_LCC)
    out = pts.withColumn("f", udf("lon", "lat"))
    return out.select(
        "pk",
        F.floor(F.col("f.h") * 1e5).cast("long").alias("h_e5"),
        F.floor(F.col("f.k") * 1e5).cast("long").alias("k_e5"),
        F.floor(F.col("f.s") * 1e5).cast("long").alias("s_e5"),
    )


def q_geodesic_waypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waypoint densification along geodesics (geod -n semantics,
    ref src/geod.c:34-57): inverse+direct Vincenty -> rows-only."""
    from proj_spark.operators.geodesic_ops import geodesic_waypoints

    n = _load(spark, sf_dir, "nation")
    pairs = n.select(
        F.col("n_nationkey").alias("pair_id"),
        E.synth_lon((F.col("n_nationkey") * 7919 + 13).cast("double")).alias("lon1"),
        E.synth_lat((F.col("n_nationkey") * 7919 + 13).cast("double")).alias("lat1"),
        E.synth_lon((F.col("n_nationkey") * 104729 + 7).cast("double")).alias("lon2"),
        E.synth_lat((F.col("n_nationkey") * 104729 + 7).cast("double")).alias("lat2"),
    )
    out = geodesic_waypoints(pairs, n_points=8)
    # 1e-4 deg quantum (~11 m): Karney (Spark) vs the Vincenty golden
    # table (oracle) agree to ~4e-10 deg on this set
    return out.select(
        "pair_id",
        F.col("wp_idx").cast("long").alias("wp_idx"),
        F.floor(F.col("wp_lon") * 1e4).cast("long").alias("wp_lon_e4"),
        F.floor(F.col("wp_lat") * 1e4).cast("long").alias("wp_lat_e4"),
    )


def q_polygon_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic polygon perimeter/area aggregation (role of
    geod_polygon_compute, ref src/geodesic.c:1761) -> rows-only."""
    from proj_spark.operators.geodesic_ops import polygon_metrics

    polys = _fixture_polygons()
    rows = [
        {"poly_id": pid, "vertex_idx": i, "lon": x, "lat": y}
        for pid, ring in polys
        for i, (x, y) in enumerate(ring[:-1])
    ]
    vertices = spark.createDataFrame(rows)
    out = polygon_metrics(vertices)
    # perimeter golden (oracle) comes from the independent Vincenty
    # edge sum; area golden is a Karney-accumulator regression pin
    return out.select(
        "poly_id",
        F.col("n_vertices").cast("long").alias("n_vertices"),
        F.floor(F.col("perimeter_m") / 10.0).cast("long").alias("perimeter_dam"),
        F.floor(F.col("area_m2") / 1e6).cast("long").alias("area_km2"),
    )


def q_catalog_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-dependent datum shift via a dated grid catalog
    (pj_gc_apply_gridshift, ref src/pj_gridcatalog.c:99-281):
    as-of bracket + linear date blend -> rows-only."""
    from proj_spark.operators.gridcatalog import (
        CatalogEntry,
        GridCatalog,
        catalog_shift_udf,
    )
    from proj_spark.operators.gridshift import make_synthetic_grid

    cat = GridCatalog(
        "syn_epochs",
        [
            CatalogEntry(1990.0, make_synthetic_grid("e1990", amp_arcsec=1.0)),
            CatalogEntry(2000.0, make_synthetic_grid("e2000", amp_arcsec=3.0)),
        ],
    )
    pts = _points(spark, sf_dir, "supplier", "s_suppkey").withColumn(
        "epoch", 1988.0 + (F.col("pk") % 16).cast("double")
    )
    udf = catalog_shift_udf(cat)
    out = pts.withColumn("s", udf("lon", "lat", "epoch"))
    return out.select(
        "pk",
        F.col("epoch").cast("long").alias("epoch_y"),
        F.floor(F.col("s.lon") * 1e7).cast("long").alias("lon_e7"),
        F.floor(F.col("s.lat") * 1e7).cast("long").alias("lat_e7"),
    )


def q_healpix_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-area HEALPix cell rollup (ref PJ_healpix.c healpix_sphere)
    — kernel UDF, rows-only."""
    from proj_spark.functions.transform import cell_id_equal_area_udf

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    udf = cell_id_equal_area_udf(5)
    return (
        pts.withColumn("cell", udf("lon", "lat"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.min("pk").alias("min_pk"))
    )


def _synth_vgrid():
    """Analytic float32 geoid grid (same geometry as the horizontal
    synthetic grid): N = 20 sin(2 pi i/60) cos(pi j/30) + 5 meters."""
    import numpy as np

    jj, ii = np.meshgrid(np.arange(32), np.arange(62), indexing="ij")
    pi = 3.141592653589793
    h = (20.0 * np.sin((2.0 * pi * ii) / 60.0)) * np.cos((pi * jj) / 30.0) + 5.0
    # origin half a cell west/south of the point window so no synthetic
    # point sits exactly on a grid edge (edge inclusion is float-fragile
    # through the deg->rad->deg roundtrip)
    return (23.5, -125.5, 1.0, 1.0, h.astype(np.float32))


def q_vgridshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical datum pipeline (+geoidgrids, pj_transform.c stages 6/8):
    geoid -> ellipsoidal heights via GTX bilinear on the source side."""
    from proj_spark.functions.transform import transform
    from proj_spark.sources.grids import register_vgrid

    register_vgrid("geoid_syn", _synth_vgrid())
    pts = _points(spark, sf_dir, "customer", "c_custkey").withColumn(
        "z0", (F.col("pk") % 100).cast("double")
    )
    out = transform(
        pts,
        "+proj=latlong +datum=WGS84 +geoidgrids=geoid_syn",
        "+proj=latlong +datum=WGS84",
        "lon",
        "lat",
        z="z0",
    )
    return out.select(
        "pk",
        F.floor(F.col("z") * 1e4).cast("long").alias("z_e4"),
    )


def _vgridshift_oracle() -> str:
    """Bilinear GTX sample in SQL over the analytic float32 nodes;
    z_out = z_in + N (geoid -> ellipsoidal, source side)."""
    two_pi = TWO_PI_L

    def node(ii: str, jj: str) -> str:
        return (
            f"CAST((20.0 * sin(({two_pi} * ({ii})) / 60.0)) "
            f"* cos(({PI_L} * ({jj})) / 30.0) + 5.0 AS REAL)"
        )

    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL}),
cell AS (SELECT pk, CAST(pk % 100 AS DOUBLE) AS z0,
         floor((lon - (-125.5)) / 1.0) AS ix, floor((lat - 23.5) / 1.0) AS iy,
         (lon - (-125.5)) / 1.0 - floor((lon - (-125.5)) / 1.0) AS fx,
         (lat - 23.5) / 1.0 - floor((lat - 23.5) / 1.0) AS fy
  FROM pts),
interp AS (SELECT pk, z0,
    {node("ix", "iy")} * (1.0-fx) * (1.0-fy)
  + {node("ix+1", "iy")} * fx * (1.0-fy)
  + {node("ix", "iy+1")} * (1.0-fx) * fy
  + {node("ix+1", "iy+1")} * fx * fy AS v
  FROM cell)
SELECT pk, CAST(floor((z0 + v) * 1e4) AS BIGINT) AS z_e4 FROM interp
"""


_EXIF_N = 600


def q_exif_gps_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF GPS lane (round 4): geography lifted from INSIDE the
    payload.  Real camera payloads carry (lat, lon, orientation) in the
    Exif APP1 GPS IFD; at 10^12-image scale the centroid columns may be
    absent or untrusted, so the engine parses the header bytes
    directly (sources/exif.py — header-only walk, never the
    entropy-coded scan, payload never shuffles).

    Build: ONE base JPEG (synth_pixels(0,16,16), real T.81 codec) +
    per-row spliced APP1 with GPS = gps_quantize(centroid_of(idx)) and
    orientation = idx%8+1; extract via the narrow mapInPandas parser;
    web-mercator tile at zoom 6 from the PARSED coordinates; per-tile
    rollup.  ``n_coord_mismatch`` counts rows whose parsed coordinate
    is not BIT-IDENTICAL to the written one — DMS-rational
    quantization (gps_quantize) makes the parse reproduce the exact
    same double, so it must be 0 in every tile, which is what lets the
    oracle replay the FORMULA (no bytes) while the Spark side
    exercises the real splice+parse.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from proj_spark.functions import expressions as E
    from proj_spark.sources.exif import (
        build_app1,
        extract_exif,
        gps_quantize,
        insert_app1,
    )
    from proj_spark.sources.images import centroid_of, encode_image, synth_pixels

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("exp_lat", T.DoubleType()),
            T.StructField("exp_lon", T.DoubleType()),
        ]
    )

    def gen(batches):
        base = encode_image(synth_pixels(0, 16, 16), "jpeg")
        for b in batches:
            rows = []
            for idx in b["id"].to_numpy():
                idx = int(idx)
                lon, lat = centroid_of(0, idx, 0, 0.0, 0.0)
                qlat, qlon = gps_quantize(lat), gps_quantize(lon)
                app1 = build_app1(
                    orientation=idx % 8 + 1,
                    lat=qlat,
                    lon=qlon,
                    dt=f"2026:08:{idx % 28 + 1:02d} 00:00:00",
                )
                rows.append(
                    (f"img{idx:012d}", insert_app1(base, app1), qlat, qlon)
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "exp_lat", "exp_lon"]
            )

    imgs = spark.range(0, _EXIF_N, 1, 4).mapInPandas(gen, schema)
    ex = extract_exif(imgs)
    j = ex.join(imgs.select("image_id", "exp_lat", "exp_lon"), "image_id")
    mismatch = F.when(
        (F.col("lat") != F.col("exp_lat")) | (F.col("lon") != F.col("exp_lon")), 1
    ).otherwise(0)
    return (
        j.withColumn("tx", E.tile_x("lon", 6))
        .withColumn("ty", E.tile_y("lat", 6))
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("orientation") >= 5, 1).otherwise(0)).alias(
                "n_transposed"
            ),
            F.sum(mismatch).cast("long").alias("n_coord_mismatch"),
        )
    )


_PYR_Z0, _PYR_Z1, _PYR_TP, _PYR_N = 8, 5, 16, 60


def _pyramid_base_tiles():
    """(idx, x, y) for the deterministic 10x6 base-tile grid at z=8 —
    shared verbatim by the Spark generator and the oracle replay."""
    for idx in range(_PYR_N):
        yield idx, 60 + idx % 10, 90 + idx // 10


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COG-style overview pyramid (round 4): 60 deterministic 16px PNG
    tiles on a 10x6 grid at z=8, reduced level by level to z=5 with the
    exact-integer 2x2 box filter (operators/pyramid.py), then
    fingerprinted per tile with an exact pixel-sum checksum.  Each
    level is one constant-group-size (<=4 children) shuffle; payload
    decodes/encodes through the REAL PNG codec at every level.  Oracle:
    single-process replay of the identical pyramid on raw arrays (PNG
    is lossless, so byte-lane == array-lane)."""
    import pandas as pd
    from pyspark.sql import types as T

    from proj_spark.operators.pyramid import build_pyramid, pyramid_checksums
    from proj_spark.sources.images import encode_png, synth_pixels

    base_keys = {idx: (x, y) for idx, x, y in _pyramid_base_tiles()}

    schema = T.StructType(
        [
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("bytes", T.BinaryType()),
        ]
    )

    def gen(batches):
        for b in batches:
            rows = []
            for idx in b["id"].to_numpy():
                idx = int(idx)
                x, y = base_keys[idx]
                rows.append((x, y, encode_png(synth_pixels(idx, _PYR_TP, _PYR_TP))))
            yield pd.DataFrame(rows, columns=["x", "y", "bytes"])

    base = spark.range(0, _PYR_N, 1, 4).mapInPandas(gen, schema)
    pyr = build_pyramid(base, _PYR_Z0, _PYR_Z1, _PYR_TP)
    return pyramid_checksums(pyr)


def q_quadkey_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadkey Z-order locality (round 4): customer points -> zoom-6
    tiles -> Bing quadkey (expressions.quadkey — pure codegen concat,
    no UDF) -> rollup by the zoom-4 ANCESTOR PREFIX (first 4 chars),
    counting rows and distinct child tiles per prefix.  This is the
    clustering key the Iceberg seam sorts tile tables by: lexicographic
    quadkey order is Z-order, so a bbox scan prunes to contiguous row
    groups.  Oracle: the same bit math written in DuckDB SQL — a real
    cross-engine oracle, not a replay literal."""
    pts = _points(spark, sf_dir, "customer", "c_custkey")
    t = pts.select(
        E.tile_x("lon", 6).alias("tx"), E.tile_y("lat", 6).alias("ty")
    )
    qk = t.select(E.quadkey("tx", "ty", 6).alias("qk"))
    return qk.groupBy(F.substring("qk", 1, 4).alias("prefix4")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("qk").alias("n_tiles"),
    )


def _quadkey_rollup_oracle() -> str:
    digits = " || ".join(
        f"CAST(((tx >> {6 - i}) & 1) + 2 * ((ty >> {6 - i}) & 1) AS VARCHAR)"
        for i in range(1, 7)
    )
    tile = _TILE_SQL_TMPL.format(z=6, n=1 << 6, D=D, PI=PI_L, src=_CUSTOMER_PTS_SQL)
    # reuse the tile template's tx/ty expressions via a subquery
    return f"""
WITH t AS (SELECT tile_x AS tx, tile_y AS ty, n AS cnt FROM ({tile})),
q AS (SELECT {digits} AS qk, cnt FROM t)
SELECT substr(qk, 1, 4) AS prefix4,
       CAST(sum(cnt) AS BIGINT) AS n,
       count(DISTINCT qk) AS n_tiles
FROM q GROUP BY 1
"""


def q_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption<->embedding alignment filter (round 4, the LAION-style
    curation stage): documents (captions) join their image embeddings
    by id; the caption side is featurized by the deterministic
    hash-projection encoder (operators/align.py — rolling-hash
    fingerprint -> Lehmer LCG expansion, pure codegen); ordered-fold
    cosine, floor-quantized per row BEFORE aggregation; per-label
    rollup of pair count / aligned count / exact score sum.  Oracle:
    the identical integer+fold math in DuckDB SQL."""
    from proj_spark.operators.align import alignment_stats

    docs = _load(spark, sf_dir, "documents")
    emb = _load(spark, sf_dir, "embeddings")
    out = alignment_stats(docs, emb, group_col="label")
    return out.select(F.col("label").cast("long").alias("label"), "n", "n_aligned", "sum_cos_e4")


def _caption_align_oracle() -> str:
    from proj_spark.operators.align import ALIGN_A, ALIGN_B, ALIGN_M

    def fold(expr: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(64), i -> {expr})), (acc, x) -> acc + x)"
        )

    dot = fold("CAST(a[i + 1] AS DOUBLE) * CAST(b[i + 1] AS DOUBLE)")
    na = "sqrt(" + fold("CAST(a[i + 1] AS DOUBLE) * CAST(a[i + 1] AS DOUBLE)") + ")"
    nb = "sqrt(" + fold("CAST(b[i + 1] AS DOUBLE) * CAST(b[i + 1] AS DOUBLE)") + ")"
    return f"""
WITH fp AS (SELECT * FROM ({_fingerprint_oracle()})),
tv AS (
  SELECT doc_id,
         list_transform(range(64), i ->
           CAST((fingerprint * {ALIGN_A} + i * {ALIGN_B}) % {ALIGN_M} AS DOUBLE)
             / {ALIGN_M}.0 * 2.0 - 1.0) AS a
  FROM fp
),
j AS (
  SELECT CAST(e.label AS BIGINT) AS label, tv.a AS a, e.embedding AS b
  FROM tv JOIN embeddings e ON tv.doc_id = e.vec_id
),
s AS (
  SELECT label, CAST(floor(({dot} / ({na} * {nb})) * 1e4) AS BIGINT) AS cos_e4
  FROM j
)
SELECT label,
       count(*) AS n,
       CAST(sum(CASE WHEN cos_e4 >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_aligned,
       CAST(sum(cos_e4) AS BIGINT) AS sum_cos_e4
FROM s GROUP BY label
"""


def q_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash cells (round 4): customer points -> precision-6 geohash
    (expressions.geohash — closed-form quantize+interleave+base32, all
    codegen, matches the public Niemeyer algorithm: LA='9q5ctr',
    London='gcpvj0') -> rollup by the 3-char containing-cell prefix.
    Oracle: the identical integer arithmetic in DuckDB SQL."""
    pts = _points(spark, sf_dir, "customer", "c_custkey")
    g = pts.select(E.geohash("lon", "lat", 6).alias("gh"))
    return g.groupBy(F.substring("gh", 1, 3).alias("prefix3")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("gh").alias("n_cells"),
    )


def _geohash_rollup_oracle() -> str:
    bits, nlon, nlat = 30, 15, 15  # precision 6
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = " || ".join(
        f"substr('{alphabet}', CAST(((iv >> {5 * (6 - 1 - j)}) & 31) + 1 AS INT), 1)"
        for j in range(6)
    )
    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL}),
q AS (
  SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * {1 << nlon}.0), 0), {(1 << nlon) - 1}) AS BIGINT) AS lonq,
         CAST(least(greatest(floor((lat + 90.0) / 180.0 * {1 << nlat}.0), 0), {(1 << nlat) - 1}) AS BIGINT) AS latq
  FROM pts
),
i AS (
  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range({bits}), k -> CASE WHEN k % 2 = 0
             THEN (lonq >> CAST({nlon - 1} - k // 2 AS INT)) & 1
             ELSE (latq >> CAST({nlat - 1} - (k - 1) // 2 AS INT)) & 1 END)),
         (acc, b) -> acc * 2 + b) AS iv
  FROM q
),
g AS (SELECT {chars} AS gh FROM i)
SELECT substr(gh, 1, 3) AS prefix3, count(*) AS n, count(DISTINCT gh) AS n_cells
FROM g GROUP BY 1
"""


_HIL_Z = 8


def q_hilbert_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key (round 4): customer points ->
    zoom-8 tiles -> Hilbert index (expressions.with_hilbert_key —
    seam-free locality, the multi-dimensional sort key modern table
    formats cluster by) -> rollup by the 16-cell Hilbert BLOCK
    (hkey >> 4): each block is one contiguous spatial blob, the range-
    scan unit.  Oracle: the identical rotate-and-accumulate levels
    unrolled as chained CTEs in DuckDB SQL."""
    from proj_spark.functions.expressions import with_hilbert_key

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    t = pts.select(
        E.tile_x("lon", _HIL_Z).alias("tx"), E.tile_y("lat", _HIL_Z).alias("ty")
    )
    h = with_hilbert_key(t, "tx", "ty", _HIL_Z)
    return h.groupBy(F.shiftright(F.col("hkey"), 4).alias("block")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("hkey").alias("n_cells"),
    )


def _hilbert_rollup_oracle() -> str:
    tile = _TILE_SQL_TMPL.format(
        z=_HIL_Z, n=1 << _HIL_Z, D=D, PI=PI_L, src=_CUSTOMER_PTS_SQL
    )
    ctes = [
        f"l0 AS (SELECT tile_x AS x, tile_y AS y, CAST(0 AS BIGINT) AS d, n AS cnt FROM ({tile}))"
    ]
    lvl = 0
    for k in range(_HIL_Z - 1, -1, -1):
        s = 1 << k
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        flip_y = f"(CASE WHEN {rx} = 1 THEN {s - 1} - y ELSE y END)"
        flip_x = f"(CASE WHEN {rx} = 1 THEN {s - 1} - x ELSE x END)"
        ctes.append(
            f"l{lvl + 1} AS (SELECT "
            f"CASE WHEN {ry} = 0 THEN {flip_y} ELSE x END AS x, "
            f"CASE WHEN {ry} = 0 THEN {flip_x} ELSE y END AS y, "
            f"d + {s * s} * xor(3 * {rx}, {ry}) AS d, cnt FROM l{lvl})"
        )
        lvl += 1
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT d >> 4 AS block,
       CAST(sum(cnt) AS BIGINT) AS n,
       count(DISTINCT d) AS n_cells
FROM l{lvl} GROUP BY 1
"""
    )


_S2_LEVEL = 6


def q_s2_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-style hierarchical cell rollup (round 5): GLOBAL customer
    points (all 6 cube faces) -> level-6 cell id = QSC face + S2
    quadratic-ST + in-face Hilbert position (functions/s2cell.py) ->
    rollup by the level-4 ancestor, obtained as ``cell >> 4``: the
    prefix shift IS the parent because the Hilbert curve is
    self-similar — the S2 subtree-range property that hex grids lack.
    Oracle: identical face/uv/st closed forms + the Hilbert levels
    unrolled as chained CTEs in DuckDB."""
    from proj_spark.functions.s2cell import s2_parent, with_s2_cell

    pts = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk"),
        E.synth_lon(F.col("c_custkey").cast("double"), -180.0, 360.0).alias("lon"),
        E.synth_lat(F.col("c_custkey").cast("double"), -85.0, 170.0).alias("lat"),
    )
    c = with_s2_cell(pts, "lon", "lat", _S2_LEVEL)
    return c.groupBy(s2_parent("s2", 2).alias("block")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("s2").alias("n_cells"),
        F.min("pk").alias("min_pk"),
    )


_S2_PTS_SRC = (
    f"SELECT c_custkey AS pk, "
    f"(-180.0 + 360.0 * ((CAST(c_custkey AS DOUBLE) * {PHI}) - floor(CAST(c_custkey AS DOUBLE) * {PHI}))) AS lon, "
    f"(-85.0 + 170.0 * ((CAST(c_custkey AS DOUBLE) * {SQ3}) - floor(CAST(c_custkey AS DOUBLE) * {SQ3}))) AS lat "
    f"FROM customer"
)


def _s2_cell_ctes(src: str, level: int) -> str:
    """WITH-chain replaying functions/s2cell.with_s2_cell bit-exactly:
    face/uv/st closed forms + the Hilbert ladder as chained CTEs,
    ending in ``cells(pk, lon, lat, cell)``.  Shared by the s2_rollup
    and s2_cover_scan oracles."""
    n = 1 << level
    st = "CASE WHEN {0} >= 0 THEN sqrt(1.0 + 3.0 * {0}) * 0.5 ELSE 1.0 - sqrt(1.0 - 3.0 * {0}) * 0.5 END"
    ctes = [
        f"pts AS ({src})",
        f"""xyz AS (
  SELECT pk, lon, lat,
         cos(lat * {D}) * cos(lon * {D}) AS x,
         cos(lat * {D}) * sin(lon * {D}) AS y,
         sin(lat * {D}) AS z
  FROM pts
)""",
        """fc AS (
  SELECT pk, lon, lat, x, y, z,
         CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
              WHEN abs(y) >= abs(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
              ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END AS face
  FROM xyz
)""",
        """uv AS (
  SELECT pk, lon, lat, face,
         CASE face WHEN 0 THEN y / x WHEN 3 THEN z / x WHEN 1 THEN -x / y
                   WHEN 4 THEN z / y WHEN 2 THEN -x / z ELSE -y / z END AS u,
         CASE face WHEN 0 THEN z / x WHEN 3 THEN -y / x WHEN 1 THEN z / y
                   WHEN 4 THEN -x / y WHEN 2 THEN y / z ELSE -x / z END AS v
  FROM uv_src
)""".replace("uv_src", "fc"),
        f"""l0 AS (
  SELECT pk, lon, lat, face,
         CAST(least(greatest(floor(({st.format('u')}) * {n}), 0), {n - 1}) AS BIGINT) AS x,
         CAST(least(greatest(floor(({st.format('v')}) * {n}), 0), {n - 1}) AS BIGINT) AS y,
         CAST(0 AS BIGINT) AS d
  FROM uv
)""",
    ]
    lvl = 0
    for k in range(level - 1, -1, -1):
        s = 1 << k
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        flip_y = f"(CASE WHEN {rx} = 1 THEN {s - 1} - y ELSE y END)"
        flip_x = f"(CASE WHEN {rx} = 1 THEN {s - 1} - x ELSE x END)"
        ctes.append(
            f"l{lvl + 1} AS (SELECT pk, lon, lat, face, "
            f"CASE WHEN {ry} = 0 THEN {flip_y} ELSE x END AS x, "
            f"CASE WHEN {ry} = 0 THEN {flip_x} ELSE y END AS y, "
            f"d + {s * s} * xor(3 * {rx}, {ry}) AS d FROM l{lvl})"
        )
        lvl += 1
    return (
        "WITH " + ",\n".join(ctes)
        + f",\ncells AS (SELECT pk, lon, lat, CAST(face AS BIGINT) * {n * n} + d AS cell FROM l{lvl})"
    )


def _s2_rollup_oracle() -> str:
    return (
        _s2_cell_ctes(_S2_PTS_SRC, _S2_LEVEL)
        + """
SELECT cell >> 4 AS block,
       count(*) AS n,
       count(DISTINCT cell) AS n_cells,
       min(pk) AS min_pk
FROM cells GROUP BY 1
"""
    )


_S2_COVER_LEVEL = 8
_S2_COVER_BBOX = (-30.0, 20.0, 40.0, 60.0)


def q_s2_cover_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 region-cover scan (round 5): the bbox is turned into <=48
    inclusive level-8 cell-id ranges driver-side
    (functions/s2cover.s2_cover_bbox — exact half-space geometry,
    superset-guaranteed), the scan filters on OR-of-BETWEEN over the
    cell id (parquet-pushable: on a cell-sorted table this IS row-group
    pruning), then refines with the exact lon/lat predicate.  The
    oracle is the plain exact bbox filter + the shared cell ladder —
    an INDEPENDENT derivation that never sees the cover, so a cover
    false-negative (a dropped cell) fails the gate.

    The cover is applied as a BROADCAST LEFT-SEMI range join, not an
    OR-of-BETWEEN filter: on a COMPUTED cell column a filter would be
    pushed through the unrolled Hilbert projections, substituting the
    ladder into all ~96 comparisons (measured: optimizer heap OOM);
    the join keeps the ladder evaluated once per row.  The pushable
    predicate form (s2cover.s2_range_predicate) is for STORED cell
    columns, where it prunes parquet row groups
    (tests/test_s2cover.py)."""
    from proj_spark.functions.s2cell import with_s2_cell
    from proj_spark.functions.s2cover import s2_cover_bbox

    w, s, e, n = _S2_COVER_BBOX
    ranges = s2_cover_bbox(w, s, e, n, _S2_COVER_LEVEL, max_ranges=48)
    rng_df = spark.createDataFrame(
        [(int(lo), int(hi)) for lo, hi in ranges], "lo long, hi long"
    )
    pts = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk"),
        E.synth_lon(F.col("c_custkey").cast("double"), -180.0, 360.0).alias("lon"),
        E.synth_lat(F.col("c_custkey").cast("double"), -85.0, 170.0).alias("lat"),
    )
    c = with_s2_cell(pts, "lon", "lat", _S2_COVER_LEVEL)
    return (
        c.join(  # index scan: broadcast the cover ranges
            F.broadcast(rng_df),
            F.col("s2").between(F.col("lo"), F.col("hi")),
            "leftsemi",
        )
        .where(F.col("lon").between(w, e) & F.col("lat").between(s, n))  # refine
        .select("pk", F.col("s2").alias("cell"))
    )


def _s2_cover_scan_oracle() -> str:
    w, s, e, n = _S2_COVER_BBOX
    return (
        _s2_cell_ctes(_S2_PTS_SRC, _S2_COVER_LEVEL)
        + f"""
SELECT pk, cell
FROM cells
WHERE lon BETWEEN {w} AND {e} AND lat BETWEEN {s} AND {n}
"""
    )


_RAST_Z, _RAST_K = 8, 4


def q_polygon_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector->raster rasterization (round 4): burn the 12 fixture
    polygons into zoom-8 per-tile coverage fractions by 4x4
    supersampled even-odd ray casting (operators/rasterize.py) — the
    'rasterize the AOI' stage before masking imagery tiles.  Oracle:
    the identical candidate-explode -> crossing-join -> parity ->
    coverage SQL in DuckDB."""
    from proj_spark.operators.rasterize import rasterize_coverage

    return rasterize_coverage(spark, _fixture_polygons(), _RAST_Z, _RAST_K)


def _rast_inside_cte(k: int, z: int) -> str:
    """WITH-clause body (cand/edges/tiles/samples/inside) shared by the
    rasterize-coverage and zonal-stats oracles: ``inside`` holds one
    row per k x k sub-cell sample whose center passes the even-odd
    ray cast — the token-for-token SQL replay of
    operators/rasterize._inside_samples."""
    from proj_spark.operators.rasterize import _tile_range

    n = 1 << z
    cand_rows = []
    edge_rows = []
    for seq, (pid, ring) in enumerate(_fixture_polygons()):
        x0, x1, y0, y1 = _tile_range(ring, z)
        cand_rows.append(f"({seq}, '{pid}', {x0}, {x1}, {y0}, {y1})")
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            edge_rows.append(f"({seq}, {ax!r}, {ay!r}, {bx!r}, {by!r})")
    return f"""cand(poly_seq, poly_id, x0, x1, y0, y1) AS (VALUES {",".join(cand_rows)}),
edges(e_seq, ex1, ey1, ex2, ey2) AS (VALUES {",".join(edge_rows)}),
tiles AS (
  SELECT poly_seq, poly_id, tx.tile_x, ty.tile_y
  FROM cand,
       unnest(generate_series(x0, x1)) AS tx(tile_x),
       unnest(generate_series(y0, y1)) AS ty(tile_y)
),
samples AS (
  SELECT poly_seq, poly_id, tile_x, tile_y, s.si,
         ((CAST(tile_x AS DOUBLE) + (CAST(s.si % {k} AS DOUBLE) + 0.5) / {float(k)!r}) / {float(n)!r}) * 360.0 - 180.0 AS s_lon,
         degrees(atan((exp({math.pi!r} * (1.0 - 2.0 * ((CAST(tile_y AS DOUBLE) + (floor(CAST(s.si AS DOUBLE) / {k}) + 0.5) / {float(k)!r}) / {float(n)!r})))
                     - exp(-({math.pi!r} * (1.0 - 2.0 * ((CAST(tile_y AS DOUBLE) + (floor(CAST(s.si AS DOUBLE) / {k}) + 0.5) / {float(k)!r}) / {float(n)!r}))))) / 2.0)) AS s_lat
  FROM tiles, unnest(generate_series(0, {k * k - 1})) AS s(si)
),
inside AS (
  SELECT poly_seq, poly_id, tile_x, tile_y, si, count(*) AS nc
  FROM samples s JOIN edges e
    ON s.poly_seq = e.e_seq
   AND ((e.ey1 > s.s_lat) != (e.ey2 > s.s_lat))
   AND s.s_lon < (e.ex2 - e.ex1) * (s.s_lat - e.ey1) / (e.ey2 - e.ey1) + e.ex1
  GROUP BY 1, 2, 3, 4, 5
  HAVING count(*) % 2 = 1
)"""


def _polygon_raster_oracle() -> str:
    k = _RAST_K
    return f"""
WITH {_rast_inside_cte(k, _RAST_Z)}
SELECT poly_id, tile_x, tile_y,
       count(*) AS n_inside,
       CAST(floor(count(*) * 10000.0 / {float(k * k)!r}) AS BIGINT) AS coverage_e4
FROM inside GROUP BY 1, 2, 3
"""


# (zoom, tile_px) for the zonal-statistics lane; the three channel
# offsets make the synthetic pixel an SQL-replayable integer hash of
# (tile_x, tile_y, pixel_index, channel)
_ZONAL_Z, _ZONAL_TP = 8, 16
_ZPX = (73856093, 19349663, 83492791, 40503)


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (raster<->vector aggregate): burn the fixture
    polygons into per-tile pixel masks (rasterize_masks at
    k = tile_px, so sample index == pixel index), synthesize the
    deterministic tile rasters on the EXECUTORS (lossless PNG of an
    integer hash pixel), then decode + mask + aggregate per zone with
    map-side partials (operators/rasterize.zonal_stats).  Oracle: the
    identical sample CTE at k=16 with the pixel hash applied in SQL."""
    import numpy as np
    import pandas as pd

    from proj_spark.operators.rasterize import rasterize_masks, zonal_stats

    tp = _ZONAL_TP
    masks = rasterize_masks(spark, _fixture_polygons(), _ZONAL_Z, tp)
    tile_ids = masks.select(
        F.col("tile_x").alias("x"), F.col("tile_y").alias("y")
    ).distinct()
    ax, ay, asi, ac = _ZPX

    def synth(batches):
        from proj_spark.sources.images import encode_png

        si = np.arange(tp * tp, dtype=np.int64)[:, None]
        ch = np.arange(3, dtype=np.int64)[None, :]
        for b in batches:
            rows = []
            for x, y in zip(b["x"].to_numpy(), b["y"].to_numpy()):
                v = (int(x) * ax + int(y) * ay + si * asi + ch * ac) % 256
                rows.append(
                    (int(x), int(y), encode_png(v.reshape(tp, tp, 3).astype(np.uint8)))
                )
            yield pd.DataFrame(rows, columns=["x", "y", "bytes"])

    tiles = tile_ids.mapInPandas(synth, "x long, y long, bytes binary")
    return zonal_stats(tiles, masks, tp).select(
        "poly_id", "n_tiles", "n_pix", "sum_r", "sum_g", "sum_b",
        "min_luma", "max_luma",
    )


def _zonal_stats_oracle() -> str:
    ax, ay, asi, ac = _ZPX
    base = f"(tile_x * {ax} + tile_y * {ay} + si * {asi})"
    return f"""
WITH {_rast_inside_cte(_ZONAL_TP, _ZONAL_Z)},
px AS (
  SELECT poly_id, tile_x, tile_y, si,
         {base} % 256 AS r,
         ({base} + {ac}) % 256 AS g,
         ({base} + {2 * ac}) % 256 AS b
  FROM inside
)
SELECT poly_id,
       CAST(count(DISTINCT tile_x * 4294967296 + tile_y) AS BIGINT) AS n_tiles,
       count(*) AS n_pix,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b,
       CAST(min(r + g + b) AS BIGINT) AS min_luma,
       CAST(max(r + g + b) AS BIGINT) AS max_luma
FROM px GROUP BY poly_id
"""


# ================================================================ exports
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CRS pipeline (datum gridshift + Helmert + merc)
    -> web tiles -> rollup, on sf0.001."""
    from proj_spark.functions.transform import transform
    from proj_spark.operators.gridshift import make_synthetic_grid, register_grid
    from proj_spark.operators.tiles import tile_counts

    sf_dir = "/root/testdata/sf0.001"
    register_grid("conus_syn", make_synthetic_grid())
    pts = _points(spark, sf_dir, "orders", "o_orderkey")
    shifted = transform(
        pts,
        "+proj=latlong +ellps=clrk66 +nadgrids=conus_syn",
        "+proj=latlong +datum=WGS84",
        "lon",
        "lat",
    )
    return tile_counts(
        shifted.select("pk", F.col("x").alias("lon2"), F.col("y").alias("lat2")),
        [4, 8],
        "lon2",
        "lat2",
    )



# ================================================== overlay / interval joins
def _boxes(spark, sf_dir, table, key):
    """Deterministic small boxes anchored at the synth points: width/
    height in (0.1, 0.9) degrees from golden-ratio fractions."""
    pts = _points(spark, sf_dir, table, key)
    return pts.select(
        F.col("pk").alias("box_id"),
        F.col("lon").alias("x0"),
        F.col("lat").alias("y0"),
        (F.col("lon") + E.synth_lon((F.col("pk") * 3 + 1).cast("double"), lo=0.1, span=0.8)).alias("x1"),
        (F.col("lat") + E.synth_lat((F.col("pk") * 5 + 2).cast("double"), lo=0.1, span=0.8)).alias("y1"),
    )


def _boxes_sql(table: str, kcol: str) -> str:
    k2 = f"CAST({kcol} * 3 + 1 AS DOUBLE)"
    k3 = f"CAST({kcol} * 5 + 2 AS DOUBLE)"
    k = f"CAST({kcol} AS DOUBLE)"
    return (
        f"SELECT {kcol} AS box_id, {_lon_sql(k)} AS x0, {_lat_sql(k)} AS y0, "
        f"{_lon_sql(k)} + (0.1 + 0.8 * (({k2} * {PHI}) - floor({k2} * {PHI}))) AS x1, "
        f"{_lat_sql(k)} + (0.1 + 0.8 * (({k3} * {SQ3}) - floor({k3} * {SQ3}))) AS y1 "
        f"FROM {table}"
    )


def q_bbox_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangle x rectangle intersection join (operators/overlay.py):
    cell-bucketed candidates with REFERENCE-POINT dedup — the joined
    row survives only in the cell holding the intersection's lower-left
    corner, so there is no distinct() shuffle at all (one shuffle pair
    total; the PBSM report-once trick).  Customer boxes vs supplier
    boxes; the oracle is the all-pairs SQL with identical overlap and
    area trees."""
    from proj_spark.operators.overlay import bbox_overlap_join

    out = bbox_overlap_join(
        _boxes(spark, sf_dir, "customer", "c_custkey"),
        _boxes(spark, sf_dir, "supplier", "s_suppkey"),
        res=6,
    )
    return out.select(
        "a_id", "b_id",
        F.floor(F.col("ix0") * 1e7).cast("long").alias("ix0_e7"),
        F.floor(F.col("iy0") * 1e7).cast("long").alias("iy0_e7"),
        F.floor(F.col("area") * 1e9).cast("long").alias("area_e9"),
    )


def _bbox_overlay_oracle() -> str:
    return f"""
WITH a AS ({_boxes_sql("customer", "c_custkey")}),
b AS ({_boxes_sql("supplier", "s_suppkey")})
SELECT a.box_id AS a_id, b.box_id AS b_id,
       CAST(floor(greatest(a.x0, b.x0) * 1e7) AS BIGINT) AS ix0_e7,
       CAST(floor(greatest(a.y0, b.y0) * 1e7) AS BIGINT) AS iy0_e7,
       CAST(floor((least(a.x1, b.x1) - greatest(a.x0, b.x0))
                * (least(a.y1, b.y1) - greatest(a.y0, b.y0)) * 1e9) AS BIGINT) AS area_e9
FROM a, b
WHERE a.x0 < b.x1 AND b.x0 < a.x1 AND a.y0 < b.y1 AND b.y0 < a.y1
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval-overlap join (operators/overlay.py): the 1-D
    sibling of bbox_overlay — bucket-cover candidates, reference-bucket
    dedup, no distinct() shuffle.  Event intervals (ts, ts + synth
    duration <= ~2h) for two disjoint user cohorts; oracle: all-pairs
    SQL with identical trees (DuckDB plans it as an IEJoin)."""
    from proj_spark.operators.overlay import interval_overlap_join

    ev = _load(spark, sf_dir, "events").select(
        F.col("event_id").alias("iv_id"),
        F.col("user_id"),
        F.col("ts").cast("timestamp").cast("long").cast("double").alias("t0"),
    ).withColumn(
        "t1",
        F.col("t0") + 120.0 + 7200.0 * E.frac(F.col("iv_id").cast("double") * F.lit(E._PHI_INV)),
    )
    a = ev.where(F.col("user_id") % 4 == 0).drop("user_id")
    b = ev.where(F.col("user_id") % 4 == 1).drop("user_id")
    out = interval_overlap_join(a, b, bucket=3600, max_buckets=8)
    return out.select(
        "a_id", "b_id",
        F.floor(F.col("o0")).cast("long").alias("o0_s"),
        F.floor(F.col("overlap")).cast("long").alias("ov_s"),
    )


def _interval_join_oracle() -> str:
    iv = (
        "SELECT event_id AS iv_id, user_id, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS t0i FROM events"
    )
    dur = f"120.0 + 7200.0 * ((CAST(iv_id AS DOUBLE) * {PHI}) - floor(CAST(iv_id AS DOUBLE) * {PHI}))"
    side = (
        f"SELECT iv_id, CAST(t0i AS DOUBLE) AS t0, CAST(t0i AS DOUBLE) + {dur} AS t1 "
        f"FROM ({iv}) WHERE user_id % 4 = {{m}}"
    )
    return f"""
WITH a AS ({side.format(m=0)}),
b AS ({side.format(m=1)})
SELECT a.iv_id AS a_id, b.iv_id AS b_id,
       CAST(floor(greatest(a.t0, b.t0)) AS BIGINT) AS o0_s,
       CAST(floor(least(a.t1, b.t1) - greatest(a.t0, b.t0)) AS BIGINT) AS ov_s
FROM a, b
WHERE a.t0 < b.t1 AND b.t0 < a.t1
"""


# ====================================================== hull / farthest pair
def q_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation farthest customer pair (operators/hull.py): salted
    partial convex hulls -> merged hull -> pair scan over hull vertices
    only (the calipers reduction).  The oracle re-derives it the dumb
    exact way — all pairs per group including self-pairs (so singleton
    and all-coincident groups match the hull path), max by
    (d2, smallest ids)."""
    from proj_spark.operators.hull import group_diameter

    cust = _load(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").alias("g"),
        F.col("c_custkey").alias("id"),
        E.synth_lon(F.col("c_custkey").cast("double")).alias("x"),
        E.synth_lat(F.col("c_custkey").cast("double")).alias("y"),
    )
    out = group_diameter(pts, group="g", id_col="id", x="x", y="y")
    return out.select(
        "group_id", "a_id", "b_id",
        F.floor(F.col("d2") * 1e9).cast("long").alias("d2_e9"),
    )


def _diameter_oracle() -> str:
    return f"""
WITH pts AS (
  SELECT c_nationkey AS g, c_custkey AS id,
         {_lon_sql('CAST(c_custkey AS DOUBLE)')} AS x,
         {_lat_sql('CAST(c_custkey AS DOUBLE)')} AS y
  FROM customer
),
pairs AS (
  SELECT a.g, a.id AS a_id, b.id AS b_id,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM pts a JOIN pts b ON a.g = b.g AND a.id <= b.id
),
ranked AS (
  SELECT g, a_id, b_id, d2,
         row_number() OVER (PARTITION BY g ORDER BY d2 DESC, a_id, b_id) AS rn
  FROM pairs
)
SELECT CAST(g AS BIGINT) AS group_id, a_id, b_id,
       CAST(floor(d2 * 1e9) AS BIGINT) AS d2_e9
FROM ranked WHERE rn = 1
"""


# ========================================================= trajectory paths
_CELL_PATH_RES = 7


def q_cell_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-compressed visited-cell path per user
    (operators/trajectory.cell_path — map-matching lite): snap each
    event ping to a res-7 cell, collapse consecutive same-cell pings
    into visit rows via spatial gaps-and-islands.  ONE shuffle: the
    run groupBy reuses the window's user partitioning.  Oracle: the
    identical lag / running-sum / group SQL in DuckDB."""
    from proj_spark.operators.trajectory import cell_path

    ev = _load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        E.synth_lon(F.col("event_id").cast("double")).alias("lon"),
        E.synth_lat(F.col("event_id").cast("double")).alias("lat"),
    )
    out = cell_path(ev, res=_CELL_PATH_RES, tie="event_id")
    return out.select(
        F.col("user").alias("user_id"),
        "seq",
        "cell",
        F.col("entered").cast("timestamp").cast("long").alias("entered_s"),
        "n_pings",
    )


def _cell_path_oracle() -> str:
    n = 1 << _CELL_PATH_RES
    k = "CAST(event_id AS DOUBLE)"
    lon, lat = _lon_sql(k), _lat_sql(k)
    ix = f"CAST(least(greatest(floor((({lon} - 360.0 * floor(({lon} + 180.0) / 360.0)) + 180.0) / 360.0 * {float(2 * n)!r}), 0), {2 * n - 1}) AS BIGINT)"
    iy = f"CAST(least(greatest(floor(({lat} + 90.0) / 180.0 * {float(n)!r}), 0), {n - 1}) AS BIGINT)"
    return f"""
WITH c AS (
  SELECT user_id, ts, event_id, ({iy}) * {2 * n} + ({ix}) AS cell FROM events
),
l AS (
  SELECT user_id, ts, cell,
         lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         event_id
  FROM c
),
r AS (
  SELECT user_id, ts, cell,
         sum(CASE WHEN prev IS NULL OR prev <> cell THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) - 1 AS seq
  FROM l
)
SELECT user_id, CAST(seq AS BIGINT) AS seq, min(cell) AS cell,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS entered_s,
       count(*) AS n_pings
FROM r GROUP BY 1, 2
"""


# ========================================================== heavy hitters
_TOP_TERMS_K = 10


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language heavy hitters: explode whitespace tokens, keep
    lowercase-alpha terms, two-phase count (map-side partial combine
    comes free from the hash aggregate), then top-10 per language with
    a deterministic (n desc, term asc) total order.  The window runs
    over the already-aggregated (lang, term) set — tiny vs the corpus.
    Oracle: identical unnest + group + row_number SQL."""
    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("raw"),
    ).select("lang", F.lower(F.col("raw")).alias("term"))
    counts = (
        toks.where(F.col("term").rlike("^[a-z]+$"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_TERMS_K)
        .select("lang", "term", "n", F.col("rank").cast("long").alias("rank"))
    )


def _top_terms_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT lang, lower(unnest({_TOKENS_RAW_SQL})) AS term FROM documents
),
counts AS (
  SELECT lang, term, count(*) AS n FROM toks
  WHERE regexp_matches(term, '^[a-z]+$') GROUP BY 1, 2
),
ranked AS (
  SELECT lang, term, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS rank
  FROM counts
)
SELECT lang, term, n, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_TOP_TERMS_K}
"""


# ====================================================== spherical navigation
def q_cross_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-track / along-track distance (functions/navigation.py):
    each customer point against its nation's great-circle route —
    broadcast the 25-row route dim, pure JVM trig columns, no UDF.
    Oracle: token-identical SQL trees, floor-quantized at meter scale
    (far coarser than cross-engine libm drift)."""
    from pyspark.sql.functions import broadcast

    from proj_spark.functions import navigation as NAV

    routes = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"),
        E.synth_lon((F.col("n_nationkey") * 11 + 3).cast("double")).alias("rlon1"),
        E.synth_lat((F.col("n_nationkey") * 11 + 3).cast("double")).alias("rlat1"),
        E.synth_lon((F.col("n_nationkey") * 13 + 5).cast("double")).alias("rlon2"),
        E.synth_lat((F.col("n_nationkey") * 13 + 5).cast("double")).alias("rlat2"),
    )
    cust = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nk"),
        E.synth_lon(F.col("c_custkey").cast("double")).alias("plon"),
        E.synth_lat(F.col("c_custkey").cast("double")).alias("plat"),
    )
    j = cust.join(broadcast(routes), on="nk")
    args = [F.col(c) for c in ("rlon1", "rlat1", "rlon2", "rlat2", "plon", "plat")]
    return j.select(
        "id",
        F.col("nk").cast("long").alias("nk"),
        F.floor(NAV.cross_track_m(*args)).cast("long").alias("dxt_m"),
        F.floor(NAV.along_track_m(*args)).cast("long").alias("dat_m"),
    )


def _cross_track_oracle() -> str:
    from proj_spark.functions import navigation as NAV

    args = ("r.rlon1", "r.rlat1", "r.rlon2", "r.rlat2", "p.plon", "p.plat")

    def route_pt(mul, add, fn):
        return fn(f"CAST(n_nationkey * {mul} + {add} AS DOUBLE)")

    return f"""
WITH r AS (
  SELECT n_nationkey AS nk,
         {route_pt(11, 3, _lon_sql)} AS rlon1, {route_pt(11, 3, _lat_sql)} AS rlat1,
         {route_pt(13, 5, _lon_sql)} AS rlon2, {route_pt(13, 5, _lat_sql)} AS rlat2
  FROM nation
),
p AS (
  SELECT c_custkey AS id, c_nationkey AS nk,
         {_lon_sql('CAST(c_custkey AS DOUBLE)')} AS plon,
         {_lat_sql('CAST(c_custkey AS DOUBLE)')} AS plat
  FROM customer
)
SELECT p.id, CAST(p.nk AS BIGINT) AS nk,
       CAST(floor({NAV.cross_track_sql(*args)}) AS BIGINT) AS dxt_m,
       CAST(floor({NAV.along_track_sql(*args)}) AS BIGINT) AS dat_m
FROM p JOIN r ON p.nk = r.nk
"""


# ==================================================== STR spatial partitioner
_STR_SLABS, _STR_CELLS, _STR_MOD = 8, 8, 16


def q_str_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-based balanced spatial partitioning
    (operators/partitioner.py): ntile quantile slabs on a
    deterministic ``id % 16`` sample, (lo, hi] broadcast range-joins
    (each point matches exactly one row — no fan, no extra shuffle),
    per-partition load + bbox rollup as the balance proof.  Oracle:
    DuckDB replays the identical ntile/lag construction."""
    from proj_spark.operators.partitioner import str_partition_stats

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    return str_partition_stats(
        pts, _STR_SLABS, _STR_CELLS, _STR_MOD, id_col="pk"
    ).orderBy("part_id")


def _str_partitions_oracle() -> str:
    s, c, m = _STR_SLABS, _STR_CELLS, _STR_MOD
    return f"""
WITH pts AS (SELECT pk AS id, lon, lat FROM ({_CUSTOMER_PTS_SQL})),
samp AS (SELECT * FROM pts WHERE id % {m} = 0),
st AS (SELECT id, lon, ntile({s}) OVER (ORDER BY lon, id) AS slab FROM samp),
sb0 AS (SELECT slab, max(lon) AS mx FROM st GROUP BY slab),
sb AS (
  SELECT slab,
         coalesce(lag(mx) OVER (ORDER BY slab), CAST('-infinity' AS DOUBLE)) AS lo,
         CASE WHEN slab = (SELECT max(slab) FROM sb0)
              THEN CAST('infinity' AS DOUBLE) ELSE mx END AS hi
  FROM sb0
),
ws AS (
  SELECT p.id, p.lon, p.lat, s.slab
  FROM pts p JOIN sb s ON p.lon > s.lo AND p.lon <= s.hi
),
ss AS (
  SELECT sm.id, sm.lat, s.slab
  FROM samp sm JOIN sb s ON sm.lon > s.lo AND sm.lon <= s.hi
),
ct AS (SELECT slab, id, lat,
              ntile({c}) OVER (PARTITION BY slab ORDER BY lat, id) AS cell
       FROM ss),
cb0 AS (SELECT slab, cell, max(lat) AS mx FROM ct GROUP BY 1, 2),
cb AS (
  SELECT slab, cell,
         coalesce(lag(mx) OVER (PARTITION BY slab ORDER BY cell),
                  CAST('-infinity' AS DOUBLE)) AS lo,
         CASE WHEN cell = max(cell) OVER (PARTITION BY slab)
              THEN CAST('infinity' AS DOUBLE) ELSE mx END AS hi
  FROM cb0
),
a AS (
  SELECT w.id, w.lon, w.lat,
         (w.slab - 1) * {c} + b.cell - 1 AS part_id
  FROM ws w JOIN cb b ON w.slab = b.slab AND w.lat > b.lo AND w.lat <= b.hi
)
SELECT CAST(part_id AS BIGINT) AS part_id, count(*) AS n_points,
       CAST(floor(min(lon) * 1e7) AS BIGINT) AS lon_min_q,
       CAST(floor(max(lon) * 1e7) AS BIGINT) AS lon_max_q,
       CAST(floor(min(lat) * 1e7) AS BIGINT) AS lat_min_q,
       CAST(floor(max(lat) * 1e7) AS BIGINT) AS lat_max_q
FROM a GROUP BY 1 ORDER BY part_id
"""


# ============================================================== KDE heatmap
_KDE_RES, _KDE_H_CELLS = 8, 1.5


def q_kde_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Epanechnikov KDE surface (operators/kde.py): bounded
    (2k+1)^2 neighbor-cell fan, integer-quantized weights so the
    per-cell sum is order-independent, map-side partial combine on the
    one groupBy.  Oracle: identical arithmetic via a range() fan."""
    from proj_spark.operators.kde import kde_heatmap

    pts = _points(spark, sf_dir, "orders", "o_orderkey")
    return kde_heatmap(pts, _KDE_RES, _KDE_H_CELLS)


def _kde_oracle() -> str:
    n = 1 << _KDE_RES
    cell = 360.0 / (2 * n)
    h2 = (_KDE_H_CELLS * cell) ** 2
    clon = f"(-180.0 + (cx + 0.5) * {cell!r})"
    clat = f"(-90.0 + (cy + 0.5) * {cell!r})"
    return f"""
WITH pts AS ({_ORDERS_PTS_SQL}),
b AS (
  SELECT lon AS plon, lat AS plat,
         CAST(least(greatest(floor((lon + 180.0) / {cell!r}), 0), {2 * n - 1}) AS BIGINT) AS ix,
         CAST(least(greatest(floor((lat + 90.0) / {cell!r}), 0), {n - 1}) AS BIGINT) AS iy
  FROM pts
),
fan AS (
  SELECT plon, plat, ix + dx.x AS cx, iy + dy.y AS cy
  FROM b, range(-2, 3) dx(x), range(-2, 3) dy(y)
  WHERE ix + dx.x >= 0 AND ix + dx.x < {2 * n}
    AND iy + dy.y >= 0 AND iy + dy.y < {n}
),
w AS (
  SELECT cx, cy,
         CAST(floor(greatest(
           1.0 - (({clon} - plon) * ({clon} - plon)
                + ({clat} - plat) * ({clat} - plat)) / {h2!r},
           0.0) * 4096) AS BIGINT) AS wq
  FROM fan
)
SELECT cy * {2 * n} + cx AS cell, cx AS ix, cy AS iy,
       CAST(sum(wq) AS BIGINT) AS density
FROM w WHERE wq > 0 GROUP BY cx, cy
"""


# ============================================================= map matching
_SNAP_RADIUS = 0.25


def _snap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short synthetic road segments off supplier keys: endpoint a is
    the usual synth point, endpoint b a +-0.2-degree offset."""
    k = F.col("s_suppkey").cast("double")
    ax = E.synth_lon(k)
    ay = E.synth_lat(k)
    return _load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("seg_id"),
        ax.alias("ax"),
        ay.alias("ay"),
        (ax + E.synth_lon((k * 7 + 3), lo=-0.2, span=0.4)).alias("bx"),
        (ay + E.synth_lat((k * 13 + 5), lo=-0.2, span=0.4)).alias("by"),
    )


def q_snap_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching (operators/mapmatch.py): nearest segment within
    0.25 deg via radius-expanded bbox cell cover on the SMALL side
    (the point side never explodes), exact point-to-segment planar
    distance, arg-min with a (d2, seg_id) total order.  Oracle: brute
    force over all segments — also proves cover completeness."""
    from proj_spark.operators.mapmatch import snap_to_segments

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    segs = _snap_segments(spark, sf_dir)
    return snap_to_segments(pts, segs, _SNAP_RADIUS, id_col="pk")


def _snap_oracle() -> str:
    r = _SNAP_RADIUS

    def d(expr, lo, span):
        return f"({lo!r} + {span!r} * (({expr}) * {{c}} - floor(({expr}) * {{c}})))"

    dx_sql = d("CAST(s_suppkey * 7 + 3 AS DOUBLE)", -0.2, 0.4).format(c=PHI)
    dy_sql = d("CAST(s_suppkey * 13 + 5 AS DOUBLE)", -0.2, 0.4).format(c=SQ3)
    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL}),
segs AS (
  SELECT s_suppkey AS sid,
         {_lon_sql('CAST(s_suppkey AS DOUBLE)')} AS ax,
         {_lat_sql('CAST(s_suppkey AS DOUBLE)')} AS ay,
         {_lon_sql('CAST(s_suppkey AS DOUBLE)')} + {dx_sql} AS bx,
         {_lat_sql('CAST(s_suppkey AS DOUBLE)')} + {dy_sql} AS by
  FROM supplier
),
cand AS (
  SELECT p.pk, s.sid,
         CASE WHEN (s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay) > 0
              THEN least(greatest(
                ((p.lon - s.ax) * (s.bx - s.ax) + (p.lat - s.ay) * (s.by - s.ay))
                / ((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay)),
                0.0), 1.0)
              ELSE 0.0 END AS t,
         s.ax, s.ay, s.bx, s.by, p.lon, p.lat
  FROM pts p, segs s
),
dist AS (
  SELECT pk, sid, t,
         (lon - (ax + t * (bx - ax))) * (lon - (ax + t * (bx - ax)))
       + (lat - (ay + t * (by - ay))) * (lat - (ay + t * (by - ay))) AS d2
  FROM cand
),
ranked AS (
  SELECT pk, sid, t, d2,
         row_number() OVER (PARTITION BY pk ORDER BY d2, sid) AS rn
  FROM dist WHERE d2 <= {r * r!r}
)
SELECT pk AS id, sid AS seg_id,
       CAST(floor(d2 * 1e12) AS BIGINT) AS d2_q,
       CAST(floor(t * 1e9) AS BIGINT) AS t_q
FROM ranked WHERE rn = 1
"""


# ====================================================== trajectory resample
_RS_STEP_US = 21_600_000_000  # 6 h
_RS_MAX_STEPS = 8


def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory gap-fill (operators/resample.py): one lead() window
    per user, capped sequence() fan at 6-hour epoch boundaries,
    integer-microsecond time (no float epoch drift), linear
    interpolation floor-quantized at 1e-7 deg.  Oracle: identical
    lead + generate_series SQL."""
    from proj_spark.operators.resample import resample_trajectories

    ev = _load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        E.synth_lon(F.col("event_id").cast("double")).alias("lon"),
        E.synth_lat(F.col("event_id").cast("double")).alias("lat"),
    )
    return resample_trajectories(
        ev,
        _RS_STEP_US,
        _RS_MAX_STEPS,
        entity="user_id",
        ts="ts",
        lon="lon",
        lat="lat",
        tie="event_id",
    )


def _resample_oracle() -> str:
    s = _RS_STEP_US
    k = "CAST(event_id AS DOUBLE)"
    return f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS e0,
         {_lon_sql(k)} AS lon0, {_lat_sql(k)} AS lat0,
         lead(epoch_us(ts)) OVER w AS e1,
         lead({_lon_sql(k)}) OVER w AS lon1,
         lead({_lat_sql(k)}) OVER w AS lat1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT *,
         CAST(floor(CAST(e0 AS DOUBLE) / {float(s)!r}) + 1 AS BIGINT) AS k0,
         least(CAST(floor(CAST(e1 AS DOUBLE) / {float(s)!r}) AS BIGINT),
               CAST(floor(CAST(e0 AS DOUBLE) / {float(s)!r}) + 1 AS BIGINT)
               + {_RS_MAX_STEPS - 1}) AS k1
  FROM p WHERE e1 > e0
),
fan AS (
  SELECT g.*, gs.k
  FROM g, LATERAL (SELECT unnest(generate_series(k0, k1)) AS k) gs
  WHERE k0 <= k1
),
i AS (
  SELECT user_id, k,
         (CAST(k AS DOUBLE) * {float(s)!r} - CAST(e0 AS DOUBLE))
           / (CAST(e1 AS DOUBLE) - CAST(e0 AS DOUBLE)) AS frac,
         lon0, lat0, lon1, lat1
  FROM fan
)
SELECT user_id, CAST(k * {s} AS BIGINT) AS epoch_us,
       CAST(floor((lon0 + frac * (lon1 - lon0)) * 1e7) AS BIGINT) AS lon_q,
       CAST(floor((lat0 + frac * (lat1 - lat0)) * 1e7) AS BIGINT) AS lat_q
FROM i
"""


# ====================================================== PMI co-occurrence
_PMI_MIN_DF, _PMI_MAX_DF, _PMI_MIN_PAIRS = 5, 0.8, 5


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence PMI (operators/cooccur.py): per-doc
    DISTINCT terms, [min_df, max_df] vocabulary band before the pair
    join (the stopword ceiling bounds the fan), one doc-keyed
    equi-join with a term_a < term_b total order.  Oracle: identical
    unnest/distinct/join SQL; counts exact, the single ln
    floor-quantized at 1e-4."""
    from proj_spark.operators.cooccur import pmi_pairs

    return pmi_pairs(
        _load(spark, sf_dir, "documents"),
        _PMI_MIN_DF,
        _PMI_MAX_DF,
        _PMI_MIN_PAIRS,
    )


def _pmi_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, lower(unnest({_TOKENS_RAW_SQL})) AS term
  FROM documents
),
toks_ok AS (
  SELECT doc_id, term FROM toks WHERE regexp_matches(term, '^[a-z]+$')
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
dfreq AS (SELECT term, count(*) AS df FROM toks_ok GROUP BY term),
vocab AS (
  SELECT term, df FROM dfreq, nd
  WHERE df >= {_PMI_MIN_DF} AND df <= n * {_PMI_MAX_DF!r}
),
tv AS (
  SELECT t.doc_id, t.term, v.df FROM toks_ok t JOIN vocab v USING (term)
),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b,
         count(*) AS n_ab, min(a.df) AS n_a, min(b.df) AS n_b
  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
)
SELECT term_a, term_b, n_ab, n_a, n_b,
       CAST(floor(ln((CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE))
                     / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * 1e4)
            AS BIGINT) AS pmi_q
FROM pairs, nd
WHERE n_ab >= {_PMI_MIN_PAIRS}
"""


# ============================================================== OD matrix
_OD_RES = 6
_OD_PERIOD_US = 86_400_000_000  # 1 day


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flows (operators/trajectory.py od_matrix):
    first/last cell per (user, day) via one unbounded-frame window,
    then a pair-keyed rollup with map-side combine.  Integer-us
    periods; oracle replays the identical window SQL."""
    from proj_spark.operators.trajectory import od_matrix

    ev = _load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        E.synth_lon(F.col("event_id").cast("double")).alias("lon"),
        E.synth_lat(F.col("event_id").cast("double")).alias("lat"),
    )
    return od_matrix(
        ev, res=_OD_RES, period_us=_OD_PERIOD_US, tie="event_id"
    ).select(
        "o_cell",
        "d_cell",
        "n_trips",
        F.col("n_users").cast("long").alias("n_users"),
    )


def _od_oracle() -> str:
    n = 1 << _OD_RES
    k = "CAST(event_id AS DOUBLE)"
    lon, lat = _lon_sql(k), _lat_sql(k)
    ix = f"CAST(least(greatest(floor((({lon} - 360.0 * floor(({lon} + 180.0) / 360.0)) + 180.0) / 360.0 * {float(2 * n)!r}), 0), {2 * n - 1}) AS BIGINT)"
    iy = f"CAST(least(greatest(floor(({lat} + 90.0) / 180.0 * {float(n)!r}), 0), {n - 1}) AS BIGINT)"
    return f"""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / {float(_OD_PERIOD_US)!r}) AS BIGINT) AS period,
         ({iy}) * {2 * n} + ({ix}) AS cell
  FROM events
),
t AS (
  SELECT DISTINCT user_id, period,
         first_value(cell) OVER w AS o_cell,
         last_value(cell) OVER w AS d_cell
  FROM c
  WINDOW w AS (PARTITION BY user_id, period ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT o_cell, d_cell, count(*) AS n_trips,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM t GROUP BY 1, 2
"""


# ======================================================== image augmentation
def q_augment_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dihedral (D4) image augmentation (operators/augment.py): real
    np.rot90/flip/transpose on uint8 tile buffers in one narrow
    mapInPandas (payload never shuffles), exact-integer fingerprints
    per output tile (plain sum + position-weighted sum + corners).
    Oracle: DuckDB replays each output pixel via the D4 source-index
    mapping over the LCG closed form."""
    from proj_spark.operators.augment import augment_tiles
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles

    grid = LatLonGrid(**_WARP_GRID)
    tiles = lcg_tiles(spark, grid, partitions=8)
    return augment_tiles(tiles, grid.tile_px)


def _augment_oracle() -> str:
    from proj_spark.operators.augment import augment_oracle_sql

    g = _WARP_GRID
    return augment_oracle_sql(g["width"], g["height"], g["tile_px"])


# =============================================== raster distance transform
def q_distance_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source L1 distance transform (operators/rasterdt.py):
    per-tile two-pass chamfer exact given the 1-px halo, iterative
    int32 strip exchange until no tile changes (rounds <= tile-grid
    Manhattan diameter — the raster sibling of sssp's relaxation).
    Oracle: closed-form min over all block-hash seeds of |dx|+|dy|,
    independent of the sweep machinery."""
    from proj_spark.operators.blobs import block_hash_tiles
    from proj_spark.operators.rasterdt import distance_transform

    w, h, ts = _BLOB["width"], _BLOB["height"], _BLOB["tile_px"]
    tiles = block_hash_tiles(spark, w, h, ts)
    return distance_transform(tiles, ts, w // ts, h // ts, iso=240)


def _dt_oracle() -> str:
    from proj_spark.operators.rasterdt import dt_oracle_sql

    return dt_oracle_sql(
        _BLOB["width"], _BLOB["height"], _BLOB["tile_px"], 240
    )


# ======================================================== network analysis
_SSSP = dict(n_x=12, n_y=9, source=0)


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest path by distributed Bellman-Ford label
    relaxation (operators/network.py): one join + groupBy per round,
    convergence from the checkpointed frame (the connected-components
    execution shape), exact integer distances.  Oracle: DuckDB capped
    recursive CTE — an independent engine derivation, not a replay of
    the relaxation."""
    from proj_spark.operators.network import lattice_edges, sssp

    e = lattice_edges(spark, _SSSP["n_x"], _SSSP["n_y"])
    return sssp(e, _SSSP["source"]).select("node", "dist")


def _sssp_oracle() -> str:
    from proj_spark.operators.network import sssp_oracle_sql

    return sssp_oracle_sql(**_SSSP)


_FACS = [0, 57, 101]


def q_catchment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network catchment assignment (operators/network.py
    nearest_facility): multi-source SSSP whose label is a
    lexicographic (dist, facility) struct — every node gets its
    nearest facility's id with smallest-id tie-break, the
    service-area/allocation product.  Oracle: the capped recursive CTE
    seeded at every facility + lexicographic rollup."""
    from proj_spark.operators.network import lattice_edges, nearest_facility

    e = lattice_edges(spark, _SSSP["n_x"], _SSSP["n_y"])
    return nearest_facility(e, _FACS).select("node", "dist", "fac")


def _catchment_oracle() -> str:
    from proj_spark.operators.network import facility_oracle_sql

    return facility_oracle_sql(_SSSP["n_x"], _SSSP["n_y"], _FACS)


# ========================================================== geostatistics
_VGRAM = dict(max_dist_m=200_000.0, n_bins=8, res=6)


def q_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram + Ripley's K pair counts
    (operators/geostat.py): cell-bucketed unordered pairs (dbscan's
    eps-join shape — one equi-join shuffle, never all-pairs), exact
    int64 squared value differences per lag bin, K's cumulative count
    as a window cumsum over the 8-row aggregate.  Oracle: DuckDB
    all-pairs with the identical haversine double tree."""
    from pyspark.sql import Window

    from proj_spark.operators.geostat import variogram_k

    pts = _points(spark, sf_dir, "customer", "c_custkey").withColumn(
        "v", F.pmod(F.col("pk") * 7919 + 31, F.lit(256))
    )
    out = variogram_k(
        pts, _VGRAM["max_dist_m"], _VGRAM["n_bins"], res=_VGRAM["res"],
        id_col="pk", value="v",
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return out.select(
        "bin", "n_pairs", "sq_sum",
        F.sum("n_pairs").over(w).alias("cum_pairs"),
    )


def _variogram_oracle() -> str:
    hav = _HAVERSINE_SQL.format(
        lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon", D=D
    )
    md, nb = _VGRAM["max_dist_m"], _VGRAM["n_bins"]
    bw = md / nb
    return f"""
WITH c AS ({_CUSTOMER_PTS_SQL}),
p AS (SELECT pk, lon, lat, (pk * 7919 + 31) % 256 AS v FROM c),
pairs AS (
  SELECT CAST(floor({hav} / {bw!r}) AS BIGINT) AS bin,
         (a.v - b.v) * (a.v - b.v) AS sq
  FROM p a JOIN p b ON a.pk < b.pk
  WHERE {hav} < {md!r}
),
g AS (
  SELECT bin, count(*) AS n_pairs, CAST(sum(sq) AS BIGINT) AS sq_sum
  FROM pairs GROUP BY bin
)
SELECT bin, n_pairs, sq_sum,
       CAST(sum(n_pairs) OVER (ORDER BY bin) AS BIGINT) AS cum_pairs
FROM g
"""


# ===================================================== blob extraction (CCL)
_BLOB = dict(width=128, height=96, tile_px=32, iso=176)


def q_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed raster connected-component labeling
    (operators/blobs.py): per-tile vectorized min-label CCL, border
    stubs (O(edge) rows, never a tile payload re-shuffle), cross-tile
    merge through the shared label-propagation CC, exact per-blob
    pixel/tile counts.  Blob id = global min masked pixel gid, an
    engine-independent name.  Oracle: DuckDB recursive transitive
    closure over the same block-hash closed-form mask (11 of the 110
    fixture blobs span tiles, so the merge path is load-bearing)."""
    from proj_spark.operators.blobs import block_hash_tiles, label_blobs

    tiles = block_hash_tiles(
        spark, _BLOB["width"], _BLOB["height"], _BLOB["tile_px"]
    )
    return label_blobs(
        tiles, _BLOB["tile_px"], _BLOB["width"], _BLOB["iso"]
    ).select(
        "blob", "n_px", "n_tiles",
        "bb_x0", "bb_y0", "bb_x1", "bb_y1", "sum_gx", "sum_gy",
    )


def _blobs_oracle() -> str:
    from proj_spark.operators.blobs import blobs_oracle_sql

    return blobs_oracle_sql(**_BLOB)


# ========================================================= change detection
_CD_MUL_B, _CD_ADD_B = 2246822519, 98765  # epoch-B LCG seed
_CD_THRESHOLD = 32


def q_change_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch raster change detection (operators/changedetect.py):
    one tile-key equi-join of the epochs (co-located when both sides
    are bucketed by tile at scale), one narrow mapInPandas for the
    pixel diff, exact-integer change fingerprints.  Oracle: DuckDB
    evaluates both LCG closed forms per pixel."""
    from proj_spark.operators.changedetect import diff_tiles
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles

    grid = LatLonGrid(**_WARP_GRID)
    a = lcg_tiles(spark, grid, partitions=8)
    b = lcg_tiles(spark, grid, partitions=8, mul=_CD_MUL_B, add=_CD_ADD_B)
    return diff_tiles(a, b, grid.tile_px, _CD_THRESHOLD)


def _change_oracle() -> str:
    from proj_spark.operators.changedetect import diff_oracle_sql

    g = _WARP_GRID
    return diff_oracle_sql(
        g["width"], g["height"], g["tile_px"], _CD_THRESHOLD,
        2654435761, 12345, _CD_MUL_B, _CD_ADD_B,
    )


# ======================================================== contour extraction
_CONTOUR_ISO = 128


def q_contour_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares contour extraction (operators/contour.py):
    classify every 2x2 pixel cell of the tiled LCG raster against an
    iso level, count crossed cells / emitted segments per tile.  Halo
    is 3 thin fragments per tile (W column, N row, NW pixel) — leaner
    than the Sobel stencil's 8 — into one bounded fused-group
    assembly.  Oracle: DuckDB evaluates the LCG closed form at each
    cell's four corners and rebuilds the identical case triple."""
    from proj_spark.operators.contour import contour_tiles
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles

    grid = LatLonGrid(**_WARP_GRID)
    ts = grid.tile_px
    tiles = lcg_tiles(spark, grid, partitions=8).select(
        F.col("sx").alias("x"), F.col("sy").alias("y"), "bytes"
    )
    return contour_tiles(
        tiles, ts, grid.width // ts, grid.height // ts, _CONTOUR_ISO
    )


def _contour_oracle() -> str:
    from proj_spark.operators.contour import contour_oracle_sql

    g = _WARP_GRID
    return contour_oracle_sql(
        g["width"], g["height"], g["tile_px"], _CONTOUR_ISO, 2654435761, 12345
    )


# ===================================================== histogram equalization
def q_histeq_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile histogram equalization (operators/histeq.py): 256-bin
    CDF + exact floor-division remap per tile — ZERO shuffles, one
    narrow mapInPandas over the LCG raster (runs at scan speed at any
    scale).  Oracle: DuckDB rebuilds each tile's CDF with a window over
    the grouped closed-form histogram and replays the identical remap."""
    from proj_spark.operators.histeq import equalize_tiles
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles

    grid = LatLonGrid(**_WARP_GRID)
    tiles = lcg_tiles(spark, grid, partitions=8).select(
        F.col("sx").alias("x"), F.col("sy").alias("y"), "bytes"
    )
    return equalize_tiles(tiles, grid.tile_px)


def _histeq_oracle() -> str:
    from proj_spark.operators.histeq import equalize_oracle_sql

    g = _WARP_GRID
    return equalize_oracle_sql(
        g["width"], g["height"], g["tile_px"], 2654435761, 12345
    )


# ==================================================== spatial autocorrelation
_MORANS_RES = 7


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I (operators/autocorr.py) over the res-7 cell
    rollup of customer points: exact integer numerator/denominator by
    clearing the rational mean (d_i = N*x_i - Sum x), rook weights via
    a broadcast self-join of the bounded cell table — the only
    exchange is the rollup itself.  Oracle: identical integer algebra
    in DuckDB."""
    from proj_spark.operators.autocorr import morans_i

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    cells = (
        pts.withColumn("cell", E.cell_id("lon", "lat", _MORANS_RES))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return morans_i(cells, _MORANS_RES)


def _morans_cells_src() -> str:
    n = 1 << _MORANS_RES
    k = "CAST(c_custkey AS DOUBLE)"
    lon, lat = _lon_sql(k), _lat_sql(k)
    ix = f"CAST(least(greatest(floor((({lon} - 360.0 * floor(({lon} + 180.0) / 360.0)) + 180.0) / 360.0 * {float(2 * n)!r}), 0), {2 * n - 1}) AS BIGINT)"
    iy = f"CAST(least(greatest(floor(({lat} + 90.0) / 180.0 * {float(n)!r}), 0), {n - 1}) AS BIGINT)"
    return (
        f"SELECT ({iy}) * {2 * n} + ({ix}) AS cell, count(*) AS v "
        f"FROM customer GROUP BY 1"
    )


def _morans_oracle() -> str:
    from proj_spark.operators.autocorr import morans_oracle_sql

    return morans_oracle_sql(_morans_cells_src(), _MORANS_RES)


def q_gi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores (operators/autocorr.py) over the
    same res-7 customer rollup as morans_i: per occupied cell, exact
    integer A/C pieces (mean-cleared numerator, weight variance term)
    plus a 1e-6-quantized z from one shared double tree.  Broadcast
    9-direction self-join of the bounded cell table — the rollup is the
    only exchange.  Oracle: identical algebra in DuckDB."""
    from proj_spark.operators.autocorr import gi_star

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    cells = (
        pts.withColumn("cell", E.cell_id("lon", "lat", _MORANS_RES))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return gi_star(cells, _MORANS_RES)


def _gi_star_oracle() -> str:
    from proj_spark.operators.autocorr import gi_star_oracle_sql

    return gi_star_oracle_sql(_morans_cells_src(), _MORANS_RES)


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISA local Moran cluster pieces (operators/autocorr.py) over the
    res-7 customer rollup: ENTIRELY integer (d_i, neighbor d-sum, the
    i_num product, HH/LL/HL/LH quadrant code) — no quantization at
    all.  Same zero-shuffle 8-lookup broadcast shape as gi_star.
    Oracle: identical integer algebra in DuckDB."""
    from proj_spark.operators.autocorr import local_moran

    pts = _points(spark, sf_dir, "customer", "c_custkey")
    cells = (
        pts.withColumn("cell", E.cell_id("lon", "lat", _MORANS_RES))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return local_moran(cells, _MORANS_RES)


def _local_moran_oracle() -> str:
    from proj_spark.operators.autocorr import local_moran_oracle_sql

    return local_moran_oracle_sql(_morans_cells_src(), _MORANS_RES)


# ====================================================== Mann-Kendall trend
_MK_RES = 7


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Mann-Kendall trend over daily event counts
    (operators/autocorr.py) — the emerging-hot-spot core: zero-filled
    (cell x day) study cube, exact integer S + tie-corrected 18*Var(S),
    continuity-corrected z quantized from one shared double tree.  The
    pairwise fan is bounded by the 30-day window, not the data; one
    cell-keyed exchange feeds both the pair join and the tie rollup.
    Oracle: identical cube + algebra in DuckDB."""
    from proj_spark.operators.autocorr import mann_kendall, zero_fill_bins

    return mann_kendall(zero_fill_bins(_mk_rollup(spark, sf_dir)))


def _mk_oracle() -> str:
    from proj_spark.operators.autocorr import mann_kendall_oracle_sql

    return mann_kendall_oracle_sql(_mk_rollup_sql())


def _mk_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _load(spark, sf_dir, "events")
    es = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)
    ).cast("long")
    return (
        ev.select(
            E.cell_id(
                E.synth_lon(F.col("event_id").cast("double")),
                E.synth_lat(F.col("event_id").cast("double")),
                _MK_RES,
            ).alias("cell"),
            F.floor(es / F.lit(86400.0)).cast("long").alias("day"),
        )
        .groupBy("cell", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )


def _mk_rollup_sql() -> str:
    n = 1 << _MK_RES
    k = "CAST(event_id AS DOUBLE)"
    lon, lat = _lon_sql(k), _lat_sql(k)
    ix = f"CAST(least(greatest(floor((({lon} - 360.0 * floor(({lon} + 180.0) / 360.0)) + 180.0) / 360.0 * {float(2 * n)!r}), 0), {2 * n - 1}) AS BIGINT)"
    iy = f"CAST(least(greatest(floor(({lat} + 90.0) / 180.0 * {float(n)!r}), 0), {n - 1}) AS BIGINT)"
    return (
        f"SELECT ({iy}) * {2 * n} + ({ix}) AS cell, "
        f"CAST(floor(floor(epoch(ts)) / 86400.0) AS BIGINT) AS day, "
        f"count(*) AS x FROM events GROUP BY 1, 2"
    )


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per cell (operators/autocorr.py)
    over the same zero-filled daily cube as mann_kendall: integer-
    quantized pair slopes (exact — bounded denominators keep the
    double tree hazard-free), LOWER-MEDIAN selection via row_number
    (no interpolation), the median window reusing the pair join's
    cell partitioning.  Oracle: identical SQL in DuckDB."""
    from proj_spark.operators.autocorr import theil_sen, zero_fill_bins

    return theil_sen(zero_fill_bins(_mk_rollup(spark, sf_dir)))


def _theil_sen_oracle() -> str:
    from proj_spark.operators.autocorr import theil_sen_oracle_sql

    return theil_sen_oracle_sql(_mk_rollup_sql())


# ========================================================= stay-point dwell
_STAY_RES = 7
_STAY_MIN_DWELL_S = 3600


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (operators/trajectory.stay_points): collapse
    each user's pings into same-cell runs and keep the runs that dwell
    >= 1h, with exact integer dwell/centroid fingerprints.  The fixture
    keys the synthetic position on (user_id, UTC day) so users actually
    dwell — one spot per day — exactly reproducible in SQL.  ONE
    user-keyed shuffle shared by the lag window, run numbering, and
    run groupBy.  Oracle: identical gaps-and-islands + HAVING SQL."""
    from proj_spark.operators.trajectory import stay_points

    ev = _load(spark, sf_dir, "events")
    es = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)
    ).cast("long")
    k = (F.col("user_id") * F.lit(64) + F.floor(es / F.lit(86400.0))).cast(
        "double"
    )
    ev = ev.select(
        "user_id",
        "ts",
        "event_id",
        E.synth_lon(k).alias("lon"),
        E.synth_lat(k).alias("lat"),
    )
    out = stay_points(
        ev, res=_STAY_RES, min_dwell_s=_STAY_MIN_DWELL_S, tie="event_id"
    )
    return out.withColumnRenamed("user", "user_id")


def _stay_oracle() -> str:
    n = 1 << _STAY_RES
    k = "(CAST(user_id AS DOUBLE) * 64.0 + floor(floor(epoch(ts)) / 86400.0))"
    lon, lat = _lon_sql(k), _lat_sql(k)
    ix = f"CAST(least(greatest(floor((({lon} - 360.0 * floor(({lon} + 180.0) / 360.0)) + 180.0) / 360.0 * {float(2 * n)!r}), 0), {2 * n - 1}) AS BIGINT)"
    iy = f"CAST(least(greatest(floor(({lat} + 90.0) / 180.0 * {float(n)!r}), 0), {n - 1}) AS BIGINT)"
    return f"""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         ({iy}) * {2 * n} + ({ix}) AS cell,
         CAST(floor({lon} * 1000000.0) AS BIGINT) AS qlon,
         CAST(floor({lat} * 1000000.0) AS BIGINT) AS qlat
  FROM events
),
l AS (
  SELECT *, lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM c
),
r AS (
  SELECT *, sum(CASE WHEN prev IS NULL OR prev <> cell THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) - 1 AS seq
  FROM l
)
SELECT user_id, CAST(seq AS BIGINT) AS seq, min(cell) AS cell,
       min(es) AS entered_s,
       max(es) - min(es) AS dwell_s,
       count(*) AS n_pings,
       CAST(sum(qlon) AS BIGINT) AS qlon_sum,
       CAST(sum(qlat) AS BIGINT) AS qlat_sum
FROM r GROUP BY 1, 2
HAVING max(es) - min(es) >= {_STAY_MIN_DWELL_S}
"""


def _rotate_oldest_first(reg: "dict[str, Callable]") -> "dict[str, Callable]":
    """Sort the query registry so the entries with the stalest (or no)
    driver-green evidence lead — see :func:`queries`.  Evidence is read
    from the committed CORRECTNESS_r*.json files next to this module; a
    missing/unreadable file or a malformed row simply contributes no
    evidence (fail-open: the entry sorts earlier and gets re-checked).
    """
    import glob as _glob
    import json as _json
    import os as _os

    newest: dict[str, int] = {}
    root = _os.path.dirname(_os.path.abspath(__file__))
    for path in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int("".join(c for c in _os.path.basename(path) if c.isdigit()))
            data = _json.load(open(path))
        except Exception:
            continue
        rows = data.get("queries", data)
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") in (True, None)
            ):
                newest[name] = max(newest.get(name, 0), rnd)
    names = list(reg)
    order = sorted(names, key=lambda n: (newest.get(n, 0), names.index(n)))
    return {n: reg[n] for n in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every entry has a DuckDB oracle in :func:`oracle_sql`.

    Ordering is MECHANICAL — the frozen rotation policy (round-4
    verdict task 1): the driver's CORRECTNESS gate checks only the
    first 50 entries each round, so :func:`_rotate_oldest_first` sorts
    the registry by the newest round in which each entry was
    driver-green (scanning the committed ``CORRECTNESS_r*.json``
    artifacts at call time).  Entries with NO driver artifact ever
    (brand-new queries) lead; then oldest-evidence-first; ties keep
    the hand-written dict order below.  Every round the gate therefore
    re-verifies exactly the 50 entries with the stalest evidence, and
    a growing registry can never permanently strand an entry — each
    one cycles back through the window every ceil(len/50)+1 rounds.

    The hand-written order below groups by operator family; tail
    families are intentionally redundant siblings of in-window
    machinery (simhash⊂simhash_pairs, minhash_sigs⊂lsh_pairs,
    boilerplate⊂strip_boilerplate, dedup_components⊂dedup_groups,
    ann_cosine/ann_ivf⊂ann_lsh refine, tile_counts⊂tile_multizoom,
    kernel fwd queries ⊂ the fused/roundtrip pipelines), so even the
    stalest tail is machinery-covered in-window every round.  All 88
    r4-era entries have at least one green driver row across r1–r4
    plus a local ``tools/check_oracle.py`` gate (green 2026-08-19).
    """
    return _rotate_oldest_first({
        # hand-written order = family grouping + tie-break; the actual
        # returned order is the mechanical oldest-evidence-first sort
        "blobs": q_blobs,
        "horn": q_horn,
        "variogram": q_variogram,
        "sssp": q_sssp,
        "catchment": q_catchment,
        "distance_transform": q_distance_transform,
        "contour_tiles": q_contour_tiles,
        "morans_i": q_morans_i,
        "gi_star": q_gi_star,
        "mann_kendall": q_mann_kendall,
        "local_moran": q_local_moran,
        "theil_sen": q_theil_sen,
        "stay_points": q_stay_points,
        "histeq_tiles": q_histeq_tiles,
        "str_partitions": q_str_partitions,
        "kde_heatmap": q_kde_heatmap,
        "snap_points": q_snap_points,
        "resample": q_resample,
        "pmi_pairs": q_pmi_pairs,
        "od_matrix": q_od_matrix,
        "augment_tiles": q_augment_tiles,
        "change_tiles": q_change_tiles,
        "vgridshift": q_vgridshift,
        "geodesic_inverse": q_geodesic_inverse,
        "utm_inverse_roundtrip": q_utm_inverse_roundtrip,
        "images_payload": q_images_payload,
        "factors": q_factors,
        "healpix_cells": q_healpix_cells,
        "geodesic_waypoints": q_geodesic_waypoints,
        "polygon_metrics": q_polygon_metrics,
        "catalog_asof": q_catalog_asof,
        "image_features": q_image_features,
        "tile_multizoom": q_tile_multizoom,
        "seg_intersections": q_seg_intersections,
        "bbox_overlay": q_bbox_overlay,
        "interval_join": q_interval_join,
        "diameter": q_diameter,
        "cross_track": q_cross_track,
        "cell_path": q_cell_path,
        "top_terms": q_top_terms,
        "zonal_stats": q_zonal_stats,
        "hilbert_rollup": q_hilbert_rollup,
        "s2_rollup": q_s2_rollup,
        "s2_cover_scan": q_s2_cover_scan,
        "dissolve": q_dissolve,
        "image_dedup_groups": q_image_dedup_groups,
        "cell_rollup": q_cell_rollup,
        "tile_pyramid": q_tile_pyramid,
        "knn": q_knn,
        "knn_hex": q_knn_hex,
        "knn_isea": q_knn_isea,
        "hex_rollup": q_hex_rollup,
        "ea_hex_rollup": q_ea_hex_rollup,
        "range_join_isea": q_range_join_isea,
        "range_join": q_range_join,
        "pip": q_pip,
        "boundary_distance": q_boundary_distance,
        "simplify": q_simplify,
        "fused_pip_tiles": q_fused_pip_tiles,
        "warp_webmerc": q_warp_webmerc,
        "warp_bilinear": q_warp_bilinear,
        "asof_clicks": q_asof_clicks,
        "token_stats": q_token_stats,
        "caption_align": q_caption_align,
        "lsh_pairs": q_lsh_pairs,
        "composite": q_composite,
        "dedup_groups": q_dedup_groups,
        "audio_features": q_audio_features,
        "dbscan": q_dbscan,
        "trajectory": q_trajectory,
        "adaptive_bins": q_adaptive_bins,
        "pack_budget": q_pack_budget,
        "pii_scrub": q_pii_scrub,
        "idw": q_idw,
        "quadkey_rollup": q_quadkey_rollup,
        "profile": q_profile,
        "salted_join_rollup": q_salted_join_rollup,
        "chips": q_chips,
        "exif_gps_tiles": q_exif_gps_tiles,
        "video_frames": q_video_frames,
        "sobel": q_sobel,
        "tile_manifest": q_tile_manifest,
        "cosine_dedup": q_cosine_dedup,
        "gridshift_roundtrip": q_gridshift_roundtrip,
        # redundant siblings of the machinery above (see docstring)
        "geohash_rollup": q_geohash_rollup,
        "langid": q_langid,
        "fused_assign": q_fused_assign,
        "sessionize": q_sessionize,
        "contamination": q_contamination,
        "simhash_pairs": q_simhash_pairs,
        "phash_pairs": q_phash_pairs,
        "stratified_sample": q_stratified_sample,
        "ann_lsh": q_ann_lsh,
        "exact_dedup": q_exact_dedup,
        "image_quality": q_image_quality,
        "polygon_raster": q_polygon_raster,
        "webmerc_fwd": q_webmerc_fwd,
        "utm_fwd": q_utm_fwd,
        "quality": q_quality,
        "kmv_distinct": q_kmv_distinct,
        "aea_fwd": q_aea_fwd,
        "stere_polar_fwd": q_stere_polar_fwd,
        "utm_cheby_fwd": q_utm_cheby_fwd,
        "simhash": q_simhash,
        "minhash_sigs": q_minhash_sigs,
        "boilerplate": q_boilerplate,
        "dedup_components": q_dedup_components,
        "hash_split": q_hash_split,
        "tile_counts": q_tile_counts,
        "ann_cosine": q_ann_cosine,
        "ann_ivf": q_ann_ivf,
        "salted_rollup": q_salted_rollup,
        "event_tiles": q_event_tiles,
        "sinu_fwd": q_sinu_fwd,
        "phash_star_pairs": q_phash_star_pairs,
        "jaccard_consecutive": q_jaccard_consecutive,
        "cubeface_rollup": q_cubeface_rollup,
        "repetition": q_repetition,
        "fingerprint": q_fingerprint,
        "strip_boilerplate": q_strip_boilerplate,
        "helmert_ecef": q_helmert_ecef,
        "lcc_fwd": q_lcc_fwd,
    })


# ================================================ oracles: formerly rows-only
# Techniques (VERDICT round-1 item 1): closed-form SQL mirrors for the
# non-iterative math (grid bilinear, healpix, analytic LCC factors),
# residual-zero oracles for roundtrips, and INDEPENDENT-algorithm golden
# tables (Vincenty vs the Karney production path) for geodesics, all
# quantized with >=1e3 safety margin over the measured cross-engine /
# cross-algorithm deltas.

R2D = repr(57.29577951308232)  # RAD_TO_DEG exact literal
_SEC2R_F = DEG_TO_RAD / 3600.0
TWO_PI_L = repr(2.0 * 3.141592653589793)


def _grid_node_sql(amp: float, n_lon: int = 61, n_lat: int = 31):
    """SQL expressions for make_synthetic_grid node values (float32),
    replicating the numpy op order exactly (gridshift.py:283-314)."""
    a_lam = repr(amp * _SEC2R_F)
    a_phi = repr((0.5 * amp) * _SEC2R_F)
    nl = float(n_lon - 1)
    np_ = float(n_lat - 1)

    def lam_node(ii: str, jj: str) -> str:
        return (
            f"CAST(({a_lam} * sin(({TWO_PI_L} * ({ii})) / {nl})) "
            f"* cos(({PI_L} * ({jj})) / {np_}) AS REAL)"
        )

    def phi_node(ii: str, jj: str) -> str:
        return (
            f"CAST(({a_phi} * cos(({TWO_PI_L} * ({jj})) / {np_})) "
            f"* sin(({PI_L} * ({ii})) / {nl}) AS REAL)"
        )

    return lam_node, phi_node


def _grid_shift_cte(tag: str, amp: float) -> str:
    """CTE body computing the forward nad_cvt shift (nad_cvt.c forward
    branch: out_lam = lam - t.lam, out_phi = phi + t.phi) with bilinear
    node interpolation (nad_intr.c) over the analytic float32 grid."""
    ll_lam = repr(-125.0 * DEG_TO_RAD)
    ll_phi = repr(24.0 * DEG_TO_RAD)
    cell = repr(1.0 * DEG_TO_RAD)
    lam_node, phi_node = _grid_node_sql(amp)
    return f"""
cell_{tag} AS (
  SELECT pk, lam, phi,
         floor((((lam - ({ll_lam})) - {PI_L}) + {PI_L}) / {cell}) AS il,
         floor((phi - ({ll_phi})) / {cell}) AS ip,
         (((lam - ({ll_lam})) - {PI_L}) + {PI_L}) / {cell}
           - floor((((lam - ({ll_lam})) - {PI_L}) + {PI_L}) / {cell}) AS fl,
         (phi - ({ll_phi})) / {cell} - floor((phi - ({ll_phi})) / {cell}) AS fp
  FROM rad),
shift_{tag} AS (
  SELECT pk, lam, phi,
    lam - (((1.0-fl)*(1.0-fp)) * {lam_node("il", "ip")}
         + (fl*(1.0-fp)) * {lam_node("il+1", "ip")}
         + ((1.0-fl)*fp) * {lam_node("il", "ip+1")}
         + (fl*fp) * {lam_node("il+1", "ip+1")}) AS out_lam,
    phi + (((1.0-fl)*(1.0-fp)) * {phi_node("il", "ip")}
         + (fl*(1.0-fp)) * {phi_node("il+1", "ip")}
         + ((1.0-fl)*fp) * {phi_node("il", "ip+1")}
         + (fl*fp) * {phi_node("il+1", "ip+1")}) AS out_phi
  FROM cell_{tag})"""


def _gridshift_oracle() -> str:
    return f"""
WITH pts AS ({_ORDERS_PTS_SQL}),
rad AS (SELECT pk, lon * {D} AS lam, lat * {D} AS phi FROM pts),
{_grid_shift_cte("g", 2.0)}
SELECT pk,
  CAST(floor((out_lam * {R2D}) * 1e7) AS BIGINT) AS lon_e7,
  CAST(floor((out_phi * {R2D}) * 1e7) AS BIGINT) AS lat_e7
FROM shift_g
"""


def _catalog_asof_oracle() -> str:
    """pj_gc_apply_gridshift blend: bracket [1990, 2000], linear weight
    w = (epoch - 1990)/10 clamped, applied to the two per-entry shifted
    outputs (gridcatalog.py:55-97).  Output path divides by DEG_TO_RAD
    exactly like catalog_shift_udf."""
    src = (
        f"SELECT s_suppkey AS pk, {_lon_sql('CAST(s_suppkey AS DOUBLE)')} AS lon, "
        f"{_lat_sql('CAST(s_suppkey AS DOUBLE)')} AS lat, "
        f"1988.0 + CAST(s_suppkey % 16 AS DOUBLE) AS epoch FROM supplier"
    )
    return f"""
WITH pts AS ({src}),
rad AS (SELECT pk, epoch, lon * {D} AS lam, lat * {D} AS phi FROM pts),
{_grid_shift_cte("a", 1.0)},
{_grid_shift_cte("b", 3.0)}
SELECT r.pk,
  CAST(r.epoch AS BIGINT) AS epoch_y,
  CAST(floor(((a.out_lam + (b.out_lam - a.out_lam)
     * (CASE WHEN r.epoch <= 1990.0 THEN 0.0
             WHEN r.epoch >= 2000.0 THEN 1.0
             ELSE (r.epoch - 1990.0) / 10.0 END)) / {D}) * 1e7) AS BIGINT) AS lon_e7,
  CAST(floor(((a.out_phi + (b.out_phi - a.out_phi)
     * (CASE WHEN r.epoch <= 1990.0 THEN 0.0
             WHEN r.epoch >= 2000.0 THEN 1.0
             ELSE (r.epoch - 1990.0) / 10.0 END)) / {D}) * 1e7) AS BIGINT) AS lat_e7
FROM rad r JOIN shift_a a USING (pk) JOIN shift_b b USING (pk)
"""


def _utm_roundtrip_oracle() -> str:
    """Residual oracle: the fwd+inv roundtrip error must floor to 0 at
    1e-9 deg for EVERY row — DuckDB supplies the expected-zero frame
    over the identically-filtered key set."""
    lon = _lon_sql("CAST(s_suppkey AS DOUBLE)")
    return (
        f"SELECT s_suppkey AS pk, CAST(0 AS BIGINT) AS err_lon_e9, "
        f"CAST(0 AS BIGINT) AS err_lat_e9 FROM supplier "
        f"WHERE {lon} >= -120.0 AND {lon} <= -114.0"
    )


def _healpix_oracle(res: int = 5) -> str:
    """Closed-form HEALPix sphere forward (PJ_healpix.c:214-236) +
    the equal-area cell binning of cell_id_equal_area_udf."""
    n = 1 << res
    phi0 = repr(float(__import__("numpy").arcsin(2.0 / 3.0)))
    hpi = repr(3.141592653589793 / 2.0)
    lamc = f"(-3.0*{PI_L}/4.0 + ({hpi}) * least(floor(2.0*lam/{PI_L} + 2.0), 3.0))"
    sigma = "sqrt(3.0*(1.0 - abs(sin(phi))))"
    return f"""
WITH pts AS ({_CUSTOMER_PTS_SQL}),
rad AS (SELECT pk, lon * {D} AS lam, lat * {D} AS phi FROM pts),
hp AS (SELECT pk,
  CASE WHEN abs(phi) <= {phi0} THEN lam
       ELSE {lamc} + (lam - {lamc}) * {sigma} END AS hx,
  CASE WHEN abs(phi) <= {phi0} THEN 3.0*{PI_L}/8.0 * sin(phi)
       ELSE sign(phi) * {PI_L}/4.0 * (2.0 - {sigma}) END AS hy
 FROM rad),
cells AS (SELECT pk,
  least(greatest(CAST(trunc((hy + {hpi}) / {PI_L} * {n}.0) AS BIGINT), 0), {n - 1}) * {2 * n}
   + least(greatest(CAST(trunc((hx + {PI_L}) / {TWO_PI_L} * {2 * n}.0) AS BIGINT), 0), {2 * n - 1}) AS cell
 FROM hp)
SELECT cell, count(*) AS n, min(pk) AS min_pk FROM cells GROUP BY cell
"""


def _factors_oracle() -> str:
    """Analytic two-SP LCC conformal factors: k = h = n rho / m with
    rho = F t^n (PJ_lcc.c setup geometry), s = k^2.  Constants n and F
    are computed driver-side at full double precision."""
    import math

    es = _LCC.es
    e = _LCC.e

    def mfn(p):
        return math.cos(p) / math.sqrt(1.0 - es * math.sin(p) ** 2)

    def tfn(p):
        return math.tan(math.pi / 4.0 - p / 2.0) / (
            (1.0 - e * math.sin(p)) / (1.0 + e * math.sin(p))
        ) ** (e / 2.0)

    p1 = 33.0 * DEG_TO_RAD
    p2 = 45.0 * DEG_TO_RAD
    n_c = (math.log(mfn(p1)) - math.log(mfn(p2))) / (math.log(tfn(p1)) - math.log(tfn(p2)))
    f_c = mfn(p1) / (n_c * tfn(p1) ** n_c)
    t_sql = (
        f"(tan({repr(math.pi / 4.0)} - phi/2.0) "
        f"/ power((1.0 - {repr(e)}*sin(phi)) / (1.0 + {repr(e)}*sin(phi)), {repr(e / 2.0)}))"
    )
    k_sql = (
        f"(({repr(n_c)} * ({repr(f_c)} * power({t_sql}, {repr(n_c)}))) "
        f"* sqrt(1.0 - {repr(es)}*sin(phi)*sin(phi)) / cos(phi))"
    )
    return f"""
WITH pts AS (SELECT n_nationkey AS pk, {_lon_sql('CAST(n_nationkey AS DOUBLE)')} AS lon,
                    {_lat_sql('CAST(n_nationkey AS DOUBLE)')} AS lat FROM nation),
rad AS (SELECT pk, lat * {D} AS phi FROM pts),
kk AS (SELECT pk, {k_sql} AS k FROM rad)
SELECT pk,
  CAST(floor(k * 1e5) AS BIGINT) AS h_e5,
  CAST(floor(k * 1e5) AS BIGINT) AS k_e5,
  CAST(floor(k * k * 1e5) AS BIGINT) AS s_e5
FROM kk
"""


def _synth_pair_coords():
    import numpy as np

    phi_c = 0.6180339887498949
    sq3 = 0.7320508075688772

    def synth(k):
        k = np.asarray(k, np.float64)
        return (
            -125.0 + 58.0 * ((k * phi_c) - np.floor(k * phi_c)),
            25.0 + 24.0 * ((k * sq3) - np.floor(k * sq3)),
        )

    nk = np.arange(25)
    lon1, lat1 = synth(nk * 7919 + 13)
    lon2, lat2 = synth(nk * 104729 + 7)
    return nk, lon1, lat1, lon2, lat2


def _geodesic_inverse_oracle() -> str:
    """Golden table from the INDEPENDENT Vincenty implementation
    (kernels/geodesy.py vincenty_inverse) — the Spark side runs the
    Karney port; measured cross-algorithm deltas on this pair set are
    <4e-5 m and <3e-10 deg vs 10 m / 1e-4 deg quanta."""
    import numpy as np

    from proj_spark.kernels.geodesy import vincenty_inverse

    nk, lon1, lat1, lon2, lat2 = _synth_pair_coords()
    rows = []
    for i in range(25):
        for j in range(25):
            if i >= j:
                continue
            s12, azi1, _ = vincenty_inverse(
                [lat1[i]], [lon1[i]], [lat2[j]], [lon2[j]]
            )
            rows.append(
                f"({i},{j},{int(np.floor(s12[0] / 10.0))},{int(np.floor(azi1[0] * 1e4))})"
            )
    return (
        "SELECT * FROM (VALUES " + ",".join(rows) + ") AS t(id_a, id_b, s12_dam, azi1_e4)"
    )


def _geodesic_waypoints_oracle() -> str:
    """Golden table: Vincenty inverse + Vincenty direct waypoints
    (independent twin of the Karney path used by Spark)."""
    import numpy as np

    from proj_spark.kernels.geodesy import vincenty_direct, vincenty_inverse

    nk, lon1, lat1, lon2, lat2 = _synth_pair_coords()
    s12, azi1, _ = vincenty_inverse(lat1, lon1, lat2, lon2)
    rows = []
    for i in range(25):
        for w in range(9):
            dist = s12[i] * w / 8.0
            la, lo, _ = vincenty_direct([lat1[i]], [lon1[i]], [azi1[i]], [dist])
            rows.append(
                f"({i},{w},{int(np.floor(lo[0] * 1e4))},{int(np.floor(la[0] * 1e4))})"
            )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(pair_id, wp_idx, wp_lon_e4, wp_lat_e4)"
    )


def _polygon_metrics_oracle() -> str:
    """Perimeter golden from the independent Vincenty edge sum; area
    golden from the Karney accumulator (same algorithm family as the
    Spark side — documented as a regression pin, not cross-algorithm)."""
    import numpy as np

    from proj_spark.kernels.geodesy import vincenty_inverse
    from proj_spark.kernels.karney import geod_polygon_area

    rows = []
    for pid, ring in _fixture_polygons():
        lons = np.array([p[0] for p in ring])
        lats = np.array([p[1] for p in ring])
        s12, _, _ = vincenty_inverse(lats[:-1], lons[:-1], lats[1:], lons[1:])
        perim_v = float(np.sum(s12))
        _, area = geod_polygon_area(lons[:-1], lats[:-1])
        rows.append(
            f"('{pid}',{len(ring) - 1},{int(np.floor(perim_v / 10.0))},"
            f"{int(np.floor(abs(area) / 1e6))})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(poly_id, n_vertices, perimeter_dam, area_km2)"
    )


def _images_payload_oracle() -> str:
    """Golden aggregate computed by running the SAME deterministic
    generator + verifier locally in plain pandas (no Spark) — checks
    the distributed mapInPandas path reproduces the local computation
    exactly (catches partitioning/batching nondeterminism)."""
    import numpy as np

    from proj_spark.sources.images import (
        average_phash,
        decode_image,
        encode_image,
        encode_png,
        psnr_db,
        synth_pixels,
    )

    agg: dict[str, list] = {}
    for idx in range(2000):
        px = synth_pixels(idx, 32, 32)
        fmt = "png" if idx % 2 == 0 else "jpeg"
        data = encode_image(px, fmt)
        dec = decode_image(data, fmt)
        p = float(min(psnr_db(px, dec), 1e9))
        if fmt == "png":
            ok = bool(np.array_equal(px, dec))
        else:
            ok = p >= 40.0
        a = agg.setdefault(fmt, [0, 0, float("inf")])
        a[0] += 1
        a[1] += 1 if ok else 0  # caption always ok by construction
        a[2] = min(a[2], p)
    rows = [
        f"('{fmt}',{a[0]},{a[1]},{int(np.floor(a[2]))})" for fmt, a in sorted(agg.items())
    ]
    return (
        "SELECT * FROM (VALUES " + ",".join(rows) + ") AS t(fmt, n, n_ok, min_psnr_db)"
    )


def _image_quality_oracle() -> str:
    """Golden per-image rows: local replay of generate+decode+metrics
    with the identical numpy code path."""
    import numpy as np

    from proj_spark.sources.images import decode_image, encode_image, synth_pixels

    luma_w = np.array([0.299, 0.587, 0.114])
    rows = []
    for idx in range(500):
        src = synth_pixels(idx, 32, 32)
        fmt = "png" if idx % 2 == 0 else "jpeg"
        px = decode_image(encode_image(src, fmt), fmt).astype(np.float64)
        luma = px @ luma_w
        lap = (
            4.0 * luma[1:-1, 1:-1]
            - luma[:-2, 1:-1]
            - luma[2:, 1:-1]
            - luma[1:-1, :-2]
            - luma[1:-1, 2:]
        )
        hist = np.histogram(luma, bins=256, range=(0.0, 256.0))[0]
        p = hist[hist > 0] / hist.sum()
        rows.append(
            "('img{:012d}',{},{},{},{})".format(
                idx,
                int(np.floor(float(lap.var()))),
                int(np.floor(float(luma.std()) * 100.0)),
                int(np.floor(float(-(p * np.log2(p)).sum()) * 1000.0)),
                int(np.floor(float((px.max(axis=2) - px.min(axis=2)).mean()) * 100.0)),
            )
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(image_id, blur_var_fl, contrast_centi, entropy_milli,"
        " saturation_centi)"
    )


def _video_frames_oracle() -> str:
    """Golden aggregate: single-process replay of the full video chain
    (JPEG-encode frames -> AVI container -> container walk -> sample ->
    JPEG-decode -> integer per-frame metrics) — checks the distributed
    sample_frames/mapInPandas path reproduces the local computation."""
    import numpy as np

    from proj_spark.sources.avi import read_avi_frames, write_avi_mjpeg
    from proj_spark.sources.images import decode_image, psnr_db, synth_pixels
    from proj_spark.sources.jpeg import encode_jpeg

    luma_w = np.array([0.299, 0.587, 0.114])
    rows = []
    for vid in range(_VID_N):
        frames = [
            encode_jpeg(synth_pixels(vid * 1000 + i, 16, 16))
            for i in range(_VID_FRAMES)
        ]
        data = write_avi_mjpeg(frames, 16, 16)
        n = s_idx = s_luma = 0
        min_psnr = 1 << 60
        for idx, payload, codec in read_avi_frames(data):
            if idx % _VID_EVERY:
                continue
            px = decode_image(payload, codec)
            src = synth_pixels(vid * 1000 + idx, 16, 16)
            luma = px.astype(np.float64) @ luma_w
            n += 1
            s_idx += idx
            min_psnr = min(min_psnr, int(np.floor(psnr_db(src, px))))
            s_luma += int(np.floor(float(luma.mean()) * 100.0))
        rows.append(f"('vid{vid:04d}',{n},{s_idx},{min_psnr},{s_luma})")
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, n_sampled, sum_frame_idx, min_psnr_db, sum_luma_centi)"
    )


def _image_features_oracle() -> str:
    """Golden aggregate: local pandas replay of extract_features +
    all-pairs phash hamming<=2 count (the banded Spark operator has
    guaranteed recall at this radius, so counts must match)."""
    import numpy as np

    from proj_spark.sources.images import (
        average_phash,
        decode_image,
        encode_image,
        encode_png,
        synth_pixels,
    )

    mean_rs = []
    edges = []
    hashes = []
    for idx in range(1000):
        px0 = synth_pixels(idx, 32, 32)
        fmt = "png" if idx % 2 == 0 else "jpeg"
        data = encode_image(px0, fmt)
        px = decode_image(data, fmt).astype(np.float64)
        luma = px @ np.array([0.299, 0.587, 0.114])
        gy, gx = np.gradient(luma)
        mean_rs.append(float(px[:, :, 0].mean()))
        edges.append(float(np.sqrt(gx * gx + gy * gy).mean()))
        hashes.append(average_phash(px.astype(np.uint8)))
    h = np.array(hashes, dtype=np.uint64)
    xo = h[:, None] ^ h[None, :]
    ham = np.zeros_like(xo, dtype=np.int64)
    for _ in range(64):
        ham += (xo & 1).astype(np.int64)
        xo >>= 1
    iu = np.triu_indices(len(h), k=1)
    n_pairs = int((ham[iu] <= 2).sum())
    return (
        f"SELECT CAST(1000 AS BIGINT) AS n, "
        f"CAST({int(np.floor(np.mean(mean_rs)))} AS BIGINT) AS avg_r, "
        f"CAST({int(np.floor(np.mean(edges) * 1000.0))} AS BIGINT) AS avg_edge_milli, "
        f"CAST({n_pairs} AS BIGINT) AS n_neardup_pairs"
    )


def _exif_gps_tiles_oracle() -> str:
    """Formula replay (no bytes): the Spark side proves parse ≡ formula
    via n_coord_mismatch == 0, so the oracle only needs the quantized
    centroid -> zoom-6 tile rollup.  Tile math is the identical
    expression written in python floats (expressions.py:96-119)."""
    import math

    from proj_spark.sources.exif import gps_quantize
    from proj_spark.sources.images import centroid_of

    n = 64.0
    agg: dict[tuple[int, int], list] = {}
    for idx in range(_EXIF_N):
        lon, lat = centroid_of(0, idx, 0, 0.0, 0.0)
        qlat, qlon = gps_quantize(lat), gps_quantize(lon)
        tx = int(min(max(math.floor((qlon + 180.0) / 360.0 * n), 0), 63))
        t = math.tan(math.radians(qlat))
        asinh_t = math.log(t + math.sqrt(t * t + 1.0))
        ty = int(min(max(math.floor((1.0 - asinh_t / math.pi) / 2.0 * n), 0), 63))
        a = agg.setdefault((tx, ty), [0, 0])
        a[0] += 1
        a[1] += 1 if idx % 8 + 1 >= 5 else 0
    rows = [
        f"({tx},{ty},{a[0]},{a[1]},0)" for (tx, ty), a in sorted(agg.items())
    ]
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(tx, ty, n, n_transposed, n_coord_mismatch)"
    )


def _tile_pyramid_oracle() -> str:
    """Single-process pyramid replay on raw arrays (PNG lossless, so
    the byte lane must reproduce this exactly)."""
    import numpy as np

    from proj_spark.operators.pyramid import downsample2x
    from proj_spark.sources.images import synth_pixels

    level = {
        (x, y): synth_pixels(idx, _PYR_TP, _PYR_TP)
        for idx, x, y in _pyramid_base_tiles()
    }
    rows = [
        (_PYR_Z0, x, y, int(px.astype(np.int64).sum())) for (x, y), px in level.items()
    ]
    tp = _PYR_TP
    for z in range(_PYR_Z0 - 1, _PYR_Z1 - 1, -1):
        nxt: dict = {}
        for (x, y), px in level.items():
            key = (x >> 1, y >> 1)
            canvas = nxt.setdefault(key, np.zeros((2 * tp, 2 * tp, 3), np.uint8))
            qx, qy = x & 1, y & 1
            canvas[qy * tp : (qy + 1) * tp, qx * tp : (qx + 1) * tp] = px
        level = {k: downsample2x(c) for k, c in nxt.items()}
        rows.extend(
            (z, x, y, int(px.astype(np.int64).sum())) for (x, y), px in level.items()
        )
    vals = ",".join(f"({z},{x},{y},{c})" for z, x, y, c in sorted(rows))
    return "SELECT * FROM (VALUES " + vals + ") AS t(z, x, y, checksum)"


def oracle_sql() -> dict[str, str]:
    return {
        "blobs": _blobs_oracle(),
        "horn": _horn_oracle(),
        "variogram": _variogram_oracle(),
        "sssp": _sssp_oracle(),
        "catchment": _catchment_oracle(),
        "distance_transform": _dt_oracle(),
        "contour_tiles": _contour_oracle(),
        "morans_i": _morans_oracle(),
        "gi_star": _gi_star_oracle(),
        "mann_kendall": _mk_oracle(),
        "local_moran": _local_moran_oracle(),
        "theil_sen": _theil_sen_oracle(),
        "stay_points": _stay_oracle(),
        "histeq_tiles": _histeq_oracle(),
        "tile_counts": _tile_oracle(8, _ORDERS_PTS_SQL),
        "tile_multizoom": "\nUNION ALL\n".join(
            _tile_oracle(z, _LINEITEM_PTS_SQL) for z in (4, 8, 12)
        ),
        "webmerc_fwd": f"""
WITH pts AS ({_ORDERS_PTS_SQL})
SELECT pk,
       CAST(floor((lon * {D}) * 6378137.0 * 10.0) AS BIGINT) AS x_dm,
       CAST(floor(6378137.0 * ln(tan(0.7853981633974483 + (lat * {D}) * 0.5)) * 10.0) AS BIGINT) AS y_dm
FROM pts
""",
        "utm_fwd": _utm_oracle(),
        # surrogate vs the SAME exact-series mirror: green == the
        # Chebyshev fast path agrees with the exact kernel to < 0.1 m
        "utm_cheby_fwd": _utm_oracle(),
        "lcc_fwd": _lcc_oracle(),
        "helmert_ecef": _helmert_oracle(),
        "aea_fwd": _aea_oracle(),
        "stere_polar_fwd": _stere_oracle(),
        "sinu_fwd": _sinu_oracle(),
        "cell_rollup": _cell_oracle(_CUSTOMER_PTS_SQL, 7),
        "cubeface_rollup": _cubeface_oracle(_CUSTOMER_PTS_SQL, 4),
        "knn": _knn_oracle(),
        "knn_hex": _knn_hex_oracle(),
        "knn_isea": _knn_isea_oracle(),
        "range_join_isea": _range_join_isea_oracle(),
        "warp_webmerc": _warp_oracle(),
        "warp_bilinear": _warp_bilinear_oracle(),
        "dbscan": _dbscan_oracle(),
        "idw": _idw_oracle(),
        "composite": _composite_oracle(),
        "chips": _chips_oracle(),
        "adaptive_bins": _adaptive_oracle(),
        "sobel": _sobel_oracle(),
        "asof_clicks": _asof_oracle(),
        "dissolve": _dissolve_oracle(),
        "seg_intersections": _seg_oracle(),
        "bbox_overlay": _bbox_overlay_oracle(),
        "interval_join": _interval_join_oracle(),
        "diameter": _diameter_oracle(),
        "cross_track": _cross_track_oracle(),
        "str_partitions": _str_partitions_oracle(),
        "kde_heatmap": _kde_oracle(),
        "snap_points": _snap_oracle(),
        "resample": _resample_oracle(),
        "pmi_pairs": _pmi_oracle(),
        "od_matrix": _od_oracle(),
        "augment_tiles": _augment_oracle(),
        "change_tiles": _change_oracle(),
        "cell_path": _cell_path_oracle(),
        "top_terms": _top_terms_oracle(),
        "hex_rollup": _hex_rollup_oracle(),
        "ea_hex_rollup": _ea_hex_rollup_oracle(),
        "range_join": _range_join_oracle(),
        "pip": _pip_oracle(),
        "boundary_distance": _boundary_distance_oracle(),
        "simplify": _simplify_oracle(),
        "fused_pip_tiles": _fused_pip_tiles_oracle(9),
        "fused_assign": _fused_assign_oracle(9),
        "exact_dedup": (
            "SELECT text, min(doc_id) AS canonical_id, count(*) AS n_dupes "
            "FROM documents GROUP BY text"
        ),
        "token_stats": f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({_TOKENS_RAW_SQL}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpeish,
       CAST(len(list_distinct({_TOKENS_RAW_SQL})) AS BIGINT) AS n_distinct,
       CAST(floor(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len({_TOKENS_RAW_SQL}) * 1000.0) AS BIGINT) AS mean_tok_len_milli
FROM documents
""",
        "langid": _langid_oracle(),
        "fingerprint": _fingerprint_oracle(),
        "minhash_sigs": _minhash_oracle(),
        "lsh_pairs": _lsh_pairs_oracle(),
        "simhash": _simhash_oracle(),
        "simhash_pairs": _simhash_pairs_oracle(),
        "dedup_components": _dedup_components_oracle(),
        "dedup_groups": _dedup_groups_oracle(),
        "quality": _quality_oracle(),
        "audio_features": _audio_features_oracle(),
        "kmv_distinct": _kmv_oracle(),
        "sessionize": _sessionize_oracle(),
        "trajectory": _trajectory_oracle(),
        "hash_split": _hash_split_oracle(),
        "stratified_sample": _stratified_sample_oracle(),
        "pack_budget": _pack_budget_oracle(),
        "boilerplate": _boilerplate_oracle(),
        "pii_scrub": _pii_scrub_oracle(),
        "contamination": _contamination_oracle(),
        "repetition": _repetition_oracle(),
        "profile": _profile_oracle(),
        "strip_boilerplate": _strip_boilerplate_oracle(),
        "salted_rollup": (
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n,\n"
            "       CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,\n"
            "       min(value) AS vmin, max(value) AS vmax\n"
            "FROM events GROUP BY event_type"
        ),
        "salted_join_rollup": (
            "SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n\n"
            "FROM events e JOIN customer c ON e.user_id = c.c_custkey\n"
            "WHERE c.c_custkey < 64 GROUP BY c.c_mktsegment"
        ),
        "phash_pairs": _phash_pairs_oracle(),
        "jaccard_consecutive": _jaccard_oracle(),
        "ann_cosine": _ann_oracle(),
        "ann_ivf": _ann_oracle(),  # nprobe=all IVF == brute force, same mirror
        "ann_lsh": _ann_oracle(),  # all-bucket multiprobe == brute force too
        "cosine_dedup": _cosine_dedup_oracle(),
        "event_tiles": _event_tiles_oracle(),
        # formerly rows-only (VERDICT round-1 item 1):
        "gridshift_roundtrip": _gridshift_oracle(),
        "vgridshift": _vgridshift_oracle(),
        "catalog_asof": _catalog_asof_oracle(),
        "utm_inverse_roundtrip": _utm_roundtrip_oracle(),
        "healpix_cells": _healpix_oracle(5),
        "factors": _factors_oracle(),
        "geodesic_inverse": _geodesic_inverse_oracle(),
        "geodesic_waypoints": _geodesic_waypoints_oracle(),
        "polygon_metrics": _polygon_metrics_oracle(),
        "images_payload": _images_payload_oracle(),
        "image_features": _image_features_oracle(),
        "video_frames": _video_frames_oracle(),
        "exif_gps_tiles": _exif_gps_tiles_oracle(),
        "tile_pyramid": _tile_pyramid_oracle(),
        "quadkey_rollup": _quadkey_rollup_oracle(),
        "caption_align": _caption_align_oracle(),
        "geohash_rollup": _geohash_rollup_oracle(),
        "hilbert_rollup": _hilbert_rollup_oracle(),
        "s2_rollup": _s2_rollup_oracle(),
        "s2_cover_scan": _s2_cover_scan_oracle(),
        "polygon_raster": _polygon_raster_oracle(),
        "zonal_stats": _zonal_stats_oracle(),
        "image_quality": _image_quality_oracle(),
        "image_dedup_groups": _image_dedup_groups_oracle(),
        "tile_manifest": _tile_manifest_oracle(),
        "phash_star_pairs": _phash_star_pairs_oracle(),
    }
