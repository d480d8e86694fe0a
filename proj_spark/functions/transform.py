"""DataFrame-level coordinate transforms: the pandas-UDF slow path.

One Arrow crossing per (src, dst) CRS pair: the driver compiles a
:class:`~proj_spark.plans.pipeline.TransformPlan` (the analog of the
reference's 11-stage pj_transform dataflow, src/pj_transform.c:87-370)
into a single fused numpy closure, and wraps it in ONE ``pandas_udf``
returning a struct column.  Executors never re-parse proj strings; the
plan ships inside the serialized closure (tiny — plain floats + numpy
grids), the Spark equivalent of broadcasting the compiled ``PJ``.

Scale notes:
- narrow transformation: no shuffle, parallelism = input partitions.
- Arrow batch size governed by spark.sql.execution.arrow.maxRecordsPerBatch;
  kernels are O(1) memory per lane so 10k-row batches stay far below
  executor memory even with 3 float64 working arrays.
- per-point failures produce NaN -> NULL, never task failure
  (transient-error semantics of src/pj_transform.c:70-76).
"""
from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..crs import CRS
from ..kernels import xmath as m
from ..plans.pipeline import build_plan
from .expressions import _q

_XY_SCHEMA = StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType()), StructField("z", DoubleType())]
)


def _resolve(crs: CRS | str) -> CRS:
    return CRS.from_proj4(crs) if isinstance(crs, str) else crs


def transform_udf(src: CRS | str, dst: CRS | str):
    """Build a pandas UDF ``(lon, lat[, z]) -> struct<x,y,z>``.

    Degrees at latlong ends (cs2cs convention, src/cs2cs.c:89-97).
    """
    src = _resolve(src)
    dst = _resolve(dst)
    plan = build_plan(src, dst)  # driver-side compile; closure ships to executors
    src_ll, dst_ll = src.is_latlong, dst.is_latlong

    @F.pandas_udf(_XY_SCHEMA)
    def _udf(it: Iterator[Tuple[pd.Series, ...]]) -> Iterator[pd.DataFrame]:
        for batch in it:
            if isinstance(batch, pd.Series):
                batch = (batch,)
            x = batch[0].to_numpy(dtype=np.float64, copy=True)
            y = batch[1].to_numpy(dtype=np.float64, copy=True)
            z = (
                batch[2].to_numpy(dtype=np.float64, copy=True)
                if len(batch) > 2
                else None
            )
            if src_ll:
                x *= m.DEG_TO_RAD
                y *= m.DEG_TO_RAD
            xo, yo, zo = plan(x, y, z)
            if dst_ll:
                xo = xo * m.RAD_TO_DEG
                yo = yo * m.RAD_TO_DEG
            yield pd.DataFrame({"x": xo, "y": yo, "z": zo})

    return _udf


def transform(
    df: DataFrame,
    src: CRS | str,
    dst: CRS | str,
    lon: str = "lon",
    lat: str = "lat",
    z: str | None = None,
    out_prefix: str = "",
) -> DataFrame:
    """Reproject columns, appending ``{out_prefix}x/y/z``.

    The flagship API (analog of pj_transform over a whole table).
    """
    udf = transform_udf(src, dst)
    # F.expr and one withColumns: every F.col / withColumn is its own
    # set of Py4J round trips at plan-build time
    cols = [F.expr(_q(c)) for c in (lon, lat, z) if c]
    return (
        df.withColumn("_xyz", udf(*cols))
        .withColumns({out_prefix + k: F.expr(f"_xyz.{k}") for k in "xyz"})
        .drop("_xyz")
    )


def geodesic_inverse_udf(a: float = 6378137.0, f: float = 1.0 / 298.257223563):
    """pandas UDF ``(lon1,lat1,lon2,lat2) -> struct<s12,azi1,azi2>``.

    Karney inverse problem (ref src/geodesic.c:944) — the exact-distance
    refinement used after the haversine candidate cut in kNN.
    """
    from ..kernels.geodesy import geod_inverse

    schema = StructType(
        [
            StructField("s12", DoubleType()),
            StructField("azi1", DoubleType()),
            StructField("azi2", DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def _udf(it: Iterator[Tuple[pd.Series, ...]]) -> Iterator[pd.DataFrame]:
        for b in it:
            lon1 = b[0].to_numpy(np.float64)
            lat1 = b[1].to_numpy(np.float64)
            lon2 = b[2].to_numpy(np.float64)
            lat2 = b[3].to_numpy(np.float64)
            s12, azi1, azi2 = geod_inverse(lat1, lon1, lat2, lon2, a, f)
            yield pd.DataFrame({"s12": s12, "azi1": azi1, "azi2": azi2})

    return _udf


def factors_arrays(crs: CRS | str, lam: "np.ndarray", phi: "np.ndarray",
                   analytic: bool = False) -> dict:
    """Full pj_factors over numpy arrays of geographic RADIANS
    (ref src/pj_factors.c:10-86 + src/pj_deriv.c 4-point finite
    differences, DEFAULT_H = 1e-5 rad).

    Returns a dict of arrays ``h k s omega conv thetap a b`` plus
    ``valid`` (False where the reference errors: |phi|-HALFPI > 1e-12
    or |lam| > 10, pj_factors.c:15) and scalar ``code`` (IS_ANAL_*
    bits, nonzero only when ``analytic`` and the projection defines a
    ``spc`` hook).  Edge semantics match the reference: phi is clamped
    to ±(HALFPI - h) near the poles so the derivative still exists
    (pj_factors.c:24-26), geocentric latitude is converted when
    ``+geoc`` (line 27), and del-lam is wrapped unless ``+over``
    (lines 29-31).

    With ``analytic=True``, projections that define an analytic
    scale-factor hook (``CompiledProj.spc`` — lcc per PJ_lcc.c
    SPECIAL(fac), eqdc per PJ_eqdc.c) overlay their exact h/k/conv on
    the numeric values, exactly as the reference does when ``P->spc``
    is set; s always stays derivative-based and omega/thetap/a/b are
    derived from the final h/k/s.
    """
    crs = _resolve(crs)
    from ..kernels.core import compile_proj

    cp = compile_proj(crs)
    es, one_es = crs.es, crs.one_es

    DERIV_EPS = 1e-5  # DEFAULT_H (pj_factors.c:6)
    HALFPI = np.pi / 2.0

    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    valid = (np.abs(phi) - HALFPI <= 1e-12) & (np.abs(lam) <= 10.0)
    # pole clamp (pj_factors.c:24-26)
    phi = np.where(
        np.abs(phi) > HALFPI - DERIV_EPS,
        np.where(phi < 0.0, -HALFPI + DERIV_EPS, HALFPI - DERIV_EPS),
        np.arctan(crs.rone_es * np.tan(phi)) if crs.geoc else phi,
    )
    lam = lam - cp.lam0
    if not crs.over:
        lam = m.adjlon(lam)

    # 4-point numeric partials (src/pj_deriv.c:5-33); invalid lanes
    # (overrange inputs, masked by `valid`) may raise numpy warnings
    # inside kernels — silence them, the lanes come out NaN
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        xp1, yp1 = cp.fwd(lam + DERIV_EPS, phi + DERIV_EPS)
        xp2, yp2 = cp.fwd(lam + DERIV_EPS, phi - DERIV_EPS)
        xm1, ym1 = cp.fwd(lam - DERIV_EPS, phi + DERIV_EPS)
        xm2, ym2 = cp.fwd(lam - DERIV_EPS, phi - DERIV_EPS)
    h2 = DERIV_EPS * 2.0
    x_l = (xp1 + xp2 - xm1 - xm2) / (2 * h2)
    x_p = (xp1 - xp2 + xm1 - xm2) / (2 * h2)
    y_l = (yp1 + yp2 - ym1 - ym2) / (2 * h2)
    y_p = (yp1 - yp2 + ym1 - ym2) / (2 * h2)
    # pj_factors.c:44-80
    cosphi = np.cos(phi)
    sinphi = np.sin(phi)
    if es:
        t = 1.0 - es * sinphi * sinphi
        n = np.sqrt(t)
        h = np.hypot(x_p, y_p) * t * np.sqrt(t) / one_es
        k = np.hypot(x_l, y_l) / cosphi * n
        s = (y_p * x_l - x_p * y_l) * (t * t / one_es) / cosphi
    else:
        h = np.hypot(x_p, y_p)
        k = np.hypot(x_l, y_l) / cosphi
        s = (y_p * x_l - x_p * y_l) / cosphi
    conv = -np.arctan2(y_l, x_l)  # pj_factors.c:67 (was -atan2(x_p,y_p),
    # a sign-flipped non-reference convention — fixed round 3; the
    # oracle never covered conv, which is how it survived)
    code = 0
    if analytic and cp.spc is not None:
        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            sp = cp.spc(lam, phi)
        mask = sp.get("mask", np.ones_like(h, dtype=bool))
        if "h" in sp:
            h = np.where(mask, sp["h"], h)
            k = np.where(mask, sp["k"], k)
            code |= 0o4  # IS_ANAL_HK
        if "conv" in sp:
            conv = np.where(mask, sp["conv"], conv)
            code |= 0o10  # IS_ANAL_CONV
    # omega/thetap/a/b from the final h/k/s (pj_factors.c:73-85) —
    # computed AFTER any analytic overlay, matching the reference's
    # ordering.
    with np.errstate(divide="ignore", invalid="ignore"):
        thetap = m.aasin(s / (h * k))
    t_ = h * h + k * k
    a_ = np.sqrt(np.maximum(t_ + 2.0 * s, 0.0))
    t2 = np.sqrt(np.maximum(t_ - 2.0 * s, 0.0))
    amax = 0.5 * (a_ + t2)
    bmin = 0.5 * (a_ - t2)
    with np.errstate(divide="ignore", invalid="ignore"):
        omega = 2.0 * np.arcsin(np.clip(t2 / a_, -1.0, 1.0))
    return {
        "h": h, "k": k, "s": s, "omega": omega, "conv": conv,
        "thetap": thetap, "a": amax, "b": bmin, "valid": valid,
        "code": code,
    }


def factors_udf(crs: CRS | str, analytic: bool = False):
    """pandas UDF ``(lon_deg, lat_deg) -> struct<h,k,s,omega,conv>``.

    Distortion analysis via numeric derivatives (ref src/pj_factors.c:
    10-86); see :func:`factors_arrays` for the array engine and the
    ``analytic`` (P->spc overlay) semantics.  Default stays numeric so
    the DuckDB oracle (which encodes the analytic closed form) remains
    an independent cross-check; tests assert the two paths agree.
    """
    crs = _resolve(crs)

    schema = StructType(
        [
            StructField("h", DoubleType()),
            StructField("k", DoubleType()),
            StructField("s", DoubleType()),
            StructField("omega", DoubleType()),
            StructField("conv", DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def _udf(it: Iterator[Tuple[pd.Series, ...]]) -> Iterator[pd.DataFrame]:
        for b in it:
            lam = b[0].to_numpy(np.float64) * m.DEG_TO_RAD
            phi = b[1].to_numpy(np.float64) * m.DEG_TO_RAD
            fc = factors_arrays(crs, lam, phi, analytic=analytic)
            yield pd.DataFrame(
                {n: fc[n] for n in ("h", "k", "s", "omega", "conv")}
            )

    return _udf


def cell_id_equal_area_udf(res: int):
    """HEALPix-style equal-area cell id as a pandas UDF
    ``(lon_deg, lat_deg) -> long`` (ref PJ_healpix.c:214-236 sphere
    forward; quantized on the HEALPix square).  Alternative to the
    SQL-expressible equirectangular :func:`...expressions.cell_id`
    when equal-area binning matters (balanced partitions by cell)."""
    from ..kernels.core import healpix_sphere_fwd

    n = 1 << res

    @F.pandas_udf("long")
    def _udf(it: Iterator[Tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        for b in it:
            lam = b[0].to_numpy(np.float64) * m.DEG_TO_RAD
            phi = b[1].to_numpy(np.float64) * m.DEG_TO_RAD
            x, y = healpix_sphere_fwd(m.adjlon(lam), phi)
            # x in [-pi, pi], y in [-pi/2, pi/2]
            ix = np.clip(((x + np.pi) / (2 * np.pi) * 2 * n).astype(np.int64), 0, 2 * n - 1)
            iy = np.clip(((y + np.pi / 2) / np.pi * n).astype(np.int64), 0, n - 1)
            yield pd.Series(iy * (2 * n) + ix)

    return _udf


def fit_transform_cheby(
    src: CRS | str,
    dst: CRS | str,
    lam_rng: tuple[float, float],
    phi_rng: tuple[float, float],
    degree: int = 16,
    tol: float | None = None,
):
    """Driver-side Chebyshev surrogate of the FULL compiled transform
    over a bbox (degrees at latlong ends, same convention as
    ``transform``).  The reference maintains this exact fast path
    (src/mk_cheby.c:36-177, ``proj -T`` src/proj.c:435-438): fit once,
    then evaluate two bivariate Chebyshev series per point instead of
    the iterative ellipsoidal pipeline.

    Returns the fitted ``plans.cheby.ChebyKernel`` (its
    ``max_residual`` is measured on an independent dense grid).  If
    ``tol`` is given and the measured residual exceeds it, raises —
    the surrogate is never substituted silently (SURVEY.md §4)."""
    from ..plans.cheby import fit_chebyshev

    s = _resolve(src)
    d = _resolve(dst)
    plan = build_plan(s, d)
    src_ll, dst_ll = s.is_latlong, d.is_latlong

    def exact(LAM, PHI):
        x = np.asarray(LAM, np.float64).copy()
        y = np.asarray(PHI, np.float64).copy()
        if src_ll:
            x *= m.DEG_TO_RAD
            y *= m.DEG_TO_RAD
        xo, yo, _ = plan(x, y, None)
        if dst_ll:
            xo = xo * m.RAD_TO_DEG
            yo = yo * m.RAD_TO_DEG
        return xo, yo

    kern = fit_chebyshev(exact, lam_rng, phi_rng, degree)
    if tol is not None and not kern.max_residual <= tol:
        raise ValueError(
            f"chebyshev surrogate residual {kern.max_residual:.3e} exceeds "
            f"tol {tol:.3e} over lam={lam_rng} phi={phi_rng} "
            f"(degree {degree}); raise degree or shrink the domain"
        )
    return kern


def _cheb_basis(t: np.ndarray, n: int) -> np.ndarray:
    """Chebyshev basis matrix T[i, k] = T_i(t_k) by the three-term
    recurrence — (n+1) vectorized passes, then the 2-D evaluation
    becomes two small BLAS matmuls (numpy's chebval2d loops Python-
    side per coefficient and measures ~6x SLOWER than the exact tmerc
    kernel; this path is ~20x faster than exact)."""
    out = np.empty((n + 1, t.shape[0]), dtype=np.float64)
    out[0] = 1.0
    if n >= 1:
        out[1] = t
        two_t = 2.0 * t
        for i in range(2, n + 1):
            out[i] = two_t * out[i - 1] - out[i - 2]
    return out


def _cheb2d_eval(coef: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """sum_ij coef[i, j] T_i(u) T_j(v): one small dgemm plus an
    elementwise contraction."""
    tu = _cheb_basis(u, coef.shape[0] - 1)
    tv = _cheb_basis(v, coef.shape[1] - 1)
    tmp = coef.T @ tu  # (deg_v+1, n)
    tmp *= tv
    return tmp.sum(axis=0)


def transform_cheby(
    df: DataFrame,
    src: CRS | str,
    dst: CRS | str,
    lam_rng: tuple[float, float],
    phi_rng: tuple[float, float],
    lon: str = "lon",
    lat: str = "lat",
    degree: int = 16,
    tol: float | None = None,
    out_prefix: str = "",
) -> DataFrame:
    """Approximate reproject via the fitted Chebyshev surrogate —
    the high-throughput variant of ``transform`` for repeated bulk
    runs over a known bbox (executors evaluate two chebval2d calls
    per point; only the tiny coefficient matrices ship, no plan
    closure).  Appends ``{out_prefix}x/y``; rows outside the fitted
    bbox yield NaN (the surrogate is only valid inside its domain,
    so out-of-domain extrapolation is refused per row, not silently
    returned)."""
    kern = fit_transform_cheby(src, dst, lam_rng, phi_rng, degree, tol)
    (l0, l1), (p0, p1) = lam_rng, phi_rng

    @F.pandas_udf(
        StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
    )
    def _udf(it: Iterator[Tuple[pd.Series, ...]]) -> Iterator[pd.DataFrame]:
        for batch in it:
            if isinstance(batch, pd.Series):
                batch = (batch,)
            lam = batch[0].to_numpy(dtype=np.float64, copy=False)
            phi = batch[1].to_numpy(dtype=np.float64, copy=False)
            u, v = kern._norm(lam, phi)
            xo = _cheb2d_eval(kern.coef_x, u, v)
            yo = _cheb2d_eval(kern.coef_y, u, v)
            bad = ~(
                (lam >= l0) & (lam <= l1) & (phi >= p0) & (phi <= p1)
            )
            if bad.any():
                xo = np.where(bad, np.nan, xo)
                yo = np.where(bad, np.nan, yo)
            yield pd.DataFrame({"x": xo, "y": yo})

    out = df.withColumn("_xy", _udf(F.col(lon), F.col(lat)))
    return (
        out.withColumn(out_prefix + "x", F.col("_xy.x"))
        .withColumn(out_prefix + "y", F.col("_xy.y"))
        .drop("_xy")
    )
