"""Closed-form projection engine: transverse Mercator + Lambert
conformal conic on any ellipsoid.

The reference warps arbitrary-SRS rasters by shelling to ``gdalwarp
-t_srs`` (gdal.py:176-220) and therefore supports any PROJ-known CRS;
this sandbox has no PROJ, so the engine carries its own closed forms:

* **Transverse Mercator** — from-scratch, numpy-vectorized
  Krueger/Karney flattening series (Karney 2011, "Transverse Mercator
  with an accuracy of a few nanometers"; the standard published
  6th-order series in the third flattening n), parameterized by
  central meridian / scale / false origin / ellipsoid, so it covers
  WGS84 UTM zones, ETRS89 UTM zones and any arbitrary-meridian TM
  CRS.
* **Lambert conformal conic (2SP)** — the Snyder closed forms
  (Snyder 1987, "Map Projections: A Working Manual", eqs 15-1..15-11;
  EPSG method 9802), covering EPSG:2154 (Lambert-93), EPSG:3347
  (Statistics Canada Lambert) and NAD83 state-plane LCC zones.

Accuracy: the TM series is good to nanometers within a UTM zone band
and sub-mm out to ~10 degrees from the central meridian; the LCC
forms are exact up to float64 rounding (the inverse latitude fixed-
point iteration converges quadratically).  The test suite
cross-validates the TM forward path against TWO independent methods
(numerically integrated meridian arc; finite-difference scale factor
== k0 on the central meridian) and the LCC against its defining
invariants (true scale on both standard parallels by finite
difference; round-trip identity), so a transcription error in any
coefficient cannot pass.

Everything here is pure numpy (no per-row Python) so it drops
directly into the Arrow-batched reprojection kernels
(operators/reproject.py).  Datum note: GRS80 and WGS84 differ by
~0.1 mm in flattening and the frames by ~cm — treated as identical,
the universal practical convention for web-tile output.
"""

from __future__ import annotations

import math
from typing import Tuple

import numpy as np


def _alpha_beta(n: float) -> Tuple[Tuple[float, ...], Tuple[float, ...]]:
    """Karney 2011 6th-order series coefficients in the third
    flattening n (published closed forms, eqs 35-36)."""
    alpha = (
        n / 2 - 2 * n ** 2 / 3 + 5 * n ** 3 / 16 + 41 * n ** 4 / 180
        - 127 * n ** 5 / 288 + 7891 * n ** 6 / 37800,
        13 * n ** 2 / 48 - 3 * n ** 3 / 5 + 557 * n ** 4 / 1440
        + 281 * n ** 5 / 630 - 1983433 * n ** 6 / 1935360,
        61 * n ** 3 / 240 - 103 * n ** 4 / 140 + 15061 * n ** 5 / 26880
        + 167603 * n ** 6 / 181440,
        49561 * n ** 4 / 161280 - 179 * n ** 5 / 168
        + 6601661 * n ** 6 / 7257600,
        34729 * n ** 5 / 80640 - 3418889 * n ** 6 / 1995840,
        212378941 * n ** 6 / 319334400,
    )
    beta = (
        n / 2 - 2 * n ** 2 / 3 + 37 * n ** 3 / 96 - n ** 4 / 360
        - 81 * n ** 5 / 512 + 96199 * n ** 6 / 604800,
        n ** 2 / 48 + n ** 3 / 15 - 437 * n ** 4 / 1440
        + 46 * n ** 5 / 105 - 1118711 * n ** 6 / 3870720,
        17 * n ** 3 / 480 - 37 * n ** 4 / 840 - 209 * n ** 5 / 4480
        + 5569 * n ** 6 / 90720,
        4397 * n ** 4 / 161280 - 11 * n ** 5 / 504
        - 830251 * n ** 6 / 7257600,
        4583 * n ** 5 / 161280 - 108847 * n ** 6 / 3991680,
        20648693 * n ** 6 / 638668800,
    )
    return alpha, beta


class Ellipsoid:
    """Reference ellipsoid with the derived TM series constants."""

    def __init__(self, a: float, inv_f: float):
        self.a = a
        self.f = 1.0 / inv_f
        self.n = self.f / (2.0 - self.f)          # third flattening
        self.e2 = self.f * (2.0 - self.f)         # eccentricity^2
        self.e1 = math.sqrt(self.e2)
        n = self.n
        # rectifying radius A = a/(1+n)(1 + n^2/4 + n^4/64 + n^6/256)
        self.a_rect = (a / (1.0 + n)
                       * (1.0 + n ** 2 / 4.0 + n ** 4 / 64.0
                          + n ** 6 / 256.0))
        self.alpha, self.beta = _alpha_beta(n)


WGS84 = Ellipsoid(6378137.0, 298.257223563)
GRS80 = Ellipsoid(6378137.0, 298.257222101)

# WGS84 constants for the meridian-arc cross-check
A_WGS84 = WGS84.a
E2 = WGS84.e2

UTM_K0 = 0.9996
UTM_FE = 500_000.0
UTM_FN_SOUTH = 10_000_000.0


def utm_params(epsg: int) -> Tuple[float, float]:
    """(central meridian lon0 in degrees, false northing) for a WGS84
    UTM EPSG code: 32601-32660 north, 32701-32760 south."""
    if 32601 <= epsg <= 32660:
        zone, fn = epsg - 32600, 0.0
    elif 32701 <= epsg <= 32760:
        zone, fn = epsg - 32700, UTM_FN_SOUTH
    else:
        raise ValueError(
            f"EPSG:{epsg} is not a WGS84 UTM zone "
            "(32601-32660 / 32701-32760)")
    return float(zone * 6 - 183), fn


def is_utm_epsg(epsg: int) -> bool:
    return 32601 <= epsg <= 32660 or 32701 <= epsg <= 32760


def _wrap_lam(lam: np.ndarray) -> np.ndarray:
    """Normalize a delta-longitude (radians) to [-pi, pi] for
    antimeridian-crossing sources.  Conditional, so values already in
    range pass through BIT-IDENTICAL (a modulo rewrite would perturb
    every in-range value by an ulp and redden the warp gates); only
    out-of-range values pay the round-multiple reduction (exact for
    any number of whole turns, not just one)."""
    lam = np.asarray(lam, np.float64)
    out_of = (lam > np.pi) | (lam < -np.pi)
    if not np.any(out_of):
        return lam
    wrapped = lam - 2.0 * np.pi * np.round(lam / (2.0 * np.pi))
    return np.where(out_of, wrapped, lam)


def _tm_forward_ell(lon, lat, lon0, k0, fe, fn, ell: Ellipsoid):
    lam = _wrap_lam(np.radians(np.asarray(lon, np.float64) - lon0))
    phi = np.radians(np.asarray(lat, np.float64))
    sphi = np.sin(phi)
    # conformal latitude chi: tan(chi) = sinh(asinh(tan) - e atanh(e sin))
    t = np.sinh(np.arctanh(sphi) - ell.e1 * np.arctanh(ell.e1 * sphi))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
    xi, eta = xi_p.copy(), eta_p.copy()
    for j, a in enumerate(ell.alpha, start=1):
        xi += a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    return fe + k0 * ell.a_rect * eta, fn + k0 * ell.a_rect * xi


def _tm_inverse_ell(easting, northing, lon0, k0, fe, fn,
                    ell: Ellipsoid):
    eta = (np.asarray(easting, np.float64) - fe) / (k0 * ell.a_rect)
    xi = (np.asarray(northing, np.float64) - fn) / (k0 * ell.a_rect)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b in enumerate(ell.beta, start=1):
        xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    # tau' = tan(chi)
    tau_p = np.sin(xi_p) / np.sqrt(np.sinh(eta_p) ** 2
                                   + np.cos(xi_p) ** 2)
    # invert tau' -> tau = tan(phi) by Newton (Karney eq. 19-21)
    tau = tau_p.copy()
    for _ in range(5):
        sig = np.sinh(ell.e1 * np.arctanh(
            ell.e1 * tau / np.hypot(1.0, tau)))
        f_tau = tau * np.hypot(1.0, sig) - sig * np.hypot(1.0, tau)
        dtau = ((tau_p - f_tau)
                * (1.0 + (1.0 - ell.e2) * tau * tau)
                / ((1.0 - ell.e2) * np.hypot(1.0, tau_p)
                   * np.hypot(1.0, tau)))
        tau += dtau
    return (np.degrees(lam) + lon0, np.degrees(np.arctan(tau)))


def tm_forward(lon: np.ndarray, lat: np.ndarray, lon0: float,
               k0: float = UTM_K0, fe: float = UTM_FE,
               fn: float = 0.0) -> Tuple[np.ndarray, np.ndarray]:
    """lon/lat degrees -> WGS84 transverse-Mercator easting/northing
    (Karney series)."""
    return _tm_forward_ell(lon, lat, lon0, k0, fe, fn, WGS84)


def tm_inverse(easting: np.ndarray, northing: np.ndarray, lon0: float,
               k0: float = UTM_K0, fe: float = UTM_FE,
               fn: float = 0.0) -> Tuple[np.ndarray, np.ndarray]:
    """Easting/northing -> lon/lat degrees (series + Newton on the
    conformal-latitude relation; converges in <= 4 iterations to
    double precision)."""
    return _tm_inverse_ell(easting, northing, lon0, k0, fe, fn, WGS84)


class TransverseMercator:
    """Parametric TM projection (arbitrary central meridian, scale,
    false origin, ellipsoid).  Instances are plain-float containers —
    they pickle into Spark kernels."""

    def __init__(self, lon0: float, k0: float = UTM_K0,
                 fe: float = UTM_FE, fn: float = 0.0,
                 ell: Ellipsoid = WGS84):
        self.lon0, self.k0, self.fe, self.fn = lon0, k0, fe, fn
        self.ell = ell

    def forward(self, lon, lat):
        return _tm_forward_ell(lon, lat, self.lon0, self.k0, self.fe,
                               self.fn, self.ell)

    def inverse(self, e, n):
        return _tm_inverse_ell(e, n, self.lon0, self.k0, self.fe,
                               self.fn, self.ell)


class LambertConformalConic:
    """LCC 2SP (Snyder 1987 eqs 15-1..15-11 / EPSG method 9802)."""

    def __init__(self, lat0: float, lon0: float, lat1: float,
                 lat2: float, fe: float, fn: float,
                 ell: Ellipsoid = GRS80):
        self.lon0, self.fe, self.fn, self.ell = lon0, fe, fn, ell
        e = ell.e1

        def m(phi):
            return math.cos(phi) / math.sqrt(
                1.0 - ell.e2 * math.sin(phi) ** 2)

        def t(phi):
            s = math.sin(phi)
            return (math.tan(math.pi / 4.0 - phi / 2.0)
                    / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0))

        p0, p1, p2 = (math.radians(lat0), math.radians(lat1),
                      math.radians(lat2))
        m1, m2 = m(p1), m(p2)
        t0, t1, t2 = t(p0), t(p1), t(p2)
        if abs(p1 - p2) > 1e-12:
            self.n = ((math.log(m1) - math.log(m2))
                      / (math.log(t1) - math.log(t2)))
        else:
            self.n = math.sin(p1)        # 1SP degeneracy
        self.F = m1 / (self.n * t1 ** self.n)
        self.rho0 = ell.a * self.F * t0 ** self.n

    def _t_arr(self, phi: np.ndarray) -> np.ndarray:
        e = self.ell.e1
        s = np.sin(phi)
        return (np.tan(math.pi / 4.0 - phi / 2.0)
                / np.power((1.0 - e * s) / (1.0 + e * s), e / 2.0))

    def forward(self, lon, lat):
        lam = _wrap_lam(np.radians(np.asarray(lon, np.float64)
                                   - self.lon0))
        phi = np.radians(np.asarray(lat, np.float64))
        rho = self.ell.a * self.F * np.power(self._t_arr(phi), self.n)
        th = self.n * lam
        return (self.fe + rho * np.sin(th),
                self.fn + self.rho0 - rho * np.cos(th))

    def inverse(self, easting, northing):
        x = np.asarray(easting, np.float64) - self.fe
        y = self.rho0 - (np.asarray(northing, np.float64) - self.fn)
        sgn = 1.0 if self.n >= 0 else -1.0
        rho = sgn * np.hypot(x, y)
        theta = np.arctan2(sgn * x, sgn * y)
        lon = np.degrees(theta / self.n) + self.lon0
        tp = np.power(rho / (self.ell.a * self.F), 1.0 / self.n)
        e = self.ell.e1
        # fixed point phi = pi/2 - 2 atan(t' ((1-e sin)/(1+e sin))^{e/2})
        phi = math.pi / 2.0 - 2.0 * np.arctan(tp)
        for _ in range(8):
            s = np.sin(phi)
            phi = (math.pi / 2.0 - 2.0 * np.arctan(
                tp * np.power((1.0 - e * s) / (1.0 + e * s), e / 2.0)))
        return lon, np.degrees(phi)


class PolarStereographic:
    """Polar stereographic, variant B (EPSG method 9829; Snyder 1987
    eqs 21-33..21-41): standard-parallel form, north or south aspect.

    The sign of ``lat_ts`` selects the aspect.  The south-aspect
    conformal factor is the north form evaluated at -phi (the identity
    tan(pi/4 + phi/2) * ((1-e sin phi)/(1+e sin phi))^{e/2}
    == t_north(-phi)), so one `_t` serves both.  Instances are
    plain-float containers — they pickle into Spark kernels."""

    def __init__(self, lat_ts: float, lon0: float, fe: float,
                 fn: float, ell: Ellipsoid = WGS84):
        self.lon0, self.fe, self.fn, self.ell = lon0, fe, fn, ell
        self.south = lat_ts < 0.0
        e = ell.e1
        pts = math.radians(abs(lat_ts))
        s = math.sin(pts)
        self.mc = math.cos(pts) / math.sqrt(1.0 - ell.e2 * s * s)
        self.tc = (math.tan(math.pi / 4.0 - pts / 2.0)
                   / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0))

    def _t_arr(self, phi: np.ndarray) -> np.ndarray:
        e = self.ell.e1
        s = np.sin(phi)
        return (np.tan(math.pi / 4.0 - phi / 2.0)
                / np.power((1.0 - e * s) / (1.0 + e * s), e / 2.0))

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        rho = (self.ell.a * self.mc
               * self._t_arr(-phi if self.south else phi) / self.tc)
        x = rho * np.sin(lam)
        y = rho * np.cos(lam)
        return (self.fe + x,
                self.fn + y if self.south else self.fn - y)

    def inverse(self, easting, northing):
        x = np.asarray(easting, np.float64) - self.fe
        y = np.asarray(northing, np.float64) - self.fn
        if not self.south:
            y = -y
        rho = np.hypot(x, y)
        tp = rho * self.tc / (self.ell.a * self.mc)
        e = self.ell.e1
        phi = math.pi / 2.0 - 2.0 * np.arctan(tp)
        for _ in range(8):
            s = np.sin(phi)
            phi = (math.pi / 2.0 - 2.0 * np.arctan(
                tp * np.power((1.0 - e * s) / (1.0 + e * s), e / 2.0)))
        lon = np.degrees(np.arctan2(x, y)) + self.lon0
        return lon, np.degrees(-phi if self.south else phi)


class AlbersEqualArea:
    """Albers equal-area conic, 2SP (EPSG method 9822; Snyder 1987
    eqs 14-1..14-21 with the 3-16 latitude series replaced by a
    Newton iteration on the authalic relation)."""

    def __init__(self, lat0: float, lon0: float, lat1: float,
                 lat2: float, fe: float, fn: float,
                 ell: Ellipsoid = GRS80):
        self.lon0, self.fe, self.fn, self.ell = lon0, fe, fn, ell
        e, e2 = ell.e1, ell.e2

        def m(phi):
            return math.cos(phi) / math.sqrt(
                1.0 - e2 * math.sin(phi) ** 2)

        def q(phi):
            s = math.sin(phi)
            return (1.0 - e2) * (
                s / (1.0 - e2 * s * s)
                - (1.0 / (2.0 * e)) * math.log(
                    (1.0 - e * s) / (1.0 + e * s)))

        p0, p1, p2 = (math.radians(lat0), math.radians(lat1),
                      math.radians(lat2))
        m1, m2 = m(p1), m(p2)
        q0, q1, q2 = q(p0), q(p1), q(p2)
        if abs(p1 - p2) > 1e-12:
            self.n = (m1 * m1 - m2 * m2) / (q2 - q1)
        else:
            self.n = math.sin(p1)        # 1SP degeneracy
        self.C = m1 * m1 + self.n * q1
        self.rho0 = ell.a * math.sqrt(self.C - self.n * q0) / self.n

    def _q_arr(self, phi: np.ndarray) -> np.ndarray:
        e, e2 = self.ell.e1, self.ell.e2
        s = np.sin(phi)
        return (1.0 - e2) * (
            s / (1.0 - e2 * s * s)
            - (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s)))

    def forward(self, lon, lat):
        lam = np.radians(np.asarray(lon, np.float64) - self.lon0)
        phi = np.radians(np.asarray(lat, np.float64))
        rho = (self.ell.a
               * np.sqrt(self.C - self.n * self._q_arr(phi)) / self.n)
        th = self.n * lam
        return (self.fe + rho * np.sin(th),
                self.fn + self.rho0 - rho * np.cos(th))

    def inverse(self, easting, northing):
        x = np.asarray(easting, np.float64) - self.fe
        y = self.rho0 - (np.asarray(northing, np.float64) - self.fn)
        sgn = 1.0 if self.n >= 0 else -1.0
        rho = sgn * np.hypot(x, y)
        theta = np.arctan2(sgn * x, sgn * y)
        lon = np.degrees(theta / self.n) + self.lon0
        qv = (self.C - (rho * self.n / self.ell.a) ** 2) / self.n
        e2 = self.ell.e2
        # Newton on q(phi) = qv: dq/dphi = 2 (1-e2) cos phi
        #                                  / (1 - e2 sin^2 phi)^2
        phi = np.arcsin(np.clip(qv / 2.0, -1.0, 1.0))
        for _ in range(8):
            s = np.sin(phi)
            dq = (2.0 * (1.0 - e2) * np.cos(phi)
                  / (1.0 - e2 * s * s) ** 2)
            phi = phi + (qv - self._q_arr(phi)) / np.maximum(dq, 1e-12)
        return lon, np.degrees(phi)


# EPSG registry for the non-UTM CRSes the engine accepts natively.
# Parameters are the published EPSG definitions.
_LCC_EPSG = {
    # RGF93 / Lambert-93 (France)
    2154: dict(lat0=46.5, lon0=3.0, lat1=49.0, lat2=44.0,
               fe=700_000.0, fn=6_600_000.0, ell=GRS80),
    # NAD83 / Statistics Canada Lambert
    3347: dict(lat0=63.390675, lon0=-(91.0 + 52.0 / 60.0),
               lat1=49.0, lat2=77.0,
               fe=6_200_000.0, fn=3_000_000.0, ell=GRS80),
    # NAD83 / Maryland (US state plane, metre variant)
    26985: dict(lat0=37.0 + 40.0 / 60.0, lon0=-77.0,
                lat1=39.0 + 27.0 / 60.0, lat2=38.0 + 18.0 / 60.0,
                fe=400_000.0, fn=0.0, ell=GRS80),
}


_POLAR_EPSG = {
    # WGS84 / NSIDC Sea Ice Polar Stereographic North
    3413: dict(lat_ts=70.0, lon0=-45.0, fe=0.0, fn=0.0, ell=WGS84),
    # WGS84 / Antarctic Polar Stereographic
    3031: dict(lat_ts=-71.0, lon0=0.0, fe=0.0, fn=0.0, ell=WGS84),
    # WGS84 / Australian Antarctic Polar Stereographic (the EPSG
    # Guidance Note 7-2 worked-example CRS, pinned in tests)
    3032: dict(lat_ts=-71.0, lon0=70.0,
               fe=6_000_000.0, fn=6_000_000.0, ell=WGS84),
}

_ALBERS_EPSG = {
    # NAD83 / Conus Albers (USGS national products: NLCD, NED)
    5070: dict(lat0=23.0, lon0=-96.0, lat1=29.5, lat2=45.5,
               fe=0.0, fn=0.0, ell=GRS80),
}


def is_lcc_epsg(epsg: int) -> bool:
    return epsg in _LCC_EPSG


def is_supported_epsg(epsg: int) -> bool:
    return (is_utm_epsg(epsg) or is_lcc_epsg(epsg)
            or epsg in _POLAR_EPSG or epsg in _ALBERS_EPSG
            or 25828 <= epsg <= 25838)


def projection_for_epsg(epsg: int):
    """Projection instance (forward/inverse in CRS units <-> lon/lat
    degrees) for a natively supported EPSG code:

    * 32601-32660 / 32701-32760 — WGS84 UTM north/south
    * 25828-25838 — ETRS89 / UTM (GRS80; frame offset to WGS84 ~cm,
      treated as identical for web-tile output)
    * 2154, 3347, 26985 — Lambert conformal conic 2SP
    * 3413, 3031, 3032 — polar stereographic variant B
    * 5070 — Albers equal-area conic (Conus)
    """
    if is_utm_epsg(epsg):
        lon0, fn = utm_params(epsg)
        return TransverseMercator(lon0, fn=fn, ell=WGS84)
    if 25828 <= epsg <= 25838:
        zone = epsg - 25800
        return TransverseMercator(float(zone * 6 - 183), ell=GRS80)
    if epsg in _LCC_EPSG:
        return LambertConformalConic(**_LCC_EPSG[epsg])
    if epsg in _POLAR_EPSG:
        return PolarStereographic(**_POLAR_EPSG[epsg])
    if epsg in _ALBERS_EPSG:
        return AlbersEqualArea(**_ALBERS_EPSG[epsg])
    raise ValueError(
        f"EPSG:{epsg} is not natively supported (UTM 326xx/327xx, "
        "ETRS89 UTM 258xx, LCC 2154/3347/26985, polar stereographic "
        "3413/3031/3032, Albers 5070)")


def meridian_arc_numeric(lat_deg: float, steps: int = 200_000) -> float:
    """Independent oracle: meridian distance from the equator by
    trapezoid integration of M(phi) = a(1-e^2)/(1-e^2 sin^2)^{3/2} —
    shares NO code or series with tm_forward, so agreement validates
    the Karney coefficients end-to-end (tests)."""
    phi = np.linspace(0.0, math.radians(lat_deg), steps)
    m = (A_WGS84 * (1.0 - E2)
         / np.power(1.0 - E2 * np.sin(phi) ** 2, 1.5))
    return float(np.trapz(m, phi))
