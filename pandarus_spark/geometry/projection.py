"""Pure-numpy map projections.

The reference measures all geometry in the Mollweide equal-area
projection (reference: pandarus/utils/projection.py:6-11 — PROJ string
``+proj=moll +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +datum=WGS84 +units=m
+no_defs``).  PROJ's ``moll`` is a spherical projection; with the WGS84
ellipsoid it uses the semi-major axis as the sphere radius and geodetic
latitude directly.  Our implementation solves the Mollweide auxiliary
angle with Newton iteration to machine convergence and reproduces the
reference's stored golden areas (tests/data/i_result.json) to ~1e-15
relative error (verified in tests/test_projection.py).

The reference also short-circuits re-projection when source and target
CRS match, or when both are geographic (projection.py:54-57); we
normalize to WGS84 once at ingest instead and project only at measure
time — same observable semantics ("Projections through the calculation
chain", reference docs/index.rst).

Everything here is vectorized numpy over coordinate arrays so it can run
inside Arrow-batched pandas UDFs (never per-row Python, per the build's
north star).
"""

from __future__ import annotations

import numpy as np

#: WGS84 semi-major axis in metres — the sphere radius PROJ uses for moll.
WGS84_A = 6378137.0
#: WGS84 inverse flattening.
WGS84_INV_F = 298.257223563

MOLLWEIDE = "+proj=moll +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +datum=WGS84 +units=m +no_defs"
WGS84 = "EPSG:4326"

_SQRT2 = float(np.sqrt(2.0))



def _wrap_dlam(dlam: np.ndarray) -> np.ndarray:
    """Wrap a longitude difference into [-pi, pi] (ties keep their
    sign via round-half-to-even) — PROJ's default behavior.  The
    conic/TM formulas use (lam - lam0) LINEARLY, so an
    antimeridian-crossing input (e.g. lon -179.5 against UTM zone 60's
    lon_0=177) would otherwise land ~2pi away (round-2 review
    follow-up: x = -2.35e9 m instead of 883810 m)."""
    return dlam - 2.0 * np.pi * np.round(dlam / (2.0 * np.pi))

def mollweide_forward(lon_deg: np.ndarray, lat_deg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Project WGS84 degrees -> Mollweide metres (vectorized).

    Solves ``2*theta + sin(2*theta) = pi*sin(phi)`` by Newton iteration
    until the update underflows double precision, then
    ``x = (2*sqrt(2)/pi) * R * lambda * cos(theta)``,
    ``y = sqrt(2) * R * sin(theta)``.  Each coordinate stops at its own
    convergence, so its value does not depend on the other coordinates
    projected with it.
    """
    # deliberately NOT wrapped: this is the MEASURE projection, and the
    # projected-CRS inverses hand back antimeridian-crossing geometries
    # as CONTIGUOUS spans (e.g. lon 178..182 from a UTM zone-60 read);
    # x is linear in lam, so the span measures exactly, while wrapping
    # per-vertex would tear a 4-degree edge into a world-spanning one.
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = phi.copy()
    target = np.pi * np.sin(phi)
    flat, goal = theta.reshape(-1), target.reshape(-1)
    live = np.arange(flat.size)
    for _ in range(60):
        th = flat[live]
        f = 2.0 * th + np.sin(2.0 * th) - goal[live]
        fp = 2.0 + 2.0 * np.cos(2.0 * th)
        # fp -> 0 only at the poles where theta = phi = ±pi/2 is exact.
        d = np.where(np.abs(fp) > 1e-14, f / np.where(fp == 0.0, 1.0, fp), 0.0)
        flat[live] = th - d
        live = live[np.abs(d) > 1e-17]
        if not len(live):
            break
    x = (2.0 * _SQRT2 / np.pi) * WGS84_A * lam * np.cos(theta)
    y = _SQRT2 * WGS84_A * np.sin(theta)
    return x, y


def mollweide_inverse(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Mollweide metres -> WGS84 degrees (vectorized)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    st = np.clip(y / (_SQRT2 * WGS84_A), -1.0, 1.0)
    theta = np.arcsin(st)
    phi = np.arcsin(np.clip((2.0 * theta + np.sin(2.0 * theta)) / np.pi, -1.0, 1.0))
    ct = np.cos(theta)
    lam = np.where(np.abs(ct) > 1e-14, x * np.pi / (2.0 * _SQRT2 * WGS84_A * np.where(ct == 0.0, 1.0, ct)), 0.0)
    return np.degrees(lam), np.degrees(phi)


def web_mercator_inverse(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:3857 metres -> WGS84 degrees (spherical Mercator, radius a).

    Supports the reference's projected-CRS fixture ``square-3857``
    (reference tests/__init__.py:18, test_intersect.py:288-356): results
    must match the plain WGS84 case after normalization at ingest.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / WGS84_A)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / WGS84_A)) - np.pi / 2.0)
    return lon, lat


def web_mercator_forward(lon_deg: np.ndarray, lat_deg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lam = _wrap_dlam(np.radians(np.asarray(lon_deg, dtype=np.float64)))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    return WGS84_A * lam, WGS84_A * np.log(np.tan(np.pi / 4.0 + phi / 2.0))


# ---------------------------------------------------------------------------
# Ellipsoidal Transverse Mercator (UTM zones) — Snyder (1987) series
# ---------------------------------------------------------------------------

_E2 = (2.0 - 1.0 / WGS84_INV_F) / WGS84_INV_F   # first eccentricity²
_EP2 = _E2 / (1.0 - _E2)                        # second eccentricity²
_E4, _E6 = _E2 * _E2, _E2 * _E2 * _E2
_E1 = (1.0 - np.sqrt(1.0 - _E2)) / (1.0 + np.sqrt(1.0 - _E2))


def _meridian_arc(phi: np.ndarray) -> np.ndarray:
    """Meridian distance from the equator (Snyder eq. 3-21)."""
    return WGS84_A * (
        (1 - _E2 / 4 - 3 * _E4 / 64 - 5 * _E6 / 256) * phi
        - (3 * _E2 / 8 + 3 * _E4 / 32 + 45 * _E6 / 1024) * np.sin(2 * phi)
        + (15 * _E4 / 256 + 45 * _E6 / 1024) * np.sin(4 * phi)
        - (35 * _E6 / 3072) * np.sin(6 * phi))


def tm_forward(lon_deg, lat_deg, lon0_deg: float, k0: float = 0.9996,
               x0: float = 500_000.0, y0: float = 0.0):
    """WGS84 degrees -> transverse-Mercator metres (Snyder 8-9..8-13)."""
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam0 = np.radians(lon0_deg)
    sp, cp = np.sin(phi), np.cos(phi)
    n = WGS84_A / np.sqrt(1 - _E2 * sp * sp)
    t = (sp / np.where(cp == 0, 1.0, cp)) ** 2
    c = _EP2 * cp * cp
    a_ = _wrap_dlam(lam - lam0) * cp
    m = _meridian_arc(phi)
    x = k0 * n * (a_ + (1 - t + c) * a_ ** 3 / 6
                  + (5 - 18 * t + t * t + 72 * c - 58 * _EP2) * a_ ** 5 / 120) + x0
    tanphi = sp / np.where(cp == 0, 1.0, cp)
    y = k0 * (m + n * tanphi *
              (a_ ** 2 / 2 + (5 - t + 9 * c + 4 * c * c) * a_ ** 4 / 24
               + (61 - 58 * t + t * t + 600 * c - 330 * _EP2) * a_ ** 6 / 720)) + y0
    return x, y


def tm_inverse(x, y, lon0_deg: float, k0: float = 0.9996,
               x0: float = 500_000.0, y0: float = 0.0):
    """Transverse-Mercator metres -> WGS84 degrees (Snyder 8-17..8-25,
    footpoint-latitude series)."""
    x = np.asarray(x, dtype=np.float64) - x0
    y = np.asarray(y, dtype=np.float64) - y0
    m = y / k0
    mu = m / (WGS84_A * (1 - _E2 / 4 - 3 * _E4 / 64 - 5 * _E6 / 256))
    e1 = _E1
    phi1 = (mu + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * np.sin(2 * mu)
            + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * np.sin(4 * mu)
            + (151 * e1 ** 3 / 96) * np.sin(6 * mu)
            + (1097 * e1 ** 4 / 512) * np.sin(8 * mu))
    sp1, cp1 = np.sin(phi1), np.cos(phi1)
    c1 = _EP2 * cp1 * cp1
    t1 = (sp1 / np.where(cp1 == 0, 1.0, cp1)) ** 2
    n1 = WGS84_A / np.sqrt(1 - _E2 * sp1 * sp1)
    r1 = WGS84_A * (1 - _E2) / (1 - _E2 * sp1 * sp1) ** 1.5
    d = x / (n1 * k0)
    phi = phi1 - (n1 * sp1 / np.where(cp1 == 0, 1.0, cp1) / r1) * (
        d * d / 2 - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * _EP2) * d ** 4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * _EP2 - 3 * c1 * c1) * d ** 6 / 720)
    lam = np.radians(lon0_deg) + (
        d - (1 + 2 * t1 + c1) * d ** 3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * _EP2 + 24 * t1 * t1) * d ** 5 / 120
    ) / np.where(cp1 == 0, 1.0, cp1)
    return np.degrees(lam), np.degrees(phi)


def utm_lon0(zone: int) -> float:
    return zone * 6.0 - 183.0


# ---------------------------------------------------------------------------
# Ellipsoidal Lambert azimuthal equal-area (Snyder 24-2..24-26, 3-11/3-16)
# ---------------------------------------------------------------------------

_E = float(np.sqrt(_E2))


def _authalic_q(phi: np.ndarray) -> np.ndarray:
    sp = np.sin(phi)
    return (1 - _E2) * (sp / (1 - _E2 * sp * sp)
                        - (1 / (2 * _E)) * np.log((1 - _E * sp) / (1 + _E * sp)))


_QP = float(_authalic_q(np.array(np.pi / 2)))
_RQ = WGS84_A * np.sqrt(_QP / 2.0)


def _snyder_m(phi):
    """Snyder's m(phi) = cos(phi)/sqrt(1 - e2 sin^2 phi) — shared by
    LAEA, Albers, and LCC (one definition, not four drifting copies)."""
    return np.cos(phi) / np.sqrt(1 - _E2 * np.sin(phi) ** 2)


def laea_forward(lon_deg, lat_deg, lon0_deg: float, lat0_deg: float,
                 x0: float = 0.0, y0: float = 0.0):
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam0, phi0 = np.radians(lon0_deg), np.radians(lat0_deg)
    beta = np.arcsin(np.clip(_authalic_q(phi) / _QP, -1.0, 1.0))
    beta1 = np.arcsin(np.clip(_authalic_q(np.array(phi0)) / _QP, -1.0, 1.0))
    m1 = _snyder_m(phi0)
    d = WGS84_A * m1 / (_RQ * np.cos(beta1))
    denom = 1 + np.sin(beta1) * np.sin(beta) + np.cos(beta1) * np.cos(beta) * np.cos(lam - lam0)
    b = _RQ * np.sqrt(2.0 / np.where(denom == 0, 1e-300, denom))
    x = b * d * np.cos(beta) * np.sin(lam - lam0) + x0
    y = (b / d) * (np.cos(beta1) * np.sin(beta)
                   - np.sin(beta1) * np.cos(beta) * np.cos(lam - lam0)) + y0
    return x, y


def laea_inverse(x, y, lon0_deg: float, lat0_deg: float,
                 x0: float = 0.0, y0: float = 0.0):
    x = np.asarray(x, dtype=np.float64) - x0
    y = np.asarray(y, dtype=np.float64) - y0
    lam0, phi0 = np.radians(lon0_deg), np.radians(lat0_deg)
    beta1 = np.arcsin(np.clip(_authalic_q(np.array(phi0)) / _QP, -1.0, 1.0))
    m1 = _snyder_m(phi0)
    d = WGS84_A * m1 / (_RQ * np.cos(beta1))
    rho = np.sqrt((x / d) ** 2 + (d * y) ** 2)
    ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * _RQ), -1.0, 1.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        q = _QP * (np.cos(ce) * np.sin(beta1)
                   + np.where(rho == 0, 0.0, d * y * np.sin(ce) * np.cos(beta1) / np.where(rho == 0, 1.0, rho)))
    lam = lam0 + np.arctan2(x * np.sin(ce),
                            d * rho * np.cos(beta1) * np.cos(ce) - d * d * y * np.sin(beta1) * np.sin(ce))
    lam = np.where(rho == 0, lam0, lam)
    # iterate geodetic latitude from authalic q (Snyder 3-16)
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(30):
        sp = np.sin(phi)
        f = (q / (1 - _E2) - sp / (1 - _E2 * sp * sp)
             + (1 / (2 * _E)) * np.log((1 - _E * sp) / (1 + _E * sp)))
        corr = (1 - _E2 * sp * sp) ** 2 / (2.0 * np.maximum(np.cos(phi), 1e-15)) * f
        phi = phi + corr
        if not np.any(np.abs(corr) > 1e-15):
            break
    phi = np.where(rho == 0, phi0, phi)
    return np.degrees(lam), np.degrees(phi)


# ---------------------------------------------------------------------------
# Ellipsoidal Albers equal-area conic (Snyder 14-3..14-12, 3-16)
# ---------------------------------------------------------------------------


def _albers_consts(lat1_deg: float, lat2_deg: float, lat0_deg: float):
    phi1, phi2, phi0 = np.radians([lat1_deg, lat2_deg, lat0_deg])
    m1, m2 = _snyder_m(phi1), _snyder_m(phi2)
    q1, q2 = _authalic_q(np.array(phi1)), _authalic_q(np.array(phi2))
    if abs(lat1_deg - lat2_deg) < 1e-12:
        n = float(np.sin(phi1))
    else:
        n = float((m1 * m1 - m2 * m2) / (q2 - q1))
    if abs(n) < 1e-12:
        raise ValueError(
            "Albers with standard parallels symmetric about the equator "
            "degenerates to a cylinder (n=0); pick non-symmetric parallels")
    c = float(m1 * m1 + n * q1)
    q0 = float(_authalic_q(np.array(phi0)))
    rho0 = WGS84_A * np.sqrt(c - n * q0) / n
    return n, c, rho0


def albers_forward(lon_deg, lat_deg, lat1_deg: float, lat2_deg: float,
                   lat0_deg: float, lon0_deg: float,
                   x0: float = 0.0, y0: float = 0.0):
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    n, c, rho0 = _albers_consts(lat1_deg, lat2_deg, lat0_deg)
    q = _authalic_q(phi)
    rho = WGS84_A * np.sqrt(np.maximum(c - n * q, 0.0)) / n
    theta = n * _wrap_dlam(lam - np.radians(lon0_deg))
    return rho * np.sin(theta) + x0, rho0 - rho * np.cos(theta) + y0


def albers_inverse(x, y, lat1_deg: float, lat2_deg: float,
                   lat0_deg: float, lon0_deg: float,
                   x0: float = 0.0, y0: float = 0.0):
    x = np.asarray(x, dtype=np.float64) - x0
    y = np.asarray(y, dtype=np.float64) - y0
    n, c, rho0 = _albers_consts(lat1_deg, lat2_deg, lat0_deg)
    rho = np.hypot(x, rho0 - y)
    theta = np.arctan2(np.sign(n) * x, np.sign(n) * (rho0 - y))
    q = (c - (rho * n / WGS84_A) ** 2) / n
    lam = np.radians(lon0_deg) + theta / n
    # geodetic latitude from authalic q — same Newton loop as LAEA
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(30):
        sp = np.sin(phi)
        f = (q / (1 - _E2) - sp / (1 - _E2 * sp * sp)
             + (1 / (2 * _E)) * np.log((1 - _E * sp) / (1 + _E * sp)))
        corr = (1 - _E2 * sp * sp) ** 2 / (2.0 * np.maximum(np.cos(phi), 1e-15)) * f
        phi = phi + corr
        if not np.any(np.abs(corr) > 1e-15):
            break
    return np.degrees(lam), np.degrees(phi)


#: EPSG:5070 — NAD83 / Conus Albers (lat_1=29.5, lat_2=45.5, lat_0=23,
#: lon_0=-96); NAD83's GRS80 ellipsoid is WGS84-equal at 1e-11 flattening.
_ALBERS_CONUS = (29.5, 45.5, 23.0, -96.0, 0.0, 0.0)


# ---------------------------------------------------------------------------
# Ellipsoidal Lambert conformal conic, 1SP/2SP (Snyder 15-1..15-11, 7-9/7-10)
# ---------------------------------------------------------------------------


def _lcc_t(phi):
    sp = np.sin(phi)
    return (np.tan(np.pi / 4 - phi / 2)
            / ((1 - _E * sp) / (1 + _E * sp)) ** (_E / 2))


def _lcc_consts(lat1_deg: float, lat2_deg: float, lat0_deg: float):
    phi1, phi2, phi0 = np.radians([lat1_deg, lat2_deg, lat0_deg])
    t1 = float(_lcc_t(np.array(phi1)))
    m1 = float(_snyder_m(np.array(phi1)))
    if abs(lat1_deg - lat2_deg) < 1e-12:
        n = float(np.sin(phi1))
    else:
        m2 = float(_snyder_m(np.array(phi2)))
        t2 = float(_lcc_t(np.array(phi2)))
        n = float(np.log(m1 / m2) / np.log(t1 / t2))
    if abs(n) < 1e-12:
        raise ValueError(
            "Lambert conformal conic with standard parallels symmetric "
            "about the equator degenerates (n=0); pick other parallels")
    f = m1 / (n * t1 ** n)
    t0 = float(_lcc_t(np.array(phi0)))
    rho0 = WGS84_A * f * t0 ** n
    return n, f, rho0


def lcc_forward(lon_deg, lat_deg, lat1_deg: float, lat2_deg: float,
                lat0_deg: float, lon0_deg: float,
                x0: float = 0.0, y0: float = 0.0):
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    n, f, rho0 = _lcc_consts(lat1_deg, lat2_deg, lat0_deg)
    # the pole OPPOSITE the cone has t -> inf: rho would be inf/NaN and
    # propagate silently into WKB; refuse like PROJ does (the cone-side
    # pole is fine: t -> 0, rho -> 0)
    limit = np.radians(89.999999)
    bad = (phi < -limit) if n > 0 else (phi > limit)
    if np.any(bad):
        raise ValueError(
            "latitude at/near the pole opposite the LCC cone cannot be "
            "projected (rho diverges)")
    rho = WGS84_A * f * _lcc_t(phi) ** n
    theta = n * _wrap_dlam(lam - np.radians(lon0_deg))
    return rho * np.sin(theta) + x0, rho0 - rho * np.cos(theta) + y0


def lcc_inverse(x, y, lat1_deg: float, lat2_deg: float,
                lat0_deg: float, lon0_deg: float,
                x0: float = 0.0, y0: float = 0.0):
    x = np.asarray(x, dtype=np.float64) - x0
    y = np.asarray(y, dtype=np.float64) - y0
    n, f, rho0 = _lcc_consts(lat1_deg, lat2_deg, lat0_deg)
    rho = np.sign(n) * np.hypot(x, rho0 - y)
    theta = np.arctan2(np.sign(n) * x, np.sign(n) * (rho0 - y))
    lam = np.radians(lon0_deg) + theta / n
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (rho / (WGS84_A * f)) ** (1.0 / n)
    # iterate geodetic latitude (Snyder 7-9): phi = pi/2 - 2 atan(t·χ(phi))
    phi = np.pi / 2 - 2 * np.arctan(t)
    for _ in range(30):
        sp = np.sin(phi)
        new = np.pi / 2 - 2 * np.arctan(
            t * ((1 - _E * sp) / (1 + _E * sp)) ** (_E / 2))
        if not np.any(np.abs(new - phi) > 1e-15):
            phi = new
            break
        phi = new
    return np.degrees(lam), np.degrees(phi)


#: CRS registry: name -> to_wgs84 fn. WGS84 itself is identity.
#: UTM zones (EPSG:326xx/327xx) and LAEA (EPSG:3035) resolve dynamically.
_IDENT = (lambda x, y: (np.asarray(x, float), np.asarray(y, float)))
CRS_TO_WGS84 = {
    "EPSG:4326": _IDENT,
    "WGS84": _IDENT,
    "OGC:CRS84": _IDENT,
    "CRS84": _IDENT,
    "EPSG:3857": web_mercator_inverse,
}
#: forward (WGS84 -> CRS) twins, for writers/tests.
CRS_FROM_WGS84 = {
    "EPSG:4326": _IDENT,
    "WGS84": _IDENT,
    "OGC:CRS84": _IDENT,
    "CRS84": _IDENT,
    "EPSG:3857": web_mercator_forward,
}

#: EPSG:3035 — ETRS89 / LAEA Europe (lat_0=52, lon_0=10, x_0=4321000,
#: y_0=3210000); GRS80 vs WGS84 flattening differs at 1e-11 — ignored.
_LAEA_EUROPE = (10.0, 52.0, 4_321_000.0, 3_210_000.0)


def _parse_proj4(s: str) -> dict:
    """``'+proj=utm +zone=33 +south'`` → ``{'proj': 'utm', 'zone': '33',
    'south': True}``.  Bare flags map to True; non-``+`` tokens are
    ignored (matches PROJ's tolerance of stray whitespace/words)."""
    out: dict = {}
    for tok in s.split():
        if not tok.startswith("+"):
            continue
        body = tok[1:]
        if "=" in body:
            k, v = body.split("=", 1)
            out[k] = v
        else:
            out[body] = True
    return out


#: ellipsoids/datums our closed-form kernels are exact for.  GRS80
#: differs from WGS84 in flattening at 1e-11 (see _LAEA_EUROPE note);
#: NAD83 and ETRS89 are GRS80-based datums (their PROJ4 spellings are
#: what PROJ itself emits for EPSG:5070 / EPSG:3035) — all accepted.
_WGS84_ELLPS_OK = {"WGS84", "GRS80", "NAD83", "ETRS89"}

#: WGS84 semi-minor axis (a·(1−1/f)); GRS80's differs in the 4th decimal.
_WGS84_B = WGS84_A * (1.0 - 1.0 / WGS84_INV_F)


def _check_wgs84_ellps(p: dict, crs: str) -> None:
    ell = p.get("datum") or p.get("ellps")
    if ell is not None and str(ell).upper() not in _WGS84_ELLPS_OK:
        raise ValueError(
            f"unsupported ellipsoid {ell!r} in {crs!r}: the closed-form "
            "kernels are WGS84/GRS80-exact only")
    # explicit axis overrides (+a/+b/+R) replace the ellipsoid entirely —
    # e.g. EPSG:2163's sphere '+a=6370997'; silently using WGS84_A would
    # shift coordinates by km (round-2 review finding)
    if "R" in p:
        raise ValueError(
            f"spherical +R override in {crs!r} is not supported by the "
            "WGS84-ellipsoid kernels")
    a = p.get("a")
    if a is not None and abs(float(a) - WGS84_A) > 1e-3:
        raise ValueError(
            f"+a={a} in {crs!r} is not the WGS84 semi-major axis")
    b = p.get("b")
    if b is not None and abs(float(b) - _WGS84_B) > 1e-3:
        raise ValueError(
            f"+b={b} in {crs!r} is not the WGS84 semi-minor axis")
    # non-Greenwich prime meridians and datum shifts silently offset
    # every coordinate if ignored
    pm = p.get("pm")
    if pm not in (None, True, "greenwich", "0", "0.0"):
        raise ValueError(f"non-Greenwich prime meridian {pm!r} in {crs!r}")
    tw = p.get("towgs84")
    if tw not in (None, True) and any(abs(float(v)) > 1e-12
                                      for v in str(tw).split(",")):
        raise ValueError(f"nonzero +towgs84 datum shift in {crs!r}")


def _resolve_proj4(crs: str):
    """Dispatch a PROJ4 string onto the closed-form kernels.  Supported
    projections: longlat/latlong (identity — the reference treats any
    two geographic CRSs as interchangeable, utils/projection.py:54-57),
    utm (+south), tmerc (any lat_0/lon_0/k/x_0/y_0), laea, aea, lcc
    (1SP/2SP), moll (the reference's measure CRS), and the spherical
    web-Mercator parameterization of merc (EPSG:3857)."""
    p = _parse_proj4(crs)
    if "init" in p:  # '+init=epsg:32633' legacy form
        return _resolve_crs(str(p["init"]))
    proj = str(p.get("proj", "")).lower()
    if proj in ("longlat", "latlong", "lonlat"):
        _check_wgs84_ellps(p, crs)
        return _IDENT, _IDENT
    if proj == "utm":
        _check_wgs84_ellps(p, crs)
        zone = int(p.get("zone", 0))
        if not 1 <= zone <= 60:
            raise ValueError(f"bad UTM zone in {crs!r}")
        y0 = 10_000_000.0 if p.get("south") else 0.0
        lon0 = utm_lon0(zone)
        return (lambda x, y: tm_inverse(x, y, lon0, y0=y0),
                lambda x, y: tm_forward(x, y, lon0, y0=y0))
    if proj == "tmerc":
        _check_wgs84_ellps(p, crs)
        lon0 = float(p.get("lon_0", 0.0))
        lat0 = float(p.get("lat_0", 0.0))
        k0 = float(p.get("k", p.get("k_0", 1.0)))
        x0 = float(p.get("x_0", 0.0))
        # fold the lat_0 origin into the false northing: PROJ's tmerc y
        # is k0·(m(φ) − m(lat_0)) + y_0 and our kernel's is k0·m(φ) + y0
        y0 = float(p.get("y_0", 0.0)) - k0 * float(_meridian_arc(np.radians(lat0)))
        return (lambda x, y: tm_inverse(x, y, lon0, k0=k0, x0=x0, y0=y0),
                lambda x, y: tm_forward(x, y, lon0, k0=k0, x0=x0, y0=y0))
    if proj == "laea":
        _check_wgs84_ellps(p, crs)
        lon0 = float(p.get("lon_0", 0.0))
        lat0 = float(p.get("lat_0", 0.0))
        x0 = float(p.get("x_0", 0.0))
        y0 = float(p.get("y_0", 0.0))
        return (lambda x, y: laea_inverse(x, y, lon0, lat0, x0, y0),
                lambda x, y: laea_forward(x, y, lon0, lat0, x0, y0))
    if proj == "aea":
        _check_wgs84_ellps(p, crs)
        lat1 = float(p.get("lat_1", 0.0))
        lat2 = float(p.get("lat_2", lat1))
        lat0 = float(p.get("lat_0", 0.0))
        lon0 = float(p.get("lon_0", 0.0))
        x0 = float(p.get("x_0", 0.0))
        y0 = float(p.get("y_0", 0.0))
        return (lambda x, y: albers_inverse(x, y, lat1, lat2, lat0, lon0, x0, y0),
                lambda x, y: albers_forward(x, y, lat1, lat2, lat0, lon0, x0, y0))
    if proj == "lcc":
        _check_wgs84_ellps(p, crs)
        if "k" in p or "k_0" in p:
            k0 = float(p.get("k", p.get("k_0", 1.0)))
            if k0 != 1.0:
                raise ValueError(
                    f"LCC with a scale factor (+k={k0}) is the Belgium/1SP-"
                    f"scaled variant, not supported: {crs!r}")
        if "lat_1" not in p:
            # PROJ defaults a missing lat_1 to 0, which silently yields a
            # different cone than the lat_0 fallback would — refuse the
            # ambiguous spelling rather than diverge
            raise ValueError(f"+proj=lcc without +lat_1 in {crs!r}")
        lat0 = float(p.get("lat_0", 0.0))
        lat1 = float(p["lat_1"])
        lat2 = float(p.get("lat_2", lat1))
        lon0 = float(p.get("lon_0", 0.0))
        x0 = float(p.get("x_0", 0.0))
        y0 = float(p.get("y_0", 0.0))
        return (lambda x, y: lcc_inverse(x, y, lat1, lat2, lat0, lon0, x0, y0),
                lambda x, y: lcc_forward(x, y, lat1, lat2, lat0, lon0, x0, y0))
    if proj == "moll":
        _check_wgs84_ellps(p, crs)
        if any(float(p.get(k, 0.0)) != 0.0 for k in ("lon_0", "x_0", "y_0")):
            raise ValueError(
                f"only the reference's moll parameterization (lon_0=0, "
                f"x_0=0, y_0=0) is supported, got {crs!r}")
        return mollweide_inverse, mollweide_forward
    if proj == "merc":
        # accept only the spherical (EPSG:3857) parameterization; true
        # ellipsoidal Mercator would need the conformal-latitude series
        a = float(p.get("a", p.get("R", WGS84_A)))
        b = float(p.get("b", a))
        if (a != b or a != WGS84_A or float(p.get("lon_0", 0.0)) != 0.0
                or float(p.get("lat_ts", 0.0)) != 0.0
                or float(p.get("k", p.get("k_0", 1.0))) != 1.0
                or float(p.get("x_0", 0.0)) != 0.0
                or float(p.get("y_0", 0.0)) != 0.0
                or p.get("pm") not in (None, True, "greenwich", "0", "0.0")):
            raise ValueError(
                f"only spherical web-Mercator (EPSG:3857 parameterization) "
                f"is supported, got {crs!r}")
        return web_mercator_inverse, web_mercator_forward
    raise ValueError(
        f"unsupported PROJ4 projection {proj!r} in {crs!r}; supported: "
        "longlat, utm, tmerc, laea, aea, lcc, moll, merc(spherical)")


def _resolve_crs(crs: str):
    """(to_wgs84, from_wgs84) for a CRS name or PROJ4 string, resolving
    UTM zones and LAEA dynamically (reference accepts any PROJ4 string
    via pyproj, utils/projection.py:23-60; this closed-form registry
    covers the CRSs real LCA/web data actually arrives in, plus their
    PROJ4 spellings so .prj / GeoJSON ``crs`` members resolve)."""
    if crs.lstrip().startswith("+"):
        return _resolve_proj4(crs)
    up = crs.upper().strip()
    if up in CRS_TO_WGS84:
        return CRS_TO_WGS84[up], CRS_FROM_WGS84[up]
    if up.startswith("EPSG:326") or up.startswith("EPSG:327"):
        code = up.split(":", 1)[1]
        if len(code) == 5 and code[3:].isdigit():
            zone = int(code[3:])
            if 1 <= zone <= 60:
                south = code.startswith("327")
                y0 = 10_000_000.0 if south else 0.0
                lon0 = utm_lon0(zone)
                return (lambda x, y: tm_inverse(x, y, lon0, y0=y0),
                        lambda x, y: tm_forward(x, y, lon0, y0=y0))
    if up == "EPSG:3035":
        lon0, lat0, x0, y0 = _LAEA_EUROPE
        return (lambda x, y: laea_inverse(x, y, lon0, lat0, x0, y0),
                lambda x, y: laea_forward(x, y, lon0, lat0, x0, y0))
    if up == "EPSG:5070":
        a = _ALBERS_CONUS
        return (lambda x, y: albers_inverse(x, y, *a),
                lambda x, y: albers_forward(x, y, *a))
    raise ValueError(
        f"unsupported CRS {crs!r}; supported: {sorted(CRS_TO_WGS84)} "
        "+ UTM zones EPSG:326xx/327xx + EPSG:3035 (LAEA Europe) "
        "+ EPSG:5070 (Conus Albers) "
        "+ PROJ4 strings (+proj=longlat/utm/tmerc/laea/aea/lcc/moll/merc)")


def to_wgs84(x: np.ndarray, y: np.ndarray, crs: str = "EPSG:4326") -> tuple[np.ndarray, np.ndarray]:
    """Normalize coordinates in a supported CRS to WGS84 degrees.

    Mirrors Map.iter_latlong's normalize-at-ingest pass
    (reference pandarus/model.py:130-140)."""
    return _resolve_crs(crs)[0](x, y)


def from_wgs84(x: np.ndarray, y: np.ndarray, crs: str = "EPSG:4326") -> tuple[np.ndarray, np.ndarray]:
    """Project WGS84 degrees into a supported CRS (writer/test twin of
    :func:`to_wgs84`)."""
    return _resolve_crs(crs)[1](x, y)


def is_geographic(crs: str) -> bool:
    """True when the CRS is a geographic (lon/lat degree) system — the
    reference's ``Proj.crs.is_geographic`` equivalent for the registry.
    Unknown CRSs return False (the projected path raises its clear
    unsupported-CRS error when the transform actually runs)."""
    try:
        fwd = _resolve_crs(crs)[1]
    except ValueError:
        return False
    return fwd is _IDENT


def project_geom(geom: dict, from_proj: str | None = None,
                 to_proj: str | None = None) -> dict:
    """Project a GeoJSON-like geometry dict between supported CRSs —
    the reference's public ``project_geom`` (utils/projection.py:23-60):
    ``from_proj`` defaults to WGS84 (also for falsey/'+no_defs' values,
    mirroring ``wgs84()``, projection.py:14-20), ``to_proj`` defaults to
    the Mollweide measure CRS, and the transform short-circuits when
    source and target resolve to the same kernel or are both geographic
    (projection.py:54-57)."""
    from .geom import transform_geom

    if not from_proj or from_proj == "+no_defs":
        from_proj = WGS84
    if to_proj is None:
        to_proj = MOLLWEIDE
    elif not to_proj or to_proj == "+no_defs":
        to_proj = WGS84
    # dynamically resolved CRSs (UTM/PROJ4/...) build fresh closures, so
    # function identity alone misses the equal-CRS case — a same-zone
    # round trip would perturb coordinates by the series error instead
    # of being the reference's no-op (round-2 review finding)
    if from_proj.strip().upper() == to_proj.strip().upper():
        return geom
    inv_from, fwd_from = _resolve_crs(from_proj)
    inv_to, fwd_to = _resolve_crs(to_proj)
    if fwd_from is fwd_to or (fwd_from is _IDENT and fwd_to is _IDENT):
        return geom

    def fn(x, y):
        lon, lat = inv_from(x, y)
        return fwd_to(lon, lat)

    return transform_geom(geom, fn)
