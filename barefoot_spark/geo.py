"""Vectorized WGS-84 geodesic kernels (numpy, batch-first).

Re-expresses the semantics of barefoot's spatial operator surface
(reference: src/main/java/com/bmwcarit/barefoot/spatial/Geography.java:24-193,
src/main/java/com/bmwcarit/barefoot/spatial/Intercept.java:97-134) as
numpy-vectorized functions. The reference delegates to GeographicLib
(Karney); we implement Vincenty's formulae, which agree with Karney to
sub-millimeter for the non-antipodal distances road matching deals with.
Everything here takes numpy arrays and iterates whole arrays at once —
these are the inner kernels of pandas/Arrow UDFs, never called per row.

Polylines are represented in CSR ("ragged") form: a flat (m, 2) float64
array of [lon, lat] vertices plus an int offsets array of length n+1, so
polyline i owns rows offsets[i]:offsets[i+1]. ``ragged`` is the engine's
one CSR expansion (each element's group and position in the group);
every batch kernel that walks groups of vertices, segments, cells or
successors builds its flat arrays with it.
"""

from __future__ import annotations

import numpy as np

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1.0 - WGS84_F)

_MAXIT_INV = 50
_MAXIT_ICPT = 10  # mirrors reference Intercept.maxit (Intercept.java:62)


def _fixed_point(step, x0, args, tol):
    """Elementwise fixed-point iteration ``x <- step(x, *args)`` over
    same-shape arrays. Each element stops at its own first step that
    moves it by less than ``tol`` (or after _MAXIT_INV steps), exactly
    like the scalar recursion, so no element's result depends on the
    others in the call: converged elements leave the working set. 0-d
    inputs stay numpy scalars (one element never converges partially),
    which keeps scalar calls cheap."""
    x, act, xa = x0, None, x0   # act: positions of the working set in x
    for _ in range(_MAXIT_INV):
        x_new = step(xa, *args)
        if act is None:
            x = x_new
        else:
            x.reshape(-1)[act] = x_new
        going = ~(np.abs(x_new - xa) < tol)
        if not going.any():
            break
        if going.all():
            xa = x_new
            continue
        act = np.flatnonzero(going) if act is None else act[going]
        xa = x_new[going]
        args = tuple(v[going] for v in args)
    return x


def inverse(lat1, lon1, lat2, lon2):
    """Geodesic inverse problem, fully vectorized Vincenty.

    Returns (s12 meters, azi1 degrees, azi2 degrees); azimuths in
    (-180, 180] like GeographicLib (Geography.java:28-29 uses .s12/.azi1).
    Coincident points return (0, 0, 0).
    """
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    lat1, lon1, lat2, lon2 = np.broadcast_arrays(lat1, lon1, lat2, lon2)

    f = WGS84_F
    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    # iterate only the fixed point lambda; derive the other geodesic
    # quantities once from the converged lambda (cuts the per-iteration
    # array-op count roughly in half — this is the hottest kernel)
    cU1cU2 = cosU1 * cosU2
    sU1sU2 = sinU1 * sinU2
    sU1cU2 = sinU1 * cosU2
    cU1sU2 = cosU1 * sinU2

    def step(lam, L, cosU2, cU1sU2, sU1cU2, sU1sU2, cU1cU2):
        sl, cl = np.sin(lam), np.cos(lam)
        ss = np.hypot(cosU2 * sl, cU1sU2 - sU1cU2 * cl)
        cs = sU1sU2 + cU1cU2 * cl
        sig = np.arctan2(ss, cs)
        sa = np.where(ss != 0, cU1cU2 * sl / np.where(ss == 0, 1, ss), 0.0)
        c2a = 1.0 - sa * sa
        c2sm = np.where(c2a != 0, cs - 2 * sU1sU2 / np.where(c2a == 0, 1, c2a), 0.0)
        C = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
        return L + (1 - C) * f * sa * (
            sig + C * ss * (c2sm + C * cs * (-1 + 2 * c2sm * c2sm)))

    # one errstate for the whole recursion: entering it costs more than
    # an iteration's arithmetic on the small arrays the matcher passes
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = _fixed_point(step, L,
                           (L, cosU2, cU1sU2, sU1cU2, sU1sU2, cU1cU2), 1e-12)
        sl, cl = np.sin(lam), np.cos(lam)
        sin_sig = np.hypot(cosU2 * sl, cU1sU2 - sU1cU2 * cl)
        cos_sig = sU1sU2 + cU1cU2 * cl
        sigma = np.arctan2(sin_sig, cos_sig)
        sin_alpha = np.where(sin_sig != 0,
                             cU1cU2 * sl / np.where(sin_sig == 0, 1, sin_sig), 0.0)
        cos2_alpha = 1.0 - sin_alpha * sin_alpha
        cos_2sigm = np.where(cos2_alpha != 0,
                             cos_sig - 2 * sU1sU2 / np.where(cos2_alpha == 0, 1, cos2_alpha),
                             0.0)

    u2 = cos2_alpha * (WGS84_A * WGS84_A - WGS84_B * WGS84_B) / (WGS84_B * WGS84_B)
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    dsig = B * sin_sig * (cos_2sigm + B / 4 * (
        cos_sig * (-1 + 2 * cos_2sigm ** 2)
        - B / 6 * cos_2sigm * (-3 + 4 * sin_sig ** 2) * (-3 + 4 * cos_2sigm ** 2)))
    s12 = WGS84_B * A * (sigma - dsig)

    sl, cl = np.sin(lam), np.cos(lam)
    azi1 = np.degrees(np.arctan2(cosU2 * sl, cosU1 * sinU2 - sinU1 * cosU2 * cl))
    azi2 = np.degrees(np.arctan2(cosU1 * sl, -sinU1 * cosU2 + cosU1 * sinU2 * cl))

    same = (lat1 == lat2) & (lon1 == lon2)
    s12 = np.where(same, 0.0, s12)
    azi1 = np.where(same, 0.0, azi1)
    azi2 = np.where(same, 0.0, azi2)
    return s12, azi1, azi2


def direct(lat1, lon1, azi1, s12):
    """Geodesic direct problem, vectorized Vincenty.

    Returns (lat2, lon2, azi2 degrees). Mirrors Geodesic.Direct usage in
    the reference (Geography.java:49-52, envelope Geography.java:183-186).
    """
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    azi1 = np.asarray(azi1, dtype=np.float64)
    s12 = np.asarray(s12, dtype=np.float64)
    lat1, lon1, azi1, s12 = np.broadcast_arrays(lat1, lon1, azi1, s12)

    f = WGS84_F
    alpha1 = np.radians(azi1)
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sin_a1, cos_a1 = np.sin(alpha1), np.cos(alpha1)
    sigma1 = np.arctan2(np.tan(U1), cos_a1)
    sin_alpha = cosU1 * sin_a1
    cos2_alpha = 1 - sin_alpha * sin_alpha
    u2 = cos2_alpha * (WGS84_A ** 2 - WGS84_B ** 2) / WGS84_B ** 2
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))

    sigma0 = s12 / (WGS84_B * A)

    def step(sigma, sigma1, B, sigma0):
        cos_2sigm = np.cos(2 * sigma1 + sigma)
        ss, cs = np.sin(sigma), np.cos(sigma)
        dsig = B * ss * (cos_2sigm + B / 4 * (
            cs * (-1 + 2 * cos_2sigm ** 2)
            - B / 6 * cos_2sigm * (-3 + 4 * ss ** 2) * (-3 + 4 * cos_2sigm ** 2)))
        return sigma0 + dsig
    sigma = _fixed_point(step, sigma0, (sigma1, B, sigma0), 1e-13)

    ss, cs = np.sin(sigma), np.cos(sigma)
    cos_2sigm = np.cos(2 * sigma1 + sigma)
    lat2 = np.degrees(np.arctan2(
        sinU1 * cs + cosU1 * ss * cos_a1,
        (1 - f) * np.hypot(sin_alpha, sinU1 * ss - cosU1 * cs * cos_a1)))
    lam = np.arctan2(ss * sin_a1, cosU1 * cs - sinU1 * ss * cos_a1)
    C = f / 16 * cos2_alpha * (4 + f * (4 - 3 * cos2_alpha))
    L = lam - (1 - C) * f * sin_alpha * (
        sigma + C * ss * (cos_2sigm + C * cs * (-1 + 2 * cos_2sigm ** 2)))
    lon2 = lon1 + np.degrees(L)
    lon2 = (lon2 + 540.0) % 360.0 - 180.0
    azi2 = np.degrees(np.arctan2(sin_alpha, -(sinU1 * ss - cosU1 * cs * cos_a1)))
    return lat2, lon2, azi2


def _inverse_scalar_s12(lat1, lon1, lat2, lon2):
    """Scalar Vincenty distance — same formula/iteration as `inverse`
    but via the math module. For arrays of a handful of elements the
    numpy path pays ~200µs of ufunc/errstate overhead per call; the
    matcher's per-step carry-over checks hit exactly that regime, so
    tiny batches route here (identical math, same convergence test)."""
    import math as m
    if lat1 == lat2 and lon1 == lon2:
        return 0.0
    f = WGS84_F
    L = m.radians(lon2 - lon1)
    U1 = m.atan((1 - f) * m.tan(m.radians(lat1)))
    U2 = m.atan((1 - f) * m.tan(m.radians(lat2)))
    sinU1, cosU1 = m.sin(U1), m.cos(U1)
    sinU2, cosU2 = m.sin(U2), m.cos(U2)
    cU1cU2 = cosU1 * cosU2
    sU1sU2 = sinU1 * sinU2
    sU1cU2 = sinU1 * cosU2
    cU1sU2 = cosU1 * sinU2
    lam = L
    for _ in range(_MAXIT_INV):
        sl, cl = m.sin(lam), m.cos(lam)
        ss = m.hypot(cosU2 * sl, cU1sU2 - sU1cU2 * cl)
        cs = sU1sU2 + cU1cU2 * cl
        sig = m.atan2(ss, cs)
        sa = cU1cU2 * sl / ss if ss != 0 else 0.0
        c2a = 1.0 - sa * sa
        c2sm = cs - 2 * sU1sU2 / c2a if c2a != 0 else 0.0
        C = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
        lam_new = L + (1 - C) * f * sa * (
            sig + C * ss * (c2sm + C * cs * (-1 + 2 * c2sm * c2sm)))
        done = abs(lam_new - lam) < 1e-12
        lam = lam_new
        if done:
            break
    sl, cl = m.sin(lam), m.cos(lam)
    sin_sig = m.hypot(cosU2 * sl, cU1sU2 - sU1cU2 * cl)
    cos_sig = sU1sU2 + cU1cU2 * cl
    sigma = m.atan2(sin_sig, cos_sig)
    sin_alpha = cU1cU2 * sl / sin_sig if sin_sig != 0 else 0.0
    cos2_alpha = 1.0 - sin_alpha * sin_alpha
    cos_2sigm = cos_sig - 2 * sU1sU2 / cos2_alpha if cos2_alpha != 0 else 0.0
    u2 = cos2_alpha * (WGS84_A * WGS84_A - WGS84_B * WGS84_B) / (WGS84_B * WGS84_B)
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    dsig = B * sin_sig * (cos_2sigm + B / 4 * (
        cos_sig * (-1 + 2 * cos_2sigm ** 2)
        - B / 6 * cos_2sigm * (-3 + 4 * sin_sig ** 2) * (-3 + 4 * cos_2sigm ** 2)))
    return WGS84_B * A * (sigma - dsig)


def distance(lat1, lon1, lat2, lon2):
    """Geodesic distance in meters (Geography.java:27-30). Tiny batches
    (<= 8 elements, all-scalar broadcast inputs) take the scalar fast
    path; everything else runs the vectorized kernel. The two paths run
    the same recursion but differ by about 1e-11 (math-module versus
    numpy transcendentals), so a pair's distance here depends on the
    size of the call; use ``_inverse_scalar_s12`` or ``inverse`` where
    it must not."""
    a1 = np.asarray(lat1, dtype=np.float64)
    o1 = np.asarray(lon1, dtype=np.float64)
    a2 = np.asarray(lat2, dtype=np.float64)
    o2 = np.asarray(lon2, dtype=np.float64)
    if max(a1.ndim, o1.ndim, a2.ndim, o2.ndim) <= 1:
        n = max(a1.size, o1.size, a2.size, o2.size)
        if n <= 8 and min(a1.size, o1.size, a2.size, o2.size) in (1, n):
            b = np.broadcast(a1, o1, a2, o2)
            out = np.array([_inverse_scalar_s12(w, x, y, z)
                            for w, x, y, z in b])
            return out.reshape(b.shape)
    return inverse(lat1, lon1, lat2, lon2)[0]


def interpolate_segment(lat1, lon1, lat2, lon2, f):
    """Point at fraction f along geodesic a->b (Geography.java:47-53)."""
    s12, azi1, _ = inverse(lat1, lon1, lat2, lon2)
    lat, lon, _ = direct(lat1, lon1, azi1, s12 * np.asarray(f, dtype=np.float64))
    same = s12 == 0
    if np.ndim(lat):
        lat = np.where(same, np.broadcast_arrays(lat, lat1)[1], lat)
        lon = np.where(same, np.broadcast_arrays(lon, lon1)[1], lon)
    return lat, lon


def _aeq(lat0, lon0, lat, lon):
    """Azimuthal-equidistant forward projection centred at (lat0, lon0):
    (x east, y north) in meters. Geodesics through the centre are
    straight lines in this plane and radial distances are exact."""
    s, azi, _ = inverse(lat0, lon0, lat, lon)
    a = np.radians(azi)
    return s * np.sin(a), s * np.cos(a)


def _aeq_fixed_point(lat0, lon0, points, solve):
    """Karney's projection iteration (Intercept.java:97-134,
    Intersect.java:55-139): project ``points`` ((lat, lon) pairs) into
    the plane centred at (lat0, lon0), take the planar answer
    ``solve(*xys)`` and re-centre there, for at most _MAXIT_ICPT rounds
    or until no centre moves by 1e-12 degrees. Returns the centre."""
    for _ in range(_MAXIT_ICPT):
        px, py = solve(*(_aeq(lat0, lon0, la, lo) for la, lo in points))
        lat1, lon1, _ = direct(lat0, lon0, np.degrees(np.arctan2(px, py)),
                               np.hypot(px, py))
        done = np.all(np.abs(lat1 - lat0) < 1e-12) and \
            np.all(np.abs(lon1 - lon0) < 1e-12)
        lat0, lon0 = lat1, lon1
        if done:
            break
    return lat0, lon0


def intercept_segment(lat1, lon1, lat2, lon2, latc, lonc):
    """Fraction along geodesic a->b of the point closest to c.

    Vectorized analog of the gnomonic-iteration intercept
    (Intercept.java:97-134, sign convention Geography.java:32-45): start
    from the geodesic midpoint and iterate ``_aeq_fixed_point`` on the
    planar foot of the perpendicular from c onto line a-b. May return f
    outside [0,1] (beyond segment ends) exactly like the reference.
    """
    lat1, lon1, lat2, lon2, latc, lonc = np.broadcast_arrays(
        *(np.asarray(x, dtype=np.float64) for x in (lat1, lon1, lat2, lon2, latc, lonc)))
    s_ab, azi_ab, _ = inverse(lat1, lon1, lat2, lon2)
    late, lone, _ = direct(lat1, lon1, azi_ab, s_ab * 0.5)

    def foot(a, b, c):
        (xa, ya), (xb, yb), (xc, yc) = a, b, c
        dx, dy = xb - xa, yb - ya
        den = dx * dx + dy * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(den > 0, ((xc - xa) * dx + (yc - ya) * dy) / np.where(den == 0, 1, den), 0.0)
        return xa + t * dx, ya + t * dy

    late, lone = _aeq_fixed_point(
        late, lone, ((lat1, lon1), (lat2, lon2), (latc, lonc)), foot)
    s_ai, azi_ai, _ = inverse(lat1, lon1, late, lone)
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = np.where(s_ab > 0, s_ai / np.where(s_ab == 0, 1, s_ab), 0.0)
    # sign: negative when the interception lies behind a
    # (Geography.java:44). The bearing comparison must be CIRCULAR:
    # a due-south geodesic reports +180 for a->b but can report
    # -179.99... for a->i after the iteration's last femto-degree of
    # longitude drift, and a plain |Δ| would flip the sign of an
    # on-segment interception (found by the hypothesis property test).
    dazi = np.abs(azi_ai - azi_ab)
    dazi = np.minimum(dazi, 360.0 - dazi)
    frac = np.where(dazi < 1, frac, -frac)
    frac = np.where((lat1 == lat2) & (lon1 == lon2), 0.0, frac)
    return frac


def intersect_geodesics(lata1, lona1, lata2, lona2,
                        latb1, lonb1, latb2, lonb2):
    """Intersection point of two geodesics (Intersect.java:55-139,
    Karney's gnomonic-projection method, Algorithms for geodesics §8).

    Vectorized: start from the 4-point average (the reference's init)
    and iterate ``_aeq_fixed_point`` on the planar line-line
    intersection. The reference projects gnomonically; the
    azimuthal-equidistant plane also makes geodesics through the centre
    straight, so the fixed point is the same true intersection.

    Returns (lat, lon, s12) where s12 is the geodesic distance from
    (lata1, lona1) to the intersection (the reference returns the
    Inverse from a1)."""
    lata1, lona1, lata2, lona2, latb1, lonb1, latb2, lonb2 = \
        np.broadcast_arrays(*(np.asarray(x, dtype=np.float64) for x in (
            lata1, lona1, lata2, lona2, latb1, lonb1, latb2, lonb2)))
    latp = (lata1 + lata2 + latb1 + latb2) / 4.0
    lonp = (np.mod(lona1, 360.0) + np.mod(lona2, 360.0)
            + np.mod(lonb1, 360.0) + np.mod(lonb2, 360.0)) / 4.0
    lonp = np.where(lonp > 180.0, lonp - 360.0, lonp)

    def meet(a1, a2, b1, b2):
        # homogeneous line-line intersection: l = p1 x p2, p = la x lb
        (xa1, ya1), (xa2, ya2), (xb1, yb1), (xb2, yb2) = a1, a2, b1, b2
        la = np.stack([ya1 - ya2, xa2 - xa1, xa1 * ya2 - xa2 * ya1])
        lb = np.stack([yb1 - yb2, xb2 - xb1, xb1 * yb2 - xb2 * yb1])
        px = la[1] * lb[2] - la[2] * lb[1]
        py = la[2] * lb[0] - la[0] * lb[2]
        pz = la[0] * lb[1] - la[1] * lb[0]
        with np.errstate(divide="ignore", invalid="ignore"):
            return (np.where(pz != 0, px / np.where(pz == 0, 1, pz), 0.0),
                    np.where(pz != 0, py / np.where(pz == 0, 1, pz), 0.0))

    latp, lonp = _aeq_fixed_point(latp, lonp, (
        (lata1, lona1), (lata2, lona2), (latb1, lonb1), (latb2, lonb2)), meet)
    return latp, lonp, distance(lata1, lona1, latp, lonp)


def _group_first(n_groups, group_idx, mask=None):
    """Index of first element (by position) per group; -1 if none."""
    order = np.arange(len(group_idx))
    if mask is not None:
        order = order[mask]
        group_idx = group_idx[mask]
    out = np.full(n_groups, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(out, group_idx, order)
    out[out == np.iinfo(np.int64).max] = -1
    return out


def _group_last(n_groups, group_idx, mask=None):
    """Index of last element (by position) per group; -1 if none."""
    order = np.arange(len(group_idx))
    if mask is not None:
        order = order[mask]
        group_idx = group_idx[mask]
    out = np.full(n_groups, -1, dtype=np.int64)
    np.maximum.at(out, group_idx, order)
    return out


# ---------------------------------------------------------------------------
# Polyline (CSR ragged) operators
# ---------------------------------------------------------------------------

def ragged(counts):
    """The one CSR expansion: for groups of ``counts`` elements laid end
    to end, each element's group index and its position in the group."""
    counts = np.asarray(counts, dtype=np.int64)
    group = np.repeat(np.arange(len(counts)), counts)
    starts = np.cumsum(counts) - counts
    return group, np.arange(len(group), dtype=np.int64) - starts[group]


def _pairs(poly_for_point, n):
    """Polyline of each (point, polyline) pair; one pair per polyline
    when None."""
    if poly_for_point is None:
        return np.arange(n, dtype=np.int64)
    return np.asarray(poly_for_point, dtype=np.int64)


def _pair_segments(offsets, poly_for_point):
    """(pair, first vertex) of every segment of each pair's polyline; a
    polyline of 0 or 1 vertices has none."""
    counts = np.maximum((offsets[1:] - offsets[:-1] - 1)[poly_for_point], 0)
    pair_idx, seg_local = ragged(counts)
    return pair_idx, offsets[poly_for_point][pair_idx] + seg_local


def polyline_length(coords, offsets):
    """Sum of segment geodesics per polyline (Geography.java:69-78)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    poly_idx, a = _pair_segments(offsets, np.arange(len(offsets) - 1))
    lon, lat = coords[:, 0], coords[:, 1]
    seg_len = distance(lat[a], lon[a], lat[a + 1], lon[a + 1])
    return np.bincount(poly_idx, weights=seg_len, minlength=len(offsets) - 1)


def _pair_vertex_view(offsets, poly_for_point):
    """Per (pair, vertex) expansion: the pair, the vertex, and whether
    it starts a segment (every vertex but each pair's last)."""
    vcounts = (offsets[1:] - offsets[:-1])[poly_for_point]
    vpair_idx, v_local = ragged(vcounts)
    v_idx = offsets[poly_for_point][vpair_idx] + v_local
    return vpair_idx, v_idx, v_local < vcounts[vpair_idx] - 1


def _length_before(ds, pair_idx, npairs):
    """Length of each pair's polyline before each of its segments."""
    cum = np.zeros(len(ds) + 1)
    np.cumsum(ds, out=cum[1:])
    first = np.maximum(_group_first(npairs, pair_idx), 0)
    return cum[:-1] - cum[first][pair_idx]


def polyline_min_dist_planar(coords, offsets, latc, lonc, poly_for_point):
    """Cheap equirectangular min point-to-polyline distance (meters) —
    a conservative prefilter before the exact geodesic refine (error
    well under 1% at sub-km scales). ~10 arithmetic ops per segment, one
    cos per pair; no transcendental iteration."""
    latc = np.asarray(latc, dtype=np.float64)
    lonc = np.asarray(lonc, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    poly_for_point = np.asarray(poly_for_point, dtype=np.int64)
    vpair_idx, v_idx, seg_sel = _pair_vertex_view(offsets, poly_for_point)
    lon = coords[:, 0]
    lat = coords[:, 1]
    k = np.cos(np.radians(latc))[vpair_idx]
    vx = (lon[v_idx] - lonc[vpair_idx]) * k * 111319.49
    vy = (lat[v_idx] - latc[vpair_idx]) * 111194.93
    pair_idx = vpair_idx[seg_sel]
    ax, ay = vx[seg_sel], vy[seg_sel]
    bx, by = vx[1:][seg_sel[:-1]], vy[1:][seg_sel[:-1]]
    dxs, dys = bx - ax, by - ay
    den = dxs * dxs + dys * dys
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(den > 0, -(ax * dxs + ay * dys) / np.where(den == 0, 1, den), 0.0)
    t = np.clip(t, 0.0, 1.0)
    d = np.hypot(ax + t * dxs, ay + t * dys)
    out = np.full(len(poly_for_point), np.inf)
    np.minimum.at(out, pair_idx, d)
    return out


def polyline_intercept(coords, offsets, latc, lonc, poly_for_point=None):
    """Global length-fraction of closest point on polyline to c
    (Geography.java:80-106): per-segment intercept clamped to [0,1],
    refined point distance, min over segments, distance-weighted global
    fraction.

    If poly_for_point is None, latc/lonc are per-polyline (one point per
    polyline). Otherwise latc/lonc index pairs (point i vs polyline
    poly_for_point[i]) and the result is per pair.

    Fast path: instead of the per-segment gnomonic iteration, each
    pair's polyline vertices are projected ONCE into the azimuthal-
    equidistant plane centered at the query point; the per-segment foot
    of the perpendicular from the origin gives fraction and distance.
    Geodesics through the center are straight and radial distances are
    exact in this projection, so the error is O(s·(d/R)^2) — sub-mm for
    the sub-km geometries of a road-matching radius query — vs the
    reference's <=10-iteration gnomonic refinement (Intercept.java:
    97-134). Projection cost: ONE vectorized geodesic inverse per
    (pair, vertex), shared across the vertex's two adjacent segments.

    Returns (fraction, min_distance_m); a pair whose polyline has no
    segment (0 or 1 vertex) gets fraction 0 and distance inf, as in
    ``polyline_min_dist_planar``.
    """
    latc = np.asarray(latc, dtype=np.float64)
    lonc = np.asarray(lonc, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    poly_for_point = _pairs(poly_for_point, len(latc))
    vpair_idx, v_idx, seg_sel = _pair_vertex_view(offsets, poly_for_point)
    # one AEQ projection per (pair, vertex), centered at the query point
    vx, vy = _aeq(latc[vpair_idx], lonc[vpair_idx], coords[v_idx, 1], coords[v_idx, 0])
    pair_idx = vpair_idx[seg_sel]
    ax, ay = vx[seg_sel], vy[seg_sel]
    bx, by = vx[1:][seg_sel[:-1]], vy[1:][seg_sel[:-1]]

    dxs, dys = bx - ax, by - ay
    den = dxs * dxs + dys * dys
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(den > 0, -(ax * dxs + ay * dys) / np.where(den == 0, 1, den), 0.0)
    f = np.clip(t, 0.0, 1.0)
    fx, fy = ax + f * dxs, ay + f * dys
    d = np.hypot(fx, fy)
    ds = np.sqrt(den)  # planar segment length == geodesic length to O((L/R)^2)

    npairs = len(poly_for_point)
    best_d = np.full(npairs, np.inf)
    np.minimum.at(best_d, pair_idx, d)
    s_before = _length_before(ds, pair_idx, npairs)
    total = np.bincount(pair_idx, weights=ds, minlength=npairs)

    # reference keeps the FIRST segment achieving the min distance
    # (strict '<' update, Geography.java:97-100)
    is_best = d == best_d[pair_idx]
    pick = _group_first(npairs, pair_idx, is_best)
    sf = np.zeros(npairs)
    ok = pick >= 0
    sf[ok] = f[pick[ok]] * ds[pick[ok]] + s_before[pick[ok]]
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = np.where(total > 0, sf / np.where(total == 0, 1, total), 0.0)
    return frac, best_d


def _seek(ds, pair_idx, frac, poly_for_point, lengths):
    """Walk each pair's segments (lengths ``ds``) to the global fraction
    ``frac`` of its polyline's length (``lengths``, else the sum of
    ``ds``). Returns the length before each segment, each pair's target
    length, and the first segment reaching it (Geography.java:128-132),
    or the last segment when rounding leaves none."""
    npairs = len(poly_for_point)
    total = (np.bincount(pair_idx, weights=ds, minlength=npairs) if lengths is None
             else np.asarray(lengths, dtype=np.float64)[poly_for_point])
    s_before = _length_before(ds, pair_idx, npairs)
    d_target = total * np.clip(frac, 0.0, 1.0)
    reach = (s_before + ds + 1e-9) >= d_target[pair_idx]
    pick = _group_first(npairs, pair_idx, reach)
    last = np.maximum(_group_last(npairs, pair_idx), 0)
    return s_before, d_target, (np.where(pick < 0, last, pick) if len(ds) else pick)


def _snap_ends(lat, lon, offsets, poly_for_point, frac, out_lat, out_lon):
    """Endpoint fast paths (Geography.java:119-125): a fraction within
    1e-10 of 0 or 1 gives the polyline's first or last vertex."""
    start_pt = offsets[poly_for_point]
    end_pt = offsets[poly_for_point + 1] - 1
    f0 = frac < 1e-10
    f1 = frac > 1 - 1e-10
    return (np.where(f0, lat[start_pt], np.where(f1, lat[end_pt], out_lat)),
            np.where(f0, lon[start_pt], np.where(f1, lon[end_pt], out_lon)))


def polyline_interpolate(coords, offsets, frac, poly_for_point=None, lengths=None):
    """Point at global length-fraction f (Geography.java:108-142)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    frac = np.asarray(frac, dtype=np.float64)
    poly_for_point = _pairs(poly_for_point, len(frac))
    pair_idx, a = _pair_segments(offsets, poly_for_point)
    lon, lat = coords[:, 0], coords[:, 1]
    alat, alon, blat, blon = lat[a], lon[a], lat[a + 1], lon[a + 1]
    ds = distance(alat, alon, blat, blon)
    s_before, d_target, pick = _seek(ds, pair_idx, frac, poly_for_point, lengths)

    npairs = len(poly_for_point)
    out_lat = np.zeros(npairs)
    out_lon = np.zeros(npairs)
    ok = pick >= 0
    if ok.any():
        p = pick[ok]
        with np.errstate(divide="ignore", invalid="ignore"):
            local_f = np.where(ds[p] > 0, (d_target[ok] - s_before[p]) / np.where(ds[p] == 0, 1, ds[p]), 0.0)
        local_f = np.clip(local_f, 0.0, 1.0)
        out_lat[ok], out_lon[ok] = interpolate_segment(alat[p], alon[p], blat[p], blon[p], local_f)
    return _snap_ends(lat, lon, offsets, poly_for_point, frac, out_lat, out_lon)


def polyline_point_azimuth(coords, offsets, frac, poly_for_point=None, lengths=None):
    """Fused interpolate + azimuth at a global length-fraction: one
    geodesic inverse (segment) + one direct (shot to the fraction) per
    row — the direct problem's arrival azimuth IS the heading there, so
    the separate azimuth pass of the reference (Geography.java:55-67
    re-derives it with an extra inverse) is unnecessary.
    Returns (lat, lon, azimuth[0,360))."""
    offsets = np.asarray(offsets, dtype=np.int64)
    frac = np.asarray(frac, dtype=np.float64)
    poly_for_point = _pairs(poly_for_point, len(frac))
    pair_idx, a = _pair_segments(offsets, poly_for_point)
    lon, lat = coords[:, 0], coords[:, 1]
    alat, alon, blat, blon = lat[a], lon[a], lat[a + 1], lon[a + 1]
    ds, seg_azi1, _ = inverse(alat, alon, blat, blon)
    s_before, d_target, p = _seek(ds, pair_idx, frac, poly_for_point, lengths)

    with np.errstate(divide="ignore", invalid="ignore"):
        d_local = np.clip(d_target - s_before[p], 0.0, None)
    out_lat, out_lon, azi2 = direct(alat[p], alon[p], seg_azi1[p], d_local)
    zero_len = ds[p] == 0
    out_lat = np.where(zero_len, alat[p], out_lat)
    out_lon = np.where(zero_len, alon[p], out_lon)
    azi = np.where(d_local < 1e-9, seg_azi1[p], azi2)
    out_lat, out_lon = _snap_ends(lat, lon, offsets, poly_for_point, frac, out_lat, out_lon)
    return out_lat, out_lon, np.where(azi < 0, azi + 360.0, azi)


def envelope(latc, lonc, radius_m):
    """Conservative (lat_min, lat_max, lon_min, lon_max) of the radius
    circle. The reference shoots four geodesic directs
    (Geography.java:180-192); since the envelope only prefilters
    candidates before an exact refine, we use the closed-form
    meters-per-degree bound with a 0.5% safety margin instead — four
    Vincenty solves per probe row would dominate the join's memory
    bandwidth for no accuracy benefit."""
    latc = np.asarray(latc, dtype=np.float64)
    lonc = np.asarray(lonc, dtype=np.float64)
    dlat = (radius_m / 111132.95) * 1.005 + 1e-9  # min m/deg of latitude
    coslat = np.cos(np.radians(np.minimum(np.abs(latc) + dlat, 89.9)))
    dlon = radius_m / (111319.49 * coslat) * 1.005 + 1e-9
    return latc - dlat, latc + dlat, lonc - dlon, lonc + dlon
