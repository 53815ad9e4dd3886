"""Brute-force references for the spatial operators, in numpy.

Each function answers the operator's question for a handful of sampled
inputs by looking at every candidate, with no index and no pruning, so a
pruning or index bug in the engine shows up as a mismatch.
"""

from __future__ import annotations

import math

import numpy as np

from wayproblems_spark.operators.knn import EARTH_RADIUS_M


def _xyz(lat, lon):
    rl, rn = np.radians(lat), np.radians(lon)
    return np.stack([np.cos(rl) * np.cos(rn), np.cos(rl) * np.sin(rn), np.sin(rl)], -1)


def chord2_to_m(c2):
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(c2) / 2.0)


def nearest_vertex(plat, plon, vlat, vlon, vway):
    """For each point: (way id of its nearest vertex, that distance in m,
    the gap to the runner-up way in m). Ties break on the smaller way id,
    as in the engine."""
    v = _xyz(vlat, vlon)
    out = []
    for p in _xyz(np.asarray(plat), np.asarray(plon)):
        c2 = ((v - p) ** 2).sum(axis=1)
        best = np.lexsort((vway, c2))[0]
        other = c2[vway != vway[best]]
        gap = chord2_to_m(other.min()) - chord2_to_m(c2[best]) if len(other) else math.inf
        out.append((int(vway[best]), float(chord2_to_m(c2[best])), float(gap)))
    return out


def range_partners(plat, plon, slat, slon, sid, radius_m):
    """For each point: {static id: c2 / threshold} for every static point
    within ``radius_m`` (great circle), plus those just outside it."""
    t = 2.0 * math.sin(radius_m / (2.0 * EARTH_RADIUS_M))
    thr = t * t
    s = _xyz(slat, slon)
    out = []
    for p in _xyz(np.asarray(plat), np.asarray(plon)):
        rel = ((s - p) ** 2).sum(axis=1) / thr
        near = rel <= 1.0 + 1e-9
        out.append(dict(zip(sid[near].tolist(), rel[near].tolist())))
    return out


def in_ring(lat: float, lon: float, ring) -> bool:
    """Even-odd ray cast, the engine's arithmetic and operand order."""
    inside = False
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        if (ay > lat) != (by > lat) and lon < (bx - ax) * (lat - ay) / (by - ay) + ax:
            inside = not inside
    return inside


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def rings_intersect(ring_a, ring_b) -> bool:
    """Any edge of A crosses any edge of B, or either ring lies inside the
    other: every (edge, edge) pair is tested."""
    a = np.asarray(ring_a)
    b = np.asarray(ring_b)
    p1, p2 = a[:-1, None, :], a[1:, None, :]
    q1, q2 = b[None, :-1, :], b[None, 1:, :]
    d1 = _orient(p1[..., 0], p1[..., 1], p2[..., 0], p2[..., 1], q1[..., 0], q1[..., 1])
    d2 = _orient(p1[..., 0], p1[..., 1], p2[..., 0], p2[..., 1], q2[..., 0], q2[..., 1])
    d3 = _orient(q1[..., 0], q1[..., 1], q2[..., 0], q2[..., 1], p1[..., 0], p1[..., 1])
    d4 = _orient(q1[..., 0], q1[..., 1], q2[..., 0], q2[..., 1], p2[..., 0], p2[..., 1])
    if bool(((d1 * d2 < 0) & (d3 * d4 < 0)).any()):
        return True

    def within(a1, a2, c):  # c inside the bounding box of segment a1-a2
        return (
            (np.minimum(a1[..., 0], a2[..., 0]) <= c[..., 0])
            & (c[..., 0] <= np.maximum(a1[..., 0], a2[..., 0]))
            & (np.minimum(a1[..., 1], a2[..., 1]) <= c[..., 1])
            & (c[..., 1] <= np.maximum(a1[..., 1], a2[..., 1]))
        )

    touch = (
        ((d1 == 0) & within(p1, p2, q1)) | ((d2 == 0) & within(p1, p2, q2))
        | ((d3 == 0) & within(q1, q2, p1)) | ((d4 == 0) & within(q1, q2, p2))
    )
    if bool(touch.any()):
        return True
    return in_ring(ring_b[0][1], ring_b[0][0], ring_a) or in_ring(
        ring_a[0][1], ring_a[0][0], ring_b
    )


def bboxes(rings) -> np.ndarray:
    """(n, 4) array of [lon_min, lon_max, lat_min, lat_max] per ring."""
    out = np.empty((len(rings), 4))
    for i, ring in enumerate(rings):
        r = np.asarray(ring)
        out[i] = r[:, 0].min(), r[:, 0].max(), r[:, 1].min(), r[:, 1].max()
    return out
