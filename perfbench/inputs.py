"""Seeded input generators. Every input derives from ``--seed``; the engine
only ever sees the parquet files written from these arrays.

All geometry sits in the fixture corpus's bounding box (lat 51–52.5,
lon 8–9.5, FIXTURES.md §3), so the way network, polygon layers and point
sets overlap the way real regional data does.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from wayproblems_spark.fixtures.pages import LAT0, LAT1, LON0, LON1

LONLAT = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))


def write_parquet(table: pa.Table, path: str, files: int = 8) -> None:
    """Write ``table`` as ``files`` parquet files under ``path``, the way
    the job's inputs arrive: files on disk, read by ``spark.read.parquet``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _struct_rows(rows) -> list:
    return [[{"lon": x, "lat": y} for x, y in r] for r in rows]


# ---------------------------------------------------------------- validate


def pages_table(corpus: dict) -> pa.Table:
    """A ``fixtures.pages.generate_corpus`` corpus in the pages schema of
    ``fixtures.pages.pages_df``: the job's ``--pages`` input."""
    url, ts, html, text, lang = zip(*corpus["pages"])
    return pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })


# ---------------------------------------------------------------- relayer


def _rng(seed: int, *key: int) -> np.random.Generator:
    """Independent stream per (seed, purpose, ...) key."""
    return np.random.default_rng([seed % 2**32, *key])


def way_network(seed: int, n_ways: int, version: int):
    """Resolved ways as polylines of 2–8 vertices with ~200 m steps.

    Returns (way_id per vertex, lat, lon, table) where the table is the
    resolved-ways schema ``way_id long, geom array<struct<lon,lat>>``.
    Vertices are distinct, so the nearest vertex is unique up to
    floating-point ties."""
    r = _rng(seed, 11, version)
    nv = r.integers(2, 9, n_ways)
    start_lat = r.uniform(LAT0, LAT1, n_ways)
    start_lon = r.uniform(LON0, LON1, n_ways)
    wid = np.repeat(np.arange(1, n_ways + 1), nv)
    first = np.repeat(np.cumsum(nv) - nv, nv)
    step = r.normal(0.0, 0.002, (len(wid), 2))
    step[np.cumsum(nv) - nv] = 0.0
    # cumulative walk from each way's start vertex
    walk = np.cumsum(step, axis=0)
    walk -= walk[first]
    lat = start_lat[wid - 1] + walk[:, 0]
    lon = start_lon[wid - 1] + walk[:, 1]
    ends = np.cumsum(nv)
    geom = [list(zip(lon[a:b].tolist(), lat[a:b].tolist())) for a, b in zip(ends - nv, ends)]
    table = pa.table({
        "way_id": pa.array(np.arange(1, n_ways + 1), pa.int64()),
        "geom": pa.array(_struct_rows(geom), LONLAT),
    })
    return wid, lat, lon, table


def polygon_table(layer: list) -> pa.Table:
    """``poly_id long, kind string, ring array<struct<lon,lat>>``."""
    pid, kind, ring = zip(*layer)
    return pa.table({
        "poly_id": pa.array(pid, pa.int64()),
        "kind": pa.array(kind, pa.string()),
        "ring": pa.array(_struct_rows(ring), LONLAT),
    })


def points_table(lat: np.ndarray, lon: np.ndarray, id_col: str) -> pa.Table:
    return pa.table({id_col: np.arange(len(lat), dtype=np.int64), "lat": lat, "lon": lon})


def polygon_layer(seed: int, n_polys: int, version: int) -> list:
    """One version of a polygon layer: star-shaped simple rings of 8–256
    vertices with radii spread over 0.5–20 km, so small and large
    polygons mix. Version ``v`` keeps ~85% of the base polygons (same id,
    vertices jittered per version) and adds new ids for the rest.

    Rows are ``(poly_id, kind, [(lon, lat), ...])`` with a closed ring."""
    base = _rng(seed, 23)
    cx = base.uniform(LON0 + 0.2, LON1 - 0.2, 2 * n_polys)
    cy = base.uniform(LAT0 + 0.2, LAT1 - 0.2, 2 * n_polys)
    rad = np.exp(base.uniform(math.log(0.005), math.log(0.2), 2 * n_polys))
    nvert = np.exp(base.uniform(math.log(8), math.log(256), 2 * n_polys)).astype(int)
    ver = _rng(seed, 29, version)
    keep = ver.random(n_polys) < 0.85
    # the replaced share is drawn from the second half of the id space
    ids = [i for i in range(n_polys) if keep[i]]
    ids += list(range(n_polys, n_polys + (n_polys - len(ids))))
    out = []
    for i in ids:
        shape = _rng(seed, 31, i)
        k = int(nvert[i])
        ang = np.sort(shape.uniform(0.0, 2 * math.pi, k))
        rr = rad[i] * shape.uniform(0.55, 1.0, k)
        rr *= 1.0 + ver.normal(0.0, 0.02, k) * (i < n_polys)
        xs = cx[i] + rr * np.cos(ang) / math.cos(math.radians(cy[i]))
        ys = cy[i] + rr * np.sin(ang)
        ring = list(zip(xs.tolist(), ys.tolist()))
        ring.append(ring[0])
        out.append((i + 1, "admin" if i % 2 else "landuse", ring))
    return out


def cluster_centres(seed: int, n: int) -> np.ndarray:
    r = _rng(seed, 37)
    return np.column_stack([r.uniform(LAT0 + 0.1, LAT1 - 0.1, n),
                            r.uniform(LON0 + 0.1, LON1 - 0.1, n)])


def skewed_points(seed: int, n: int, centres: np.ndarray, clustered: float,
                  sigma_deg: float) -> tuple[np.ndarray, np.ndarray]:
    """Uniform background plus dense gaussian clusters ("mega-cells")
    around ``centres``; ``clustered`` is the share of points in clusters."""
    r = _rng(seed, 41, n)
    nc = int(n * clustered)
    lat = np.empty(n)
    lon = np.empty(n)
    lat[nc:] = r.uniform(LAT0, LAT1, n - nc)
    lon[nc:] = r.uniform(LON0, LON1, n - nc)
    which = r.integers(0, len(centres), nc)
    lat[:nc] = centres[which, 0] + r.normal(0.0, sigma_deg, nc)
    lon[:nc] = centres[which, 1] + r.normal(0.0, sigma_deg, nc)
    perm = r.permutation(n)
    return lat[perm], lon[perm]
