#!/usr/bin/env python3
"""Seeded input generator for the storm-cycle benchmark.

Everything the benchmark feeds the program is written here as plain files,
from the seed alone (numpy PCG64 streams keyed by seed and table), so a
change to the program can never shift the workload. Nothing in here calls
the program's own synthetic generators.

Two layouts:

* pipeline (`mainland`): the `ingest/` tree `graft.Main`
  reads -- `{ISO}_tiles`, `{ISO}_admin1`, `{ISO}_admin2`, four facility kinds
  per country, per-forecast `envelopes/` (51 members x 8 nested wind
  thresholds) and `tracks/`, and one storm-catalog file per forecast step
  under `catalog_steps/` (step k holds k rows; the runner copies it over
  `storm_catalog.parquet` before forecast k, so the catalog grows by one
  6-hourly row per forecast as production's does; `catalog_single/` step k
  holds row k alone, for a rerun of forecast k). The manifest records how
  much consecutive forecasts overlap (`forecast_overlap`).
* stream tables (`stream-gates`): the ten TPC-H-shaped tables the gates and
  their DuckDB oracles read (`events`, `documents`, `embeddings`, ...), with
  the same schemas, value domains and time ranges as the shipped test data.

Usage: python3 gen.py --workload mainland --seed 7 --out DIR [--forecasts N]
"""
import argparse
import hashlib
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZOOM = 14
THRESHOLDS = [34, 40, 50, 64, 83, 96, 113, 137]
MEMBERS = 51
STEP_HOURS = 6

# Workload shapes: countries as (ISO3, tile count, centre lon, centre lat);
# `facilities` is the point count per facility kind. Counts are fixed, not
# drawn from the seed (tiles up to rounding of the seeded grid shape), so the
# work per forecast varies little by seed.
WORKLOADS = {
    "mainland": dict(countries=[("MDG", 4000, 46.87, -18.77)],
                     admin1=(20, 20), admin2_per_admin1=(6, 6),
                     facilities=250, storm="STORMB-SI",
                     track=((52.0, -15.5), (42.5, -21.0)), step_fraction=0.01),
}


def rng_for(seed, *keys):
    """Independent, reproducible stream per (seed, table, ...)."""
    return np.random.default_rng([seed & 0xFFFFFFFF] + [
        int.from_bytes(hashlib.sha256(repr(k).encode()).digest()[:4], "little")
        for k in keys])


# --- geometry (WKB, little endian) -------------------------------------------

def tile_lon(x):
    return np.asarray(x, dtype=np.float64) / (1 << ZOOM) * 360.0 - 180.0


def tile_lat(y):
    n = math.pi - 2.0 * math.pi * np.asarray(y, dtype=np.float64) / (1 << ZOOM)
    return np.degrees(np.arctan(np.sinh(n)))


def lonlat_to_tile(lon, lat):
    x = (lon + 180.0) / 360.0
    s = math.sin(math.radians(lat))
    y = 0.5 - math.log((1 + s) / (1 - s)) / (4 * math.pi)
    n = 1 << ZOOM
    return int(math.floor(x * n)), int(math.floor(y * n))


def quadkeys(tx, ty):
    digits = np.zeros((len(tx), ZOOM), dtype=np.uint8)
    for i in range(ZOOM):
        bit = ZOOM - 1 - i
        digits[:, i] = ((tx >> bit) & 1) + 2 * ((ty >> bit) & 1) + ord("0")
    return pa.array(digits.view(f"S{ZOOM}").ravel().astype(str))


def _binary(buf, width, n):
    offsets = np.arange(n + 1, dtype=np.int32) * width
    return pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(buf)])


def box_wkb(minx, miny, maxx, maxy):
    """Vectorised axis-aligned box polygons as a pyarrow binary array."""
    n = len(minx)
    dt = np.dtype([("bo", "u1"), ("type", "<u4"), ("rings", "<u4"), ("pts", "<u4"),
                   ("xy", "<f8", (10,))])
    a = np.zeros(n, dtype=dt)
    a["bo"], a["type"], a["rings"], a["pts"] = 1, 3, 1, 5
    a["xy"] = np.stack([minx, miny, maxx, miny, maxx, maxy, minx, maxy, minx, miny], axis=1)
    return _binary(a.tobytes(), dt.itemsize, n)


def point_wkb(lon, lat):
    n = len(lon)
    dt = np.dtype([("bo", "u1"), ("type", "<u4"), ("xy", "<f8", (2,))])
    a = np.zeros(n, dtype=dt)
    a["bo"], a["type"] = 1, 1
    a["xy"] = np.stack([lon, lat], axis=1)
    return _binary(a.tobytes(), dt.itemsize, n)


def polygon_wkb(ring):
    """One closed ring (k x 2 array, first != last) as polygon WKB bytes."""
    ring = np.vstack([ring, ring[:1]])
    head = np.array([1], dtype="u1").tobytes() + np.array([3, 1, len(ring)], dtype="<u4").tobytes()
    return head + ring.astype("<f8").tobytes()


def convex_hull(pts):
    """Andrew's monotone chain over a list of (x, y); counter-clockwise hull."""
    pts = sorted(set(map(tuple, pts)))
    if len(pts) < 3:
        return pts

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])) <= 0:
                out.pop()
            out.append(p)
        return out
    lower, upper = half(pts), half(pts[::-1])
    return lower[:-1] + upper[:-1]


# --- pipeline inputs ---------------------------------------------------------

def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def country_grid(seed, iso, n_tiles, lon, lat):
    """A near-square block of n_tiles zoom-14 tiles centred on (lon, lat)."""
    r = rng_for(seed, "grid", iso)
    aspect = r.uniform(0.6, 1.6)
    nx = max(1, int(round(math.sqrt(n_tiles * aspect))))
    ny = max(1, int(math.ceil(n_tiles / nx)))
    cx, cy = lonlat_to_tile(lon, lat)
    return cx - nx // 2, cy - ny // 2, nx, ny


def tiles_table(seed, iso, tx0, ty0, nx, ny):
    r = rng_for(seed, "tiles", iso)
    idx = np.arange(nx * ny, dtype=np.int64)
    tx = tx0 + idx % nx
    ty = ty0 + idx // nx
    n = len(idx)
    # clustered settlement: a few lognormal hot spots over a rural floor
    pop = np.floor(r.lognormal(3.0, 1.4, n)).clip(0, 60000)
    smod = r.choice([10, 11, 12, 13, 21, 22, 23, 30], n,
                    p=[.30, .20, .15, .10, .08, .07, .05, .05]).astype(np.float64)
    smod_l1 = np.where(smod < 20, 1.0, np.where(smod < 30, 2.0, 3.0))
    rwi = np.round(r.normal(-0.2, 0.7, n), 3)
    rwi_null = r.random(n) < 0.05

    def counts(p_any, hi):
        return np.where(r.random(n) < p_any, r.integers(1, hi + 1, n), 0).astype(np.float64)
    num_schools, num_hcs = counts(0.15, 3), counts(0.08, 2)
    num_shelters, num_wash = counts(0.05, 2), counts(0.10, 3)
    wash_null = r.random(n) < 0.2
    return pa.table({
        "tile_id": quadkeys(tx, ty),
        "geometry": box_wkb(tile_lon(tx), tile_lat(ty + 1), tile_lon(tx + 1), tile_lat(ty)),
        "population": pop,
        "school_age_population": np.floor(pop * 0.18),
        "infant_population": np.floor(pop * 0.09),
        "adolescent_population": np.floor(pop * 0.08),
        "built_surface_m2": np.floor(r.gamma(1.2, 6000.0, n)),
        "smod_class": smod,
        "smod_class_l1": smod_l1,
        "rwi": pa.array(rwi, mask=rwi_null),
        "num_schools": num_schools,
        "num_hcs": num_hcs,
        "num_shelters": num_shelters,
        "num_wash": pa.array(num_wash, mask=wash_null),
    })


def split_edges(seed, key, lo, hi, k):
    """k contiguous integer bands covering [lo, hi) with random widths."""
    k = max(1, min(k, hi - lo))
    r = rng_for(seed, "split", key)
    cuts = np.sort(r.choice(np.arange(lo + 1, hi), k - 1, replace=False)) if k > 1 else []
    return [lo] + [int(c) for c in cuts] + [hi]


def admin_tables(seed, iso, shape, tx0, ty0, nx, ny):
    """admin1 = a grid of tile-aligned blocks; admin2 subdivides each block.
    Tile-aligned edges make every tile's centroid fall in exactly one region."""
    r = rng_for(seed, "admin", iso)
    k1 = int(r.integers(shape["admin1"][0], shape["admin1"][1] + 1))
    kx = max(1, int(round(math.sqrt(k1 * nx / max(ny, 1)))))
    kx = min(kx, nx)
    ky = max(1, min(ny, int(math.ceil(k1 / kx))))
    xs = split_edges(seed, (iso, "x"), tx0, tx0 + nx, kx)
    ys = split_edges(seed, (iso, "y"), ty0, ty0 + ny, ky)
    a1, a2 = [], []
    for i in range(len(xs) - 1):
        for j in range(len(ys) - 1):
            aid = f"{iso}_{len(a1) + 1:03d}"
            a1.append((aid, f"{iso} Region {len(a1) + 1}", xs[i], ys[j], xs[i + 1], ys[j + 1]))
            k2 = int(r.integers(shape["admin2_per_admin1"][0], shape["admin2_per_admin1"][1] + 1))
            nx2 = max(1, int(round(math.sqrt(k2))))
            sx = split_edges(seed, (aid, "x"), xs[i], xs[i + 1], nx2)
            sy = split_edges(seed, (aid, "y"), ys[j], ys[j + 1], int(math.ceil(k2 / nx2)))
            for u in range(len(sx) - 1):
                for v in range(len(sy) - 1):
                    a2.append((f"{aid}_{len(a2) + 1:04d}", f"{iso} District {len(a2) + 1}",
                               sx[u], sy[v], sx[u + 1], sy[v + 1]))

    def table(rows):
        x0 = np.array([t[2] for t in rows]); y0 = np.array([t[3] for t in rows])
        x1 = np.array([t[4] for t in rows]); y1 = np.array([t[5] for t in rows])
        return pa.table({"id": [t[0] for t in rows], "name": [t[1] for t in rows],
                         "geometry": box_wkb(tile_lon(x0), tile_lat(y1), tile_lon(x1), tile_lat(y0))})
    return table(a1), table(a2)


FACILITY_COLUMNS = {
    "school": ("school_name", "education_level", ["primary", "secondary", "tertiary"]),
    "hc": ("name", "amenity", ["clinic", "hospital", "doctors", "pharmacy"]),
    "shelter": ("name", "shelter_type", ["school", "church", "community_centre"]),
    "wash": ("name", "wash_type", ["well", "borehole", "tap", "latrine"]),
}


def facility_table(seed, iso, kind, n, tx0, ty0, nx, ny):
    r = rng_for(seed, "facility", iso, kind)
    lon = r.uniform(tile_lon(tx0), tile_lon(tx0 + nx), n)
    lat = r.uniform(tile_lat(ty0 + ny), tile_lat(ty0), n)
    name_col, type_col, types = FACILITY_COLUMNS[kind]
    return pa.table({
        f"{kind}_id": [f"{iso}_{kind}_{i:05d}" for i in range(n)],
        name_col: [f"{kind.title()} {i}" for i in range(n)],
        type_col: r.choice(types, n),
        "longitude": lon, "latitude": lat,
        "geometry": point_wkb(lon, lat),
    })


# Envelope radius (degrees) per wind threshold: strictly decreasing, so the
# convex hulls are nested (higher wind inside lower wind) by construction.
RADII = [2.2, 1.8, 1.35, 0.95, 0.65, 0.45, 0.3, 0.18]
LEADS = 21  # 0..120 h of track per forecast


def forecast_time(k):
    """Forecast k's issue time: 6-hourly from 2025-10-27T00Z."""
    base = np.datetime64("2025-10-27T00:00:00")
    return base + np.timedelta64(k * STEP_HOURS, "h")


def forecast_key(k):
    return str(forecast_time(k)).replace("-", "").replace("T", "").replace(":", "")


def member_tracks(seed, shape, k):
    """Per-member track points (lon, lat, wind) for forecast k. The storm
    advances `step_fraction` of the track per forecast and each member's
    offset from the mean track is fixed per seed, scaled by the cone of
    uncertainty at its lead time; `forecast_overlap` measures how much
    consecutive forecasts share."""
    (x0, y0), (x1, y1) = shape["track"]
    frac = shape["step_fraction"]
    base = rng_for(seed, "members")
    offset = base.normal(0.0, 1.0, (MEMBERS, 2))
    lead = np.arange(LEADS) / (LEADS - 1)
    s = k * frac + lead * 0.6  # along-track position
    lon = x0 + (x1 - x0) * s
    lat = y0 + (y1 - y0) * s + 0.8 * np.sin(3.0 * s)
    spread = 0.15 + 1.2 * lead  # cone of uncertainty
    mlon = lon[None, :] + offset[:, :1] * spread[None, :]
    mlat = lat[None, :] + offset[:, 1:] * spread[None, :] * 0.6
    wind = 60 + 90 * np.exp(-((lead - 0.35) ** 2) / 0.05)
    wind = wind[None, :] * (1 + 0.1 * base.normal(0, 1, (MEMBERS, 1)))
    return mlon, mlat, np.broadcast_to(wind, mlon.shape)


def envelope_rings(mlon, mlat):
    """(member, threshold, counter-clockwise hull ring) per envelope."""
    ang = np.linspace(0, 2 * np.pi, 12, endpoint=False)
    circle = np.stack([np.cos(ang), np.sin(ang)], axis=1)
    out = []
    for m in range(MEMBERS):
        # hull(points + disc) == hull(hull(points) + disc): offset the
        # track's hull once per threshold radius
        core = np.array(convex_hull(np.stack([mlon[m], mlat[m]], axis=1).tolist()))
        for th, rad in zip(THRESHOLDS, RADII):
            cloud = (core[:, None, :] + rad * circle[None, :, :]).reshape(-1, 2)
            out.append((m, th, np.array(convex_hull(cloud.tolist()))))
    return out


def envelopes_table(mlon, mlat):
    rings = envelope_rings(mlon, mlat)
    return pa.table({"ensemble_member": pa.array([m for m, _, _ in rings], pa.int32()),
                     "wind_threshold": pa.array([th for _, th, _ in rings], pa.int32()),
                     "geometry": pa.array([polygon_wkb(r) for _, _, r in rings], pa.binary())})


def tracks_table(k, mlon, mlat, wind):
    t0 = forecast_time(k).astype("datetime64[us]")
    m, lead = np.meshgrid(np.arange(MEMBERS), np.arange(LEADS), indexing="ij")
    lon, lat, w = mlon.ravel(), mlat.ravel(), wind.ravel()
    return pa.table({
        "ensemble_member": pa.array(m.ravel(), pa.int32()),
        "valid_time": pa.array(t0 + (lead.ravel() * STEP_HOURS).astype("timedelta64[h]"),
                               pa.timestamp("us", tz="UTC")),
        "lead_time": pa.array(lead.ravel() * STEP_HOURS, pa.int32()),
        "latitude": lat, "longitude": lon,
        "wind_speed_knots": np.round(w, 1),
        "pressure_hpa": np.round(1010.0 - w / 3.0, 1),
        "geometry": point_wkb(lon, lat),
    })


def grid_hits(ring, x0, x1, y0, y1):
    """Which cells of a grid (column edges x0[i]..x1[i], row edges
    y0[j]..y1[j]) intersect or touch the convex polygon `ring`, as a
    rows x columns array. Within each row's band the polygon spans one
    x-interval: the extremes of its vertices inside the band and of its
    edges' crossings of the band's edges."""
    px, py = ring[:, 0], ring[:, 1]
    qx, qy = np.roll(px, -1), np.roll(py, -1)
    inside = (py >= y0[:, None]) & (py <= y1[:, None])
    cand = [np.where(inside, px, np.nan)]
    with np.errstate(divide="ignore", invalid="ignore"):
        for yb in (y0, y1):
            t = (yb[:, None] - py) / (qy - py)
            cand.append(np.where((t >= 0) & (t <= 1), px + t * (qx - px), np.nan))
    c = np.concatenate(cand, axis=1)
    seen = ~np.isnan(c).all(axis=1)
    lo = np.where(seen, np.nanmin(np.where(seen[:, None], c, 0.0), axis=1), np.inf)
    hi = np.where(seen, np.nanmax(np.where(seen[:, None], c, 0.0), axis=1), -np.inf)
    return (lo[:, None] <= x1) & (hi[:, None] >= x0)


def forecast_overlap(workload, seed, forecasts):
    """How much consecutive forecasts share, per wind threshold, over every
    tile of every country: `membership_kept` is the share of tiles whose
    membership (hit by at least one member) is unchanged, `probability_kept`
    the share whose member count is unchanged, `hit` the share hit by either
    forecast. Membership is the program's tile-intersects-envelope test."""
    shape = WORKLOADS[workload]
    grids = []
    for iso, n, lon, lat in shape["countries"]:
        tx0, ty0, nx, ny = country_grid(seed, iso, n, lon, lat)
        tx, ty = tx0 + np.arange(nx), ty0 + np.arange(ny)
        grids.append((tile_lon(tx), tile_lon(tx + 1), tile_lat(ty + 1), tile_lat(ty)))
    counts = []
    for k in range(forecasts):
        mlon, mlat, _ = member_tracks(seed, shape, k)
        c = {th: [np.zeros((len(g[2]), len(g[0])), dtype=np.int32) for g in grids]
             for th in THRESHOLDS}
        for _, th, ring in envelope_rings(mlon, mlat):
            for acc, g in zip(c[th], grids):
                acc += grid_hits(ring, *g)
        counts.append({th: np.concatenate([a.ravel() for a in c[th]]) for th in THRESHOLDS})
    pairs = []
    for k in range(1, forecasts):
        a, b = counts[k - 1], counts[k]

        def share(f):
            return {str(th): round(float(np.mean(f(a[th], b[th]))), 4) for th in THRESHOLDS}
        pairs.append({"from": forecast_key(k - 1), "to": forecast_key(k),
                      "membership_kept": share(lambda u, v: (u > 0) == (v > 0)),
                      "probability_kept": share(lambda u, v: u == v),
                      "hit": share(lambda u, v: (u > 0) | (v > 0))})
    return pairs


def record_overlap(workload, seed, out, forecasts):
    """Adds `forecast_overlap` to the manifest under `overlap`."""
    path = os.path.join(out, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["overlap"] = forecast_overlap(workload, seed, forecasts)
    with open(path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest["overlap"]


def gen_pipeline(workload, seed, out, forecasts):
    shape = WORKLOADS[workload]
    ingest = os.path.join(out, "ingest")
    manifest = {"workload": workload, "seed": seed, "storm": shape["storm"],
                "countries": {}, "forecasts": []}
    for iso, n, lon, lat in shape["countries"]:
        tx0, ty0, nx, ny = country_grid(seed, iso, n, lon, lat)
        write(tiles_table(seed, iso, tx0, ty0, nx, ny), f"{ingest}/{iso}_tiles.parquet")
        a1, a2 = admin_tables(seed, iso, shape, tx0, ty0, nx, ny)
        write(a1, f"{ingest}/{iso}_admin1.parquet")
        write(a2, f"{ingest}/{iso}_admin2.parquet")
        counts = {}
        for kind in ("school", "hc", "shelter", "wash"):
            c = counts[kind] = shape["facilities"]
            write(facility_table(seed, iso, kind, c, tx0, ty0, nx, ny),
                  f"{ingest}/{iso}_{kind}.parquet")
        manifest["countries"][iso] = {"tiles": nx * ny, "admin1": a1.num_rows,
                                      "admin2": a2.num_rows, "facilities": counts}
    storm = shape["storm"]
    for k in range(forecasts):
        key = forecast_key(k)
        mlon, mlat, wind = member_tracks(seed, shape, k)
        write(envelopes_table(mlon, mlat), f"{ingest}/envelopes/{storm}_{key}.parquet")
        write(tracks_table(k, mlon, mlat, wind), f"{ingest}/tracks/{storm}_{key}.parquet")
        times = np.array([forecast_time(i) for i in range(k + 1)]).astype("datetime64[us]")
        for rows, step in ((slice(None), "catalog_steps"), (slice(k, None), "catalog_single")):
            write(pa.table({"track_id": [storm] * len(times[rows]),
                            "forecast_time": pa.array(times[rows], pa.timestamp("us", tz="UTC"))}),
                  f"{ingest}/{step}/{k:04d}.parquet")
        manifest["forecasts"].append({"key": key, "date": str(forecast_time(k))[:10]})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


# --- stream-gate tables ------------------------------------------------------

VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group big "
         "sort query fast the").split()


def gen_stream_tables(seed, out):
    """The ten gate tables at sf0.001 shape: same schemas and value domains
    as the shipped test data, fresh values from the seed."""
    os.makedirs(out, exist_ok=True)
    ts_us = pa.timestamp("us")

    r = rng_for(seed, "region")
    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
          f"{out}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
          f"{out}/nation.parquet")

    n_supp = 10
    r = rng_for(seed, "supplier")
    write(pa.table({"s_suppkey": np.arange(n_supp, dtype=np.int64),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                    "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                    "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
          f"{out}/supplier.parquet")

    n_cust = 150
    r = rng_for(seed, "customer")
    write(pa.table({"c_custkey": np.arange(n_cust, dtype=np.int64),
                    "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                    "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                    "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
                    "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                              "HOUSEHOLD", "MACHINERY"], n_cust)}),
          f"{out}/customer.parquet")

    n_part = 200
    r = rng_for(seed, "part")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    write(pa.table({"p_partkey": np.arange(n_part, dtype=np.int64),
                    "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                               zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
                    "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                    "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                        "STANDARD"], n_part),
                    "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
                    "p_retailprice": price}),
          f"{out}/part.parquet")

    n_ord = 1500
    r = rng_for(seed, "orders")
    day0, day1 = np.datetime64("1995-01-01"), np.datetime64("2001-08-02")
    odate = (day0 + r.integers(0, int((day1 - day0) / np.timedelta64(1, "D")), n_ord)
             .astype("timedelta64[D]")).astype("datetime64[us]")
    write(pa.table({"o_orderkey": np.arange(n_ord, dtype=np.int64),
                    "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
                    "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
                    "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
                    "o_orderdate": pa.array(odate, ts_us),
                    "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
          f"{out}/orders.parquet")

    n_li = 6000
    r = rng_for(seed, "lineitem")
    qty = r.integers(1, 51, n_li).astype(np.float64)
    pk = r.integers(0, n_part, n_li).astype(np.int64)
    ship = (day0 + r.integers(1, 2500, n_li).astype("timedelta64[D]")).astype("datetime64[us]")
    write(pa.table({"l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
                    "l_partkey": pk,
                    "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
                    "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
                    "l_quantity": qty,
                    "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
                    "l_discount": r.integers(0, 11, n_li) / 100.0,
                    "l_tax": r.integers(0, 9, n_li) / 100.0,
                    "l_returnflag": r.choice(["A", "N", "R"], n_li),
                    "l_linestatus": r.choice(["F", "O"], n_li),
                    "l_shipdate": pa.array(ship, ts_us)}),
          f"{out}/lineitem.parquet")

    n_ev = 1000
    r = rng_for(seed, "events")
    span_us = 30 * 86400 * 10**6
    offs = np.sort(r.integers(0, span_us, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    value = np.round(np.clip(r.exponential(50.0, n_ev), 0.01, None), 2)
    write(pa.table({"event_id": np.arange(n_ev, dtype=np.int64),
                    "ts": pa.array(ts, ts_us),
                    "user_id": r.integers(0, 15, n_ev).astype(np.int64),
                    "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev),
                    "value": value,
                    "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)]}),
          f"{out}/events.parquet")

    n_doc = 500
    r = rng_for(seed, "documents")
    texts = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:
            # near-duplicate of an earlier document
            src = texts[int(r.integers(0, i))]
            texts.append(src + " dup" * int(r.integers(1, 3)))
        else:
            words = r.choice(VOCAB, int(r.integers(8, 95)))
            t = " ".join(words)
            if r.random() < 0.3:  # truncated mid-word, as crawled text is
                t = t[:max(8, len(t) - int(r.integers(1, 6)))]
            texts.append(t)
    write(pa.table({"doc_id": np.arange(n_doc, dtype=np.int64),
                    "text": texts,
                    "lang": r.choice(["en", "zh", "es", "de", "fr"], n_doc,
                                     p=[.44, .14, .14, .14, .14]),
                    "source": [f"src{i % 20}" for i in range(n_doc)],
                    "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
          f"{out}/documents.parquet")

    n_emb = 500
    r = rng_for(seed, "embeddings")
    centers = r.normal(0, 1, (10, 64))
    label = r.integers(0, 10, n_emb)
    v = centers[label] + r.normal(0, 1.5, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({"vec_id": np.arange(n_emb, dtype=np.int64),
                    "embedding": pa.array(list(v), pa.list_(pa.float32())),
                    "label": pa.array(label, pa.int32())}),
          f"{out}/embeddings.parquet")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["stream-gates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--forecasts", type=int, default=8)
    a = ap.parse_args(argv)
    if a.workload == "stream-gates":
        gen_stream_tables(a.seed, a.out)
    else:
        gen_pipeline(a.workload, a.seed, a.out, a.forecasts)
        record_overlap(a.workload, a.seed, a.out, a.forecasts)
    return 0


if __name__ == "__main__":
    sys.exit(main())
