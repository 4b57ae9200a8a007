"""Reference answers the benchmark checks the program's outputs against.

Each is computed from the generated inputs with numpy and pandas alone: no
function of the package under test is called, so a defect there cannot hide
in the reference as well.
"""

from __future__ import annotations

import json
import os
import re
import struct

import numpy as np
import pandas as pd

from . import geo

GEO_META = re.compile(rb'<meta name="geo\.position" content="([-0-9.]+);([-0-9.]+)">')


def pip_even_odd(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd point-in-polygon over all rings at once: a point is inside when
    a ray to +x crosses the rings' edges an odd number of times, so holes and
    disjoint outers need no special case."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    crossings = np.zeros(px.shape[0], dtype=np.int64)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x1, y1 = r[:, 0][None, :], r[:, 1][None, :]
        x0, y0 = np.roll(r[:, 0], 1)[None, :], np.roll(r[:, 1], 1)[None, :]
        straddle = (y1 > py) != (y0 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = (x0 - x1) * (py - y1) / (y0 - y1) + x1
        crossings += np.sum(straddle & (px < x_cross), axis=1)
    return crossings % 2 == 1


def page_points(pages: pd.DataFrame) -> pd.DataFrame:
    """(url, x, y) for every page whose html carries a geotag."""
    urls, lats, lons = [], [], []
    for url, html in zip(pages["url"], pages["html"]):
        m = GEO_META.search(html)
        if m:
            urls.append(url)
            lats.append(float(m.group(1)))
            lons.append(float(m.group(2)))
    x, y = geo.lonlat_to_merc(np.array(lons), np.array(lats))
    return pd.DataFrame({"url": urls, "x": x, "y": y})


def join_pairs(points: pd.DataFrame, buildings: pd.DataFrame) -> set[tuple[str, int]]:
    """Exact (url, osm_id) pairs: page point inside the building footprint.
    Each building tests only the points inside its bounding box."""
    px = points["x"].to_numpy()
    py = points["y"].to_numpy()
    urls = points["url"].to_numpy()
    out: set[tuple[str, int]] = set()
    for osm_id, rings in zip(buildings["osm_id"], buildings["geometry"]):
        arrs = [np.asarray([[float(p[0]), float(p[1])] for p in r]) for r in rings]
        allp = np.vstack(arrs)
        lo, hi = allp.min(axis=0), allp.max(axis=0)
        idx = np.nonzero((px >= lo[0]) & (px <= hi[0]) & (py >= lo[1]) & (py <= hi[1]))[0]
        if len(idx):
            hit = idx[pip_even_odd(px[idx], py[idx], arrs)]
            out.update((u, int(osm_id)) for u in urls[hit])
    return out


def _segments_cross(a, b, c, d) -> bool:
    def orient(p, q, r):
        return np.sign((q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0]))

    return orient(a, b, c) * orient(a, b, d) < 0 and orient(c, d, a) * orient(c, d, b) < 0


def _touches_rect(arrs, rect) -> bool:
    """True when the even-odd polygon `arrs` and the open rectangle overlap."""
    x0, y0, x1, y1 = rect
    for r in arrs:
        if np.any((r[:, 0] > x0) & (r[:, 0] < x1) & (r[:, 1] > y0) & (r[:, 1] < y1)):
            return True
    corners = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
    if pip_even_odd(corners[:, 0], corners[:, 1], arrs).any():
        return True
    edges = [(corners[i], corners[(i + 1) % 4]) for i in range(4)]
    for r in arrs:
        for i in range(len(r) - 1):
            for c, d in edges:
                if _segments_cross(r[i], r[i + 1], c, d):
                    return True
    return False


def owner_tiles(buildings: pd.DataFrame, z: int = 16) -> dict[int, str]:
    """osm_id -> owner tile key "z_x_y": the first tile, in seeding order
    (x // 16, y // 16, x, y), that the footprint overlaps."""
    out = {}
    for osm_id, rings in zip(buildings["osm_id"], buildings["geometry"]):
        arrs = [np.asarray([[float(p[0]), float(p[1])] for p in r]) for r in rings]
        allp = np.vstack(arrs)
        (tx0, ty1), (tx1, ty0) = (
            [int(v) for v in geo.tile_of(allp[:, 0].min(), allp[:, 1].min(), z)],
            [int(v) for v in geo.tile_of(allp[:, 0].max(), allp[:, 1].max(), z)],
        )
        cands = sorted(
            ((tx // 16, ty // 16, tx, ty) for tx in range(tx0, tx1 + 1) for ty in range(ty0, ty1 + 1))
        )
        for _, _, tx, ty in cands:
            minx, miny, maxx, maxy = geo.tile_bounds(z, tx, ty)
            if _touches_rect(arrs, (minx, miny, maxx, maxy)):
                out[int(osm_id)] = f"{z}_{tx}_{ty}"
                break
    return out


def parse_b3dm_header(data: bytes) -> dict:
    """The 28-byte B3DM header and the feature table's BATCH_LENGTH.

    Raises ValueError when the magic, version or byte lengths are inconsistent."""
    if len(data) < 28:
        raise ValueError(f"b3dm shorter than its header: {len(data)} bytes")
    magic, version, byte_length, ft_json, ft_bin, bt_json, bt_bin = struct.unpack(
        "<4s6I", data[:28]
    )
    if magic != b"b3dm":
        raise ValueError(f"bad magic {magic!r}")
    if version != 1:
        raise ValueError(f"bad version {version}")
    if byte_length != len(data):
        raise ValueError(f"byteLength {byte_length} != file size {len(data)}")
    if 28 + ft_json + ft_bin + bt_json + bt_bin > byte_length:
        raise ValueError("table lengths run past byteLength")
    feature_table = json.loads(data[28:28 + ft_json]) if ft_json else {}
    if "BATCH_LENGTH" not in feature_table:
        raise ValueError("feature table has no BATCH_LENGTH")
    return {
        "byte_length": byte_length,
        "batch_length": int(feature_table["BATCH_LENGTH"]),
        "glb_magic": data[28 + ft_json + ft_bin + bt_json + bt_bin:][:4],
    }


def tileset_nodes(tileset_path: str) -> list[dict]:
    """Every tile node reachable from tileset.json, following subtile json files."""
    base = os.path.dirname(tileset_path)
    out: list[dict] = []
    todo = [tileset_path]
    while todo:
        with open(todo.pop()) as f:
            nodes = [json.load(f)["root"]]
        while nodes:
            node = nodes.pop()
            out.append(node)
            uri = node.get("content", {}).get("uri", "")
            if uri.endswith(".json"):
                todo.append(os.path.join(base, uri))
            nodes.extend(node.get("children", ()))
    return out


def tileset_content_uris(tileset_path: str) -> set[str]:
    """The tile content (not subtile json) uris the tileset references."""
    uris = {n.get("content", {}).get("uri", "") for n in tileset_nodes(tileset_path)}
    return {u for u in uris if u and not u.endswith(".json")}


def stream_counts(points: pd.DataFrame, window_s: int = 300, z: int = 16) -> dict:
    """(window start in epoch microseconds, tile_x, tile_y) -> point count."""
    ts_us = points["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    w = window_s * 1_000_000
    tx, ty = geo.tile_of(points["x"].to_numpy(), points["y"].to_numpy(), z)
    df = pd.DataFrame({"w": (ts_us // w) * w, "tx": tx, "ty": ty})
    counts = df.groupby(["w", "tx", "ty"]).size()
    return {(int(k[0]), int(k[1]), int(k[2])): int(v) for k, v in counts.items()}
