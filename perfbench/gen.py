"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes the same
bytes, another seed writes other inputs. Nothing here reads the package's own
fixtures or their fixed seed.

- pages: Common-Crawl-style rows (url, warc_ts, html, text, lang). 30% of the
  pages fall in a hot spot covering 1% of the extent, about 2% carry no geotag,
  and `text` is the `<p>` body of `html`, byte for byte.
- buildings: OSM-style footprints with the raw property columns the params
  layer derives from, all inside the extent. Shape mix: rectangles,
  L-shapes, squares with a hole, two-outer multipolygons; 15% are snapped
  onto an inner z16 tile edge so they straddle two tiles; 5% sit on the
  "roads" layer and must be filtered out.
- stream points: (ts, x, y) rows, one parquet file per trigger, with event
  time advancing one minute per trigger and never older than the watermark.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import geo

EXTENT = geo.extent_z12()
EPOCH_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)

WORDS = {
    "en": "the quick brown fox jumps over the lazy dog and runs far away with great speed",
    "fr": "le chat noir dort dans la maison et les oiseaux chantent pour une belle journée",
    "de": "der alte mann und das kleine kind gehen mit dem hund durch die stadt für ein eis",
    "es": "el perro grande corre por la calle y los niños juegan con una pelota en el parque",
}
LANGS = tuple(WORDS)
BUILDING_TYPES = (
    "house", "apartments", "roof", "garage", "shed", "industrial", "retail",
    "church", "school", "greenhouse", "barn", "office",
)
ROOF_TYPES = ("flat", "gabled", "hipped", "skillion", "pyramidal", "dome", None)
MATERIALS = ("brick", "wood", "concrete", "glass", None)

# stream event time: trigger i covers [i*STEP - LATE, (i+1)*STEP) seconds, so the
# oldest row of a trigger is at most STEP + LATE behind the newest row seen
# before it, well inside a 10 minute watermark
STREAM_STEP_S = 60
STREAM_LATE_S = 120


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _points(rng: np.random.Generator, n: int, hot_frac: float) -> tuple[np.ndarray, np.ndarray]:
    """n points in EXTENT; `hot_frac` of them inside the central 10% x 10% box."""
    min_x, min_y, max_x, max_y = EXTENT
    w, h = max_x - min_x, max_y - min_y
    hot = rng.random(n) < hot_frac
    ux, uy = rng.random(n), rng.random(n)
    x = min_x + w * np.where(hot, 0.45 + 0.10 * ux, ux)
    y = min_y + h * np.where(hot, 0.45 + 0.10 * uy, uy)
    return x, y


def write(df: pd.DataFrame, path: str) -> str:
    """Parquet with microsecond timestamps and small row groups, written atomically."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, coerce_timestamps="us", row_group_size=4096)
    os.replace(tmp, path)
    return path


def make_pages(seed: int, n: int) -> pd.DataFrame:
    rng = _rng(seed, 1)
    x, y = _points(rng, n, 0.30)
    lon, lat = geo.merc_to_lonlat(x, y)
    has_geo = rng.random(n) >= 0.02
    lang_idx = rng.integers(0, len(LANGS), size=n)
    n_words = rng.integers(5, 15, size=n)
    ts = pd.to_datetime(EPOCH_US + np.arange(n, dtype=np.int64) * 37_000_000, unit="us", utc=True)

    htmls, texts, langs = [], [], []
    for i in range(n):
        lang = LANGS[lang_idx[i]]
        words = WORDS[lang].split()
        start = i % (len(words) - n_words[i])
        body = " ".join(words[start:start + n_words[i]]) + f" page {i}"
        meta = (
            f'<meta name="geo.position" content="{lat[i]:.7f};{lon[i]:.7f}">' if has_geo[i] else ""
        )
        htmls.append(
            f"<html><head>{meta}<title>p{i}</title></head><body><p>{body}</p></body></html>"
            .encode("utf-8")
        )
        texts.append(body)
        langs.append(lang)
    return pd.DataFrame({
        "url": [f"https://site{i % 997}.example/s{seed}/page/{i}" for i in range(n)],
        "warc_ts": ts,
        "html": htmls,
        "text": texts,
        "lang": langs,
    })


def _rect(cx, cy, wx, wy, rot):
    c, s = np.cos(rot), np.sin(rot)
    corners = np.array([[-wx, -wy], [wx, -wy], [wx, wy], [-wx, wy]]) / 2.0
    pts = corners @ np.array([[c, -s], [s, c]]).T + np.array([cx, cy])
    return np.vstack([pts, pts[:1]])


def _l_shape(cx, cy, a, b):
    pts = np.array(
        [[0, 0], [a, 0], [a, b * 0.4], [a * 0.4, b * 0.4], [a * 0.4, b], [0, b]], dtype=float
    )
    pts = pts - pts.mean(axis=0) + np.array([cx, cy])
    return np.vstack([pts, pts[:1]])


def _footprint(rng, cx, cy) -> tuple[list, list]:
    size = 5.0 + 35.0 * rng.random()
    shape = rng.random()
    if shape < 0.60:
        return [_rect(cx, cy, size, size * (0.5 + rng.random()), rng.random() * np.pi)], ["outer"]
    if shape < 0.85:
        return [_l_shape(cx, cy, size, size * (0.6 + 0.8 * rng.random()))], ["outer"]
    if shape < 0.95:
        hole = _rect(cx, cy, size * 0.4, size * 0.4, 0.0)[::-1]
        return [_rect(cx, cy, size, size, 0.0), hole], ["outer", "inner"]
    off = size * 1.5
    return (
        [_rect(cx - off, cy, size * 0.8, size * 0.8, 0.0),
         _rect(cx + off, cy, size * 0.8, size * 0.8, 0.0)],
        ["outer", "outer"],
    )


def make_buildings(seed: int, n: int) -> pd.DataFrame:
    rng = _rng(seed, 2)
    min_x, min_y, max_x, max_y = EXTENT
    w, h = max_x - min_x, max_y - min_y
    span16 = geo.span(16)

    def opt(p, gen):
        return gen() if rng.random() < p else None

    rows = []
    for i in range(n):
        if rng.random() < 0.25:
            cx = min_x + w * (0.45 + 0.10 * rng.random())
            cy = min_y + h * (0.45 + 0.10 * rng.random())
        else:
            cx = min_x + w * (0.02 + 0.96 * rng.random())
            cy = min_y + h * (0.02 + 0.96 * rng.random())
        if rng.random() < 0.15:
            # onto the nearest z16 column edge inside the extent, so the
            # footprint spans two tiles and stays inside the extent
            k = min(max(round((cx - min_x) / span16), 1), round(w / span16) - 1)
            cx = min_x + k * span16
        rings, ring_types = _footprint(rng, cx, cy)
        btype = BUILDING_TYPES[rng.integers(len(BUILDING_TYPES))]
        camel = rng.random() < 0.10
        rows.append({
            "osm_id": 20_000_000 + i,
            "osm_type": "way" if rng.random() < 0.9 else "relation",
            "layer": "buildings" if rng.random() >= 0.05 else "roads",
            "geometry": [r.tolist() for r in rings],
            "ring_types": ring_types,
            "building_type": btype,
            "height": opt(0.5, lambda: float(np.round(4 + 46 * rng.random(), 1))),
            "levels": opt(0.5, lambda: float(rng.integers(1, 12))),
            "min_height": opt(0.2, lambda: float(np.round(4 * rng.random(), 1))),
            "min_level": opt(0.2, lambda: float(rng.integers(0, 2))),
            "roof_levels": opt(0.3, lambda: float(rng.integers(-1, 3))),
            "roof_height": opt(0.3, lambda: float(np.round(3 * rng.random(), 1))),
            "roof_type": ROOF_TYPES[rng.integers(len(ROOF_TYPES))],
            "roof_material": opt(0.3, lambda: "tiles"),
            "roof_color": opt(0.1, lambda: "#aa3322"),
            "roof_direction": opt(0.1, lambda: float(rng.integers(0, 360))),
            "roof_orientation": opt(0.1, lambda: ("along", "across", "weird")[rng.integers(3)]),
            "roofType": ROOF_TYPES[rng.integers(len(ROOF_TYPES))] if camel else None,
            "roofMaterial": "metal" if camel else None,
            "roofColor": int(rng.integers(0, 1 << 24)) if camel and rng.random() < 0.5 else None,
            "material": MATERIALS[rng.integers(len(MATERIALS))],
            "color": int(rng.integers(0, 1 << 24)) if rng.random() < 0.15 else None,
            "name": f"Building {i}" if rng.random() < 0.2 else None,
            "windows": bool(rng.random() < 0.5) if rng.random() < 0.1 else None,
            "is_part": bool(rng.random() < 0.1),
            "building": btype,
            "rnb": f"RNB{i}" if rng.random() < 0.3 else None,
            "station_id": int(rng.integers(1, 1000)) if rng.random() < 0.05 else None,
            "lcz_outline_id": int(rng.integers(1, 100)) if rng.random() < 0.05 else None,
        })
    df = pd.DataFrame(rows)
    for col in ("height", "levels", "min_height", "min_level", "roof_levels", "roof_height",
                "roof_direction"):
        df[col] = df[col].astype("float64")
    for col in ("roofColor", "color", "station_id", "lcz_outline_id"):
        df[col] = df[col].astype("Int64")
    return df


def make_stream_batch(seed: int, trigger: int, n: int) -> pd.DataFrame:
    """Points for one trigger: event time in
    [trigger*STEP - LATE, (trigger+1)*STEP) seconds after the epoch."""
    rng = _rng(seed, 1000 + trigger)
    x, y = _points(rng, n, 0.30)
    lo = (trigger * STREAM_STEP_S - STREAM_LATE_S) * 1_000_000
    width = (STREAM_STEP_S + STREAM_LATE_S) * 1_000_000
    ts_us = EPOCH_US + lo + rng.integers(0, width, size=n)
    return pd.DataFrame({"ts": pd.to_datetime(ts_us, unit="us", utc=True), "x": x, "y": y})
