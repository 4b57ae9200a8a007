"""Broadcast cell-prefiltered ray-casting point-in-polygon join.

The flagship operator (north rule): pages (fact, 10^12 rows at target scale) join
buildings (dimension) without ever shuffling the fact table —

1. build side: the buildings' geometry is collected once on the driver into a
   `BuildingIndex` of numpy arrays — sorted z20 cell keys of each building's
   bounding box, and every building's ring edges as one edge CSR — and shipped
   to the workers as a Spark broadcast variable;
2. probe side: inside one Arrow `mapInPandas` stage, each batch's points get
   their z20 cell with the same IEEE floor math as the native `tile_x_col` /
   `tile_y_col` columns;
3. the cell lookup (`np.searchsorted` into the sorted keys) is the coarse
   prefilter (the role MVT tile membership plays in the reference,
   b3dmGenerator.ts:109-113);
4. exact refinement: the even-odd ray cast of `geometry.points_in_ring`
   (src/math/utils.ts:29-46 semantics) over every (candidate, edge) row of the
   batch in one vectorized pass, a candidate's parity being its crossing count
   mod 2 (`points_in_buildings`).

The geotag parse of `plans.pipeline.flagship_join` runs in the same stage, so a
page point never crosses back into the JVM before it is joined. The
`refine="cogroup"` path (`spatial_join`) keeps the JVM broadcast hash join on
z20 covering cells and cogroups the candidates with the geometry instead.

Skew: dense cities produce hot cells. The broadcast join itself has no shuffle to
skew; downstream aggregations over cell/tile keys use `salted_count` (two-phase
agg) or AQE skew-join handling (enabled in session.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as g
from ..functions import mercator as m
from .cells import building_cells, with_cell_id


def pages_with_cell(pages_pts: DataFrame, z: int = m.Z_LEAF) -> DataFrame:
    """Attach tile/cell columns to a point table (x, y in EPSG:3857) using native
    Column math only — stays in whole-stage codegen."""
    return (
        pages_pts.withColumn("tile_x", m.tile_x_col(F.col("x"), z))
        .withColumn("tile_y", m.tile_y_col(F.col("y"), z))
        .withColumn("cell", m.cell_id_col(F.col("tile_x"), F.col("tile_y"), z))
    )


@dataclass(frozen=True)
class BuildingIndex:
    """The broadcast build side of the PIP join as flat numpy arrays.

    `keys` holds one `m.cell_id` key per (building, z-level cell of its
    bounding box) row, sorted; `slots[k]` is the building of `keys[k]`.
    Building slot `s` is `osm_ids[s]`, and its edges are columns
    `edge_off[s]:edge_off[s + 1]` of `edges`: rows xi, yi, xj, yj, every
    ring's vertex i with its predecessor j (the `points_in_ring` pairing), all
    rings of the building concatenated."""

    z: int
    keys: np.ndarray
    slots: np.ndarray
    osm_ids: np.ndarray
    edge_off: np.ndarray
    edges: np.ndarray

    @classmethod
    def from_frame(cls, geoms: pd.DataFrame, z: int) -> BuildingIndex:
        """geoms(osm_id, geometry) → index. A repeated osm_id keeps its last
        geometry.

        The cells are each building's bounding-box cells, widened by
        `_BBOX_PAD`: a point the even-odd test puts inside a polygon lies
        between its extreme vertices up to a few ulps of rounding in
        `x_at_y`, so every such point's cell is a key of its building and the
        join equals `points_in_polygon` without a prefilter."""
        rings_of = {
            int(osm_id): [g.ring_xy(ring) for ring in (geom if geom is not None else ())]
            for osm_id, geom in zip(geoms["osm_id"], geoms["geometry"])
        }
        osm_ids = np.array(sorted(rings_of), dtype=np.int64)
        parts = [
            np.stack([r[:, 0], r[:, 1], np.roll(r[:, 0], 1), np.roll(r[:, 1], 1)])
            for osm_id in osm_ids.tolist()
            for r in rings_of[osm_id]
        ]
        n_edges = np.array(
            [sum(len(r) for r in rings_of[osm_id]) for osm_id in osm_ids.tolist()], dtype=np.int64
        )
        edge_off = np.concatenate([[0], np.cumsum(n_edges)])
        edges = np.concatenate(parts, axis=1) if parts else np.empty((4, 0))

        has = np.flatnonzero(n_edges)
        starts = edge_off[has]
        lo_x, hi_x = np.fmin.reduceat(edges[0], starts), np.fmax.reduceat(edges[0], starts)
        lo_y, hi_y = np.fmin.reduceat(edges[1], starts), np.fmax.reduceat(edges[1], starts)
        # fmin/fmax skip NaN vertices; a box still not finite gets no cells
        ok = np.isfinite(lo_x + hi_x + lo_y + hi_y)
        has, lo_x, hi_x, lo_y, hi_y = has[ok], lo_x[ok], hi_x[ok], lo_y[ok], hi_y[ok]
        pad = _BBOX_PAD * m.tile_span(z)
        last = (1 << z) - 1
        tx0, ty0 = m.tile_xy(lo_x - pad, hi_y + pad, z)
        tx1, ty1 = m.tile_xy(hi_x + pad, lo_y - pad, z)
        tx0, ty0 = np.maximum(tx0, 0), np.maximum(ty0, 0)
        tx1, ty1 = np.minimum(tx1, last), np.minimum(ty1, last)
        w = np.maximum(tx1 - tx0 + 1, 0)
        h = np.maximum(ty1 - ty0 + 1, 0)
        b, pos = _ranges(np.zeros(len(has), dtype=np.int64), w * h)
        keys = m.cell_id(tx0[b] + pos // h[b], ty0[b] + pos % h[b], z)
        order = np.argsort(keys, kind="stable")
        return cls(z, keys[order], has[b][order], osm_ids, edge_off, edges)


# the bounding box is widened by this fraction of a cell before it is cut into
# cells: far above the few-ulp rounding of x_at_y, far below a cell
_BBOX_PAD = 1e-6


def building_index(buildings: DataFrame, z: int = 20) -> BuildingIndex:
    """Collect `buildings`' (osm_id, geometry) to the driver (one Arrow
    collect) as a `BuildingIndex` at zoom z."""
    return BuildingIndex.from_frame(buildings.select("osm_id", "geometry").toPandas(), z)


def _ranges(starts: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(row, position) for positions starts[row] .. starts[row] + counts[row] - 1
    of every row, concatenated in row order."""
    row = np.repeat(np.arange(len(counts)), counts)
    ends = np.cumsum(counts)
    pos = np.arange(len(row)) + np.repeat(starts - (ends - counts), counts)
    return row, pos


# (candidate, edge) rows decided in one vectorized pass: bounds the temporaries
# of a batch whose candidates have many edges (~40 MB at 2^18 rows)
_EDGE_ROWS = 1 << 18


def _candidates_inside(
    index: BuildingIndex, x: np.ndarray, y: np.ndarray, slots: np.ndarray
) -> np.ndarray:
    """Even-odd test of point (x[c], y[c]) against building slots[c] for every
    candidate c. Each (candidate, edge) row evaluates `points_in_ring`'s
    expression term for term; the parity of a candidate's crossings over all
    rings equals the XOR of its per-ring parities (`points_in_polygon`)."""
    start = index.edge_off[slots]
    count = index.edge_off[slots + 1] - start
    ends = np.cumsum(count)
    inside = np.zeros(len(slots), dtype=bool)
    a = 0
    while a < len(slots):
        done = ends[a - 1] if a else 0
        b = max(int(np.searchsorted(ends, done + _EDGE_ROWS, "right")), a + 1)
        cand, e = _ranges(start[a:b], count[a:b])
        px, py = x[a:b][cand], y[a:b][cand]
        xi, yi, xj, yj = index.edges[:, e]
        straddle = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at_y = (xj - xi) * (py - yi) / (yj - yi) + xi
        crossing = straddle & (px < x_at_y)
        inside[a:b] = np.bincount(cand[crossing], minlength=b - a) % 2 == 1
        a = b
    return inside


def points_in_buildings(
    index: BuildingIndex, x: np.ndarray, y: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(point_idx, osm_id) of every (point, building) pair whose point lies
    inside the building — the one kernel of the broadcast refine.

    A point's cell is the `tile_x_col`/`tile_y_col` floor math (`m.tile_xy`),
    so it matches the JVM cell id bit for bit. Points off the z-level grid,
    NaN and ±inf included, join nothing: they are dropped before the int64
    cast, where NaN would turn into a garbage cell id."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, span = 1 << index.z, m.tile_span(index.z)
    gx = (x + m.HALF_SIZE) / span
    gy = (m.HALF_SIZE - y) / span
    pts = np.flatnonzero((gx >= 0) & (gx < n) & (gy >= 0) & (gy < n))
    tx, ty = m.tile_xy(x[pts], y[pts], index.z)
    keys = m.cell_id(tx, ty, index.z)
    lo = np.searchsorted(index.keys, keys, "left")
    hi = np.searchsorted(index.keys, keys, "right")
    cand, k = _ranges(lo, hi - lo)
    pts, slots = pts[cand], index.slots[k]
    inside = _candidates_inside(index, x[pts], y[pts], slots)
    return pts[inside], index.osm_ids[slots[inside]]


def pip_stage(
    df: DataFrame,
    index: BuildingIndex,
    keep_cols: tuple[str, ...],
    point_xy: Callable[[pd.DataFrame], tuple[np.ndarray, np.ndarray]],
) -> DataFrame:
    """One Arrow stage: each batch's points `point_xy(batch)` → (x, y) meet the
    broadcast `index` in `points_in_buildings`; a row of `keep_cols` + osm_id
    comes out per (point, containing building)."""
    schema = T.StructType(
        [df.schema[c] for c in keep_cols] + [T.StructField("osm_id", T.LongType())]
    )
    index_bc = df.sparkSession.sparkContext.broadcast(index)

    def _join(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = index_bc.value  # once per Python worker
        for pdf in batches:
            pts, osm_ids = points_in_buildings(idx, *point_xy(pdf))
            out = {c: pdf[c].to_numpy()[pts] for c in keep_cols}
            yield pd.DataFrame({**out, "osm_id": osm_ids})

    return df.mapInPandas(_join, schema=schema)


def _xy_columns(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    return pdf["x"].to_numpy(dtype=np.float64), pdf["y"].to_numpy(dtype=np.float64)


# Above this many buildings the geometry dimension no longer belongs in a
# driver-materialized Python broadcast (unbounded driver memory + one fat
# pickle to every worker): the refine switches to the cogrouped path.
BROADCAST_GEOM_MAX_BUILDINGS = 200_000


def spatial_join(
    pages_pts: DataFrame,
    buildings: DataFrame,
    z: int = 20,
    page_cols: tuple[str, ...] = ("url",),
    building_cols: tuple[str, ...] = ("osm_id",),
    precomputed_cells: DataFrame | None = None,
    refine: str = "auto",
) -> DataFrame:
    """pages_pts(url, x, y, …) ⋈ buildings(osm_id, geometry, ring_types, …) →
    one row per (page, containing building). Exact ray-cast semantics after a
    cell prefilter.

    Prefilter granularity: z=20 cells (~38 m) — building-sized, so the candidate
    set stays within a small factor of the true matches. The z16 tile grid the
    reference rides (611 m) is the *tile-assignment* unit, not a selective PIP
    prefilter: at z16 a dense-city cell holds hundreds of buildings and the
    candidate blow-up was measured at ~560× the final rows (9.6 M candidates for
    17 k matches on the sf0.1 fixture). The refine is exact, so z only trades
    prefilter selectivity against cell count — results are identical.

    Geometry never rides a join: attaching the nested geometry arrays as a join
    column would duplicate them onto every candidate row and melt the Arrow
    transfer + JVM heap exactly where candidates are densest (hot cells). Two
    exact-refine strategies deliver the rings instead (`refine=`):

    - ``"broadcast"`` — `pip_stage` over the points with a broadcast
      `BuildingIndex`: the cell lookup and the refine run in one Python stage,
      with no shuffle anywhere (the fact table never exchanges). Requires
      materializing the dimension on the driver, so it is bounded by
      `BROADCAST_GEOM_MAX_BUILDINGS`.
    - ``"cogroup"`` — points meet the z20 covering cells (`precomputed_cells`,
      or `building_cells` at z) in a broadcast hash join, and the candidates are
      cogrouped with the deduped geometry table on osm_id (`applyInPandas`):
      geometry crosses the wire once per building, never per candidate,
      nothing touches the driver. Costs one shuffle of the CANDIDATE set (≈
      small multiple of the true matches at z20, orders of magnitude below the
      fact table) — the planet-scale path.
    - ``"auto"`` — broadcast below the threshold, cogroup above.
    """
    extra = [c for c in building_cols if c != "osm_id"]
    if refine == "auto":
        # decision probe bounded by the threshold itself: limit(k+1).count()
        # short-circuits once k+1 rows are found instead of scanning (and
        # fully aggregating) the whole dimension — a full count() here was a
        # wasted job per call on planet-sized building tables
        probe_n = (
            buildings.select("osm_id").limit(BROADCAST_GEOM_MAX_BUILDINGS + 1).count()
        )
        refine = "broadcast" if probe_n <= BROADCAST_GEOM_MAX_BUILDINGS else "cogroup"

    from ..session import with_min_parallelism

    if refine == "cogroup":
        base_cells = (
            precomputed_cells if precomputed_cells is not None else building_cells(buildings, z)
        )
        cells = with_cell_id(base_cells, z).select("osm_id", "cell")
        build_side = (
            cells.join(buildings.select("osm_id", *extra), "osm_id") if extra else cells
        )
        probe = pages_with_cell(with_min_parallelism(pages_pts), z)
        cand = probe.join(F.broadcast(build_side), "cell")

        out_fields = [cand.schema[c] for c in page_cols] + [cand.schema[c] for c in building_cols]
        needed = list(dict.fromkeys(list(page_cols) + list(building_cols) + ["x", "y", "osm_id"]))
        schema = T.StructType(out_fields)
        names = [f.name for f in out_fields]

        def _refine_cogrouped(cand_pdf: pd.DataFrame, geom_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(cand_pdf) == 0 or len(geom_pdf) == 0:
                return pd.DataFrame({n: [] for n in names})
            rings = [g.ring_xy(ring) for ring in geom_pdf["geometry"].iloc[0]]
            pts = np.column_stack(
                [
                    cand_pdf["x"].to_numpy(dtype=np.float64),
                    cand_pdf["y"].to_numpy(dtype=np.float64),
                ]
            )
            return cand_pdf.loc[g.points_in_polygon(pts, rings), names]

        geom = buildings.select("osm_id", "geometry")
        return (
            cand.select(*needed)
            .groupBy("osm_id")
            .cogroup(geom.groupBy("osm_id"))
            .applyInPandas(lambda _k, c, b: _refine_cogrouped(c, b), schema=schema)
        )

    out = pip_stage(
        with_min_parallelism(pages_pts.select(*page_cols, "x", "y")),
        building_index(buildings, z),
        page_cols,
        _xy_columns,
    )
    if extra:
        out = out.join(buildings.select("osm_id", *extra), "osm_id")
    return out.select(*page_cols, *building_cols)


def salted_count(df: DataFrame, key_cols: list[str], n_salt: int = 32) -> DataFrame:
    """Two-phase (salted) count for skewed keys: pre-aggregate on (key, salt), then
    combine — bounds any single reducer's input even for a city-sized hot cell."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols], F.monotonically_increasing_id()), F.lit(n_salt))
    partial = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt").agg(F.count("*").alias("_cnt"))
    return partial.groupBy(*key_cols).agg(F.sum("_cnt").alias("count"))
