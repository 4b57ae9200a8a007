"""Unit tests of the benchmark's own pieces; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, geo, reference, run, stats  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _write_all(seed: int, d) -> list[str]:
    return [
        gen.write(gen.make_pages(seed, 300), str(d / "pages.parquet")),
        gen.write(gen.make_buildings(seed, 60), str(d / "buildings.parquet")),
        gen.write(gen.make_stream_batch(seed, 3, 500), str(d / "points.parquet")),
    ]


class TestGenerator:
    def test_same_seed_same_bytes(self, tmp_path):
        (tmp_path / "a").mkdir()
        (tmp_path / "b").mkdir()
        a = [_digest(p) for p in _write_all(7, tmp_path / "a")]
        b = [_digest(p) for p in _write_all(7, tmp_path / "b")]
        assert a == b

    def test_other_seed_other_inputs(self, tmp_path):
        (tmp_path / "a").mkdir()
        (tmp_path / "b").mkdir()
        a = [_digest(p) for p in _write_all(7, tmp_path / "a")]
        b = [_digest(p) for p in _write_all(8, tmp_path / "b")]
        assert all(x != y for x, y in zip(a, b))

    def test_pages_properties(self):
        pages = gen.make_pages(3, 4000)
        pts = reference.page_points(pages)
        assert 0.97 < len(pts) / len(pages) < 0.99  # ~2% carry no geotag
        min_x, min_y, max_x, max_y = gen.EXTENT
        w, h = max_x - min_x, max_y - min_y
        hot = (
            (pts["x"] > min_x + 0.45 * w) & (pts["x"] < min_x + 0.55 * w)
            & (pts["y"] > min_y + 0.45 * h) & (pts["y"] < min_y + 0.55 * h)
        )
        assert 0.28 < hot.mean() < 0.34  # 30% hot spot plus its 1% share of the rest
        bodies = pages["html"].map(lambda b: b.decode().split("<p>")[1].split("</p>")[0])
        assert (bodies == pages["text"]).all()

    def test_buildings_shape_mix(self):
        b = gen.make_buildings(3, 2000)
        n_rings = b["ring_types"].map(len)
        holes = b["ring_types"].map(lambda t: "inner" in t)
        assert 0.05 < holes.mean() < 0.15
        assert 0.02 < ((n_rings == 2) & ~holes).mean() < 0.08  # two disjoint outers
        assert 0.03 < (b["layer"] == "roads").mean() < 0.07

    def test_buildings_inside_the_extent_and_straddlers(self):
        b = gen.make_buildings(4, 2000)
        min_x, min_y, max_x, max_y = gen.EXTENT
        straddle = 0
        for rings in b["geometry"]:
            pts = np.vstack([np.asarray(r) for r in rings])
            assert pts[:, 0].min() > min_x and pts[:, 0].max() < max_x
            assert pts[:, 1].min() > min_y and pts[:, 1].max() < max_y
            tx, _ = geo.tile_of(pts[:, 0], pts[:, 1], 16)
            straddle += tx.min() != tx.max()
        assert 0.13 < straddle / len(b) < 0.25  # snapped ones plus those on an edge by chance

    def test_stream_rows_never_behind_watermark(self):
        newest = None
        for trigger in range(4):
            ts = gen.make_stream_batch(1, trigger, 1000)["ts"]
            if newest is not None:
                assert (newest - ts.min()).total_seconds() < 10 * 60 - 5 * 60
            newest = ts.max() if newest is None else max(newest, ts.max())


def _square(x0, y0, size):
    return [[x0, y0], [x0 + size, y0], [x0 + size, y0 + size], [x0, y0 + size], [x0, y0]]


class TestReferencePip:
    def test_hole_is_outside(self):
        rings = [_square(0, 0, 10), _square(4, 4, 2)[::-1]]
        px = np.array([1.0, 5.0, 3.5, 9.9])
        py = np.array([1.0, 5.0, 3.5, 9.9])
        assert reference.pip_even_odd(px, py, rings).tolist() == [True, False, True, True]

    def test_two_disjoint_outers(self):
        rings = [_square(0, 0, 2), _square(10, 0, 2)]
        px = np.array([1.0, 11.0, 5.0])
        py = np.array([1.0, 1.0, 1.0])
        assert reference.pip_even_odd(px, py, rings).tolist() == [True, True, False]

    def test_point_outside_bbox(self):
        rings = [_square(0, 0, 2)]
        assert not reference.pip_even_odd(np.array([-5.0]), np.array([1.0]), rings)[0]
        assert not reference.pip_even_odd(np.array([1.0]), np.array([50.0]), rings)[0]

    def test_join_pairs_prefilters_by_bbox(self):
        buildings = pd.DataFrame({
            "osm_id": [1, 2],
            "geometry": [[_square(0, 0, 10), _square(4, 4, 2)[::-1]], [_square(100, 100, 5)]],
        })
        points = pd.DataFrame({
            "url": ["a", "b", "c", "d"],
            "x": [1.0, 5.0, 102.0, 50.0],
            "y": [1.0, 5.0, 102.0, 50.0],
        })
        assert reference.join_pairs(points, buildings) == {("a", 1), ("c", 2)}

    def test_page_points_match_the_generated_position(self):
        pages = gen.make_pages(2, 50)
        pts = reference.page_points(pages)
        lon, lat = geo.merc_to_lonlat(pts["x"].to_numpy(), pts["y"].to_numpy())
        assert np.all(np.abs(lat - np.round(lat, 7)) < 1e-9)


class TestOwnerTiles:
    def test_straddler_belongs_to_the_left_tile(self):
        s = geo.span(16)
        min_x, min_y, _, _ = gen.EXTENT
        edge_x = min_x + 5 * s
        cy = min_y + 3.5 * s
        b = pd.DataFrame({"osm_id": [1], "geometry": [[_square(edge_x - 4, cy, 8)]]})
        tx, ty = geo.tile_of(edge_x - 1, cy + 1, 16)
        assert reference.owner_tiles(b) == {1: f"16_{int(tx)}_{int(ty)}"}

    def test_bbox_corner_not_covered_by_a_diamond(self):
        # a diamond just below and right of a tile corner: its bounding box
        # reaches into the diagonal tile, which comes first in seeding order,
        # but its outline only reaches the tiles left of and above its centre
        s = geo.span(16)
        min_x, min_y, _, _ = gen.EXTENT
        ex, ey = min_x + 5 * s, min_y + 3 * s
        cx, cy = ex + 8, ey - 8
        ring = [[cx - 10, cy], [cx, cy - 10], [cx + 10, cy], [cx, cy + 10], [cx - 10, cy]]
        b = pd.DataFrame({"osm_id": [9], "geometry": [[ring]]})
        tx, ty = geo.tile_of(ex - 1, cy, 16)
        assert reference.owner_tiles(b) == {9: f"16_{int(tx)}_{int(ty)}"}


def _b3dm(batch_length: int, glb: bytes = b"glTF" + bytes(8), pad_to: int = 8) -> bytes:
    ft = json.dumps({"BATCH_LENGTH": batch_length}).encode()
    ft += b" " * (-(28 + len(ft)) % pad_to)
    bt = b'{"name":["a"]}'
    bt += b" " * (-(28 + len(ft) + len(bt)) % pad_to)
    body = ft + bt + glb
    return struct.pack("<4s6I", b"b3dm", 1, 28 + len(body), len(ft), 0, len(bt), 0) + body


class TestB3dmHeader:
    def test_parses_a_tiny_tile(self):
        data = _b3dm(3)
        head = reference.parse_b3dm_header(data)
        assert head["batch_length"] == 3
        assert head["byte_length"] == len(data)
        assert head["glb_magic"] == b"glTF"

    def test_rejects_bad_magic(self):
        data = bytearray(_b3dm(1))
        data[:4] = b"i3dm"
        with pytest.raises(ValueError, match="magic"):
            reference.parse_b3dm_header(bytes(data))

    def test_rejects_truncated_file(self):
        with pytest.raises(ValueError, match="byteLength"):
            reference.parse_b3dm_header(_b3dm(1)[:-2])

    def test_rejects_missing_batch_length(self):
        ft = b'{"RTC_CENTER":[0,0,0]}    '
        body = ft + b"glTF"
        data = struct.pack("<4s6I", b"b3dm", 1, 28 + len(body), len(ft), 0, 0, 0) + body
        with pytest.raises(ValueError, match="BATCH_LENGTH"):
            reference.parse_b3dm_header(data)

    def test_rejects_short_header(self):
        with pytest.raises(ValueError):
            reference.parse_b3dm_header(b"b3dm")


class TestTailPercentile:
    def test_ten_samples_beyond(self):
        pct, value, n = stats.tail_percentile(range(1, 41))  # 1..40
        assert (pct, value, n) == (75.0, 30.0, 40)

    def test_unsorted_input(self):
        samples = list(range(100, 0, -1))
        pct, value, n = stats.tail_percentile(samples)
        assert (pct, value, n) == (90.0, 90.0, 100)
        assert sum(v > value for v in samples) == 10

    def test_eleven_samples(self):
        pct, value, n = stats.tail_percentile([5.0] * 10 + [1.0])
        assert n == 11 and value == 1.0 and pct == pytest.approx(100 / 11)

    def test_too_few_samples_give_the_maximum(self):
        assert stats.tail_percentile([3, 1, 2]) == (100.0, 3.0, 3)
        assert stats.tail_percentile(list(range(10))) == (100.0, 9.0, 10)

    def test_empty(self):
        with pytest.raises(ValueError):
            stats.tail_percentile([])


class TestSelfTime:
    def test_nested_spans(self):
        spans = [
            Span("root", 0.0, 10.0, None, "t"),
            Span("a", 1.0, 4.0, 0, "t"),
            Span("a.child", 2.0, 3.0, 1, "t"),
            Span("b", 5.0, 9.0, 0, "t"),
        ]
        assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])

    def test_overlapping_children_count_once(self):
        spans = [
            Span("root", 0.0, 10.0, None, "t"),
            Span("x", 1.0, 5.0, 0, "t"),
            Span("y", 3.0, 7.0, 0, "t"),
        ]
        assert self_times(spans)[0] == pytest.approx(4.0)

    def test_child_clipped_to_parent(self):
        spans = [Span("root", 0.0, 2.0, None, "t"), Span("late", 1.5, 4.0, 0, "t")]
        assert self_times(spans)[0] == pytest.approx(1.5)

    def test_tracer_layers(self):
        tracer = Tracer(None, "t")
        with tracer.span("root"):
            with tracer.span("spatial_join"):
                with tracer.span("spatial_join.build"):
                    pass
                with tracer.span("spatial_join.refine"):
                    pass
        tracer.finish()
        assert [s.parent for s in tracer.spans] == [None, 0, 1, 1]
        totals = tracer.layer_totals()
        assert set(totals) == {"root", "spatial_join"}
        whole = tracer.spans[1].end - tracer.spans[1].start
        assert totals["spatial_join"]["self_s"] == pytest.approx(whole, abs=1e-9)


class TestStreamReference:
    def test_counts_by_window_and_tile(self):
        s = geo.span(16)
        x0 = -geo.HALF + 100 * s + 1.0
        y0 = geo.HALF - 200 * s - 1.0
        pts = pd.DataFrame({
            "ts": pd.to_datetime([0, 299_999_999, 300_000_000, 0], unit="us", utc=True),
            "x": [x0, x0, x0, x0 + s],
            "y": [y0, y0, y0, y0],
        })
        assert reference.stream_counts(pts) == {
            (0, 100, 200): 2, (300_000_000, 100, 200): 1, (0, 101, 200): 1,
        }


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.PER_LAYER
