"""B3DM sink + tile-server fixture tests (SURVEY.md §5.6): glb/b3dm byte layout,
seed materialization over fixture buildings, and the reference server's
400/404/200 routing semantics against the seeded directory."""

from __future__ import annotations

import http.client
import json
import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_data_3d_tiles_spark.plans.pipeline import seed_extent
from osm_data_3d_tiles_spark.sinks.b3dm import pack_b3dm, pack_glb, parse_b3dm
from osm_data_3d_tiles_spark.sinks.serve_fixture import TileServerFixture
from osm_data_3d_tiles_spark.sources import fixtures as fx


class TestGlbPacking:
    def test_glb_structure(self):
        pos = np.array([0, 0, 0, 1, 0, 0, 0, 1, 0], dtype=np.float32)
        nrm = np.tile([0, 0, 1], 3).astype(np.float32)
        uv = np.zeros(6, dtype=np.float32)
        bid = np.zeros(3, dtype=np.float32)
        glb = pack_glb(pos, nrm, uv, bid)
        magic, version, total = struct.unpack("<III", glb[:12])
        assert magic == 0x46546C67 and version == 2 and total == len(glb)
        jlen, jtype = struct.unpack("<II", glb[12:20])
        gltf = json.loads(glb[20: 20 + jlen])
        assert gltf["meshes"][0]["primitives"][0]["attributes"] == {
            "POSITION": 0, "NORMAL": 1, "TEXCOORD_0": 2, "_BATCHID": 3,
        }
        assert gltf["accessors"][0]["min"] == [0.0, 0.0, 0.0]
        assert gltf["accessors"][0]["max"] == [1.0, 1.0, 0.0]
        # BIN chunk round-trips the positions
        boff = 20 + jlen
        blen, btype = struct.unpack("<II", glb[boff: boff + 8])
        assert btype == 0x004E4942
        view0 = gltf["bufferViews"][0]
        raw = glb[boff + 8 + view0["byteOffset"]:][: view0["byteLength"]]
        assert np.array_equal(np.frombuffer(raw[:36], dtype=np.float32), pos)

    def test_weld_dedups_shared_edge(self):
        """Quad as two triangles sharing an edge: 6 input vertices → 4 welded,
        6 indices, and the indexed mesh reconstructs the original triangles."""
        quad = np.array(
            [[0, 0, 0], [1, 0, 0], [1, 1, 0],   # tri 1
             [0, 0, 0], [1, 1, 0], [0, 1, 0]],  # tri 2 shares 2 vertices
            dtype=np.float32,
        )
        nrm = np.tile([0, 0, 1], 6).astype(np.float32)
        uv = np.zeros(12, dtype=np.float32)
        bid = np.zeros(6, dtype=np.float32)
        glb = pack_glb(quad.ravel(), nrm, uv, bid)
        jlen = struct.unpack("<II", glb[12:20])[0]
        gltf = json.loads(glb[20: 20 + jlen])
        prim = gltf["meshes"][0]["primitives"][0]
        assert gltf["accessors"][prim["attributes"]["POSITION"]]["count"] == 4
        idx_acc = gltf["accessors"][prim["indices"]]
        assert idx_acc["count"] == 6 and idx_acc["componentType"] == 5125
        boff = 20 + jlen
        bin_start = boff + 8
        pview = gltf["bufferViews"][prim["attributes"]["POSITION"]]
        iview = gltf["bufferViews"][idx_acc["bufferView"]]
        pos = np.frombuffer(
            glb[bin_start + pview["byteOffset"]:][: 4 * 12], np.float32
        ).reshape(4, 3)
        idx = np.frombuffer(glb[bin_start + iview["byteOffset"]:][: 6 * 4], np.uint32)
        assert np.array_equal(pos[idx], quad)

    def test_b3dm_roundtrip(self):
        glb = pack_glb(
            np.zeros(9, np.float32), np.zeros(9, np.float32),
            np.zeros(6, np.float32), np.zeros(3, np.float32),
        )
        data = pack_b3dm(glb, {"BATCH_LENGTH": 3}, {"building_height": [1, 2, 3]})
        out = parse_b3dm(data)
        assert out["feature_table"] == {"BATCH_LENGTH": 3}
        assert out["batch_table"] == {"building_height": [1, 2, 3]}
        assert out["glb"].startswith(b"glTF")
        # 3D Tiles 1.0 alignment is relative to the START OF THE TILE: with a
        # 28-byte header each block's ABSOLUTE end offset must be 8-aligned
        # (block-local len % 8 == 0 would leave everything off by 4)
        ftj = struct.unpack("<I", data[12:16])[0]
        btj = struct.unpack("<I", data[20:24])[0]
        assert (28 + ftj) % 8 == 0           # featureTable JSON end
        assert (28 + ftj + btj) % 8 == 0     # batchTable JSON end = GLB start
        assert struct.unpack("<I", data[8:12])[0] % 8 == 0  # total tile length
        assert len(data) % 8 == 0
        # glTF 2.0: the BIN chunk may exceed buffer.byteLength by at most 3
        # bytes — the GLB 8-alignment slack must live in the JSON chunk
        glb = out["glb"]
        jlen = struct.unpack("<I", glb[12:16])[0]
        import json as _json
        gltf = _json.loads(glb[20: 20 + jlen])
        blen = struct.unpack("<I", glb[20 + jlen: 24 + jlen])[0]
        assert 0 <= blen - gltf["buffers"][0]["byteLength"] <= 3


@pytest.fixture(scope="module")
def seeded_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("export"))
    n = seed_extent(fx.load_fixture(spark, "buildings", 0.001), out, fx.FIXTURE_EXTENT)
    assert n > 0
    return out


def tileset_content_uris(out_dir: str) -> set[str]:
    """Tile content uris reachable from {out_dir}/tileset.json through its subtile json files."""
    uris, todo = set(), ["tileset.json"]
    while todo:
        with open(os.path.join(out_dir, todo.pop())) as f:
            nodes = [json.load(f)["root"]]
        while nodes:
            node = nodes.pop()
            uri = node.get("content", {}).get("uri", "")
            if uri.endswith(".json"):
                todo.append(uri)
            elif uri:
                uris.add(uri)
            nodes.extend(node.get("children", ()))
    return uris


class TestSeedPath:
    def test_tiles_parse_and_match_batch_length(self, seeded_dir):
        files = sorted(os.listdir(os.path.join(seeded_dir, "b3dm")))
        assert files
        for fn in files[:5]:
            with open(os.path.join(seeded_dir, "b3dm", fn), "rb") as f:
                out = parse_b3dm(f.read())
            bl = out["feature_table"]["BATCH_LENGTH"]
            assert bl >= 1
            bt = out["batch_table"]
            assert "building_height" in bt and len(bt["building_height"]) == bl
            assert "box_center" in bt and len(bt["box_center"]) == bl
            # boxCenter z pinned to 10 (b3dmGenerator.ts:244-246)
            assert all(c[2] == 10.0 for c in bt["box_center"])

    def test_edge_straddler_in_referenced_tile(self, spark, tmp_path):
        """A footprint crossing the extent's west edge is owned by a tile inside
        the extent, so the B3DM holding it is one tileset.json references."""
        blds = fx.load_fixture(spark, "buildings", 0.001).filter(F.col("layer") == "buildings")
        src = blds.orderBy("osm_id").first()
        xs = [p[0] for p in src["geometry"][0]]
        west = fx.FIXTURE_EXTENT[0]
        dx = west - (min(xs) + max(xs)) / 2
        new_id = 99_000_001
        straddler = (
            blds.filter(F.col("osm_id") == src["osm_id"])
            .withColumn("osm_id", F.lit(new_id).cast("long"))
            .withColumn(
                "geometry",
                F.expr(f"transform(geometry, r -> transform(r, p -> array(p[0] + {dx!r}, p[1])))"),
            )
        )
        moved = straddler.first()["geometry"][0]
        assert min(p[0] for p in moved) < west < max(p[0] for p in moved)

        out = str(tmp_path)
        seed_extent(straddler, out, fx.FIXTURE_EXTENT)
        holders = []
        for fn in os.listdir(os.path.join(out, "b3dm")):
            with open(os.path.join(out, "b3dm", fn), "rb") as f:
                urls = parse_b3dm(f.read())["batch_table"]["osm_url"]
            if any(u.endswith(f"/{new_id}") for u in urls):
                holders.append(fn)
        assert len(holders) == 1
        assert holders[0] in tileset_content_uris(out)

    def test_tileset_json_written(self, seeded_dir):
        with open(os.path.join(seeded_dir, "tileset.json")) as f:
            root = json.load(f)
        assert root["root"]["geometricError"] == 512
        assert root["root"]["refine"] == "ADD"


class TestTileServerFixture:
    def test_status_semantics(self, seeded_dir):
        some_tile = sorted(os.listdir(os.path.join(seeded_dir, "b3dm")))[0]
        with TileServerFixture(seeded_dir) as srv:
            def get(path):
                conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
                conn.request("GET", path)
                r = conn.getresponse()
                body = r.read()
                conn.close()
                return r.status, body

            # 400: wrong extension / wrong coord arity (serve.ts:37-66)
            assert get("/hello.txt")[0] == 400
            assert get("/1_2.b3dm")[0] == 400
            assert get("/1_2_3_4.b3dm")[0] == 400
            # 404: missing json + missing tile
            st, body = get("/nope.json")
            assert st == 404 and json.loads(body) == {"error": "File not found"}
            assert get("/99_0_0.b3dm")[0] == 404
            # 200: real tile bytes parse as b3dm; subtiles/ prefix stripped
            st, body = get(f"/{some_tile}")
            assert st == 200 and parse_b3dm(body)["feature_table"]["BATCH_LENGTH"] >= 1
            assert get(f"/subtiles/{some_tile}")[0] == 200
            # 200: tileset.json served as JSON
            st, body = get("/tileset.json")
            assert st == 200 and json.loads(body)["root"]["refine"] == "ADD"


class TestQuantizedGlb:
    """The KHR_mesh_quantization path — the sink's compressed codec in place
    of the reference's Draco stage (b3dmGenerator.ts:182-195)."""

    def _mesh(self):
        # two triangles over a realistic tile-frame extent, duplicated verts
        # so the weld + index path is exercised
        rng = np.random.RandomState(42)
        tris = rng.rand(40, 3, 3) * np.array([611.5, 611.5, 95.0])
        pos = tris.reshape(-1, 3).astype(np.float32)
        nrm = np.tile([0.0, 0.6, 0.8], (len(pos), 1)).astype(np.float32)
        uv = rng.rand(len(pos), 2).astype(np.float32)
        bid = (np.arange(len(pos)) // 3 % 7).astype(np.float32)
        return pos, nrm, uv, bid

    def test_decode_reencode_round_trip(self):
        from osm_data_3d_tiles_spark.sinks.b3dm import pack_glb, unpack_glb

        pos, nrm, uv, bid = self._mesh()
        glb = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid, quantize=True)
        out = unpack_glb(glb)
        assert out["quantized"]
        # grid step = extent/65535 -> world error bounded by half a step
        extent = pos.max(axis=0) - pos.min(axis=0)
        step = extent / 65535.0
        # compare against the welded mesh (what the encoder actually stores)
        from osm_data_3d_tiles_spark.sinks.b3dm import weld_vertices
        wpos, wnrm, wuv, wbid, widx = weld_vertices(pos, nrm, uv, bid)
        assert out["position"].shape == wpos.shape
        assert np.abs(out["position"] - wpos).max(axis=0) == pytest.approx(
            np.zeros(3), abs=float(step.max()) * 0.51 + 1e-9
        )
        assert np.abs(out["normal"] - wnrm).max() <= 1 / 127 + 1e-6
        assert np.array_equal(out["uv"], wuv)
        assert np.array_equal(out["batch_id"], wbid)
        assert np.array_equal(out["indices"], widx)
        # REENCODE the decoded mesh: quantization is idempotent (decoded
        # positions sit on the grid, so a second encode is bit-stable)
        tri_pos = out["position"][out["indices"]].reshape(-1)
        tri_nrm = out["normal"][out["indices"]].reshape(-1)
        tri_uv = out["uv"][out["indices"]].reshape(-1)
        tri_bid = out["batch_id"][out["indices"]]
        glb2 = pack_glb(tri_pos, tri_nrm, tri_uv, tri_bid, quantize=True)
        out2 = unpack_glb(glb2)
        assert np.allclose(out2["position"][out2["indices"]],
                           out["position"][out["indices"]], atol=float(step.max()) * 0.51)

    def test_quantized_is_smaller_and_valid_gltf(self):
        from osm_data_3d_tiles_spark.sinks.b3dm import pack_glb

        pos, nrm, uv, bid = self._mesh()
        plain = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid)
        quant = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid, quantize=True)
        assert len(quant) < len(plain)
        jlen = struct.unpack("<II", quant[12:20])[0]
        gltf = json.loads(quant[20 : 20 + jlen])
        assert gltf["extensionsRequired"] == ["KHR_mesh_quantization"]
        acc_pos = gltf["accessors"][0]
        assert acc_pos["componentType"] == 5123 and "normalized" not in acc_pos
        assert gltf["accessors"][1]["componentType"] == 5120
        assert gltf["accessors"][1]["normalized"] is True
        # vertex bufferViews carry 4-multiple strides (glTF alignment rule)
        for a in gltf["accessors"][:4]:
            stride = gltf["bufferViews"][a["bufferView"]]["byteStride"]
            assert stride % 4 == 0
        assert len(quant) % 8 == 0  # b3dm embedding alignment

    def test_b3dm_for_tile_quantized(self):
        from osm_data_3d_tiles_spark.sinks.b3dm import parse_b3dm, unpack_glb

        pos, nrm, uv, bid = self._mesh()
        glb = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid, quantize=True)
        data = pack_b3dm(glb, {"BATCH_LENGTH": 7}, {})
        out = parse_b3dm(data)
        assert out["feature_table"]["BATCH_LENGTH"] == 7
        decoded = unpack_glb(out["glb"])
        assert decoded["quantized"] and len(decoded["position"]) > 0

    def test_plain_glb_bytes_pinned(self):
        """The emitter's bytes are the contract: sha256 of the plain GLB of
        this mesh, of the welded quad, and of the meshless GLBs."""
        import hashlib

        def sha(*arrays, **kw):
            return hashlib.sha256(pack_glb(*arrays, **kw)).hexdigest()

        pos, nrm, uv, bid = self._mesh()
        assert sha(pos.ravel(), nrm.ravel(), uv.ravel(), bid) == (
            "9af2471033cf529db228380452a234e61868a9ae2a7cba8ff5fe10d96404a6ea"
        )
        quad = np.array(
            [[0, 0, 0], [1, 0, 0], [1, 1, 0], [0, 0, 0], [1, 1, 0], [0, 1, 0]],
            dtype=np.float32,
        )
        quad_nrm = np.tile([0, 0, 1], 6).astype(np.float32)
        assert sha(quad.ravel(), quad_nrm, np.zeros(12, np.float32), np.zeros(6, np.float32)) == (
            "3d4fcfbde2c045c635182b270428e660f32957922ef32aa5c69c284e9b8eafe7"
        )
        empty = np.empty(0, np.float32)
        assert sha(empty, empty, empty, empty) == (
            "5cf6bdf317727728c7782e55bdb33ab94dcf07e83b71982302f452bf45c3f444"
        )
        assert sha(empty, empty, empty, empty, quantize=True) == (
            "e0a4dc92c8ad33ba0dbbad0715e8bffbe4dcbd74a69aed7bc7756361501f27af"
        )

    def test_b3dm_for_tile_batch_columns(self):
        """The batch table holds the named columns in the given order, drops
        nulls, and is {} for a tile without a batch row (left join)."""
        from osm_data_3d_tiles_spark.sinks.b3dm import b3dm_for_tile

        pos, nrm, uv, bid = self._mesh()
        row = {
            "tile_key": "16_1_2", "batch_length": 2, "position": pos.ravel(),
            "normal": nrm.ravel(), "uv": uv.ravel(), "batch_id": bid,
            "osm_ids": [7, 8], "building_height": [3.0, np.float64("nan")],
            "label": None, "osm_id": np.array([7, 8]),
        }
        out = parse_b3dm(b3dm_for_tile(row, ["osm_id", "label", "building_height"]))
        assert list(out["batch_table"]) == ["osm_id", "building_height"]
        assert out["batch_table"] == {"osm_id": [7, 8], "building_height": [3.0, None]}
        missing = dict(row, osm_id=None, label=None, building_height=None)
        out = parse_b3dm(b3dm_for_tile(missing, ["osm_id", "label", "building_height"]))
        assert out["batch_table"] == {} and out["feature_table"] == {"BATCH_LENGTH": 2}

    def test_unpack_glb_reads_uncompressed_too(self):
        from osm_data_3d_tiles_spark.sinks.b3dm import pack_glb, unpack_glb, weld_vertices

        pos, nrm, uv, bid = self._mesh()
        glb = pack_glb(pos.ravel(), nrm.ravel(), uv.ravel(), bid)
        out = unpack_glb(glb)
        wpos, wnrm, wuv, wbid, widx = weld_vertices(pos, nrm, uv, bid)
        assert not out["quantized"]
        assert np.array_equal(out["position"], wpos)
        assert np.array_equal(out["indices"], widx)
