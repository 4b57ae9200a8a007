"""B3DM binary sink — packs the engine's per-tile SoA buffers into Batched 3D
Model tiles (the public 3D Tiles 1.0 format: 28-byte header + featureTable JSON +
batchTable JSON + binary glTF payload).

Reference path (b3dmGenerator.ts:162-256): three.js GLTF export → weld → Draco
compress → `createB3dmTileDataFromGlb`. This sink runs the same weld and packs
the glTF 2.0 binary directly with struct (no 3D runtime needed): one indexed
mesh primitive with POSITION / NORMAL / TEXCOORD_0 / _BATCHID accessors — the
attribute set the reference exports (build3dBuilding.ts:102-108).

DECISION: the Draco bitstream is out of scope for good, and
KHR_mesh_quantization (`pack_glb(quantize=True)`) is this engine's compressed
codec. A from-scratch Draco encoder (rANS entropy coding + connectivity coder +
prediction transforms) could only be tested against ITSELF — without a
reference decoder, a decode-reencode round-trip proves self-consistency, not
spec conformance, while risking subtly non-conformant bytes that every real
loader rejects. KHR_mesh_quantization reaches the same goal (quantized
attribute storage, ~2.4x smaller vertex payload) as a core glTF 2.0 extension
whose output is plain spec-valid glTF — verified by structural decode
(`unpack_glb`) plus pinned byte goldens (`quantized_tile_stats`). Seeded tiles
stay unquantized.

The seed path (`seed_tiles`) is the Spark mapping of seed-b3dm.ts:14-65 — one
batch job materializing every tile, executed with foreachPartition so tile bytes
never collect on the driver. Locally the sink writes a directory; on a cluster
the same code targets a mounted object store path.
"""

from __future__ import annotations

import json
import math
import os
import struct

import numpy as np

GLB_MAGIC = 0x46546C67  # 'glTF'
JSON_CHUNK = 0x4E4F534A  # 'JSON'
BIN_CHUNK = 0x004E4942  # 'BIN\0'


def _pad(data: bytes, boundary: int, pad_byte: bytes) -> bytes:
    rem = len(data) % boundary
    if rem:
        data += pad_byte * (boundary - rem)
    return data


WELD_TOLERANCE = 1e-10  # reference: b3dmGenerator.ts:169-181 (mergeVertices tolerance)


def weld_vertices(
    pos: np.ndarray, nrm: np.ndarray, tex: np.ndarray, bid: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Merge vertices whose FULL attribute tuple (position, normal, uv,
    batch id) agrees within WELD_TOLERANCE (quantized to the tolerance grid,
    the same rule as the reference's three.js mergeVertices at
    b3dmGenerator.ts:169-181) → (pos, nrm, tex, bid, indices). First occurrence
    wins; triangle winding is preserved because only indices are remapped."""
    attrs = np.column_stack([pos, nrm, tex, bid.reshape(-1, 1)]).astype(np.float64)
    # float64 grid keys: tile-local coords (≤1e7 m) / 1e-10 stay well inside
    # int64; float32 attribute spacing ≫ tolerance, so this is an exact-match
    # merge on the stored float32 values (the reference's post-quantization
    # behavior), never a lossy snap
    keys = np.round(attrs / WELD_TOLERANCE).astype(np.int64)
    _, first_idx, inverse = np.unique(keys, axis=0, return_index=True, return_inverse=True)
    # np.unique sorts — remap so output vertices keep first-appearance order
    order = np.argsort(first_idx, kind="stable")
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    indices = rank[inverse].astype(np.uint32)
    keep = first_idx[order]
    return pos[keep], nrm[keep], tex[keep], bid[keep], indices


def _glb_bytes(gltf: dict, bin_bytes: bytes | None) -> bytes:
    """Assemble the GLB container: JSON chunk space-padded to 4, BIN chunk
    zero-padded to 4, total length 8-aligned via extra JSON spaces — slack goes
    in the JSON chunk because padding BIN past buffer.byteLength by 4+ trips
    strict validators (BUFFER_GLB_CHUNK_TOO_BIG); inside a b3dm whose body
    starts 8-aligned this keeps the tile's total 8-aligned."""
    json_bytes = _pad(json.dumps(gltf, separators=(",", ":")).encode(), 4, b" ")
    if bin_bytes is not None:
        bin_bytes = _pad(bin_bytes, 4, b"\x00")
    total = 12 + 8 + len(json_bytes) + (8 + len(bin_bytes) if bin_bytes is not None else 0)
    if total % 8:
        extra = 8 - total % 8
        json_bytes += b" " * extra
        total += extra
    out = struct.pack("<III", GLB_MAGIC, 2, total)
    out += struct.pack("<II", len(json_bytes), JSON_CHUNK) + json_bytes
    if bin_bytes is not None:
        out += struct.pack("<II", len(bin_bytes), BIN_CHUNK) + bin_bytes
    return out


def _gltf(node: dict, quantize: bool, **body) -> dict:
    """The glTF document around one scene with one node."""
    gltf = {
        "asset": {"version": "2.0", "generator": "osm-data-3d-tiles-spark"},
        "scene": 0,
        "scenes": [{"nodes": [0]}],
        "nodes": [node],
        **body,
    }
    if quantize:
        gltf["extensionsUsed"] = ["KHR_mesh_quantization"]
        gltf["extensionsRequired"] = ["KHR_mesh_quantization"]
    return gltf


def pack_glb(
    position: np.ndarray,
    normal: np.ndarray,
    uv: np.ndarray,
    batch_id: np.ndarray,
    quantize: bool = False,
) -> bytes:
    """Triangle mesh → glTF 2.0 binary: one buffer, one primitive indexed over
    the welded vertices (flat-roof fans and wall strips share almost every
    vertex; the reference runs the same weld before export).

    `quantize=True` emits a self-contained KHR_mesh_quantization GLB: POSITION
    as uint16 on a 65535-step grid over the mesh bbox (node scale+translation
    restores world space — the same "scene" quantization volume the
    reference's Draco stage uses, b3dmGenerator.ts:182-195), NORMAL as
    normalized int8. TEXCOORD_0/_BATCHID stay float (wall UVs tile past
    [0,1], which normalized quantization cannot represent). Vertex
    bufferViews then carry byteStride as a multiple of 4, so VEC3<u16> packs
    at stride 8 (2 pad bytes) and VEC3<i8> at stride 4 (1 pad byte).

    glTF 2.0 forbids count-0 accessors and zero-length bufferViews/buffers,
    so an empty mesh emits a MESHLESS (but valid) GLB: one empty node, no
    accessors; a quantized one still declares the extension so
    format-branching callers stay consistent."""
    pos = np.asarray(position, dtype=np.float32).reshape(-1, 3)
    nrm = np.asarray(normal, dtype=np.float32).reshape(-1, 3)
    tex = np.asarray(uv, dtype=np.float32).reshape(-1, 2)
    bid = np.asarray(batch_id, dtype=np.float32).reshape(-1)
    if not len(pos):
        return _glb_bytes(_gltf({}, quantize), None)
    pos, nrm, tex, bid, indices = weld_vertices(pos, nrm, tex, bid)

    node = {"mesh": 0}
    # (data, componentType, byteStride, extra accessor fields) per attribute
    if quantize:
        lo = pos.min(axis=0)
        extent = (pos.max(axis=0) - lo).astype(np.float64)
        scale = np.where(extent > 0, extent / 65535.0, 1.0)
        pos_q = np.clip(np.round((pos.astype(np.float64) - lo) / scale), 0, 65535)
        pos_q = pos_q.astype(np.uint16)
        nrm_q = np.clip(np.round(nrm.astype(np.float64) * 127.0), -127, 127)
        pos_rows = np.zeros((len(pos), 4), dtype=np.uint16)  # (x, y, z, pad)
        pos_rows[:, :3] = pos_q
        nrm_rows = np.zeros((len(pos), 4), dtype=np.int8)
        nrm_rows[:, :3] = nrm_q.astype(np.int8)
        attributes = [
            (pos_rows, 5123, 8, {"min": [int(v) for v in pos_q.min(axis=0)],
                                 "max": [int(v) for v in pos_q.max(axis=0)]}),
            (nrm_rows, 5120, 4, {"normalized": True}),
            (tex, 5126, 8, {}),
            (bid, 5126, 4, {}),
        ]
        node["translation"] = [float(x) for x in lo]
        node["scale"] = [float(s) for s in scale]
    else:
        attributes = [
            (pos, 5126, None, {"min": [float(v) for v in pos.min(axis=0)],
                               "max": [float(v) for v in pos.max(axis=0)]}),
            (nrm, 5126, None, {}),
            (tex, 5126, None, {}),
            (bid, 5126, None, {}),
        ]
    attributes.append((indices, 5125, None, {}))  # UNSIGNED_INT

    views, accessors, chunks, offset = [], [], [], 0
    for (arr, comp_type, stride, extra), acc_type in zip(
        attributes, ("VEC3", "VEC3", "VEC2", "SCALAR", "SCALAR")
    ):
        raw = _pad(arr.tobytes(), 4, b"\x00")
        view = {"buffer": 0, "byteOffset": offset, "byteLength": len(raw)}
        if stride is not None:
            view["byteStride"] = stride
        accessors.append({
            "bufferView": len(views), "componentType": comp_type, "count": len(arr),
            "type": acc_type, **extra,
        })
        views.append(view)
        chunks.append(raw)
        offset += len(raw)

    gltf = _gltf(
        node, quantize,
        meshes=[{"primitives": [{
            "attributes": {"POSITION": 0, "NORMAL": 1, "TEXCOORD_0": 2, "_BATCHID": 3},
            "mode": 4,
            "indices": 4,
        }]}],
        buffers=[{"byteLength": offset}],
        bufferViews=views,
        accessors=accessors,
    )
    return _glb_bytes(gltf, b"".join(chunks))


def unpack_glb(glb: bytes) -> dict:
    """Parse a GLB from this sink back to numpy arrays (plain or
    KHR_mesh_quantization; the decode half of the round-trip pin). Returns
    {position (float32 world-space), normal (float32 unit-ish), uv, batch_id,
    indices, quantized: bool}."""
    magic, _ver, _total = struct.unpack("<III", glb[:12])
    assert magic == GLB_MAGIC, "not a GLB"
    jlen, jtype = struct.unpack("<II", glb[12:20])
    assert jtype == JSON_CHUNK
    gltf = json.loads(glb[20 : 20 + jlen])
    quantized = "KHR_mesh_quantization" in gltf.get("extensionsUsed", [])
    if not gltf.get("meshes"):
        # meshless empty-tile GLB (no BIN chunk)
        empty3 = np.empty((0, 3), dtype=np.float32)
        return {
            "position": empty3, "normal": empty3,
            "uv": np.empty((0, 2), dtype=np.float32),
            "batch_id": np.empty(0, dtype=np.float32),
            "indices": None,  # no mesh => no index accessor
            "quantized": quantized,
        }
    blen, btype = struct.unpack("<II", glb[20 + jlen : 28 + jlen])
    assert btype == BIN_CHUNK
    binv = glb[28 + jlen : 28 + jlen + blen]

    def read_acc(idx: int) -> np.ndarray:
        acc = gltf["accessors"][idx]
        view = gltf["bufferViews"][acc["bufferView"]]
        comp = {5120: np.int8, 5123: np.uint16, 5125: np.uint32, 5126: np.float32}[
            acc["componentType"]
        ]
        n_comp = {"SCALAR": 1, "VEC2": 2, "VEC3": 3}[acc["type"]]
        start = view["byteOffset"]
        raw = np.frombuffer(binv[start : start + view["byteLength"]], dtype=comp)
        stride = view.get("byteStride")
        if stride is not None:
            per_row = stride // np.dtype(comp).itemsize
            raw = raw.reshape(-1, per_row)[: acc["count"], :n_comp]
        else:
            raw = raw[: acc["count"] * n_comp].reshape(acc["count"], n_comp)
        return raw

    prim = gltf["meshes"][0]["primitives"][0]
    attrs = prim["attributes"]
    pos = read_acc(attrs["POSITION"]).astype(np.float64)
    node = gltf["nodes"][0]
    if quantized:
        pos = pos * np.asarray(node["scale"]) + np.asarray(node["translation"])
    nrm = read_acc(attrs["NORMAL"]).astype(np.float64)
    if gltf["accessors"][attrs["NORMAL"]].get("normalized"):
        nrm = nrm / 127.0
    return {
        "position": pos.astype(np.float32),
        "normal": nrm.astype(np.float32),
        "uv": read_acc(attrs["TEXCOORD_0"]).astype(np.float32),
        "batch_id": read_acc(attrs["_BATCHID"]).reshape(-1).astype(np.float32),
        "indices": read_acc(prim["indices"]).reshape(-1),
        "quantized": quantized,
    }


def _pad_from(data: bytes, start: int, boundary: int, pad_byte: bytes) -> bytes:
    """Pad so that (start + len(data)) % boundary == 0 — alignment is relative
    to the START OF THE TILE, not to the block itself (3D Tiles 1.0 §B3DM:
    each JSON block and the binary body must begin/end on 8-byte offsets)."""
    rem = (start + len(data)) % boundary
    if rem:
        data += pad_byte * (boundary - rem)
    return data


def pack_b3dm(glb: bytes, feature_table: dict, batch_table: dict) -> bytes:
    """3D Tiles B3DM: 28-byte header + FT JSON + BT JSON + glb, each block
    space/zero-padded so its ABSOLUTE end offset is 8-byte aligned (the 28-byte
    header means block-local `len % 8 == 0` padding would misalign everything
    after it by 4 — strict loaders reject such tiles)."""
    ft = _pad_from(json.dumps(feature_table, separators=(",", ":")).encode(), 28, 8, b" ")
    bt = _pad_from(json.dumps(batch_table, separators=(",", ":")).encode(), 28 + len(ft), 8, b" ")
    body = ft + bt + glb
    header = struct.pack("<4sIIIIII", b"b3dm", 1, 28 + len(body), len(ft), 0, len(bt), 0)
    return header + body


def parse_b3dm(data: bytes) -> dict:
    """Inverse of pack_b3dm — used by the fixture server tests."""
    magic, version, total, ftj, ftb, btj, btb = struct.unpack("<4sIIIIII", data[:28])
    assert magic == b"b3dm" and version == 1
    p = 28
    feature_table = json.loads(data[p: p + ftj]) if ftj else {}
    p += ftj + ftb
    batch_table = json.loads(data[p: p + btj]) if btj else {}
    p += btj + btb
    return {"feature_table": feature_table, "batch_table": batch_table,
            "glb": data[p: 28 + total - 28], "byte_length": total}


def _json_safe(v):
    if isinstance(v, (np.floating,)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, np.ndarray):
        return [_json_safe(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def b3dm_for_tile(row: dict, batch_columns: list[str]) -> bytes:
    """One build_tiles_3d row, left-joined with its batch_tables row → b3dm bytes.

    featureTable = {BATCH_LENGTH}; batchTable = the row's non-null
    `batch_columns` in that order (b3dmGenerator.ts:242-247 shape), so a tile
    without a batch row gets {}."""
    feature_table = {"BATCH_LENGTH": int(row["batch_length"])}
    batch_table = {c: _json_safe(row[c]) for c in batch_columns if row[c] is not None}
    glb = pack_glb(
        np.asarray(row["position"]), np.asarray(row["normal"]),
        np.asarray(row["uv"]), np.asarray(row["batch_id"]),
    )
    return pack_b3dm(glb, feature_table, batch_table)


def seed_tiles(tiles_df, batch_df, out_dir: str) -> int:
    """Materialize every tile as {out_dir}/b3dm/{z}_{x}_{y}.b3dm — the batch seed
    path (seed-b3dm.ts), distributed: the join stays on tile_key partitioning and
    each partition writes its own files (no driver collect of tile bytes).
    Returns the number of tiles written."""
    os.makedirs(os.path.join(out_dir, "b3dm"), exist_ok=True)
    batch_columns = [c for c in batch_df.columns if c not in ("tile_key", "batch_length")]
    joined = tiles_df.join(batch_df.drop("batch_length"), "tile_key", "left")

    def _write(rows):
        for row in rows:
            d = row.asDict(recursive=True)
            data = b3dm_for_tile(d, batch_columns)
            path = os.path.join(out_dir, "b3dm", f"{d['tile_key']}.b3dm")
            tmp = path + ".tmp"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)

    joined.foreachPartition(_write)
    return len([f for f in os.listdir(os.path.join(out_dir, "b3dm")) if f.endswith(".b3dm")])
