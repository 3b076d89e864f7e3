"""Real Mapbox Vector Tile protobuf framing (public spec vector_tile.proto,
MVT 2.1).

Parity target: the reference's protobuf MVT codec
(/root/reference/versatiles_geometry/src/vector_tile/tile.rs:41,67,
layer.rs:74,127, feature.rs, value.rs) — implemented here directly on the
protobuf WIRE format (varint tags + length-delimited messages), since no
protobuf library ships in this environment and none is needed: the format is
five tiny message types.

Message schema (vector_tile.proto):
  Tile:    3 = repeated Layer
  Layer:  15 = version, 1 = name, 2 = repeated Feature, 3 = repeated key,
           4 = repeated Value, 5 = extent
  Feature: 1 = id, 2 = packed tags (key/value index pairs), 3 = GeomType,
           4 = packed geometry (command integers)
  Value:   1 = string | 2 = float | 3 = double | 4 = int64 | 5 = uint64 |
           6 = sint64 | 7 = bool

Geometry command integers are shared with vector_tile.py (the engine's
VTV1 framing carries the identical stream); decode/encode are reused, so a
tile can be transcoded VTV1 <-> MVT pbf losslessly for string properties.

Layer model matches vector_tile.py:
  {"name": str, "extent": int, "features": [{"id", "type", "geometry",
   "props": {str: value}}]}
with typed property values preserved on decode (str/int/float/bool).
"""

from __future__ import annotations

import struct

from .vector_tile import decode_geometry, encode_geometry

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5


def _uvarint(out: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_uvarint(buf: bytes, i: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7


def _tag(out: bytearray, field: int, wt: int) -> None:
    _uvarint(out, (field << 3) | wt)


def _len_field(out: bytearray, field: int, payload: bytes) -> None:
    _tag(out, field, _WT_LEN)
    _uvarint(out, len(payload))
    out += payload


def _fields(buf: bytes):
    """Iterate (field_no, wire_type, value) over one message's wire bytes.
    LEN fields yield the raw sub-buffer; varints the int; fixed the bytes."""
    i = 0
    while i < len(buf):
        key, i = _read_uvarint(buf, i)
        field, wt = key >> 3, key & 0x7
        if wt == _WT_VARINT:
            v, i = _read_uvarint(buf, i)
            yield field, wt, v
        elif wt == _WT_LEN:
            n, i = _read_uvarint(buf, i)
            yield field, wt, buf[i : i + n]
            i += n
        elif wt == _WT_I64:
            yield field, wt, buf[i : i + 8]
            i += 8
        elif wt == _WT_I32:
            yield field, wt, buf[i : i + 4]
            i += 4
        else:
            raise ValueError(f"bad wire type {wt}")


def _packed_varints(buf: bytes) -> list[int]:
    out = []
    i = 0
    while i < len(buf):
        v, i = _read_uvarint(buf, i)
        out.append(v)
    return out


def _decode_value(buf: bytes):
    for field, wt, v in _fields(buf):
        if field == 1:
            return v.decode("utf-8")
        if field == 2:
            return struct.unpack("<f", v)[0]
        if field == 3:
            return struct.unpack("<d", v)[0]
        if field == 4:  # int64: varint carries two's complement
            return v - (1 << 64) if v >= (1 << 63) else v
        if field == 5:  # uint64
            return v
        if field == 6:  # sint64 zigzag
            return (v >> 1) ^ -(v & 1)
        if field == 7:
            return bool(v)
    return None


def _encode_value(v) -> bytes:
    out = bytearray()
    if isinstance(v, bool):
        _tag(out, 7, _WT_VARINT)
        _uvarint(out, int(v))
    elif isinstance(v, int):
        _tag(out, 4, _WT_VARINT)
        _uvarint(out, v & 0xFFFFFFFFFFFFFFFF)
    elif isinstance(v, float):
        _tag(out, 3, _WT_I64)
        out += struct.pack("<d", v)
    else:
        _len_field(out, 1, str(v).encode("utf-8"))
    return bytes(out)


def _decode_feature(buf: bytes, keys: list[str], values: list) -> dict:
    fid, ftype, tags, geom_cmds = 0, 0, [], []
    for field, wt, v in _fields(buf):
        if field == 1:
            fid = v
        elif field == 2:
            tags.extend(_packed_varints(v) if wt == _WT_LEN else [v])
        elif field == 3:
            ftype = v
        elif field == 4:
            geom_cmds.extend(_packed_varints(v) if wt == _WT_LEN else [v])
    props = {keys[tags[i]]: values[tags[i + 1]] for i in range(0, len(tags) - 1, 2)}
    return {
        "id": fid,
        "type": ftype,
        "geometry": decode_geometry(geom_cmds, ftype),
        "props": props,
    }


def _decode_layer(buf: bytes) -> dict:
    name, extent, version = "", 4096, 1
    keys: list[str] = []
    values: list = []
    feat_bufs: list[bytes] = []
    for field, wt, v in _fields(buf):
        if field == 15:
            version = v
        elif field == 1:
            name = v.decode("utf-8")
        elif field == 2:
            feat_bufs.append(v)
        elif field == 3:
            keys.append(v.decode("utf-8"))
        elif field == 4:
            values.append(_decode_value(v))
        elif field == 5:
            extent = v
    feats = [_decode_feature(fb, keys, values) for fb in feat_bufs]
    return {"name": name, "extent": extent, "version": version, "features": feats}


def decode_mvt(blob: bytes) -> list[dict]:
    """Decode a real MVT protobuf tile -> the engine's layer model."""
    import gzip

    if blob[:2] == b"\x1f\x8b":
        blob = gzip.decompress(blob)
    layers = []
    for field, wt, v in _fields(blob):
        if field == 3 and wt == _WT_LEN:
            layers.append(_decode_layer(v))
    return layers


def encode_mvt(layers: list[dict]) -> bytes:
    """Encode the engine's layer model -> real MVT protobuf bytes.

    Keys/values are interned per layer in first-appearance order
    (layer.rs:127's BTreeMap equivalent, but order-preserving so a
    decode->encode of our own output is byte-stable)."""
    out = bytearray()
    for layer in layers:
        lbuf = bytearray()
        _tag(lbuf, 15, _WT_VARINT)
        _uvarint(lbuf, int(layer.get("version", 2)))
        _len_field(lbuf, 1, layer["name"].encode("utf-8"))
        keys: dict[str, int] = {}
        values: dict[tuple, int] = {}
        feat_bufs = []
        for f in layer["features"]:
            fbuf = bytearray()
            _tag(fbuf, 1, _WT_VARINT)
            _uvarint(fbuf, int(f.get("id", 0)))
            tags = bytearray()
            for k, v in f.get("props", {}).items():
                ki = keys.setdefault(k, len(keys))
                vk = (type(v).__name__, v)
                vi = values.setdefault(vk, len(values))
                _uvarint(tags, ki)
                _uvarint(tags, vi)
            if tags:
                _len_field(fbuf, 2, bytes(tags))
            _tag(fbuf, 3, _WT_VARINT)
            _uvarint(fbuf, int(f["type"]))
            geom = bytearray()
            for c in encode_geometry(f["geometry"], f["type"]):
                _uvarint(geom, c)
            _len_field(fbuf, 4, bytes(geom))
            feat_bufs.append(bytes(fbuf))
        for fb in feat_bufs:
            _len_field(lbuf, 2, fb)
        for k in keys:
            _len_field(lbuf, 3, k.encode("utf-8"))
        for (_, v) in values:
            _len_field(lbuf, 4, _encode_value(v))
        _tag(lbuf, 5, _WT_VARINT)
        _uvarint(lbuf, int(layer.get("extent", 4096)))
        _len_field(out, 3, bytes(lbuf))
    return bytes(out)


def decode_tile_payload(blob: bytes) -> tuple[list[dict], str]:
    """Sniff-dispatch a vector tile payload: VTV1 (engine framing) or real
    MVT protobuf (optionally gzipped). Returns (layers, fmt)."""
    from .vector_tile import MAGIC, decode_vector_tile

    if blob[:4] == MAGIC:
        return decode_vector_tile(blob), "vtv1"
    return decode_mvt(blob), "mvt"


def encode_tile_payload(layers: list[dict], fmt: str) -> bytes:
    from .vector_tile import encode_vector_tile

    if fmt == "vtv1":
        return encode_vector_tile(layers)
    return encode_mvt(layers)
