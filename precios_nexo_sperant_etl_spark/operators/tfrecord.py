"""TFRecord + protobuf ``tf.train.Example`` — the de-facto interchange
format for ML training data, implemented from the public wire formats
(protobuf encoding docs; TFRecord framing from the TensorFlow docs) so
the engine can ingest/emit TFRecord shards with no TensorFlow
dependency. Beyond-reference capability (SURVEY §2.8): the reference
repo (dinatalediego/precios-nexo-sperant-etl) has no binary-container surface at all.

Pieces:
- TFRecord's masked CRC over CRC32C (Castagnoli, reflected poly
  0x82F63B78; the table-driven CRC is ``operators.bitio.crc32c``).
- TFRecord framing: len(u64 LE) | masked_crc(len) | data |
  masked_crc(data).
- A real protobuf wire-format walker (varints, 64/32-bit fields,
  length-delimited, packed repeated scalars) specialized to the
  Example schema: Example{1: Features{1: map<string, Feature>}},
  Feature{1: BytesList, 2: FloatList, 3: Int64List}, each list field 1
  repeated (floats packed as fixed32, int64s as varints).

Everything is per-record and stateless, so shards split cleanly across
executors; the Arrow seam (mapInPandas) is the same one the image/audio
codecs use.
"""

from __future__ import annotations

import struct

from .bitio import crc32c


def masked_crc(data: bytes) -> int:
    """TFRecord's masked CRC32C: rotate right 15 and add a constant,
    so CRCs stored next to data don't collide with CRCs of data."""
    c = crc32c(data)
    return ((c >> 15 | c << 17) + 0xA282EAD8) & 0xFFFFFFFF


def _varint(v: int) -> bytes:
    if v < 0:
        v &= (1 << 64) - 1                   # proto int64 two's complement
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        if pos >= len(buf):
            raise ValueError("varint overruns buffer")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            if v >= 1 << 63:                 # int64 sign wrap
                v -= 1 << 64
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _field(num: int, wire: int, payload: bytes) -> bytes:
    return _varint(num << 3 | wire) + payload


def _ld(num: int, body: bytes) -> bytes:     # length-delimited field
    return _field(num, 2, _varint(len(body)) + body)


def encode_example(features: dict) -> bytes:
    """Serialize {name: bytes | list[int] | list[float]} to a genuine
    ``tf.train.Example`` proto (bytes_list / int64_list / float_list by
    Python type; floats stored as packed fixed32 like protobuf does)."""
    entries = b""
    for name in sorted(features):
        val = features[name]
        if isinstance(val, bytes):
            feat = _ld(1, _ld(1, val))                       # BytesList
        elif all(isinstance(v, int) for v in val):
            packed = b"".join(_varint(v) for v in val)
            feat = _ld(3, _ld(1, packed))                    # Int64List
        else:
            packed = b"".join(struct.pack("<f", float(v)) for v in val)
            feat = _ld(2, _ld(1, packed))                    # FloatList
        entry = _ld(1, name.encode()) + _ld(2, feat)         # map entry
        entries += _ld(1, entry)
    return _ld(1, entries)                                   # Features


def _walk_fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        num, wire = tag >> 3, tag & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 1:
            val, pos = buf[pos:pos + 8], pos + 8
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("length-delimited field overruns")
            val, pos = buf[pos:pos + ln], pos + ln
        elif wire == 5:
            val, pos = buf[pos:pos + 4], pos + 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield num, wire, val


def decode_example(buf: bytes) -> dict:
    """Parse a ``tf.train.Example`` with the real wire-format walker.
    Returns {name: bytes | list[int] | list[float]}."""
    out: dict = {}
    for num, wire, feats in _walk_fields(buf):
        if num != 1 or wire != 2:
            continue                         # unknown field: skip, proto3
        for n2, w2, entry in _walk_fields(feats):
            if n2 != 1 or w2 != 2:
                continue
            name, feat = None, None
            for n3, w3, v3 in _walk_fields(entry):
                if n3 == 1 and w3 == 2:
                    name = v3.decode()
                elif n3 == 2 and w3 == 2:
                    feat = v3
            if name is None or feat is None:
                raise ValueError("malformed feature map entry")
            for n4, w4, v4 in _walk_fields(feat):
                if n4 == 1 and w4 == 2:      # BytesList
                    for n5, w5, v5 in _walk_fields(v4):
                        if n5 == 1 and w5 == 2:
                            out[name] = v5
                elif n4 == 3 and w4 == 2:    # Int64List
                    for n5, w5, v5 in _walk_fields(v4):
                        if n5 == 1 and w5 == 2:
                            vals, p = [], 0
                            while p < len(v5):
                                v, p = _read_varint(v5, p)
                                vals.append(v)
                            out[name] = vals
                elif n4 == 2 and w4 == 2:    # FloatList (packed fixed32)
                    for n5, w5, v5 in _walk_fields(v4):
                        if n5 == 1 and w5 == 2:
                            out[name] = [
                                struct.unpack_from("<f", v5, i)[0]
                                for i in range(0, len(v5), 4)]
    return out


def frame_records(records: list[bytes]) -> bytes:
    """TFRecord shard bytes: every record framed as
    u64le(len) | u32le(masked_crc(len)) | data | u32le(masked_crc(data))."""
    out = bytearray()
    for r in records:
        ln = struct.pack("<Q", len(r))
        out += ln + struct.pack("<I", masked_crc(ln))
        out += r + struct.pack("<I", masked_crc(r))
    return bytes(out)


def read_records(payload: bytes, verify: bool = True) -> list[bytes]:
    """Walk a TFRecord shard; with ``verify`` both CRCs are checked and
    a mismatch raises (corrupt shards must fail loudly, not feed the
    trainer garbage)."""
    out = []
    pos = 0
    while pos < len(payload):
        if pos + 12 > len(payload):
            raise ValueError("truncated TFRecord header")
        ln_bytes = payload[pos:pos + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (lcrc,) = struct.unpack("<I", payload[pos + 8:pos + 12])
        pos += 12
        if pos + ln + 4 > len(payload):
            raise ValueError("truncated TFRecord body")
        data = payload[pos:pos + ln]
        (dcrc,) = struct.unpack("<I", payload[pos + ln:pos + ln + 4])
        pos += ln + 4
        if verify:
            if masked_crc(ln_bytes) != lcrc:
                raise ValueError("TFRecord length CRC mismatch")
            if masked_crc(data) != dcrc:
                raise ValueError("TFRecord data CRC mismatch")
        out.append(data)
    return out
