"""The Avro object container file (OCF) format, in both directions.

The one home of the format the writer, the reader and the Spark
source share (spec 1.11, "Object Container Files"):

- zigzag varint longs and length-prefixed bytes;
- the header: magic ``Obj\\x01``, the metadata map (``avro.schema``,
  ``avro.codec``) and the 16-byte sync marker;
- blocks: row count, payload size, payload, sync marker;
- the codecs, each with its compress and decompress side;
- the unwrap of a field type to its base type.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Callable, Iterator
from typing import BinaryIO, NamedTuple

MAGIC = b"Obj\x01"
SYNC_SIZE = 16


def encode_long(n: int) -> bytes:
    """Avro long: zigzag + varint."""
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def encode_bytes(b: bytes) -> bytes:
    return encode_long(len(b)) + b


def read_long(fh: BinaryIO, zigzag: bool = True) -> int:
    """An Avro long (zigzag varint); with ``zigzag=False``, the plain
    unsigned varint that leads a raw snappy block."""
    shift = 0
    acc = 0
    while True:
        b = fh.read(1)[0]
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return (acc >> 1) ^ -(acc & 1) if zigzag else acc
        shift += 7


def read_bytes(fh: BinaryIO) -> bytes:
    return fh.read(read_long(fh))


def header(schema: dict, codec_name: str, sync: bytes) -> bytes:
    meta = {"avro.schema": json.dumps(schema), "avro.codec": codec_name}
    entries = b"".join(
        encode_bytes(k.encode()) + encode_bytes(v.encode()) for k, v in meta.items()
    )
    return MAGIC + encode_long(len(meta)) + entries + encode_long(0) + sync


def read_header(fh: BinaryIO) -> tuple[dict[str, bytes], bytes]:
    """(metadata map, sync marker), leaving ``fh`` at the first block."""
    if fh.read(len(MAGIC)) != MAGIC:
        raise ValueError(f"not an Avro OCF: {getattr(fh, 'name', fh)}")
    meta: dict[str, bytes] = {}
    while True:
        n = read_long(fh)
        if n == 0:
            return meta, fh.read(SYNC_SIZE)
        if n < 0:  # a negative count is followed by the block's byte size
            read_long(fh)
            n = -n
        for _ in range(n):
            key = read_bytes(fh).decode("utf-8")
            meta[key] = read_bytes(fh)


def block(count: int, payload: bytes, sync: bytes) -> bytes:
    return encode_long(count) + encode_long(len(payload)) + payload + sync


def blocks(
    fh: BinaryIO, sync: bytes, skip: bool = False
) -> Iterator[tuple[int, bytes | None]]:
    """Yield (row count, payload) for each block from ``fh``'s position
    to its end. ``skip=True`` seeks over the payloads and yields None
    in their place. Raises on a truncated block or a wrong sync
    marker, so a partial file is never taken for a whole one."""
    where = getattr(fh, "name", "stream")
    here = fh.tell()
    end = fh.seek(0, io.SEEK_END)
    fh.seek(here)
    while fh.tell() < end:
        count = read_long(fh)
        size = read_long(fh)
        if skip:
            payload = None
            truncated = fh.seek(size, io.SEEK_CUR) > end
        else:
            payload = fh.read(size)
            truncated = len(payload) < size
        if truncated:
            raise ValueError(f"truncated OCF block in {where}")
        if fh.read(SYNC_SIZE) != sync:
            raise ValueError(f"sync marker mismatch in {where}")
        yield count, payload


class Codec(NamedTuple):
    name: str  # the avro.codec metadata value
    compress: Callable[[bytes], bytes]
    decompress: Callable[[bytes], bytes]


def codec(spec: str | None) -> Codec:
    """The codec named by a writer setting (``deflate6``,
    ``zstandard3``, ``snappy``, ...) or by a file's ``avro.codec``."""
    spec = spec or "null"
    if spec == "null":
        return Codec("null", bytes, bytes)
    if spec.startswith("deflate"):
        level = int(spec[len("deflate"):] or 6)  # dbeam's default deflate6

        def deflate(b: bytes) -> bytes:  # raw deflate: no zlib header
            c = zlib.compressobj(level, zlib.DEFLATED, -15)
            return c.compress(b) + c.flush()

        return Codec("deflate", deflate, lambda b: zlib.decompress(b, -15))
    if spec == "bzip2":
        import bz2

        return Codec("bzip2", bz2.compress, bz2.decompress)
    if spec == "xz":  # each block is a whole .xz container
        import lzma

        return Codec("xz", lzma.compress, lzma.decompress)
    import pyarrow as pa  # bundles the snappy and zstd libraries

    if spec == "snappy":
        # raw snappy, which leads with the uncompressed size as a
        # varint, then the big-endian CRC32 of the uncompressed data
        snappy = pa.Codec("snappy")

        def crc(b: bytes) -> bytes:
            return struct.pack(">I", zlib.crc32(b) & 0xFFFFFFFF)

        def unsnappy(b: bytes) -> bytes:
            body = b[:-4]
            size = read_long(io.BytesIO(body), zigzag=False)
            data = snappy.decompress(body, decompressed_size=size, asbytes=True)
            if crc(data) != b[-4:]:
                raise ValueError("snappy block CRC mismatch")
            return data

        return Codec(
            "snappy", lambda b: snappy.compress(b, asbytes=True) + crc(b), unsnappy
        )
    if spec.startswith("zstandard"):
        level = int(spec[len("zstandard"):] or 3)  # Avro's default level
        zstd = pa.Codec("zstd", compression_level=level)

        def unzstd(b: bytes) -> bytes:
            # the frame may not carry its content size, so stream it
            return pa.input_stream(pa.BufferReader(b), compression="zstd").read()

        return Codec("zstandard", lambda b: zstd.compress(b, asbytes=True), unzstd)
    raise ValueError(f"Unsupported avro codec: {spec}")


def unwrap(avro_type) -> tuple[object, str | None]:
    """(base type, logicalType) of a field or array-item type:
    ``["null", T]`` becomes T, and ``{"type": X, ...}`` other than an
    array becomes X with its ``logicalType``, if any."""
    t = avro_type
    if isinstance(t, list):
        t = t[1] if t[0] == "null" else t[0]
    if isinstance(t, dict) and t.get("type") != "array":
        return t["type"], t.get("logicalType")
    return t, None
