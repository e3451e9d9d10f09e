"""Minimal Avro OCF reader (pure Python) — the inverse of writer.py.

Used by tests to round-trip exported files and by `read_avro` to load
Avro exports back into Spark (distributed: one task per file).
Decodes the writer's output surface — primitive types, arrays and
["null", T] unions — under every codec; the container itself (header,
blocks, codecs) is read through ocf.py, which the writer shares.
"""

from __future__ import annotations

import io
import json
import struct

from dbeam_spark.avro.ocf import blocks, read_bytes, read_header, read_long, unwrap
from dbeam_spark.avro.ocf import codec as make_codec


def _make_decoder(avro_type):
    if isinstance(avro_type, list):  # union — assume ["null", T]
        inner = _make_decoder(avro_type[1])
        return lambda buf: None if read_long(buf) == 0 else inner(buf)
    t, _ = unwrap(avro_type)
    if isinstance(t, dict) and t.get("type") == "array":
        item = _make_decoder(t["items"])

        def dec_array(buf):
            out = []
            while True:
                n = read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    read_long(buf)  # block byte size, unused
                    n = -n
                out.extend(item(buf) for _ in range(n))

        return dec_array
    if t in ("long", "int"):
        return read_long
    if t == "double":
        return lambda buf: struct.unpack("<d", buf.read(8))[0]
    if t == "float":
        return lambda buf: struct.unpack("<f", buf.read(4))[0]
    if t == "boolean":
        return lambda buf: buf.read(1) == b"\x01"
    if t == "bytes":
        return read_bytes
    if t == "string":
        return lambda buf: read_bytes(buf).decode("utf-8")
    raise ValueError(f"Unsupported Avro type: {avro_type!r}")


def _plain_type(t):
    t, _ = unwrap(t)
    return "array" if isinstance(t, dict) else t


# Avro spec schema-resolution promotions (writer type → allowed
# reader types, with the python-side converter applied post-decode)
_PROMOTIONS = {
    ("int", "long"): None,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): None,  # python float already
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: v.decode("utf-8"),
}


def _promoted(dec, conv):
    def promote(buf):
        v = dec(buf)
        return None if v is None else conv(v)

    return promote


def _resolve(writer_fields: list, reader_fields: list | None):
    """Avro schema resolution (spec §Schema Resolution): match fields
    by name; writer-only fields are decoded and DISCARDED (their bytes
    must still be consumed); reader-only fields take their declared
    default (error if none — exactly the spec's failure mode); matched
    fields decode with the WRITER type and promote to the reader type
    where the spec allows. Returns one decoder per writer field and
    the function from their decoded values to the reader's row; with
    no reader fields, the row is the writer's."""
    decoders = [_make_decoder(f["type"]) for f in writer_fields]
    if reader_fields is None:
        return decoders, tuple
    index = {f["name"]: i for i, f in enumerate(writer_fields)}
    take = []  # per reader field: (writer index, None) or (None, default)
    for rf in reader_fields:
        i = index.get(rf["name"])
        if i is None:
            if "default" not in rf:
                raise ValueError(
                    f"reader field {rf['name']!r} absent from writer "
                    "schema and has no default"
                )
            take.append((None, rf["default"]))
            continue
        wt, rt = _plain_type(writer_fields[i]["type"]), _plain_type(rf["type"])
        if wt != rt:
            if (wt, rt) not in _PROMOTIONS:
                raise ValueError(
                    f"cannot resolve field {rf['name']!r}: "
                    f"writer {wt} → reader {rt}"
                )
            if _PROMOTIONS[(wt, rt)] is not None:
                decoders[i] = _promoted(decoders[i], _PROMOTIONS[(wt, rt)])
        take.append((i, None))
    return decoders, lambda vals: tuple(
        d if i is None else vals[i] for i, d in take
    )


def read_avro_file(
    path: str, reader_schema: dict | None = None
) -> tuple[dict, list[tuple]]:
    """Read one OCF file → (schema, rows).

    With ``reader_schema``, rows are returned in the READER's shape
    under the Avro spec's schema-resolution rules — new fields fill
    from their defaults, dropped fields are skipped, and the spec's
    numeric/string promotions apply (the contract that lets a consumer
    evolve its schema while reading years of old exports; reference
    dbeam consumers rely on the same Java Avro behavior)."""
    rows: list[tuple] = []
    with open(path, "rb") as fh:
        meta, sync = read_header(fh)
        schema = json.loads(meta["avro.schema"])
        codec = make_codec(meta.get("avro.codec", b"null").decode())
        decoders, row = _resolve(
            schema["fields"],
            None if reader_schema is None else reader_schema["fields"],
        )
        for count, payload in blocks(fh, sync):
            block = io.BytesIO(codec.decompress(payload))
            for _ in range(count):
                rows.append(row([d(block) for d in decoders]))
    return (reader_schema if reader_schema is not None else schema), rows


def read_avro_schema(path: str) -> dict:
    """The writer schema of one OCF file, from its header alone."""
    with open(path, "rb") as fh:
        meta, _ = read_header(fh)
    return json.loads(meta["avro.schema"])


def count_ocf_rows(path: str) -> int:
    """Row count from BLOCK HEADERS only — each OCF block leads with
    (row count, byte size) varints, so counting seeks over every
    payload byte (no read, no decompression, no decoding). Used by
    resumable exports to credit already-landed files into the metrics
    at ~disk-seek cost. Raises on a malformed/truncated container, so
    a partial file (impossible under the writer's tmp+rename protocol,
    but cheap to defend against) is never silently counted."""
    with open(path, "rb") as fh:
        _, sync = read_header(fh)
        return sum(count for count, _ in blocks(fh, sync, skip=True))
