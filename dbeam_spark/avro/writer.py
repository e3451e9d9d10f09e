"""Distributed Avro Object Container File writer (pure Python).

Re-expresses reference avro/JdbcAvroIO.java Spark-first: pyspark 4.1.2
does not bundle the spark-avro datasource, so we encode Avro binary
ourselves — but where dbeam streams one ResultSet single-threaded,
here EVERY partition of the DataFrame encodes and writes its own
`part-NNNNN.avro` concurrently via mapInArrow (Arrow batches in,
(file, rows, bytes) stats out). No driver collect, no shuffle: the
write is map-only, so at 100 TB it scales with the number of
partitions exactly like Spark's built-in file sinks.

Encoding is column → binary → row join. Each column of a batch
becomes one Arrow large_binary array holding every row's complete
union cell (branch byte + Avro value), built from the column's Arrow
buffers by one numpy "lengths + payload" kernel (`_cells`); one
`binary_join_element_wise` concatenates the cells into rows, and each
block of 4096 rows is a slice of the joined buffer. No Python object
exists per cell or per row. Ints, timestamps, dates, floats, doubles,
booleans, strings and bytes take this path, and so do decimals with
scale 0–6, via Arrow's decimal→string cast, whose text at those
scales is exactly Python's `str(Decimal)`. Two kinds of column take
the scalar encoders (`_make_cell_encoder`) on Arrow's own Python
values instead, into the same kind of array: arrays, which have no
flat payload, and decimals with scale above 6, where Python's
E-notation (`0E-10`) differs from Arrow's (`0.E-10`).
`OcfEncoder.encode_rows` keeps the all-scalar path as the reference
the property tests compare against.

The container — varints, header, blocks and the codecs (dbeam's
default is deflate6, ref args/JdbcAvroArgs.java) — is ocf.py's,
shared with the reader.
"""

from __future__ import annotations

import contextlib
import json
import os
import struct
import threading
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame

from dbeam_spark.avro.ocf import block, encode_bytes, encode_long, header, unwrap
from dbeam_spark.avro.ocf import codec as make_codec
from dbeam_spark.avro.reader import count_ocf_rows
from dbeam_spark.avro.schema import _avro_primitive

_BLOCK_ROWS = 4096

# Guards the session-conf save/flip/restore window of
# unsorted_round_robin against concurrent callers on one SparkSession.
_SORT_CONF_LOCK = threading.Lock()

# Bumped whenever the OCF encoding path changes behavior. Consumers
# that cache exports keyed on source-data signatures (e.g. the
# avro_roundtrip_audit query) fold this in so a writer change
# invalidates their cached exports instead of silently re-validating
# output produced by the OLD writer.
WRITER_VERSION = 2


# ---------------------------------------------------------------- encoding

def _make_cell_encoder(avro_type):
    """Encoder for a non-null value of an Avro type, given as the
    Python value the scalar path carries (timestamps and dates as
    epoch millis)."""
    t, logical = unwrap(avro_type)
    if isinstance(t, dict) and t.get("type") == "array":
        nullable_items = isinstance(t["items"], list)
        inner = _make_cell_encoder(t["items"])

        def enc_array(items) -> bytes:
            if not items:
                return encode_long(0)
            buf = bytearray(encode_long(len(items)))
            for it in items:
                if nullable_items:
                    if it is None:
                        buf += b"\x00"
                        continue
                    buf += b"\x02"
                elif it is None:
                    raise ValueError(
                        "NULL array item under a schema without nullable "
                        "items; export with --nullableArrayItems"
                    )
                buf += inner(it)
            buf += encode_long(0)
            return bytes(buf)

        return enc_array
    if t in ("long", "int"):
        return lambda v: encode_long(int(v))
    if t == "double":
        return lambda v: struct.pack("<d", float(v))
    if t == "float":
        return lambda v: struct.pack("<f", float(v))
    if t == "boolean":
        return lambda v: b"\x01" if v else b"\x00"
    if t == "bytes":
        return lambda v: encode_bytes(bytes(v))
    if t == "string":
        return lambda v: encode_bytes(str(v).encode("utf-8"))
    raise ValueError(f"Unsupported Avro type: {avro_type!r} (logical={logical})")


def _array_as_bytes(list_type):
    """--arrayMode=bytes: the cell is the Avro binary encoding of the
    array with ["null", T] items, T the Avro type of the element."""
    from pyspark.sql.pandas.types import from_arrow_type

    item = _avro_primitive(from_arrow_type(list_type.value_type), False)
    array = _make_cell_encoder({"type": "array", "items": ["null", item]})
    return lambda v: encode_bytes(array(v))


# ------------------------------------------------------- column builder


def _cells(null, varint=None, offsets=None, data=None):
    """The shared "lengths + payload" kernel: a large_binary array of
    union cells built from one offsets vector and one payload buffer.

    A null cell is b"\x00". A non-null cell i is b"\x02", then the
    zigzag varint of ``varint[i]`` (ints and timestamps: the value;
    strings and bytes: the length), then the raw payload bytes
    ``data[offsets[i]:offsets[i + 1]]`` (IEEE floats, booleans, string
    and bytes contents). Either part may be absent. All arithmetic is
    numpy over whole columns; no Python object exists per cell."""
    import numpy as np
    import pyarrow as pa

    n = len(null)
    valid = ~null
    nb = np.zeros(n, dtype=np.int64)  # varint bytes per cell
    if varint is not None and n:
        z = (varint.astype(np.uint64) << np.uint64(1)) ^ (
            varint >> np.int64(63)
        ).astype(np.uint64)
        nb[valid] = 1
        for k in range(1, 10):
            more = valid & (z >= (np.uint64(1) << np.uint64(7 * k)))
            if not more.any():
                break
            nb += more
    plen = 0
    if offsets is not None:
        raw = np.diff(offsets)
        plen = np.where(null, 0, raw)
    ends = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(1 + nb + plen, out=ends[1:])
    starts = ends[:-1]
    buf = np.empty(int(ends[-1]), dtype=np.uint8)
    buf[starts] = valid.view(np.uint8) << 1
    for k in range(int(nb.max()) if n else 0):
        sel = nb > k
        byte = ((z[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(
            np.uint8
        )
        byte |= (nb[sel] > k + 1).view(np.uint8) << 7
        buf[starts[sel] + 1 + k] = byte
    if offsets is not None:
        src = data[offsets[0]:offsets[-1]]
        if (raw[null] != 0).any():  # null slots may still carry bytes
            src = src[np.repeat(valid, raw)]
        if len(src):
            # payload positions: +1 where a cell's payload starts, -1
            # where the cell ends; the running sum marks the payload
            edge = np.zeros(len(buf) + 1, dtype=np.int8)
            edge[starts + 1 + nb] += 1
            edge[ends[1:]] -= 1
            buf[np.cumsum(edge[:-1], dtype=np.int8).view(bool)] = src
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        n,
        [None, pa.py_buffer(ends), pa.py_buffer(buf)],
    )


def _unpack_bits(buf, offset: int, n: int):
    """n bits of a little-endian Arrow bitmap, from bit ``offset``, as
    a numpy bool array."""
    import numpy as np

    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), bitorder="little")
    return bits[offset:offset + n].view(bool)


def _arrow_data(arr, dtype):
    """Zero-copy view of a fixed-width Arrow array's data buffer."""
    import numpy as np

    return np.frombuffer(arr.buffers()[1], dtype=dtype)[
        arr.offset:arr.offset + len(arr)
    ]


_TS_DIVISOR = {"s": None, "ms": 1, "us": 1_000, "ns": 1_000_000}


def _epoch_millis(arr):
    """A timestamp or date32 array's values as numpy int64 epoch
    millis (floored, like dbeam's JdbcAvroRecord; dates at midnight),
    or None for any other type. Null slots hold arbitrary values."""
    import numpy as np
    import pyarrow as pa

    at = arr.type
    if pa.types.is_timestamp(at):
        div = _TS_DIVISOR[at.unit]
        v = _arrow_data(arr, np.int64)
        return v * 1000 if div is None else v // div
    if pa.types.is_date32(at):
        return _arrow_data(arr, np.int32).astype(np.int64) * 86_400_000
    return None


def _py_values(arr) -> list:
    """The column's values for the scalar encoders: Arrow's own Python
    values, with timestamp and date array items as epoch millis."""
    import pyarrow as pa

    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        offsets = arr.offsets.to_numpy()
        items = arr.values.slice(offsets[0], offsets[-1] - offsets[0])
        millis = _epoch_millis(items)
        if millis is not None:
            items = pa.array(
                millis, mask=items.is_null().to_numpy(zero_copy_only=False)
            )
            arr = type(arr).from_arrays(
                pa.array(offsets - offsets[0]), items, mask=arr.is_null()
            )
    return arr.to_pylist()


def _arrow_column_cells(arr, t):
    """The column's union cells as a large_binary array, or None if
    this column of base Avro type ``t`` needs the scalar fallback
    (arrays, decimals with scale above 6, Arrow types that don't match
    the Avro type)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    at = arr.type
    n = len(arr)
    if arr.null_count == n:
        return _cells(np.ones(n, dtype=bool))
    null = (
        ~_unpack_bits(arr.buffers()[0], arr.offset, n)
        if arr.null_count
        else np.zeros(n, dtype=bool)
    )
    if t in ("long", "int"):
        v = _epoch_millis(arr)
        if v is None and pa.types.is_signed_integer(at):
            v = _arrow_data(arr, at.to_pandas_dtype()).astype(np.int64)
        if v is None:
            return None
        return _cells(null, varint=v)
    fixed = (
        ("double", pa.float64()), ("float", pa.float32()),
        ("boolean", pa.bool_()),
    )
    if (t, at) in fixed:
        if at == pa.bool_():  # bit-packed: one payload byte per value
            width = 1
            data = _unpack_bits(arr.buffers()[1], arr.offset, n).view(np.uint8)
        else:
            width = at.byte_width
            data = _arrow_data(arr, at.to_pandas_dtype()).view(np.uint8)
        offsets = np.arange(0, (n + 1) * width, width, dtype=np.int64)
        return _cells(null, offsets=offsets, data=data)
    if t == "string" and pa.types.is_decimal(at) and 0 <= at.scale <= 6:
        # At these scales Arrow's decimal text is exactly str(Decimal);
        # above them Python switches to E-notation and Arrow's differs.
        arr = pc.cast(arr, pa.large_string())
        at = arr.type
    if t in ("string", "bytes") and (
        pa.types.is_string(at) or pa.types.is_large_string(at)
        or pa.types.is_binary(at) or pa.types.is_large_binary(at)
    ):
        large = pa.types.is_large_string(at) or pa.types.is_large_binary(at)
        offsets = np.frombuffer(
            arr.buffers()[1], dtype=np.int64 if large else np.int32
        )[arr.offset:arr.offset + n + 1].astype(np.int64)
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        return _cells(
            null, varint=np.diff(offsets), offsets=offsets, data=data
        )
    return None


class OcfEncoder:
    """Streaming OCF encoder for one output file."""

    def __init__(self, avro_schema: dict, codec: str = "deflate6") -> None:
        self.schema = avro_schema
        self._codec = make_codec(codec)
        # deterministic per-schema sync marker (content-derived, so
        # retried partitions produce identical files)
        import hashlib

        self.sync = hashlib.md5(
            json.dumps(avro_schema, sort_keys=True).encode()
        ).digest()
        self._field_types = [
            unwrap(f["type"])[0] for f in avro_schema["fields"]
        ]
        self._encoders = [_make_cell_encoder(t) for t in self._field_types]

    def header(self) -> bytes:
        return header(self.schema, self._codec.name, self.sync)

    def encode_batch(self, rb) -> Iterator[bytes]:
        """Yield OCF blocks straight from an Arrow RecordBatch.

        Each column becomes one large_binary array of encoded union
        cells (see ``_cells``); one Arrow element-wise join turns them
        into rows, and each block of ``_BLOCK_ROWS`` rows is a slice of
        the joined data buffer. Columns the Arrow builder doesn't cover
        take the scalar encoders, one column at a time, into the same
        kind of array — the bytes are identical either way."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = rb.num_rows
        if not n:
            return
        idx = {name: i for i, name in enumerate(rb.schema.names)}
        cols = []
        for f, t, enc in zip(
            self.schema["fields"], self._field_types, self._encoders
        ):
            arr = rb.column(idx[f["columnName"]])
            cells = _arrow_column_cells(arr, t)
            if cells is None:  # scalar fallback for this column only
                if t == "bytes" and (
                    pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
                ):
                    enc = _array_as_bytes(arr.type)
                cells = pa.array(
                    [
                        b"\x00" if v is None else b"\x02" + enc(v)
                        for v in _py_values(arr)
                    ],
                    pa.large_binary(),
                )
            cols.append(cells)
        rows = pc.binary_join_element_wise(
            *cols, pa.scalar(b"", pa.large_binary())
        )
        ends = np.frombuffer(rows.buffers()[1], dtype=np.int64)
        data = rows.buffers()[2]
        for start in range(0, n, _BLOCK_ROWS):
            end = min(start + _BLOCK_ROWS, n)
            payload = data[int(ends[start]):int(ends[end])]
            yield block(end - start, self._codec.compress(payload), self.sync)

    def encode_rows(self, columns: list[list]) -> Iterator[bytes]:
        """Yield OCF blocks for rows given as normalized columns."""
        n = len(columns[0]) if columns else 0
        encs = self._encoders
        for start in range(0, n, _BLOCK_ROWS):
            end = min(start + _BLOCK_ROWS, n)
            buf = bytearray()
            for i in range(start, end):
                for col, enc in zip(columns, encs):
                    v = col[i]
                    if v is None:
                        buf += b"\x00"  # union branch 0 = null
                    else:
                        buf += b"\x02"  # union branch 1 (zigzag(1))
                        buf += enc(v)
            yield block(end - start, self._codec.compress(bytes(buf)), self.sync)


def write_avro(
    df: DataFrame,
    output_dir: str,
    avro_schema: dict,
    codec: str = "deflate6",
    filename_prefix: str = "part",
    resume: bool = False,
) -> list[dict]:
    """Write df as Avro OCF files, one per partition, in parallel.

    Returns per-file stats [{file, rows, bytes, skipped}] (collected —
    small: one row per partition).

    ``resume=True`` makes a rerun after a crash skip partitions whose
    final file already exists: the tmp-write + atomic-rename protocol
    guarantees a final-named file is COMPLETE, so the retry re-encodes
    only the missing partitions (partition→file assignment is
    deterministic for a given plan — ranged JDBC reads rebuild the
    same ranges). Skipped files are credited into the stats by
    counting block headers (no payload read)."""
    os.makedirs(output_dir, exist_ok=True)
    schema_json = json.dumps(avro_schema)

    def write_partition(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        def stat(path, rows, crc, skipped):
            return pa.RecordBatch.from_pydict(
                {
                    "file": [path],
                    "rows": [rows],
                    "bytes": [os.path.getsize(path)],
                    "crc32": [crc],
                    "skipped": [skipped],
                }
            )

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        schema = json.loads(schema_json)
        path = os.path.join(output_dir, f"{filename_prefix}-{pid:05d}.avro")
        if resume and os.path.exists(path):
            # drain the iterator without encoding (the task must still
            # consume its input), then credit the landed file
            for _ in batches:
                pass
            yield stat(path, count_ocf_rows(path), file_crc32(path), True)
            return
        enc = OcfEncoder(schema, codec)
        rows = 0
        crc = 0
        # one tmp file per attempt: a retried or speculative attempt
        # of this partition never writes into another attempt's file
        tmp = f"{path}.{ctx.attemptNumber()}.tmp"
        try:
            with open(tmp, "wb") as fh:
                hdr = enc.header()
                fh.write(hdr)
                crc = zlib.crc32(hdr, crc)
                for rb in batches:
                    for block in enc.encode_batch(rb):
                        fh.write(block)
                        crc = zlib.crc32(block, crc)
                    rows += rb.num_rows
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            raise
        os.replace(tmp, path)
        yield stat(path, rows, crc & 0xFFFFFFFF, False)

    stats = df.mapInArrow(
        write_partition,
        "file string, rows long, bytes long, crc32 long, skipped boolean",
    ).collect()
    return [r.asDict() for r in stats]


@contextlib.contextmanager
def unsorted_round_robin(spark):
    """Run the body with ``spark.sql.execution.sortBeforeRepartition``
    off, for callers that ``repartition(n)`` right before `write_avro`.

    A round-robin repartition normally SORTS each input partition first
    (sortBeforeRepartition=true) to canonicalize the row->partition
    assignment under task retries. For a one-shot export that sort is
    pure overhead (a serial 600k-row sort costs ~0.5 s per single-split
    input): Spark marks the unsorted exchange indeterminate and
    recomputes the whole stage on a fetch failure instead, and a retry
    is rare. Exports that must resume keep the sort (do not use this):
    their crash recovery needs run-to-run assignment determinism even
    for sources that return rows in arbitrary order (JDBC).

    The flag is SESSION-wide (Spark reads it at shuffle-dependency
    creation from the session SQLConf; there is no per-plan override),
    so an unrelated query planned on the same session inside the body
    also skips the sort; isolate such work via ``spark.newSession()``.
    The JDBC export has no round-robin exchange and never flips it."""
    key = "spark.sql.execution.sortBeforeRepartition"
    with _SORT_CONF_LOCK:
        prev = spark.conf.get(key, "true")
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            spark.conf.set(key, prev)


def file_crc32(path: str, chunk: int = 1 << 20) -> int:
    """Streaming CRC32 of a file (constant memory — validator-safe on
    arbitrarily large part files)."""
    crc = 0
    with open(path, "rb") as fh:
        while True:
            buf = fh.read(chunk)
            if not buf:
                break
            crc = zlib.crc32(buf, crc)
    return crc & 0xFFFFFFFF


def write_checksums(output_dir, stats: list[dict]) -> None:
    """`_CHECKSUMS.json`: CRC32, size and row count of each part file,
    from the per-file stats `write_avro` returns."""
    checksums = {
        os.path.basename(s["file"]): {
            "crc32": int(s["crc32"]),
            "bytes": int(s["bytes"]),
            "rows": int(s["rows"]),
        }
        for s in stats
    }
    with open(os.path.join(output_dir, "_CHECKSUMS.json"), "w") as fh:
        fh.write(json.dumps(checksums, indent=2, sort_keys=True) + "\n")
