"""Property-based tests (hypothesis): the Avro encoder round-trips
arbitrary values and the split-range generator preserves coverage
invariants for any bounds."""

from __future__ import annotations

import datetime
from decimal import Context, Decimal

import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from dbeam_spark.avro.reader import read_avro_file
from dbeam_spark.avro.schema import spark_schema_to_avro
from dbeam_spark.avro.writer import OcfEncoder
from dbeam_spark.query_builder import generate_ranges

_longs = st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1))
_strings = st.one_of(st.none(), st.text(max_size=80))
_doubles = st.one_of(
    st.none(), st.floats(allow_nan=False, allow_infinity=False, width=64)
)
_bools = st.one_of(st.none(), st.booleans())
_blobs = st.one_of(st.none(), st.binary(max_size=64))
_arrays = st.one_of(
    st.none(), st.lists(st.integers(-(2**31), 2**31 - 1), max_size=8)
)


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(_longs, _strings, _doubles, _bools, _blobs, _arrays),
        max_size=25,
    ),
    codec=st.sampled_from(["null", "deflate1", "deflate6"]),
)
def test_avro_roundtrip_any_values(tmp_path_factory, rows, codec):
    schema = spark_schema_to_avro(
        T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
                T.StructField("c", T.DoubleType()),
                T.StructField("d", T.BooleanType()),
                T.StructField("e", T.BinaryType()),
                T.StructField("f", T.ArrayType(T.IntegerType())),
            ]
        ),
        "t",
    )
    enc = OcfEncoder(schema, codec)
    cols = [list(c) for c in zip(*rows)] if rows else [[], [], [], [], [], []]
    p = tmp_path_factory.mktemp("avro") / "t.avro"
    p.write_bytes(enc.header() + b"".join(enc.encode_rows(cols)))
    _, got = read_avro_file(str(p))
    assert len(got) == len(rows)
    for (a, b, c, d, e, f), (ga, gb, gc, gd, ge, gf) in zip(rows, got):
        assert ga == a and gb == b and gd == d
        assert gc == c  # exact IEEE754 round-trip
        assert ge == (bytes(e) if e is not None else None)
        assert gf == f


@settings(max_examples=200, deadline=None)
@given(
    min_v=st.integers(-(2**40), 2**40),
    span=st.integers(0, 2**40),
    parallelism=st.integers(1, 64),
)
def test_generate_ranges_invariants(min_v, span, parallelism):
    max_v = min_v + span
    ranges = generate_ranges(min_v, max_v, parallelism)
    # never more splits than requested; at least one
    assert 1 <= len(ranges) <= parallelism
    # full coverage, contiguous, inclusive end
    assert ranges[0].start_incl == min_v
    assert ranges[-1].end == max_v and not ranges[-1].end_excl
    for prev, nxt in zip(ranges, ranges[1:]):
        assert prev.end == nxt.start_incl and prev.end_excl


def _decimals(scale: int, digits: int):
    return st.one_of(
        st.none(),
        st.integers(-(10**digits), 10**digits).map(
            lambda u: Decimal(u).scaleb(-scale, Context(prec=60))
        ),
    )


_DAY_MS = 86_400_000

# (name, Spark type, Arrow type, values, Arrow's Python value →
# encode_rows input)
_ARROW_COLUMNS = [
    ("a", T.LongType(), pa.int64(), _longs, None),
    ("d", T.DoubleType(), pa.float64(), st.one_of(
        st.none(), st.floats(allow_infinity=False, width=64)  # NaN too
    ), None),
    ("s", T.StringType(), pa.string(), _strings, None),
    ("b", T.BooleanType(), pa.bool_(), _bools, None),
    ("e", T.BinaryType(), pa.binary(), _blobs, None),
    ("i8", T.ByteType(), pa.int8(), st.one_of(
        st.none(), st.integers(-(2**7), 2**7 - 1)
    ), None),
    ("i16", T.ShortType(), pa.int16(), st.one_of(
        st.none(), st.integers(-(2**15), 2**15 - 1)
    ), None),
    ("i32", T.IntegerType(), pa.int32(), st.one_of(
        st.none(), st.integers(-(2**31), 2**31 - 1)
    ), None),
    ("f32", T.FloatType(), pa.float32(), st.one_of(
        st.none(), st.floats(width=32, allow_nan=False)
    ), None),
    ("dt", T.DateType(), pa.date32(), st.one_of(
        st.none(), st.integers(-700_000, 700_000)  # days, years 53–3886
    ), lambda d: (d - datetime.date(1970, 1, 1)).days * _DAY_MS),
    ("ls", T.StringType(), pa.large_string(), _strings, None),
    ("dec0", T.DecimalType(38, 0), pa.decimal128(38, 0), _decimals(0, 30), None),
    ("dec2", T.DecimalType(15, 2), pa.decimal128(15, 2), _decimals(2, 14), None),
    ("dec6", T.DecimalType(38, 6), pa.decimal128(38, 6), _decimals(6, 30), None),
    # scale 10 takes the scalar fallback: zero and values below 1e-6
    # print in E-notation there (0E-10, 5E-10)
    ("dec10", T.DecimalType(38, 10), pa.decimal128(38, 10), st.one_of(
        _decimals(10, 3), _decimals(10, 30)
    ), None),
    ("arr", T.ArrayType(T.IntegerType()), pa.list_(pa.int32()), _arrays, None),
]


def _wide_rows(n: int) -> list[tuple]:
    """Deterministic rows of every column kind, with NULLs, edge values
    and strings long enough for 2- and 3-byte varint lengths."""
    import random

    rng = random.Random(7)
    words = ["", "a", "é" * 40, "x" * 64, "ü" * 5000, "漢字" * 1400]

    rows = []
    for i in range(n):
        rows.append(tuple(None if (i + 3 * j) % 11 == 0 else v for j, v in enumerate((
            rng.randint(-(2**63), 2**63 - 1) if i % 3 else i - n // 2,
            rng.uniform(-1e300, 1e300) if i % 5 else float("nan"),
            words[i % len(words)],
            i % 2 == 0,
            bytes(range(256)) * (i % 40),  # up to 9984 bytes
            rng.randint(-128, 127),
            rng.randint(-(2**15), 2**15 - 1),
            rng.randint(-(2**31), 2**31 - 1),
            float(np.float32(rng.uniform(-1e30, 1e30))),
            rng.randint(-700_000, 700_000),
            words[(i + 3) % len(words)],
            Decimal(rng.randint(-(10**20), 10**20)),
            Decimal(rng.randint(-(10**13), 10**13)).scaleb(-2),
            Decimal(rng.randint(-(10**9), 10**9)).scaleb(-6),
            Decimal(rng.randint(-(10**(i % 25)), 10**(i % 25))).scaleb(-10),
            list(range(-(i % 5), i % 7)),
        ))))
    return rows


_ALL_NULL = tuple(None for _ in _ARROW_COLUMNS)


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(*(values for _, _, _, values, _ in _ARROW_COLUMNS)),
        max_size=60,
    ),
    cut=st.integers(0, 60),
)
@example(rows=[], cut=0)  # empty batch
@example(rows=[_ALL_NULL] * 5, cut=1)  # every column all-null
@example(rows=_wide_rows(10_000), cut=4095)  # several 4096-row blocks
def test_arrow_encoder_matches_scalar(rows, cut):
    """encode_batch (the Arrow column builder) must be byte-identical
    to the scalar encode_rows for every column kind an export carries:
    ints of every width, NaN doubles beside NULLs (the validity bitmap
    tells them apart), float32, booleans, dates, string/binary/
    large_string (unicode, multi-byte varint lengths), decimals on the
    cast path (scale 0, 2, 6), the scalar fallback (scale-10 decimals,
    arrays), all-null columns, the empty batch, and slices (non-zero
    Arrow offsets)."""
    names = [name for name, *_ in _ARROW_COLUMNS]
    schema = spark_schema_to_avro(
        T.StructType(
            [T.StructField(name, st_) for name, st_, *_ in _ARROW_COLUMNS]
        ),
        "prop",
    )
    enc = OcfEncoder(schema, "null")
    cols = (
        list(map(list, zip(*rows))) if rows else [[] for _ in _ARROW_COLUMNS]
    )
    rb = pa.RecordBatch.from_arrays(
        [pa.array(c, type=at) for c, (_, _, at, _, _) in zip(cols, _ARROW_COLUMNS)],
        names=names,
    )
    scalar = [
        [v if f is None or v is None else f(v) for v in arr.to_pylist()]
        for arr, (*_, f) in zip(rb.columns, _ARROW_COLUMNS)
    ]
    assert b"".join(enc.encode_batch(rb)) == b"".join(enc.encode_rows(scalar))
    lo = cut % (len(rows) + 1)
    hi = len(rows) - (len(rows) - lo) // 4
    assert b"".join(enc.encode_batch(rb.slice(lo, hi - lo))) == b"".join(
        enc.encode_rows([c[lo:hi] for c in scalar])
    )


@settings(max_examples=30, deadline=None)
@given(
    us=st.lists(
        st.one_of(
            st.none(),
            st.integers(-(2**55), 2**55),  # epoch micros, pre/post 1970
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_arrow_encoder_timestamp_millis(us):
    """Arrow timestamp columns encode as epoch millis identically to
    the scalar path's floor-division semantics (negative = pre-1970)."""
    import pyarrow as pa

    schema = spark_schema_to_avro(
        T.StructType([T.StructField("t", T.TimestampType())]), "prop"
    )
    enc = OcfEncoder(schema, "null")
    scalar = b"".join(
        enc.encode_rows([[None if v is None else v // 1000 for v in us]])
    )
    rb = pa.RecordBatch.from_arrays(
        [pa.array(us, type=pa.timestamp("us", tz="UTC"))], names=["t"]
    )
    assert b"".join(enc.encode_batch(rb)) == scalar


@given(
    st.lists(
        st.text(
            alphabet="ab c",  # tiny alphabet forces merges + ties
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=30, deadline=None)
def test_bpe_merge_apply_consistency(texts):
    """Property: applying learned merges never yields more tokens
    than characters(+word marks), at least one token per word, and
    the encoder is deterministic across invocations (the tie-break
    contract that makes re-tokenizing shards reproducible)."""
    import re

    from dbeam_spark.operators.tokenizer import bpe_encode_expr

    # train on a local histogram (pure-python path of bpe_train)
    words: dict[str, int] = {}
    for t in texts:
        for w in re.split(r"\s+", t.lower()):
            if w:
                words[w] = words.get(w, 0) + 1
    if not words:
        return
    hist = [(list(w) + ["</w>"], n) for w, n in sorted(words.items())]
    merges = []
    for _ in range(10):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in hist:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < 2:
            break
        merges.append((a, b, cnt))
        for syms, _ in hist:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i: i + 2] = [a + b]
                else:
                    i += 1

    part = bpe_encode_expr(merges)
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}
    )
    out1 = pd.concat(list(part(iter([pdf]))), ignore_index=True)
    out2 = pd.concat(list(part(iter([pdf]))), ignore_index=True)
    assert out1.equals(out2)  # deterministic
    for txt, n_tok in zip(texts, out1["n_bpe_tokens"]):
        ws = [w for w in re.split(r"\s+", txt.lower()) if w]
        assert n_tok >= len(ws) or not ws  # >= one token per word
        assert n_tok <= sum(len(w) + 1 for w in ws)  # <= chars + marks


@settings(max_examples=30, deadline=None)
@given(
    blob=st.binary(max_size=4096),
    chunk=st.integers(1, 512),
)
def test_file_crc32_streaming_equals_whole(tmp_path_factory, blob, chunk):
    """file_crc32 streams in chunks; any chunking must equal the
    one-shot zlib.crc32 of the full content."""
    import zlib

    from dbeam_spark.avro.writer import file_crc32

    p = tmp_path_factory.mktemp("crc") / "f.bin"
    p.write_bytes(blob)
    assert file_crc32(str(p), chunk=chunk) == (zlib.crc32(blob) & 0xFFFFFFFF)


@settings(max_examples=50, deadline=None)
@given(
    k=st.integers(2, 32),
    toks=st.lists(st.text(min_size=1, max_size=12), min_size=2, max_size=40),
)
def test_kgram_rolling_hash_kernel_is_mod_2_64(k, toks):
    """The K-gram polynomial hash wraps mod 2^64 BY DESIGN (numpy
    int64 overflow is the arithmetic, not a bug): pin both the kernel
    powers and the full windowed hash against an exact big-int
    reference so any future change to the numpy expression that
    alters the wrap semantics fails loudly here."""
    import zlib

    import numpy as np

    P = 1000003
    MASK = (1 << 64) - 1

    def to_i64(x: int) -> int:  # two's-complement int64 view
        x &= MASK
        return x - (1 << 64) if x >= (1 << 63) else x

    # the kernel construction exactly as operators/text.py builds it
    kern = np.ones(k, dtype=np.int64)
    with np.errstate(over="ignore"):
        for j in range(k - 2, -1, -1):
            kern[j] = kern[j + 1] * np.int64(P)
    for j in range(k):
        assert int(kern[j]) == to_i64(pow(P, k - 1 - j, 1 << 64))

    if len(toks) < k:
        return
    h = np.fromiter(
        (zlib.crc32(t.encode()) for t in toks),
        dtype=np.int64,
        count=len(toks),
    )
    win = np.lib.stride_tricks.sliding_window_view(h, k)
    with np.errstate(over="ignore"):
        g = (win * kern).sum(axis=1)
    for i in range(len(toks) - k + 1):
        exact = sum(
            zlib.crc32(toks[i + j].encode()) * pow(P, k - 1 - j, 1 << 64)
            for j in range(k)
        )
        assert int(g[i]) == to_i64(exact)
