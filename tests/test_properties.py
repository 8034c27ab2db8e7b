"""Property-based tests (hypothesis): the Avro encoder round-trips
arbitrary values and the split-range generator preserves coverage
invariants for any bounds."""

from __future__ import annotations

from hypothesis import given, settings
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


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            _longs,
            st.one_of(
                st.none(),
                st.floats(allow_infinity=False, width=64),  # NaN allowed
            ),
            _strings,
            _bools,
            _blobs,
        ),
        min_size=1,
        max_size=60,
    ),
)
def test_arrow_encoder_matches_scalar(rows):
    """encode_batch (Arrow-buffer fast path) must be byte-identical to
    the scalar encode_rows for longs/doubles/strings/bools/binary,
    including None, real NaN doubles (validity bitmap distinguishes
    NULL from NaN), negative varint edges, and unicode."""
    import pyarrow as pa

    schema = spark_schema_to_avro(
        T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("d", T.DoubleType()),
                T.StructField("s", T.StringType()),
                T.StructField("b", T.BooleanType()),
                T.StructField("e", T.BinaryType()),
            ]
        ),
        "prop",
    )
    enc = OcfEncoder(schema, "null")
    cols = list(map(list, zip(*rows)))
    scalar = b"".join(enc.encode_rows(cols))
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(cols[0], type=pa.int64()),
            pa.array(cols[1], type=pa.float64()),
            pa.array(cols[2], type=pa.string()),
            pa.array(cols[3], type=pa.bool_()),
            pa.array(cols[4], type=pa.binary()),
        ],
        names=["a", "d", "s", "b", "e"],
    )
    assert b"".join(enc.encode_batch(rb)) == scalar
    # sliced batches exercise non-zero Arrow buffer offsets (validity
    # bit offsets, offset-buffer views); block boundaries differ so
    # compare decoded rows, not bytes
    if rb.num_rows >= 2:
        import tempfile

        half = rb.num_rows // 2
        sliced = (
            enc.header()
            + b"".join(enc.encode_batch(rb.slice(0, half)))
            + b"".join(enc.encode_batch(rb.slice(half)))
        )
        with tempfile.NamedTemporaryFile(suffix=".avro") as fh:
            fh.write(sliced)
            fh.flush()
            _, got = read_avro_file(fh.name)
        want = [
            tuple(None if v is None else v for v in r) for r in rows
        ]
        for (a, d, s, b, e), (ga, gd, gs, gb, ge) in zip(want, got):
            assert ga == a and gs == s and gb == b
            assert ge == (bytes(e) if e is not None else None)
            assert gd == d or (d != d and gd != gd)  # NaN-safe


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
