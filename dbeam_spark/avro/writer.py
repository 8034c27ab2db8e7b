"""Distributed Avro Object Container File writer (pure Python).

Re-expresses reference avro/JdbcAvroIO.java Spark-first: pyspark 4.1.2
does not bundle the spark-avro datasource, so we encode Avro binary
ourselves — but where dbeam streams one ResultSet single-threaded,
here EVERY partition of the DataFrame encodes and writes its own
`part-NNNNN.avro` concurrently via mapInPandas (Arrow batches in,
(file, rows, bytes) stats out). No driver collect, no shuffle: the
write is map-only, so at 100 TB it scales with the number of
partitions exactly like Spark's built-in file sinks.

Codecs: null, deflate1-9 (stdlib zlib — dbeam's default deflate6, ref
args/JdbcAvroArgs.java), plus the spec's bzip2 and xz (stdlib bz2 /
lzma), and snappy / zstandardN via pyarrow's bundled codecs (no
native pip packages needed). Unknown codec names raise a clear
error.
"""

from __future__ import annotations

import io
import json
import os
import struct
import threading
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame

_MAGIC = b"Obj\x01"
_BLOCK_ROWS = 4096

# Guards the session-conf save/flip/restore window in write_avro
# against concurrent writers on the same SparkSession (see the
# comment at the flip site).
_SORT_CONF_LOCK = threading.Lock()

# Bumped whenever the OCF encoding path changes behavior. Consumers
# that cache exports keyed on source-data signatures (e.g. the
# avro_roundtrip_audit query) fold this in so a writer change
# invalidates their cached exports instead of silently re-validating
# output produced by the OLD writer.
WRITER_VERSION = 2


# ---------------------------------------------------------------- encoding

def _zigzag(n: int) -> bytes:
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


def _enc_bytes(b: bytes) -> bytes:
    return _zigzag(len(b)) + b


def _enc_str(s: str) -> bytes:
    return _enc_bytes(s.encode("utf-8"))


def _make_cell_encoder(avro_type):
    """Encoder for a non-null Avro type value (already normalized to
    python scalars by the column normalizer)."""
    t = avro_type
    logical = None
    if isinstance(t, dict) and "logicalType" in t:
        logical = t["logicalType"]
        t = t["type"]
    if isinstance(t, dict) and t.get("type") == "array":
        item_type = t["items"]
        nullable_items = isinstance(item_type, list)
        inner = _make_cell_encoder(
            item_type[1] if nullable_items else item_type
        )

        def enc_array(v) -> bytes:
            items = list(v)
            if not items:
                return _zigzag(0)
            buf = bytearray(_zigzag(len(items)))
            for it in items:
                if nullable_items:
                    # Arrow surfaces a NULL item in a numeric array
                    # as float NaN, not None — both mean null here
                    if it is None or (
                        isinstance(it, float) and it != it
                    ):
                        buf += _zigzag(0)
                        continue
                    buf += _zigzag(1)
                buf += inner(it)
            buf += _zigzag(0)
            return bytes(buf)

        return enc_array
    if t in ("long", "int"):
        return lambda v: _zigzag(int(v))
    if t == "double":
        return lambda v: struct.pack("<d", float(v))
    if t == "float":
        return lambda v: struct.pack("<f", float(v))
    if t == "boolean":
        return lambda v: b"\x01" if v else b"\x00"
    if t == "bytes":
        return lambda v: _enc_bytes(bytes(v))
    if t == "string":
        return lambda v: _enc_str(str(v))
    raise ValueError(f"Unsupported Avro type: {avro_type!r} (logical={logical})")


def _normalize_series(s, avro_type):
    """pandas Series → list of python scalars matching the Avro type
    (timestamps → epoch millis, like dbeam's JdbcAvroRecord)."""
    import pandas as pd

    t = avro_type
    if isinstance(t, dict) and "logicalType" in t:
        t = t["type"]
    if pd.api.types.is_datetime64_any_dtype(s.dtype):
        ms = s.astype("int64") // 1_000_000  # ns → ms
        return [None if pd.isna(v) else int(m) for v, m in zip(s, ms)]
    import datetime

    # pandas uses NaN as the missing marker for non-float columns that
    # came through Arrow; only there does NaN mean SQL NULL. For real
    # double/float columns NaN is a legitimate value — dbeam writes it
    # as an Avro double (JdbcAvroRecord reads getDouble + wasNull), so
    # pass it through instead of nulling it.
    nan_is_null = t not in ("double", "float")
    out = []
    for v in s:
        if v is None or (
            nan_is_null and isinstance(v, float) and v != v
        ):
            out.append(None)
        elif isinstance(v, datetime.datetime) and t == "long":
            out.append(int(v.timestamp() * 1000))
        elif isinstance(v, datetime.date) and t == "long":
            out.append(
                (v - datetime.date(1970, 1, 1)).days * 86_400_000
            )
        else:
            out.append(v)
    return out


def _varint_cells(vals, null):
    """Vectorized Avro union+varint cells for an int64 array.

    Returns a list of per-cell byte strings (b'\\x00' for null, else
    b'\\x02' + zigzag-varint). All arithmetic is numpy; the only
    per-cell Python work is slicing the shared output buffer."""
    import numpy as np

    z = (vals.astype(np.uint64) << np.uint64(1)) ^ (
        vals >> np.int64(63)
    ).astype(np.uint64)
    nbytes = np.ones(len(z), dtype=np.int64)
    for k in range(1, 10):
        nbytes += (z >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    cell_len = np.where(null, 1, nbytes + 1)
    ends = np.cumsum(cell_len)
    offs = ends - cell_len
    buf = np.zeros(int(ends[-1]) if len(ends) else 0, dtype=np.uint8)
    nn = ~null
    buf[offs[nn]] = 2
    for k in range(10):
        sel = nn & (nbytes > k)
        if not sel.any():
            break
        byte = (z[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[sel] > k + 1).astype(np.uint64) << np.uint64(7)
        buf[offs[sel] + 1 + k] = (byte | cont).astype(np.uint8)
    raw = buf.tobytes()
    return [raw[a:b] for a, b in zip(offs.tolist(), ends.tolist())]


def _fixed_cells(vals, null, width, dtype_code):
    """Vectorized cells for IEEE float/double columns (fixed width)."""
    import numpy as np

    n = len(vals)
    cell_len = np.where(null, 1, width + 1)
    ends = np.cumsum(cell_len)
    offs = ends - cell_len
    buf = np.zeros(int(ends[-1]) if n else 0, dtype=np.uint8)
    nn = ~null
    buf[offs[nn]] = 2
    payload = (
        np.ascontiguousarray(vals[nn])
        .astype(dtype_code)
        .view(np.uint8)
        .reshape(-1, width)
    )
    idx = offs[nn][:, None] + 1 + np.arange(width)
    buf[idx] = payload
    raw = buf.tobytes()
    return [raw[a:b] for a, b in zip(offs.tolist(), ends.tolist())]


# ------------------------------------------------------- arrow cells
#
# Cell encoders that read Arrow buffers directly (validity bitmap +
# data/offset buffers): no Arrow→pandas conversion per batch, and SQL
# NULL vs float NaN comes straight from the validity bitmap (dbeam
# writes NULL as Avro null and NaN as a real double).


def _arrow_null_mask(arr):
    """Boolean numpy array: True where the Arrow array slot is null."""
    import numpy as np

    n = len(arr)
    if arr.null_count == 0:
        return np.zeros(n, dtype=bool)
    buf = arr.buffers()[0]
    bits = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8), bitorder="little"
    )
    return bits[arr.offset:arr.offset + n] == 0


def _arrow_data(arr, dtype):
    """Zero-copy view of a fixed-width Arrow array's data buffer."""
    import numpy as np

    n = len(arr)
    return np.frombuffer(arr.buffers()[1], dtype=dtype)[
        arr.offset:arr.offset + n
    ]


def _arrow_bits(arr, buffer_index, bit_offset):
    """Unpack a bit-packed Arrow buffer (bool data) to numpy bool."""
    import numpy as np

    n = len(arr)
    bits = np.unpackbits(
        np.frombuffer(arr.buffers()[buffer_index], dtype=np.uint8),
        bitorder="little",
    )
    return bits[bit_offset:bit_offset + n] == 1


def _varlen_cells(offs, data, null):
    """Vectorized cells for var-length payloads (string/binary): union
    branch + zigzag-varint length + raw bytes, all assembled in one
    shared numpy buffer (no per-cell Python string objects)."""
    import numpy as np

    n = len(offs) - 1
    lens = np.diff(offs)
    lens = np.where(null, 0, lens)  # null slots may carry garbage offsets
    z = lens.astype(np.uint64) << np.uint64(1)  # zigzag of non-negative
    nb = np.ones(n, dtype=np.int64)
    for k in range(1, 10):
        nb += (z >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    cell_len = np.where(null, 1, 1 + nb + lens)
    ends = np.cumsum(cell_len)
    starts = ends - cell_len
    buf = np.zeros(int(ends[-1]) if n else 0, dtype=np.uint8)
    nn = ~null
    buf[starts[nn]] = 2
    for k in range(10):
        sel = nn & (nb > k)
        if not sel.any():
            break
        byte = (z[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[sel] > k + 1).astype(np.uint64) << np.uint64(7)
        buf[starts[sel] + 1 + k] = (byte | cont).astype(np.uint8)
    total_payload = int(lens.sum())
    if total_payload:
        # scatter payload bytes: for every byte of every cell, dst =
        # src + per-cell shift (one fancy-index assignment, no loop)
        src_start = offs[:-1].astype(np.int64)
        shift = starts + 1 + nb - src_start
        reps = lens
        src_idx = np.repeat(src_start, reps) + (
            np.arange(total_payload, dtype=np.int64)
            - np.repeat(np.cumsum(reps) - reps, reps)
        )
        dst_idx = src_idx + np.repeat(shift, reps)
        buf[dst_idx] = data[src_idx]
    raw = buf.tobytes()
    return [raw[a:b] for a, b in zip(starts.tolist(), ends.tolist())]


_TS_DIVISOR = {"s": None, "ms": 1, "us": 1_000, "ns": 1_000_000}


def _arrow_cells(arr, avro_type):
    """Per-cell encoded bytes for one Arrow array, or None if this
    column needs the scalar fallback path (arrays, decimals, ...)."""
    import numpy as np
    import pyarrow as pa

    t = avro_type
    if isinstance(t, dict) and "logicalType" in t:
        t = t["type"]
    at = arr.type
    if t in ("long", "int"):
        if pa.types.is_timestamp(at):
            null = _arrow_null_mask(arr)
            us = _arrow_data(arr, np.int64)
            div = _TS_DIVISOR.get(at.unit)
            if div is None:  # seconds
                ms = us * 1000
            else:
                ms = us // div
            return _varint_cells(np.where(null, 0, ms), null)
        if pa.types.is_date32(at):
            null = _arrow_null_mask(arr)
            days = _arrow_data(arr, np.int32).astype(np.int64)
            return _varint_cells(
                np.where(null, 0, days * 86_400_000), null
            )
        widths = {
            pa.int64(): np.int64, pa.int32(): np.int32,
            pa.int16(): np.int16, pa.int8(): np.int8,
        }
        dt = widths.get(at)
        if dt is not None:
            null = _arrow_null_mask(arr)
            vals = _arrow_data(arr, dt).astype(np.int64)
            return _varint_cells(np.where(null, 0, vals), null)
        return None
    if t == "double" and at == pa.float64():
        null = _arrow_null_mask(arr)
        return _fixed_cells(_arrow_data(arr, np.float64), null, 8, "<f8")
    if t == "float" and at == pa.float32():
        null = _arrow_null_mask(arr)
        return _fixed_cells(_arrow_data(arr, np.float32), null, 4, "<f4")
    if t == "boolean" and at == pa.bool_():
        null = _arrow_null_mask(arr)
        vals = _arrow_bits(arr, 1, arr.offset)
        lut = (b"\x02\x00", b"\x02\x01")
        return [
            b"\x00" if nu else lut[v]
            for nu, v in zip(null.tolist(), vals.tolist())
        ]
    if t in ("string", "bytes") and (
        pa.types.is_string(at) or pa.types.is_large_string(at)
        or pa.types.is_binary(at) or pa.types.is_large_binary(at)
    ):
        null = _arrow_null_mask(arr)
        odt = (
            np.int64
            if pa.types.is_large_string(at) or pa.types.is_large_binary(at)
            else np.int32
        )
        n = len(arr)
        offs = np.frombuffer(arr.buffers()[1], dtype=odt)[
            arr.offset:arr.offset + n + 1
        ].astype(np.int64)
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        return _varlen_cells(offs, data, null)
    return None


def _codec_compress(codec: str):
    if codec in (None, "", "null"):
        return "null", lambda b: b
    if codec.startswith("deflate"):
        level = int(codec[len("deflate"):] or 6)
        # Avro deflate blocks are raw-deflate (no zlib header)
        def compress(b: bytes) -> bytes:
            c = zlib.compressobj(level, zlib.DEFLATED, -15)
            return c.compress(b) + c.flush()

        return "deflate", compress
    if codec == "bzip2":
        import bz2

        return "bzip2", bz2.compress
    if codec == "xz":
        import lzma

        # Avro xz codec = raw .xz container (spec 1.11)
        return "xz", lzma.compress
    if codec == "snappy":
        # Spec: raw-snappy block + 4-byte big-endian CRC32 of the
        # UNCOMPRESSED data. pyarrow bundles snappy (no pip needed).
        import pyarrow as pa

        c = pa.Codec("snappy")

        def compress(b: bytes) -> bytes:
            return c.compress(b, asbytes=True) + struct.pack(
                ">I", zlib.crc32(b) & 0xFFFFFFFF
            )

        return "snappy", compress
    if codec.startswith("zstandard"):
        # zstandardN like deflateN; Avro/zstd default level is 3.
        import pyarrow as pa

        level = int(codec[len("zstandard"):] or 3)
        c = pa.Codec("zstd", compression_level=level)
        return "zstandard", lambda b: c.compress(b, asbytes=True)
    raise ValueError(f"Unsupported avro codec: {codec}")


class OcfEncoder:
    """Streaming OCF encoder for one output file."""

    def __init__(self, avro_schema: dict, codec: str = "deflate6") -> None:
        self.schema = avro_schema
        codec_name, self._compress = _codec_compress(codec)
        self._codec_name = codec_name
        # deterministic per-schema sync marker (content-derived, so
        # retried partitions produce identical files)
        import hashlib

        self.sync = hashlib.md5(
            json.dumps(avro_schema, sort_keys=True).encode()
        ).digest()
        self._field_types = [
            f["type"][1] if isinstance(f["type"], list) else f["type"]
            for f in avro_schema["fields"]
        ]
        self._encoders = [_make_cell_encoder(t) for t in self._field_types]

    def header(self) -> bytes:
        meta = {
            "avro.schema": json.dumps(self.schema).encode(),
            "avro.codec": self._codec_name.encode(),
        }
        buf = bytearray(_MAGIC)
        buf += _zigzag(len(meta))
        for k, v in meta.items():
            buf += _enc_str(k) + _enc_bytes(v)
        buf += _zigzag(0)
        buf += self.sync
        return bytes(buf)

    def encode_batch(self, rb) -> Iterator[bytes]:
        """Yield OCF blocks straight from an Arrow RecordBatch.

        Cells are built from Arrow buffers (validity bitmap +
        data/offset arrays) with no pandas conversion and no per-cell
        Python objects for fixed-width and string/binary columns; rows
        are assembled with one C-level join per block. Columns the
        Arrow vectorizer doesn't cover (arrays, decimals) fall back to
        the scalar encoder per column — semantics identical."""
        from itertools import chain

        idx = {n: i for i, n in enumerate(rb.schema.names)}
        cols = []
        for f, t, enc in zip(
            self.schema["fields"], self._field_types, self._encoders
        ):
            arr = rb.column(idx[f["columnName"]])
            cells = _arrow_cells(arr, t)
            if cells is None:  # scalar fallback for this column only
                import pandas as pd

                cells = [
                    b"\x00" if v is None else b"\x02" + enc(v)
                    for v in _normalize_series(pd.Series(arr.to_pandas()), t)
                ]
            cols.append(cells)
        n = rb.num_rows
        for start in range(0, n, _BLOCK_ROWS):
            end = min(start + _BLOCK_ROWS, n)
            block = b"".join(
                chain.from_iterable(
                    zip(*(c[start:end] for c in cols))
                )
            )
            data = self._compress(block)
            yield _zigzag(end - start) + _zigzag(len(data)) + data + self.sync

    def encode_rows(self, columns: list[list]) -> Iterator[bytes]:
        """Yield OCF blocks for rows given as normalized columns."""
        n = len(columns[0]) if columns else 0
        encs = self._encoders
        for start in range(0, n, _BLOCK_ROWS):
            end = min(start + _BLOCK_ROWS, n)
            block = bytearray()
            for i in range(start, end):
                for col, enc in zip(columns, encs):
                    v = col[i]
                    if v is None:
                        block += b"\x00"  # union branch 0 = null
                    else:
                        block += b"\x02"  # union branch 1 (zigzag(1))
                        block += enc(v)
            data = self._compress(bytes(block))
            yield _zigzag(end - start) + _zigzag(len(data)) + data + self.sync


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

        pid = TaskContext.get().partitionId()
        schema = json.loads(schema_json)
        path = os.path.join(output_dir, f"{filename_prefix}-{pid:05d}.avro")
        if resume and os.path.exists(path):
            from dbeam_spark.avro.reader import count_ocf_rows

            # drain the iterator without encoding (the task must still
            # consume its input), then credit the landed file
            for _ in batches:
                pass
            yield stat(path, count_ocf_rows(path), file_crc32(path), True)
            return
        enc = OcfEncoder(schema, codec)
        rows = 0
        crc = 0
        tmp = path + ".tmp"
        with open(tmp, "wb") as fh:
            hdr = enc.header()
            fh.write(hdr)
            crc = zlib.crc32(hdr, crc)
            for rb in batches:
                for block in enc.encode_batch(rb):
                    fh.write(block)
                    crc = zlib.crc32(block, crc)
                rows += rb.num_rows
        os.replace(tmp, path)
        yield stat(path, rows, crc & 0xFFFFFFFF, False)

    plan = df.mapInArrow(
        write_partition,
        "file string, rows long, bytes long, crc32 long, skipped boolean",
    )
    # Round-robin repartitions upstream of the writer normally SORT
    # the whole input partition first (sortBeforeRepartition=true) to
    # canonicalize the row->partition assignment under task retries.
    # For a one-shot export that sort is pure overhead — Spark marks
    # the unsorted exchange indeterminate and recomputes the whole
    # stage on a fetch failure, which is the right trade for an
    # export (a serial 600k-row sort costs ~0.5s per single-split
    # input; a retry is rare). resume=True keeps the sort: its
    # crash-recovery contract needs run-to-run assignment determinism
    # even for sources that return rows in arbitrary order (JDBC).
    # The flip is a SESSION-wide conf (Spark reads it at shuffle-
    # dependency creation, from the Dataset's session SQLConf — there
    # is no per-plan override), so two hazards exist: (a) two
    # concurrent write_avro calls racing the save/restore, guarded by
    # the module lock below; (b) an UNRELATED query on the same
    # SparkSession planned inside the window picks up the disabled
    # sort. (b) cannot be fenced from here — callers running exports
    # concurrently with other round-robin-repartitioning work on the
    # SAME session should isolate via spark.newSession() (separate
    # SQLConf, shared SparkContext) or pass resume=True (no flip).
    spark = df.sparkSession
    conf_key = "spark.sql.execution.sortBeforeRepartition"
    if resume:
        stats = plan.collect()
    else:
        with _SORT_CONF_LOCK:
            prev = spark.conf.get(conf_key, "true")
            spark.conf.set(conf_key, "false")
            try:
                stats = plan.collect()
            finally:
                spark.conf.set(conf_key, prev)
    return [r.asDict() for r in stats]


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
