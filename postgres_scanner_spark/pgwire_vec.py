"""Arrow-batch vectorized PGCOPY binary codec, in both directions.

`pgwire.BinaryCopyWriter` and `pgwire.BinaryCopyReader` are the
fixture-tested wire CONTRACT — per-row codecs pinned against
recorded PG frames. This module is the THROUGHPUT path: it moves
whole Arrow record batches with column-wise numpy kernels
(big-endian views, offset arithmetic, one gather/scatter per column)
instead of a Python loop with per-field struct dispatch.

- Encode (`VectorBinaryCopyWriter`, bulk spools) produces streams
  byte-identical to the scalar writer (pinned by
  tests/test_pgwire.py::test_vectorized_writer_*).
- Decode (`VectorBinaryCopyReader`, `postgres_scan` reads) produces
  RecordBatches equal to what Spark builds from the scalar reader's
  tuples (pinned by tests/test_pgwire.py::test_vector_reader_*).

The reference's codec is vectorized C++ over DuckDB vectors
(reference: src/postgres_binary_copy.cpp PostgresBinaryCopyFunction —
column-at-a-time cast + append; src/include/postgres_binary_reader.hpp
— COPY binary straight into column vectors); this is the Arrow/numpy
re-expression of the same design.

Layout per row: int16 field count, then per field int32 payload
length (-1 = NULL) + payload. Columns whose type has no numpy kernel
(decimal, interval, arrays, uuid, geometry…) go through the scalar
`pgwire` codec for THAT COLUMN only and still flow through the
vectorized assembly, so a single exotic column doesn't collapse the
batch to the per-row path.
"""

from __future__ import annotations

import struct
from typing import BinaryIO, Iterable, Iterator

import numpy as np

from . import types as pgt
from .pgwire import (
    SIGNATURE, decode_array, decode_field, encode_array, encode_field,
)

# 2000-01-01 (PG epoch) relative to the unix epoch
_PG_EPOCH_US = 946_684_800_000_000
_PG_EPOCH_DAYS = 10_957


def _words(buf: np.ndarray, dtype: str) -> np.ndarray:
    """Overlapping byte-stride view of a uint8 array: element k is
    the `dtype` word starting at byte k, so one fancy index reads or
    writes words at arbitrary (unaligned) byte offsets."""
    w = np.dtype(dtype).itemsize
    return np.ndarray(shape=(max(len(buf) - w + 1, 0),), dtype=dtype,
                      buffer=buf, strides=(1,))


def _ints(arr, pa_type):
    """Null-safe integral numpy view: cast to the integral arrow type,
    zero-fill nulls (null rows are never written — the length prefix
    is -1 — so the filler just keeps the buffer integral: a to_numpy
    on a nullable int column would round-trip through float64 and
    corrupt int64 values beyond 2^53)."""
    a = arr.cast(pa_type)
    if a.null_count:
        a = a.fill_null(0)
    return a.to_numpy(zero_copy_only=False)


def _fixed_cols(arr, oid: int):
    """(width, big-endian word array) for arrow arrays with a
    fixed-width wire image, or None if unsupported. Words come back
    as '>iW' (or uint8 for bool) so the assembly can scatter each
    field as ONE word write through an overlapping strided view."""
    import pyarrow as pa
    t = arr.type
    if oid == pgt.BOOLOID and pa.types.is_boolean(t):
        return 1, _ints(arr, pa.uint8()).astype(np.uint8)
    if oid == pgt.INT2OID and pa.types.is_int16(t):
        return 2, _ints(arr, pa.int16()).astype(">i2")
    if oid == pgt.INT4OID and pa.types.is_int32(t):
        return 4, _ints(arr, pa.int32()).astype(">i4")
    if oid in (pgt.INT8OID, pgt.OIDOID) and pa.types.is_int64(t):
        return 8, _ints(arr, pa.int64()).astype(">i8")
    if oid == pgt.FLOAT4OID and pa.types.is_float32(t):
        a = arr.fill_null(0.0) if arr.null_count else arr
        return 4, a.to_numpy(zero_copy_only=False).astype(">f4") \
            .view(">i4")
    if oid == pgt.FLOAT8OID and pa.types.is_float64(t):
        a = arr.fill_null(0.0) if arr.null_count else arr
        return 8, a.to_numpy(zero_copy_only=False).astype(">f8") \
            .view(">i8")
    if oid == pgt.DATEOID and pa.types.is_date32(t):
        days = _ints(arr, pa.int32()) - _PG_EPOCH_DAYS
        return 4, days.astype(">i4")
    if oid in (pgt.TIMESTAMPOID, pgt.TIMESTAMPTZOID) \
            and pa.types.is_timestamp(t) and t.unit == "us":
        # arrow micros are unix-epoch (tz-typed columns store UTC
        # micros, matching the scalar path's session-is-UTC contract)
        us = _ints(arr.cast(pa.timestamp("us")), pa.int64())
        return 8, (us - _PG_EPOCH_US).astype(">i8")
    return None


def _var_cols(arr, oid: int, null_byte_replacement=None):
    """(payload uint8[], starts int64[n], lens int64[n]) for arrow
    variable-width arrays whose wire image IS the arrow buffer
    (utf8 text family, bytea), or None."""
    import pyarrow as pa
    t = arr.type
    # the arrow utf8 buffer IS the wire image only for the text
    # family; uuid (16 raw bytes) and jsonb (version-prefix byte)
    # re-encode their strings, so they take the scalar fallback
    # the utf8 fast path ships raw bytes labeled with the column's
    # OID — valid ONLY for the text family, whose binary send format
    # IS the utf8 text. Any other OID paired with a string Arrow
    # column (layout bug, direct-caller misuse) must take the scalar
    # fallback, which encodes per the OID or diverges loudly.
    _TEXT_FAMILY = (pgt.TEXTOID, pgt.VARCHAROID, pgt.BPCHAROID,
                    pgt.NAMEOID, pgt.JSONOID, pgt.XMLOID, pgt.CHAROID)
    utf8 = oid in _TEXT_FAMILY and (
        pa.types.is_string(t) or pa.types.is_large_string(t))
    rawb = oid == pgt.BYTEAOID and (
        pa.types.is_binary(t) or pa.types.is_large_binary(t))
    if not (utf8 or rawb):
        return None
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odt = np.int64
    else:
        odt = np.int32
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=odt,
                        count=len(arr) + 1 + arr.offset)[arr.offset:]
    off = off.astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] else \
        np.empty(0, np.uint8)
    starts, lens = off[:-1], np.diff(off)
    if utf8 and len(off) > 1:
        # PG rejects NUL bytes in varchar: one numpy pass over JUST
        # this slice's byte range (a sliced arr's buffer is the whole
        # parent — bounding by the offsets avoids rescanning it per
        # chunk). NUL only ever encodes U+0000 in utf8. A column
        # containing one re-encodes via the scalar fallback, which
        # raises or substitutes per the policy.
        seg = data[off[0]:off[-1]]
        if seg.size and not seg.all():
            return None
    return data, starts, lens


def _fallback_col(arr, oid: int, elem_oid, ndim,
                  null_byte_replacement=None):
    """Scalar-encode one column (exotic wire types, or text columns
    carrying NUL bytes) into the same (payload, starts, lens) shape
    the vectorized assembly consumes."""
    pieces, lens = [], np.empty(len(arr), np.int64)
    for j, v in enumerate(arr.to_pylist()):
        if v is None:
            lens[j] = 0
            continue
        p = encode_array(elem_oid, v, ndim, null_byte_replacement) \
            if elem_oid is not None \
            else encode_field(oid, v, null_byte_replacement)
        pieces.append(p)
        lens[j] = len(p)
    payload = np.frombuffer(b"".join(pieces), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return payload, starts, lens


def encode_batch(batch, oids, array_elem=None, array_ndims=None,
                 null_byte_replacement=None) -> bytes:
    """One Arrow RecordBatch → PGCOPY row bytes (no header/trailer)."""
    array_elem = array_elem or {}
    array_ndims = array_ndims or {}
    n = batch.num_rows
    if n == 0:
        return b""
    ncols = batch.num_columns
    # per column: payload length per row (-1 NULL) + a writer closure
    col_lens: list[np.ndarray] = []
    col_data: list[tuple] = []          # ("fixed", mat) | ("var", ...)
    for i in range(ncols):
        arr = batch.column(i).combine_chunks() \
            if hasattr(batch.column(i), "combine_chunks") \
            else batch.column(i)
        null = np.zeros(n, dtype=bool)
        if arr.null_count:
            null = np.asarray(arr.is_null())
        kind = None
        if i not in array_elem:
            kind = _fixed_cols(arr, oids[i])
        if kind is not None:
            w, mat = kind
            lens = np.full(n, w, dtype=np.int64)
            lens[null] = -1
            col_data.append(("fixed", w, mat, ~null))
        else:
            var = None if i in array_elem else \
                _var_cols(arr, oids[i], null_byte_replacement)
            if var is None:
                var = _fallback_col(arr, oids[i],
                                    array_elem.get(i),
                                    array_ndims.get(i, 1),
                                    null_byte_replacement)
            data, starts, lens = var
            lens = lens.copy()
            lens[null] = -1
            col_data.append(("var", data, starts, ~null))
        col_lens.append(lens)
    # row/field offsets
    pay = [np.maximum(L, 0) for L in col_lens]
    row_len = np.full(n, 2 + 4 * ncols, dtype=np.int64)
    for p in pay:
        row_len += p
    row_off = np.concatenate(([0], np.cumsum(row_len)))
    total = int(row_off[-1])
    out = np.empty(total, dtype=np.uint8)

    # ONE fancy-indexed write per 2/4/8-byte field at arbitrary byte
    # offsets (distinct rows' fields never overlap)
    o16, o32, o64 = _words(out, ">i2"), _words(out, ">i4"), \
        _words(out, ">i8")
    o16[row_off[:-1]] = ncols           # int16 field count per row
    cur = row_off[:-1] + 2
    for i in range(ncols):
        lens = col_lens[i]
        spec = col_data[i]
        if spec[0] == "fixed":
            _, w, words, nn = spec
            if nn.all():
                o32[cur] = w            # constant length prefix
                dst = cur + 4
            else:
                o32[cur] = lens         # -1 on the null rows
                dst = cur[nn] + 4
                words = words[nn]
            if dst.size:
                if w == 8:
                    o64[dst] = words
                elif w == 4:
                    o32[dst] = words
                elif w == 2:
                    o16[dst] = words
                else:
                    out[dst] = words
        else:
            o32[cur] = lens
            _, data, starts, nn = spec
            seg = pay[i][nn]
            if seg.size and seg.sum():
                pstart = cur + 4
                dst = np.repeat(pstart[nn], seg)
                seg0 = np.concatenate(([0], np.cumsum(seg)[:-1]))
                intra = np.arange(seg.sum()) - np.repeat(seg0, seg)
                src = np.repeat(starts[nn], seg) + intra
                out[dst + intra] = data[src]
        cur = cur + 4 + pay[i]
    return out.tobytes()


class VectorBinaryCopyWriter:
    """Drop-in bulk counterpart of pgwire.BinaryCopyWriter: same
    constructor, but consumes Arrow record batches. Oversized batches
    are encoded in _CHUNK-row slices: the scatter-assembly working
    set then stays cache-resident (measured ~25% faster at 1M rows
    than single-slab encoding, and far steadier — no 100MB temp
    churn)."""

    _CHUNK = 65_536

    def __init__(self, oids, array_elem_oids=None, array_ndims=None,
                 null_byte_replacement=None):
        self.oids = list(oids)
        self.array_elem = array_elem_oids or {}
        self.array_ndims = array_ndims or {}
        self.null_byte_replacement = null_byte_replacement

    def write_batches(self, out: BinaryIO, batches: Iterable) -> int:
        out.write(SIGNATURE)
        out.write(struct.pack("!II", 0, 0))
        n = 0
        for b in batches:
            if b.num_columns != len(self.oids):
                raise ValueError(
                    f"batch has {b.num_columns} columns, schema has "
                    f"{len(self.oids)}")
            for s in range(0, b.num_rows, self._CHUNK):
                out.write(encode_batch(
                    b.slice(s, self._CHUNK), self.oids,
                    self.array_elem, self.array_ndims,
                    self.null_byte_replacement))
            n += b.num_rows
        out.write(struct.pack("!h", -1))
        return n


# ------------------------------------------------------------------ decode
# Rows are decoded ~1 MiB at a time: each block becomes one
# RecordBatch, so a task's working set is bounded by construction.
# Larger blocks buy little speed for a lot of worker RSS.
BLOCK_BYTES = 1 << 20

_ROW = struct.Struct("!h")
_LEN = struct.Struct("!i")

# unix-epoch day / microsecond images of Python's date and datetime
# range ends: the scalar reader maps PG's ±infinity sentinels to them
_DAY_MIN, _DAY_MAX = -719_162, 2_932_896
_US_MIN, _US_MAX = -62_135_596_800_000_000, 253_402_300_799_999_999
_PG_DAY_INF, _PG_DAY_NINF = 0x7FFFFFFF, -0x80000000
_PG_US_INF, _PG_US_NINF = 0x7FFFFFFFFFFFFFFF, -0x8000000000000000

_TEXT_DECODE = (pgt.TEXTOID, pgt.VARCHAROID, pgt.BPCHAROID, pgt.NAMEOID)


# send formats that are one fixed-width word: OID -> (width,
# big-endian dtype)
_FIXED_WIRE = {
    pgt.BOOLOID: (1, "u1"), pgt.INT2OID: (2, ">i2"),
    pgt.INT4OID: (4, ">i4"), pgt.INT8OID: (8, ">i8"),
    pgt.FLOAT4OID: (4, ">f4"), pgt.FLOAT8OID: (8, ">f8"),
    pgt.DATEOID: (4, ">i4"), pgt.TIMESTAMPOID: (8, ">i8"),
    pgt.TIMESTAMPTZOID: (8, ">i8"),
}


def _column_kind(oid: int, t, is_array: bool):
    """How a column decodes: "var" (text family / bytea: offsets plus
    a byte gather), "fixed" (one word the arrow type `t` holds a cast
    or epoch shift away) or None (the scalar codec, per value)."""
    import pyarrow as pa
    if is_array:
        return None
    if oid in _TEXT_DECODE and t == pa.string() \
            or oid == pgt.BYTEAOID and t == pa.binary():
        return "var"
    holds = {
        pgt.BOOLOID: (pa.bool_(),),
        pgt.INT2OID: (pa.int16(), pa.int8()),
        pgt.INT4OID: (pa.int32(),),
        pgt.INT8OID: (pa.int64(),),
        pgt.FLOAT4OID: (pa.float32(),),
        pgt.FLOAT8OID: (pa.float64(),),
        pgt.DATEOID: (pa.date32(),),
        pgt.TIMESTAMPOID: (pa.timestamp("us"),),
        pgt.TIMESTAMPTZOID: (pa.timestamp("us", tz="UTC"),),
    }
    return "fixed" if t in holds.get(oid, ()) else None


def _hop_plan(widths: list) -> list:
    """The row walk's steps: None hops one field by its length word;
    (unpack, widths, size, k) covers a run of k fixed-width columns
    with ONE unpack of their length words, which equal `widths` when
    none is NULL (else the run is hopped field by field)."""
    plan, run = [], []
    for w in widths + [None]:               # a None ends the last run
        if w is not None:
            run.append(w)
            continue
        if len(run) > 1:
            fmt = "!" + "".join(f"i{x}x" for x in run)
            plan.append((struct.Struct(fmt).unpack_from, tuple(run),
                         4 * len(run) + sum(run), len(run)))
        else:
            plan.extend([None] * len(run))
        run = []
        plan.append(None)                   # this column's own hop
    return plan[:-1]                        # less the end marker's


def _epoch_shift(v: np.ndarray, inf: int, ninf: int, lo: int, hi: int,
                 shift: int):
    """PG-epoch values → unix-epoch values, ±infinity → the scalar
    reader's clamps (lo/hi). None when a finite value lies outside
    Python's range: the scalar path raises there, so the column takes
    it."""
    pinf, ninf_ = v == inf, v == ninf
    finite = v[~(pinf | ninf_)]
    if finite.size and (finite.min() < lo - shift
                        or finite.max() > hi - shift):
        return None
    out = v.astype(np.int64) + shift
    out[pinf] = hi
    out[ninf_] = lo
    return out


class VectorBinaryCopyReader:
    """Decode one PGCOPY stream, given as an iterator of byte chunks
    (COPY data messages, split anywhere), into RecordBatches typed
    exactly `to_arrow_schema(schema)` — the Arrow Spark would build
    from `pgwire.BinaryCopyReader`'s tuples, built column-wise.

    Per block of ~BLOCK_BYTES whole rows, one Python loop over the
    field-length words finds the row starts; everything else is one
    numpy gather per column. bool/int/float/date/timestamp columns
    are big-endian views cast to native; text and bytea are offsets
    plus a byte gather. Any other column — or a fixed-width column
    whose lengths don't match its type — decodes through the scalar
    `decode_field`/`decode_array` and Spark's own per-value
    converter, for that column only."""

    def __init__(self, schema, oids, array_cols=None):
        from pyspark.sql.conversion import LocalDataToArrowConversion
        from pyspark.sql.pandas.types import to_arrow_schema
        self.oids = list(oids)
        self.array_cols = array_cols or set()
        self.schema = to_arrow_schema(schema)
        self._convert = [
            LocalDataToArrowConversion._create_converter(f.dataType)
            for f in schema.fields]
        self._kinds = [
            _column_kind(oid, f.type, i in self.array_cols)
            for i, (oid, f) in enumerate(zip(self.oids, self.schema))]
        self._hops = _hop_plan([
            None if i in self.array_cols
            else _FIXED_WIRE.get(oid, (None,))[0]
            for i, oid in enumerate(self.oids)])

    # -- framing
    def read(self, chunks: Iterable) -> Iterator:
        parts, size, need, pos = [], 0, BLOCK_BYTES, None
        it = iter(chunks)
        while True:
            chunk = next(it, None)
            final = chunk is None
            if not final:
                parts.append(chunk)
                size += len(chunk)
                if size < need:
                    continue
            block = b"".join(parts)
            if pos is None:
                pos = self._header(block, final)
                if pos is None:             # header spans more chunks
                    parts, need = [block], 2 * size
                    continue
            starts, pos, done = self._row_starts(block, pos)
            if starts:
                yield self._batch(block, starts)
            if done:
                return
            if final:
                raise ValueError("truncated PGCOPY stream")
            # the unfinished row starts the next block; a row larger
            # than a block doubles the target, so re-joining it stays
            # linear in its size
            parts, pos = [block[pos:]], 0
            size = len(parts[0])
            need = max(BLOCK_BYTES, 2 * size)

    @staticmethod
    def _header(block: bytes, final: bool):
        """Offset of the first tuple, or None if the header is not
        all here yet."""
        n = len(SIGNATURE)
        if len(block) >= n and block[:n] != SIGNATURE:
            raise ValueError("not a PGCOPY binary stream (bad signature)")
        end = n + 8
        if len(block) >= end:
            _flags, ext = struct.unpack_from("!II", block, n)
            end += ext                      # skip header extension
        if len(block) >= end:
            return end
        if final:
            raise ValueError("truncated PGCOPY stream")
        return None

    def _row_starts(self, block: bytes, pos: int):
        """(starts of the whole rows from `pos`, offset past them,
        trailer seen) — the one per-row loop of the decoder."""
        ncols, starts, hops = len(self.oids), [], self._hops
        row, field, end = _ROW.unpack_from, _LEN.unpack_from, len(block)
        try:
            while True:
                (nfields,) = row(block, pos)
                if nfields != ncols:
                    if nfields == -1:
                        return starts, pos + 2, True
                    raise ValueError(
                        f"tuple has {nfields} fields, expected {ncols}")
                q = pos + 2
                for hop in hops:
                    if hop is None:
                        (ln,) = field(block, q)
                        q += 4 + ln if ln > 0 else 4
                        continue
                    unpack, widths, size, k = hop
                    try:
                        if unpack(block, q) == widths:
                            q += size
                            continue
                    except struct.error:        # NULLs near the end
                        pass
                    for _ in range(k):
                        (ln,) = field(block, q)
                        q += 4 + ln if ln > 0 else 4
                if q > end:
                    break
                starts.append(pos)
                pos = q
        except struct.error:                # row continues in the next block
            pass
        return starts, pos, False

    # -- columns
    def _batch(self, block: bytes, starts: list):
        import pyarrow as pa
        buf = np.frombuffer(block, dtype=np.uint8)
        lens32 = _words(buf, ">i4")
        pos = np.asarray(starts, dtype=np.int64) + 2
        cols = []
        for i, oid in enumerate(self.oids):
            ln = lens32[pos].astype(np.int64)
            if (ln < -1).any():
                raise ValueError("corrupt PGCOPY stream: negative "
                                 "field length")
            null = ln == -1
            at = pos + 4
            t = self.schema.field(i).type
            col = None
            if self._kinds[i] == "var":
                col = self._var(buf, at, ln, null, t)
            elif self._kinds[i] == "fixed":
                col = self._fixed(buf, at, ln, null, oid, t,
                                  *_FIXED_WIRE[oid])
            if col is None:
                col = self._fallback(i, block, at, ln, null, t)
            cols.append(col)
            pos = at + np.maximum(ln, 0)
        return pa.RecordBatch.from_arrays(cols, schema=self.schema)

    @staticmethod
    def _fixed(buf, at, ln, null, oid, t, width, dtype):
        import pyarrow as pa
        nn = ~null
        if (ln[nn] != width).any():
            return None                     # the scalar path decides
        vals = np.zeros(len(at), dtype=np.dtype(dtype).newbyteorder("="))
        src = at[nn]
        if src.size:
            vals[nn] = buf[src] if width == 1 else _words(buf, dtype)[src]
        if oid == pgt.BOOLOID:
            vals = vals != 0
        elif oid == pgt.DATEOID:
            vals = _epoch_shift(vals, _PG_DAY_INF, _PG_DAY_NINF,
                                _DAY_MIN, _DAY_MAX, _PG_EPOCH_DAYS)
            if vals is None:
                return None
            vals = vals.astype(np.int32)
        elif oid in (pgt.TIMESTAMPOID, pgt.TIMESTAMPTZOID):
            vals = _epoch_shift(vals, _PG_US_INF, _PG_US_NINF,
                                _US_MIN, _US_MAX, _PG_EPOCH_US)
            if vals is None:
                return None
        arr = pa.array(vals, mask=null if null.any() else None)
        if arr.type == t:
            return arr
        if pa.types.is_integer(t):          # int2 wire → ByteType
            return arr.cast(t)              # raises on overflow
        return arr.view(t)

    @staticmethod
    def _var(buf, at, ln, null, t):
        import pyarrow as pa
        n = len(at)
        lens = np.where(null, 0, ln)
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lens, out=offsets[1:])
        total = int(offsets[-1])
        src = np.repeat(at - offsets[:-1], lens) + np.arange(total)
        data = buf[src]
        nulls = int(null.sum())
        valid = pa.array(~null).buffers()[1] if nulls else None
        arr = pa.Array.from_buffers(
            t, n, [valid, pa.py_buffer(offsets), pa.py_buffer(data)],
            null_count=nulls)
        if t == pa.string():
            arr.validate(full=True)         # invalid UTF-8 raises
        return arr

    def _fallback(self, i, block, at, ln, null, t):
        import pyarrow as pa
        conv = self._convert[i]
        oid = self.oids[i]
        arrays = i in self.array_cols
        vals = []
        for a, n, isnull in zip(at.tolist(), ln.tolist(), null.tolist()):
            if isnull:
                vals.append(None)
                continue
            b = block[a:a + n]
            vals.append(conv(decode_array(b) if arrays
                             else decode_field(oid, b)))
        return pa.array(vals, type=t)
