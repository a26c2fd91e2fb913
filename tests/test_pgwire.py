"""PG COPY binary wire codec tests — fixture bytes are constructed
by hand from the public format spec (PostgreSQL docs, sql-copy
"Binary Format"), NOT via our own writer, so the reader is validated
against the wire contract rather than against itself. Round-trip
tests then pin writer ↔ reader consistency. Pure Python, no Spark.

Reference parity: src/include/postgres_binary_reader.hpp (field
decode), src/postgres_binary_copy.cpp (writer framing)."""

import io
import struct
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pytest

from postgres_scanner_spark import types as pgt
from postgres_scanner_spark.pgwire import (
    SIGNATURE, BinaryCopyReader, BinaryCopyWriter, decode_array,
    decode_field, encode_array, encode_field,
)


def _header(flags=0, ext=b""):
    return SIGNATURE + struct.pack("!II", flags, len(ext)) + ext


def _field(payload: bytes | None) -> bytes:
    if payload is None:
        return struct.pack("!i", -1)
    return struct.pack("!i", len(payload)) + payload


TRAILER = struct.pack("!h", -1)


def test_decode_fixture_stream_scalar_types():
    """A 2-row stream built field-by-field from the wire spec."""
    oids = [pgt.INT4OID, pgt.TEXTOID, pgt.FLOAT8OID, pgt.BOOLOID,
            pgt.DATEOID, pgt.NUMERICOID]
    days = date(2024, 1, 2).toordinal() - date(2000, 1, 1).toordinal()
    row1 = (struct.pack("!h", 6)
            + _field(struct.pack("!i", 42))
            + _field(b"hi")
            + _field(struct.pack("!d", 1.5))
            + _field(b"\x01")
            + _field(struct.pack("!i", days))
            # numeric 123.45: ndigits=2 weight=0 sign=+ dscale=2,
            # base-10000 digits [123, 4500]
            + _field(struct.pack("!HhHH", 2, 0, 0x0000, 2)
                     + struct.pack("!HH", 123, 4500)))
    row2 = (struct.pack("!h", 6)
            + _field(struct.pack("!i", -7))
            + _field(None)                       # NULL text
            + _field(struct.pack("!d", -0.25))
            + _field(b"\x00")
            + _field(None)
            + _field(struct.pack("!HhHH", 1, -1, 0x4000, 4)
                     + struct.pack("!H", 123)))  # -0.0123
    stream = io.BytesIO(_header() + row1 + row2 + TRAILER)
    rows = list(BinaryCopyReader(oids).read(stream))
    assert rows == [
        (42, "hi", 1.5, True, date(2024, 1, 2), Decimal("123.45")),
        (-7, None, -0.25, False, None, Decimal("-0.0123")),
    ]


def test_decode_skips_header_extension():
    oids = [pgt.INT2OID]
    body = struct.pack("!h", 1) + _field(struct.pack("!h", 9))
    stream = io.BytesIO(_header(ext=b"\xde\xad") + body + TRAILER)
    assert list(BinaryCopyReader(oids).read(stream)) == [(9,)]


def test_decode_rejects_bad_signature():
    with pytest.raises(ValueError, match="signature"):
        list(BinaryCopyReader([pgt.INT4OID]).read(
            io.BytesIO(b"NOTPGCOPY\x00\x00" + TRAILER)))


def test_decode_rejects_truncation():
    oids = [pgt.INT4OID]
    good = _header() + struct.pack("!h", 1) + _field(struct.pack("!i", 1))
    with pytest.raises(ValueError, match="truncated"):
        list(BinaryCopyReader(oids).read(io.BytesIO(good)))  # no trailer


def test_timestamp_decode_is_pg_epoch_microseconds():
    # 2004-10-19 10:23:54 UTC = 150273834000000 us after 2000-01-01
    us = int((datetime(2004, 10, 19, 10, 23, 54)
              - datetime(2000, 1, 1)).total_seconds() * 1e6)
    v = decode_field(pgt.TIMESTAMPOID, struct.pack("!q", us))
    assert v == datetime(2004, 10, 19, 10, 23, 54)
    vtz = decode_field(pgt.TIMESTAMPTZOID, struct.pack("!q", us))
    assert vtz == datetime(2004, 10, 19, 10, 23, 54, tzinfo=timezone.utc)


def test_array_decode_1d_and_2d():
    # [10, NULL, 30] as int4[]
    b = (struct.pack("!iii", 1, 1, pgt.INT4OID)
         + struct.pack("!ii", 3, 1)
         + _field(struct.pack("!i", 10)) + _field(None)
         + _field(struct.pack("!i", 30)))
    assert decode_array(b) == [10, None, 30]
    # [[1,2],[3,4]] as int4[][] (reference:
    # attach_existing_multidimensional_array.test)
    b2 = (struct.pack("!iii", 2, 0, pgt.INT4OID)
          + struct.pack("!ii", 2, 1) + struct.pack("!ii", 2, 1)
          + b"".join(_field(struct.pack("!i", v)) for v in (1, 2, 3, 4)))
    assert decode_array(b2) == [[1, 2], [3, 4]]


def test_numeric_encode_matches_spec_fixture():
    assert encode_field(pgt.NUMERICOID, Decimal("123.45")) == \
        struct.pack("!HhHH", 2, 0, 0x0000, 2) + struct.pack("!HH", 123, 4500)


@pytest.mark.parametrize("v", [
    "0", "1", "-1", "123.45", "-0.0123", "99999999.9999", "10000",
    "0.0001", "12345678901234.567", "2",
])
def test_numeric_roundtrip(v):
    d = Decimal(v)
    assert decode_field(pgt.NUMERICOID,
                        encode_field(pgt.NUMERICOID, d)) == d


def test_writer_reader_roundtrip_all_types():
    oids = [pgt.INT8OID, pgt.TEXTOID, pgt.FLOAT4OID, pgt.BOOLOID,
            pgt.DATEOID, pgt.TIMESTAMPOID, pgt.NUMERICOID, pgt.BYTEAOID]
    rows = [
        (1, "alpha", 1.5, True, date(2020, 5, 17),
         datetime(2021, 6, 1, 12, 30, 0), Decimal("42.42"), b"\x00\x01"),
        (2, None, None, False, None, None, None, None),
        (-3, "nul-byte-free", -2.25, None, date(1999, 12, 31),
         datetime(1969, 7, 20, 20, 17, 40), Decimal("-0.5"), b""),
    ]
    buf = io.BytesIO()
    n = BinaryCopyWriter(oids).write(buf, rows)
    assert n == 3
    buf.seek(0)
    out = list(BinaryCopyReader(oids).read(buf))
    assert out == rows


def test_array_roundtrip_through_writer():
    oids = [pgt.INT4OID, pgt.TEXTOID]
    rows = [(1, ["a", None, "c"]), (2, [])]
    buf = io.BytesIO()
    BinaryCopyWriter(oids, array_elem_oids={1: pgt.TEXTOID}).write(buf, rows)
    buf.seek(0)
    out = list(BinaryCopyReader(oids, array_cols={1}).read(buf))
    assert out == rows


def test_interval_roundtrip():
    v = timedelta(days=3, hours=4, minutes=5, seconds=6, microseconds=7)
    b = encode_field(pgt.INTERVALOID, v)
    assert struct.unpack("!qii", b) == (
        (4 * 3600 + 5 * 60 + 6) * 1_000_000 + 7, 3, 0)
    assert decode_field(pgt.INTERVALOID, b) == v


def test_uuid_roundtrip():
    u = "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"
    b = encode_field(pgt.UUIDOID, u)
    assert len(b) == 16
    assert decode_field(pgt.UUIDOID, b) == u


# ---------------- Spark-level pg_binary COPY round-trip ----------------
def test_copy_pg_binary_roundtrip(spark, tmp_path):
    """copy_to/copy_from with format='pg_binary': real PGCOPY streams,
    one per partition, decoded back distributed (reference:
    postgres_binary_copy.cpp + postgres_copy_from.cpp)."""
    import glob
    from datetime import date, datetime
    from decimal import Decimal
    from pyspark.sql import types as T
    from postgres_scanner_spark.copyio import copy_from, copy_to
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DecimalType(10, 2)),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    rows = [
        (1, "a", Decimal("1.50"), date(2024, 1, 2),
         datetime(2024, 1, 2, 3, 4, 5), ["x", "y"]),
        (2, None, Decimal("-7.25"), None, None, []),
        (3, "c", None, date(1999, 12, 31),
         datetime(1970, 1, 1, 0, 0, 1), None),
    ]
    df = spark.createDataFrame(rows, schema).repartition(3)
    out = str(tmp_path / "pgcopy_out")
    copy_to(df, out, format="pg_binary")
    parts = glob.glob(out + "/*.pgcopy")
    assert len(parts) == 3                      # one stream per partition
    with open(parts[0], "rb") as fh:
        assert fh.read(11) == b"PGCOPY\n\xff\r\n\x00"
    back = copy_from(spark, out, format="pg_binary", schema=schema)
    assert back.schema == schema
    got = sorted([tuple(r) for r in back.collect()])
    assert got == sorted(rows, key=lambda r: r[0])


def test_copy_pg_binary_requires_schema(spark, tmp_path):
    from postgres_scanner_spark.copyio import copy_from
    with pytest.raises(ValueError, match="schema"):
        copy_from(spark, str(tmp_path), format="pg_binary")


def test_timestamp_microsecond_precision_far_from_epoch():
    """total_seconds()-based encoding drifted ±1us beyond ~2100;
    integer arithmetic must round-trip exactly at any date."""
    from datetime import datetime
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    for dt in (datetime(2290, 1, 1, 0, 0, 0, 1),
               datetime(2150, 6, 5, 12, 34, 56, 789123),
               datetime(1890, 2, 3, 4, 5, 6, 7),
               datetime(2000, 1, 1, 0, 0, 0, 0)):
        b = pgwire.encode_field(pgt.TIMESTAMPOID, dt)
        assert pgwire.decode_field(pgt.TIMESTAMPOID, b) == dt, dt


def test_numeric_infinity_wire_codes():
    """PG 14+ numeric ±Infinity: 0xD000/0xF000 — must round-trip, not
    silently decode as 0."""
    from decimal import Decimal
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    for v in (Decimal("Infinity"), Decimal("-Infinity")):
        b = pgwire.encode_field(pgt.NUMERICOID, v)
        assert pgwire.decode_field(pgt.NUMERICOID, b) == v
    import struct
    raw = struct.pack("!HhHH", 0, 0, 0xD000, 0)
    assert pgwire.decode_field(pgt.NUMERICOID, raw) == Decimal("Infinity")


def test_numeric_wide_precision_roundtrip():
    """38-digit decimals (legal DecimalType(38,0) / PG numeric) must
    survive the wire bit-for-bit — the default 28-digit context
    silently rounded them."""
    from decimal import Decimal
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    for v in (Decimal("12345678901234567890123456789012345678"),
              Decimal("123456789012345678.90123456789012345678"),
              Decimal("-0.00000000000000000000000000000000000001")):
        b = pgwire.encode_field(pgt.NUMERICOID, v)
        assert pgwire.decode_field(pgt.NUMERICOID, b) == v, v


def test_datetime_infinity_sentinels():
    """PG 'infinity' timestamps/dates decode to Python's max/min
    instead of raising OverflowError mid-scan."""
    import struct
    from datetime import date, datetime
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    assert pgwire.decode_field(
        pgt.TIMESTAMPOID, struct.pack("!q", 0x7FFFFFFFFFFFFFFF)) \
        == datetime.max
    assert pgwire.decode_field(
        pgt.DATEOID, struct.pack("!i", 0x7FFFFFFF)) == date.max
    assert pgwire.decode_field(
        pgt.DATEOID, struct.pack("!i", -0x80000000)) == date.min


def test_writer_rejects_short_rows():
    import io
    import pytest as _pytest
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    w = pgwire.BinaryCopyWriter([pgt.INT4OID, pgt.TEXTOID])
    with _pytest.raises(ValueError, match="has 1 fields"):
        w.write(io.BytesIO(), [(1,)])


def test_multidim_array_roundtrip():
    """2-D arrays emit genuine ndim=2 frames (not text-serialized
    inner lists) and decode back to nested lists."""
    from postgres_scanner_spark import pgwire
    from postgres_scanner_spark import types as pgt
    payload = pgwire.encode_array(pgt.INT4OID, [[1, 2, 3], [4, 5, 6]],
                                  ndim=2)
    assert pgwire.decode_array(payload) == [[1, 2, 3], [4, 5, 6]]


def test_geometry_decode_fixture_bytes():
    """Geometry wire fixtures built from the PG send functions' layout
    (reference: postgres_binary_reader.hpp ReadGeometry): point = 2
    float8s → {x,y}; line/circle = 3; lseg/box = 4; path = closed flag
    + count + points (flag dropped); polygon = count + points."""
    assert decode_field(pgt.POINTOID, struct.pack("!dd", 1.0, 2.0)) == \
        {"x": 1.0, "y": 2.0}
    assert decode_field(pgt.LINEOID, struct.pack("!3d", 1.0, -1.0, 0.5)) == \
        [1.0, -1.0, 0.5]
    assert decode_field(pgt.CIRCLEOID, struct.pack("!3d", 0.0, 0.0, 2.5)) == \
        [0.0, 0.0, 2.5]
    assert decode_field(pgt.LSEGOID,
                        struct.pack("!4d", 0.0, 0.0, 1.0, 1.0)) == \
        [0.0, 0.0, 1.0, 1.0]
    assert decode_field(pgt.BOXOID,
                        struct.pack("!4d", 2.0, 2.0, 0.0, 0.0)) == \
        [2.0, 2.0, 0.0, 0.0]
    path = struct.pack("!bi", 1, 2) + struct.pack("!4d", 0., 0., 3., 4.)
    assert decode_field(pgt.PATHOID, path) == [0.0, 0.0, 3.0, 4.0]
    poly = struct.pack("!i", 3) + struct.pack("!6d", 0., 0., 1., 0., 0., 1.)
    assert decode_field(pgt.POLYGONOID, poly) == \
        [0.0, 0.0, 1.0, 0.0, 0.0, 1.0]


def test_geometry_spark_type_mapping():
    from postgres_scanner_spark.types import pg_type_to_spark
    from pyspark.sql import types as T
    pt = pg_type_to_spark("point")
    assert isinstance(pt, T.StructType)
    assert [f.name for f in pt.fields] == ["x", "y"]
    for name in ("line", "lseg", "box", "path", "polygon", "circle"):
        dt = pg_type_to_spark(name)
        assert dt == T.ArrayType(T.DoubleType()), name


# ---- property: arbitrary rows survive the wire at any chunking ------
from hypothesis import given, settings, strategies as st  # noqa: E402

from postgres_scanner_spark.pgwire import ChunkStream  # noqa: E402

_cell = st.one_of(
    st.none(),
    st.integers(-2**63, 2**63 - 1),
)
_text_cell = st.one_of(
    st.none(),
    st.text(max_size=40).filter(lambda s: "\x00" not in s),
)
_float_cell = st.one_of(
    st.none(), st.floats(allow_nan=False, width=64))
_bytes_cell = st.one_of(st.none(), st.binary(max_size=40))


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(st.tuples(_cell, _text_cell, _float_cell,
                               _bytes_cell), max_size=15),
       chunk=st.integers(1, 23))
def test_stream_roundtrip_property(rows, chunk):
    """Any (int8, text, float8, bytea) row set must survive
    write → ragged ChunkStream reassembly → read bit-exactly —
    hypothesis covers NULL patterns, empty strings/bytes, negative
    zero, full-range ints, and pathological chunk boundaries the
    fixture tests cannot enumerate."""
    oids = [pgt.INT8OID, pgt.TEXTOID, pgt.FLOAT8OID, pgt.BYTEAOID]
    buf = io.BytesIO()
    n = BinaryCopyWriter(oids).write(buf, rows)
    assert n == len(rows)
    data = buf.getvalue()
    chunks = [data[i:i + chunk] for i in range(0, len(data), chunk)]
    out = list(BinaryCopyReader(oids).read(ChunkStream(iter(chunks))))
    assert out == rows


# ----------------------------------------------------- vectorized codec
def _vec_oids():
    return [pgt.INT4OID, pgt.INT2OID, pgt.INT8OID, pgt.FLOAT4OID,
            pgt.FLOAT8OID, pgt.BOOLOID, pgt.TEXTOID, pgt.BYTEAOID,
            pgt.DATEOID, pgt.TIMESTAMPOID, pgt.NUMERICOID, 0]


def test_vectorized_writer_byte_identical_full_matrix():
    """The Arrow-vectorized bulk encoder (pgwire_vec) must emit the
    EXACT stream the fixture-tested scalar writer emits — pgwire is
    the wire contract, pgwire_vec only the throughput path — across
    every wire type family including NULL rows, -0.0, infinities,
    unicode, empty strings/bytes, decimals (per-column scalar
    fallback) and int arrays (encode_array fallback)."""
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    rows = [
        (1, 32000, 123456789012345678, 1.5, 2.25, True, "héllo",
         b"\x00\xff", dt.date(2024, 2, 29),
         dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
         Decimal("12345.67"), [1, 2, None]),
        (None,) * 12,
        (-7, -5, -2**62, -0.0, float("inf"), False, "", b"",
         dt.date(1999, 12, 31),
         dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
         Decimal("-0.01"), []),
    ]
    arrays = [pa.array([r[i] for r in rows], t) for i, t in enumerate([
        pa.int32(), pa.int16(), pa.int64(), pa.float32(), pa.float64(),
        pa.bool_(), pa.string(), pa.binary(), pa.date32(),
        pa.timestamp("us"), pa.decimal128(10, 2),
        pa.list_(pa.int32())])]
    batch = pa.record_batch(arrays, names=[f"c{i}" for i in range(12)])
    oids, ae, nd = _vec_oids(), {11: pgt.INT4OID}, {11: 1}
    b1, b2 = io.BytesIO(), io.BytesIO()
    assert BinaryCopyWriter(oids, ae, nd).write(b1, rows) == 3
    assert VectorBinaryCopyWriter(oids, ae, nd).write_batches(
        b2, [batch]) == 3
    assert b1.getvalue() == b2.getvalue()
    # and the stream decodes back through the contract reader
    out = list(BinaryCopyReader(oids, {11}).read(
        io.BytesIO(b2.getvalue())))
    assert out[1] == (None,) * 12


_date_cell = st.one_of(
    st.none(),
    st.dates(min_value=__import__("datetime").date(1, 1, 1),
             max_value=__import__("datetime").date(9999, 12, 31)))
_ts_cell = st.one_of(
    st.none(),
    st.datetimes(
        min_value=__import__("datetime").datetime(1, 1, 1),
        max_value=__import__("datetime").datetime(9999, 12, 31)))
_dec_cell = st.one_of(
    st.none(),
    st.decimals(allow_nan=False, allow_infinity=False,
                min_value=-10**16, max_value=10**16, places=4))


@settings(max_examples=40, deadline=None)
@given(rows=st.lists(st.tuples(_cell, _text_cell, _float_cell,
                               _bytes_cell, _date_cell, _ts_cell,
                               _dec_cell), max_size=20),
       chunk=st.integers(1, 7))
def test_vectorized_writer_property(rows, chunk):
    """Property: for any (int8, text, float8, bytea, date, timestamp,
    numeric) row set and any internal batch slicing, vectorized bytes
    == scalar bytes — the full-range dates/timestamps cover the PG
    epoch offsets, numeric covers the per-column scalar fallback."""
    import pyarrow as pa

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    oids = [pgt.INT8OID, pgt.TEXTOID, pgt.FLOAT8OID, pgt.BYTEAOID,
            pgt.DATEOID, pgt.TIMESTAMPOID, pgt.NUMERICOID]
    batch = pa.record_batch(
        [pa.array([r[0] for r in rows], pa.int64()),
         pa.array([r[1] for r in rows], pa.string()),
         pa.array([r[2] for r in rows], pa.float64()),
         pa.array([r[3] for r in rows], pa.binary()),
         pa.array([r[4] for r in rows], pa.date32()),
         pa.array([r[5] for r in rows], pa.timestamp("us")),
         pa.array([r[6] for r in rows], pa.decimal128(21, 4))],
        names=list("abcdefg"))
    b1, b2 = io.BytesIO(), io.BytesIO()
    BinaryCopyWriter(oids).write(b1, rows)
    w = VectorBinaryCopyWriter(oids)
    w._CHUNK = chunk          # force mid-stream slice boundaries
    w.write_batches(b2, [batch])
    assert b1.getvalue() == b2.getvalue()


def test_vectorized_writer_uuid_jsonb_reencode():
    """uuid and jsonb STRING columns must not ship raw utf8: uuid
    sends 16 raw bytes, jsonb prepends the version-1 byte — the
    vectorized writer must route both through the scalar fallback
    and stay byte-identical to the contract writer."""
    import uuid as _uuid

    import pyarrow as pa

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    u = "bd132f35-1a2b-4c5d-8e9f-001122334455"
    rows = [(u, '{"a": 1}'), (None, None),
            (str(_uuid.UUID(int=0)), "[]")]
    batch = pa.record_batch(
        [pa.array([r[0] for r in rows], pa.string()),
         pa.array([r[1] for r in rows], pa.string())],
        names=["u", "j"])
    oids = [pgt.UUIDOID, pgt.JSONBOID]
    b1, b2 = io.BytesIO(), io.BytesIO()
    BinaryCopyWriter(oids).write(b1, rows)
    VectorBinaryCopyWriter(oids).write_batches(b2, [batch])
    assert b1.getvalue() == b2.getvalue()
    # and the uuid field really is 16 bytes on the wire, not 36
    assert bytes.fromhex("00000010bd132f35") in b1.getvalue()


def test_null_byte_policy_both_codecs():
    """reference: attach_null_byte.test — PG rejects NUL bytes in
    varchar values: both codecs raise the reference's error by
    default, and substitute when pg_null_byte_replacement is given
    (here passed explicitly; the writers wire it from SETTINGS).
    Byte-identity must hold between the codecs under substitution."""
    import pyarrow as pa

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    rows = [("\x00",), ("FF\x00FF",), ("clean",), (None,)]
    batch = pa.record_batch(
        [pa.array([r[0] for r in rows], pa.string())], names=["s"])
    oids = [pgt.TEXTOID]
    with pytest.raises(ValueError, match="NULL-bytes in VARCHAR"):
        BinaryCopyWriter(oids).write(io.BytesIO(), rows)
    with pytest.raises(ValueError, match="NULL-bytes in VARCHAR"):
        VectorBinaryCopyWriter(oids).write_batches(io.BytesIO(), [batch])
    b1, b2 = io.BytesIO(), io.BytesIO()
    BinaryCopyWriter(oids, null_byte_replacement="").write(b1, rows)
    VectorBinaryCopyWriter(
        oids, null_byte_replacement="").write_batches(b2, [batch])
    assert b1.getvalue() == b2.getvalue()
    out = list(BinaryCopyReader(oids).read(io.BytesIO(b1.getvalue())))
    assert out == [("",), ("FFFF",), ("clean",), (None,)]
    # array elements are covered too
    with pytest.raises(ValueError, match="NULL-bytes"):
        encode_array(pgt.TEXTOID, ["ok", "b\x00ad"])
    assert encode_array(pgt.TEXTOID, ["b\x00ad"],
                        null_byte_replacement="_") == \
        encode_array(pgt.TEXTOID, ["b_ad"])


# ------------------------------------------------ vectorized decoder
# VectorBinaryCopyReader must yield exactly the Arrow Spark built from
# the contract reader's tuples: Spark's per-value converters, then
# RecordBatch.from_arrays against to_arrow_schema.
def _spark_arrow(schema, oids, stream, array_cols=None):
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(BinaryCopyReader(oids, array_cols).read(
        io.BytesIO(stream)))
    convs = [LocalDataToArrowConversion._create_converter(f.dataType)
             for f in schema.fields]
    cols = [[c(r[i]) for r in rows] for i, c in enumerate(convs)]
    return pa.Table.from_batches([pa.RecordBatch.from_arrays(
        cols, schema=to_arrow_schema(schema))])


def _vector_arrow(schema, oids, chunks, array_cols=None):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyReader

    want = to_arrow_schema(schema)
    batches = list(VectorBinaryCopyReader(schema, oids, array_cols)
                   .read(iter(chunks)))
    assert all(b.schema == want for b in batches)
    return pa.Table.from_batches(batches, schema=want)


def _rows_stream(oids, rows, array_elem=None) -> bytes:
    """PGCOPY bytes for `rows`; a cell given as `bytes` inside a
    1-tuple ships as that raw payload (sentinels, bad lengths)."""
    out = [_header()]
    for r in rows:
        out.append(struct.pack("!h", len(r)))
        for i, v in enumerate(r):
            if isinstance(v, tuple):
                out.append(_field(v[0]))
            elif v is None:
                out.append(_field(None))
            elif array_elem and i in array_elem:
                out.append(_field(encode_array(array_elem[i], v)))
            else:
                out.append(_field(encode_field(oids[i], v)))
    out.append(TRAILER)
    return b"".join(out)


def _chunked(data: bytes, n: int) -> list[bytes]:
    return [data[i:i + n] for i in range(0, len(data), n)]


def _fast_schema():
    from pyspark.sql import types as T
    return T.StructType([T.StructField(n, t) for n, t in [
        ("b", T.BooleanType()), ("i1", T.ByteType()),
        ("i2", T.ShortType()), ("i4", T.IntegerType()),
        ("i8", T.LongType()), ("f4", T.FloatType()),
        ("f8", T.DoubleType()), ("s", T.StringType()),
        ("by", T.BinaryType()), ("d", T.DateType()),
        ("ts", T.TimestampNTZType()), ("tz", T.TimestampType())]])


_UTC = timezone.utc
_FAST_ROWS = [
    (True, 7, -300, 2**31 - 1, -2**63, 1.5, -0.0, "héllo ✓ 日本",
     b"\x00\xff", date(2024, 2, 29), datetime(2024, 1, 2, 3, 4, 5, 6),
     datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=_UTC)),
    (False, -128, 32767, -2**31, 2**63 - 1, float("inf"),
     float("-inf"), "", b"", date(1, 1, 1), datetime(9999, 12, 31),
     datetime(2000, 1, 1, tzinfo=_UTC)),
]


def test_vector_reader_fast_types_nulls_and_infinity():
    """Every fast-path type, a NULL in each column on its own row,
    an all-NULL row, empty and multibyte strings, and PG's ±infinity
    date/timestamp sentinels (decoded to date.max/min and
    datetime.max/min, as the scalar reader does)."""
    from postgres_scanner_spark.pgwire import spark_field_oid

    schema = _fast_schema()
    oids = [spark_field_oid(f.dataType) for f in schema.fields]
    rows = list(_FAST_ROWS) + [(None,) * 12]
    for i in range(12):                   # one NULL per column
        r = list(_FAST_ROWS[i % 2])
        r[i] = None
        rows.append(tuple(r))
    inf_d, ninf_d = struct.pack("!i", 0x7FFFFFFF), struct.pack("!i", -2**31)
    inf_t = struct.pack("!q", 2**63 - 1)
    ninf_t = struct.pack("!q", -2**63)
    rows.append(_FAST_ROWS[0][:9] + ((inf_d,), (inf_t,), (ninf_t,)))
    rows.append(_FAST_ROWS[1][:9] + ((ninf_d,), (ninf_t,), (inf_t,)))
    # last: NULLs in a run of fixed-width columns right before the
    # trailer, where the all-present layout would overrun the stream
    rows.append(_FAST_ROWS[0][:9] + (None,) * 3)
    stream = _rows_stream(oids, rows)
    want = _spark_arrow(schema, oids, stream)
    got = _vector_arrow(schema, oids, [stream])
    assert got.equals(want)
    assert got.num_rows == len(rows)
    assert got.column("d").to_pylist()[-3:-1] == [date.max, date.min]
    assert got.column("ts").to_pylist()[-3:-1] == [datetime.max,
                                                   datetime.min]


def test_vector_reader_invalid_utf8_raises():
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("s", T.StringType())])
    stream = _rows_stream([pgt.TEXTOID], [("ok",), ((b"\xff\xfe",),)])
    with pytest.raises(ValueError):
        _spark_arrow(schema, [pgt.TEXTOID], stream)
    with pytest.raises(ValueError):
        _vector_arrow(schema, [pgt.TEXTOID], [stream])


def test_vector_reader_fallback_columns():
    """numeric, int[], point and a bool sent with a 2-byte payload
    take the per-column scalar path, beside fast columns, with the
    same Arrow as before."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("n", T.DecimalType(12, 3)),
        T.StructField("ia", T.ArrayType(T.IntegerType())),
        T.StructField("p", T.StructType([
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType())])),
        T.StructField("b", T.BooleanType()),
        T.StructField("s", T.StringType()),
    ])
    oids = [pgt.INT8OID, pgt.NUMERICOID, pgt.INT4OID, pgt.POINTOID,
            pgt.BOOLOID, pgt.TEXTOID]
    pt = struct.pack("!dd", 1.5, -2.0)
    rows = [
        (1, Decimal("123456789.123"), [1, None, 3], (pt,), True, "a"),
        (2, None, None, None, None, None),
        (3, Decimal("-0.001"), [], (pt,), (b"\x00\x00",), "c"),
    ]
    stream = _rows_stream(oids, rows, array_elem={2: pgt.INT4OID})
    want = _spark_arrow(schema, oids, stream, {2})
    got = _vector_arrow(schema, oids, _chunked(stream, 7), {2})
    assert got.equals(want)
    # any 2-byte payload is true to the scalar decoder
    assert got.column("b").to_pylist() == [True, None, True]


def test_vector_reader_fixed_width_mismatch_and_range_raise():
    """A fixed-width column whose payload length or value the fast
    path cannot hold goes to the scalar path — which raises there,
    exactly as before."""
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("i", T.IntegerType())])
    stream = _rows_stream([pgt.INT4OID], [(1,), ((b"\x00\x01",),)])
    with pytest.raises(struct.error):
        _spark_arrow(schema, [pgt.INT4OID], stream)
    with pytest.raises(struct.error):
        _vector_arrow(schema, [pgt.INT4OID], [stream])
    # day 3,000,000 after 2000-01-01 is past date.max
    schema = T.StructType([T.StructField("d", T.DateType())])
    stream = _rows_stream([pgt.DATEOID],
                          [((struct.pack("!i", 3_000_000),),)])
    with pytest.raises(ValueError):
        _spark_arrow(schema, [pgt.DATEOID], stream)
    with pytest.raises(ValueError):
        _vector_arrow(schema, [pgt.DATEOID], [stream])


@pytest.mark.parametrize("chunk,block", [(7, 1 << 20), (7, 50), (1, 13),
                                         (1000, 64)])
def test_vector_reader_ragged_chunks_and_block_splits(chunk, block):
    """Ragged chunks and blocks small enough that rows straddle block
    boundaries: same table, several batches."""
    from unittest import mock

    from postgres_scanner_spark import pgwire_vec
    from postgres_scanner_spark.pgwire import spark_field_oid

    schema = _fast_schema()
    oids = [spark_field_oid(f.dataType) for f in schema.fields]
    rows = [_FAST_ROWS[i % 2] for i in range(40)]
    stream = _rows_stream(oids, rows)
    want = _spark_arrow(schema, oids, stream)
    with mock.patch.object(pgwire_vec, "BLOCK_BYTES", block):
        got = _vector_arrow(schema, oids, _chunked(stream, chunk))
    assert got.equals(want)
    if block < 100:
        assert got.column(0).num_chunks > 1


def test_vector_reader_framing():
    """Header extension skipped; zero-row stream yields no batch;
    bad signature, short header, wrong field count, a row cut short
    and a missing trailer each raise the contract reader's error."""
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("s", T.StringType())])
    oids = [pgt.INT4OID, pgt.TEXTOID]
    row = _rows_stream(oids, [(5, "x")])[len(_header()):-2]
    ext = _header(ext=b"\x01\x02\x03") + row + TRAILER
    assert _vector_arrow(schema, oids, _chunked(ext, 5)).equals(
        _spark_arrow(schema, oids, ext))
    empty = _vector_arrow(schema, oids, [_header() + TRAILER])
    assert empty.num_rows == 0 and empty.column(0).num_chunks == 0
    bad = [
        ("bad signature",
         b"PGCOPY\n\xff\r\n\x01" + _header()[11:] + TRAILER),
        ("truncated", _header()[:15]),                     # short header
        ("truncated", _header(ext=b"\x01\x02\x03")[:-1]),  # short ext
        ("fields, expected 2", _header() + struct.pack("!h", 3) + row[2:]),
        ("truncated", _header() + row[:-1]),               # row cut short
        ("truncated", _header() + row),                    # no trailer
    ]
    for msg, stream in bad:
        with pytest.raises(ValueError, match=msg):
            list(BinaryCopyReader(oids).read(io.BytesIO(stream)))
        with pytest.raises(ValueError, match=msg):
            _vector_arrow(schema, oids, _chunked(stream, 3))


def _fuzz_columns():
    from pyspark.sql import types as T
    ts = st.datetimes(min_value=datetime(1, 1, 1),
                      max_value=datetime(9999, 12, 31))
    return [
        (T.BooleanType(), pgt.BOOLOID, st.booleans()),
        (T.ShortType(), pgt.INT2OID, st.integers(-2**15, 2**15 - 1)),
        (T.IntegerType(), pgt.INT4OID, st.integers(-2**31, 2**31 - 1)),
        (T.LongType(), pgt.INT8OID, st.integers(-2**63, 2**63 - 1)),
        (T.FloatType(), pgt.FLOAT4OID,
         st.floats(allow_nan=False, width=32)),
        (T.DoubleType(), pgt.FLOAT8OID, st.floats(allow_nan=False)),
        (T.StringType(), pgt.TEXTOID,
         st.text(max_size=12).filter(lambda s: "\x00" not in s)),
        (T.BinaryType(), pgt.BYTEAOID, st.binary(max_size=12)),
        (T.DateType(), pgt.DATEOID,
         st.dates(min_value=date(1, 1, 1), max_value=date(9999, 12, 31))),
        (T.TimestampNTZType(), pgt.TIMESTAMPOID, ts),
        (T.TimestampType(), pgt.TIMESTAMPTZOID,
         ts.map(lambda v: v.replace(tzinfo=_UTC))),
        (T.DecimalType(10, 2), pgt.NUMERICOID,
         st.decimals(allow_nan=False, allow_infinity=False, places=2,
                     min_value=-10**7, max_value=10**7)),
    ]


@st.composite
def _fuzz_case(draw):
    spec = draw(st.lists(st.sampled_from(_fuzz_columns()), min_size=1,
                         max_size=6))
    rows = draw(st.lists(st.tuples(*[
        st.one_of(st.none(), s[2]) for s in spec]), max_size=25))
    return spec, rows


@settings(max_examples=60, deadline=None)
@given(case=_fuzz_case(), chunk=st.integers(1, 40),
       block=st.sampled_from([16, 100, 1 << 20]))
def test_vector_reader_property(case, chunk, block):
    """Any column-type mix, NULL pattern, chunking and block size:
    the vector reader's table equals Spark's conversion of the
    contract reader's tuples."""
    from unittest import mock

    from pyspark.sql import types as T

    from postgres_scanner_spark import pgwire_vec

    spec, rows = case
    schema = T.StructType([T.StructField(f"c{i}", s[0])
                           for i, s in enumerate(spec)])
    oids = [s[1] for s in spec]
    stream = _rows_stream(oids, rows)
    want = _spark_arrow(schema, oids, stream)
    with mock.patch.object(pgwire_vec, "BLOCK_BYTES", block):
        got = _vector_arrow(schema, oids, _chunked(stream, chunk))
    assert got.equals(want)
