#!/usr/bin/env python3
"""Measure PGCOPY codec throughput on a 1M-row lineitem-shaped batch.

Encode: per-row BinaryCopyWriter (the fixture-tested wire contract)
vs the Arrow-vectorized VectorBinaryCopyWriter; byte-identity is
checked first, then both are timed. Decode, over the same stream:
BinaryCopyReader tuples plus Spark's own per-row conversion to Arrow
(what a Python data source yielding tuples costs) vs
VectorBinaryCopyReader; both are timed, and the two Arrow tables
must be equal. One JSON line out; exit 1 unless both directions
are identical.

Usage: python tools/bench_pgcopy.py [n_rows]
"""

from __future__ import annotations

import io
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    import datetime as dt

    import numpy as np
    import pyarrow as pa

    from postgres_scanner_spark import types as pgt
    from postgres_scanner_spark.pgwire import BinaryCopyWriter
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    rng = np.random.default_rng(42)
    okey = rng.integers(0, 1 << 40, n)
    pkey = rng.integers(0, 200_000, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(1, 100_000, n), 2)
    disc = np.round(rng.uniform(0, 0.1, n), 2)
    flag = rng.choice(["A", "N", "R"], n)
    comment = np.array(["c" * int(k % 23) for k in pkey])
    ship_us = rng.integers(0, 10**15, n)
    batch = pa.record_batch(
        [pa.array(okey, pa.int64()), pa.array(pkey, pa.int64()),
         pa.array(qty, pa.float64()), pa.array(price, pa.float64()),
         pa.array(disc, pa.float64()), pa.array(flag, pa.string()),
         pa.array(comment, pa.string()),
         pa.array(ship_us, pa.timestamp("us"))],
        names=list("abcdefgh"))
    oids = [pgt.INT8OID, pgt.INT8OID, pgt.FLOAT8OID, pgt.FLOAT8OID,
            pgt.FLOAT8OID, pgt.TEXTOID, pgt.TEXTOID, pgt.TIMESTAMPOID]

    rows = [tuple(
        dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(v))
        if j == 7 else
        (v.as_py() if hasattr(v, "as_py") else v)
        for j, v in enumerate(r))
        for r in zip(okey.tolist(), pkey.tolist(), qty.tolist(),
                     price.tolist(), disc.tolist(), flag.tolist(),
                     comment.tolist(), ship_us.tolist())]

    # warm both paths once (allocator/page-fault warm-up), then
    # min-of-2 timed passes — the same protocol bench.py uses
    BinaryCopyWriter(oids).write(io.BytesIO(), rows[:50_000])
    warm = io.BytesIO()
    VectorBinaryCopyWriter(oids).write_batches(
        warm, [batch.slice(0, 50_000)])
    t_row = t_vec = float("inf")
    for _ in range(2):
        b1 = io.BytesIO()
        t0 = time.perf_counter()
        BinaryCopyWriter(oids).write(b1, rows)
        t_row = min(t_row, time.perf_counter() - t0)
        b2 = io.BytesIO()
        t0 = time.perf_counter()
        VectorBinaryCopyWriter(oids).write_batches(b2, [batch])
        t_vec = min(t_vec, time.perf_counter() - t0)
    ident = b1.getvalue() == b2.getvalue()
    del rows
    dec = _decode(b2.getvalue(), warm.getvalue(), oids)
    print(json.dumps({
        "metric": "pgcopy_encode_1m", "rows": n,
        "bytes": len(b2.getvalue()), "identical": ident,
        "per_row_sec": round(t_row, 3), "vectorized_sec": round(t_vec, 3),
        "speedup": round(t_row / t_vec, 1), **dec,
    }))
    sys.exit(0 if ident and dec["decode_identical"] else 1)


def _decode(data: bytes, warm: bytes, oids) -> dict:
    """Time one pass of each decoder over `data`, after a pass over
    the shorter stream `warm`; check the two give the same table."""
    import io

    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.worker.plan_data_source_read import (
        records_to_arrow_batches)

    from postgres_scanner_spark.pgwire import BinaryCopyReader
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyReader

    schema = T.StructType([T.StructField(c, t) for c, t in zip(
        "abcdefgh", [T.LongType(), T.LongType(), T.DoubleType(),
                     T.DoubleType(), T.DoubleType(), T.StringType(),
                     T.StringType(), T.TimestampNTZType()])])

    class _Source:                      # names the source in errors
        @classmethod
        def name(cls):
            return "bench_pgcopy"

    def per_row(stream):
        # Spark's own ingest of a tuple-yielding read(): per-value
        # converters, 10,000-row Arrow batches (its default size)
        rows = BinaryCopyReader(oids).read(io.BytesIO(stream))
        return list(records_to_arrow_batches(rows, 10_000, schema,
                                             _Source()))

    def vectorized(stream):
        # the reader takes the stream split anywhere: 64 KiB pieces
        chunks = (stream[i:i + 65_536]
                  for i in range(0, len(stream), 65_536))
        return list(VectorBinaryCopyReader(schema, oids).read(chunks))

    out = {}
    for name, fn in (("per_row", per_row), ("vectorized", vectorized)):
        fn(warm)
        t0 = time.perf_counter()
        batches = fn(data)
        out[name] = (time.perf_counter() - t0, batches)
    want = to_arrow_schema(schema)
    t_row, b_row = out["per_row"]
    t_vec, b_vec = out["vectorized"]
    rows = sum(b.num_rows for b in b_vec)
    same = pa.Table.from_batches(b_row, want).equals(
        pa.Table.from_batches(b_vec, want))
    return {
        "decode_identical": same,
        "decode_per_row_sec": round(t_row, 3),
        "decode_vectorized_sec": round(t_vec, 3),
        "decode_per_row_rows_s": round(rows / t_row),
        "decode_vectorized_rows_s": round(rows / t_vec),
        "decode_speedup": round(t_row / t_vec, 1),
    }


if __name__ == "__main__":
    main()
