"""Per-layer probes of the traced run.

Each probe times one public call of the program from outside, inside
a span, against the live `lineitem` the connector workloads use:

- the scan layers, by replaying each task of the workload's scan in
  this process: `PostgresScanDataSource.schema()`, `reader()`,
  `pushFilters()`, `partitions()`, then per task `pgclient.connect`,
  a raw COPY drain (`Cursor.copy`), `BinaryCopyReader.read` over the
  captured bytes, and `PostgresScanReader.read()` itself;
- the server floor, `COPY (task sql) TO '/dev/null'`;
- the write layers: `PostgresScanWriter.write()` per partition,
  `commit()`, `VectorBinaryCopyWriter.write_batches` and a raw
  COPY FROM STDIN.
"""

from __future__ import annotations

import io
import statistics
import time
import tracemalloc

import pyarrow as pa

from workloads import SCAN_TABLE, copy_in

PROBE_TABLE = "lineitem_probe"


def _median_ms(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1e3


def _consume(rows) -> int:
    n = 0
    for _ in rows:
        n += 1
    return n


def scan_layers(ctx, filters, kept_rows: int) -> dict:
    """Replay the workload's scan task by task; return the scan-layer
    metrics and the connect/receive/decode split of `read()`."""
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
    from postgres_scanner_spark.pgwire import BinaryCopyReader, spark_field_oid
    tr = ctx.tracer
    opts = {"dsn": ctx.dsn, "table": SCAN_TABLE}
    m: dict[str, float] = {}

    def schema():
        return PostgresScanDataSource(opts).schema()

    def plan():
        ds = PostgresScanDataSource(opts)
        reader = ds.reader(ds.schema())
        _consume(reader.pushFilters(list(filters)))
        return reader, reader.partitions()

    with tr.op("probe.scan_plan"):
        with tr.span("pg_datasource.schema"):
            m["pg_datasource.schema_ms"] = _median_ms(schema)
        ds = PostgresScanDataSource(opts)
        sch = ds.schema()
        # plan time net of the schema probe it needs
        with tr.span("pg_datasource.partitions"):
            m["pg_datasource.plan_ms"] = max(
                _median_ms(plan) - m["pg_datasource.schema_ms"], 0.0)
        reader, parts = plan()
    oids = [spark_field_oid(f.dataType) for f in sch.fields]
    m["pg_datasource.tasks"] = len(parts)

    connect, receive, decode, reads, devnull = [], [], [], [], []
    mb_s, task_bytes, shipped = [], [], 0
    for i, task in enumerate(parts):
        with tr.op("probe.read_task", task=i) as root:
            t = time.perf_counter()
            with tr.span("pgclient.connect"):
                con = pgclient.connect(ctx.dsn)
            connect.append(time.perf_counter() - t)
            try:
                with con.cursor() as cur:
                    t = time.perf_counter()
                    with tr.span("pgclient.copy_out"):
                        with cur.copy(f"COPY ({task.sql}) TO STDOUT "
                                      "(FORMAT binary)") as cp:
                            data = b"".join(cp)
                    receive.append(time.perf_counter() - t)
            finally:
                con.close()
            task_bytes.append(len(data))
            mb_s.append(len(data) / 1e6 / receive[-1])
            t = time.perf_counter()
            with tr.span("pgwire.decode"):
                n = _consume(BinaryCopyReader(oids).read(io.BytesIO(data)))
            decode.append(time.perf_counter() - t)
            if root is not None:
                root["attrs"].update(bytes=len(data), rows=n)
        with tr.op("pg_datasource.read", task=i):
            t = time.perf_counter()
            shipped += _consume(reader.read(task))
            reads.append(time.perf_counter() - t)
        with pgclient.connect(ctx.dsn, autocommit=True) as con, \
                con.cursor() as cur, tr.op("server.copy_devnull", task=i):
            t = time.perf_counter()
            cur.execute(f"COPY ({task.sql}) TO '/dev/null' (FORMAT binary)")
            devnull.append(time.perf_counter() - t)

    # working memory of the program's read() over the largest task,
    # measured separately so the allocation tracer does not slow the
    # timed reads above
    big = max(range(len(parts)), key=lambda i: task_bytes[i])
    pool0 = pa.default_memory_pool().max_memory()
    tracemalloc.start()
    try:
        _consume(reader.read(parts[big]))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    pool = max(pa.default_memory_pool().max_memory() - pool0, 0)

    m.update({
        "pgclient.connect_ms": statistics.median(connect) * 1e3,
        "pgclient.copy_out_mb_s": statistics.median(mb_s),
        "pgclient.copy_out_bytes": sum(task_bytes),
        "pgwire.decode_rows_s": shipped / max(sum(decode), 1e-9),
        "pgwire.decode_peak_mb": (peak + pool) / 1e6,
        "pg_datasource.read_task_s_p50": statistics.median(reads),
        "pg_datasource.read_task_s_max": max(reads),
        "pg_datasource.rows_shipped_per_row_kept":
            shipped / max(kept_rows, 1),
        "pg_datasource.read_s": sum(reads),
        "pg_datasource.read_connect_s": sum(connect),
        "pg_datasource.read_receive_s": sum(receive),
        "pg_datasource.read_decode_s": sum(decode),
        "pg_datasource.read_other_s":
            sum(reads) - sum(connect) - sum(receive) - sum(decode),
        "server.copy_devnull_s": sum(devnull),
    })
    return m


def write_layers(ctx) -> dict:
    """Drive the writer's public API the way Spark does (one
    `write()` per partition, then `commit()`), then time the encoder
    and the raw COPY FROM STDIN on their own."""
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
    from postgres_scanner_spark.pgwire import spark_field_oid
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter
    tr = ctx.tracer
    src = ctx.scan_table
    schema = ctx.spark.createDataFrame(src.slice(0, 1)).schema
    opts = {"dsn": ctx.dsn, "table": PROBE_TABLE}
    step = -(-src.num_rows // ctx.nproc)
    with tr.op("probe.write"):
        writer = PostgresScanDataSource(opts).writer(schema, True)
        spools, msgs = [], []
        for i in range(ctx.nproc):
            part = src.slice(i * step, step)
            t = time.perf_counter()
            with tr.span("pg_datasource.spool", part=i):
                msgs.append(writer.write(iter(part.to_batches())))
            spools.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("pg_datasource.commit"):
            writer.commit(msgs)
        commit = time.perf_counter() - t

    oids = [spark_field_oid(f.dataType) for f in schema.fields]
    buf = io.BytesIO()
    with tr.op("pgwire_vec.encode"):
        t = time.perf_counter()
        VectorBinaryCopyWriter(oids).write_batches(buf, src.to_batches())
        encode = time.perf_counter() - t
    data = buf.getbuffer()
    with pgclient.connect(ctx.dsn) as con, con.cursor() as cur:
        cur.execute(f'TRUNCATE "{PROBE_TABLE}"')
        with tr.op("pgclient.copy_in"):
            t = time.perf_counter()
            copy_in(cur, PROBE_TABLE, data)
            copy_in_s = time.perf_counter() - t
        con.commit()
    return {
        "pg_datasource.spool_s": statistics.median(spools),
        "pg_datasource.commit_s": commit,
        "pgwire_vec.encode_rows_s": src.num_rows / encode,
        "pgclient.copy_in_mb_s": len(data) / 1e6 / copy_in_s,
    }
