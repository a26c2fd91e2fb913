"""The four workloads. Each one derives its parameters from the run
seed, prepares its inputs (part of set-up), runs one operation per
`op()` call and checks that operation's output exactly.

Connector workloads (`scan_full`, `scan_pushdown`, `write_copy`) run
against a live scratch server holding the tiled `lineitem` of
inputs.py; `pipeline_sf001` runs twelve registry queries over the
sf0.01 test data with no connector. See README.md for why each
workload exists.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import inputs

SCAN_TABLE = "lineitem"
WRITE_TABLE = "lineitem_copy"

# the fixed pipeline query list (not imported from bench.py)
PIPELINE_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_profit", "q18_large_volume_customer", "q21_suppliers_waiting",
    "d2_minhash_lsh_dedup", "d14_semantic_dedup", "a1_cosine_topk",
    "a6_kmeans_lloyd", "t3_token_count", "e1_hourly_event_rollup",
]
# query -> the program module that implements it (per-layer names)
QUERY_MODULE = {
    "q": "functions.tpch", "d": "operators.dedup", "a": "operators.ann",
    "t": "functions.text", "e": "streaming.events",
}

# Arrow type -> (server column type, PGCOPY wire OID)
_PG_TYPES = {
    pa.int64(): ("BIGINT", 20), pa.int32(): ("INTEGER", 23),
    pa.float64(): ("DOUBLE PRECISION", 701), pa.string(): ("TEXT", 25),
    pa.timestamp("us"): ("TIMESTAMP", 1114),
}


@dataclass
class Ctx:
    """Run state shared by set-up, operations, checks and probes."""
    seed: int
    work: str
    nproc: int
    tracer: object
    data_dir: Path = inputs.PIPELINE_DIR     # --smoke: inputs.SMOKE_DIR
    scan_copies: int = inputs.SCAN_COPIES
    rng: np.random.Generator = None
    spark: object = None
    jobs: object = None
    dsn: str = ""
    scan_table: pa.Table = None
    info: dict = field(default_factory=dict)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)


def copy_in(cur, name: str, data) -> None:
    """COPY encoded PGCOPY bytes into `name`, in 1 MiB writes."""
    with cur.copy(f'COPY "{name}" FROM STDIN (FORMAT binary)') as cp:
        for i in range(0, len(data), 1 << 20):
            cp.write(data[i:i + (1 << 20)])


def load_table(dsn: str, name: str, table: pa.Table) -> None:
    """(Re)create `name` on the server and bulk-load `table` through
    the program's wire client and vectorised PGCOPY encoder, then
    freeze it so the first scan does not pay hint-bit writes."""
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pgwire_vec import VectorBinaryCopyWriter
    cols = ", ".join(f'"{f.name}" {_PG_TYPES[f.type][0]}' for f in table.schema)
    oids = [_PG_TYPES[f.type][1] for f in table.schema]
    buf = io.BytesIO()
    VectorBinaryCopyWriter(oids).write_batches(buf, table.to_batches())
    with pgclient.connect(dsn) as con, con.cursor() as cur:
        cur.execute(f'DROP TABLE IF EXISTS "{name}"')
        cur.execute(f'CREATE TABLE "{name}" ({cols})')
        copy_in(cur, name, buf.getbuffer())
        con.commit()
    with pgclient.connect(dsn, autocommit=True) as con, con.cursor() as cur:
        cur.execute(f'VACUUM (FREEZE, ANALYZE) "{name}"')


# ------------------------------------------------------------ scans
def _units():
    from pyspark.sql import functions as F
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    tax = F.round(F.col("l_tax") * 100).cast("long")
    return price, disc, tax


def _ts_lit(value: dt.datetime):
    from pyspark.sql import functions as F
    return F.lit(value).cast("timestamp_ntz")


class Scan:
    """Common part of the two scan workloads: a `postgres_scan` of the
    live `lineitem`, loaded once per run."""
    needs_server = True

    def rows_per_op(self, ctx: Ctx) -> int:
        return ctx.scan_table.num_rows

    def prepare(self, ctx: Ctx) -> None:
        self.params(ctx)

    def frame(self, ctx: Ctx):
        return (ctx.spark.read.format("postgres_scan")
                .option("dsn", ctx.dsn).option("table", SCAN_TABLE).load())


class ScanFull(Scan):
    """TPC-H Q1 over the scan: every row crosses the wire, the PGCOPY
    decoder and Spark's Python-DataSource ingest."""
    name = "scan_full"

    def params(self, ctx: Ctx) -> None:
        delta = int(ctx.rng.integers(60, 121))
        self.cutoff = dt.datetime(2001, 12, 1) - dt.timedelta(days=delta)
        ctx.info["q1_delta_days"] = delta
        self.expected = checks.q1_expected(ctx.scan_table, self.cutoff)

    def pushed_filters(self):
        from pyspark.sql.datasource import LessThanOrEqual
        return [LessThanOrEqual(("l_shipdate",), self.cutoff)]

    def kept_rows(self) -> int:
        return sum(r[-1] for r in self.expected)

    def op(self, ctx: Ctx):
        from pyspark.sql import functions as F
        price, disc, tax = _units()
        return (
            self.frame(ctx)
            .filter(F.col("l_shipdate") <= _ts_lit(self.cutoff))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("long")),
                 F.sum(price), F.sum(price * (100 - disc)),
                 F.sum(price * (100 - disc) * (100 + tax)),
                 F.count("*"))
            .orderBy("l_returnflag", "l_linestatus").collect())

    def check(self, ctx: Ctx, rows) -> list[str]:
        got = [tuple(r) for r in rows]
        return [] if got == self.expected else [
            f"Q1 mismatch: got {got!r} expected {self.expected!r}"]


class ScanPushdown(Scan):
    """TPC-H Q6 over the same scan: its predicate runs in the remote
    WHERE, so few rows ship and fixed per-task costs dominate."""
    name = "scan_pushdown"

    def params(self, ctx: Ctx) -> None:
        year = int(ctx.rng.integers(1995, 2001))
        disc = int(ctx.rng.integers(2, 10))
        self.qty = int(ctx.rng.integers(24, 26))
        self.lo, self.hi = dt.datetime(year, 1, 1), dt.datetime(year + 1, 1, 1)
        self.d_lo, self.d_hi = (disc - 1) / 100, (disc + 1) / 100
        ctx.info.update(q6_year=year, q6_discount=disc / 100,
                        q6_quantity=self.qty)
        self.expected = checks.q6_expected(
            ctx.scan_table, self.lo, self.hi, self.d_lo, self.d_hi, self.qty)

    def pushed_filters(self):
        from pyspark.sql.datasource import (
            GreaterThanOrEqual, LessThan, LessThanOrEqual)
        return [GreaterThanOrEqual(("l_shipdate",), self.lo),
                LessThan(("l_shipdate",), self.hi),
                GreaterThanOrEqual(("l_discount",), self.d_lo),
                LessThanOrEqual(("l_discount",), self.d_hi),
                LessThan(("l_quantity",), float(self.qty))]

    def kept_rows(self) -> int:
        return self.expected[1]

    def op(self, ctx: Ctx):
        from pyspark.sql import functions as F
        price, disc, _ = _units()
        c = F.col
        return (
            self.frame(ctx)
            .filter((c("l_shipdate") >= _ts_lit(self.lo))
                    & (c("l_shipdate") < _ts_lit(self.hi))
                    & (c("l_discount") >= F.lit(self.d_lo))
                    & (c("l_discount") <= F.lit(self.d_hi))
                    & (c("l_quantity") < F.lit(float(self.qty))))
            .agg(F.coalesce(F.sum(price * disc), F.lit(0)), F.count("*"))
            .collect())

    def check(self, ctx: Ctx, rows) -> list[str]:
        got = tuple(int(v) for v in rows[0])
        return [] if got == self.expected else [
            f"Q6 mismatch: got {got} expected {self.expected}"]


# ------------------------------------------------------------ write
class WriteCopy:
    """`df.write.format("postgres_scan").mode("overwrite")` of the
    seed-permuted lineitem: vectorised PGCOPY spools per partition,
    then one driver-side COPY FROM STDIN transaction."""
    name = "write_copy"
    needs_server = True

    def rows_per_op(self, ctx: Ctx) -> int:
        return ctx.scan_table.num_rows

    def prepare(self, ctx: Ctx) -> None:
        src = inputs.permuted(ctx.scan_table, ctx.rng)
        self.path = os.path.join(ctx.work, "write_src")
        os.makedirs(self.path, exist_ok=True)
        # one file per Spark slot, so the write runs nproc spool tasks
        step = -(-src.num_rows // ctx.nproc)
        for i in range(ctx.nproc):
            pq.write_table(src.slice(i * step, step),
                           os.path.join(self.path, f"part-{i}.parquet"))
        self.expected = checks.duck_checksum(src)

    def op(self, ctx: Ctx):
        (ctx.spark.read.parquet(self.path).write.format("postgres_scan")
         .option("dsn", ctx.dsn).option("table", WRITE_TABLE)
         .mode("overwrite").save())

    def check(self, ctx: Ctx, _result) -> list[str]:
        from postgres_scanner_spark import pgclient
        with pgclient.connect(ctx.dsn, autocommit=True) as con, \
                con.cursor() as cur:
            got = checks.pg_checksum(cur, WRITE_TABLE)
        return [] if got == self.expected else [
            f"write checksum mismatch: got {got} expected {self.expected}"]


# ------------------------------------------------------------ pipeline
class Pipeline:
    """One pass of twelve registry queries over parquet, with the
    bench-session profile and no connector."""
    name = "pipeline_sf001"
    needs_server = False

    def rows_per_op(self, ctx: Ctx) -> int:
        return self.n_rows

    def prepare(self, ctx: Ctx) -> None:
        """Copy the test data into the run's work directory (the table
        cache may write beside it) and hash the oracle's answers."""
        import importlib.util
        files = sorted(ctx.data_dir.glob("*.parquet"))
        ctx.info["pipeline_data_key"] = inputs.data_key(files)
        self.dir = os.path.join(ctx.work, "pipeline_data")
        os.makedirs(self.dir, exist_ok=True)
        for f in files:
            shutil.copyfile(f, os.path.join(self.dir, f.name))
        self.n_rows = sum(pq.read_metadata(f).num_rows for f in files)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        self.queries = {q: entry.queries()[q] for q in PIPELINE_QUERIES}
        self.expected = checks.oracle_hashes(
            {q: entry.oracle_sql()[q] for q in PIPELINE_QUERIES}, self.dir)

    def session(self, ctx: Ctx) -> None:
        """bench.py's small-data session profile: AQE off, 8 shuffle
        partitions, table cache on and warm."""
        from postgres_scanner_spark import tables
        ctx.spark.conf.set("spark.sql.adaptive.enabled", "false")
        ctx.spark.conf.set("spark.sql.shuffle.partitions", "8")
        tables.warm(ctx.spark, self.dir)

    def op(self, ctx: Ctx):
        from postgres_scanner_spark.runtime import release_scratch
        out = {}
        for q in PIPELINE_QUERIES:
            mod = QUERY_MODULE[q[0]]
            with ctx.tracer.span(f"{mod}.{q}"):
                t = time.perf_counter()
                df = self.queries[q](ctx.spark, self.dir)
                out[q] = (df.columns, [tuple(r) for r in df.collect()],
                          time.perf_counter() - t)
                release_scratch()
        return out

    def check(self, ctx: Ctx, out) -> list[str]:
        return [f"{q}: result hash differs from oracle_sql()"
                for q, (cols, rows, _) in out.items()
                if checks.result_hash(cols, rows) != self.expected[q]]


WORKLOADS = {w.name: w for w in (ScanFull, ScanPushdown, WriteCopy, Pipeline)}
