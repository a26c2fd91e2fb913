"""End-to-end test of the postgres_scan Python DataSource against a
DuckDB file standing in for the Postgres server (reference parity:
test/sql/scanner/* run postgres_scan against a live PG; here the
partition decomposition, pushdown, and Arrow batch path are exercised
for real against the stand-in)."""

import duckdb
import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def duck_db(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("duck") / "pg_standin.db")
    con = duckdb.connect(path)
    con.execute("""
        CREATE TABLE items AS
        SELECT i AS id, 'name_' || (i % 100) AS name,
               (i % 7) * 1.5 AS price,
               CASE WHEN i % 10 = 0 THEN NULL ELSE i % 50 END AS bucket
        FROM range(10000) t(i)
    """)
    con.close()
    return path


@pytest.fixture()
def registered(spark):
    from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
    try:
        spark.dataSource.register(PostgresScanDataSource)
    except Exception:
        pass  # already registered in this session
    return spark


def _scan(spark, duck_db, **opts):
    r = (spark.read.format("postgres_scan")
         .option("dsn", f"duckdb://{duck_db}")
         .option("table", "items"))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_full_scan_schema_and_count(registered, duck_db):
    df = _scan(registered, duck_db)
    assert df.count() == 10000
    assert [f.name for f in df.schema.fields] == ["id", "name", "price", "bucket"]


def test_partitioned_scan_matches(registered, duck_db):
    # 10000 rows / 128 rows-per-page ≈ 79 pages → pages_per_task=10 → 7 tasks
    df = _scan(registered, duck_db, approx_pages="79")
    assert df.count() == 10000
    df2 = _scan(registered, duck_db, approx_pages="79", pages_per_task="10")
    assert df2.rdd.getNumPartitions() > 1
    assert df2.count() == 10000            # disjoint page ranges, no loss
    assert df2.agg(F.sum("id")).collect()[0][0] == sum(range(10000))


def test_filter_pushdown_results(registered, duck_db):
    df = _scan(registered, duck_db).filter(
        (F.col("id") >= 100) & (F.col("id") < 200)
        & F.col("bucket").isNotNull())
    rows = df.collect()
    expect = [i for i in range(100, 200) if i % 10 != 0]
    assert sorted(r.id for r in rows) == expect


def test_null_semantics_through_source(registered, duck_db):
    df = _scan(registered, duck_db)
    n_null = df.filter(F.col("bucket").isNull()).count()
    assert n_null == 1000


def test_attach_duckdb_backend(registered, duck_db, tmp_path):
    """ATTACH a live-database stand-in: tables scan through the
    postgres_scan connector; copy_database snapshots into a store
    (reference: attach_simple.test + attach_copy_from_database.test)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.storage import ManagedStore
    cat = Catalog(registered)
    cat.attach(f"duckdb://{duck_db}", alias="pgdb")
    assert cat.list_tables("pgdb") == ["items"]
    assert cat.table("pgdb", "items").count() == 10000
    # SQL over the attached view
    n = registered.sql(
        "SELECT COUNT(*) AS n FROM pgdb_items WHERE bucket IS NULL"
    ).collect()[0].n
    assert n == 1000
    store = ManagedStore(registered, str(tmp_path / "migrated"))
    copied = cat.copy_database("pgdb", store)
    assert copied == ["items"]
    assert store.scan("items").count() == 10000
    cat.detach("pgdb")


def test_relation_reuse_no_filter_leak(registered, duck_db):
    """A filtered query must not poison later full scans of the same
    load() relation (catalog path: pushdown disabled ⇒ Spark filters
    post-scan; results stay correct under reuse)."""
    df = (registered.read.format("postgres_scan")
          .option("dsn", f"duckdb://{duck_db}")
          .option("table", "items")
          .option("pushdown", "false").load())
    assert df.count() == 10000
    assert df.filter(F.col("bucket").isNull()).count() == 1000
    assert df.count() == 10000    # unchanged after the filtered query


def test_pg_query_passthrough_duckdb(registered, duck_db):
    """postgres_query parity: the attached engine executes the SQL
    text; Spark scans the result (reference: postgres_query.cpp)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_query
    cat = Catalog(registered)
    cat.attach(f"duckdb://{duck_db}", alias="q", register_views=False)
    df = pg_query(cat, "q",
                  "SELECT bucket, COUNT(*) AS n FROM items "
                  "WHERE bucket IS NOT NULL GROUP BY bucket ORDER BY bucket")
    rows = df.collect()
    # i%50 for i not divisible by 10 → 0..49 minus {0,10,20,30,40} = 45
    assert len(rows) == 45
    assert all(r.n > 0 for r in rows)
    cat.detach("q")


def test_pg_query_streams_on_executors(registered, duck_db):
    """pg_query must route through the postgres_scan DataSource (no
    driver-side to_pandas materialization) and survive results larger
    than one Arrow batch (reader batches at 8192 rows)."""
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import pg_query
    cat = Catalog(registered)
    cat.attach(f"duckdb://{duck_db}", alias="qs", register_views=False)
    df = pg_query(cat, "qs", "SELECT id, id * 2 AS dbl FROM items")
    # must be a DataSource relation — a regression back to driver-side
    # to_pandas materialization would plan as LocalRelation/LogicalRDD
    plan = df._jdf.queryExecution().logical().toString()
    assert "DataSource" in plan or "postgres_scan" in plan, plan[:500]
    assert "LocalRelation" not in plan and "LogicalRDD" not in plan, \
        plan[:500]
    assert df.count() == 10000             # > one 8192-row Arrow batch
    assert df.agg(F.sum("dbl")).collect()[0][0] == 2 * sum(range(10000))
    cat.detach("qs")


def test_struct_and_nested_array_through_connector(registered, tmp_path):
    """PG composite → struct and N-dim array → nested list through the
    scan connector (reference: postgres_utils.cpp TypeToLogicalType;
    attach_types_struct.test, attach_existing_multidimensional_array
    .test)."""
    import duckdb as ddb
    path = str(tmp_path / "structs.db")
    con = ddb.connect(path)
    con.execute("""
        CREATE TABLE compound AS
        SELECT i AS id,
               {'name': 'n' || i, 'score': i * 1.5, 'tags': [i, i+1]} AS info,
               [[i, i+1], [i+2]] AS grid
        FROM range(100) t(i)
    """)
    con.close()
    df = (registered.read.format("postgres_scan")
          .option("dsn", f"duckdb://{path}")
          .option("table", "compound").load())
    from pyspark.sql import types as T
    info_t = df.schema["info"].dataType
    assert isinstance(info_t, T.StructType)
    assert [f.name for f in info_t.fields] == ["name", "score", "tags"]
    assert isinstance(info_t["tags"].dataType, T.ArrayType)
    grid_t = df.schema["grid"].dataType
    assert isinstance(grid_t, T.ArrayType)
    assert isinstance(grid_t.elementType, T.ArrayType)
    rows = df.filter(F.col("id") == 3).collect()
    assert rows[0].info.name == "n3"
    assert rows[0].grid == [[3, 4], [5]]
    # struct field access + filter through Spark SQL
    assert df.filter(F.col("info.score") > 100).count() == \
        sum(1 for i in range(100) if i * 1.5 > 100)


def test_geometry_columns_decode_by_udt_not_spark_type():
    """Geometry columns surface as Struct/Array(Double) Spark types,
    which are ambiguous (composite? float8[]?). The probed PG udt
    must drive BOTH the wire OID and the cast suppression so the
    native send format arrives and decodes (regression: point columns
    crashed utf-8 decode; box columns generated invalid ::float8[]
    server casts)."""
    import json
    import struct
    from pyspark.sql import types as T
    from postgres_scanner_spark import types as pgt
    from postgres_scanner_spark.pg_datasource import PostgresScanReader
    from postgres_scanner_spark.pgwire import BinaryCopyReader
    from postgres_scanner_spark.types import GEOMETRY_OIDS

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("p", T.StructType([
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType())])),
        T.StructField("b", T.ArrayType(T.DoubleType())),
        T.StructField("fs", T.ArrayType(T.DoubleType())),  # real float8[]
    ])
    udts = {"p": "point", "b": "box"}
    r = PostgresScanReader(schema, {
        "dsn": "host=h dbname=d", "table": "t",
        "pg_udts": json.dumps(udts)})
    # cast: geometry ships native; the true array still casts
    assert r._col_cast(schema["p"]) == ""
    assert r._col_cast(schema["b"]) == ""
    assert r._col_cast(schema["fs"]) == "::float8[]"
    # the OID/array-col derivation _read_live_pg performs
    from postgres_scanner_spark.pgwire import spark_field_oid
    oids = [GEOMETRY_OIDS.get(udts.get(f.name),
                              spark_field_oid(f.dataType))
            for f in schema.fields]
    assert oids == [pgt.INT8OID, pgt.POINTOID, pgt.BOXOID, pgt.TEXTOID]
    array_cols = {i for i, f in enumerate(schema.fields)
                  if isinstance(f.dataType, T.ArrayType)
                  and udts.get(f.name) not in GEOMETRY_OIDS}
    assert array_cols == {3}
    # and the wire decode of a full row in those native formats
    from tests.test_pgwire import _field, _header, TRAILER
    row = (struct.pack("!h", 4)
           + _field(struct.pack("!q", 7))
           + _field(struct.pack("!dd", 1.0, 2.0))
           + _field(struct.pack("!4d", 2.0, 2.0, 0.0, 0.0))
           + _field(struct.pack("!iii", 1, 0, pgt.FLOAT8OID)
                    + struct.pack("!ii", 2, 1)
                    + struct.pack("!i", 8) + struct.pack("!d", 0.5)
                    + struct.pack("!i", 8) + struct.pack("!d", 1.5)))
    stream = _header() + row + TRAILER
    import io
    reader = BinaryCopyReader(oids, array_cols)
    rows = list(reader.read(io.BytesIO(stream)))
    assert rows == [(7, {"x": 1.0, "y": 2.0},
                     [2.0, 2.0, 0.0, 0.0], [0.5, 1.5])]


def test_read_live_pg_with_mocked_psycopg(monkeypatch):
    """Drive the ACTUAL live-scan method end-to-end: a fake psycopg
    module whose cursor.copy() yields recorded PGCOPY chunks (split at
    awkward boundaries) — verifies the COPY SQL issued, reassembly
    across chunks, and the full frame→RecordBatch decode, i.e.
    everything except the TCP socket (reference:
    postgres_connection.cpp BeginCopyTo + postgres_binary_reader.hpp)."""
    import struct
    import sys
    import types as pytypes
    from pyspark.sql import types as T
    from postgres_scanner_spark import types as pgt
    from postgres_scanner_spark.pg_datasource import PostgresScanReader
    from tests.test_pgwire import _field, _header, TRAILER

    rows = (
        struct.pack("!h", 3)
        + _field(struct.pack("!i", 1)) + _field(b"alice")
        + _field(struct.pack("!d", 1.5))
        + struct.pack("!h", 3)
        + _field(struct.pack("!i", 2)) + _field(None)
        + _field(struct.pack("!d", -2.25))
    )
    stream = _header() + rows + TRAILER
    # ragged chunking exercises reassembly across frames
    chunks = [stream[i:i + 7] for i in range(0, len(stream), 7)]
    issued = []

    class _Copy:
        def __init__(self, sql):
            issued.append(sql)
        def __enter__(self):
            return iter(chunks)
        def __exit__(self, *a):
            return False

    class _Cursor:
        def copy(self, sql):
            return _Copy(sql)
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    class _Conn:
        def cursor(self):
            return _Cursor()
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    fake = pytypes.ModuleType("psycopg")
    fake.connect = lambda dsn: _Conn()
    monkeypatch.setitem(sys.modules, "psycopg", fake)

    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    r = PostgresScanReader(schema, {
        "dsn": "host=fake dbname=db", "table": "t"})
    batches = list(r._read_live_pg(
        'SELECT "id", "name", "v" FROM "public"."t"'))
    # the read yields Arrow batches typed exactly as Spark's own
    # schema conversion, so Spark ingests them without a per-row pass
    from pyspark.sql.pandas.types import to_arrow_schema
    assert all(b.schema == to_arrow_schema(schema) for b in batches)
    out = [tuple(row.values()) for b in batches for row in b.to_pylist()]
    assert out == [(1, "alice", 1.5), (2, None, -2.25)]
    assert issued == ['COPY (SELECT "id", "name", "v" FROM "public"."t") '
                      'TO STDOUT (FORMAT binary)']


@pytest.mark.slow
def test_write_datasource_roundtrip(registered, tmp_path):
    spark = registered
    """df.write.format('postgres_scan') → duckdb backend → read back
    through the same DataSource: append/overwrite modes, values and
    types preserved across the PGCOPY spool (reference:
    postgres_copy_to.cpp — inserts travel as binary COPY)."""
    from pyspark.sql import functions as F
    db = str(tmp_path / "wr.db")
    df = (spark.range(50)
          .select(F.col("id"),
                  (F.col("id") * 1.5).alias("v"),
                  F.concat(F.lit("r"), F.col("id")).alias("s"),
                  F.lit("2024-03-01").cast("date").alias("d"),
                  F.lit("2024-03-01 12:30:45").cast("timestamp_ntz")
                  .alias("ts")))
    (df.write.format("postgres_scan").option("dsn", f"duckdb://{db}")
       .option("table", "tgt").mode("append").save())
    back = (spark.read.format("postgres_scan")
            .option("dsn", f"duckdb://{db}").option("table", "tgt")
            .load())
    assert back.count() == 50
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want
    # overwrite replaces, append accumulates — transactionally
    (df.filter("id < 10").write.format("postgres_scan")
       .option("dsn", f"duckdb://{db}").option("table", "tgt")
       .mode("overwrite").save())
    assert (spark.read.format("postgres_scan")
            .option("dsn", f"duckdb://{db}").option("table", "tgt")
            .load().count()) == 10
    (df.filter("id >= 45").write.format("postgres_scan")
       .option("dsn", f"duckdb://{db}").option("table", "tgt")
       .mode("append").save())
    assert (spark.read.format("postgres_scan")
            .option("dsn", f"duckdb://{db}").option("table", "tgt")
            .load().count()) == 15


def test_query_schema_probe_live_pg_with_mocked_psycopg(monkeypatch):
    """query mode over a live libpq DSN derives its schema from a
    server-side `SELECT * FROM (sql) q LIMIT 0` result descriptor —
    the reference's PostgresQueryBind approach (src/postgres_query.cpp
    binds from the executed query's result set, not the table
    catalog) — so computed/aggregate columns type correctly with no
    explicit .schema()."""
    import sys
    import types as pytypes
    from collections import namedtuple
    from pyspark.sql import types as T
    from postgres_scanner_spark.pg_datasource import (
        PostgresScanDataSource,
    )

    Col = namedtuple(
        "Col", "name type_code display_size internal_size "
               "precision scale null_ok")
    executed = []

    class _Cursor:
        description = None
        def execute(self, sql):
            executed.append(sql)
            self.description = [
                Col("id", 20, None, 8, None, None, True),        # int8
                Col("total", 1700, None, -1, 12, 2, True),  # numeric(12,2)
                Col("ratio", 701, None, 8, None, None, True),   # float8
                Col("tags", 1009, None, -1, None, None, True),  # text[]
                Col("mood", 734242, None, -1, None, None, True),  # enum
            ]
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    class _Conn:
        def cursor(self):
            return _Cursor()
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    fake = pytypes.ModuleType("psycopg")
    fake.connect = lambda dsn: _Conn()
    monkeypatch.setitem(sys.modules, "psycopg", fake)

    ds = PostgresScanDataSource(options={
        "dsn": "host=fake dbname=db",
        "query": "SELECT id, SUM(x) AS total, AVG(y) AS ratio, "
                 "tags, mood FROM t GROUP BY id, tags, mood;  ",
    })
    schema = ds.schema()
    assert executed == [
        "SELECT * FROM (SELECT id, SUM(x) AS total, AVG(y) AS ratio, "
        "tags, mood FROM t GROUP BY id, tags, mood) _pg_spark_probe "
        "LIMIT 0"]
    assert schema == T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("total", T.DecimalType(12, 2), True),
        T.StructField("ratio", T.DoubleType(), True),
        T.StructField("tags", T.ArrayType(T.StringType(), True), True),
        T.StructField("mood", T.StringType(), True),  # enum→varchar
    ])


def test_write_live_pg_with_mocked_psycopg(monkeypatch):
    """Drive the live-PG commit path: partitions spool PGCOPY binary
    (executor half, run directly), then commit() replays each spool
    as COPY .. FROM STDIN (FORMAT binary) on one mocked connection —
    captured bytes must decode back to the exact rows, and overwrite
    must REPLACE the table definition (DROP + CREATE from the write
    schema, matching the duckdb backend) before any COPY, inside the
    same transaction: binary COPY maps columns positionally, so a
    surviving table with different column order/types would load
    mis-mapped rows."""
    import io
    import sys
    import types as pytypes
    from decimal import Decimal
    from pyspark.sql import types as T
    from postgres_scanner_spark.copyio import _pg_binary_layout
    from postgres_scanner_spark.pg_datasource import PostgresScanWriter
    from postgres_scanner_spark.pgwire import BinaryCopyReader

    executed, copied, committed = [], [], []

    class _Copy:
        def __init__(self, sql):
            self.sql, self.buf = sql, bytearray()
        def write(self, b):
            self.buf.extend(b)
        def __enter__(self):
            return self
        def __exit__(self, *a):
            copied.append((self.sql, bytes(self.buf)))
            return False

    class _Cursor:
        existing_def: list = []
        def execute(self, sql, params=None):
            executed.append(sql)
        def fetchall(self):
            return list(_Cursor.existing_def)
        def copy(self, sql):
            return _Copy(sql)
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    class _Conn:
        def cursor(self):
            return _Cursor()
        def commit(self):
            committed.append(True)
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    fake = pytypes.ModuleType("psycopg")
    fake.connect = lambda dsn: _Conn()
    monkeypatch.setitem(sys.modules, "psycopg", fake)

    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("price", T.DecimalType(10, 2)),
        T.StructField("tags", T.ArrayType(T.IntegerType())),
    ])
    w = PostgresScanWriter(
        schema, {"dsn": "host=fake dbname=db", "table": "t"},
        overwrite=True)
    msgs = [w.write(iter([(1, Decimal("10.25"), [1, 2]),
                          (2, Decimal("-3.50"), [])])),
            w.write(iter([(3, None, None)]))]
    assert [m.n_rows for m in msgs] == [2, 1]
    w.commit(msgs)
    create_sql = ('CREATE TABLE IF NOT EXISTS "public"."t" '
                  '("id" INTEGER, "price" NUMERIC(10,2), '
                  '"tags" INTEGER[])')
    assert executed[0].startswith("SELECT column_name, udt_name")
    assert executed[1:] == [
        'DROP TABLE IF EXISTS "public"."t"',
        create_sql,
    ]
    assert committed == [True]
    # overwrite onto a MATCHING existing definition TRUNCATEs instead
    # of DROP+CREATE — indexes/grants/views on the target survive
    executed.clear()
    _Cursor.existing_def = [
        ("id", "int4", None, 32, 0, None),    # intrinsic width,
        ("price", "numeric", None, 10, 2, None),   # NOT an int4 typmod
        ("tags", "_int4", None, None, None, None)]
    msgs2 = [w.write(iter([(9, None, None)]))]
    w.commit(msgs2)
    assert executed[1:] == ['TRUNCATE TABLE "public"."t"', create_sql]
    # same base types but a DIFFERENT typmod (numeric scale) must
    # NOT truncate: the surviving column would silently round values
    executed.clear()
    _Cursor.existing_def = [
        ("id", "int4", None, 32, 0, None),
        ("price", "numeric", None, 12, 6, None),
        ("tags", "_int4", None, None, None, None)]
    w.commit([w.write(iter([(7, None, None)]))])
    assert executed[1] == 'DROP TABLE IF EXISTS "public"."t"'
    copied.pop()
    _Cursor.existing_def = []
    assert [sql for sql, _ in copied] == [
        'COPY "public"."t" FROM STDIN (FORMAT binary)'] * 3
    copied.pop()            # the truncate-path batch; decode the rest
    oids, _, _, array_cols = _pg_binary_layout(schema)
    decoded = [r for _, b in copied
               for r in BinaryCopyReader(oids, array_cols)
               .read(io.BytesIO(b))]
    assert decoded == [(1, Decimal("10.25"), [1, 2]),
                       (2, Decimal("-3.50"), []),
                       (3, None, None)]
    import os
    assert not os.path.exists(w.spool)


def test_write_overwrite_replaces_schema(registered, tmp_path):
    """Overwrite must REPLACE the table definition: a pre-existing
    table with different column order/types must not survive and
    receive positionally mis-mapped rows."""
    from pyspark.sql import functions as F
    spark = registered
    db = str(tmp_path / "ow.db")
    (spark.range(3).select(F.concat(F.lit("n"), F.col("id")).alias("a"),
                           F.col("id").alias("b"))
     .write.format("postgres_scan").option("dsn", f"duckdb://{db}")
     .option("table", "t").mode("append").save())
    # overwrite with swapped column order and different types
    (spark.range(2).select(F.col("id").alias("b"),
                           F.concat(F.lit("x"), F.col("id")).alias("a"))
     .write.format("postgres_scan").option("dsn", f"duckdb://{db}")
     .option("table", "t").mode("overwrite").save())
    back = (spark.read.format("postgres_scan")
            .option("dsn", f"duckdb://{db}").option("table", "t").load())
    assert back.columns == ["b", "a"]
    assert {(r.b, r.a) for r in back.collect()} == {(0, "x0"), (1, "x1")}


def test_stream_reader_incremental_offsets(registered, tmp_path):
    """spark.readStream.format('postgres_scan'): run 1 drains the
    table, rows land in the source, run 2 resumes from the stream
    checkpoint and must read ONLY the new keys (CDC-style polling by
    monotonic key)."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    db = str(tmp_path / "s.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev(id BIGINT, v VARCHAR)")
    con.execute("INSERT INTO ev SELECT range, 'a' || range FROM range(10)")
    con.close()
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run():
        q = (spark.readStream.format("postgres_scan").schema(schema)
             .option("dsn", f"duckdb://{db}").option("table", "ev")
             .option("stream_key", "id").load()
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    run()
    assert spark.read.parquet(sink).count() == 10
    con = duckdb.connect(db)
    con.execute("INSERT INTO ev SELECT range + 10, 'b' || range FROM range(5)")
    con.close()
    run()
    out = spark.read.parquet(sink)
    assert out.count() == 15                      # nothing re-read
    assert out.filter("id >= 10").count() == 5    # new keys arrived


def test_stream_writer_end_to_end(registered, tmp_path):
    """The full streaming quadrant: postgres_scan streaming SOURCE →
    postgres_scan streaming SINK — rows poll out of one database by
    monotonic key and land in another via the per-batch PGCOPY
    spool-then-commit transaction."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    src_db = str(tmp_path / "src.db")
    dst_db = str(tmp_path / "dst.db")
    con = duckdb.connect(src_db)
    con.execute("CREATE TABLE ev AS SELECT range AS id FROM range(20)")
    con.close()
    schema = T.StructType([T.StructField("id", T.LongType())])
    q = (spark.readStream.format("postgres_scan").schema(schema)
         .option("dsn", f"duckdb://{src_db}").option("table", "ev")
         .option("stream_key", "id").load()
         .writeStream.format("postgres_scan")
         .option("dsn", f"duckdb://{dst_db}").option("table", "tgt")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    con = duckdb.connect(dst_db, read_only=True)
    n, s = con.sql("SELECT COUNT(*), SUM(id) FROM tgt").fetchall()[0]
    con.close()
    assert (n, s) == (20, 190)


def test_stream_reader_rejects_non_integer_key(registered, tmp_path):
    """Offsets must JSON-serialize and splice into SQL safely — only
    integer stream keys are accepted."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    db = str(tmp_path / "k.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev(name VARCHAR)")
    con.close()
    schema = T.StructType([T.StructField("name", T.StringType())])
    with pytest.raises(Exception, match="integer column"):
        (spark.readStream.format("postgres_scan").schema(schema)
         .option("dsn", f"duckdb://{db}").option("table", "ev")
         .option("stream_key", "name").load()
         .writeStream.format("memory").queryName("nk")
         .trigger(availableNow=True).start().awaitTermination(60))


def test_stream_reader_poll_cap(registered, tmp_path):
    """max_rows_per_poll bounds each database FETCH, not run
    coverage: a single availableNow run drains the whole backlog
    present at query start (the trigger's contract), pulling it in
    capped key-range scans — no rows lost or re-read."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    db = str(tmp_path / "cap.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev AS SELECT range AS id FROM range(25)")
    con.close()
    schema = T.StructType([T.StructField("id", T.LongType())])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")

    q = (spark.readStream.format("postgres_scan").schema(schema)
         .option("dsn", f"duckdb://{db}").option("table", "ev")
         .option("stream_key", "id")
         .option("max_rows_per_poll", "10").load()
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 25
    assert out.select("id").distinct().count() == 25


def test_stream_reader_capped_scan_loop():
    """Executor-free check of the capped drain: read() must issue
    successive capped scans (each no larger than the cap) and return
    the union with the final offset in ONE call."""
    from pyspark.sql import types as T
    from postgres_scanner_spark.pg_datasource import (
        PostgresScanStreamReader,
    )

    schema = T.StructType([T.StructField("id", T.LongType())])
    r = PostgresScanStreamReader(
        schema, {"dsn": "duckdb://ignored", "table": "ev",
                 "stream_key": "id", "max_rows_per_poll": "10"})
    calls = []

    def fake_scan(lo, hi=None, limit=0):
        calls.append((lo, hi, limit))
        rows = [(i,) for i in range(0 if lo is None else lo + 1, 25)
                if hi is None or i <= hi]
        return rows[:limit] if limit else rows

    r._scan = fake_scan
    it, off = r.read({"last_key": None})
    assert [row[0] for row in it] == list(range(25))
    assert off == {"last_key": 24}
    # every database fetch is capped at 10 (the whole-key-group
    # re-fetches are keyed single-value range scans, uncapped by
    # design), and the loop ends on an empty probe
    assert all(limit == 10 for lo, hi, limit in calls if hi is None)
    assert calls[-1] == (24, None, 10)
    # empty backlog: offset unchanged, single probe
    calls.clear()
    it, off = r.read({"last_key": 24})
    assert list(it) == [] and off == {"last_key": 24}
    assert calls == [(24, None, 10)]


def test_stream_reader_capped_scan_whole_key_groups():
    """A run of EQUAL stream-key values straddling the LIMIT boundary
    must not lose its tail: the capped fetch drops the boundary key
    and re-fetches that key's whole group (keys are offsets, so a
    split group would be skipped by the next '> last' scan)."""
    from pyspark.sql import types as T
    from postgres_scanner_spark.pg_datasource import (
        PostgresScanStreamReader,
    )

    schema = T.StructType([T.StructField("id", T.LongType())])
    r = PostgresScanStreamReader(
        schema, {"dsn": "duckdb://ignored", "table": "ev",
                 "stream_key": "id", "max_rows_per_poll": "4"})
    # 3 rows of key 1, then 4 rows of key 2, then key 3
    data = [(1,), (1,), (1,), (2,), (2,), (2,), (2,), (3,)]

    def fake_scan(lo, hi=None, limit=0):
        rows = [t for t in data
                if (lo is None or t[0] > lo)
                and (hi is None or t[0] <= hi)]
        return rows[:limit] if limit else rows

    r._scan = fake_scan
    it, off = r.read({"last_key": None})
    assert list(it) == data          # nothing lost, nothing doubled
    assert off == {"last_key": 3}


def test_call_postgres_attach_rejects_malformed_and_collision(
        registered, tmp_path):
    """Malformed/positional CALL arguments raise instead of silently
    attaching the wrong surface, and a second CALL deriving the SAME
    alias for a DIFFERENT source errors without overwrite=true."""
    import duckdb
    import pytest as _pytest
    from postgres_scanner_spark.catalog import Catalog
    from postgres_scanner_spark.queryfn import execute_statement
    a = str(tmp_path / "x" / "data.db")
    b = str(tmp_path / "y" / "data.db")
    for p in (a, b):
        __import__("os").makedirs(__import__("os").path.dirname(p))
        con = duckdb.connect(p)
        con.execute("CREATE TABLE t AS SELECT 1 AS v")
        con.close()
    cat = Catalog(registered)
    with _pytest.raises(ValueError, match="malformed postgres_attach"):
        execute_statement(
            cat, f"CALL postgres_attach('duckdb://{a}', 'public')")
    execute_statement(cat, f"CALL postgres_attach('duckdb://{a}')")
    # same source again: IF NOT EXISTS no-op
    execute_statement(cat, f"CALL postgres_attach('duckdb://{a}')")
    with _pytest.raises(ValueError, match="DIFFERENT source"):
        execute_statement(cat, f"CALL postgres_attach('duckdb://{b}')")
    execute_statement(
        cat, f"CALL postgres_attach('duckdb://{b}', overwrite=true)")
    assert cat.attached["data"].source == f"duckdb://{b}"
    cat.detach("data")


# ---------------------------------------------------------------------------
# Partitioned (executor-side) stream reader — S29's 100x path
# ---------------------------------------------------------------------------

def test_partitioned_stream_reader_slices():
    """partitions(start, end) must split a capped backlog into >1
    value-range slice (the property that moves row traffic off the
    driver), with exact coverage: slices tile (lo, hi] with no gap,
    no overlap, and duplicate-key groups never straddle a boundary."""
    from pyspark.sql import types as T
    from postgres_scanner_spark import pg_datasource as pgd

    schema = T.StructType([T.StructField("id", T.LongType())])
    r = pgd.PostgresScanPartitionedStreamReader(
        schema, {"dsn": "duckdb://ignored", "table": "ev",
                 "stream_key": "id", "max_rows_per_poll": "10"})
    # sparse keys + one duplicate run: 0..9, 1000..1004 (x2 each)
    keys = list(range(10)) + [k for k in range(1000, 1005) for _ in (0, 1)]

    probe_conns = []

    class FakeProbeConn:
        # the boundary walk must reuse ONE connection for all its
        # probes (ADVICE r7: per-probe connect/auth dominates a fresh
        # stream's initial backlog walk)
        def __init__(self, dsn):
            probe_conns.append(self)

        def exec(self, sql):
            # keyset boundary probe: one ORDER BY ... OFFSET n LIMIT 1
            # index walk per slice (cost ∝ slice count, not backlog)
            import re
            assert "OFFSET" in sql and "LIMIT 1" in sql
            m = re.search(r'> (\d+)', sql)
            lo = int(m.group(1)) if m else None
            off = int(re.search(r'OFFSET (\d+)', sql).group(1))
            ks = sorted(k for k in keys
                        if (lo is None or k > lo) and k <= 1004)
            return [(ks[off],)] if off < len(ks) else []

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    orig = pgd._ProbeConn
    pgd._ProbeConn = FakeProbeConn
    try:
        slices = r.partitions({"last_key": None}, {"last_key": 1004})
    finally:
        pgd._ProbeConn = orig
    assert len(probe_conns) == 1          # whole walk on one connection
    assert len(slices) > 1                       # >1 input partition
    assert slices[0].lo is None
    for a, b in zip(slices, slices[1:]):
        assert a.hi == b.lo                      # no gap, no overlap
    assert slices[-1].hi == 1004
    # every key lands in exactly one (lo, hi] slice
    for k in keys:
        owners = [s for s in slices
                  if (s.lo is None or k > s.lo) and k <= s.hi]
        assert len(owners) == 1


def test_partitioned_stream_reader_empty_and_uncapped(tmp_path):
    """start == end (or a stale max) plans zero partitions WITHOUT
    touching the source; with no explicit cap the default still
    SLICES (boundary probe against the source — a fresh stream's
    backlog must never plan as one unbounded slice), and
    max_rows_per_batch is honored as the slice size."""
    import duckdb
    from pyspark.sql import types as T
    from postgres_scanner_spark import pg_datasource as pgd

    schema = T.StructType([T.StructField("id", T.LongType())])
    # empty-range cases never open a connection: a bogus dsn proves it
    r = pgd.PostgresScanPartitionedStreamReader(
        schema, {"dsn": "duckdb://ignored", "table": "ev",
                 "stream_key": "id"})
    assert r.max_rows == 1_000_000          # bounded default, never 0
    assert r.partitions({"last_key": 5}, {"last_key": 5}) == []
    assert r.partitions({"last_key": 9}, {"last_key": 7}) == []
    assert r.partitions({"last_key": None}, {"last_key": None}) == []
    db = str(tmp_path / "slice.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev AS SELECT range AS id FROM range(10)")
    con.close()
    r2 = pgd.PostgresScanPartitionedStreamReader(
        schema, {"dsn": f"duckdb://{db}", "table": "ev",
                 "stream_key": "id"})
    (s1,) = r2.partitions({"last_key": 3}, {"last_key": 9})
    assert (s1.lo, s1.hi) == (3, 9)          # under the cap: one slice
    # the Simple reader's memory-cap option doubles as the slice size
    r3 = pgd.PostgresScanPartitionedStreamReader(
        schema, {"dsn": f"duckdb://{db}", "table": "ev",
                 "stream_key": "id", "max_rows_per_batch": "2"})
    assert r3.max_rows == 2
    parts = r3.partitions({"last_key": None}, {"last_key": 9})
    assert len(parts) == 5                   # 10 rows / 2 per slice
    got = [row[0] for p_ in parts for row in r3.read(p_)]
    assert got == list(range(10))


def test_partitioned_stream_reader_end_to_end(registered, tmp_path):
    """Default streaming path e2e: capped run drains the backlog via
    executor-side slices (no driver row funnel), resumes from the
    checkpoint, and a Simple-reader run against the SAME checkpoint
    continues cleanly (offset wire-compat)."""
    import duckdb
    from pyspark.sql import types as T
    spark = registered
    db = str(tmp_path / "p.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ev AS SELECT range AS id, "
                "'v' || range AS v FROM range(37)")
    con.close()
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")

    def run(extra=()):
        q = (spark.readStream.format("postgres_scan").schema(schema)
             .option("dsn", f"duckdb://{db}").option("table", "ev")
             .option("stream_key", "id")
             .option("max_rows_per_poll", "10")
             .options(**dict(extra))
             .load()
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    run()
    out = spark.read.parquet(sink)
    assert out.count() == 37
    assert out.select("id").distinct().count() == 37
    con = duckdb.connect(db)
    con.execute("INSERT INTO ev SELECT range + 37, 'n' || range "
                "FROM range(8)")
    con.close()
    # resume under the SIMPLE reader from the partitioned checkpoint
    run(extra={"stream_reader": "simple"})
    out = spark.read.parquet(sink)
    assert out.count() == 45                 # nothing re-read or lost
    assert out.filter("id >= 37").count() == 8


def test_simple_stream_reader_batch_cap():
    """max_rows_per_batch bounds the TOTAL rows one Simple read()
    assembles on the driver (whole key groups kept); the next batch
    resumes from the returned offset, so several bounded batches
    drain what one unbounded batch used to."""
    from pyspark.sql import types as T
    from postgres_scanner_spark.pg_datasource import (
        PostgresScanStreamReader,
    )

    schema = T.StructType([T.StructField("id", T.LongType())])
    r = PostgresScanStreamReader(
        schema, {"dsn": "duckdb://ignored", "table": "ev",
                 "stream_key": "id", "max_rows_per_poll": "10",
                 "max_rows_per_batch": "20"})

    def fake_scan(lo, hi=None, limit=0):
        rows = [(i,) for i in range(0 if lo is None else lo + 1, 55)
                if hi is None or i <= hi]
        return rows[:limit] if limit else rows

    r._scan = fake_scan
    seen, off = [], {"last_key": None}
    for _ in range(10):
        it, off2 = r.read(off)
        rows = list(it)
        if not rows:
            break
        assert len(rows) <= 20               # the driver-memory cap
        seen += rows
        off = off2
    assert [t[0] for t in seen] == list(range(55))
    assert off == {"last_key": 54}
