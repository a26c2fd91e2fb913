"""The postgres_scan connector's backend seam (pg_datasource._source).

One private source object per DSN scheme carries everything the
reader, the stream readers and the writer need from the database.
These tests pin the batch task SQL each source renders, the schema
option on every path that names a table, and the two satellites that
ride on the connector: registration errors from Catalog.attach and
pg_debug_show_queries going through `logging`.
"""

import json
import logging
import types as pytypes

import pytest
from pyspark.sql import types as T
from pyspark.sql.datasource import GreaterThan, In

from tests.conftest import *  # noqa: F401,F403  (spark fixture)
from tests.test_live_pg import _have_server, pg_server  # noqa: F401

_PG = "host=h dbname=d"
_DUCK = "duckdb:///x.db"
_FILTERS = [GreaterThan(("id",), 5), In(("s",), ("a", "b"))]
_WHERE = "\"id\" > 5 AND \"s\" IN ('a', 'b')"
_PG_COLS = '"id"::int8 AS "id", "s"::text AS "s", "p" AS "p"'
_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()), T.StructField("s", T.StringType()),
    T.StructField("p", T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType())]))])


@pytest.mark.parametrize("dsn,opts,pushed,want", [
    (_DUCK, {}, False, ['SELECT "id", "s", "p" FROM "t"']),
    (_DUCK, {"approx_pages": "4", "pages_per_task": "2"}, True, [
        f'SELECT "id", "s", "p" FROM "t" WHERE rowid >= 0 '
        f'AND rowid < 256 AND {_WHERE}',
        f'SELECT "id", "s", "p" FROM "t" WHERE rowid >= 256 '
        f'AND rowid < 274877906816 AND {_WHERE}']),
    (_DUCK, {"schema": "s"}, True,
     [f'SELECT "id", "s", "p" FROM "s"."t" WHERE {_WHERE}']),
    (_DUCK, {"query": "SELECT 1"}, True, ["SELECT 1"]),
    (_PG, {"approx_pages": "1"}, False,
     [f'SELECT {_PG_COLS} FROM "public"."t"']),
    (_PG, {"approx_pages": "4", "pages_per_task": "2"}, True, [
        f'SELECT {_PG_COLS} FROM "public"."t" WHERE ctid BETWEEN '
        f"'(0,0)'::tid AND '(2,0)'::tid AND {_WHERE}",
        f'SELECT {_PG_COLS} FROM "public"."t" WHERE ctid BETWEEN '
        f"'(2,0)'::tid AND '(2147483647,0)'::tid AND {_WHERE}"]),
    (_PG, {"approx_pages": "1", "schema": "s"}, True,
     [f'SELECT {_PG_COLS} FROM "s"."t" WHERE {_WHERE}']),
    (_PG, {"query": "SELECT 1"}, True,
     [f"SELECT {_PG_COLS} FROM (SELECT 1) AS q"]),
])
def test_batch_task_sql(dsn, opts, pushed, want):
    """Each source renders the select list, table reference and page
    predicate of a batch task; no connection is opened (approx_pages
    is given, duckdb never probes)."""
    from postgres_scanner_spark.pg_datasource import PostgresScanReader
    r = PostgresScanReader(_SCHEMA, dict(
        opts, dsn=dsn, table="t", pg_udts=json.dumps({"p": "point"})))
    list(r.pushFilters(_FILTERS if pushed else []))
    assert [t.sql for t in r.partitions()] == want


def _schema_db(tmp_path):
    """A duckdb file whose only table is `s.t` (5 rows)."""
    import duckdb
    db = str(tmp_path / "src.db")
    con = duckdb.connect(db)
    con.execute("CREATE SCHEMA s")
    con.execute("CREATE TABLE s.t AS SELECT range AS id, "
                "'v' || range AS v FROM range(5)")
    con.close()
    return db


_STREAM_SCHEMA = T.StructType([T.StructField("id", T.LongType()),
                               T.StructField("v", T.StringType())])


def test_stream_readers_honour_schema_option(tmp_path):
    """Both stream readers read `s.t` when option("schema") is s, like
    the batch reader does: the offset probe, the boundary walk and the
    slice reads all use the source's table reference."""
    from postgres_scanner_spark.pg_datasource import (
        PostgresScanPartitionedStreamReader, PostgresScanStreamReader,
    )
    opts = {"dsn": f"duckdb://{_schema_db(tmp_path)}", "schema": "s",
            "table": "t", "stream_key": "id", "max_rows_per_poll": "2"}
    part = PostgresScanPartitionedStreamReader(_STREAM_SCHEMA, opts)
    end = part.latestOffset()
    assert end == {"last_key": 4}
    slices = part.partitions(part.initialOffset(), end)
    assert len(slices) == 3
    assert [r[0] for s in slices for r in part.read(s)] == list(range(5))
    simple = PostgresScanStreamReader(_STREAM_SCHEMA, opts)
    rows, off = simple.read(simple.initialOffset())
    assert [r[0] for r in rows] == list(range(5))
    assert off == {"last_key": 4}
    assert [r[0] for r in simple.readBetweenOffsets(
        {"last_key": 1}, {"last_key": 3})] == [2, 3]


def test_duckdb_writer_honours_schema_option(tmp_path):
    """A duckdb write with schema=s, table=w lands in s.w, the same
    target the libpq writer renders, and overwrite replaces s.w."""
    import duckdb
    from postgres_scanner_spark.pg_datasource import PostgresScanWriter
    db = _schema_db(tmp_path)
    opts = {"dsn": f"duckdb://{db}", "schema": "s", "table": "w"}
    for overwrite, rows in ((False, [(1, "a"), (2, "b")]),
                            (True, [(3, "c")])):
        w = PostgresScanWriter(_STREAM_SCHEMA, opts, overwrite)
        w.commit([w.write(iter(rows))])
    con = duckdb.connect(db, read_only=True)
    try:
        assert con.execute("SELECT * FROM s.w").fetchall() == [(3, "c")]
        assert con.execute(
            "SELECT count(*) FROM information_schema.tables "
            "WHERE table_name = 'w'").fetchone() == (1,)
    finally:
        con.close()


def test_source_factory():
    """The factory is the one scheme check: duckdb tables stay
    unqualified unless a schema is named, libpq ones default to
    public."""
    from postgres_scanner_spark.pg_datasource import (
        _DuckSource, _PgSource, _source,
    )
    duck = _source({"dsn": "duckdb:///tmp/a.db"})
    assert isinstance(duck, _DuckSource) and duck.dsn == "/tmp/a.db"
    assert duck.table_ref("t") == '"t"'
    assert _source({"dsn": _DUCK, "schema": "s"}).table_ref("t") == \
        '"s"."t"'
    pg = _source({"dsn": _PG})
    assert isinstance(pg, _PgSource) and pg.dsn == _PG
    assert pg.table_ref("t") == '"public"."t"'


def _fake_spark(register):
    return pytypes.SimpleNamespace(
        dataSource=pytypes.SimpleNamespace(register=register))


def test_attach_surfaces_registration_errors():
    """Catalog.attach registers the connector through
    ensure_registered: a duplicate registration is tolerated, any
    other failure raises and leaves no alias behind."""
    from postgres_scanner_spark.catalog import Catalog

    def already(_ds):
        raise RuntimeError("data source postgres_scan already exists")

    def broken(_ds):
        raise RuntimeError("worker import failed")

    cat = Catalog(_fake_spark(already))
    cat.attach("duckdb:///x.db", "ok", register_views=False)
    assert "ok" in cat.attached
    cat = Catalog(_fake_spark(broken))
    with pytest.raises(RuntimeError, match="worker import failed"):
        cat.attach("duckdb:///x.db", "bad", register_views=False)
    assert "bad" not in cat.attached


def test_debug_show_queries_logs(caplog, capsys):
    """pg_debug_show_queries logs each generated query on the
    `postgres_scanner_spark.queries` logger instead of printing it;
    the setting stays the gate."""
    from postgres_scanner_spark.pg_datasource import PostgresScanReader
    from postgres_scanner_spark.scan import build_jdbc_options
    from postgres_scanner_spark.settings import SETTINGS
    r = PostgresScanReader(_SCHEMA, {
        "dsn": _DUCK, "table": "t", "approx_pages": "4",
        "pages_per_task": "2"})
    caplog.set_level(logging.INFO, logger="postgres_scanner_spark.queries")
    r.partitions()
    assert caplog.records == []
    SETTINGS.set("pg_debug_show_queries", True)
    try:
        sqls = [t.sql for t in r.partitions()]
        build_jdbc_options(_PG, "t", columns=["id"])
    finally:
        SETTINGS.set("pg_debug_show_queries", False)
    assert {rec.name for rec in caplog.records} == \
        {"postgres_scanner_spark.queries"}
    assert [rec.getMessage() for rec in caplog.records] == sqls + [
        'SELECT "id" FROM "public"."t"']
    assert capsys.readouterr().out == ""


@pytest.mark.slow
@pytest.mark.skipif(not _have_server(),
                    reason="no postgres server binaries in PATH")
def test_live_schema_option_stream_and_write(pg_server):
    """Live server: the libpq stream readers and writer target the
    named schema, not public."""
    from postgres_scanner_spark import pgclient
    from postgres_scanner_spark.pg_datasource import (
        PostgresScanPartitionedStreamReader, PostgresScanStreamReader,
        PostgresScanWriter,
    )
    with pgclient.connect(pg_server, autocommit=True) as con, \
            con.cursor() as cur:
        cur.execute("CREATE SCHEMA s")
        cur.execute("CREATE TABLE s.t AS SELECT g::int8 AS id, "
                    "'v' || g AS v FROM generate_series(0, 4) g")
    opts = {"dsn": pg_server, "schema": "s", "table": "t",
            "stream_key": "id", "max_rows_per_poll": "2"}
    r = PostgresScanPartitionedStreamReader(_STREAM_SCHEMA, opts)
    slices = r.partitions(r.initialOffset(), r.latestOffset())
    assert [x[0] for s in slices for x in r.read(s)] == list(range(5))
    simple = PostgresScanStreamReader(_STREAM_SCHEMA, opts)
    rows, _ = simple.read(simple.initialOffset())
    assert [x[0] for x in rows] == list(range(5))
    w = PostgresScanWriter(_STREAM_SCHEMA, dict(opts, table="w"), True)
    w.commit([w.write(iter([(7, "x")]))])
    with pgclient.connect(pg_server) as con, con.cursor() as cur:
        cur.execute("SELECT * FROM s.w")
        assert cur.fetchall() == [(7, "x")]
