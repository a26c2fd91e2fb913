"""Attach/detach catalog — the ATTACH (TYPE postgres) surface.

Parity with reference src/postgres_attach.cpp + src/storage/
postgres_catalog.cpp: an attached database exposes its tables as
queryable relations, supports listing, size introspection, a schema
cache with pg_clear_cache, and (through storage.py) writable DML.

Spark-first: an attached source registers each table as a temp view
`{alias}_{table}` and in `spark.sql` via those names. Two backends:
  - "parquet": a directory of {table}.parquet (the test container's
    stand-in for a database) or a managed store dir (storage.py).
  - "jdbc": a live Postgres via scan.jdbc_scan (not reachable in the
    test container; construction logic unit-tested).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .connection import ConnectionInfo, parse_dsn, resolve_secret
from .scan import jdbc_scan, parquet_scan


def _is_store_dir(path: str) -> bool:
    """A ManagedStore root: the _managed_store marker (written by
    ManagedStore.__init__ so even an empty store attaches writable),
    or legacy layout markers — subdirectories with a _current pointer,
    a _schema namespace marker, or stored view SQL."""
    try:
        if os.path.isfile(os.path.join(path, "_managed_store")):
            return True
        return any(
            os.path.isfile(os.path.join(path, d, "_current"))
            or os.path.isfile(os.path.join(path, d, "_schema"))
            or d.endswith(".view.sql")
            for d in os.listdir(path))
    except OSError:
        return False


@dataclass
class AttachedDatabase:
    alias: str
    source: str                   # dsn or directory path
    backend: str                  # "parquet" | "store" | "duckdb" | "jdbc"
    read_only: bool = False
    conn: ConnectionInfo | None = None
    store: object = None          # ManagedStore when backend == "store"
    schema: str | None = None     # attach restricted to one schema
    _table_cache: dict[str, DataFrame] = field(default_factory=dict)
    views: list[str] = field(default_factory=list)  # every temp view we own

    def table_names(self) -> list[str]:
        if self.backend == "store":
            tables = self.store.tables()
            if self.schema is not None:
                # SCHEMA attach param (attach_schema_param.test):
                # expose only that schema's tables
                tables = [t for t in tables
                          if t.partition(".")[0] == self.schema
                          and "." in t]
            return tables
        if self.backend == "parquet":
            return sorted(
                f[: -len(".parquet")]
                for f in os.listdir(self.source)
                if f.endswith(".parquet")
            )
        if self.backend == "duckdb":
            import duckdb
            con = duckdb.connect(self.source[len("duckdb://"):],
                                 read_only=True)
            if self.schema is not None:
                # source_schema restriction (reference: bug63.test
                # postgres_attach(..., source_schema='some_schema'))
                names = [r[0] for r in con.execute(
                    "SELECT table_name FROM information_schema.tables "
                    "WHERE table_schema = ? ORDER BY table_name",
                    [self.schema]).fetchall()]
            else:
                names = [r[0] for r in
                         con.execute("SHOW TABLES").fetchall()]
            con.close()
            return sorted(names)
        raise NotImplementedError("jdbc catalog listing needs a live server")


class Catalog:
    """Session-level registry of attached databases
    (reference: storage/postgres_catalog.cpp)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.attached: dict[str, AttachedDatabase] = {}
        # session's current database (SQL USE); owned here so the
        # direct API and the SQL router stay consistent
        self.current: str | None = None
        # SET pg_array_as_varchar invalidates cached table schemas
        # (reference: postgres_extension.cpp:171-173 ClearCacheOnSetting)
        from .settings import register_cache_clearer
        register_cache_clearer(self.clear_cache)

    # -- reference: postgres_attach.cpp AttachFunction
    def attach(self, source: str, alias: str = "pg", *,
               read_only: bool = False, register_views: bool = True,
               schema: str | None = None) -> AttachedDatabase:
        """`schema` restricts the attach to one namespace (reference:
        ATTACH ... (TYPE POSTGRES, SCHEMA 'x'), attach_schema_param
        .test): only that schema's tables register, addressable both
        qualified and by bare table name."""
        if alias in self.attached:
            raise ValueError(f"database {alias!r} already attached")
        if source.startswith("secret:"):
            # credential-free attach (reference: attach_secret.test):
            # the DSN comes from the secret registry, never the string
            info = resolve_secret(source[len("secret:"):])
            db = AttachedDatabase(alias, source, "jdbc", read_only,
                                  conn=info)
            db.schema = schema
            self.attached[alias] = db
            return db
        if os.path.isdir(source) and _is_store_dir(source):
            # a ManagedStore directory: writable attached database
            from .storage import ManagedStore
            db = AttachedDatabase(alias, source, "store", read_only)
            db.store = ManagedStore(self.spark, source)
        elif os.path.isdir(source):
            db = AttachedDatabase(alias, source, "parquet", read_only)
        elif source.startswith("duckdb://"):
            # live-database stand-in: reads go through the postgres_scan
            # DataSource connector (partitioned scan + pushdown)
            db = AttachedDatabase(alias, source, "duckdb", read_only)
            from .pg_datasource import ensure_registered
            ensure_registered(self.spark)
        else:
            if os.path.sep in source and "=" not in source \
                    and "://" not in source:
                # a filesystem path that is NOT a directory — failing
                # here beats silently treating it as a libpq DSN
                # (reference: attach_non_existent.test errors cleanly)
                if os.path.exists(source):
                    raise ValueError(
                        f"database path {source!r} is not a database "
                        f"directory (a single-file database needs its "
                        f"scheme, e.g. 'duckdb://{source}')")
                raise ValueError(
                    f"database path {source!r} does not exist")
            db = AttachedDatabase(alias, source, "jdbc", read_only,
                                  conn=parse_dsn(source))
        db.schema = schema
        self.attached[alias] = db
        try:
            if register_views and db.backend in ("parquet", "duckdb",
                                                 "store"):
                for t in db.table_names():
                    self.register_table_views(db, t)
                if db.backend == "store":
                    # stored views resolve AFTER their base tables
                    # exist (reference: attach_views.test)
                    for v in db.store.views():
                        df = db.store.scan_view(v, register=False)
                        for name in (f"{alias}_{v}", v):
                            df.createOrReplaceTempView(name)
                            if name not in db.views:
                                db.views.append(name)
        except Exception:
            # a failed attach must not leak a half-registered alias
            # (the next attempt would die on 'already attached')
            self.attached.pop(alias, None)
            raise
        return db

    def register_table_views(self, db: AttachedDatabase, t: str) -> None:
        safe = t.replace(".", "_")   # schema-qualified → underscore form
        names = [f"{db.alias}_{safe}", safe]
        if db.schema is not None and t.startswith(db.schema + "."):
            # schema-scoped attach: the bare table name resolves too
            # (attach_schema_param.test: SELECT * FROM s.some_table)
            names.append(t.partition(".")[2])
        df = self.table(db.alias, t)
        for v in names:
            df.createOrReplaceTempView(v)
            if v not in db.views:
                db.views.append(v)

    def drop_table_views(self, db: AttachedDatabase, t: str) -> None:
        """Called when a table disappears (pg_execute DROP TABLE) —
        must drop EVERY name register_table_views created, including
        the bare short name a schema-scoped attach registers."""
        safe = t.replace(".", "_")
        names = [f"{db.alias}_{safe}", safe]
        if db.schema is not None and t.startswith(db.schema + "."):
            names.append(t.partition(".")[2])
        for v in names:
            if v in db.views:
                self._release_view(db, v)
                db.views.remove(v)

    def _release_view(self, db: AttachedDatabase, name: str) -> None:
        """Drop a temp view this attach owns — unless another attached
        database also registered the same (bare) name, in which case
        that database's binding is restored instead of destroyed."""
        for other in self.attached.values():
            if other is db or name not in other.views:
                continue
            try:
                if other.backend == "store":
                    if name in other.store.tables():
                        src = other.store.scan(name)
                    elif name in other.store.views():
                        src = other.store.scan_view(name, register=False)
                    else:
                        continue
                else:
                    src = self.table(other.alias, name)
                src.createOrReplaceTempView(name)
                return
            except Exception:
                continue
        self.spark.catalog.dropTempView(name)

    def detach(self, alias: str) -> None:
        db = self.attached.pop(alias)
        if self.current == alias:
            self.current = None
        # drop every view this attach registered — both the prefixed and
        # the bare names, tracked at registration time so tables dropped
        # or created since attach are handled too; bare names shared
        # with another attached database re-bind to that database
        for v in db.views:
            self._release_view(db, v)
        db.views.clear()
        if db.backend == "store":
            # session temp tables die with the session (reference:
            # attach_temporary_table.test — pg_temp is per-connection)
            db.store.drop_schema("pg_temp", if_exists=True, cascade=True)

    def table(self, alias: str, name: str) -> DataFrame:
        db = self.attached[alias]
        if name in db._table_cache:
            return db._table_cache[name]
        if db.backend == "store":
            return db.store.scan(name)   # never cache: DML moves the pointer
        if db.backend == "parquet":
            df = parquet_scan(self.spark, os.path.join(db.source, f"{name}.parquet"))
        elif db.backend == "duckdb":
            # pushdown off: attached relations are long-lived (temp views,
            # repeated queries) and the Python DS API scopes pushed
            # filters to the relation, not the query (see pg_datasource)
            r = (self.spark.read.format("postgres_scan")
                 .option("dsn", db.source).option("table", name)
                 .option("pushdown", "false"))
            if db.schema is not None:
                r = r.option("schema", db.schema)
            df = r.load()
        else:
            df = jdbc_scan(self.spark, db.conn, name)
        db._table_cache[name] = df
        return df

    def list_tables(self, alias: str) -> list[str]:
        """reference: storage/postgres_table_set.cpp LoadEntries"""
        return self.attached[alias].table_names()

    def database_size(self, alias: str) -> int:
        """reference: postgres_database_size → pg_database_size();
        here: bytes on disk of the attached dataset."""
        db = self.attached[alias]
        if db.backend not in ("parquet", "store"):
            raise NotImplementedError
        total = 0
        for root, _, files in os.walk(db.source):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def clear_cache(self, alias: str | None = None) -> None:
        """reference: pg_clear_cache table function
        (postgres_extension.cpp:133-136)."""
        targets = [self.attached[alias]] if alias else self.attached.values()
        for db in targets:
            db._table_cache.clear()

    def copy_database(self, alias: str, store) -> list[str]:
        """COPY FROM DATABASE — snapshot every table of an attached
        database into a ManagedStore (reference:
        test/sql/storage/attach_copy_from_database.test). Each table
        copies as one distributed write; at scale this is the
        bulk-migration path (per-table parallel scans → parquet)."""
        copied = []
        for t in self.list_tables(alias):
            if "." in t:
                # schema-qualified source tables need their namespace
                # created in the target first
                store.create_schema(t.partition(".")[0],
                                    if_not_exists=True)
            store.create_table(t, self.table(alias, t), if_not_exists=False)
            copied.append(t)
        return copied
