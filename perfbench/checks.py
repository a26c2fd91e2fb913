"""Exact reference answers and result comparison.

Every operation's output is compared with an answer computed
independently by DuckDB over the same input data. A fast wrong
answer counts as a failed operation.

- Scans: TPC-H money sums in integer fixed-point units (cents, 1e-4,
  1e-6), computed by DuckDB with DECIMAL arithmetic and by Spark with
  integer arithmetic. Raw double sums differ between engines in the
  last digits, so they are never compared.
- Writes: row count plus integer column checksums that do not depend
  on row order, computed by the server over the written table and by
  DuckDB over the source parquet.
- Pipeline: each query's rows and `oracle_sql()`'s DuckDB rows, both
  normalised by the oracle gate's replica (`tests/oracle_harness.py`)
  and compared by hash.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
from pathlib import Path

import duckdb

# Q1 / Q6 over DuckDB in exact DECIMAL, scaled to integer units
_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"
_DISC = "CAST(l_discount AS DECIMAL(4,2))"
_TAX = "CAST(l_tax AS DECIMAL(4,2))"

Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS HUGEINT) AS sum_qty,
  CAST(SUM({_PRICE}) * 100 AS HUGEINT) AS sum_base_price_c,
  CAST(SUM({_PRICE} * (1 - {_DISC})) * 10000 AS HUGEINT) AS sum_disc_price_u4,
  CAST(SUM({_PRICE} * (1 - {_DISC}) * (1 + {_TAX})) * 1000000 AS HUGEINT)
    AS sum_charge_u6,
  COUNT(*) AS count_order
FROM li WHERE l_shipdate <= ?
GROUP BY 1, 2 ORDER BY 1, 2
"""

Q6_SQL = f"""
SELECT CAST(COALESCE(SUM({_PRICE} * {_DISC}), 0) * 10000 AS HUGEINT)
       AS revenue_u4, COUNT(*) AS n
FROM li
WHERE l_shipdate >= ? AND l_shipdate < ?
  AND l_discount >= ? AND l_discount <= ? AND l_quantity < ?
"""


def _run(table, sql: str, params: list) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.register("li", table)
        return [tuple(r) for r in con.execute(sql, params).fetchall()]
    finally:
        con.close()


def q1_expected(table, cutoff) -> list[tuple]:
    return [(rf, ls, *map(int, rest))
            for rf, ls, *rest in _run(table, Q1_SQL, [cutoff])]


def q6_expected(table, lo, hi, d_lo, d_hi, qty) -> tuple[int, int]:
    (rev, n), = _run(table, Q6_SQL, [lo, hi, d_lo, d_hi, qty])
    return int(rev), int(n)


# write checksum: integer terms only, so both engines agree exactly
def _checksum_sql(epoch_days: str, as_int: str) -> str:
    def i(x):
        return as_int.format(x)
    return f"""
SELECT COUNT(*),
  SUM(l_orderkey), SUM(l_partkey * l_linenumber), SUM(l_suppkey),
  SUM({i("round(l_extendedprice * 100)")}),
  SUM({i("round(l_discount * 100)")} * l_orderkey),
  SUM({i("round(l_tax * 100)")} * l_partkey),
  SUM({i("l_quantity")} * l_suppkey),
  SUM(ascii(l_returnflag) * l_linenumber + ascii(l_linestatus)),
  SUM({epoch_days} * l_linenumber),
  SUM((l_orderkey * 1000003 + l_linenumber * 10007
       + {i("round(l_extendedprice * 100)")}) % 2147483647)
FROM {{table}}
"""


PG_CHECKSUM = _checksum_sql(
    "(extract(epoch FROM l_shipdate)::bigint / 86400)", "({})::bigint")
DUCK_CHECKSUM = _checksum_sql(
    "(epoch(l_shipdate)::BIGINT // 86400)", "CAST({} AS BIGINT)")


def duck_checksum(table) -> tuple[int, ...]:
    (row,) = _run(table, DUCK_CHECKSUM.format(table="li"), [])
    return tuple(int(v) for v in row)


def pg_checksum(cursor, table: str) -> tuple[int, ...]:
    cursor.execute(PG_CHECKSUM.format(table=f'"{table}"'))
    return tuple(int(v) for v in cursor.fetchone())


# pipeline: the oracle gate's own normalisation and DuckDB run, from
# the engine's replica of that gate, so the two cannot drift apart
@functools.cache
def _oracle_harness():
    path = Path(__file__).resolve().parent.parent / "tests" / "oracle_harness.py"
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_hash(cols: list[str], rows) -> str:
    return hashlib.md5(repr(_oracle_harness().normalize(cols, rows))
                       .encode()).hexdigest()


def oracle_hashes(sqls: dict[str, str], data_dir: str) -> dict[str, str]:
    run = _oracle_harness().duckdb_run
    return {name: result_hash(*run(sql, data_dir))
            for name, sql in sqls.items()}
