"""The benchmark's inputs: the engine's own correctness test data.

`data/sf0.01` and `data/sf0.001` hold, file for file, the parquet
tables the engine's oracle gate checks at those scale factors: the
TPC-H-shaped star schema (region, nation, customer, supplier, part,
orders, lineitem) plus the `events`, `documents` and `embeddings`
tables. The pipeline runs over exactly these rows.

The scan table is `lineitem` tiled COPIES times with a per-copy key
offset, the way `tools/gen_sf.py` scales the test data: every
distribution within a copy is the test data's own. Money columns hold
whole cents and rates whole percents, which the exact checks in
`checks.py` rely on.

The data is fixed; the run seed only picks query parameters and the
row order `write_copy` writes (see workloads.py).
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
PIPELINE_DIR, SMOKE_DIR = DATA / "sf0.01", DATA / "sf0.001"
SCAN_COPIES = 5              # 5 x 60,000 rows: ~4,000 heap pages, 4 ctid tasks
SMOKE_SCAN_COPIES = 1

# per-copy key offsets, one stride per key family (tools/gen_sf.py)
_KEY_STRIDE = {"l_orderkey": 10_000_000, "l_partkey": 1_000_000,
               "l_suppkey": 100_000}


def scan_lineitem(src_dir: Path, copies: int) -> pa.Table:
    """`lineitem` of `src_dir`, tiled `copies` times."""
    li = pq.read_table(src_dir / "lineitem.parquet").replace_schema_metadata()
    tiles = []
    for i in range(copies):
        cols = [pc.add(li[name], i * _KEY_STRIDE[name])
                if name in _KEY_STRIDE else li[name]
                for name in li.column_names]
        tiles.append(pa.table(cols, schema=li.schema))
    return pa.concat_tables(tiles).combine_chunks()


def permuted(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    """The same rows in a seed-chosen order."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def data_key(files: list[Path], extra: str = "") -> str:
    """Short content hash of the input files: two outputs are
    comparable only when their data keys match."""
    h = hashlib.md5(extra.encode())
    for f in sorted(files):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]
