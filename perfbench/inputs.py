"""Seeded benchmark inputs: row-order permutations of the testdata corpus.

Each generated table keeps its source file's layout -- one parquet file
per table, the same schema, codec and row-group sizes -- and only the
row order changes, drawn from the seed.  Every query result is defined
on the multiset of rows, so the DuckDB oracle over the same generated
files stays the reference answer while each seed presents the engine
with a different physical order.
"""

from __future__ import annotations

import os
import zlib
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

# The read-only testdata corpus (TESTDATA.md): <root>/sf<scale>/<table>.parquet
TESTDATA_ROOT = Path(os.environ.get("PERFBENCH_TESTDATA", Path.home() / "testdata"))


def source_dir(scale: str) -> Path:
    return TESTDATA_ROOT / f"sf{scale}"


def table_rng(seed: int, table: str) -> np.random.Generator:
    # one stream per (seed, table) so adding a table to a workload
    # never reshuffles the others
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def permute_table(src: Path, dst: Path, rng: np.random.Generator) -> int:
    """Write ``src`` to ``dst`` with its rows permuted by ``rng``.
    Returns the row count."""
    pf = pq.ParquetFile(src)
    meta = pf.metadata
    table = pf.read()
    table = table.take(rng.permutation(table.num_rows))
    sizes = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
    codec = meta.row_group(0).column(0).compression if sizes else "SNAPPY"
    with pq.ParquetWriter(dst, table.schema, compression=codec.lower()) as w:
        offset = 0
        for n in sizes:
            w.write_table(table.slice(offset, n), row_group_size=max(n, 1))
            offset += n
    return table.num_rows


def generate(src_dir: Path, dst_dir: Path, tables: list[str], seed: int) -> dict[str, int]:
    """Permute each of ``tables`` from ``src_dir`` into ``dst_dir``.
    Returns {table: rows}."""
    dst_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for t in tables:
        rows[t] = permute_table(
            src_dir / f"{t}.parquet", dst_dir / f"{t}.parquet", table_rng(seed, t)
        )
    return rows


def input_bytes(dir_: Path, tables: list[str]) -> int:
    return sum((dir_ / f"{t}.parquet").stat().st_size for t in tables)
