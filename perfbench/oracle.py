"""Expected answers from DuckDB over the same generated inputs.

Relational and near-dup queries are compared the way the repository's
differential gate compares them (``tools/oracle_check.py``: row count,
column names, then an order-insensitive repr of every value); its
normalisation is imported, not copied.  Queries registered without an
oracle are checked by row count.  The ETL pipeline's outputs are checked
by ``pipeline_expected`` / ``check_pipeline``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent


def _load_oracle_check():
    # by file path: tools/ is a directory of scripts, not a package
    spec = importlib.util.spec_from_file_location(
        "oracle_check", ROOT / "tools" / "oracle_check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_oc = _load_oracle_check()
normalize, value_repr = _oc.normalize, _oc.value_repr


def connect(data_dir: Path, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / t}.parquet')")
    return con


class Expected:
    """One query's expected answer: its row count and, for queries with
    an oracle, its normalized columns and values.  ``check`` returns None
    when a result matches, else the reason it does not."""

    def __init__(self, rows: int, columns: list[str] | None = None,
                 values: list[tuple] | None = None) -> None:
        self.rows = rows
        self.columns = columns
        self.values = values

    @classmethod
    def of(cls, frame: pd.DataFrame) -> "Expected":
        n = normalize(frame)
        return cls(len(n), list(n.columns), value_repr(n))

    def to_json(self) -> dict:
        return {"rows": self.rows, "columns": self.columns, "values": self.values}

    @classmethod
    def from_json(cls, d: dict) -> "Expected":
        values = [tuple(v) for v in d["values"]] if d["values"] is not None else None
        return cls(d["rows"], d["columns"], values)

    def check(self, got: pd.DataFrame) -> str | None:
        if len(got) != self.rows:
            return f"rows {len(got)} vs {self.rows}"
        if self.columns is None:
            return None
        s = normalize(got)
        if list(s.columns) != self.columns:
            return f"columns {list(s.columns)} vs {self.columns}"
        if value_repr(s) != self.values:
            return "values differ"
        return None


def content_digest(data_dir: Path, tables: list[str]) -> str:
    """Digest of each table's row multiset, independent of row order."""
    h = hashlib.blake2b(digest_size=16)
    for t in tables:
        tab = pq.read_table(data_dir / f"{t}.parquet")
        cols = [c.to_pylist() for c in tab.columns]
        rows = sorted(repr(r) for r in zip(*cols))
        h.update(repr((t, tab.schema.to_string(), rows)).encode())
    return h.hexdigest()


def expectations(sql: dict[str, str | None], rows_only: dict[str, int],
                 data_dir: Path, tables: list[str], cache_dir: Path) -> dict[str, Expected]:
    """Expected answers for queries {name: oracle SQL, or None for a
    row-count check against ``rows_only``}.

    An oracle answer depends only on the row multiset of its inputs, and
    every seed permutes the same rows, so answers are cached under a
    digest of that multiset and the SQL: the first run on a corpus pays
    for DuckDB, later runs read the cache."""
    h = hashlib.blake2b(digest_size=16)
    h.update(content_digest(data_dir, tables).encode())
    h.update(json.dumps(sql, sort_keys=True).encode())
    path = cache_dir / f"{h.hexdigest()}.json"
    if path.exists():
        return {q: Expected.from_json(d) for q, d in json.loads(path.read_text()).items()}
    con = connect(data_dir, tables)
    out = {q: Expected(rows_only[q]) if s is None else Expected.of(con.execute(s).fetchdf())
           for q, s in sql.items()}
    con.close()
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps({q: e.to_json() for q, e in out.items()}))
    tmp.replace(path)
    return out


# --- ETL pipeline -----------------------------------------------------------


def pipeline_sql(clean_where: str) -> dict[str, str]:
    """DuckDB statements for ``pipeline.run_pipeline``'s counts and
    aggregate sinks: F1 range clean, Tukey IQR fences on the cleaned
    price, then the vendor/category/payment aggregates and the summary
    rollup."""
    kept = f"""
      WITH c AS (SELECT * FROM lineitem WHERE {clean_where}),
      b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                   quantile_cont(l_extendedprice, 0.75) AS q3 FROM c)
      SELECT c.*,
             CASE WHEN l_quantity < 10 THEN 'short' WHEN l_quantity < 25 THEN 'medium'
                  WHEN l_quantity < 40 THEN 'long' ELSE 'very_long' END AS qty_category,
             CASE WHEN l_quantity > 0 THEN l_extendedprice / l_quantity ELSE 0.0 END
               AS price_per_unit
      FROM c, b
      WHERE l_extendedprice >= q1 - 1.5 * (q3 - q1)
        AND l_extendedprice <= q3 + 1.5 * (q3 - q1)"""
    vendor = f"""SELECT l_returnflag, count(*) AS total_trips,
                   sum(l_extendedprice) AS total_revenue,
                   avg(l_quantity) AS avg_quantity, avg(l_extendedprice) AS avg_price
                 FROM ({kept}) GROUP BY 1"""
    return {
        "raw_rows": "SELECT count(*) FROM lineitem",
        "clean_rows": f"SELECT count(*) FROM ({kept})",
        "vendor_stats": vendor,
        "category_stats": f"""SELECT qty_category, count(*) AS total_trips,
                   avg(l_extendedprice) AS avg_price,
                   avg(price_per_unit) AS avg_price_per_unit
                 FROM ({kept}) GROUP BY 1""",
        "payment_stats": f"""SELECT l_linestatus, count(*) AS total_trips,
                   avg(l_extendedprice) AS avg_price,
                   round(avg(l_discount) / avg(l_extendedprice) * 100.0, 6)
                     AS discount_price_ratio_pct
                 FROM ({kept}) GROUP BY 1""",
        "summary": f"""SELECT sum(total_trips) AS total_total_trips,
                   round(sum(total_revenue), 2) AS total_total_revenue,
                   round(avg(avg_quantity), 6) AS mean_avg_quantity,
                   round(avg(avg_price), 6) AS mean_avg_price
                 FROM ({vendor})""",
    }


def pipeline_expected(con: duckdb.DuckDBPyConnection, clean_where: str) -> dict:
    out = {}
    for name, sql in pipeline_sql(clean_where).items():
        df = con.execute(sql).fetchdf()
        out[name] = int(df.iloc[0, 0]) if name.endswith("_rows") else df
    return out


def frames_close(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Compare two small aggregate frames row-for-row after sorting.
    Floating sums depend on summation order, which differs between the
    engines, so floats match to 1e-9 relative (1e-6 absolute for the
    rounded columns); everything else matches exactly."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    cols = sorted(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for c in cols:
        for a, b in zip(g[c], w[c]):
            if isinstance(b, float) or isinstance(a, float):
                if not math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6):
                    return f"{c}: {a!r} vs {b!r}"
            elif str(a) != str(b):
                return f"{c}: {a!r} vs {b!r}"
    return None


def check_pipeline(result, expected: dict) -> str | None:
    """Check a ``PipelineResult`` and the aggregates it wrote."""
    for key in ("raw_rows", "clean_rows"):
        if getattr(result, key) != expected[key]:
            return f"{key} {getattr(result, key)} vs {expected[key]}"
    for name in ("vendor_stats", "category_stats", "payment_stats", "summary"):
        path = Path(result.outputs[name])
        if name == "summary":
            got = pd.concat(pd.read_csv(p) for p in sorted(path.glob("part-*.csv")))
        else:
            got = pd.read_parquet(path)
        why = frames_close(got, expected[name])
        if why:
            return f"{name}: {why}"
    return None
