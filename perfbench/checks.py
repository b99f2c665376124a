"""Output checks, run outside the timed passes.

An oracled seat must match its DuckDB mirror (``registry.all_oracles``)
over the same generated inputs on row count, column names and types, and
an order-insensitive hash of the values: the correctness contract in
``__spark_entry__.py``. Each check returns ``None`` when it holds and a
one-line reason when it does not.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pandas as pd

from perfbench.gen import Inputs


def run_oracles(inputs: Inputs, sqls: dict[str, str], threads: int, tmp_dir: str) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL in DuckDB over the generated tables."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        for name in inputs.rows:
            path = f"{inputs.sf_dir}/{name}.parquet"
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {name: con.execute(sql).fetchdf() for name, sql in sqls.items()}
    finally:
        con.close()


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "tolist"):  # numpy arrays / scalars
        return repr(v.tolist())
    return repr(v)


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash: columns by name, rows sorted as strings."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def compare_frames(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    if len(spark_pdf) != len(duck_pdf):
        return f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    types = {c: (str(spark_pdf[c].dtype), str(duck_pdf[c].dtype)) for c in spark_pdf.columns}
    diff = {c: t for c, t in types.items() if t[0] != t[1]}
    if diff:
        return f"{name}: column types differ (spark, duckdb): {diff}"
    if value_hash(spark_pdf) != value_hash(duck_pdf):
        return f"{name}: value hash differs from the DuckDB oracle"
    return None

