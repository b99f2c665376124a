"""Degenerate-input laws for the embedding and text dedup tier families
(e17, e35/b/c/d, e36/b/c, e37/b/c).

Every seat must return, and match its registered DuckDB oracle, on two
variants of the sf0.01 fixture derived at test time (no data files are
committed):

- *empty*: zero-row ``documents`` and ``embeddings`` with the fixture
  schema;
- *null_heavy*: every 7th ``text`` and ``embedding`` (by id) is NULL.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_ORACLE
from tests.test_oracle_parity import compare_frames

SEATS = [
    "e17_semantic_dedup",
    "e35_hyperplane_semdedup",
    "e35b_hyperplane_semdedup_production",
    "e35c_hyperplane_semdedup_capped",
    "e35d_semdedup_auto",
    "e36_substring_span_trim",
    "e36b_span_trim_production",
    "e36c_span_trim_auto",
    "e37_containment_pairs",
    "e37b_containment_prefix_production",
    "e37c_containment_auto",
]

#: (table, id column, column set to NULL in the null_heavy variant)
_NULLED = [("documents", "doc_id", "text"), ("embeddings", "vec_id", "embedding")]
NULL_EVERY = 7


def _derive(kind: str, out_dir) -> None:
    for table, id_col, col in _NULLED:
        tbl = pq.read_table(f"{SF_ORACLE}/{table}.parquet")
        if kind == "empty":
            tbl = tbl.slice(0, 0)
        else:
            ids = tbl[id_col].to_pylist()
            vals = [
                None if i % NULL_EVERY == 0 else v
                for i, v in zip(ids, tbl[col].to_pylist())
            ]
            idx = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(
                idx, tbl.schema.field(idx), pa.array(vals, tbl.schema.field(idx).type)
            )
        pq.write_table(tbl, str(out_dir / f"{table}.parquet"))


@pytest.fixture(scope="module", params=["empty", "null_heavy"])
def variant(request, tmp_path_factory):
    out_dir = tmp_path_factory.mktemp(request.param)
    _derive(request.param, out_dir)
    return str(out_dir)


@pytest.fixture(scope="module")
def variant_duck(variant):
    con = duckdb.connect()
    for table, _, _ in _NULLED:
        con.execute(
            f"CREATE VIEW {table} AS"
            f" SELECT * FROM read_parquet('{variant}/{table}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SEATS)
def test_seat_matches_oracle_on_degenerate_input(spark, variant, variant_duck, name):
    from wx20222_bigdata_spark.registry import all_oracles, all_queries

    spark_pdf = all_queries()[name](spark, variant).toPandas()
    duck_pdf = variant_duck.execute(all_oracles()[name]).fetchdf()
    compare_frames(name, spark_pdf, duck_pdf)
