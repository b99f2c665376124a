"""Deterministic k-means over the embedding corpus (SURVEY.md §2.11 E3
family — the clustering counterpart of similarity search: IVF coarse
quantizers, corpus partitioning for semantic dedup, and topic bucketing
all start with exactly this Lloyd iteration).

Two Lloyd iterations, fully unrolled into one declarative DAG:

  init      — centroids = the K lowest-vec_id embeddings (deterministic);
  assign    — nearest centroid by squared L2, ties to the lowest k;
  update    — per-dimension means; each mean folds its members in
              ascending vec_id order (sorted collect_list → ordered
              aggregate), so the float sum has ONE defined order and
              DuckDB's sequential list_sum reproduces it bit-for-bit —
              the same determinism discipline as functions/vector.py;
  assign    — final assignment, emitted with its squared distance.

Plan shape: centroids are a K-row frame broadcast into a constant-size
nested-loop join (the documented e3 pattern); assignment is map-side; the
update is one (k, dim) shuffle per iteration. At 100 TB you would swap the
ordered fold for plain float sums (order determinism is an oracle-parity
requirement, not a production one), run to convergence with a loop +
localCheckpoint like operators/clusters.py, and init with k-means|| —
Spark ML's KMeans does precisely that; this operator is the transparent,
oracle-checkable core of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wx20222_bigdata_spark.catalog import load_table
from wx20222_bigdata_spark.registry import query

K = 4
DIM = 64

_SQDIST = (
    "aggregate(zip_with(embedding, c_arr, (x, y) -> (double(x) - y) * (double(x) - y)),"
    " 0D, (a, v) -> a + v)"
)

_DUCK_SQDIST = (
    "list_sum([(CAST(e.embedding[i] AS DOUBLE) - c.c_arr[i])"
    " * (CAST(e.embedding[i] AS DOUBLE) - c.c_arr[i])"
    f" for i in range(1, {DIM + 1})])"
)


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, embedding, k, d)."""
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "embedding", "k", F.expr(_SQDIST).alias("d")
    )
    w = Window.partitionBy("vec_id").orderBy("d", "k")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Recompute centroids as per-dimension means, folding members in
    ascending vec_id order so the double sum is order-deterministic."""
    dims = assigned.select(
        "vec_id", "k", F.posexplode("embedding").alias("i", "x")
    )
    per_dim = dims.groupBy("k", "i").agg(
        (
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(vec_id, x))),"
                " s -> double(s.x)), 0D, (a, v) -> a + v)"
            )
            / F.count("*")
        ).alias("c")
    )
    return per_dim.groupBy("k").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, c))), s -> s.c)"
        ).alias("c_arr")
    )


#: Shared DuckDB CTE chain producing ``a2`` = the final (vec_id, k, d)
#: assignment after two Lloyd iterations — reused verbatim by e14 and the
#: SemDeDup prune (operators/semdedup.py) so both oracles share one spec.
LLOYD2_CTES = f"""emb AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL),
init AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k,
         [CAST(embedding[i] AS DOUBLE) for i in range(1, {DIM + 1})] AS c_arr
  FROM (SELECT * FROM emb ORDER BY vec_id LIMIT {K})
),
s1 AS (
  SELECT e.vec_id, e.embedding, c.k, {_DUCK_SQDIST} AS d
  FROM emb e, init c
),
a1 AS (
  SELECT vec_id, embedding, k
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
        FROM s1)
  WHERE rn = 1
),
dims1 AS (
  SELECT k, i, vec_id, CAST(embedding[i] AS DOUBLE) AS x
  FROM a1, (SELECT unnest(range(1, {DIM + 1})) AS i)
),
cent1d AS (
  SELECT k, i, list_sum(list(x ORDER BY vec_id)) / COUNT(*) AS c
  FROM dims1 GROUP BY k, i
),
cent1 AS (SELECT k, list(c ORDER BY i) AS c_arr FROM cent1d GROUP BY k),
s2 AS (
  SELECT e.vec_id, c.k, {_DUCK_SQDIST} AS d
  FROM emb e, cent1 c
),
a2 AS (
  SELECT vec_id, k, d
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
        FROM s2)
  WHERE rn = 1
)"""


def lloyd2_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic Lloyd iterations over the embedding corpus;
    returns the final assignment frame (vec_id, embedding, k, d). The
    Spark twin of :data:`LLOYD2_CTES`.

    Vectors with a NULL embedding have no position, so they are left out
    of the clustering (and of the output) in both engines. Kept in, the
    engines would disagree: Spark sorts a NULL distance first and DuckDB
    last, and only DuckDB counts NULL members in a centroid's mean."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
    )
    # K-row deterministic init: lowest vec_ids, ranked into cluster ids.
    # The global window ranks K rows (bounded) — pinned exempt in
    # test_plans alongside the other bounded aggregate tables.
    init = (
        emb.orderBy("vec_id")
        .limit(K)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("k"),
            F.expr("transform(embedding, x -> double(x))").alias("c_arr"),
        )
    )
    a1 = _assign(emb, init)
    cent1 = _update(a1)
    return _assign(emb, cent1)


@query(
    "e14_kmeans_assign",
    oracle=f"""
WITH {LLOYD2_CTES},
sizes AS (SELECT k, COUNT(*) AS cluster_size FROM a2 GROUP BY k)
SELECT a2.vec_id, CAST(a2.k AS BIGINT) AS cluster,
       ROUND(a2.d, 6) AS sqdist, sizes.cluster_size
FROM a2 JOIN sizes ON sizes.k = a2.k
""",
)
def e14_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final assignment after two deterministic Lloyd iterations:
    (vec_id, cluster, squared distance to its centroid, cluster size)."""
    a2 = lloyd2_assignment(spark, sf_dir)
    sizes = a2.groupBy("k").agg(F.count("*").alias("cluster_size"))
    return a2.join(sizes, "k").select(
        "vec_id",
        F.col("k").cast("bigint").alias("cluster"),
        F.round("d", 6).alias("sqdist"),
        "cluster_size",
    )
