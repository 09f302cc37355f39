"""Approximate nearest-neighbor search over embedding columns.

- brute_force_topk: exact cosine top-k (baseline) — JVM-side zip_with /
  aggregate arithmetic, crossJoin + window rank. O(Q*N) but fully
  distributed and shuffle-light (queries broadcast).
- lsh_topk: random-hyperplane LSH buckets (multi-probe via several
  independent sketches) -> only same-bucket pairs scored. The scale path:
  each vector lands in `n_tables` buckets, so the join fans out N *
  n_tables rows instead of N * Q.

Hyperplanes are deterministic (seeded numpy), broadcast as literal arrays
into JVM expressions — no Python in the scoring path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SEED = 20260816


def _planes(dim: int, n_planes: int, table: int = 0) -> np.ndarray:
    rng = np.random.RandomState(_SEED + 7919 * table)
    return rng.standard_normal((n_planes, dim))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (F.sqrt(dot_expr(a, a)) * F.sqrt(dot_expr(b, b)))


def hyperplane_bucket(v: Column, n_planes: int = 16, dim: int = 64,
                      table: int = 0) -> Column:
    """Sign-sketch bucket id: bit i = (v . plane_i) > 0, as a string key."""
    planes = _planes(dim, n_planes, table)
    bits = [
        F.when(dot_expr(v, F.array(*[F.lit(float(x)) for x in row])) > 0, "1").otherwise("0")
        for row in planes
    ]
    return F.concat(F.lit(f"t{table}:"), *bits)


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "query_id", q_vec_col: str = "qv") -> DataFrame:
    """Exact cosine top-k of `emb` rows per query row (queries broadcast).

    r7: the vector norms are hoisted out of the per-pair cosine — the
    former cosine_expr recomputed dot(v,v) and dot(qv,qv) once per
    (query, vector) pair, tripling the fold work (guide §1.2 per-task
    work); sqrt(qq)*sqrt(vv) is evaluated with the same operations in
    the same order, so cosine values are bit-identical. A/B at sf0.1:
    0.61s -> 0.47s best-of-3 (probe in commit 4247e06, arm
    ann_hoist; a salted two-phase top-k was also measured and bought
    nothing at this query count — the per-query window stays)."""
    e = emb.select(F.col(id_col).alias("vec_id"),
                   F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    e = e.select("vec_id", "v", F.sqrt(dot_expr(F.col("v"), F.col("v"))).alias("__vn"))
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       F.transform(q_vec_col, lambda x: x.cast("double")).alias("qv"))
    q = q.select("query_id", "qv",
                 F.sqrt(dot_expr(F.col("qv"), F.col("qv"))).alias("__qn"))
    j = F.broadcast(q).crossJoin(e).where(F.col("vec_id") != F.col("query_id"))
    j = j.withColumn(
        "cosine",
        dot_expr(F.col("qv"), F.col("v")) / (F.col("__qn") * F.col("__vn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        j.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 10, n_planes: int = 4,
             n_tables: int = 8, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "query_id", q_vec_col: str = "qv") -> DataFrame:
    """Approximate top-k: score only vectors sharing a hyperplane bucket
    with the query in any of n_tables sketches.

    Param guidance: per-table match prob for cosine s is (1-acos(s)/pi)^
    n_planes. Strong-neighbor regimes (s >= 0.7, near-dup search) work at
    n_planes=8+; weak-neighbor regimes (s ~ 0.3) need few planes / many
    tables (3/10 gives ~0.87 recall@10 on the testdata) — at the extreme
    LSH degrades toward brute force, which is the honest tradeoff."""
    e = emb.select(F.col(id_col).alias("vec_id"),
                   F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       F.transform(q_vec_col, lambda x: x.cast("double")).alias("qv"))
    eb = e.select(
        "vec_id", "v",
        F.explode(F.array(*[hyperplane_bucket(F.col("v"), n_planes, dim, t)
                            for t in range(n_tables)])).alias("bucket"),
    )
    qb = q.select(
        "query_id", "qv",
        F.explode(F.array(*[hyperplane_bucket(F.col("qv"), n_planes, dim, t)
                            for t in range(n_tables)])).alias("bucket"),
    )
    j = (
        F.broadcast(qb).join(eb, "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "v").distinct()
    )
    j = j.withColumn("cosine", cosine_expr(F.col("qv"), F.col("v")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        j.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> float:
    """Fraction of exact top-k pairs recovered by the approximate search."""
    a = approx.where(F.col("rank") <= k).select("query_id", "vec_id")
    e = exact.where(F.col("rank") <= k).select("query_id", "vec_id")
    hit = a.join(e, ["query_id", "vec_id"], "left_semi").count()
    total = e.count()
    return hit / total if total else 1.0


# --------------------------------------------------------------------------
# IVF (inverted-file) index: coarse k-means quantizer + cell-scoped search
# --------------------------------------------------------------------------
def _codebook_df(spark, cents: list[list[float]]) -> DataFrame:
    """The codebook as a single broadcast row holding all centroids as
    array<struct<cell, centroid>>. Cell assignment is then ONE map-side
    expression (array_min over a transform) regardless of n_cells — plan
    size stays constant where a per-cell literal CASE chain (the round-2
    shape) grew linearly and exploded past a few hundred cells. At 10^5
    cells the codebook row is tens of MB: still one broadcast, the same
    thing faiss ships to every worker."""
    row = [[(i, [float(x) for x in c]) for i, c in enumerate(cents)]]
    return spark.createDataFrame(
        [row], "codebook array<struct<cell:int,centroid:array<double>>>"
    )


def _d2_expr(v: Column, cent: Column) -> Column:
    return F.aggregate(F.zip_with(v, cent, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _cell_dists(v: Column) -> Column:
    """array<struct<d, cell>> of squared L2 distances to every codebook
    centroid; struct ordering gives (distance, cell) tie-breaks for free."""
    return F.transform(
        F.col("codebook"),
        lambda c: F.struct(_d2_expr(v, c["centroid"]).alias("d"),
                           c["cell"].alias("cell")),
    )


def assign_cells(vectors: DataFrame, codebook: DataFrame) -> DataFrame:
    """vectors (.., v) -> + cell: nearest centroid id (ties -> lowest
    cell). Broadcast 1-row cross join + array_min: map-only, no shuffle."""
    return (
        vectors.crossJoin(F.broadcast(codebook))
        .withColumn("cell", F.array_min(_cell_dists(F.col("v")))["cell"])
        .drop("codebook")
    )


def ivf_centroids(emb: DataFrame, n_cells: int = 16, n_iters: int = 4,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic coarse quantizer: centroids seeded with the n_cells
    lowest-id vectors, refined by Lloyd iterations computed as DataFrame
    aggregations (assign = broadcast-codebook argmin, update = mean per
    cell). Only the centroids (n_cells x dim floats) ever reach the
    driver — the per-vector work stays distributed, so the index build is
    O(iters * N) map work + one small agg per iteration at any scale.

    The per-cell mean is aggregated in DECIMAL (exact, associative), not
    double — float sums depend on partition combine order, and low-bit
    centroid drift between runs could flip cell assignments and flake
    run-to-run comparisons. Decimal makes the mean order-independent, so
    the determinism claim holds under any partitioning."""
    spark = emb.sparkSession
    e = emb.select(F.col(id_col).alias("vec_id"),
                   F.transform(vec_col, lambda x: x.cast("double")).alias("v")).cache()
    cents = [r["v"] for r in e.orderBy("vec_id").limit(n_cells).collect()]
    dim = len(cents[0])
    for _ in range(n_iters):
        assigned = assign_cells(e, _codebook_df(spark, cents))
        new = (
            assigned.groupBy("cell")
            .agg(*[F.avg(F.col("v")[i].cast("decimal(25,10)")).cast("double")
                   .alias(f"c{i}") for i in range(dim)],
                 F.count("*").alias("n"))
            .collect()
        )
        by_cell = {r["cell"]: [r[f"c{i}"] for i in range(dim)] for r in new}
        # empty cells keep their previous centroid (deterministic)
        cents = [by_cell.get(c, cents[c]) for c in range(len(cents))]
    e.unpersist()
    return cents


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10, n_cells: int = 16,
             n_probe: int = 4, n_iters: int = 4, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "query_id", q_vec_col: str = "qv") -> DataFrame:
    """IVF approximate top-k: build the coarse quantizer, assign every
    vector to its nearest cell (broadcast codebook, map-only), then score
    each query ONLY against the vectors in its n_probe nearest cells. The
    scan fraction is ~n_probe/n_cells of brute force; recall follows the
    usual IVF tradeoff. Probing is a broadcast join on cell id — no
    crossJoin, and no per-cell plan nodes at any n_cells."""
    spark = emb.sparkSession
    cents = ivf_centroids(emb, n_cells, n_iters, id_col, vec_col)
    codebook = _codebook_df(spark, cents)
    e = emb.select(F.col(id_col).alias("vec_id"),
                   F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    e = assign_cells(e, codebook)
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       F.transform(q_vec_col, lambda x: x.cast("double")).alias("qv"))

    # n_probe nearest cells per query, via the same broadcast codebook
    probe = F.slice(F.array_sort(_cell_dists(F.col("qv"))), 1, n_probe)
    qp = (
        q.crossJoin(F.broadcast(codebook))
        .select("query_id", "qv",
                F.explode(F.transform(probe, lambda s: s["cell"])).alias("cell"))
    )

    j = (
        F.broadcast(qp).join(e, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        j.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine"))
    )
