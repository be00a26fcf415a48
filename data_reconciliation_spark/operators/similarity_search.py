"""Similarity search over embedding columns (``array<float>``).

Engine extension (no reference analog): approximate nearest neighbors
for training-data curation.

* brute_force_topk — exact cosine top-k; native ``zip_with`` /
  ``aggregate`` arithmetic (JVM, codegen), broadcast query vectors.
  The correctness baseline and the right tool when |queries| is small.
* lsh_bucketed_topk — random-hyperplane LSH: map each vector to a signed
  bit signature, equi-join on bucket, exact re-rank inside buckets.
  The scale path: shuffle ∝ corpus size, not corpus × queries.
* ivf_topk — inverted-file variant: k deterministic centroid seeds,
  assign each vector to nearest centroid (one pass), probe the query's
  nearest ``nprobe`` centroids only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_reconciliation_spark.session import driver_table


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (double math)."""
    a = F.transform(a, lambda x: x.cast("double"))
    b = F.transform(b, lambda x: x.cast("double"))
    denom = _norm(a) * _norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(_dot(a, b) / denom)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query.  ``queries`` is broadcast (small
    dim table), so the plan is a broadcast nested-loop + per-query
    top-k window — a full corpus scan per batch of queries, no shuffle
    of the corpus itself."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec")
        )
    )
    scored = corpus.crossJoin(q).select(
        query_id_col,
        id_col,
        cosine_sim(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplane_bits(vec: Column, n_planes: int, dim: int, seed: int = 7) -> Column:
    """Random-hyperplane signature: bit i = sign(dot(vec, h_i)) where
    h_i[j] is a deterministic pseudo-random ±1 from xxhash64(i, j, seed).
    Entirely native — one string bucket key per vector."""
    def bit(i: int) -> Column:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda v, j: v.cast("double")
                * F.when(
                    F.pmod(F.xxhash64(F.lit(i), j, F.lit(seed)), F.lit(2)) == 0, 1.0
                ).otherwise(-1.0),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[bit(i) for i in range(n_planes)])


def infer_dim(df: DataFrame, vec_col: str) -> int:
    """Driver-side ONE-ROW probe for embedding dimensionality (a
    limit-1 scan of the vector column — one tiny job at plan-build
    time).  At cluster scale pass ``dim`` explicitly: it is table
    metadata, and plan construction should stay job-free."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not row:
        raise ValueError(f"cannot infer dim from empty table; pass dim= for {vec_col}")
    return int(row[0]["d"])


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN: equi-join corpus and queries on the hyperplane bucket, exact
    cosine re-rank inside the bucket.  Recall < 1 by design (single
    probe); raise n_planes for precision, add multi-probe for recall."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    c = corpus.withColumn("__bucket", _hyperplane_bits(F.col(vec_col), n_planes, dim))
    q = queries.withColumn("__bucket", _hyperplane_bits(F.col(vec_col), n_planes, dim)).select(
        query_id_col, "__bucket", F.col(vec_col).alias("__qvec")
    )
    scored = c.join(F.broadcast(q), "__bucket").select(
        query_id_col,
        id_col,
        cosine_sim(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _lloyd_refine(
    corpus: DataFrame,
    seeds: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int,
) -> DataFrame:
    """Deterministic Lloyd (k-means) refinement of seed centroids under
    cosine assignment: assign every corpus vector to its nearest
    centroid, recompute each centroid as the element-wise mean of its
    members (posexplode + groupBy avg — one shuffle of n x dim scalar
    rows per iteration), keep the old centroid for empty cells.

    The refreshed centroid table is COLLECTED each iteration — it is
    n_centroids x dim floats by construction (tiny), and rebuilding it
    driver-side keeps the plan flat instead of stacking crossJoin
    lineage per iteration.  At warehouse scale you train on a corpus
    sample; pass a pre-sampled ``corpus``.
    """
    spark = corpus.sparkSession
    cents = seeds
    pts = corpus.select(F.col(id_col).alias("__pid"), F.col(vec_col).alias("__pvec"))
    for _ in range(iters):
        scored = pts.crossJoin(F.broadcast(cents)).select(
            "__pid",
            "__pvec",
            "centroid_id",
            cosine_sim(F.col("__pvec"), F.col("__cvec")).alias("__csim"),
        )
        w = Window.partitionBy("__pid").orderBy(F.desc("__csim"), F.col("centroid_id"))
        best = scored.withColumn("__r", F.row_number().over(w)).where(F.col("__r") == 1)
        means = (
            best.select("centroid_id", F.posexplode("__pvec").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("__new")
            )
        )
        refreshed = (
            cents.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("__new"), F.col("__cvec")).alias("__cvec"),
            )
            .collect()
        )
        cents = driver_table(
            spark,
            [(r["centroid_id"], r["__cvec"]) for r in refreshed],
            f"centroid_id {seeds.schema['centroid_id'].dataType.simpleString()}, "
            "__cvec array<float>",
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN: deterministic seeds (first ``n_centroids`` corpus
    vectors by id) refined with ``refine_iters`` Lloyd iterations, then
    corpus vectors are assigned to their nearest centroid once and
    queries probe their ``nprobe`` nearest centroid cells only."""
    seeds = corpus.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cvec")
    )
    if refine_iters > 0:
        seeds = _lloyd_refine(corpus, seeds, id_col, vec_col, refine_iters)
    centroids = F.broadcast(seeds)

    def assign(df: DataFrame, in_id: str, keep_vec: str, top: int) -> DataFrame:
        scored = df.crossJoin(centroids).select(
            df["*"],
            "centroid_id",
            cosine_sim(F.col(keep_vec), F.col("__cvec")).alias("__csim"),
        )
        w = Window.partitionBy(in_id).orderBy(F.desc("__csim"), F.col("centroid_id"))
        return (
            scored.withColumn("__crank", F.row_number().over(w))
            .where(F.col("__crank") <= top)
            .drop("__csim", "__crank")
        )

    c = assign(corpus, id_col, vec_col, 1)
    q = assign(
        queries.select(query_id_col, vec_col), query_id_col, vec_col, nprobe
    ).select(query_id_col, "centroid_id", F.col(vec_col).alias("__qvec"))

    scored = c.join(F.broadcast(q), "centroid_id").select(
        query_id_col,
        id_col,
        cosine_sim(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
