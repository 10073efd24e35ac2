"""Embedding similarity search: brute-force cosine top-k (exact
baseline) and hyperplane-LSH bucketing (the scale path).

Vectors are `array<float>` columns; all arithmetic is JVM-side
(`zip_with`/`aggregate` higher-order functions) in double precision —
no Python, no UDF. At 100 TB the brute-force path is only for
re-ranking within LSH buckets; the bucketed variant turns ANN into an
equi-join on bucket id (shuffle-partitionable, AQE-skew-safe).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import conf_bytes


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _scored_pairs(cand: DataFrame, queries: DataFrame, vectors: DataFrame,
                  id_col: str, vec_col: str) -> DataFrame:
    """Attach exact cosine to candidate (query_id, neighbor_id) pairs.

    Norms are computed ONCE per vector on each join input instead of
    once per pair inside ``cosine`` — the higher-order-function
    arithmetic is interpreted (not codegen'd), so dropping 2 of the 3
    array passes per pair is a measured ~25% cut on the re-rank stage
    (same expression tree per value, hence bit-identical sims)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"),
        _norm(F.col(vec_col)).alias("_vn"),
    )
    return (
        cand.join(q, "query_id")
        .join(v, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("nv")) / (F.col("_qn") * F.col("_vn")), 4
            ).alias("sim"),
        )
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine top-k per query vector. Ranking uses the ROUNDED
    similarity (+ id tiebreak) so results are stable across engines
    and summation orders."""
    # norms once per vector, not once per pair (see _scored_pairs)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"),
        _norm(F.col(vec_col)).alias("_vn"),
    )
    scored = (
        q.crossJoin(v)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("nv")) / (F.col("_qn") * F.col("_vn")),
                round_digits,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _plane_coeffs(plane, dim: int) -> list[float]:
    """The ±1 hyperplane coefficients md5(plane || '_' || d) derives —
    computed ONCE driver-side (hashlib.md5 of the same UTF-8 string =
    Spark's md5, first hex digit >= 8 = +1). The per-row md5 form
    re-hashes a (plane, dim)-only value for every VECTOR — at 8
    tables × 4 planes × 64 dims that is ~2k md5 calls per row, the
    dominant cost of the whole LSH bucket stage."""
    return [
        1.0 if int(hashlib.md5(f"{plane}_{i}".encode()).hexdigest()[0], 16) >= 8
        else -1.0
        for i in range(dim)
    ]


def hyperplane_sign(vec_col, plane, dim: int | None = None) -> F.Column:
    """Sign of <v, w_plane> where w_plane[d] = ±1 derived from
    md5(plane || '_' || d) — a deterministic, data-independent random
    hyperplane reproducible in any engine with md5. ``plane`` is any
    int/str label (multi-table LSH namespaces planes per table).

    ``dim``: when the (maximum) vector length is known, the plane is
    embedded as a LITERAL coefficient array (see :func:`_plane_coeffs`)
    and the per-row work drops to one multiply-add per dimension —
    same products in the same order, bit-identical sign. Without it,
    the md5s are evaluated per row (any-length vectors, zero jobs)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    if dim is not None:
        # one array literal, not 64 CreateArray children — literal
        # tree size is driver-side analysis/codegen cost per query
        w = F.lit(_plane_coeffs(plane, dim))
        prods = F.zip_with(
            c, F.slice(w, 1, F.size(c)), lambda x, y: x.cast("double") * y
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    prods = F.transform(
        c,
        lambda x, i: x.cast("double")
        * F.when(
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.concat_ws("_", F.lit(plane), i.cast("string"))), 1, 1),
            )
            - 1
            >= 8,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _max_dim(*dfs: DataFrame, vec_col: str = "embedding") -> int | None:
    """Largest vector length across the inputs — one tiny scalar agg
    job whose result lets every hyperplane be embedded as a literal
    coefficient array (:func:`hyperplane_sign` ``dim``). None when the
    inputs are empty (callers fall back to the per-row md5 path)."""
    dims = [
        d.select(F.max(F.size(F.col(vec_col))).alias("d")).first()["d"] for d in dfs
    ]
    dims = [d for d in dims if d is not None]
    return max(dims) if dims else None


def _spread(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition an UNDER-PARALLEL input across the cluster
    before expensive per-row column work. A single-row-group parquet
    file arrives as one scan split, serializing everything computed in
    the scan stage; a source bigger than one split per core (the
    normal case at scale — many files/row groups) is left alone, so no
    full-table shuffle is ever added to a big scan. The decision reads
    the optimized plan's size ESTIMATE — a driver-side stats lookup
    (an ``.rdd``-based partition probe costs ~1 s of plan-to-RDD
    conversion per call, swamping what it saves)."""
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    max_bytes = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size >= width * max_bytes:
        return df
    return df.repartition(width, F.col(key_col))


def _bucket_bits(vec_col, n_planes: int, table: int, dim: int | None) -> F.Column:
    """The n_planes sign bits of one hash table as an int bucket id."""
    bucket = None
    for p in range(n_planes):
        label = p if table == 0 else f"t{table}p{p}"
        bit = F.when(
            hyperplane_sign(vec_col, label, dim=dim) >= 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def lsh_buckets(
    vectors: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH: n_planes sign bits → bucket id (one hash
    table; ``table`` namespaces the planes so multiple independent
    tables can be built). Vectors in the same bucket are ANN
    candidates; search becomes a bucket equi-join, not a cross join.
    ``dim`` (the max vector length) turns the plane md5s into literal
    coefficients — see :func:`hyperplane_sign`; resolved with one
    scalar job when not given."""
    if dim is None:
        dim = _max_dim(vectors, vec_col=vec_col)
    return vectors.select(
        F.col(id_col).alias("vec_id_out"),
        _bucket_bits(vec_col, n_planes, table, dim).alias("bucket"),
    ).withColumnRenamed("vec_id_out", id_col)


def _bucket_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    n_planes: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, neighbor_id) pairs sharing a bucket in ANY of the
    n_tables hash tables — multi-probe union lifts recall from r to
    1-(1-r)^L while candidate cost stays an equi-join. All tables'
    buckets are computed in ONE pass per side (an exploded
    (table, bucket) array — one scan instead of n_tables, spread over
    the cluster when the input is a single split) and the per-table
    union-of-joins collapses into one equi-join on (table, bucket):
    the same candidate multiset, n_tables× fewer joins. The vector
    dimension is resolved once so all n_tables × n_planes hyperplanes
    compile to literal coefficient arrays."""
    dim = _max_dim(vectors, queries, vec_col=vec_col)

    def all_buckets(df: DataFrame, out_id: str) -> DataFrame:
        entries = F.array(*[
            F.struct(
                F.lit(t).alias("tbl"),
                _bucket_bits(vec_col, n_planes, t, dim).alias("bucket"),
            )
            for t in range(n_tables)
        ])
        return _spread(df, id_col).select(
            F.col(id_col).alias(out_id), F.explode(entries).alias("x")
        ).select(out_id, "x.tbl", "x.bucket")

    vb = all_buckets(vectors, "neighbor_id")
    qb = all_buckets(queries, "query_id")
    cand = qb.join(vb, ["tbl", "bucket"]).select("query_id", "neighbor_id")
    return cand.filter(F.col("query_id") != F.col("neighbor_id")).distinct()


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN via multi-table LSH: candidates share a bucket in any
    table, then exact cosine re-rank. Recall < 1 by construction — the
    benchmarkable tradeoff vs brute_force_topk (tune n_planes down /
    n_tables up for recall, the reverse for speed)."""
    cand = _bucket_candidates(vectors, queries, n_planes, n_tables, id_col, vec_col)
    scored = _scored_pairs(cand, queries, vectors, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: multi-table LSH
    candidates → exact cosine filter. The embedding analogue of
    MinHash-LSH (high-cosine pairs collide in some table w.h.p.)."""
    cand = (
        _bucket_candidates(vectors, vectors, n_planes, n_tables, id_col, vec_col)
        .filter(F.col("query_id") < F.col("neighbor_id"))
    )
    return (
        _scored_pairs(cand, vectors, vectors, id_col, vec_col)
        .withColumnsRenamed({"query_id": "id_a", "neighbor_id": "id_b"})
        .filter(F.col("sim") >= threshold)
    )


# ----------------------------------------------------------------- IVF ANN
def ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-means coarse quantizer (the IVF codebook) as pure DataFrame
    ops — Lloyd's iterations with a broadcast centroid table:

    - init: the ``n_centroids`` vectors with the smallest
      md5(id) (deterministic, data-independent spread — no RNG, and
      md5 hex is identical in any engine, so the codebook is
      reproducible across runs AND replayable by a SQL oracle);
    - assign: broadcast crossJoin + argmin squared distance (JVM
      higher-order functions, no UDF); distances are rounded to 9
      decimals before the argmin so last-ulp summation-order noise
      can never flip an assignment between engines;
    - update: groupBy(centroid) elementwise mean via
      ``array_agg``-free posexplode + avg (scales with n·d rows, one
      shuffle per iteration).

    Each iteration localCheckpoints so iteration N never replans
    1..N-1. Cells that lose all members drop out (standard empty-cell
    handling). Returns (centroid_id, centroid)."""
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    cents = (
        v.withColumn("_h", F.md5(F.col("vid").cast("string").cast("binary")))
        .orderBy("_h")
        .limit(n_centroids)
        .select(
            F.row_number().over(Window.orderBy("_h")).alias("centroid_id"),
            F.col("vec").alias("centroid"),
        )
        .localCheckpoint()
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("vec"), F.col("centroid"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(n_iters):
        assigned = (
            v.crossJoin(F.broadcast(cents))
            .select("vid", "vec", "centroid_id", F.round(dist, 9).alias("d2"))
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("vid").orderBy(F.col("d2").asc(), F.col("centroid_id").asc())
                ),
            )
            .filter(F.col("_rn") == 1)
        )
        cents = (
            assigned.select("centroid_id", F.posexplode("vec").alias("dim", "val"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                "centroid_id",
                F.transform(F.col("dm"), lambda s: s["m"].cast("float")).alias("centroid"),
            )
            .localCheckpoint()
        )
    return cents


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids (probe 1
    = the inverted-list build; probe > 1 = the query-side multi-probe).
    Broadcast join — centroid tables are tiny by construction."""
    v = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("_vn"),  # once per vector, not per cell
    )
    centroids = centroids.select(
        "centroid_id", "centroid", _norm(F.col("centroid")).alias("_cn")
    )
    # rounded before ranking (package convention: similarity floats are
    # rounded before any argmin/argmax so the choice of cell is stable
    # across engines and summation orders)
    sim = F.round(
        _dot(F.col("vec"), F.col("centroid")) / (F.col("_vn") * F.col("_cn")), 9
    )
    return (
        v.crossJoin(F.broadcast(centroids))
        .select("vid", "centroid_id", sim.alias("csim"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("vid").orderBy(F.col("csim").desc(), F.col("centroid_id").asc())
            ),
        )
        .filter(F.col("_rn") <= n_probe)
        .select(F.col("vid").alias(id_col), "centroid_id")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 4,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: k-means cells replace the cross join — every vector
    lives in one inverted list, each query probes its ``n_probe``
    nearest cells, exact cosine re-ranks inside the probed lists.

    Default ``n_probe=4``: the measured recall/latency curve (bench
    ``ann_recall.ivf_recall_curve``) shows probing is nearly free next
    to codebook training — n_probe 1/2/4 of 8 cells = recall
    0.30/0.50/0.75 at 4.66/4.66/5.10 s on the sf0.1 fixture — so the
    default sits at the knee, and the query-side probe count never
    touches the stored lists (each vector still lives in exactly ONE
    inverted list; only the probes-side equi-join widens). The
    candidate step is an EQUI-join on centroid_id (shuffle-
    partitionable; cell skew handled by AQE), the second sub-quadratic
    ANN strategy next to multi-table LSH — IVF adapts to the data
    distribution where LSH is data-independent."""
    cents = ivf_centroids(vectors, n_centroids, n_iters, id_col, vec_col)
    lists = ivf_assign(vectors, cents, id_col, vec_col, n_probe=1).withColumnRenamed(
        id_col, "neighbor_id"
    )
    probes = ivf_assign(queries, cents, id_col, vec_col, n_probe=n_probe).withColumnRenamed(
        id_col, "query_id"
    )
    cand = (
        probes.join(lists, "centroid_id")
        .select("query_id", "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
    )
    scored = _scored_pairs(cand, queries, vectors, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
