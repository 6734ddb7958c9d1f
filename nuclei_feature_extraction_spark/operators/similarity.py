"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``      : brute-force exact top-k against one query
  vector — the correctness baseline. Dot products via ``F.zip_with`` +
  ``F.aggregate`` (JVM higher-order fns, no Python).
- ``lsh_bucketed_topk``: random-hyperplane LSH signature → candidates
  share a signature band → exact re-rank inside buckets. The scale
  path: the crossJoin disappears, replaced by an equi-join on a small
  signature key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nuclei_feature_extraction_spark.zipcache import guard_zip_caches


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs a constant query vector.

    Plan shape at scale: narrow map (dot product per row, codegen'd)
    → global top-k via TakeOrderedAndProject (no full sort, no shuffle
    of the vectors themselves).
    """
    from nuclei_feature_extraction_spark.partitioning import (
        ensure_min_partitions,
    )

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    # guide §2.5 input skew: the interpreted dot-product fold must not
    # run inside a lone scan task (no-op on many-split inputs)
    scored = ensure_min_partitions(df).select(
        F.col(id_col),
        cosine_sim(F.col(vec_col).cast("array<double>"), q).alias("sim"),
    )
    return (
        scored.orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("sim", 6).alias("sim"))
    )


def with_lsh_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    out_col: str = "lsh_sig",
) -> DataFrame:
    """Random-hyperplane signature: sign pattern of <v, plane_j> packed
    into one long. Planes are deterministic (seeded numpy), embedded as
    array literals — evaluated fully JVM-side."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    sig = F.lit(0).cast("long")
    v = F.col(vec_col).cast("array<double>")
    for j in range(n_planes):
        p = F.array(*[F.lit(float(x)) for x in planes[j]])
        bit = (_dot(v, p) > 0).cast("long")
        sig = sig + bit * F.lit(2**j).cast("long")
    return df.withColumn(out_col, sig)


def lsh_bucketed_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN: candidates = rows sharing the LSH signature with the query
    (equi-join on the signature; queries broadcast), exact cosine
    re-rank per query, top-k per query via row_number."""
    from pyspark.sql import Window

    base = with_lsh_signature(df, dim, n_planes, vec_col)
    qs = with_lsh_signature(queries, dim, n_planes, vec_col).select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.col("lsh_sig"),
    )
    cand = base.join(F.broadcast(qs), "lsh_sig").withColumn(
        "sim",
        cosine_sim(
            F.col(vec_col).cast("array<double>"),
            F.col("__qvec").cast("array<double>"),
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", F.round("sim", 6).alias("sim"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 3,
    max_bucket_size: int | None = 1000,
    audit: dict | None = None,
    observe_audit: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: ``n_tables``
    independent hyperplane-LSH signatures (near-identical vectors agree
    on a full signature with high probability), candidates = same-bucket
    pairs in ANY table, verified by exact cosine ≥ threshold.

    Scale shape (round-1 verdict fixes): the bucket self-join carries
    ONLY (table, signature, id) — never the vectors; buckets larger
    than ``max_bucket_size`` are dropped before the join (one
    degenerate bucket is otherwise O(B²) pairs); pair ids are
    de-duplicated across tables BEFORE the two vector re-join hops that
    feed the exact-verify stage."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        _capped_bucket_pairs,
    )

    sig = df.select(F.col(id_col), F.col(vec_col))
    for t in range(n_tables):
        sig = with_lsh_signature(
            sig, dim, n_planes, vec_col, seed=42 + 1000 * t, out_col=f"__sig{t}"
        )
    buckets = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"), F.col(f"__sig{t}").alias("bucket")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    from nuclei_feature_extraction_spark.operators.dedup import (
        _pending_cap_observation,
        lsh_bucket_stats,
    )

    obs = _pending_cap_observation(
        audit, max_bucket_size, observe_audit, "nfx_embedding_cap", buckets
    )
    if audit is not None and max_bucket_size is not None and obs is None:
        audit.update(lsh_bucket_stats(buckets, max_bucket_size))
    pairs = _capped_bucket_pairs(buckets, id_col, max_bucket_size, obs)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    sim = cosine_sim(
        F.col("__va").cast("array<double>"), F.col("__vb").cast("array<double>")
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", F.round(sim, 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Assign every vector to its nearest (cosine) coarse centroid — the
    IVF inverted-list key. One vectorized Arrow pass (matmul per batch),
    no shuffle; the cell id is an 4-byte int so downstream joins shuffle
    ints, never vectors."""
    from pyspark.sql import types as T

    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(returnType=T.IntegerType())
    def assign(v: pd.Series) -> pd.Series:
        guard_zip_caches()
        m = np.stack(v.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        m = m / np.where(norms > 0, norms, 1.0)
        return pd.Series((m @ cn.T).argmax(axis=1).astype(np.int32))

    return df.withColumn(out_col, assign(F.col(vec_col)))


def sample_centroids(
    df: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic coarse centroids: the ``n_centroids`` rows with the
    smallest ``xxhash64(id)`` (a seeded uniform sample expressible as a
    global top-k — TakeOrderedAndProject, no full sort). A k-means
    refinement can slot in here; for IVF recall the sample quality
    mostly sets list balance, not correctness (the re-rank is exact)."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_centroids)
        .collect()
    )
    return np.array([list(r[1]) for r in rows], dtype=np.float64)


def ivf_probe_cells(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    vec_col: str = "embedding",
    out_col: str = "__cells",
) -> DataFrame:
    """Append each query's ``nprobe`` nearest-centroid cell ids as an
    int array — one vectorized Arrow matmul per batch, fully
    distributed. This replaces the round-2 driver-side
    ``queries.collect()`` + python probe loop, so a query *table*
    (10^6+ rows) works without ever touching the driver."""
    from pyspark.sql import types as T

    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    npr = int(nprobe)

    @F.pandas_udf(returnType=T.ArrayType(T.IntegerType()))
    def probes(v: pd.Series) -> pd.Series:
        guard_zip_caches()
        m = np.stack(v.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        m = m / np.where(norms > 0, norms, 1.0)
        order = np.argsort(-(m @ cn.T), axis=1, kind="stable")[:, :npr]
        return pd.Series(list(order.astype(np.int32)))

    return queries.withColumn(out_col, probes(F.col(vec_col)))


def kmeans_refine(
    df: DataFrame,
    centroids: np.ndarray,
    n_iter: int = 3,
    vec_col: str = "embedding",
) -> np.ndarray:
    """A few Lloyd iterations to balance the IVF inverted lists: assign
    (one distributed Arrow matmul pass), then reduce per-cell mean via
    per-PARTITION partial (sum, count) blocks — the only driver traffic
    is n_partitions × (k × d + k) floats per round, never row data.
    Empty cells keep their previous centroid. Recall at fixed nprobe
    improves because balanced lists make the probed fraction of the
    corpus track nprobe/k (a giant list under random seeding hides
    neighbors the probe budget can't reach)."""
    from pyspark.sql import types as T

    k, d = centroids.shape
    schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("cnt", T.DoubleType(), False),
            T.StructField("vsum", T.ArrayType(T.DoubleType()), False),
        ]
    )

    for _ in range(n_iter):
        assigned = ivf_assign(df, centroids, vec_col).select(vec_col, "ivf_cell")

        def partials(batches):
            guard_zip_caches()
            sums = np.zeros((k, d))
            cnts = np.zeros(k)
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                cells = pdf["ivf_cell"].to_numpy()
                np.add.at(sums, cells, m)
                np.add.at(cnts, cells, 1.0)
            if seen:
                yield pd.DataFrame(
                    {"cell": np.arange(k, dtype=np.int32), "cnt": cnts,
                     "vsum": list(sums)}
                )

        rows = assigned.mapInPandas(partials, schema).collect()
        sums = np.zeros((k, d))
        cnts = np.zeros(k)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["vsum"])
            cnts[r["cell"]] += r["cnt"]
        nonempty = cnts > 0
        centroids = centroids.copy()
        centroids[nonempty] = sums[nonempty] / cnts[nonempty, None]
    return centroids


def ivf_list_stats(assigned: DataFrame, n_centroids: int,
                   cell_col: str = "ivf_cell") -> dict:
    """Audit the inverted-list size distribution (one aggregate job):
    skewed lists mean one probe task scans a disproportionate corpus
    share and recall varies by region — unbalanced centroid seeds must
    surface in run manifests, never stay silent (same policy as the LSH
    bucket-cap audit, ``dedup.lsh_bucket_stats``)."""
    row = (
        assigned.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_nonempty_cells"),
            F.max("n").alias("max_list"),
            F.min("n").alias("min_list"),
            F.sum("n").alias("total"),
        )
        .collect()[0]
    )
    total = int(row["total"] or 0)
    nonempty = int(row["n_nonempty_cells"] or 0)
    mean_list = total / n_centroids if n_centroids else 0.0
    return {
        "n_centroids": int(n_centroids),
        "n_nonempty_cells": nonempty,
        "n_empty_cells": int(n_centroids) - nonempty,
        "max_list": int(row["max_list"] or 0),
        "min_list": int(row["min_list"] or 0),
        # >1 = imbalance factor of the hottest list vs perfect balance
        "max_over_mean": round(float(row["max_list"] or 0) / mean_list, 4)
        if mean_list
        else 0.0,
    }


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: np.ndarray | None = None,
    kmeans_iters: int = 0,
    broadcast_queries: bool = True,
    audit: dict | None = None,
) -> DataFrame:
    """IVF approximate nearest neighbors: coarse-quantize the corpus
    into ``n_centroids`` inverted lists, probe the ``nprobe`` lists
    nearest to each query, exact cosine re-rank inside the probed lists.

    The scale path between hyperplane-LSH (hash recall, no distance
    ordering) and the exact blocked matmul (O(n²)): scan cost drops to
    ~nprobe/n_centroids of the corpus per query, the corpus shuffles
    once on the 4-byte cell id, probe assignment is a distributed
    Arrow pass over the query table (``ivf_probe_cells`` — no driver
    collect), and the probed (query, cell) pairs broadcast-join the
    lists (pass ``broadcast_queries=False`` when the query table itself
    is too big to broadcast — the join falls back to a shuffled
    equi-join on the 4-byte cell id). ``kmeans_iters`` > 0 runs Lloyd
    refinement on the seed centroids first (better list balance →
    better recall at fixed nprobe)."""
    from pyspark.sql import Window

    if centroids is None:
        centroids = sample_centroids(df, n_centroids, vec_col, id_col)
    if kmeans_iters:
        centroids = kmeans_refine(df, centroids, kmeans_iters, vec_col)
    base = ivf_assign(df, centroids, vec_col)
    if audit is not None:
        audit.update({"ivf_lists": ivf_list_stats(base, len(centroids))})

    probes = (
        ivf_probe_cells(queries, centroids, nprobe, vec_col)
        .select(
            F.col(query_id_col),
            F.col(vec_col).cast("array<double>").alias("__qvec"),
            F.explode("__cells").alias("ivf_cell"),
        )
    )
    if broadcast_queries:
        probes = F.broadcast(probes)
    cand = base.join(probes, "ivf_cell").withColumn(
        "sim",
        cosine_sim(F.col(vec_col).cast("array<double>"), F.col("__qvec")),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", F.round("sim", 6).alias("sim"))
    )


def cosine_all_pairs_exact(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold via blocked matrix multiply —
    the engine-independent verify baseline the LSH path is graded
    against (an oracle can't depend on hash-bucket recall).

    Distribution shape: vectors are hashed into ``n_blocks`` blocks;
    each of the B(B+1)/2 block pairs is one task that computes a dense
    ``A_norm @ B_norm.T`` in numpy (Arrow in, BLAS inside, tiny pair
    list out). Total flops are the unavoidable O(n²·d) of an exact
    sweep, but each task is cache-friendly matmul (~100× a per-pair
    loop), the shuffle volume is n·(B+1) vector copies (not n²), and
    B scales the task grid to the cluster. For 10^9+ rows use the LSH
    operator; this is the exact path for verify/eval-scale inputs."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("__blk"),
    )
    # each vector joins every block pair (i<=j) it belongs to, tagged by
    # side; grouped per (i,j) task key
    combos = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    combo_df = spark.createDataFrame(combos, schema="bi int, bj int")
    tagged = base.join(
        F.broadcast(combo_df),
        (F.col("__blk") == F.col("bi")) | (F.col("__blk") == F.col("bj")),
    )
    out_schema = T.StructType(
        [
            T.StructField("id_a", df.schema[id_col].dataType, False),
            T.StructField("id_b", df.schema[id_col].dataType, False),
            T.StructField("sim", T.DoubleType(), False),
        ]
    )
    thr = float(threshold)

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        guard_zip_caches()
        empty = pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        ia = pdf.loc[pdf["__blk"] == bi, "__id"].to_numpy()
        ib = pdf.loc[pdf["__blk"] == bj, "__id"].to_numpy()
        if len(ia) == 0 or len(ib) == 0:
            return empty
        va = np.stack(pdf.loc[pdf["__blk"] == bi, "__v"].to_numpy())
        vb = va if bi == bj else np.stack(pdf.loc[pdf["__blk"] == bj, "__v"].to_numpy())
        na = np.linalg.norm(va, axis=1, keepdims=True)
        nb = np.linalg.norm(vb, axis=1, keepdims=True)
        sims = (va / np.where(na > 0, na, 1.0)) @ (vb / np.where(nb > 0, nb, 1.0)).T
        r, c = np.nonzero(sims >= thr)
        id_a, id_b, s = ia[r], ib[c], sims[r, c]
        if bi == bj:
            # same block: every pair appears twice + self-pairs — keep a<b
            keep = id_a < id_b
            id_a, id_b, s = id_a[keep], id_b[keep], s[keep]
        else:
            # cross block: each pair appears once — normalize order
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            id_a, id_b = lo, hi
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "sim": s})

    return (
        tagged.groupBy("bi", "bj")
        .applyInPandas(block_pair, schema=out_schema)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )
