"""Similarity search over embedding columns (array<float>).

Training-data-pipeline operator set (no reference equivalent — GeoCore's
nearest-neighbor work is geographic, block.py:102-119; these are its
embedding-space analogues):

- brute_force_topk: exact cosine top-k, the correctness baseline. Dot
  products are pure Column expressions (zip_with + aggregate — JVM-side,
  no Python); the corpus side is broadcast.
- lsh_topk: random-hyperplane LSH (Charikar) bucketing for the scale
  path — candidates only from matching buckets, then exact re-rank.
- near_dup_cosine: embedding near-duplicate pairs (cosine >= threshold)
  via hyperplane-LSH blocks — the scale path.
- near_dup_pairs_exact: the same pair semantics brute-force (broadcast
  self-join) — correctness baseline and recall truth for the LSH variant.

All ordered-sum formulations match the DuckDB oracle bit-for-bit (same
IEEE double fold order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geocore_spark.session import release_previous


def _dot(a: Column, b: Column) -> Column:
    """Ordered-fold dot product of two array columns as double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _release_then_track(df: DataFrame) -> DataFrame:
    # each new call releases the previous call's frame so gate/bench
    # loops never accumulate input-sized caches
    live = release_previous("similarity", df.sparkSession)
    out = df.persist()
    live.append(out)
    return out


def _drop_null_vecs(df: DataFrame, vec_col: str) -> DataFrame:
    # the Arrow kernels np.stack the batch — ONE null embedding aborts
    # the whole stage (retried 4x, job dies); a null can never be a
    # neighbor anyway, so every search path drops them up front
    return df.filter(F.col(vec_col).isNotNull())


def _rank_topk(scored: DataFrame, k: int, query_id: str) -> DataFrame:
    """The ONE (cos desc, nid asc) top-k tail every search path shares —
    a tie-break or output-schema change lands everywhere at once."""
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id),
            F.col("nid").alias("neighbor_id"),
            "cos_sim",
            "rank",
        )
    )


def _train_codebook(
    corpus: DataFrame, corpus_id: str, vec_col: str, train_sample: int, n_lists: int
) -> np.ndarray:
    """Driver-side IVF codebook from a DETERMINISTIC sample: orderBy(id)
    + limit is a distributed TakeOrdered (a bare limit() picks whatever
    rows arrive first, so the codebook — and every downstream top-k —
    changed with input partitioning). n_lists clamps to the sample size:
    requesting 16 lists over a 10-vector corpus previously IndexError'd."""
    rows = (
        _drop_null_vecs(corpus, vec_col)
        .orderBy(corpus_id)
        .limit(train_sample)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("IVF: corpus has no non-null embeddings to train on")
    sample = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    return _kmeans_centroids(sample, min(n_lists, len(sample)))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query over a broadcast corpus.

    Physical shape: BroadcastNestedLoopJoin + codegen'd dot product +
    per-query window top-k. Right for corpus sizes up to ~1M x small dims;
    beyond that use :func:`lsh_topk` (bucketed) — same output contract.
    Pass ``exclude_self=False`` when queries and corpus are DIFFERENT
    tables: the default id-equality exclusion would silently drop a
    legitimate neighbor whose id coincides with the query's.
    """
    q = _drop_null_vecs(queries, vec_col).select(
        F.col(query_id).alias("qid"), F.col(vec_col).alias("qv")
    )
    c = _drop_null_vecs(corpus, vec_col).select(
        F.col(corpus_id).alias("nid"), F.col(vec_col).alias("nv")
    )
    pairs = q.crossJoin(F.broadcast(c))
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("nid"))
    scored = pairs.select(
        "qid",
        "nid",
        F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
    )
    return _rank_topk(scored, k, query_id)


def _hyperplanes(dim: int, n_planes: int, seed: int = 11) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def signature_udf(dim: int, n_planes: int = 16, seed: int = 11):
    """Random-hyperplane signature (int bucket id) as an Arrow kernel."""
    planes = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        proj = m @ planes.T  # (n, n_planes)
        bits = (proj > 0).astype(np.uint64)
        weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))[None, :]
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return _sig


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: union of ``n_tables`` hyperplane-LSH
    bucket joins, exact re-rank of candidates. Recall grows with tables;
    shuffle is bounded by bucket-collision pairs, never |Q| x |C|.
    ``exclude_self=False`` for distinct query/corpus tables (see
    brute_force_topk)."""
    qin = _drop_null_vecs(queries, vec_col)
    cin = _drop_null_vecs(corpus, vec_col)
    cands = None
    for t in range(n_tables):
        sig = signature_udf(dim, n_planes, seed=11 + t)
        q = qin.select(
            F.col(query_id).alias("qid"), F.col(vec_col).alias("qv"), sig(F.col(vec_col)).alias("b")
        )
        c = cin.select(
            F.col(corpus_id).alias("nid"), F.col(vec_col).alias("nv"), sig(F.col(vec_col)).alias("b")
        )
        j = q.join(c, "b").drop("b")
        if exclude_self:
            j = j.filter(F.col("qid") != F.col("nid"))
        cands = j if cands is None else cands.unionByName(j)
    scored = (
        cands.dropDuplicates(["qid", "nid"])
        .select("qid", "nid", F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"))
    )
    return _rank_topk(scored, k, query_id)


def _kmeans_centroids(sample: np.ndarray, n_lists: int, n_iter: int = 8) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample (IVF codebook).

    Init = first n_lists rows of the (deterministically ordered) sample;
    Lloyd iterations in numpy. The codebook is tiny (n_lists x dim) and
    broadcasts; training cost is sample-sized, not corpus-sized.
    """
    c = sample[:n_lists].copy()
    for _ in range(n_iter):
        d = ((sample[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(n_lists):
            m = assign == j
            if m.any():
                c[j] = sample[m].mean(axis=0)
    return c


def assign_udf(centroids: np.ndarray, n_probe: int = 1):
    """vector -> array of its n_probe nearest IVF list ids (Arrow kernel)."""

    @F.pandas_udf("array<int>")
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        d = ((m[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order.tolist()))

    return _assign


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    train_sample: int = 2048,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k: k-means codebook partitions the
    corpus into inverted lists; each query probes its ``n_probe``
    closest lists and exact-ranks only those candidates.

    Scale shape: corpus shuffles ONCE on list id (and at 100 TB would be
    bucketed/stored by list id); per-query work = n_probe lists instead
    of the full corpus. Recall rises with n_probe -> n_lists (n_probe ==
    n_lists degenerates to exact brute force).
    """
    centroids = _train_codebook(corpus, corpus_id, vec_col, train_sample, n_lists)
    c_assign = assign_udf(centroids, 1)
    q_assign = assign_udf(centroids, min(n_probe, len(centroids)))
    c = _drop_null_vecs(corpus, vec_col).select(
        F.col(corpus_id).alias("nid"),
        F.col(vec_col).alias("nv"),
        F.element_at(c_assign(F.col(vec_col)), 1).alias("list_id"),
    )
    q = _drop_null_vecs(queries, vec_col).select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.explode(q_assign(F.col(vec_col))).alias("list_id"),
    )
    cand = q.join(c, "list_id")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("nid"))
    scored = cand.select(
        "qid", "nid", F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim")
    ).dropDuplicates(["qid", "nid"])
    return _rank_topk(scored, k, query_id)


def near_dup_cosine(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold) via LSH blocks.

    All table signatures are computed in ONE kernel pass over one
    PERSISTED frame (CLAUDE.md: '.persist() before self-joins') — the
    per-table self-join previously re-ran the corpus-wide signature
    kernel twice per table (12 full passes at n_tables=6). The persisted
    frame is released by the next call in this context (bounded
    registry)."""
    sig_cols = [
        signature_udf(dim, n_planes, seed=101 + t)(F.col(vec_col)).alias(f"b{t}")
        for t in range(n_tables)
    ]
    s = _release_then_track(
        _drop_null_vecs(df, vec_col).select(
            F.col(id_col), F.col(vec_col).alias("v"), *sig_cols
        )
    )
    cands = None
    for t in range(n_tables):
        l, r = s.alias("l"), s.alias("r")
        j = l.join(
            r,
            (F.col(f"l.b{t}") == F.col(f"r.b{t}")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        ).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
        )
        cands = j if cands is None else cands.unionByName(j)
    return (
        cands.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def near_dup_pairs_exact(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-duplicate pairs: every (id_a < id_b) with
    ``round(cosine, 6) >= threshold``.

    Brute force by design — broadcast self-join, |df|^2/2 codegen'd dot
    products, no Python. This is the correctness baseline (SQL-twinnable:
    DuckDB ``list_dot_product`` on ``::DOUBLE[]`` reproduces the ordered
    fold bit-for-bit) and the recall truth the LSH variant
    (:func:`near_dup_cosine`) is measured against in EVAL.md. Use it up to
    ~100k vectors; beyond that the LSH path is the 100 TB shape.
    """
    # Norms are precomputed per side: HOF lambdas are interpreted per
    # element (CLAUDE.md), so computing |a| and |b| inside the pair
    # projection would triple the per-pair work. sqrt(dot(v,v)) is the
    # same double either way — parity with the per-pair oracle formula
    # is exact.
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    ).withColumn("na", _norm(F.col("va")))
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    ).withColumn("nb", _norm(F.col("vb")))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, probe with partition pruning
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 2048,
) -> None:
    """Persist an IVF index: ``<path>/centroids`` (codebook) +
    ``<path>/lists`` (corpus partitioned BY LIST ID on disk).

    The partition layout is the point: at 100 TB the index is written
    once, and every search reads only its probed ``list_id=<i>/``
    directories — file-level partition pruning, no corpus scan. (The
    inline :func:`ivf_topk` shuffles the corpus per query-set instead.)
    """
    spark = corpus.sparkSession
    centroids = _train_codebook(corpus, corpus_id, vec_col, train_sample, n_lists)
    spark.createDataFrame(
        [(i, centroids[i].tolist()) for i in range(len(centroids))],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    assign = assign_udf(centroids, 1)
    (
        _drop_null_vecs(corpus, vec_col).select(
            F.col(corpus_id).alias("nid"),
            F.col(vec_col).alias("nv"),
            F.element_at(assign(F.col(vec_col)), 1).alias("list_id"),
        )
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/lists")
    )


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    return np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])


def ivf_index_topk(
    queries: DataFrame,
    path: str,
    k: int = 10,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k against a :func:`build_ivf_index` index.

    Collects the query side's probe-list set (queries are the small side)
    and filters the lists scan with ``list_id IN (...)`` — a partition
    filter, so only the probed directories are read. Scoring/ranking is
    identical to :func:`ivf_topk`.
    """
    spark = queries.sparkSession
    centroids = load_ivf_centroids(spark, path)
    # persisted: the probe-id collect below evaluates the assign kernel
    # once; without the persist the final action re-runs it over every
    # query row (released by the next tracked call in this context)
    q = _release_then_track(
        _drop_null_vecs(queries, vec_col).select(
            F.col(query_id).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.explode(
                assign_udf(centroids, min(n_probe, len(centroids)))(F.col(vec_col))
            ).alias("list_id"),
        )
    )
    probe_ids = sorted(r["list_id"] for r in q.select("list_id").distinct().collect())
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("list_id").isin(probe_ids)
    )
    cand = q.join(lists, "list_id")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("nid"))
    scored = cand.select(
        "qid", "nid", F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim")
    ).dropDuplicates(["qid", "nid"])
    return _rank_topk(scored, k, query_id)


# -- int8 quantization: the at-rest / on-the-wire scale path -----------------


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", prefix: str = "q"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: 4x smaller vectors for the
    persisted IVF index and every probe-side shuffle.

    Adds ``<prefix>_vec: array<tinyint>`` (round-half-up of v/scale) and
    ``<prefix>_scale: float`` with scale = max|v| / 127; the all-zero
    vector gets scale 0 and an all-zero code. Pure Column (transform +
    aggregate), deterministic. The scale is materialized as its own
    column FIRST and the transform references that column — embedding
    the aggregate inside the per-element lambda would re-fold the whole
    array once per element (O(d^2); HOF lambdas are interpreted).
    Compose with the IVF index by quantizing before ``build_ivf_index``
    and refining with the float vectors only on the final candidate set
    — recall impact is pinned in tests/test_dedup_similarity.py.
    """
    v = F.col(vec_col)
    scale_col = f"{prefix}_scale"
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    staged = df.withColumn(scale_col, (amax / F.lit(127.0)).cast("float"))
    sc = F.col(scale_col).cast("double")
    code = F.when(
        sc == 0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(
            v,
            lambda x: F.round(x.cast("double") / sc).cast("int").cast("tinyint"),
        )
    )
    return staged.withColumn(f"{prefix}_vec", code)


def quantized_dot(qa: Column, sa: Column, qb: Column, sb: Column) -> Column:
    """Approximate float dot product from two int8 codes: the integer
    accumulation stays in BIGINT (|dot| <= 127^2 * dim), one float
    multiply at the end."""
    acc = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return acc.cast("double") * sa.cast("double") * sb.cast("double")


def dequantize(qv: Column, scale: Column) -> Column:
    """array<double> reconstruction (for refine stages / debugging)."""
    return F.transform(qv, lambda x: x.cast("double") * scale.cast("double"))


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic deduplication (the 100 TB scale path)
# ---------------------------------------------------------------------------


def semdedup(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Semantic dedup via cluster-bounded cosine pruning (SemDeDup,
    Abbas et al. 2023, arXiv:2303.09540 — public recipe): assign every
    embedding to its nearest centroid, then compare pairs ONLY within a
    cluster and mark every vector that has an earlier (lower-id) cluster
    neighbor at ``round(cosine, 6) >= threshold`` as a duplicate.

    This is the scale path :func:`near_dup_pairs_exact` is the truth
    oracle for: the exact variant is |N|^2/2 and stops being runnable
    around 100k vectors, while this one is O(N * C) broadcast assignment
    plus sum-of-cluster-size-squared verification — the quadratic term is
    bounded by the largest cluster, which the caller controls via
    ``n_clusters`` (SemDeDup's published setting: C ~ sqrt(N) keeps the
    expected cluster quadratic at N^1.5 total work, embarrassingly
    parallel per cluster).

    ``centroids``: a ``(cid, cvec)`` frame. For real runs build it from
    the k-means codebook (an ndarray)::

        c = _kmeans_centroids(sample, n_clusters)
        cdf = spark.createDataFrame(
            [(i, list(map(float, v))) for i, v in enumerate(c)],
            ["cid", "cvec"],
        )

    Default: the
    ``n_clusters`` lowest-id input rows, a deterministic, SQL-replayable
    choice (quality of the partition only affects recall ACROSS clusters,
    never correctness within one; the dedup rule itself is exact given
    the assignment).

    Returns ``(id_col, cluster_id, is_dup)``, is_dup as 0/1. Assignment
    ties (equal rounded cosine to two centroids) break by cid ascending —
    rank-after-round so any SQL twin agrees at float boundaries. At real
    scale, checkpoint the assignment before the self-join (it is
    recomputed on both sides otherwise); the sf-scale query keeps the
    plan pure so the oracle sees one deterministic expression tree.
    """
    if n_clusters < 1:
        raise ValueError("n_clusters must be >= 1")
    if centroids is None:
        centroids = (
            df.orderBy(F.asc(id_col))
            .limit(n_clusters)
            .select(
                F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
            )
        )
    rk = Window.partitionBy("__id").orderBy(F.desc("__cos"), F.asc("cid"))
    assign = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "__cos", F.round(cosine(F.col("__v"), F.col("cvec")), 6)
        )
        .withColumn("__rk", F.row_number().over(rk))
        .filter(F.col("__rk") == 1)
        .select("__id", F.col("cid").alias("cluster_id"), "__v")
    )
    a = assign.select(
        F.col("__id").alias("id_a"),
        F.col("cluster_id").alias("ca"),
        F.col("__v").alias("va"),
    )
    b = assign.select(
        F.col("__id").alias("id_b"),
        F.col("cluster_id").alias("cb"),
        F.col("__v").alias("vb"),
    )
    dup_ids = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b")))
        .filter(
            F.round(cosine(F.col("va"), F.col("vb")), 6) >= F.lit(threshold)
        )
        .select(F.col("id_b").alias("__id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        assign.join(dup_ids, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "cluster_id",
            F.coalesce(F.col("__dup"), F.lit(0)).alias("is_dup"),
        )
    )


def semantic_decontam(
    corpus: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus item
    whose embedding is within ``round(cosine, 6) >= threshold`` of ANY
    eval-set embedding — the semantic complement of the n-gram
    ``operators.bloom`` / ``decontaminate`` path (catches paraphrased and
    reformatted leakage that token overlap misses; the public recipe in
    e.g. the Llama/GPT eval-decontamination reports).

    Returns ``(id_col, closest_eval_id, max_cos, contaminated)`` for every
    corpus row, contaminated as 0/1; nearest-eval ties break by eval id
    ascending AFTER rounding (the float-rank parity rule).

    Scale shape: eval sets are small by construction (1e3-1e5 rows), so
    the comparison is a broadcast nested-loop against the corpus —
    O(N * E) codegen'd dot products — and the per-corpus-row max is a
    ``max(struct(cos, -eval_id))`` HASH AGGREGATE, not a window: partial
    aggregation collapses the N*E product back to N rows map-side, so
    the only shuffle carries one row per corpus item (a window's rank
    would shuffle the full product — an E-fold blowup). The corpus is
    never collected, never self-joined; at 100 TB this is one pass over
    the corpus with an E-row broadcast.
    """
    if evalset.isEmpty():
        # the inner cross join would return ZERO rows for an empty eval
        # set — the contract is one row per corpus item, everything clean
        return corpus.select(
            F.col(id_col),
            F.lit(None).cast(evalset.schema[id_col].dataType).alias("closest_eval_id"),
            F.lit(None).cast("double").alias("max_cos"),
            F.lit(0).alias("contaminated"),
        )
    c = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    e = evalset.select(
        F.col(id_col).alias("__eid"), F.col(vec_col).alias("__e")
    )
    # min_by over the (-cos, eval_id) struct: highest cosine wins, equal
    # cosines resolve to the SMALLEST eval id — identical to a rank
    # ordered by (cos DESC, eval_id ASC). The cosine (always numeric) is
    # negated, NOT the eval id: negating a STRING id implicit-casts to
    # NULL and the tie-break silently becomes nondeterministic. The
    # order key is unique per (corpus row, eval row), so min_by is
    # deterministic. Struct order keys fall back to SortAggregate, but
    # the PARTIAL stage still collapses the N*E product to N rows before
    # the exchange (the whole point — a window rank would shuffle the
    # full product), and the pre-agg sort sees input already grouped by
    # __id (the broadcast join emits each corpus row's E candidates
    # consecutively), so it is a near-free pass.
    best = (
        c.join(F.broadcast(e))
        .select(
            "__id",
            "__eid",
            F.round(cosine(F.col("__v"), F.col("__e")), 6).alias("__cos"),
        )
        .groupBy("__id")
        .agg(
            F.max("__cos").alias("max_cos"),
            F.min_by(
                "__eid", F.struct((-F.col("__cos")), F.col("__eid"))
            ).alias("closest_eval_id"),
        )
    )
    return best.select(
        F.col("__id").alias(id_col),
        "closest_eval_id",
        "max_cos",
        F.when(F.col("max_cos") >= F.lit(threshold), F.lit(1))
        .otherwise(F.lit(0))
        .alias("contaminated"),
    )
