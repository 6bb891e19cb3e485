"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set, dot products as column expressions (zip_with + aggregate, JVM-side,
  deterministic left-fold order so the DuckDB oracle reproduces bit-equal
  doubles), window top-k. The baseline and the verify oracle.
* ``lsh_topk`` — the scale path: sign-of-random-projection LSH buckets
  (Arrow numpy matmul kernel), candidates restricted to probe buckets
  (multi-probe by Hamming-1), exact cosine re-rank inside buckets. At
  10^12 vectors the bucket join replaces the cross join; recall is tunable
  via n_planes/probes.
* ``embedding_near_duplicates`` — cosine >= threshold pairs via the same
  LSH buckets (near-dup dedup for embedding space).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_cols(a, b):
    # Zero-norm (degenerate) vectors: Spark 4 ANSI mode THROWS
    # DIVIDE_BY_ZERO even on doubles, so guard the denominator. The
    # guarded NULL matches the DuckDB oracle exactly — DuckDB's
    # x / 0.0 is NULL too — and NULL scores fail every downstream
    # >= threshold filter, so degenerate vectors simply never pair.
    den = _norm(a) * _norm(b)
    return F.when(den != F.lit(0.0), _dot(a, b) / den)


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, id, score, rank)."""
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
    )
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    )
    joined = base.crossJoin(F.broadcast(q)).where(
        F.col("_qid") != F.col("_id")
    )
    w = Window.partitionBy("_qid").orderBy(
        F.col("score").desc(), F.col("_id").asc()
    )
    return (
        joined.withColumn("score", cosine_cols(F.col("_qvec"),
                                               F.col("_vec")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_id").alias(id_col),
            "score",
            "rank",
        )
    )


def cosine_topk_arrow(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
) -> DataFrame:
    """Exact brute-force top-k, Arrow execution: the fast twin of
    :func:`cosine_topk`.

    Two structural wins over the column-expression baseline:

    * scores come from one float64 BLAS matmul per Arrow batch instead
      of interpreted ``zip_with``/``aggregate`` folds per row pair (the
      docs/PLANS.md ~18us/element pitfall);
    * each partition emits only its LOCAL top-k per query (top-k is
      distributive), so the final window combines q * k * partitions
      rows — the baseline shuffles all n * q scored rows.

    The query set rides to executors inside the kernel closure (query
    sets are small by definition — the baseline broadcasts them too).
    Scores equal the baseline's up to float-summation order (BLAS vs
    left fold); ranks use the same (score desc, id asc) tiebreak. Kept
    separate from :func:`cosine_topk` because the driver oracle pins the
    left-fold double exactly; an equality test ties the two together.

    Degenerate rows: NULL and zero-norm embeddings are SKIPPED (they
    have no defined cosine); the baseline instead carries them as
    NULL/NaN scores, so results can differ only when a query has fewer
    than k well-defined candidates.
    """
    qrows = queries.select(query_id, query_vec).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.stack([
        np.asarray(r[1], dtype=np.float64) for r in qrows
    ])
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    nq = len(qids)
    cap = int(k)

    src = df.select(F.col(id_col).alias("_id"),
                    F.col(vec_col).alias("_vec"))
    id_field = src.schema["_id"].dataType
    qid_field = queries.schema[query_id].dataType
    from pyspark.sql.types import DoubleType, StructField, StructType
    out_schema = StructType([
        StructField("_qid", qid_field, True),
        StructField("_id", id_field, True),
        StructField("score", DoubleType(), True),
    ])

    def kernel(batches):
        # per-query running candidates, re-reduced to k after each batch
        acc_ids = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        acc_sc = [np.empty(0, dtype=np.float64) for _ in range(nq)]
        for pdf in batches:
            ok = pdf["_vec"].notna().to_numpy()
            if not ok.any():
                continue
            ids = pdf["_id"].to_numpy()[ok]
            mat = np.stack(
                pdf["_vec"].to_numpy()[ok]
            ).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            nz = norms[:, 0] > 0.0
            ids, mat, norms = ids[nz], mat[nz], norms[nz]
            if not len(ids):
                continue
            mat = mat / norms
            scores = mat @ qmat.T  # (batch, nq)
            for j in range(nq):
                keep = ids != qids[j]
                cid = np.concatenate([acc_ids[j], ids[keep]])
                csc = np.concatenate([acc_sc[j], scores[keep, j]])
                if len(cid) > cap:
                    order = np.lexsort((cid, -csc))[:cap]
                    cid, csc = cid[order], csc[order]
                acc_ids[j], acc_sc[j] = cid, csc
        rows = {
            "_qid": np.repeat(qids, [len(a) for a in acc_ids]),
            "_id": np.concatenate(acc_ids) if acc_ids else [],
            "score": np.concatenate(acc_sc) if acc_sc else [],
        }
        yield pd.DataFrame(rows)

    partial = src.mapInPandas(kernel, out_schema)
    w = Window.partitionBy("_qid").orderBy(
        F.col("score").desc(), F.col("_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_id").alias(id_col),
            "score",
            "rank",
        )
    )


def _make_bucket_udf(n_planes: int, dim: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))

    @F.pandas_udf(LongType())
    def bucket(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy())
        signs = (mat.astype(np.float64) @ planes) >= 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int64))

    return bucket


def lsh_buckets(
    df: DataFrame, vec_col: str, n_planes: int = 12, seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Attach a sign-LSH bucket id (int64 of n_planes sign bits).

    Pass ``dim`` explicitly to skip the driver-side ``first()`` probe job
    (one fewer Spark job per call on hot paths)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    bucket = _make_bucket_udf(n_planes, dim, seed)
    return df.withColumn("bucket", bucket(F.col(vec_col)))


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    n_planes: int = 10,
    probe_hamming: int = 1,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: join on LSH bucket (with Hamming-<=1 multi-probe),
    exact cosine re-rank within candidates. Pass ``dim`` to avoid the
    driver-side dimension probe job."""
    if dim is None:
        dim = len(queries.select(query_vec).first()[0])
    base = lsh_buckets(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        "_vec", n_planes, seed, dim=dim,
    )
    q = lsh_buckets(
        queries.select(
            F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
        ),
        "_qvec", n_planes, seed, dim=dim,
    )
    # multi-probe: query probes its bucket plus all Hamming-<=h flips
    probes = [F.col("bucket")]
    if probe_hamming >= 1:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(1 << b))
            for b in range(n_planes)
        ]
    if probe_hamming >= 2:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit((1 << b1) | (1 << b2)))
            for b1 in range(n_planes)
            for b2 in range(b1 + 1, n_planes)
        ]
    q = q.withColumn("probe", F.explode(F.array(*probes))).drop("bucket")
    joined = base.join(
        F.broadcast(q), base["bucket"] == q["probe"]
    ).where(F.col("_qid") != F.col("_id"))
    w = Window.partitionBy("_qid").orderBy(
        F.col("score").desc(), F.col("_id").asc()
    )
    return (
        joined.withColumn("score", cosine_cols(F.col("_qvec"),
                                               F.col("_vec")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_id").alias(id_col),
            "score",
            "rank",
        )
    )


def _make_assign_udf(centroids: np.ndarray, top: int = 1):
    """Arrow kernel: vector -> nearest-centroid index(es) by cosine."""
    norms = np.linalg.norm(centroids, axis=1)
    norms[norms == 0] = 1.0

    @F.pandas_udf("array<int>")
    def assign(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        vn = np.linalg.norm(mat, axis=1)
        vn[vn == 0] = 1.0
        scores = (mat @ centroids.T) / (vn[:, None] * norms[None, :])
        idx = np.argsort(-scores, axis=1)[:, :top]
        return pd.Series([row.astype(np.int32).tolist() for row in idx])

    return assign


def _kmeanspp_seeds(sample: np.ndarray, k: int, seed: int = 42
                    ) -> np.ndarray:
    """Deterministic k-means++ seeding in cosine distance over a bounded
    in-memory sample: each next centroid is drawn with probability
    proportional to its distance to the nearest already-chosen one, so
    clustered data gets seeds spread ACROSS clusters instead of whatever
    the first k rows happen to be."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    norms = np.linalg.norm(sample, axis=1)
    norms[norms == 0] = 1.0
    unit = sample / norms[:, None]
    idx = [int(rng.integers(n))]
    d = None
    for _ in range(1, min(k, n)):
        c = unit[idx[-1]]
        step = np.clip(1.0 - unit @ c, 0.0, None)
        d = step if d is None else np.minimum(d, step)
        total = d.sum()
        probs = d / total if total > 0 else np.full(n, 1.0 / n)
        idx.append(int(rng.choice(n, p=probs)))
    while len(idx) < k:  # degenerate tiny sample: repeat
        idx.append(idx[len(idx) % n])
    return sample[idx]


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 2,
    seeding: str = "kmeans++",
    seed: int = 42,
) -> DataFrame:
    """IVF-flat ANN: coarse quantizer (k-means++ seed centroids +
    Lloyd refinement via groupBy-mean), inverted lists keyed by nearest
    centroid, queries probe their ``n_probe`` closest lists, exact cosine
    re-rank inside the probed lists.

    The scale shape: the 10^12-vector side is PARTITIONED BY LIST (an
    equi join key), queries broadcast with their probe sets — the classic
    IVF trade of recall for candidate-set size, all shuffle-free on the
    big side after one assignment pass. Seeding runs over a bounded
    driver-side sample (per-partition top-k by id, no full sort);
    ``seeding='first'`` keeps the old first-k-rows behavior.
    """
    base = df.select(F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_vec"))
    centroids = _fit_centroids(base, n_centroids, lloyd_iters, seeding,
                               seed)
    assign1 = _make_assign_udf(centroids, top=1)
    lists = base.withColumn(
        "_list", F.element_at(assign1(F.col("_vec")), 1)
    )
    return _probe_and_rerank(lists, centroids, queries, id_col, query_id,
                             query_vec, k, n_probe)


def _fit_centroids(base: DataFrame, n_centroids: int, lloyd_iters: int,
                   seeding: str, seed: int) -> np.ndarray:
    """Seed (k-means++ over a bounded deterministic sample) + Lloyd
    refinement via distributed groupBy-mean. ``base`` must have columns
    (_id, _vec)."""
    # deterministic bounded sample: TakeOrderedAndProject (per-partition
    # top-k by id), never a full sort of the big side
    sample_n = (n_centroids if seeding == "first"
                else max(64 * n_centroids, 256))
    seed_rows = base.orderBy("_id").limit(sample_n).collect()
    sample = np.stack([np.asarray(r["_vec"], dtype=np.float64)
                       for r in seed_rows])
    if seeding == "first":
        centroids = sample[:n_centroids]
    elif seeding == "kmeans++":
        centroids = _kmeanspp_seeds(sample, n_centroids, seed)
    else:
        raise ValueError("unknown seeding %r" % seeding)
    centroids = centroids.copy()
    # Lloyd refinement: assign -> per-list mean. The mean is an Arrow
    # PARTIAL-SUM FOLD (round 7): each partition scatter-adds its
    # vectors into an (n_centroids, d) float64 accumulator and emits at
    # most n_centroids skinny (list, n, sums) rows, which one tiny agg
    # combines. The previous per-dimension F.avg(element_at(...)) built
    # d aggregate expressions — fine at d<=256, minutes of analysis/
    # codegen pressure at d>=1k; this path is O(1) expressions at any
    # d, costs no extra Python stage (the assign UDF already runs
    # here), and matches it up to float summation order.
    for _ in range(max(0, lloyd_iters)):
        assign1 = _make_assign_udf(centroids, top=1)
        assigned = base.withColumn(
            "_list", F.element_at(assign1(F.col("_vec")), 1)
        )
        for lst, mean in _lloyd_means(assigned, centroids.shape):
            centroids[lst] = mean
    return centroids


def _lloyd_means(assigned, shape):
    """One Lloyd pass -> [(list_id, mean_vec)] for every non-empty
    list. Per-partition numpy scatter-add partials, combined by a
    single aggregation over <= partitions * n_centroids skinny rows
    (element-wise zip_with fold — interpreted, but the row count is
    planner-sized, never data-sized)."""
    import pandas as pd

    n_centroids, dim = int(shape[0]), int(shape[1])

    def partial(batches):
        acc = np.zeros((n_centroids, dim), dtype=np.float64)
        counts = np.zeros(n_centroids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            lists = pdf["_list"].to_numpy().astype(np.int64)
            vecs = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_vec"]]
            )
            np.add.at(acc, lists, vecs)
            counts += np.bincount(lists, minlength=n_centroids)
        hit = np.nonzero(counts)[0]
        if len(hit):
            yield pd.DataFrame({
                "_list": hit,
                "_n": counts[hit],
                "_sums": [acc[i].tolist() for i in hit],
            })

    partials = assigned.select("_list", "_vec").mapInPandas(
        partial, "_list long, _n long, _sums array<double>"
    )
    zero = F.array_repeat(F.lit(0.0), dim)
    rows = (
        partials.groupBy("_list")
        .agg(
            F.sum("_n").alias("_tot"),
            F.aggregate(
                F.collect_list("_sums"),
                zero,
                lambda a, x: F.zip_with(a, x, lambda u, v: u + v),
            ).alias("_sum"),
        )
        .collect()
    )
    return [
        (
            int(r["_list"]),
            np.asarray(r["_sum"], dtype=np.float64) / float(r["_tot"]),
        )
        for r in rows
    ]


def _probe_and_rerank(lists: DataFrame, centroids: np.ndarray,
                      queries: DataFrame, id_col: str, query_id: str,
                      query_vec: str, k: int, n_probe: int) -> DataFrame:
    """Shared IVF serve path: queries probe their n_probe nearest lists
    (broadcast), exact cosine re-rank inside the probed lists."""
    assign_probe = _make_assign_udf(centroids, top=n_probe)
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
    ).withColumn("_probe", F.explode(assign_probe(F.col("_qvec"))))

    joined = lists.join(
        F.broadcast(q), lists["_list"] == q["_probe"]
    ).where(F.col("_qid") != F.col("_id"))
    w = Window.partitionBy("_qid").orderBy(
        F.col("score").desc(), F.col("_id").asc()
    )
    return (
        joined.withColumn("score", cosine_cols(F.col("_qvec"),
                                               F.col("_vec")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_id").alias(id_col),
            "score",
            "rank",
        )
    )


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_centroids: int = 16,
    lloyd_iters: int = 2,
    seeding: str = "kmeans++",
    seed: int = 42,
) -> None:
    """Materialize an IVF-flat index on disk — build ONCE, serve many
    query batches without re-running Lloyd or re-assigning the corpus:

      <path>/centroids.parquet   (list_id, centroid: array<double>)
      <path>/lists.parquet/      (id, vec) PARTITIONED BY list_id

    The inverted lists are a partitioned table, so a query batch that
    probes p of c lists scans p/c of the data — partition pruning does
    the candidate restriction at the I/O layer, the right shape for a
    10^12-vector corpus re-queried daily."""
    base = df.select(F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_vec"))
    centroids = _fit_centroids(base, n_centroids, lloyd_iters, seeding,
                               seed)
    assign1 = _make_assign_udf(centroids, top=1)
    lists = base.withColumn(
        "_list", F.element_at(assign1(F.col("_vec")), 1)
    )
    import os

    lists.write.mode("overwrite").partitionBy("_list").parquet(
        os.path.join(path, "lists.parquet")
    )
    spark = df.sparkSession
    cent_rows = [(i, [float(x) for x in c])
                 for i, c in enumerate(centroids)]
    spark.createDataFrame(
        cent_rows, "list_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids.parquet")
    )


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Serve ANN top-k from a :func:`build_ivf_index` directory. The
    probed-list filter is a partition predicate on the lists table, so
    unprobed lists are never read."""
    import os

    cent = spark.read.parquet(
        os.path.join(path, "centroids.parquet")
    ).collect()
    centroids = np.zeros(
        (len(cent), len(cent[0]["centroid"])), dtype=np.float64
    )
    for r in cent:
        centroids[int(r["list_id"])] = np.asarray(r["centroid"])
    lists = spark.read.parquet(os.path.join(path, "lists.parquet"))
    return _probe_and_rerank(lists, centroids, queries, id_col, query_id,
                             query_vec, k, n_probe)


def _train_pq_codebooks(residuals: np.ndarray, m: int, n_codes: int,
                        iters: int, seed: int) -> np.ndarray:
    """Per-subspace k-means over a bounded in-memory residual sample ->
    codebooks (m, n_codes, dim/m). Deterministic (seeded); runs on the
    DRIVER over the same bounded sample the coarse seeding uses — PQ
    training never scans the corpus."""
    n, dim = residuals.shape
    if dim % m:
        raise ValueError("dim %d not divisible by m_subspaces %d"
                         % (dim, m))
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.zeros((m, n_codes, dsub), dtype=np.float64)
    for s in range(m):
        sub = residuals[:, s * dsub:(s + 1) * dsub]
        k = min(n_codes, len(sub))
        idx = rng.choice(len(sub), size=k, replace=False)
        cents = sub[idx].copy()
        for _ in range(max(1, iters)):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[s, :k] = cents
        if k < n_codes:
            books[s, k:] = cents[rng.integers(0, k, n_codes - k)]
    return books


def build_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_centroids: int = 16,
    m_subspaces: int = 8,
    n_bits: int = 8,
    lloyd_iters: int = 2,
    pq_iters: int = 10,
    seeding: str = "kmeans++",
    seed: int = 42,
) -> dict:
    """IVF-PQ index (round-5 verdict item 8): the memory answer for
    100 TB of embeddings — float vectors do not fit the serving tier,
    ``m_subspaces`` one-byte codes per vector do.

    Layout mirrors :func:`build_ivf_index` (partitioned inverted
    lists -> partition pruning restricts I/O to probed lists), but a
    list entry is (id, code: m bytes) instead of (id, float64[dim]):
    an 8x-plus memory reduction at dim=8*m (dim * 8 bytes -> m bytes,
    64x at dim=64/m=8). Vectors are UNIT-normalized, coarse-assigned
    by cosine, and the RESIDUAL unit - centroid is product-quantized:
    per-subspace k-means codebooks trained driver-side on the same
    bounded sample as the coarse seeding.

    Serving (:func:`ivfpq_topk_indexed`) scores candidates with the
    classic asymmetric distance — per query one (m x 2^n_bits) lookup
    table of query-subvector x codebook dot products, so
    score_adc = q_unit . c_list + sum_s LUT[s, code_s] — then
    EXACTLY re-ranks the ADC top-``rerank`` against the true vectors
    fetched from the source table by id. Returns the meta dict also
    persisted to <path>/meta.json."""
    import json
    import os

    if n_bits != 8:
        raise ValueError(
            "n_bits=8 only (one byte per subspace code: numpy-packable "
            "and 256 codebook rows — the standard PQ operating point)"
        )
    n_codes = 1 << n_bits

    @F.pandas_udf("array<double>")
    def _unit(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        nrm[nrm == 0] = 1.0
        u = mat / nrm[:, None]
        return pd.Series(list(u))

    # centroids are fit in UNIT space: residual = unit - centroid must
    # be SMALL for PQ to spend its codes on the informative part — a
    # raw-mean centroid (norm ~ ||vec||) would swamp the residual with
    # its own scale and ADC ordering would collapse (measured: recall
    # 0.15 vs 0.9+ after this fix)
    base = df.select(
        F.col(id_col).alias("_id"), _unit(F.col(vec_col)).alias("_vec")
    )
    centroids = _fit_centroids(base, n_centroids, lloyd_iters, seeding,
                               seed)
    dim = centroids.shape[1]

    # bounded residual sample for codebook training (driver-side,
    # deterministic — same TakeOrderedAndProject shape as seeding)
    sample_rows = base.orderBy("_id").limit(
        max(256, 32 * n_codes)
    ).collect()
    sample = np.stack([np.asarray(r["_vec"], dtype=np.float64)
                       for r in sample_rows])
    norms = np.linalg.norm(sample, axis=1)
    norms[norms == 0] = 1.0
    unit = sample / norms[:, None]
    cnorms = np.linalg.norm(centroids, axis=1)
    cnorms[cnorms == 0] = 1.0
    lists = (unit @ (centroids / cnorms[:, None]).T).argmax(axis=1)
    books = _train_pq_codebooks(unit - centroids[lists], m_subspaces,
                                n_codes, pq_iters, seed)

    cents = centroids
    dsub = dim // m_subspaces

    @F.pandas_udf("struct<_list: int, _code: binary>")
    def encode(vec: pd.Series) -> pd.DataFrame:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        vn = np.linalg.norm(mat, axis=1)
        vn[vn == 0] = 1.0
        u = mat / vn[:, None]
        cn = np.linalg.norm(cents, axis=1)
        cn[cn == 0] = 1.0
        lst = (u @ (cents / cn[:, None]).T).argmax(axis=1)
        resid = u - cents[lst]
        codes = np.empty((len(mat), m_subspaces), dtype=np.uint8)
        for s in range(m_subspaces):
            sub = resid[:, s * dsub:(s + 1) * dsub]
            d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(
                axis=2
            )
            codes[:, s] = d.argmin(axis=1).astype(np.uint8)
        return pd.DataFrame({
            "_list": lst.astype(np.int32),
            "_code": [c.tobytes() for c in codes],
        })

    enc = base.withColumn("_e", encode(F.col("_vec"))).select(
        "_id", F.col("_e._list").alias("_list"),
        F.col("_e._code").alias("_code"),
    )
    enc.write.mode("overwrite").partitionBy("_list").parquet(
        os.path.join(path, "lists.parquet")
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids.parquet")
    )
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in books[s, c]])
            for s in range(m_subspaces)
            for c in range(n_codes)
        ],
        "subspace int, code int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks.parquet")
    )
    # int8 scalar-quantized unit vectors, a SEPARATE relation from the
    # PQ lists: the serving tier holds lists (m bytes/vec — the memory
    # claim is unchanged); sq.parquet is the disk-resident intermediate
    # rerank relation, dim bytes/vec = 8x lighter than the float64
    # source join it replaces (see ivfpq_topk_indexed sq_keep).
    @F.pandas_udf("binary")
    def _sq8(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        nrm[nrm == 0] = 1.0
        q = np.clip(np.rint(127.0 * mat / nrm[:, None]), -127,
                    127).astype(np.int8)
        return pd.Series([r.tobytes() for r in q])

    df.select(
        F.col(id_col).alias("_id"), _sq8(F.col(vec_col)).alias("_sq")
    ).write.mode("overwrite").parquet(os.path.join(path, "sq.parquet"))

    meta = {"dim": int(dim), "m_subspaces": int(m_subspaces),
            "n_bits": int(n_bits), "n_centroids": int(n_centroids),
            "sq": True}
    from ..sources.layout import atomic_write_text

    atomic_write_text(os.path.join(path, "meta.json"),
                      json.dumps(meta))
    return meta


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    source: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 64,
    sq_keep: int | None = None,
) -> DataFrame:
    """Serve ANN top-k from a :func:`build_ivfpq_index` directory:
    probe -> ADC score over one-byte codes -> top-``rerank`` per query
    -> EXACT cosine re-rank against the true vectors joined back from
    ``source`` by id. Output matches the other top-k servers:
    (query_id, id, score, rank) with exact scores.

    ``sq_keep`` (round-5 verdict item 9) inserts an int8
    scalar-quantized intermediate rerank between the ADC shortlist and
    the exact join: the top-``rerank`` candidates join the index's
    ``sq.parquet`` relation (dim int8 bytes/vector — 8x lighter than
    the float64 source vectors) and only the SQ top-``sq_keep`` per
    query proceed to the exact join. At rerank=1000 / sq_keep=4k the
    heavy per-candidate vector transfer shrinks ~8x and the float64
    join handles 25x fewer rows, at negligible recall cost (SQ dot
    error <= 0.5/127 * ||q||_1 ~ 0.002 rms for unit vectors — only
    near-ties near the cut can flip; measured in
    scripts/ann_recall_bench.py). Default None keeps the fully exact
    shortlist contract (every ADC survivor gets a true-vector score).
    Requires an index built with the sq relation (meta["sq"])."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    m = int(meta["m_subspaces"])
    dim = int(meta["dim"])
    dsub = dim // m
    cent_rows = spark.read.parquet(
        os.path.join(path, "centroids.parquet")
    ).collect()
    centroids = np.zeros((len(cent_rows), dim), dtype=np.float64)
    for r in cent_rows:
        centroids[int(r["list_id"])] = np.asarray(r["centroid"])
    book_rows = spark.read.parquet(
        os.path.join(path, "codebooks.parquet")
    ).collect()
    n_codes = 1 + max(int(r["code"]) for r in book_rows)
    books = np.zeros((m, n_codes, dsub), dtype=np.float64)
    for r in book_rows:
        books[int(r["subspace"]), int(r["code"])] = np.asarray(r["vec"])

    assign_probe = _make_assign_udf(centroids, top=n_probe)
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
    ).withColumn("_probe", F.explode(assign_probe(F.col("_qvec"))))
    lists = spark.read.parquet(os.path.join(path, "lists.parquet"))
    joined = lists.join(
        F.broadcast(q), lists["_list"] == q["_probe"]
    ).where(F.col("_qid") != F.col("_id"))

    @F.pandas_udf("double")
    def adc(qid: pd.Series, qvec: pd.Series, lst: pd.Series,
            code: pd.Series) -> pd.Series:
        out = np.empty(len(qid), dtype=np.float64)
        qids = qid.to_numpy()
        lsts = lst.to_numpy().astype(np.int64)
        codes = np.frombuffer(
            b"".join(code.to_numpy()), dtype=np.uint8
        ).reshape(len(qid), m)
        # one LUT per distinct query in the batch (query count per
        # batch is small: candidates arrive grouped by probe join)
        for uq in np.unique(qids):
            sel = qids == uq
            qv = np.asarray(qvec.iloc[int(np.flatnonzero(sel)[0])],
                            dtype=np.float64)
            n = np.linalg.norm(qv)
            qu = qv / (n if n else 1.0)
            lut = np.stack([
                books[s] @ qu[s * dsub:(s + 1) * dsub]
                for s in range(m)
            ])  # (m, n_codes)
            base_dot = centroids @ qu
            out[sel] = (
                base_dot[lsts[sel]]
                + lut[np.arange(m)[None, :], codes[sel]].sum(axis=1)
            )
        return pd.Series(out)

    # the queries relation is broadcast-sized by contract (the probe
    # join already broadcasts it) — every downstream stage therefore
    # shuffles only SKINNY (_qid, _id, score) rows and re-attaches the
    # query vector by broadcast join where a kernel needs it. Carrying
    # _qvec (8*dim bytes) through the candidate shuffles was the
    # dominant serving transfer (measured ~7x the skinny rows).
    qkv = queries.select(F.col(query_id).alias("_qid"),
                         F.col(query_vec).alias("_qvec"))
    w = Window.partitionBy("_qid").orderBy(
        F.col("_adc").desc(), F.col("_id").asc()
    )
    shortlist = (
        joined.withColumn(
            "_adc", adc(F.col("_qid"), F.col("_qvec"), F.col("_list"),
                        F.col("_code"))
        )
        .select("_qid", "_id", "_adc")
        .withColumn("_adc_rank", F.row_number().over(w))
        .where(F.col("_adc_rank") <= int(rerank))
        .select("_qid", "_id")
    )
    if sq_keep is not None:
        if not meta.get("sq"):
            raise ValueError(
                "sq_keep requires an index built with the sq relation "
                "(rebuild with build_ivfpq_index)"
            )
        if sq_keep < k:
            raise ValueError("sq_keep must be >= k")
        sq_rel = spark.read.parquet(os.path.join(path, "sq.parquet"))

        @F.pandas_udf("double")
        def sq_score(qvec: pd.Series, sq: pd.Series) -> pd.Series:
            mat = np.frombuffer(
                b"".join(sq.to_numpy()), dtype=np.int8
            ).reshape(len(sq), dim).astype(np.float64) / 127.0
            qm = np.stack(qvec.to_numpy()).astype(np.float64)
            qn = np.linalg.norm(qm, axis=1)
            qn[qn == 0] = 1.0
            return pd.Series((mat * (qm / qn[:, None])).sum(axis=1))

        w_sq = Window.partitionBy("_qid").orderBy(
            F.col("_sqs").desc(), F.col("_id").asc()
        )
        shortlist = (
            shortlist.join(sq_rel, "_id")
            .join(F.broadcast(qkv), "_qid")
            .withColumn("_sqs", sq_score(F.col("_qvec"), F.col("_sq")))
            .select("_qid", "_id", "_sqs")
            .withColumn("_sq_rank", F.row_number().over(w_sq))
            .where(F.col("_sq_rank") <= int(sq_keep))
            .select("_qid", "_id")
        )
    truth = source.select(F.col(id_col).alias("_id"),
                          F.col(vec_col).alias("_tvec"))
    w2 = Window.partitionBy("_qid").orderBy(
        F.col("score").desc(), F.col("_id").asc()
    )
    # post-SQ the shortlist is NQ*sq_keep skinny rows — broadcast it so
    # the full-width source relation never shuffles at all
    final_sl = (F.broadcast(shortlist) if sq_keep is not None
                else shortlist)
    return (
        truth.join(final_sl, "_id")
        .join(F.broadcast(qkv), "_qid")
        .withColumn("score", cosine_cols(F.col("_qvec"),
                                         F.col("_tvec")))
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_id").alias(id_col),
            "score",
            "rank",
        )
    )


def _make_band_bucket_udf(n_bands: int, band_planes: int, dim: int,
                          seed: int = 42):
    """Arrow kernel: vector -> n_bands independent sign-LSH codes (one
    int64 of band_planes sign bits per band)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_bands * band_planes))
    weights = (1 << np.arange(band_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def band_buckets(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy()).astype(np.float64)
        signs = (mat @ planes) >= 0
        codes = signs.reshape(len(mat), n_bands, band_planes) @ weights
        return pd.Series([row.tolist() for row in codes.astype(np.int64)])

    return band_buckets


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_bands: int = 8,
    band_planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, score) pairs with cosine >= threshold.

    Candidate generation is BANDED sign-LSH (the MinHash-LSH shape): a
    pair is a candidate if it collides in ANY of ``n_bands`` independent
    ``band_planes``-bit plane sets. Recall at angle theta is
    1-(1-p^r)^b with p = 1 - theta/pi, r = band_planes, b = n_bands —
    a single fixed bucket (the old shape) had recall p^r, which decays
    to useless as r grows, while a small r degenerates to all-pairs
    inside each bucket at corpus scale. Size ``band_planes`` with the
    corpus: >= ~2*log2(n) keeps expected bucket occupancy O(1), so the
    per-band self-equi-join stays linear; the verify stage re-ranks
    candidates with exact cosine so banding only affects recall, never
    precision.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    bb = _make_band_bucket_udf(n_bands, band_planes, dim, seed)
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).withColumn("_bands", bb(F.col("_vec"))).persist()
    banded = base.select(
        "_id", F.posexplode("_bands").alias("band", "bucket")
    )
    if max_bucket is not None:
        # boilerplate-flood guard, as in the MinHash path: a bucket of
        # size m contributes m^2/2 candidates
        big = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("band", "bucket")
        )
        banded = banded.join(big, ["band", "bucket"], "left_anti")
    left = banded.select(F.col("_id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("_id").alias("id_b"), "band", "bucket")
    cands = (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(F.col("_id").alias("id_a"),
                     F.col("_vec").alias("vec_a"))
    vb = base.select(F.col("_id").alias("id_b"),
                     F.col("_vec").alias("vec_b"))
    out = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("score", cosine_cols(F.col("vec_a"), F.col("vec_b")))
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    return out


def semantic_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids=None,
    n_clusters: int = 8,
    threshold: float = 0.95,
    max_cluster: int | None = None,
    assign: str = "arrow",
    lloyd_iters: int = 3,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs ->
    ``(id_a, id_b, cluster, score)``.

    Cluster the embeddings (k-means), then compare pairs ONLY within a
    cluster — the clustering replaces LSH as the candidate generator,
    trading banded recall guarantees for semantically-coherent buckets
    (the paper's finding: near-dups land in the same cluster at useful
    rates, and the per-cluster all-pairs is tractable because clusters
    are small). Complements :func:`embedding_near_duplicates`: use
    sign-LSH when you need recall guarantees at a fixed cosine,
    SemDeDup when you want cluster-scoped semantic dedup (and the
    cluster labels themselves).

    ``centroids`` (list of vectors) skips training — pass literals for
    reproducible/oracled runs; otherwise k-means++ + Lloyd trains
    ``n_clusters`` on the data (:func:`_fit_centroids`).
    ``assign='arrow'`` (default) assigns clusters in one numpy
    mapInArrow pass (BLAS dot, the scale path); ``'expr'`` uses pure
    column arithmetic whose summation order mirrors DuckDB's
    ``list_dot_product`` — the SQL-oracle-exact path. Both pick the
    FIRST maximal-cosine centroid; they can differ only when two
    cosines tie within float re-association error. Zero-norm vectors
    have no cosine to anything: both paths label them ``cluster``
    NULL and they never appear in pairs (NULL score fails the
    threshold). Zero-norm CENTROIDS are rejected up front.
    ``max_cluster`` drops oversized clusters from pairing (the
    boilerplate-flood guard: a cluster of m rows is m^2/2 pairs).
    """
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    )
    if centroids is None:
        cents = _fit_centroids(base, n_clusters, lloyd_iters,
                               "kmeans++", seed)
        cent_list = [list(map(float, c)) for c in cents]
    else:
        cent_list = [list(map(float, c)) for c in centroids]
    for c in cent_list:
        if not any(float(x) != 0.0 for x in c):
            raise ValueError("centroids must have nonzero norm")
    if assign == "expr":
        scores = F.array(*[
            cosine_cols(
                F.col("_vec"),
                F.array(*[F.lit(x) for x in c]),
            )
            for c in cent_list
        ])
        # degenerate (zero-norm) vectors score NULL against every
        # centroid -> array_max NULL -> cluster NULL (mirrored by the
        # arrow path); they never pair (NULL fails the threshold)
        mx = F.array_max(scores)
        assigned = base.withColumn(
            "cluster",
            F.when(
                mx.isNotNull(),
                F.array_position(scores, mx) - 1,
            ).cast("int"),
        )
    elif assign == "arrow":
        import pyarrow as pa

        cents_np = np.asarray(cent_list, dtype=np.float64)
        cn = cents_np / np.linalg.norm(cents_np, axis=1, keepdims=True)

        def kernel(batches):
            # Arrow, not pandas: _id passes through exact beside a NULL
            for batch in batches:
                if not batch.num_rows:
                    continue
                V = np.stack([
                    np.asarray(v, dtype=np.float64)
                    for v in batch.column("_vec").to_pylist()
                ])
                norms = np.linalg.norm(V, axis=1, keepdims=True)
                with np.errstate(invalid="ignore", divide="ignore"):
                    sims = (V / norms) @ cn.T
                labels = sims.argmax(axis=1).astype(np.int32)
                # zero-norm vectors: NULL cluster, like the expr path
                yield batch.append_column("cluster", pa.array(
                    labels, pa.int32(), mask=norms[:, 0] == 0.0
                ))

        from pyspark.sql.types import (
            IntegerType,
            StructField,
            StructType,
        )

        assigned = base.mapInArrow(
            kernel,
            StructType(
                list(base.schema.fields)
                + [StructField("cluster", IntegerType(), True)]
            ),
        )
    else:
        raise ValueError("assign must be 'arrow' or 'expr'")
    if max_cluster is not None:
        big = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_cluster)
            .select("cluster")
        )
        assigned = assigned.join(big, ["cluster"], "left_anti")
    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_vec").alias("vec_a"),
        "cluster",
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), F.col("_vec").alias("vec_b"),
        "cluster",
    )
    return (
        a.join(b, ["cluster"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score", cosine_cols(F.col("vec_a"), F.col("vec_b"))
        )
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "cluster", "score")
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    **kwargs,
) -> DataFrame:
    """Keep one representative per semantic-duplicate group: drops any
    row that has a duplicate with a SMALLER id (the engine's min-id
    representative convention, as in exact_duplicates). Kwargs pass
    through to :func:`semantic_duplicates`."""
    pairs = semantic_duplicates(df, id_col, vec_col, **kwargs)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")
