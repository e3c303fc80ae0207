"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (built-in higher-order
functions — zip_with/aggregate — JVM-side), and an LSH-bucketed variant
as the scale path: random-hyperplane signatures bucket vectors so the
pairwise work at 100 TB happens within buckets instead of n^2.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x)


def _norm(a):
    # square in double (float32 squares would lose the precision the
    # cross-engine oracle compare needs)
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x))


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int | None = None) -> DataFrame:
    """Exact brute-force cosine top-k against a constant query vector.
    One scan, no shuffle until the final top-k (orderBy+limit is a
    TakeOrdered — partial top-k per partition, k rows to the driver).
    ``round_to`` rounds the score before ranking (cross-engine-stable
    comparisons)."""
    q = F.array(*[F.lit(float(x)).cast("float") for x in query_vec])
    qn = float(np.sqrt(np.sum(np.square(np.asarray(query_vec, np.float64)))))
    cos = (_dot(F.col(vec_col), q)
           / (F.greatest(_norm(F.col(vec_col)), F.lit(1e-30)) * F.lit(qn)))
    if round_to is not None:
        cos = F.round(cos, round_to)
    return (df.select(id_col, cos.alias("cosine"))
              .orderBy(F.col("cosine").desc(), F.col(id_col))
              .limit(k))


def _as_matrix(vecs) -> np.ndarray:
    """pandas Series of fixed-dim vectors -> (n, dim) float64 matrix."""
    return np.array([np.asarray(v, dtype=np.float64)
                     for v in vecs], dtype=np.float64)


def lsh_buckets_udf(df: DataFrame, planes: np.ndarray,
                    id_col: str = "vec_id", vec_col: str = "embedding"
                    ) -> DataFrame:
    """Multi-table random-hyperplane buckets via ONE Arrow-batched
    pandas UDF: ``planes`` has shape (tables, planes_per_table, dim);
    each row gets an array of ``tables`` bucket ids from a single
    (batch x tables*planes) matmul. This is the scale path a Spark
    expression tree (one literal array per plane) cannot reach: the
    plane matrix ships once in the UDF closure (O(T*P*dim) — KBs),
    not as thousands of literals in the plan."""
    from pyspark.sql.functions import pandas_udf

    t, p, dim = planes.shape
    flat = planes.reshape(t * p, dim).astype(np.float64)
    weights = (1 << np.arange(p)).astype(np.int64)

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        m = _as_matrix(vecs)
        bits = (m @ flat.T > 0).reshape(len(m), t, p)
        ids = (bits * weights).sum(axis=2)
        return pd.Series(list(ids))

    return df.select(id_col, vec_col,
                     buckets(F.col(vec_col)).alias("buckets"))


def _kmeans_fit(x: "np.ndarray", k: int, iters: int, seed: int,
                chunk: int = 1024) -> "np.ndarray":
    """Deterministic k-means (numpy, driver-side — the centroid table
    is small by construction; the data never leaves the executors).

    Distances use the same matmul expansion as :func:`ivf_assign`
    (||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2, the row-constant term
    dropped from the argmin) computed in ``chunk``-row slices, so peak
    memory is O(chunk * k) — never the O(sample * k * dim) broadcast
    tensor that made 4k-centroid/1k-dim fits a ~17 GB driver
    allocation. Centroid updates are one vectorized scatter-add."""
    rng = np.random.default_rng(seed)
    cent = np.ascontiguousarray(
        x[rng.choice(len(x), size=min(k, len(x)), replace=False)])
    for _ in range(iters):
        c_sq = (cent ** 2).sum(axis=1)
        lab = np.empty(len(x), dtype=np.int64)
        for s in range(0, len(x), chunk):
            xc = x[s:s + chunk]
            d = c_sq[None, :] - 2.0 * (xc @ cent.T)
            lab[s:s + len(xc)] = d.argmin(axis=1)
        sums = np.zeros_like(cent)
        np.add.at(sums, lab, x)
        counts = np.bincount(lab, minlength=len(cent))
        nz = counts > 0
        cent[nz] = sums[nz] / counts[nz, None]
    return cent


def ivf_assign(df: DataFrame, centroids: "np.ndarray",
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """IVF coarse quantizer: nearest-centroid list id per vector via an
    Arrow-batched pandas UDF — the centroid matrix (n_centroids x dim)
    ships once in the UDF closure and the assignment is one
    (batch x centroids) matmul per Arrow batch. No shuffle, no literal
    expression trees: 4k centroids x 1024 dims is a 32 MB closure and a
    dense GEMM, where the expression-tree formulation would be a
    4-million-node plan."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c ** 2).sum(axis=1)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = _as_matrix(vecs)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant per
        # row, drop it from the argmin
        d = c_sq[None, :] - 2.0 * (m @ c.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return df.select(id_col, vec_col,
                     assign(F.col(vec_col)).alias("ivf_list"))


def ivf_train_sample(df: DataFrame, train_sample: int,
                     id_col: str = "vec_id", vec_col: str = "embedding"
                     ) -> np.ndarray:
    """Deterministic executor-side training sample: TakeOrdered by
    xxhash64(id) — a pseudo-random but reproducible subset, gathered
    with per-partition partial top-k (no global sort, no unbounded
    collect; the driver sees exactly ``train_sample`` rows)."""
    rows = (df.select(vec_col, F.xxhash64(F.col(id_col)).alias("_h"))
              .orderBy("_h").limit(train_sample).collect())
    return np.array([np.asarray(r[0], dtype=np.float64) for r in rows])


def ann_topk_ivf(df: DataFrame, query_vec: list[float], k: int = 10,
                 n_centroids: int = 16, n_probe: int = 6,
                 train_sample: int = 512, iters: int = 5, seed: int = 42,
                 id_col: str = "vec_id", vec_col: str = "embedding"
                 ) -> DataFrame:
    """IVF approximate top-k: k-means centroids from a deterministic
    sample, vectors bucketed by nearest centroid (pandas-UDF matmul),
    search only the ``n_probe`` lists nearest the query. At scale the
    assignment is a one-pass narrow map and the search touches
    n_probe/n_centroids of the data."""
    sample = ivf_train_sample(df, train_sample, id_col, vec_col)
    if len(sample) == 0:
        # empty corpus: nothing to train on — exact search is free
        # and returns the same (empty) shape
        return cosine_topk(df, query_vec, k, id_col, vec_col)
    cent = _kmeans_fit(sample, n_centroids, iters, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    probes = np.argsort(((cent - q) ** 2).sum(axis=1))[:n_probe]
    assigned = ivf_assign(df, cent, id_col, vec_col)
    cand = assigned.filter(F.col("ivf_list")
                           .isin([int(p) for p in probes]))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ann_topk_ivfpq(df: DataFrame, query_vec: list[float], k: int = 10,
                   n_centroids: int = 16, n_probe: int = 6,
                   m: int = 8, ksub: int = 32, shortlist: int = 0,
                   train_sample: int = 512, iters: int = 5,
                   seed: int = 42, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   residual: bool = True) -> DataFrame:
    """IVF x PQ composed — the FAISS IVFADC retrieval shape. Three
    stages, each touching less data:

    1. coarse quantizer: k-means lists from a deterministic sample;
       only the ``n_probe`` lists nearest the query are scanned
       (n_probe/n_centroids of the corpus);
    2. ADC: within probed lists, M-byte PQ codes score via driver-built
       lookup tables — the corpus floats are never read;
    3. exact rescore of the ``shortlist`` best candidates.

    ``residual=True`` (the FAISS IVFADC default, and ours): the PQ
    codebooks quantize the per-list RESIDUAL ``x - centroid(list)``,
    whose spread is much smaller than the raw vectors', so the same
    M bytes carry more precision and the ADC shortlist can shrink.
    The price is per-probed-list ADC tables — (n_probe, m, ksub)
    floats built on the driver, still KBs. ``residual=False`` keeps
    the one-shared-table variant.

    At 100 TB: stage 1 is a narrow map over list assignments (or a
    partition-pruned read if the table is list-partitioned), stage 2
    scans ~3% of raw bytes on ~n_probe/n_centroids of rows, stage 3
    joins ``shortlist`` rows."""
    sample = ivf_train_sample(df, train_sample, id_col, vec_col)
    if len(sample) == 0:
        # empty corpus: nothing to train on — exact search is free
        # and returns the same (empty) shape
        return cosine_topk(df, query_vec, k, id_col, vec_col,
                           round_to=6)
    cent = _kmeans_fit(sample, n_centroids, iters, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    probes = np.argsort(((cent - q) ** 2).sum(axis=1))[:n_probe]
    assigned = ivf_assign(df, cent, id_col, vec_col)
    cand = assigned.filter(F.col("ivf_list")
                           .isin([int(p) for p in probes]))
    if not residual:
        books = pq_train(df, m, ksub, train_sample, iters, seed,
                         id_col, vec_col)
        return ann_topk_pq(cand.select(id_col, vec_col), query_vec,
                           k=k, shortlist=shortlist, id_col=id_col,
                           vec_col=vec_col, codebooks=books)
    books = _pq_train_residual(sample, cent, m, ksub, iters, seed)
    shortlist = shortlist or 4 * k
    scored = _ivfpq_residual_scores(cand, cent, books, query_vec,
                                    probes, id_col, vec_col)
    short = (scored.orderBy(F.col("adc_cosine").desc(), F.col(id_col))
                   .limit(shortlist).select(id_col))
    return cosine_topk(df.join(short, id_col), query_vec, k,
                       id_col, vec_col, round_to=6)


def _pq_train_residual(sample: "np.ndarray", cent: "np.ndarray",
                       m: int, ksub: int, iters: int,
                       seed: int) -> np.ndarray:
    """PQ codebooks over the coarse-quantizer residuals of the
    training sample (codebooks shared across lists, trained on
    residuals — the FAISS IVFADC layout)."""
    c_sq = (cent ** 2).sum(axis=1)
    lab = (c_sq[None, :] - 2.0 * (sample @ cent.T)).argmin(axis=1)
    resid = sample - cent[lab]
    dim = resid.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for i in range(m):
        books[i] = _kmeans_fit(resid[:, i * dsub:(i + 1) * dsub],
                               ksub, iters, seed + i)
    return books


def _ivfpq_residual_scores(cand: DataFrame, cent: "np.ndarray",
                           books: "np.ndarray",
                           query_vec: list[float], probes,
                           id_col: str, vec_col: str) -> DataFrame:
    """ADC cosine over residual-coded candidates: encode each row's
    residual to M bytes and score it in the same Arrow batch. With
    x ~ c_l + r: dot(q, x) = dot(q, c_l) + M dot-table reads, and
    ||x||^2 = ||c_l||^2 + 2*cross-table reads + norm-table reads —
    the cross term is the per-probed-list table residual coding
    costs. One narrow map, no shuffle; the closure carries
    (n_probe, m, ksub) floats."""
    from pyspark.sql.functions import pandas_udf

    books = np.ascontiguousarray(books, dtype=np.float64)
    m, ksub, dsub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError("query dim != codebook dim")
    qn = float(np.sqrt((q ** 2).sum()))
    probes = [int(p) for p in probes]
    pidx = {p: j for j, p in enumerate(probes)}      # list -> compact
    pc_ = np.ascontiguousarray(cent[probes])         # (P, dim)
    qdotc = pc_ @ q                                  # (P,)
    c_sq = (pc_ ** 2).sum(axis=1)                    # (P,)
    lut_dot = np.stack([books[i] @ q[i * dsub:(i + 1) * dsub]
                        for i in range(m)])          # (m, ksub)
    lut_sq = (books ** 2).sum(axis=2)                # (m, ksub)
    # per-list cross term dot(c_l, r-hat): (P, m, ksub)
    lut_cross = np.stack([
        np.stack([books[i] @ pc_[j, i * dsub:(i + 1) * dsub]
                  for i in range(m)]) for j in range(len(probes))])
    rows = np.arange(m)
    b_sq = lut_sq                # same (m, ksub) array, reused for the
                                 # encoding distances — not recomputed

    @pandas_udf("double")
    def score(vecs: pd.Series, lists: pd.Series) -> pd.Series:
        x = _as_matrix(vecs)
        li = np.array([pidx[int(v)] for v in lists], dtype=np.int64)
        r = x - pc_[li]
        cm = np.empty((len(x), m), dtype=np.int64)
        for i in range(m):
            rs = r[:, i * dsub:(i + 1) * dsub]
            d = b_sq[i][None, :] - 2.0 * (rs @ books[i].T)
            cm[:, i] = d.argmin(axis=1)
        dot = qdotc[li] + lut_dot[rows[None, :], cm].sum(axis=1)
        nrm2 = (c_sq[li]
                + 2.0 * lut_cross[li[:, None], rows[None, :], cm]
                .sum(axis=1)
                + lut_sq[rows[None, :], cm].sum(axis=1))
        nrm = np.sqrt(np.maximum(nrm2, 1e-60))
        return pd.Series(dot / (nrm * qn))

    return cand.select(id_col,
                       score(F.col(vec_col), F.col("ivf_list"))
                       .alias("adc_cosine"))


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.9,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          n_planes: int = 0, seed: int = 42,
                          dim: int | None = None,
                          round_to: int | None = 6,
                          n_tables: int = 1) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a < id_b) with cosine >=
    threshold.

    ``n_planes=0``: exact all-pairs join (oracle-checkable; quadratic —
    small inputs / verification only). ``n_planes>0``: the scale path —
    ``n_tables`` independent random-hyperplane tables of ``n_planes``
    bits each (OR-amplification): a pair is a candidate if it collides
    in ANY table, then candidates are verified with exact cosine.
    Per-table collision prob for angle t is (1-t/pi)^planes, overall
    recall 1-(1-p)^tables — tune (planes, tables) to the target
    threshold: few planes + many tables for moderate thresholds, more
    planes (tighter buckets) for cosine ~ 1. The pair join runs only
    inside (table, bucket) groups, so work is sum of bucket sizes
    squared, not n^2."""
    norm = F.greatest(_norm(F.col(vec_col)), F.lit(1e-30))
    base = df.select(id_col, vec_col, norm.alias("_n"))
    cos_ab = None
    if n_planes > 0:
        if dim is None:
            raise ValueError("dim is required for the LSH path")
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_tables, n_planes, dim))
        banded = (lsh_buckets_udf(df, planes, id_col, vec_col)
                  .select(id_col, F.posexplode("buckets")
                          .alias("tbl", "bucket")))
        left, right = banded.alias("l"), banded.alias("r")
        cand = (left.join(right,
                          (F.col("l.tbl") == F.col("r.tbl"))
                          & (F.col("l.bucket") == F.col("r.bucket"))
                          & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
                .select(F.col(f"l.{id_col}").alias("id_a"),
                        F.col(f"r.{id_col}").alias("id_b"))
                .distinct())
        a = base.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("_va"),
                        F.col("_n").alias("_na"))
        b = base.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("_vb"),
                        F.col("_n").alias("_nb"))
        cos = _dot(F.col("_va"), F.col("_vb")) \
            / (F.col("_na") * F.col("_nb"))
        if round_to is not None:
            cos = F.round(cos, round_to)
        return (cand.join(a, "id_a").join(b, "id_b")
                .select("id_a", "id_b", cos.alias("cosine"))
                .filter(F.col("cosine") >= threshold))
    a, b = base.alias("a"), base.alias("b")
    cos = (_dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
           / (F.col("a._n") * F.col("b._n")))
    if round_to is not None:
        cos = F.round(cos, round_to)
    return (a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     cos.alias("cosine"))
             .filter(F.col("cosine") >= threshold))


def ann_topk_lsh_multi(df: DataFrame, query_vec: list[float], k: int = 10,
                       n_planes: int = 3, n_tables: int = 10,
                       seed: int = 42, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k with OR-amplified tables: score vectors that
    share the query's bucket in ANY of ``n_tables`` independent
    ``n_planes``-bit tables. Coarse buckets + many tables is the
    parameterization for moderate-similarity neighborhoods (recall
    1-(1-p^planes)^tables with p = 1 - angle/pi); tight high-cosine
    neighborhoods can use more planes and fewer tables. The bucket
    filter is a constant predicate over the per-row bucket array —
    one narrow scan, candidates then rank via TakeOrdered."""
    q = np.asarray(query_vec, dtype=np.float64)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, len(q)))
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    qb = [int((((planes[t] @ q) > 0) * weights).sum())
          for t in range(n_tables)]
    bucketed = lsh_buckets_udf(df, planes, id_col, vec_col)
    cond = None
    for t in range(n_tables):
        c = F.element_at("buckets", t + 1) == F.lit(qb[t])
        cond = c if cond is None else cond | c
    cand = bucketed.filter(cond)
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


# --- product quantization (PQ) ---------------------------------------------
# Jegou, Douze, Schmid: "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011) — public method. The embedding dimension is split
# into M subspaces; each subspace gets its own small k-means codebook
# and every vector compresses to M sub-codes (one byte each at
# ksub <= 256). Search uses Asymmetric Distance Computation (ADC): the
# query stays exact, per-subspace lookup tables turn scoring a vector
# into M table reads — no float decode of the corpus at all.
#
# This is the lossy columnar-embedding codec the byte-plane float codec
# (engine._encode_float_array) deliberately is not: 64-dim float32 rows
# (256 B) become M=8 byte codes (8 B, 32x) and the scan over codes is a
# uint8 gather, so a 100 TB embedding corpus ANN-scans from a table
# ~3% its raw size. The exact-refine stage then rescores only the ADC
# shortlist against the original vectors (standard two-stage retrieval).


def pq_train(df: DataFrame, m: int = 8, ksub: int = 32,
             train_sample: int = 512, iters: int = 10, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             sample: np.ndarray | None = None) -> np.ndarray:
    """Train per-subspace codebooks -> (m, ksub, dim//m) float64.
    Training runs on a deterministic bounded sample (TakeOrdered by
    xxhash64 — no unbounded collect; pass ``sample`` to reuse one
    already gathered); each subspace is an independent
    :func:`_kmeans_fit` (chunked matmul distances, driver-memory-safe
    at real codebook sizes)."""
    if sample is None:
        sample = ivf_train_sample(df, train_sample, id_col, vec_col)
    if len(sample) == 0:
        raise ValueError(
            "pq_train: empty training sample (empty corpus?) — "
            "codebook dimensionality is undefined; use exact "
            "cosine_topk for empty/tiny corpora")
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for i in range(m):
        books[i] = _kmeans_fit(sample[:, i * dsub:(i + 1) * dsub],
                               ksub, iters, seed + i)
    return books


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding"
              ) -> DataFrame:
    """Compress vectors to M-byte PQ codes (``binary`` column): one
    Arrow-batched pandas UDF, per-subspace nearest-centroid via the
    same matmul expansion as :func:`ivf_assign`. The codebook tensor
    ships once in the UDF closure (m * ksub * dsub floats — KBs); the
    plan is a narrow map, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    c_sq = (books ** 2).sum(axis=2)  # (m, ksub)

    @pandas_udf("binary")
    def encode(vecs: pd.Series) -> pd.Series:
        x = _as_matrix(vecs)
        codes = np.empty((len(x), m), dtype=np.uint8)
        for i in range(m):
            xs = x[:, i * dsub:(i + 1) * dsub]
            d = c_sq[i][None, :] - 2.0 * (xs @ books[i].T)
            codes[:, i] = d.argmin(axis=1)
        return pd.Series(list(codes.tobytes(order="C")[j * m:(j + 1) * m]
                              for j in range(len(x))))

    return df.select(id_col, encode(F.col(vec_col)).alias("pq_code"))


def pq_reconstruct(codes_df: DataFrame, codebooks: np.ndarray,
                   id_col: str = "vec_id") -> DataFrame:
    """Decode PQ codes back to (approximate) float vectors — the lossy
    inverse of :func:`pq_encode`, for pipelines that need vectors, not
    scores. Same narrow-map shape."""
    from pyspark.sql.functions import pandas_udf

    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape

    @pandas_udf("array<float>")
    def decode(codes: pd.Series) -> pd.Series:
        cm = np.frombuffer(b"".join(codes), dtype=np.uint8) \
               .reshape(len(codes), m)
        out = np.empty((len(codes), m * dsub), dtype=np.float32)
        for i in range(m):
            out[:, i * dsub:(i + 1) * dsub] = books[i][cm[:, i]]
        return pd.Series(list(out))

    return codes_df.select(id_col, decode(F.col("pq_code"))
                           .alias("embedding"))


def pq_adc_scores(codes_df: DataFrame, codebooks: np.ndarray,
                  query_vec: list[float], id_col: str = "vec_id"
                  ) -> DataFrame:
    """ADC cosine score per row straight from PQ codes: the query is
    cut into subvectors, two (m, ksub) lookup tables are built on the
    driver (dot(q_i, c) and ||c||^2 — both decompose exactly over
    subspaces), and each Arrow batch scores as M uint8 gathers + a row
    sum. The corpus floats are never touched."""
    from pyspark.sql.functions import pandas_udf

    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError("query dim != codebook dim")
    qn = float(np.sqrt((q ** 2).sum()))
    lut_dot = np.stack([books[i] @ q[i * dsub:(i + 1) * dsub]
                        for i in range(m)])          # (m, ksub)
    lut_sq = (books ** 2).sum(axis=2)                # (m, ksub)
    rows = np.arange(m)

    @pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        cm = np.frombuffer(b"".join(codes), dtype=np.uint8) \
               .reshape(len(codes), m)
        dot = lut_dot[rows[None, :], cm].sum(axis=1)
        nrm = np.sqrt(np.maximum(lut_sq[rows[None, :], cm].sum(axis=1),
                                 1e-60))
        return pd.Series(dot / (nrm * qn))

    return codes_df.select(id_col, adc(F.col("pq_code")).alias("adc_cosine"))


def ann_topk_pq(df: DataFrame, query_vec: list[float], k: int = 10,
                m: int = 8, ksub: int = 32, shortlist: int = 0,
                train_sample: int = 512, iters: int = 10, seed: int = 42,
                id_col: str = "vec_id", vec_col: str = "embedding",
                codebooks: np.ndarray | None = None) -> DataFrame:
    """PQ top-k: train (or reuse) codebooks, ADC-score the compressed
    codes, then exactly rescore only the ``shortlist`` best candidates
    (default 4k) against the original vectors. At 100 TB the ADC pass
    scans the M-byte code column (~3% of raw), the shortlist
    TakeOrdered moves ``shortlist`` ids, and the refine join touches
    ``shortlist`` original rows — the classic two-stage retrieval
    plan."""
    if codebooks is None:
        sample = ivf_train_sample(df, train_sample, id_col, vec_col)
        if len(sample) == 0:
            # empty corpus: nothing to train on — exact search is
            # free and returns the same (empty) shape
            return cosine_topk(df, query_vec, k, id_col, vec_col,
                               round_to=6)
        codebooks = pq_train(df, m, ksub, train_sample, iters, seed,
                             id_col, vec_col, sample=sample)
    shortlist = shortlist or 4 * k
    codes = pq_encode(df, codebooks, id_col, vec_col)
    scored = pq_adc_scores(codes, codebooks, query_vec, id_col)
    cand = (scored.orderBy(F.col("adc_cosine").desc(), F.col(id_col))
                  .limit(shortlist).select(id_col))
    return cosine_topk(df.join(cand, id_col), query_vec, k,
                       id_col, vec_col, round_to=6)
