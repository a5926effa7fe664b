"""Similarity search over embedding columns (north-star extensions).

Two tiers:

- **Brute-force cosine top-k** — broadcast the (small) query set, score
  every corpus vector with JVM-side array expressions (zip_with +
  aggregate: a sequential in-order fold, so results are bit-deterministic),
  rank per query. At 100 TB the corpus side stays partitioned; cost is one
  scan per query batch. The correctness baseline.
- **LSH-bucketed ANN** — sign-bucket blocking (here: signs of the leading
  dimensions; at scale: random hyperplanes), candidates only within the
  query's bucket → turns the scan into an equi-join. The scale path; recall
  is traded for the bucket count.

No Python UDFs: dot products run inside codegen via higher-order functions.
A Pandas-UDF variant would batch via Arrow, but for 64-dim vectors the
built-in fold is already JVM-side and avoids the Python roundtrip entirely.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_flow_spark.functions.aggregates import det_round


def _dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i in double, sequential in-order fold (deterministic)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm_sq(a: Column) -> Column:
    return _dot(a, a)


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id <
    n_queries), self excluded. Ties broken by neighbor_id so the k-boundary
    is deterministic."""
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.sqrt(_norm_sq(F.col("embedding"))).alias("qnorm"),
    )
    # corpus norms are computed once per vector BEFORE the fan-out to
    # queries — same arithmetic as per-pair (so the oracle agrees), 1/Nth
    # the work
    corpus = embeddings.withColumn(
        "norm", F.sqrt(_norm_sq(F.col("embedding")))
    )
    pairs = corpus.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("embedding"), F.col("qe")) / (F.col("norm") * F.col("qnorm"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        det_round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sign_bucket(emb: Column, n_bits: int = 8) -> Column:
    """LSH blocking key: bit i set iff embedding[i] > 0. Deterministic and
    cheap; at scale replace raw leading dims with random-hyperplane
    projections (same plan shape: a per-row expression).

    ``n_bits`` must be in [1, 31]: bit weight 2³¹ overflows the INT
    cast under ANSI mode, which would surface only at execution, so the
    width is checked here, at plan build, with no job."""
    if not 1 <= n_bits <= 31:
        raise ValueError(f"n_bits must be in [1, 31], got {n_bits}")
    out = None
    for i in range(n_bits):
        bit = F.when(emb.getItem(i) > 0, F.lit(2**i)).otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out.cast("int")


def train_kmeans_quantizer(X, n_cells: int, seed: int = 42, max_iter: int = 8):
    """Seeded k-means++ init + capped Lloyd iterations over an in-memory
    sample (the FAISS-style IVF coarse-quantizer build). Pure numpy and
    fully deterministic for a given (X, n_cells, seed, max_iter) — which is
    what lets tests re-derive the exact centroids the operator used."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n_cells = min(n_cells, len(X))
    # k-means++ seeding: spread initial centroids ∝ squared distance,
    # maintaining the running min-distance incrementally
    C = X[[rng.randint(len(X))]]
    d2min = ((X - C[0]) ** 2).sum(-1)
    for _ in range(1, n_cells):
        total = d2min.sum()
        if total <= 0.0:
            nxt = X[rng.randint(len(X))]
        else:
            nxt = X[np.searchsorted(np.cumsum(d2min / total), rng.rand())]
        C = np.vstack([C, nxt])
        d2min = np.minimum(d2min, ((X - nxt) ** 2).sum(-1))
    for _ in range(max_iter):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        newC = C.copy()  # empty cells keep their previous centroid
        for j in range(n_cells):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(0)
        if np.array_equal(newC, C):
            break
        C = newC
    return C


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    max_iter: int = 8,
):
    """Train the IVF coarse quantizer on a bounded deterministic sample and
    return the centroid matrix (numpy, n_cells×dim). This is the
    build-once half of an ANN service: train on today's corpus, persist
    with ``save_ivf_centroids``, and serve every later query from the
    loaded centroids — ``ivf_topk(..., centroids=...)`` then runs no
    sampling, no training, and no driver-side data pull at query time."""
    import numpy as np

    # deterministic bounded sample = the lowest vec_ids; the predicate pushes
    # into the parquet scan (no global top-k sort job, unlike orderBy+limit)
    sample = (
        embeddings.filter(F.col("vec_id") < train_rows).select("embedding").toPandas()
    )
    if sample.empty:  # sparse/offset id space: fall back to an actual top-k
        sample = (
            embeddings.orderBy("vec_id")
            .limit(train_rows)
            .select("embedding")
            .toPandas()
        )
    X = np.asarray(sample["embedding"].tolist(), dtype=np.float64)
    return train_kmeans_quantizer(X, n_cells, seed, max_iter)


def save_ivf_centroids(spark, centroids, path: str) -> None:
    """Persist a trained quantizer as a tiny (cell, centroid) parquet table
    — the shareable artifact between the index build and every query job."""
    df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark, path: str):
    """Load centroids saved by ``save_ivf_centroids`` back into the numpy
    matrix ``ivf_topk`` consumes. The table is n_cells rows — collecting it
    is index-metadata I/O, not a data pull."""
    import numpy as np

    rows = spark.read.parquet(path).orderBy("cell").collect()
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    train_rows: int = 2048,
    max_iter: int = 8,
    centroids=None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    corpus into cells; each query scores only the `nprobe` nearest cells.

    Plan shape at 100 TB: the quantizer is trained once on a bounded sample
    (you never k-means the full corpus — `train_rows` caps the training
    set, taken deterministically as the lowest vec_ids so repeated runs
    agree) and its centroids are a tiny broadcast table; cell assignment is
    a map stage over the FULL corpus; search is an equi-join on cell id —
    identical skeleton to the LSH variant, but with data-adaptive cells
    (better recall per probe on clustered corpora).

    The quantizer itself trains **in-process on the driver** (seeded
    k-means++ init + capped Lloyd iterations over the collected sample) —
    the FAISS-style IVF build. Distributed KMeans would spend one full
    Spark job per Lloyd iteration to fit 16 centroids on a 2048-row
    sample; on a cluster those are ~10 barrier rounds of pure overhead.
    Only the assignment stage touches the corpus, as one Arrow-batched
    vectorized map (argmin over an n_cells×dim matmul per batch).

    ``centroids`` (numpy matrix from ``train_ivf_centroids`` /
    ``load_ivf_centroids``) skips training entirely — the query-many path:
    no sample collection, no k-means, no ``toPandas`` anywhere.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    data = embeddings.withColumn("norm", F.sqrt(_norm_sq(F.col("embedding"))))

    C = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_ivf_centroids(embeddings, n_cells, seed, train_rows, max_iter)
    )
    n_cells = len(C)
    cnorm2 = (C * C).sum(1)

    @pandas_udf("int")
    def assign_cell(emb: pd.Series) -> pd.Series:
        import numpy as _np

        Xb = _np.asarray(emb.tolist(), dtype=_np.float64)
        # argmin ||x-c||² == argmin ||c||² - 2·x·c  (x² constant per row)
        return pd.Series((cnorm2 - 2.0 * (Xb @ C.T)).argmin(1).astype("int32"))

    assigned = data.select(
        "vec_id", "embedding", "norm", assign_cell("embedding").alias("cell")
    )

    # centroid table: n_cells rows — broadcast everywhere
    spark = embeddings.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cell int, centroid array<double>",
    )
    # queries never use their own cell — derive them from the raw table so
    # the vec_id filter pushes into the parquet scan instead of forcing a
    # second full-corpus assignment pass in this plan branch
    queries = data.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    # pick nprobe nearest cells per query (distance to centroid, tiny table)
    qc = queries.crossJoin(F.broadcast(centroids))
    d2 = F.aggregate(
        F.zip_with(
            F.col("qe").cast("array<double>"),
            F.col("centroid"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(d2.asc(), F.col("cell"))
    probes = (
        qc.withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "qe", "qnorm", "cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("embedding"), F.col("qe")) / (F.col("norm") * F.col("qnorm"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        det_round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_hyperplane_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_bits: int = 4,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN with a FIXED hyperplane coarse quantizer: cell = sign bits
    of the leading ``n_bits`` dimensions (2^n_bits cells).

    Same plan skeleton as the k-means IVF (``ivf_topk``): cell assignment
    is a per-row expression over the full corpus, each query probes its
    ``nprobe`` nearest cells, and search is an equi-join on the cell id —
    never a full scan per query. The difference is the quantizer: fixed
    hyperplanes instead of trained centroids. That trades recall-per-probe
    on clustered corpora for full determinism — every step is expressible
    in ANSI SQL, which makes this variant the oracle-checked driver entry
    for the IVF family (the k-means quantizer's training loop is not
    SQL-expressible; it keeps its recall/exactness pytest).

    Probe ranking uses the exact hyperplane margin lower bound: the
    squared distance from query q to the nearest point of cell c is
    Σ q_i² over the bits where c disagrees with sign(q_i) — so probes are
    ordered by how cheaply q could cross into each cell.
    """
    spark = embeddings.sparkSession
    data = embeddings.withColumn(
        "norm", F.sqrt(_norm_sq(F.col("embedding")))
    ).withColumn("cell", sign_bucket(F.col("embedding"), n_bits))
    queries = data.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    cells = spark.range(2**n_bits).select(F.col("id").cast("int").alias("cell"))
    qc = queries.crossJoin(F.broadcast(cells))
    d2 = None
    for i in range(n_bits):
        qi = F.col("qe").getItem(i).cast("double")
        cell_bit = F.shiftright(F.col("cell"), i).bitwiseAND(F.lit(1))
        q_bit = F.when(qi > 0, F.lit(1)).otherwise(F.lit(0))
        term = F.when(cell_bit != q_bit, qi * qi).otherwise(F.lit(0.0))
        d2 = term if d2 is None else d2 + term
    wq = Window.partitionBy("query_id").orderBy(d2.asc(), F.col("cell"))
    probes = (
        qc.withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "qe", "qnorm", "cell")
    )
    cand = data.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("embedding"), F.col("qe")) / (F.col("norm") * F.col("qnorm"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell"),
        det_round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ann_lsh_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 3, n_bits: int = 8
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's sign-bucket —
    an equi-join on the bucket key instead of a full scan per query."""
    with_bucket = embeddings.withColumn(
        "bucket", sign_bucket(F.col("embedding"), n_bits)
    ).withColumn("norm", F.sqrt(_norm_sq(F.col("embedding"))))
    q = with_bucket.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qnorm"),
        "bucket",
    )
    cand = with_bucket.join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("embedding"), F.col("qe")) / (F.col("norm") * F.col("qnorm"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "bucket",
        det_round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# --- product quantization (PQ) ---------------------------------------------


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    max_iter: int = 8,
):
    """Train the PQ codebooks: split the (L2-normalized) embedding space
    into ``m`` contiguous subspaces and k-means each independently
    (``n_codes`` centroids per subspace) on a bounded sample — the
    compression half of the FAISS IVF-PQ design. Returns an
    (m, n_codes, dim/m) numpy tensor. Vectors compress from dim×4 bytes
    to m bytes (dim=64, m=8, k=16 → 32×), which is what lets a 100 TB
    embedding corpus's search structure fit a cluster's memory."""
    import numpy as np

    sample = (
        embeddings.filter(F.col("vec_id") < train_rows).select("embedding").toPandas()
    )
    if sample.empty:
        sample = (
            embeddings.orderBy("vec_id").limit(train_rows).select("embedding").toPandas()
        )
    X = np.asarray(sample["embedding"].tolist(), dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    books = [
        train_kmeans_quantizer(X[:, j * sub : (j + 1) * sub], n_codes, seed + j, max_iter)
        for j in range(m)
    ]
    return np.stack(books)


def pq_encode(embeddings: DataFrame, codebooks) -> DataFrame:
    """(vec_id, code): the m-byte PQ code per vector — argmin centroid per
    subspace over the L2-normalized vector, one Arrow-batched vectorized
    map over the corpus (broadcast codebooks, no shuffle)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, _, sub = B.shape

    @pandas_udf("array<int>")
    def encode(emb: pd.Series) -> pd.Series:
        import numpy as _np

        X = _np.asarray(emb.tolist(), dtype=_np.float64)
        X = X / _np.maximum(_np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = _np.empty((len(X), m), dtype=_np.int32)
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            # argmin ||x-c||² == argmin ||c||² - 2 x·c
            d2 = (B[j] ** 2).sum(1)[None, :] - 2.0 * (Xj @ B[j].T)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    return embeddings.select("vec_id", encode("embedding").alias("code"))


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    codebooks=None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k by cosine: corpus vectors are
    m-byte codes; each query builds an (m × n_codes) inner-product lookup
    table against the codebooks, and a candidate's score is m table
    gathers — never a full-precision distance against the corpus.

    Plan shape: encode = one Arrow map over the corpus (the only pass that
    touches raw vectors); scoring = one Arrow map over the CODES with the
    tiny LUT tensor in the closure, emitting (query_id, vec_id, score);
    ranking = per-query TakeOrdered-style window. Query vectors are a
    driver-collected bounded set (same contract as the IVF quantizer
    sample). ``codebooks`` accepts a pre-trained tensor (the
    build-once/query-many path, pairing with
    save/load via plain numpy files or a parquet table)."""
    import numpy as np

    B = (
        np.asarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else train_pq_codebooks(embeddings, m, n_codes, seed, train_rows)
    )
    m = B.shape[0]
    sub = B.shape[2]

    qrows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    spark = embeddings.sparkSession
    if not qrows:  # sparse/offset id space: no queries -> empty result
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, score double, rank int"
        )
    Q = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qids = np.asarray([r["vec_id"] for r in qrows], dtype=np.int64)
    # LUT[q, j, c] = <Q[q] subvector j, codebook j centroid c>
    lut = np.stack(
        [Q[:, j * sub : (j + 1) * sub] @ B[j].T for j in range(m)], axis=1
    )

    codes = pq_encode(embeddings, B)

    def score_batches(batches):
        import numpy as _np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = _np.asarray(pdf["code"].tolist(), dtype=_np.int64)  # (n, m)
            out = []
            for qi, qid in enumerate(qids):
                # gather: sum over subspaces of LUT[qi, j, C[:, j]]
                s = _np.zeros(len(C))
                for j in range(m):
                    s += lut[qi, j, C[:, j]]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": _np.full(len(C), qid),
                            "neighbor_id": pdf["vec_id"].to_numpy(),
                            "score": _np.round(s, 6),
                        }
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            )

    scored = codes.mapInPandas(
        score_batches, "query_id long, neighbor_id long, score double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    centroids=None,
    codebooks=None,
    refine: bool = True,
) -> DataFrame:
    """The full FAISS IVF-PQ composition: the coarse quantizer prunes the
    corpus to each query's ``nprobe`` cells (equi-join on cell id — the
    IVF half), PQ ADC scores only those candidates from their m-byte codes
    (LUT gathers — the PQ half), and with ``refine=True`` the PQ top-3k
    shortlist is re-scored at full precision so the final ranking costs
    exact distances on a bounded candidate set only.

    At 100 TB: raw vectors are read once (assignment + encoding in ONE
    Arrow pass), the search structure that actually joins is
    (vec_id, cell, code) — m bytes + 4 per vector — and the refine join
    touches full vectors for ~3k rows per query. Both quantizers accept
    pre-trained artifacts (build-once/query-many)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_ivf_centroids(embeddings, n_cells, seed, train_rows)
    )
    B = (
        np.asarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else train_pq_codebooks(embeddings, m, n_codes, seed, train_rows)
    )
    n_cells = len(C)
    m, _, sub = B.shape
    cnorm2 = (C * C).sum(1)

    @pandas_udf("struct<cell:int, code:array<int>>")
    def assign_and_encode(emb: pd.Series) -> pd.DataFrame:
        import numpy as _np

        X = _np.asarray(emb.tolist(), dtype=_np.float64)
        cell = (cnorm2 - 2.0 * (X @ C.T)).argmin(1).astype("int32")
        Xn = X / _np.maximum(_np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = _np.empty((len(X), m), dtype=_np.int32)
        for j in range(m):
            d2 = (B[j] ** 2).sum(1)[None, :] - 2.0 * (Xn[:, j * sub:(j + 1) * sub] @ B[j].T)
            codes[:, j] = d2.argmin(1)
        return pd.DataFrame({"cell": cell, "code": list(codes)})

    index = embeddings.select(
        "vec_id", assign_and_encode("embedding").alias("ac")
    ).select("vec_id", F.col("ac.cell").alias("cell"), F.col("ac.code").alias("code"))

    qrows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:  # sparse/offset id space: no queries -> empty result
        return embeddings.sparkSession.createDataFrame(
            [],
            "query_id long, neighbor_id long, "
            + ("cosine double, rank int" if refine else "score double, rank int"),
        )
    Q = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qids = np.asarray([r["vec_id"] for r in qrows], dtype=np.int64)
    # nprobe nearest cells per query (tiny, driver-side numpy)
    qcell_d2 = cnorm2[None, :] - 2.0 * (Q @ C.T)
    probe_cells = np.argsort(qcell_d2, axis=1, kind="stable")[:, :nprobe]
    lut = np.stack([Qn[:, j * sub:(j + 1) * sub] @ B[j].T for j in range(m)], axis=1)

    spark = embeddings.sparkSession
    probes = spark.createDataFrame(
        [
            (int(qids[qi]), int(c))
            for qi in range(len(qids))
            for c in probe_cells[qi]
        ],
        "query_id long, cell int",
    )
    cand = index.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )

    qpos = {int(q): i for i, q in enumerate(qids)}

    def adc(batches):
        import numpy as _np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Cd = _np.asarray(pdf["code"].tolist(), dtype=_np.int64)
            qi = pdf["query_id"].map(qpos).to_numpy()
            s = _np.zeros(len(Cd))
            for j in range(m):
                s += lut[qi, j, Cd[:, j]]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "score": _np.round(s, 6),
                }
            )

    scored = cand.select("query_id", "vec_id", "code").mapInPandas(
        adc, "query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    if not refine:
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
    shortlist = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 3 * k
    ).drop("rank", "score")
    # exact re-rank of the bounded shortlist: join back to raw vectors once
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in Qn[i]]) for i, q in enumerate(qids)],
        "query_id long, qe array<double>",
    )
    full = (
        shortlist.join(
            embeddings.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(qdf), "query_id")
    )
    nrm = F.sqrt(_norm_sq(F.col("embedding")))
    cos = _dot(F.col("embedding"), F.col("qe")) / nrm  # qe pre-normalized
    exact = full.select(
        "query_id", "neighbor_id", det_round(cos, 6).alias("cosine")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return exact.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def save_pq_codebooks(spark, codebooks, path: str) -> None:
    """Persist PQ codebooks as a tiny (subspace, code, centroid) parquet
    table — with ``save_ivf_centroids`` these two artifacts are the whole
    IVF-PQ index metadata; the corpus-side codes live with the corpus."""
    rows = [
        (j, c, [float(x) for x in codebooks[j][c]])
        for j in range(len(codebooks))
        for c in range(len(codebooks[j]))
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark, path: str):
    """Load codebooks saved by ``save_pq_codebooks`` back into the
    (m, n_codes, sub_dim) numpy tensor the PQ operators consume."""
    import numpy as np

    rows = spark.read.parquet(path).orderBy("subspace", "code").collect()
    m = rows[-1]["subspace"] + 1
    k = rows[-1]["code"] + 1
    sub = len(rows[0]["centroid"])
    B = np.empty((m, k, sub), dtype=np.float64)
    for r in rows:
        B[r["subspace"], r["code"]] = r["centroid"]
    return B


def knn_label_vote(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification — the standard end-use of a
    vector index (label propagation, eval-set auto-labeling, weak
    supervision): each query vector (vec_id < n_queries) takes the modal
    label of its k exact-cosine nearest neighbors.

    Composition over :func:`cosine_topk` (the brute-force tier; swap in an
    ANN tier upstream at scale — any (query_id, neighbor_id) pair source
    works): neighbor labels join onto the top-k pairs (k·n_queries rows —
    tiny), votes aggregate per (query, label), and the winner is the
    vote-count maximum with ties broken by the smaller label so the
    decision is total-ordered. Returns (query_id, predicted_label, votes,
    n_neighbors)."""
    topk = cosine_topk(embeddings, n_queries, k)
    labels = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col(label_col).alias("nbr_label")
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nbr_label").asc()
    )
    totals = Window.partitionBy("query_id")
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .withColumn("n_neighbors", F.sum("votes").over(totals))
        .filter(F.col("__r") == 1)
        .select(
            "query_id",
            F.col("nbr_label").alias("predicted_label"),
            "votes",
            "n_neighbors",
        )
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.25,
    n_bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_block_size: int | None = None,
) -> DataFrame:
    """(vec1, vec2, cosine): embedding-space near-duplicate pairs —
    sign-bucket LSH blocking (an equi-join on the bucket, never a cross
    join) then exact cosine >= threshold within blocks. The recall
    contract is the sign-LSH one: pairs straddling a hyperplane sign flip
    are missed, which is the standard trade for corpus-scale semantic
    dedup (raise n_bits for precision blocks, lower for recall).

    The blocked frame is an alias self-join of one subtree, so the
    embedding scan + bucket projection computes once (ReusedExchange).

    ``max_block_size`` is the degenerate-bucket guard (same contract as
    the MinHash tier's ``max_band_size``): a bucket holding k copies of a
    near-identical embedding emits k² candidate rows, so buckets larger
    than the cap are dropped from the join via ONE count-window sharing
    the join's hash partitioning. Mass-duplicate clusters that big belong
    to the exact-dedup tier upstream; opt-in, exact semantics when None."""
    wb = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(emb_col).alias("emb"),
        sign_bucket(F.col(emb_col), n_bits).alias("bucket"),
    )
    if max_block_size is not None:
        wbk = Window.partitionBy("bucket")
        wb = (
            wb.withColumn("__bsz", F.count(F.lit(1)).over(wbk))
            .filter(F.col("__bsz") <= max_block_size)
            .drop("__bsz")
        )
    a, b = wb.alias("a"), wb.alias("b")
    cos = det_round(
        _dot(F.col("a.emb"), F.col("b.emb"))
        / (
            F.sqrt(_norm_sq(F.col("a.emb")))
            * F.sqrt(_norm_sq(F.col("b.emb")))
        ),
        6,
    )
    return (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"))
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec1"),
            F.col("b.vid").alias("vec2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# Documented routing threshold for the sign-blocked exact cosine tier:
# candidate pairs the block self-join materializes. Each candidate row
# carries BOTH dim-64 arrays through the join and pays an exact cosine —
# measured ~1.3e5 pairs/s/box at sf1 (Σ size² = 1.58e6 → 12 s at 8 bits;
# 4.1e5 → 3.3 s at 10; 1.2e5 → 1.1 s at 12), ~250× costlier per row than
# the word tier's bare index emission, hence a cap four orders below its
# 1e10. 2e6 ≈ 15 s of verify: sf1 sits just under it (the registered
# record's 8-bit shape stays the router's pick at every benched scale),
# and emission grows ~N²/2^bits, so the first corpus past sf1 escalates
# onto the banded ladder and per-job verify cost stays roughly constant
# thereafter — the recall trade is the documented sign-LSH contract.
NEAR_DUP_MAX_EMISSION = 2e6


def _embedding_dim(embeddings: DataFrame, emb_col: str) -> int | None:
    """Length of the first row's embedding (a one-row job); None when the
    frame is empty."""
    row = embeddings.select(F.size(F.col(emb_col)).alias("d")).first()
    return None if row is None else int(row["d"])


def _sign_sample(
    embeddings: DataFrame,
    dim: int,
    emb_col: str,
    id_col: str,
    sample_rows: int = 4096,
    n_full: int | None = None,
) -> tuple[list[int], int] | None:
    """The bounded sample both near-dup choosers read: ``(patterns,
    n_full)``, where bit k of a pattern is ``embedding[k] > 0`` for each
    of the ``sample_rows`` lowest ``id_col`` rows. None when the frame is
    empty.

    One bounded job: the patterns are pulled as ceil(dim/8) 8-bit chunk
    keys per row (≤ sample_rows small ints, the same bounded-pull class
    as the IVF/PQ codebook builds) and reassembled in Python, so every
    block width and band layout folds from the same pull.

    The sample is DETERMINISTIC (TakeOrdered on ``id_col`` — no full
    sort materialized). A bare ``limit`` is partition-order dependent in
    Spark, so two runs on the same data could disagree near the cap and
    flip the routed shape. When ``id_col`` is absent the first physical
    column is the tiebreaker (still deterministic for a deterministic
    source).

    The corpus count follows the word tier's contract: caller-provided
    ``n_full``, else exact when the sample returns fewer rows than
    requested, else one ``count()`` (a full-input action — pass
    ``n_full`` from catalog stats to skip it at 100 TB)."""
    chunk_keys = F.array(
        *[
            sign_bucket(F.slice(F.col(emb_col), j + 1, 8), min(8, dim - j))
            for j in range(0, dim, 8)
        ]
    )
    order_key = id_col if id_col in embeddings.columns else embeddings.columns[0]
    rows = (
        embeddings.orderBy(order_key)
        .limit(sample_rows)
        .select(chunk_keys.alias("ck"))
        .collect()
    )
    if not rows:
        return None
    patterns = [
        sum(int(c) << (8 * j) for j, c in enumerate(r["ck"])) for r in rows
    ]
    if n_full is None:
        n_full = len(rows) if len(rows) < sample_rows else embeddings.count()
    return patterns, n_full


def _sign_emission(
    patterns: list[int], n_full: int, n_bands: int, band_bits: int
) -> float:
    """Sampled candidate emission of a sign-keyed self-join: Σ over
    ``n_bands`` disjoint ``band_bits``-bit bands of Σ bucket-size².
    ``n_bands=1`` is the single sign block at width ``band_bits``.

    DIAGONAL-EXACT: per band the true Σ bucket² is N (every row pairs
    with itself once) plus the COLLISION mass, and only the collision
    mass scales as (N/n)² under frequency stationarity:
    N + (N/n)²·(Σc² − n). Scaling the whole sample Σc², diagonal
    included, inflates the n singleton buckets a 4096-row sample of a
    big corpus mostly consists of into n·(N/n)² phantom emission
    (~1.6e6 at ×4-sf1, nearly the whole 2e6 cap), which walked the
    ladder to (1, 64) and collapsed planted-pair recall to 1/400. At
    full sample coverage (scale = 1) the estimate is Σc² exactly."""
    n_s = len(patterns)
    scale = (max(n_full, n_s) / n_s) ** 2
    mask = (1 << band_bits) - 1
    total = 0.0
    for b in range(n_bands):
        counts = Counter((p >> (b * band_bits)) & mask for p in patterns)
        coll = sum(c * c for c in counts.values()) - n_s
        total += n_full + coll * scale
    return total


def _walk_ladder(
    patterns: list[int],
    n_full: int,
    dim: int,
    n_bands: int,
    band_bits: int,
    max_emission: float,
) -> tuple[int, int]:
    """The first rung of the banded ladder — the entry (n_bands,
    band_bits), then (B-1, dim//(B-1)), … (1, dim) — whose sampled
    emission fits ``max_emission``.

    Rung widths cap at 64: a band key is one BIGINT (``band_sign_keys``),
    so for dim > 64 the deep rungs hash a 64-dim prefix slice per band —
    still valid sign-LSH, just on a subset of hyperplanes. If no rung
    fits, the deepest STRUCTURALLY valid rung is returned (an entry
    (1, w) with w > 64 or > dim leaves no valid rung, so that case
    clamps to the always-valid (1, min(dim, 64))), never a layout
    ``band_sign_keys`` would reject downstream."""
    layouts = [(n_bands, band_bits)] + [
        (b, min(dim // b, 64)) for b in range(n_bands - 1, 0, -1)
    ]
    deepest_valid: tuple[int, int] | None = None
    for bands, bits in layouts:
        if bands * bits > dim or bits > 64:
            continue
        deepest_valid = (bands, bits)
        if _sign_emission(patterns, n_full, bands, bits) <= max_emission:
            return bands, bits
    return deepest_valid if deepest_valid is not None else (1, min(dim, 64))


def embedding_neardup_pairs_routed(
    embeddings: DataFrame,
    threshold: float = 0.25,
    n_bits: int = 8,
    max_emission: float | None = NEAR_DUP_MAX_EMISSION,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_full: int | None = None,
) -> DataFrame:
    """The emission-routed embedding near-dup entry point: the base
    ``n_bits`` sign block while the sampled candidate-emission estimate
    fits ``max_emission``, the BANDED sign-LSH ladder (from (4, 16), see
    ``choose_banded_layout``) once it doesn't — the steering that stops
    a 100 TB caller from launching the 8-bit quadratic-block job the sf1
    audit flagged (20.8 s at sf1 and growing ~quadratically).

    Why the ladder and not a wider single block: each added hyperplane
    costs recall geometrically. On the ×4-sf1 corpus
    (bench_escalation.json) the block escalated to 12 bits recalled
    151/400 planted cos≈0.97 pairs, the unescalated 8-bit block 216/400
    in 22.2 s, and the (4, 16) ladder 289/400 in 3.9 s.

    Both decisions read ONE bounded sample (``_sign_sample``): the
    block's estimate at ``n_bits`` (``_sign_emission`` with one band)
    and, when that busts the cap, the ladder walk. Construct-time jobs:
    none with ``max_emission=None``; the one-row dim probe alone when
    dim <= ``n_bits`` (the block is the only shape); probe + sample
    under the cap; probe + sample + the banded tier's dim check when
    escalating — plus one ``count()`` when the sample is full and
    ``n_full`` (e.g. from catalog stats) is not given. Output schema is
    (vec1, vec2, cosine) on both routes; the escalated route is
    certified against its parameterized DuckDB twin by
    tests/test_steering.py."""
    dim = None if max_emission is None else _embedding_dim(embeddings, emb_col)
    sample = None
    if dim is not None and dim > n_bits:
        sample = _sign_sample(embeddings, dim, emb_col, id_col, n_full=n_full)
    if sample is None or _sign_emission(*sample, 1, n_bits) <= max_emission:
        return embedding_neardup_pairs(
            embeddings, threshold=threshold, n_bits=n_bits,
            id_col=id_col, emb_col=emb_col,
        )
    bands, bits = _walk_ladder(*sample, dim, 4, 16, max_emission)
    return embedding_neardup_pairs_banded(
        embeddings, threshold=threshold, n_bands=bands, band_bits=bits,
        id_col=id_col, emb_col=emb_col,
    )


def band_sign_keys(emb: Column, n_bands: int, band_bits: int) -> Column:
    """array<bigint> of per-band sign keys: band j's key packs the sign
    bits of dims [j·band_bits, (j+1)·band_bits). Disjoint dim slices keep
    the bands' collision events independent, which is what gives banding
    its 1-(1-p^r)^B recall curve.

    Keys are built on BIGINT with shiftleft + bitwise OR, never INT
    arithmetic: the layout ladder's deep rungs are (2, 32) and (1, 64),
    where a 2³¹-and-up bit weight overflows an INT cast under ANSI mode
    and a 2⁶³ literal cannot even be planned (NumberFormatException).
    band_bits = 64 packs bit 63 into the BIGINT sign bit (1L << 63 is
    Long.MIN_VALUE) — pure bitwise, so the key stays a deterministic
    join-stable value; only collision structure matters, not sign.
    Widths past 64 have no single-column packing and raise."""
    if not 1 <= band_bits <= 64:
        raise ValueError(
            f"band_bits must be in [1, 64], got {band_bits}"
        )
    if n_bands < 1:
        raise ValueError(f"n_bands must be >= 1, got {n_bands}")
    keys = []
    for j in range(n_bands):
        k = F.lit(0).cast("long")
        for i in range(band_bits):
            bit = F.when(
                emb.getItem(j * band_bits + i) > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            k = k.bitwiseOR(bit)
        keys.append(k)
    return F.array(*keys)


def embedding_neardup_pairs_banded(
    embeddings: DataFrame,
    threshold: float = 0.25,
    n_bands: int = 4,
    band_bits: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_band_size: int | None = None,
) -> DataFrame:
    """(vec1, vec2, cosine): the BANDED sign-LSH shape of the embedding
    near-dup tier — candidate pair iff the two vectors agree on ALL sign
    bits of AT LEAST ONE of ``n_bands`` disjoint ``band_bits``-dim
    slices, then exact cosine ≥ threshold verification. The MinHash-LSH
    banding construction transplanted to hyperplane signatures.

    Why it exists (measured on the ×4-sf1 corpus, bench_escalation.json):
    a single block escalated to hold emission bounded pays recall
    geometrically — the 12-bit block recalled 151 of 400 planted
    cos≈0.97 pairs, below the 8-bit block's own 216/400. Banding spends
    the same emission budget better: expected candidate emission is
    B·N²/2^r (4·N²/2¹⁶ = N²/2¹⁴ at the defaults — exactly the single
    14-bit block's), while per-pair recall is 1-(1-p^r)^B instead of
    p^(r-log₂B) (p = 1-θ/π per hyperplane): at cos 0.97, theory ~0.75 vs
    ~0.32. The (4, 16) layout recalled 289/400, above even the UNBANDED
    8-bit block, at 5.6× its speed (3.9 s vs 22.2 s). One extra join's
    worth of work (candidates carry only (band, key, id) ints; the two
    dim-64 payloads join in AFTER distinct-pair dedup, so the banded
    shape moves LESS array payload than the single-block tier, which
    drags both arrays through the block join).

    Plan (100 TB shape): map-only explode to B (band, key, id) int rows
    per vector → band equi-join (never a cross join) → distinct id pairs
    → two hash joins back to the vectors for one exact cosine each.
    ``max_band_size`` is the degenerate-bucket guard (same contract as
    the MinHash tier's ``max_band_size``): mass-duplicate buckets belong
    to the exact-dedup tier upstream. ``choose_banded_layout`` picks the
    layout for a corpus size from the sampled Σ size² estimate."""
    dim = _embedding_dim(embeddings, emb_col)
    if dim is not None and n_bands * band_bits > dim:
        raise ValueError(
            f"n_bands*band_bits = {n_bands * band_bits} exceeds embedding "
            f"dim {dim}"
        )
    keys = embeddings.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            band_sign_keys(F.col(emb_col), n_bands, band_bits)
        ).alias("band", "bkey"),
    )
    if max_band_size is not None:
        wbk = Window.partitionBy("band", "bkey")
        keys = (
            keys.withColumn("__bsz", F.count(F.lit(1)).over(wbk))
            .filter(F.col("__bsz") <= max_band_size)
            .drop("__bsz")
        )
    ka, kb = keys.alias("ka"), keys.alias("kb")
    cand = (
        ka.join(
            kb,
            (F.col("ka.band") == F.col("kb.band"))
            & (F.col("ka.bkey") == F.col("kb.bkey"))
            & (F.col("ka.vid") < F.col("kb.vid")),
        )
        .select(F.col("ka.vid").alias("vec1"), F.col("kb.vid").alias("vec2"))
        .distinct()
    )
    emb_kv = embeddings.select(
        F.col(id_col).alias("vid"), F.col(emb_col).alias("emb")
    )
    a, b = emb_kv.alias("ea"), emb_kv.alias("eb")
    cos = det_round(
        _dot(F.col("ea.emb"), F.col("eb.emb"))
        / (
            F.sqrt(_norm_sq(F.col("ea.emb")))
            * F.sqrt(_norm_sq(F.col("eb.emb")))
        ),
        6,
    )
    return (
        cand.join(a, F.col("vec1") == F.col("ea.vid"))
        .join(b, F.col("vec2") == F.col("eb.vid"))
        .select("vec1", "vec2", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def choose_banded_layout(
    embeddings: DataFrame,
    n_bands: int = 4,
    band_bits: int = 16,
    max_emission: float | None = NEAR_DUP_MAX_EMISSION,
    sample_rows: int = 4096,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_full: int | None = None,
) -> tuple[int, int]:
    """Emission-aware LAYOUT chooser for the banded sign-LSH tier.
    Expected candidate emission is B·N²/2^r, so the escalation ladder
    trades bands for width: from the entry layout (B, r) it walks
    (B-1, dim//(B-1)), (B-2, dim//(B-2)), … (1, dim) until the sampled
    estimate (``_sign_emission``: Σ over bands of the diagonal-exact
    N + (N/n)²·(Σ bucket-size² − n)) fits ``max_emission``. Each rung
    divides expected emission by ~2^(Δr)·B-ratio (e.g. dim 64: (4,16) →
    (3,21) is ×43 less, (2,32) another ×1500), while recall decays only
    as one band's worth of the 1-(1-p^r)^B curve per rung — far gentler
    than the single block's per-bit p multiplier.

    Cost: a one-row dim probe plus the bounded ``_sign_sample`` job (and
    its ``count()`` unless ``n_full`` is given or the sample covers the
    corpus); ``max_emission=None`` launches nothing.

    Last resort: if NO rung fits the cap (every band layout dominated
    by degenerate buckets — near-identical sign patterns), the deepest
    valid rung is returned even though its estimate exceeds the cap
    (``_walk_ladder``). Emission is then driven by mass-near-duplicate
    buckets, which belong to the exact-dedup tier UPSTREAM of any
    near-dup pass; pass ``max_band_size`` to
    ``embedding_neardup_pairs_banded`` to bound them explicitly (the
    MinHash tier's 64-cap contract)."""
    if max_emission is None:
        return n_bands, band_bits
    dim = _embedding_dim(embeddings, emb_col)
    if dim is None:
        return n_bands, band_bits
    sample = _sign_sample(embeddings, dim, emb_col, id_col, sample_rows, n_full)
    if sample is None:
        return n_bands, band_bits
    return _walk_ladder(*sample, dim, n_bands, band_bits, max_emission)


def semantic_dedup_keep(
    embeddings: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    max_iter: int = 20,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) keep-list: cluster
    a near-dup pair graph into connected components and keep one
    representative (the minimum id) per semantic cluster — the
    embedding-tier analogue of ``dedup.dedup_keep_list``, catching
    paraphrases and re-renderings that share no surface n-grams.

    ``pairs`` is any (vec1, vec2, …) frame over ``id_col`` values: the
    single block (``embedding_neardup_pairs``), the banded tier, the
    routed entry or the IVF cells. The generator's recall IS the
    keep-list's recall — a near-dup the blocking misses is a duplicate
    that survives dedup — which is why the routed entry escalates onto
    the banded ladder (289/400 planted pairs vs the 8-bit block's
    216/400 on the ×4-sf1 corpus, bench_escalation.json).

    Min-label propagation over the pair edge list (rounds = cluster
    diameter, clique-ish in practice, at most ``max_iter``); keep = id
    == cluster minimum. Returns (id_col, cluster_id, keep) over ALL
    vectors — unpaired vectors keep themselves."""
    from market_flow_spark.extensions.dedup import dedup_keep_list

    ids = embeddings.select(F.col(id_col).alias("doc_id"))
    keep = dedup_keep_list(
        ids, pairs, max_iter=max_iter, id1="vec1", id2="vec2"
    )
    return keep.select(
        F.col("doc_id").alias(id_col), "cluster_id", "keep"
    )


def embedding_neardup_pairs_ivf(
    embeddings: DataFrame,
    threshold: float = 0.25,
    n_cells: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    centroids=None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(vec1, vec2, cosine): embedding near-dup pairs blocked by K-MEANS
    CELLS instead of hyperplane signs — the blocking the SemDeDup paper
    actually uses: data-adaptive clusters concentrate true near-dups into
    the same block far better than axis-sign buckets on clustered
    corpora, at the price of a (bounded, driver-trained) quantizer.

    Recall contract: pairs whose members quantize to different cells are
    missed (standard SemDeDup semantics — it only dedups within
    clusters). Within a cell the cosine is exact.

    Plan shape: quantizer trained once on a ``train_rows``-bounded sample
    (or passed in via ``centroids`` — the build-once path shared with
    ``ivf_topk``); cell assignment is ONE Arrow-batched map over the
    corpus, then the same alias self-join on the cell id as the sign
    tier. No cross join, no driver-side pair loop."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_ivf_centroids(
            embeddings.select(
                F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
            ),
            n_cells,
            seed,
            train_rows,
        )
    )
    cnorm2 = (C * C).sum(1)

    @pandas_udf("int")
    def assign_cell(emb: pd.Series) -> pd.Series:
        import numpy as _np

        Xb = _np.asarray(emb.tolist(), dtype=_np.float64)
        return pd.Series((cnorm2 - 2.0 * (Xb @ C.T)).argmin(1).astype("int32"))

    assigned = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(emb_col).alias("emb"),
        assign_cell(emb_col).alias("cell"),
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = det_round(
        _dot(F.col("a.emb"), F.col("b.emb"))
        / (
            F.sqrt(_norm_sq(F.col("a.emb")))
            * F.sqrt(_norm_sq(F.col("b.emb")))
        ),
        6,
    )
    return (
        a.join(b, F.col("a.cell") == F.col("b.cell"))
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec1"),
            F.col("b.vid").alias("vec2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def mmr_select(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    lambda_: float = 0.7,
) -> list[int]:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    greedily pick ``k`` vectors maximizing
    ``lambda * cos(d, q) - (1 - lambda) * max over selected s of cos(d, s)``
    — the diversity-aware top-k an eval-set or few-shot-pool builder wants
    (plain top-k returns k near-duplicates of the best hit).

    MMR is INHERENTLY sequential (pick i+1 depends on picks 1..i), so this
    is a driver loop of exactly ``k`` bounded actions — each round ONE
    corpus scan: relevance and the already-selected vectors (at most k-1,
    kilobytes) are recomputed JVM-side with the selected set inlined as a
    literal array-of-arrays, and the argmax plans as TakeOrdered(1). No
    corpus data ever sits on the driver; ties break by vec_id so the
    selection is deterministic. Cost: k scans — the right trade at
    eval-pool scale (k in the tens); for k in the thousands use
    clustering (``train_ivf_centroids``) instead."""
    q = F.lit([float(x) for x in query_vec])
    norm = F.sqrt(_norm_sq(F.col("embedding")))
    rel = _dot(F.col("embedding"), q) / (
        norm * F.lit(float(sum(x * x for x in query_vec)) ** 0.5)
    )
    base = embeddings.select(
        "vec_id", "embedding", norm.alias("nrm"), rel.alias("rel")
    )
    selected: list[int] = []
    sel_vecs: list[list[float]] = []
    for _ in range(k):
        cand = base.filter(~F.col("vec_id").isin(selected)) if selected else base
        if sel_vecs:
            sims = [
                _dot(F.col("embedding"), F.lit(v))
                / (F.col("nrm") * F.lit(float(sum(x * x for x in v)) ** 0.5))
                for v in sel_vecs
            ]
            max_sim = sims[0]
            for s in sims[1:]:
                max_sim = F.greatest(max_sim, s)
            score = F.lit(lambda_) * F.col("rel") - F.lit(1 - lambda_) * max_sim
        else:
            score = F.col("rel")
        top = (
            cand.select("vec_id", "embedding", score.alias("score"))
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        selected.append(top[0]["vec_id"])
        sel_vecs.append([float(x) for x in top[0]["embedding"]])
    return selected
