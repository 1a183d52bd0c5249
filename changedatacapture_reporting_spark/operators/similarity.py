"""Similarity search over an embedding column (``array<float>``).

Two tiers, per the prompt's scale contract:

- :func:`brute_force_topk` — exact baseline: queries × corpus with a
  JVM-side dot product, ranked per query. Correct at any scale where
  |queries| × |corpus| is joinable (broadcast the queries!); the oracle
  path for recall measurement.
- :func:`lsh_topk` — random-hyperplane LSH: L tables × p planes; vectors
  colliding with the query in ≥1 table are candidates, exact-ranked.
  Collision probability per table is (1−θ/π)^p — size p to the corpus:
  p=4 suits the 500-vector fixtures; a billion-vector corpus wants p≈16–24
  so per-bucket population stays bounded while recall comes from L.
  The self-join key is (table, bucket) → work ∝ collisions, not |corpus|².
  Hyperplanes are *deterministic* (seeded, generated at plan time, shipped
  as literal arrays) so results are reproducible across runs and cluster
  layouts — no RNG state on executors, no per-row hashing.
"""

from __future__ import annotations

import random

import numpy as np
import pandas

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.functions.vectors import (
    dot_decimal,
    dot_double,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_decimal: bool = False,
) -> DataFrame:
    """Exact top-k by dot product (fixtures are L2-normalized → cosine).

    queries is broadcast — the scan of the corpus happens once, no shuffle
    until the per-query top-k aggregation. exact_decimal ranks on the
    decimal-grid dot product (bit-stable across engines, used by the
    DuckDB oracle)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    # exact_decimal stays on the plain decimal chain: the int64
    # fixed-point form (functions.vectors.dot_decimal_int64, r15) is
    # bit-identical (pinned by tests/test_dot_int64.py) but measured
    # ~35% SLOWER here — its domain guard adds two O(d) array
    # aggregates per pair and the when/otherwise carries both chains,
    # which outweighs the decimal→int64 arithmetic saving (quiet-box
    # interleaved A/B, min-of-5: 1.88 s decimal vs 2.56 s int64 on the
    # sf0.1 brute-force leg). Kept as a documented negative result.
    dot = dot_decimal if exact_decimal else dot_double
    sim = dot(F.col("qv"), F.col("cv")).alias("sim")
    pairs = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic hyperplane: seeded Mersenne-Twister draws in
    [-0.5, 0.5), generated at PLAN time and shipped in the bucket UDF's
    closure — per-row work is then one matmul column, no hashing. The
    seed is a function of (table, plane) so results are reproducible
    across runs and cluster layouts."""
    rng = random.Random(1_000_003 * table + plane)
    return [rng.random() - 0.5 for _ in range(dim)]


def lsh_buckets_vectorized(tables: int = 12, planes: int = 4, dim: int = 64):
    """Random-hyperplane LSH buckets: sign-of-projection bits per table,
    one numpy matmul per Arrow batch (n×dim @ dim×(tables·planes)) — the
    idiomatic Spark answer for dense linear algebra (Pandas UDF over
    Arrow batches). Returns a pandas_udf: array<float> → array<long>
    (bucket per table).
    """
    from pyspark.sql.types import ArrayType, LongType

    mat = np.array(
        [_plane(t, p, dim) for t in range(tables) for p in range(planes)]
    ).T  # dim × (tables·planes)
    weights = (1 << np.arange(planes)).astype(np.int64)

    def _buckets(s: pandas.Series) -> pandas.Series:
        v = np.stack(s.to_numpy())  # n × dim
        bits = (v.astype(np.float64) @ mat) > 0  # n × (tables·planes)
        b = (bits.reshape(len(s), tables, planes) * weights).sum(axis=2)
        return pandas.Series(list(b))

    return F.pandas_udf(_buckets, ArrayType(LongType()))


def _assign_udf(centroids: "np.ndarray"):
    """pandas_udf: vector → nearest-centroid id (argmax dot — fixture
    vectors are L2-normalized, so max dot = min L2). One matmul per Arrow
    batch; the k×d centroid matrix ships in the task closure."""
    from pyspark.sql.types import IntegerType

    mat = centroids.T  # d × k

    def _assign(s: pandas.Series) -> pandas.Series:
        v = np.stack(s.to_numpy()).astype(np.float64)
        return pandas.Series(np.argmax(v @ mat, axis=1).astype("int32"))

    return F.pandas_udf(_assign, IntegerType())


def _merge_group_partials(partials: DataFrame, d: int) -> list:
    """Merge per-Arrow-batch k-means partials (grp, s: array<double>,
    cnt) down to one (grp, total_sum_vector, total_cnt) row per group —
    an element-wise array fold over collect_list, grouped on the (tiny)
    group key. Driver receives one row per NON-EMPTY group, never per
    batch. The collected partials are array_sort-ed (lexicographic on
    the sum vectors) BEFORE the float fold, so the fold order — and
    therefore every centroid — is bit-stable across partitionings and
    reruns (r9: collect_list order alone is nondeterministic at the
    ulp, a latent trap for any future hash-checked consumer)."""
    zero = F.array(*[F.lit(0.0) for _ in range(d)])
    return (
        partials.groupBy("grp")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("s")),
                zero,
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            ).alias("s"),
            F.sum("cnt").alias("cnt"),
        )
        .collect()
    )


def ivf_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    iters: int = 2,
) -> tuple[DataFrame, "np.ndarray"]:
    """IVF coarse quantizer: k-means with deterministic seeding (the
    ``n_centroids`` lowest-id vectors) and ``iters`` Lloyd rounds.

    Distribution: assignment is a per-batch matmul (no shuffle); the
    centroid update ships per-Arrow-batch PARTIAL SUMS — one
    (cluster, sum-vector, count) row per non-empty cluster per batch —
    so each Lloyd round shuffles O(k · batches) rows instead of the
    n×d posexplode (the r1–r7 formulation: corpus×dim rows per round,
    the actual bottleneck at corpus scale). Only the k×d centroid
    matrix ever sits on the driver. Returns (corpus with a ``cluster``
    column, centroid matrix).
    """
    from pyspark.sql import types as T

    seed_rows = (
        corpus.orderBy(F.col(id_col)).limit(n_centroids).select(vec_col).collect()
    )
    centroids = np.array([list(r[0]) for r in seed_rows], dtype=np.float64)
    d = centroids.shape[1]
    partial_schema = T.StructType(
        [
            T.StructField("grp", T.IntegerType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("cnt", T.LongType()),
        ]
    )

    for _ in range(iters):
        mat = centroids.T
        k = centroids.shape[0]

        def partial_sums(batches):
            for pdf in batches:
                v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = (v @ mat).argmax(axis=1)
                sums = np.zeros((k, d))
                np.add.at(sums, codes, v)
                cnts = np.bincount(codes, minlength=k)
                nz = np.flatnonzero(cnts)
                yield pandas.DataFrame(
                    {
                        "grp": nz.astype("int32"),
                        "s": [sums[i] for i in nz],
                        "cnt": cnts[nz].astype("int64"),
                    }
                )

        merged = _merge_group_partials(
            corpus.select(vec_col).mapInPandas(partial_sums, partial_schema),
            d,
        )
        for r in merged:
            centroids[r.grp] = np.asarray(r.s) / r.cnt
        # re-normalize so dot stays a valid nearest-centroid criterion
        norms = np.linalg.norm(centroids, axis=1, keepdims=True)
        centroids = centroids / np.clip(norms, 1e-12, None)

    indexed = corpus.withColumn(
        "cluster", _assign_udf(centroids)(F.col(vec_col))
    )
    return indexed, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest clusters per query,
    exact-rank only their members. Work ∝ |corpus|·nprobe/n_centroids per
    query; at 100 TB the indexed corpus (cluster column) is written once
    and reused, and ``n_centroids`` grows with corpus size (√n rule)."""
    indexed, centroids = ivf_index(corpus, vec_col, id_col, n_centroids, iters)

    from pyspark.sql.types import ArrayType, IntegerType

    mat = centroids.T

    def _probes(s: pandas.Series) -> pandas.Series:
        v = np.stack(s.to_numpy()).astype(np.float64)
        order = np.argsort(-(v @ mat), axis=1)[:, :nprobe].astype("int32")
        return pandas.Series(list(order))

    probes_udf = F.pandas_udf(_probes, ArrayType(IntegerType()))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probes_udf(F.col(vec_col))).alias("cluster"),
    )
    c = indexed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cluster"
    )
    sim = dot_double(F.col("qv"), F.col("cv")).alias("sim")
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), on="cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tables: int = 12,
    planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: candidates = corpus vectors sharing ≥1 (table, bucket)
    with the query; exact dot re-rank of candidates only.

    At 100 TB: corpus bucket ids are computed once (persist/write them),
    the join key (table, bucket) distributes uniformly by construction
    (hash-derived planes), and per-bucket population is ~|corpus| / 2^planes
    per table — tune `planes` so buckets fit executor memory."""
    buckets = lsh_buckets_vectorized(tables, planes, dim)

    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
        )

    c = with_buckets(corpus, "neighbor_id", "cv")
    q = with_buckets(queries, "query_id", "qv")

    candidates = (
        c.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .distinct()
    )
    sim = dot_double(F.col("qv"), F.col("cv")).alias("sim")
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        candidates.select("query_id", "neighbor_id", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _pq_encode_udf(books: "np.ndarray"):
    """codes = per-subspace argmin L2 codeword, vectorized per Arrow
    batch (one matmul per subspace)."""
    from pyspark.sql.types import ArrayType, IntegerType

    m, _k, ds = books.shape
    sq = [(books[j] ** 2).sum(axis=1) for j in range(m)]

    def enc(s: pandas.Series) -> pandas.Series:
        v = np.stack(s.to_numpy()).astype(np.float64)
        out = np.empty((v.shape[0], m), dtype="int32")
        for j in range(m):
            sub = v[:, j * ds : (j + 1) * ds]
            out[:, j] = (-2.0 * (sub @ books[j].T) + sq[j]).argmin(axis=1)
        return pandas.Series(list(out))

    return F.pandas_udf(enc, ArrayType(IntegerType()))


def _residual_udf(centroids: "np.ndarray"):
    """residual = v − centroid[cluster], vectorized per Arrow batch —
    the IVFADC encoding input (only the k×d centroid matrix ships in
    the closure)."""
    from pyspark.sql.types import ArrayType, DoubleType

    def res(vec_s: pandas.Series, cl_s: pandas.Series) -> pandas.Series:
        v = np.stack(vec_s.to_numpy()).astype(np.float64)
        out = v - centroids[cl_s.to_numpy().astype(np.int64)]
        return pandas.Series(list(out))

    return F.pandas_udf(res, ArrayType(DoubleType()))


def pq_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
) -> tuple[DataFrame, "np.ndarray"]:
    """Product-quantization index: per-subspace k-means codebooks +
    the corpus encoded to ``codes`` (array<int>, length m) — m·log2(k)
    bits per vector instead of 4·d bytes (64-dim float → 8 bytes at
    m=8, k=16: 32×), the storage/bandwidth tier BETWEEN int8
    quantization (4×) and raw floats for billion-vector ANN.

    Same determinism/distribution recipe as :func:`ivf_index`: seeds
    are the ``k_codes`` lowest-id vectors' subvectors; Lloyd rounds
    assign per Arrow batch (matmul, no shuffle) and update through ONE
    distributed (subspace, code, dim) avg aggregation; only the
    m×k×(d/m) codebook tensor ever sits on the driver. The encoded
    corpus is written once and reused across query workloads.
    """
    seed_rows = (
        corpus.orderBy(F.col(id_col)).limit(k_codes).select(vec_col).collect()
    )
    seeds = np.array([list(r[0]) for r in seed_rows], dtype=np.float64)
    d = seeds.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    ds = d // m
    books = np.stack(
        [seeds[:, j * ds : (j + 1) * ds].copy() for j in range(m)]
    )  # m × k × ds

    from pyspark.sql import types as T

    partial_schema = T.StructType(
        [
            T.StructField("grp", T.IntegerType()),  # j * k_codes + code
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("cnt", T.LongType()),
        ]
    )

    for _ in range(iters):
        snap = books.copy()
        sq = [(snap[j] ** 2).sum(axis=1) for j in range(m)]

        def partial_sums(batches):
            # per-batch (subspace, code) partial sums — the codebook
            # update shuffles O(m·k·batches) rows, not the n×d
            # posexplode of the r7 formulation
            for pdf in batches:
                v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                out_g, out_s, out_c = [], [], []
                for j in range(m):
                    sub = v[:, j * ds : (j + 1) * ds]
                    codes = (-2.0 * (sub @ snap[j].T) + sq[j]).argmin(
                        axis=1
                    )
                    sums = np.zeros((k_codes, ds))
                    np.add.at(sums, codes, sub)
                    cnts = np.bincount(codes, minlength=k_codes)
                    for c in np.flatnonzero(cnts):
                        out_g.append(j * k_codes + int(c))
                        out_s.append(sums[c])
                        out_c.append(int(cnts[c]))
                yield pandas.DataFrame(
                    {"grp": np.array(out_g, dtype="int32"),
                     "s": out_s,
                     "cnt": np.array(out_c, dtype="int64")}
                )

        merged = _merge_group_partials(
            corpus.select(vec_col).mapInPandas(partial_sums, partial_schema),
            ds,
        )
        for r in merged:
            books[r.grp // k_codes, r.grp % k_codes] = (
                np.asarray(r.s) / r.cnt
            )

    return corpus.withColumn(
        "codes", _pq_encode_udf(books)(F.col(vec_col))
    ), books


def pq_encode(
    df: DataFrame, books: "np.ndarray", vec_col: str = "embedding"
) -> DataFrame:
    """Encode ``vec_col`` against an existing codebook tensor (adds a
    ``codes`` column) — the append path of a persisted PQ index: later
    ingestion batches encode against the epoch's trained books without
    retraining, so the index store stays mutually compatible (the
    :func:`dedup.embedding_index` seeding rule, applied to PQ)."""
    return df.withColumn("codes", _pq_encode_udf(books)(F.col(vec_col)))


def ivfpq_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    residual: bool = False,
) -> tuple[DataFrame, "np.ndarray", "np.ndarray"]:
    """Build the full IVF-PQ index triple ``(with_codes, centroids,
    books)`` — exactly what :func:`ivfpq_topk`'s ``index=`` steady entry
    point consumes after a parquet round trip of ``with_codes``
    (columns: id, cluster, codes). One call per ingestion epoch; append
    later batches with :func:`ivfpq_encode` against the same centroids
    and books. ``residual=True`` trains the codebooks on
    ``v − centroid[cluster]`` (IVFADC)."""
    indexed, centroids = ivf_index(corpus, vec_col, id_col, n_centroids, iters)
    if residual:
        res = indexed.withColumn(
            "_res", _residual_udf(centroids)(F.col(vec_col), F.col("cluster"))
        )
        _, books = pq_index(
            res.select(F.col(id_col), F.col("_res").alias(vec_col)),
            vec_col, id_col, m, k_codes, iters,
        )
        with_codes = res.withColumn(
            "codes", _pq_encode_udf(books)(F.col("_res"))
        ).drop("_res")
    else:
        _, books = pq_index(corpus, vec_col, id_col, m, k_codes, iters)
        with_codes = indexed.withColumn(
            "codes", _pq_encode_udf(books)(F.col(vec_col))
        )
    return with_codes, centroids, books


def ivfpq_encode(
    df: DataFrame,
    centroids: "np.ndarray",
    books: "np.ndarray",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """Append path of a persisted IVF-PQ index: assign each new vector
    its coarse ``cluster`` and its PQ ``codes`` against the epoch's
    trained centroids/codebooks — no retraining, so appended batches are
    mutually compatible with the existing index and with
    :func:`ivfpq_topk`'s ``index=`` entry point. ``residual`` must match
    how the epoch's books were trained (raw vs v − centroid[cluster] —
    the IVFADC layout)."""
    out = df.withColumn("cluster", _assign_udf(centroids)(F.col(vec_col)))
    if not residual:
        return out.withColumn("codes", _pq_encode_udf(books)(F.col(vec_col)))
    return (
        out.withColumn(
            "_res", _residual_udf(centroids)(F.col(vec_col), F.col("cluster"))
        )
        .withColumn("codes", _pq_encode_udf(books)(F.col("_res")))
        .drop("_res")
    )


def _collect_queries(queries: DataFrame, vec_col: str, id_col: str) -> tuple:
    """(qids, Q × d float64 matrix) of the small query set in qid
    order, sorted here: an ``orderBy`` adds two range-sampling jobs. A
    null id is dropped; the id filter drops its rows anyway."""
    got = queries.select(F.col(id_col).alias("qid"), F.col(vec_col)).collect()
    rows = sorted((r for r in got if r.qid is not None), key=lambda r: r.qid)
    qv = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return [r.qid for r in rows], qv


def _no_results(queries: DataFrame, id_col: str) -> DataFrame:
    """The (query_id, neighbor_id, sim, rank) frame of no queries."""
    ids = F.col(id_col)
    return queries.select(
        ids.alias("query_id"),
        ids.alias("neighbor_id"),
        F.lit(None).cast("double").alias("sim"),
        F.lit(1).alias("rank"),
    ).limit(0)


def _top(pairs: DataFrame, n: int) -> DataFrame:
    """The ``n`` best (query_id, neighbor_id, sim) rows per query,
    ranked by sim, ties to the lower neighbor id."""
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _rank_shortlist(
    corpus: DataFrame, queries: DataFrame, scored: DataFrame, k: int,
    rerank_factor: int, vec_col: str, id_col: str,
) -> DataFrame:
    """Top-k of the ADC-``scored`` (query_id, neighbor_id, sim) pairs of
    :func:`pq_topk` and :func:`ivfpq_topk`. With ``rerank_factor > 0``
    the ADC top ``k·rerank_factor`` is broadcast into one scan of the
    corpus, the query vectors are broadcast onto the matches, and the
    exact dot product ranks the shortlist once."""
    shortlist = _top(scored, k * rerank_factor if rerank_factor > 0 else k)
    if rerank_factor <= 0:
        return shortlist
    qframe = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    refined = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .join(
            F.broadcast(shortlist.select("query_id", "neighbor_id")),
            "neighbor_id",
        )
        .join(F.broadcast(qframe), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_double(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    return _top(refined, k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    rerank_factor: int = 0,
    index: "tuple[DataFrame, np.ndarray] | None" = None,
) -> DataFrame:
    """Asymmetric-distance PQ top-k: queries stay EXACT; each corpus
    vector is scored from its codes through a per-query inner-product
    lookup table (score = Σ_j LUT[q][j, codes[j]] ≈ cosine on the
    L2-normalized fixtures). Per-batch work is a numpy gather over the
    codes — the corpus's float vectors are never read by the ADC pass,
    which is the point: at billion scale the scan touches m bytes per
    vector, not 4·d.

    ``index`` is the steady-state entry point: pass a prebuilt
    ``(codes_df, books)`` pair (the :func:`pq_index` output, typically
    the codes persisted to parquet and the codebook tensor from the
    index store) and no training happens — the call is pure query. At
    100 TB the index is built once per ingestion epoch and served many
    times; this split is what the bench's *_steady entries measure.

    ``rerank_factor > 0`` adds the standard PQ refinement: the ADC pass
    shortlists ``k·rerank_factor`` candidates per query; the shortlist
    is broadcast into one scan of the raw corpus vectors and only its
    matches are exact-ranked (the scan still reads every vector).
    Compression sets the ADC cost, reranking restores the precision.

    ``queries`` is a driver-small set (the recall-contract shape, same
    as brute_force_topk's broadcast assumption); batch large query
    workloads, or use lsh_topk/ivf_topk when the query side itself is
    big. An empty query set returns an empty frame.
    """
    from pyspark.sql.types import ArrayType, DoubleType

    if index is not None:
        codes_df, books = index
    else:
        codes_df, books = pq_index(corpus, vec_col, id_col, m, k_codes, iters)
    qids, qv = _collect_queries(queries, vec_col, id_col)  # Q × d
    if not qids:
        return _no_results(queries, id_col)
    ds = books.shape[2]
    # LUTs[qi, j, code] = <q_sub, codeword>
    luts = np.stack(
        [
            np.stack(
                [qv[:, j * ds : (j + 1) * ds] @ books[j].T for j in range(books.shape[0])],
                axis=1,
            )[qi]
            for qi in range(len(qids))
        ]
    )

    def score(s: pandas.Series) -> pandas.Series:
        codes = np.stack(s.to_numpy()).astype(np.int64)  # n × m
        n, mm = codes.shape
        out = np.empty((n, luts.shape[0]), dtype=np.float64)
        for qi in range(luts.shape[0]):
            out[:, qi] = luts[qi][np.arange(mm), codes].sum(axis=1)
        return pandas.Series(list(out))

    score_udf = F.pandas_udf(score, ArrayType(DoubleType()))
    # typed like the id column: the literals alone would type by
    # magnitude (int below 2^31, bigint above)
    qid_arr = F.array(*[F.lit(q) for q in qids]).cast(
        ArrayType(queries.schema[id_col].dataType)
    )
    scored = (
        codes_df.select(
            F.col(id_col).alias("neighbor_id"),
            F.posexplode(score_udf(F.col("codes"))).alias("qi", "sim"),
        )
        .withColumn("query_id", qid_arr[F.col("qi")])
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _rank_shortlist(
        corpus, queries, scored, k, rerank_factor, vec_col, id_col
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    rerank_factor: int = 2,
    index: "tuple[DataFrame, np.ndarray, np.ndarray] | None" = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ composite ANN (the standard billion-scale layout, Jégou et
    al. 2011 / FAISS IVFPQ): coarse IVF pruning cuts the SCAN to
    ~nprobe/n_centroids of the corpus, PQ compression cuts the BYTES per
    scanned vector to m — the two savings multiply, which is what makes
    a single machine-generation of hardware hold a billion vectors.

    Composition of the two existing indexes: ``ivf_index`` assigns
    clusters, ``pq_index`` trains the codebooks, and the ADC pass scores
    codes only inside each query's probed clusters (a broadcast equi
    join on cluster — the per-query LUT gather never sees unprobed
    lists; the (query, cluster) probe table is a local relation).
    ``queries`` is driver-small (the recall-contract shape shared by the
    other *_topk operators); an empty query set returns an empty frame.

    ``residual=False`` (default): codes encode RAW vectors with one
    shared codebook — simpler plumbing at slightly lower ADC precision,
    restored by the exact rerank of the ``rerank_factor``·k shortlist
    (broadcast into one scan of the raw corpus vectors, as in
    :func:`pq_topk`).

    ``residual=True`` is the paper's IVFADC: the codebook is trained on
    and encodes ``v − centroid[cluster]`` — residuals concentrate near
    the origin so the same m·log2(k) bits cover a tighter ball (finer
    quantization, higher ADC fidelity before any rerank). The
    inner-product score decomposes exactly: ``q·v = q·centroid +
    q·residual`` — the first term is a per-(query, probed-cluster)
    scalar added to the LUT gather, so the ADC pass costs the same.

    ``index`` is the steady-state entry point: pass a prebuilt
    ``(with_codes_df, centroids, books)`` triple — ``with_codes_df``
    carries (id, cluster, codes), typically read back from the
    persisted index store — and no k-means training happens; the call
    is pure probe + ADC + rerank (the bench's *_steady measurement).
    The triple must have been built with the SAME ``residual`` setting
    (raw-encoded codes scored with a residual offset are garbage, and
    vice versa).
    """
    from pyspark.sql.types import DoubleType

    if index is not None:
        with_codes, centroids, books = index
    else:
        with_codes, centroids, books = ivfpq_index(
            corpus, vec_col, id_col, n_centroids, m, k_codes, iters,
            residual,
        )

    qids, qv = _collect_queries(queries, vec_col, id_col)
    if not qids:
        return _no_results(queries, id_col)
    ds = books.shape[2]
    luts = np.stack(
        [
            np.stack(
                [
                    qv[qi, j * ds : (j + 1) * ds] @ books[j].T
                    for j in range(books.shape[0])
                ]
            )
            for qi in range(len(qids))
        ]
    )  # Q × m × k_codes
    probe_order = np.argsort(-(qv @ centroids.T), axis=1)[:, :nprobe]

    # a typed pandas frame plans as a JVM-local relation under Arrow; a
    # Python list would become a Python RDD, whose broadcast runs a
    # Python-worker job on every call
    per_q = probe_order.shape[1]
    q_probes = corpus.sparkSession.createDataFrame(
        pandas.DataFrame(
            {
                "qi": np.repeat(np.arange(len(qids), dtype="int32"), per_q),
                "query_id": np.repeat(np.asarray(qids, dtype="int64"), per_q),
                "cluster": probe_order.ravel().astype("int32"),
            }
        ),
        "qi int, query_id long, cluster int",
    )

    # residual decomposition: q·v = q·centroid[cluster] + q·residual —
    # the first term is a per-(query, cluster) scalar gather
    offs = qv @ centroids.T if residual else None  # Q × n_centroids

    def adc(
        codes_s: pandas.Series, qi_s: pandas.Series, cl_s: pandas.Series
    ) -> pandas.Series:
        codes = np.stack(codes_s.to_numpy()).astype(np.int64)  # n × m
        qi = qi_s.to_numpy().astype(np.int64)
        sub = np.arange(codes.shape[1])[None, :]  # 1 × m
        gathered = luts[qi[:, None], sub, codes].sum(axis=1)  # n
        if offs is not None:
            gathered = gathered + offs[qi, cl_s.to_numpy().astype(np.int64)]
        return pandas.Series(gathered)

    adc_udf = F.pandas_udf(adc, DoubleType())
    scored = (
        with_codes.select(
            F.col(id_col).alias("neighbor_id"), "cluster", "codes"
        )
        .join(F.broadcast(q_probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            adc_udf(F.col("codes"), F.col("qi"), F.col("cluster")).alias(
                "sim"
            ),
        )
    )
    return _rank_shortlist(
        corpus, queries, scored, k, rerank_factor, vec_col, id_col
    )
