"""Deduplication operators for training-data pipelines (BASELINE.json
north-star surface): exact, MinHash-LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.

Scale posture (the whole point of these at 100 TB):

- exact dedup is a hash groupBy — one shuffle on the fingerprint, map-side
  combine keeps it near-linear.
- pairwise Jaccard is O(n²) per blocking key and exists as the *oracle /
  verification* path; the production path is MinHash-LSH, whose only
  shuffles are (doc → signature) aggregation and the band-bucket self-join,
  i.e. candidates ∝ true near-dups, not n².
- everything is Spark built-ins (xxhash64, higher-order functions);
  no Python in any per-row path.
"""

from __future__ import annotations

import functools
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.functions.text import (
    fingerprint_md5,
    shingles,
    simhash64,
)
from changedatacapture_reporting_spark.functions.vectors import dot_double


def exact_dedup(
    df: DataFrame, key: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: deterministic keeper (min id) + multiplicity.

    One hash-aggregate; at scale this is the cheapest possible dedup —
    Catalyst plans partial aggregation before the shuffle.
    """
    return (
        df.select(key.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_keep_first(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Materialize the deduplicated corpus: keep the min-id row per key.
    (dropDuplicates() keeps an *arbitrary* row — fine for idempotence,
    wrong for reproducible corpus builds, so we pin the keeper.)"""
    keepers = exact_dedup(df, key, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs n-gram-shingle Jaccard within a blocking key.

    O(n²) per block — the exact/oracle path. Use :func:`minhash_lsh_pairs`
    at scale; this one verifies it (SURVEY.md §5.5 differential strategy).
    """
    sh = df.select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        shingles(text_col, n).alias("sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    on = [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    if block_col:
        on.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    jac = F.size(F.array_intersect("a.sh", "b.sh")).cast("double") / F.size(
        F.array_union("a.sh", "b.sh")
    )
    return (
        a.join(b, on=functools.reduce(lambda x, y: x & y, on))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signature per document — the classic universal-hash
    construction: ONE xxhash64 per shingle, then k permutations
    ``h_i = (a_i·h + b_i) mod p`` (p = 2³¹−1, seeded a_i/b_i), sig_i =
    min over shingles.

    Plan shape: explode(shingles) → hash once → groupBy(id).agg(k mins).
    Everything stays in whole-stage codegen (higher-order-function
    formulations run interpreted and cost ~6× more); partial aggregation
    computes the mins map-side, so the shuffle carries exactly
    n_docs × k values. Arithmetic stays below 2⁶² — ANSI-safe."""
    mersenne = (1 << 31) - 1
    rng = random.Random(0x5EED)
    params = [
        (rng.randrange(1, mersenne), rng.randrange(0, mersenne))
        for _ in range(num_hashes)
    ]
    exploded = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("sh")
    ).select(
        F.col(id_col),
        F.xxhash64("sh").bitwiseAND(F.lit(mersenne)).alias("h"),
    )
    return exploded.groupBy(id_col).agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(mersenne)).alias(
                f"mh_{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH band index of a corpus: one (id, band_id, band_hash) row per
    band per document.

    This is the PERSISTABLE artifact of a streaming/incremental dedup
    pipeline: write it partitioned (or bucketed) by ``band_hash`` once,
    and every later ingestion batch joins its own (tiny) band entries
    against it without ever re-reading or re-hashing the corpus text.
    Seeds are fixed (minhash_signatures), so indexes built across rounds
    are mutually compatible and the index is append-only.
    """
    r = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, n, num_hashes)
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[F.col(f"mh_{b * r + i}") for i in range(r)]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    verify: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash banding — the 100 TB dedup path.

    b bands × r rows (k = b·r): docs agreeing on ≥1 full band become
    candidates (P[candidate] = 1−(1−j^r)^b — with 8×4, j=0.8 → 0.986).
    The self-join key is (band_id, band_hash): its cardinality is the
    number of buckets, so the join is a bucket-local explosion proportional
    to true collisions — never an n² cross product.

    verify=True re-checks candidates with exact shingle Jaccard (removes
    LSH false positives; false negatives are the documented 1−recall).
    """
    band_entries = minhash_band_index(df, text_col, id_col, n, num_hashes, bands)

    a, b_ = band_entries.alias("a"), band_entries.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    if not verify:
        return candidates

    sh = df.select(F.col(id_col), shingles(text_col, n).alias("sh"))
    jac = F.size(F.array_intersect("sa.sh", "sb.sh")).cast("double") / F.size(
        F.array_union("sa.sh", "sb.sh")
    )
    return (
        candidates.join(sh.alias("sa"), candidates.doc_a == F.col(f"sa.{id_col}"))
        .join(sh.alias("sb"), candidates.doc_b == F.col(f"sb.{id_col}"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    bands: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, banded into ``bands``
    chunks — by pigeonhole, any pair within Hamming distance ``bands − 1``
    shares ≥1 exact chunk, so the default 8 bands provably cover
    max_hamming ≤ 7 (sign-bit concentration: E[hamming] ≈ 64·θ/π, so even
    0.95-Jaccard near-dups land around h≈6). Candidates verify with exact
    ``bit_count(xor)``. At 100 TB prefer fewer/wider bands (4×16-bit,
    h ≤ 3) — 8-bit buckets collide at rate n²/256 per band."""
    width = 64 // bands
    sig = df.select(F.col(id_col), simhash64(text_col).alias("simhash"))
    chunks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_id", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def neardup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """Connected components over near-dup pairs → (member_id, cluster_id),
    cluster_id = smallest member (the canonical keeper).

    The closing step of a production dedup pipeline: LSH emits *pairs*;
    keeping one doc per transitive group needs components. Algorithm is
    large-star min-label propagation: every node repeatedly adopts the
    smallest label among itself and its neighbours until a fixpoint —
    O(diameter) joins, each a plain shuffle on node id. Near-dup graphs
    have tiny diameters (dup groups are quasi-cliques), so this converges
    in 2–3 rounds regardless of corpus size; each round's shuffle is
    ∝ |pairs|, never |corpus|².

    ``check_every``: fixpoint-test cadence. Every round past the fixpoint
    is a no-op (min-label propagation is idempotent), so checking every
    K-th round trades at most K−1 cheap no-op rounds for K× fewer
    convergence-count jobs — on the quasi-clique graphs this operator
    exists for (diameter ≤ ~3, so wall-clock is DRIVER ROUND-TRIPS, not
    data), K=2 measurably wins; pass 1 to re-check after every round on
    genuinely deep graphs.
    """
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1: {check_every}")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        # materialize ONCE: every round's neighbor-min join consumes
        # edges, and without the cut each round re-executes the entire
        # upstream pair-producing pipeline (for LSH input that is the
        # full shingle→minhash→band→verify dataflow, re-run per round —
        # measured 3× the cost of the propagation itself at sf0.1)
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    for it in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("dst_label")
                ),
                on="dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("dst_label").alias("nmin"))
        )
        stepped = labels.join(neighbor_min, on="node", how="left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: adopt the label of one's label — contracts
        # chains exponentially, so worst-case convergence is O(log
        # diameter) rounds instead of O(diameter)
        jump = stepped.select(
            F.col("node").alias("j_node"), F.col("label").alias("j_label")
        )
        stepped = stepped.join(
            jump, stepped.label == jump.j_node, "left"
        ).select(
            "node",
            "old_label",
            F.least(
                F.col("label"), F.coalesce(F.col("j_label"), F.col("label"))
            ).alias("label"),
        )
        stepped = stepped.localCheckpoint(eager=True)  # cut lineage per round
        labels = stepped.select("node", "label")
        # fixpoint test on the configured cadence only (rounds past the
        # fixpoint are no-ops, count jobs are not)
        if (it + 1) % check_every == 0 or it == max_iterations - 1:
            changed = (
                stepped.filter(F.col("label") != F.col("old_label"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break

    return labels.select(
        F.col("node").alias("member_id"), F.col("label").alias("cluster_id")
    )


def cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Pick the document a pipeline KEEPS from every near-dup cluster —
    the step after :func:`neardup_clusters` that actually shrinks a
    training corpus: per transitive dup group, keep the highest-weight
    member (ties → smallest id; keep-the-longest is the standard
    near-dup heuristic since the longest variant usually subsumes the
    truncated copies), mark the rest as drops.

    ``clusters`` is the (member_id, cluster_id) frame from
    :func:`neardup_clusters` (covers only documents that appear in a
    pair); documents outside every pair are singletons and keep
    themselves. Output is one row per document — (id, cluster_id,
    rep_id, is_kept, n_members) — the exact frame a downstream
    ``filter(is_kept)`` / lineage audit consumes.

    Scale: the left join assigns cluster ids in one shuffle on id; the
    representative is an aggregate max over a (weight, -id) struct —
    map-side combinable, no window over the full corpus — followed by a
    join back on cluster_id. Every shuffle is ∝ corpus rows with
    cluster-sized groups; nothing is quadratic.
    """
    assigned = (
        docs.select(
            F.col(id_col).alias("id"), F.col(weight_col).alias("w")
        )
        .join(
            clusters.select(
                F.col("member_id").alias("id"), "cluster_id"
            ),
            "id",
            "left",
        )
        .select(
            "id", "w", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
        )
    )
    reps = assigned.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("w"), (-F.col("id")).alias("neg_id"))).alias(
            "best"
        ),
        F.count("*").alias("n_members"),
    )
    return (
        assigned.join(reps, "cluster_id")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            (-F.col("best.neg_id")).alias("rep_id"),
            (F.col("id") == -F.col("best.neg_id")).alias("is_kept"),
            "n_members",
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Embedding near-dup: pairs with dot ≥ threshold (vectors are
    L2-normalized in the fixtures, so dot = cosine).

    All-pairs form — the verification path. The scale path buckets by
    random-hyperplane LSH first (see similarity.lsh_buckets_vectorized)
    so the self-join key is the bucket, not a cross join.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = dot_double(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def embedding_neardup_bucketed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.5,
    tables: int = 48,
    planes: int = 4,
    dim: int = 64,
    strategy: str = "group",
) -> DataFrame:
    """Embedding near-dup, the 100 TB path — mirrors minhash_lsh_pairs:

    1. random-hyperplane LSH buckets per vector (Arrow-vectorized matmul,
       one numpy op per batch — similarity.lsh_buckets_vectorized);
    2. candidate pairs from same-(table, bucket) co-membership — never a
       cross join (the all-pairs form above is the oracle tier only);
    3. exact-cosine re-verification with :func:`dot_double` (sequential
       left-to-right fold — the same summation order every SQL engine's
       list-dot uses, so the emitted ``sim`` is byte-stable) removes LSH
       false positives; false negatives are the documented 1−recall,
       driven to ~0 by the table count (P[miss] = (1−p^planes)^tables
       with p = 1 − θ/π; at sim 0.45, 48×4 → ≤7e-5 per marginal pair,
       seeded planes → deterministic per corpus — measured recall 1.0 vs
       the all-pairs oracle at sf0.001/0.01/0.1).

    Two candidate strategies, chosen by the density of collisions:

    - ``"group"`` (default): shuffle (id, vec) once by (table, bucket),
      then verify INSIDE each bucket with one numpy matmul per group
      (``applyInPandas``) and emit only surviving pairs (a small epsilon
      below threshold; survivors are re-verified with the fold-exact
      expression). Shuffle = tables × vector payload; pair verification
      never leaves the bucket, so the dominant cost scales with real
      collision volume even when collisions are DENSE. Low thresholds
      (this contract's 0.45 sits a hair above the fixture's noise floor
      of ~0.45−ε, where any banding scheme collides almost every pair)
      went from a 6M-row candidate distinct + two verify joins to a
      ~10⁴-row survivor dedup — 3.4× faster end-to-end at sf0.1.
    - ``"pairs"``: ship only (id, table, bucket), self-equi-join on the
      bucket key, distinct candidate ids, then join vectors back for
      verification. Cheaper shuffle when collisions are SPARSE (high
      thresholds, the production dedup regime of ~0.9): the vector
      payload ships once, and the candidate list is small.
    """
    from changedatacapture_reporting_spark.operators.similarity import (
        lsh_buckets_vectorized,
    )

    buckets = lsh_buckets_vectorized(tables, planes, dim)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))

    def _verify(candidates: DataFrame) -> DataFrame:
        sim = dot_double(F.col("va"), F.col("vb"))
        return (
            candidates.join(va, "id_a")
            .join(vb, "id_b")
            .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
            .filter(F.col("sim") >= threshold)
        )

    if strategy == "group":
        import numpy as np
        import pandas as pd

        # posexplode the UDF in the same select (see embedding_index)
        entries = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
        )

        # epsilon guard: numpy's pairwise/SIMD summation can differ from
        # the sequential fold in the last ulp; select candidates a hair
        # below threshold, let the fold-exact expression decide membership
        eps = 1e-6

        def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["id"].to_numpy()
            v = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            b = len(ids)
            # blockwise rows-vs-all: peak memory is block×b doubles, not
            # b², so a degenerate giant bucket degrades gracefully
            # instead of materializing the full similarity matrix
            block = 4096
            outs = []
            for lo in range(0, b, block):
                hi = min(lo + block, b)
                s = v[lo:hi] @ v.T  # (hi-lo) × b
                r, c = np.nonzero(s >= threshold - eps)
                r = r + lo
                keep = r < c  # upper triangle only — each pair once
                x, y = ids[r[keep]], ids[c[keep]]
                outs.append((np.minimum(x, y), np.maximum(x, y)))
            return pd.DataFrame(
                {
                    "id_a": np.concatenate([o[0] for o in outs]),
                    "id_b": np.concatenate([o[1] for o in outs]),
                }
            )

        survivors = (
            entries.groupBy("table", "bucket")
            .applyInPandas(_bucket_pairs, "id_a long, id_b long")
            .distinct()
        )
        return _verify(survivors)

    if strategy != "pairs":
        raise ValueError(f"unknown strategy {strategy!r}")

    entries = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
    )

    a, b = entries.alias("a"), entries.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify(candidates)


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Dedup an INCOMING batch against an already-ingested corpus — the
    steady-state shape of corpus building at 100 TB. A one-shot dedup
    (minhash_lsh_pairs over everything) re-shingles and re-hashes the
    whole corpus on every ingestion; this operator never touches the
    existing corpus except through (a) its persisted band index
    (``corpus_index``, built once via :func:`minhash_band_index` and
    appended to per batch) and (b) an id-semi-joined text fetch for the
    few candidate matches that need exact verification.

    Duplicate rule (deterministic, SQL-replayable — no recursive
    survivor logic): a new document is a duplicate iff its exact shingle
    Jaccard ≥ ``threshold`` against (a) ANY corpus document, or (b) any
    EARLIER (smaller id) document of its own batch. ``dup_of`` is the
    smallest matching id overall.

    Plan shape: new batch shingled/hashed once; candidates from two
    (band_id, band_hash) equi-joins — new×index (the index side is huge
    but the join key is the bucket, and with a small batch AQE broadcasts
    the new side) and new×new (tiny self-join); exact verification joins
    texts for candidate ids only (left-semi fetch). Shuffle volume is
    ∝ batch size + collisions, never corpus size.

    Output: one row per new document — (id, is_dup, dup_of).
    """
    if corpus_index is None:
        corpus_index = minhash_band_index(
            corpus, text_col, id_col, n, num_hashes, bands
        )
    # the batch's band entries feed the corpus-candidate join AND both
    # sides of the within-batch self-join; recomputing a batch's
    # shingle→minhash pipeline per leg is cheaper than a cached relation
    # that no caller ever unpersists
    new_index = minhash_band_index(
        new_docs, text_col, id_col, n, num_hashes, bands
    )

    nb, cb = new_index.alias("nb"), corpus_index.alias("cb")
    cand_corpus = nb.join(
        cb,
        (F.col("nb.band_id") == F.col("cb.band_id"))
        & (F.col("nb.band_hash") == F.col("cb.band_hash")),
    ).select(
        F.col(f"nb.{id_col}").alias("new_id"),
        F.col(f"cb.{id_col}").alias("other_id"),
    )
    a, b = new_index.alias("a"), new_index.alias("b")
    cand_batch = b.join(
        a,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"b.{id_col}").alias("new_id"),
        F.col(f"a.{id_col}").alias("other_id"),
    )
    candidates = cand_corpus.unionByName(cand_batch).distinct()

    # exact verification: shingle only the candidate "other" docs (semi
    # join keeps the corpus scan pruned to matched ids) + the new batch
    docs_all = new_docs.select(F.col(id_col), F.col(text_col)).unionByName(
        corpus.select(F.col(id_col), F.col(text_col))
    )
    other_ids = candidates.select(F.col("other_id").alias(id_col)).distinct()
    sh_other = docs_all.join(other_ids, on=id_col, how="left_semi").select(
        F.col(id_col).alias("other_id"), shingles(text_col, n).alias("sh_o")
    )
    sh_new = new_docs.select(
        F.col(id_col).alias("new_id"), shingles(text_col, n).alias("sh_n")
    )
    jac = F.size(F.array_intersect("sh_n", "sh_o")).cast("double") / F.size(
        F.array_union("sh_n", "sh_o")
    )
    matches = (
        candidates.join(sh_new, "new_id")
        .join(sh_other, "other_id")
        .filter(jac >= F.lit(threshold))
        .groupBy("new_id")
        .agg(F.min("other_id").alias("dup_of"))
    )
    return (
        new_docs.select(F.col(id_col).alias("new_id"))
        .join(matches, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def embedding_index(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tables: int = 48,
    planes: int = 4,
    dim: int = 64,
    with_vectors: bool = False,
) -> DataFrame:
    """Hyperplane-LSH bucket index of an embedding corpus: one
    (id, table, bucket) row per table per vector — the embedding twin of
    :func:`minhash_band_index`. Planes are seeded, so indexes built
    across ingestion rounds are mutually compatible and append-only;
    persist bucketed by (table, bucket) and later batches join without
    re-embedding or re-bucketing the corpus.

    ``with_vectors=True`` additionally carries the vector in each index
    row (``vec``): persisted bucketed by (table, bucket) this is the
    serving layout for the ``"group"`` (in-bucket matmul) verification
    strategy (r10, after the sf1 rehearsal measured the pairwise
    candidate path blowing up 66× at 10× data under dense collisions).
    Saved as a bucketed table, the corpus side never reshuffles at
    batch time; an index read back from plain files (``spark.read.
    parquet``) shuffles once per batch, into the cogroup."""
    from changedatacapture_reporting_spark.operators.similarity import (
        lsh_buckets_vectorized,
    )

    buckets = lsh_buckets_vectorized(tables, planes, dim)
    cols = [F.col(id_col).alias("id")] + (
        [F.col(vec_col).alias("vec")] if with_vectors else []
    )
    # posexplode the UDF in the same select: exploding an aliased UDF
    # column in a second select lets Spark's inferred size(bk) > 0
    # filter evaluate the Arrow UDF a second time
    return df.select(
        *cols, F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket")
    )


def incremental_embedding_dedup(
    new_vecs: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.5,
    tables: int = 48,
    planes: int = 4,
    dim: int = 64,
    corpus_index: DataFrame | None = None,
    strategy: str = "group",
) -> DataFrame:
    """Dedup an incoming embedding batch against an ingested corpus via
    its persisted bucket index — same steady-state shape as
    :func:`incremental_dedup`, same duplicate rule (corpus match, or
    smaller-id batch match, exact cosine ≥ threshold). Output:
    (id, is_dup, dup_of).

    Two verification strategies (same split as
    :func:`embedding_neardup_bucketed`, chosen by collision density):

    - ``"group"`` (default since r10): cogroup the batch's index entries
      with the other side's per (table, bucket) and verify INSIDE each
      bucket with one numpy matmul, emitting only above-threshold
      survivors together with both of their vectors; survivors
      re-verify with the fold-exact expression straight on the cogroup
      output, so the matmul runs once per batch. Sub-threshold
      candidates never materialize as rows — the r10 sf1 rehearsal
      measured the pairwise path at 66× cost for 10× data under dense
      collisions (fixed 16-bucket tables make candidate volume
      ∝ n²/2^planes · tables), group cut it to the collision matmul
      plus true-match-sized shuffles. Serving layout: persist
      ``embedding_index(..., with_vectors=True)`` bucketed by
      (table, bucket) so the corpus never reshuffles at batch time; a
      path-based index (read back with ``spark.read.parquet``)
      reshuffles once per batch, into the cogroup; an id-only index is
      joined back to corpus vectors once (documented fallback).
    - ``"pairs"``: ship (id, table, bucket), equi-join buckets, distinct
      candidate ids, join vectors back for verification — cheaper when
      collisions are SPARSE (the ~0.9-threshold production regime) and
      the vector payload is wide.
    """
    if strategy not in ("group", "pairs"):
        raise ValueError(f"unknown strategy {strategy!r}")
    want_vec = strategy == "group"
    if corpus_index is None:
        corpus_index = embedding_index(
            corpus, vec_col, id_col, tables, planes, dim,
            with_vectors=want_vec,
        )
    elif want_vec and "vec" not in corpus_index.columns:
        # id-only persisted index: fetch the vectors once (fallback —
        # the serving layout persists with_vectors=True, see docstring)
        corpus_index = corpus_index.join(
            corpus.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
            ),
            "id",
        )
    new_index = embedding_index(
        new_vecs, vec_col, id_col, tables, planes, dim,
        with_vectors=want_vec,
    )

    def _finish(pairs: DataFrame) -> DataFrame:
        """Fold-exact verification of (new_id, other_id, vn, vo) rows +
        keeper pick + batch left join."""
        sim = F.round(dot_double(F.col("vn"), F.col("vo")), 6)
        matches = (
            pairs.filter(sim >= F.lit(threshold))
            .groupBy("new_id")
            .agg(F.min("other_id").alias("dup_of"))
        )
        return (
            new_vecs.select(F.col(id_col).alias("new_id"))
            .join(matches, "new_id", "left")
            .select(
                F.col("new_id").alias(id_col),
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
            )
        )

    if strategy == "group":
        import numpy as np
        import pyarrow as pa

        # other side = corpus entries ∪ batch entries; the is_corpus
        # flag lets the matmul apply the duplicate rule in place
        # (corpus match always eligible, batch match only at smaller id)
        other_entries = corpus_index.select(
            "id", "vec", "table", "bucket", F.lit(True).alias("is_corpus")
        ).unionByName(
            new_index.select(
                "id", "vec", "table", "bucket",
                F.lit(False).alias("is_corpus"),
            )
        )
        # epsilon guard: numpy's SIMD summation can differ from the
        # sequential fold in the last ulp; emit a hair below threshold,
        # the fold-exact expression in _finish decides membership
        eps = 1e-6
        out_schema = pa.schema(
            [
                ("new_id", pa.int64()),
                ("other_id", pa.int64()),
                ("vn", pa.list_(pa.float64())),
                ("vo", pa.list_(pa.float64())),
            ]
        )

        def _mat(tbl, col: str) -> np.ndarray:
            # zero-copy: the Arrow ListArray's flat value buffer reshapes
            # straight into the (rows, dim) matrix — never a Python list
            # per row (the applyInPandas form spent most of its time
            # materializing object lists; measured 2.8x end-to-end)
            lst = tbl.column(col).combine_chunks()
            return np.asarray(lst.values, dtype=np.float64).reshape(
                len(tbl), -1
            )

        def _lists(m: np.ndarray) -> pa.ListArray:
            # (rows, dim) matrix → list<double> column over its flat buffer
            offsets = np.arange(0, m.size + 1, m.shape[1], dtype=np.int32)
            return pa.ListArray.from_arrays(offsets, m.ravel())

        def _bucket_matches(left, right):
            if len(left) == 0 or len(right) == 0:
                return out_schema.empty_table()
            nid = left.column("id").to_numpy()
            vn = _mat(left, "vec")
            oid = right.column("id").to_numpy()
            vo = _mat(right, "vec")
            isc = right.column("is_corpus").to_numpy(zero_copy_only=False)
            outs_r, outs_c = [], []
            block = 2048  # peak memory block×|bucket|, not |bucket|²
            for lo in range(0, len(nid), block):
                hi = min(lo + block, len(nid))
                s = vn[lo:hi] @ vo.T
                r, c = np.nonzero(s >= threshold - eps)
                r = r + lo
                keep = isc[c] | (oid[c] < nid[r])
                outs_r.append(r[keep])
                outs_c.append(c[keep])
            r, c = np.concatenate(outs_r), np.concatenate(outs_c)
            # each survivor ships both vectors, so the fold-exact check
            # runs on the cogroup output: the matmul runs once per batch
            return pa.Table.from_arrays(
                [nid[r], oid[c], _lists(vn[r]), _lists(vo[c])],
                schema=out_schema,
            )

        survivors = (
            new_index.groupBy("table", "bucket")
            .cogroup(other_entries.groupBy("table", "bucket"))
            .applyInArrow(
                _bucket_matches,
                "new_id long, other_id long, vn array<double>, vo array<double>",
            )
        )
        return _finish(survivors)

    nb, cb = new_index.alias("nb"), corpus_index.alias("cb")
    cand_corpus = nb.join(
        cb,
        (F.col("nb.table") == F.col("cb.table"))
        & (F.col("nb.bucket") == F.col("cb.bucket")),
    ).select(
        F.col("nb.id").alias("new_id"), F.col("cb.id").alias("other_id")
    )
    a, b = new_index.alias("a"), new_index.alias("b")
    cand_batch = b.join(
        a,
        (F.col("a.table") == F.col("b.table"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("b.id").alias("new_id"), F.col("a.id").alias("other_id"))
    candidates = cand_corpus.unionByName(cand_batch).distinct()

    # fetch the vectors of the candidate ids only
    vecs_all = new_vecs.select(F.col(id_col), F.col(vec_col)).unionByName(
        corpus.select(F.col(id_col), F.col(vec_col))
    )
    other_ids = candidates.select(F.col("other_id").alias(id_col)).distinct()
    v_other = vecs_all.join(other_ids, on=id_col, how="left_semi").select(
        F.col(id_col).alias("other_id"), F.col(vec_col).alias("vo")
    )
    v_new = new_vecs.select(
        F.col(id_col).alias("new_id"), F.col(vec_col).alias("vn")
    )
    return _finish(candidates.join(v_new, "new_id").join(v_other, "other_id"))


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """Training-set DECONTAMINATION: flag corpus documents sharing at
    least ``min_shared`` distinct n-gram shingles with any benchmark
    document — the standard guard against evaluation leakage in a
    training corpus.

    Plan shape (the 100 TB posture): both sides explode their distinct
    shingles, equi-join on the shingle, count shared per (corpus doc,
    benchmark doc). Shuffle is ∝ total shingle occurrences; the benchmark
    side is typically tiny (eval suites are KBs, corpora are TBs), so
    Catalyst broadcasts it and the corpus side never shuffles at all.
    ``hashed=True`` joins on xxhash64(shingle) — 8-byte keys instead of
    strings (cheaper exchange); ``hashed=False`` keeps the raw string key
    (engine-portable, used by the DuckDB-oracled contract; the pytest
    asserts both keys select identical pairs).

    Output: (corpus_id, bench_id, n_shared) for every contaminated pair.
    """
    def side(df: DataFrame, out: str) -> DataFrame:
        sh = F.explode(shingles(F.col(text_col), n)).alias("_sh_raw")
        e = df.select(F.col(id_col).alias(out), sh)
        key = F.xxhash64("_sh_raw") if hashed else F.col("_sh_raw")
        return e.select(out, key.alias("_sh"))

    c = side(corpus, "corpus_id")
    b = side(benchmark, "bench_id")
    return (
        c.join(b, "_sh")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
