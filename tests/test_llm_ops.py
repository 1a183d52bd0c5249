"""LLM-pipeline operator tests (the rows-only contract entries verify here
against exact counterparts — SURVEY.md §5.5 differential strategy)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.functions.text import langid_scores, simhash64
from changedatacapture_reporting_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from changedatacapture_reporting_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_blob,
    extract_features,
    resize_images,
    sample_frames,
)
from changedatacapture_reporting_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from changedatacapture_reporting_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _pairset(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_lsh_finds_exact_jaccard_pairs(documents):
    """MinHash-LSH (verify=True) must return a subset of the exact
    all-pairs result, with recall ≥ expected for 8×4 banding at j≥0.8
    (P[detect] = 1-(1-j^4)^8 ≥ 0.986)."""
    exact = _pairset(
        ngram_jaccard_pairs(documents, block_col=None, threshold=0.8).select(
            "doc_a", "doc_b"
        )
    )
    lsh = _pairset(minhash_lsh_pairs(documents, threshold=0.8).select("doc_a", "doc_b"))
    assert exact, "fixture should contain near-dup pairs"
    assert lsh <= exact  # verification removes all false positives
    assert len(lsh) >= 0.8 * len(exact)


def test_minhash_candidates_not_quadratic(documents):
    n_docs = documents.count()
    candidates = minhash_lsh_pairs(documents, verify=False).count()
    assert candidates < n_docs * 10  # bucket join, not n² cross product


def test_simhash_detects_neardups(documents):
    """The known ≥0.95-Jaccard pairs are nearly-identical token multisets →
    tiny Hamming distance; unrelated docs stay far."""
    strong = _pairset(
        ngram_jaccard_pairs(documents, block_col=None, threshold=0.95).select(
            "doc_a", "doc_b"
        )
    )
    sim = _pairset(simhash_pairs(documents, max_hamming=7).select("doc_a", "doc_b"))
    assert strong
    assert strong <= sim


def test_simhash_is_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "id int, text string"
    )
    a = df.select(simhash64("text").alias("s")).head().s
    b = df.select(simhash64("text").alias("s")).head().s
    assert a == b and a != 0


def test_lsh_topk_recall_vs_bruteforce(embeddings):
    """Hyperplane LSH (8 tables × 8 planes) recall@10 vs exact top-10.
    Random normalized 64-d vectors are a worst case (no cluster structure);
    requiring ≥40% average recall catches wiring bugs while tolerating the
    geometry."""
    q = embeddings.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(embeddings, q, k=10)
    approx = lsh_topk(embeddings, q, k=10)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"LSH recall {recall:.2f} too low"


def test_ivf_topk_recall_vs_bruteforce(embeddings):
    """IVF (16 centroids, nprobe=4 → ~25% of corpus scanned per query)
    must recover a solid share of the exact top-10 even on unclustered
    random vectors."""
    from changedatacapture_reporting_spark.operators.similarity import ivf_topk

    q = embeddings.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(embeddings, q, k=10)
    approx = ivf_topk(embeddings, q, k=10)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"IVF recall {recall:.2f} too low"


def test_ivf_index_is_deterministic(embeddings):
    """Bit-exact, not merely close: the partial-sum fold sorts before
    folding (r9), so centroids are identical across reruns AND across
    different physical partitionings."""
    from changedatacapture_reporting_spark.operators.similarity import ivf_index

    _, c1 = ivf_index(embeddings)
    _, c2 = ivf_index(embeddings)
    _, c3 = ivf_index(embeddings.repartition(7))
    import numpy as np

    assert np.array_equal(c1, c2)
    assert np.array_equal(c1, c3)


def test_lsh_topk_is_subset_ranked_correctly(embeddings):
    q = embeddings.filter(F.col("vec_id") == 0)
    out = lsh_topk(embeddings, q, k=5).collect()
    sims = [r.sim for r in sorted(out, key=lambda r: r.rank)]
    assert sims == sorted(sims, reverse=True)


def test_multimodal_resize_fixed_size_output(documents):
    """Resize stub: one row per input, exactly width*height bytes out,
    deterministic across runs."""
    out = resize_images(attach_blob(documents.limit(20)), 8, 4)
    rows = out.collect()
    assert len(rows) == 20
    assert all(len(r.resized) == 32 for r in rows)
    assert all((r.width, r.height) == (8, 4) for r in rows)
    again = {r.doc_id: bytes(r.resized) for r in out.collect()}
    assert {r.doc_id: bytes(r.resized) for r in rows} == again


def test_multimodal_frame_sampling_matches_reference(documents):
    """Frame sampling: 1 row in → N rows out; multiplicity and content
    match a pure-Python reference on the same payloads."""
    docs = attach_blob(documents.limit(10))
    got = sample_frames(docs, frame_bytes=16, every_nth=4).collect()
    payloads = {r.doc_id: bytes(r.blob) for r in docs.select("doc_id", "blob").collect()}

    expected = {}
    for doc_id, p in payloads.items():
        chunks = [p[i : i + 16] for i in range(0, len(p), 16)]
        for i, c in enumerate(chunks):
            if i % 4 == 0:
                expected[(doc_id, i)] = c
    assert {(r.doc_id, r.frame_idx): bytes(r.frame) for r in got} == expected


def test_multimodal_features_shape(documents):
    feats = extract_features(attach_blob(documents.limit(20)))
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r.features) == FEATURE_DIM
        assert abs(sum(r.features) - 1.0) < 1e-3  # normalized histogram
        assert r.n_bytes > 0


def test_multimodal_features_deterministic(documents):
    f1 = extract_features(attach_blob(documents.limit(5))).collect()
    f2 = extract_features(attach_blob(documents.limit(5))).collect()
    assert {r.doc_id: r.features for r in f1} == {r.doc_id: r.features for r in f2}


def test_neardup_clusters_transitive(spark):
    """a-b and b-c pairs must land in ONE cluster with the smallest member
    as canonical id; disjoint pairs stay separate."""
    from changedatacapture_reporting_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        [(5, 2), (2, 9), (100, 101)], "doc_a long, doc_b long"
    )
    got = {
        r.member_id: r.cluster_id for r in neardup_clusters(pairs).collect()
    }
    assert got == {2: 2, 5: 2, 9: 2, 100: 100, 101: 100}


def test_neardup_clusters_long_chain_converges(spark):
    """A path graph (worst-case diameter) still converges within the
    iteration cap."""
    from changedatacapture_reporting_spark.operators.dedup import neardup_clusters

    chain = [(i, i + 1) for i in range(30)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = neardup_clusters(pairs)
    assert got.select("cluster_id").distinct().count() == 1
    assert got.count() == 31


def test_langid_on_real_sentences(spark):
    rows = [
        ("the cat is on the mat and that is fine", "en"),
        ("el gato está en la casa de los abuelos", "es"),
        ("le chat est dans les maisons des amis", "fr"),
        ("der Hund ist nicht mit der Katze und das ist gut", "de"),
        ("这是一个中文句子用来测试语言识别", "zh"),
    ]
    df = spark.createDataFrame(rows, "text string, expected string")
    got = df.select("expected", langid_scores("text").alias("p")).collect()
    for r in got:
        assert r.p.lang == r.expected, f"{r.expected}: predicted {r.p.lang}"


def test_decoder_capability_probe(monkeypatch):
    """The decode path selects by capability, not by raise: PIL absent →
    the stdlib decoder (REAL for PNG payloads, byte-histogram stand-in
    for everything else); PIL present but payload undecodable → per-row
    fallback to the stand-in (VERDICT r01 item 4: no NotImplementedError
    in the lib-present branch)."""
    import sys

    from changedatacapture_reporting_spark.operators import multimodal as mm

    # PIL absent: probe hands back the stdlib tier — non-PNG payloads
    # behave exactly like the stand-in (PNG behavior is pinned in
    # tests/test_pngcodec.py)
    monkeypatch.setitem(sys.modules, "PIL", None)
    decode_no_pil = mm._make_decoder()
    assert decode_no_pil is not mm._decode_fake
    payload = b"definitely not an image"
    assert decode_no_pil(payload) == mm._decode_fake(payload)

    # PIL "present" but the payload isn't an image: decoder must fall
    # back per-row instead of raising
    class _FakeImage:
        @staticmethod
        def open(_buf):
            raise OSError("cannot identify image file")

    fake_pil = type(sys)("PIL")
    fake_pil.Image = _FakeImage
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", _FakeImage)
    decode = mm._make_decoder()
    assert decode is not mm._decode_fake
    payload = b"definitely not an image"
    assert decode(payload) == mm._decode_fake(payload)


# ---------------------------------------------------------------------------
# corpus pipeline
# ---------------------------------------------------------------------------


def test_prepare_corpus_filters_and_dedups(spark):
    from changedatacapture_reporting_spark.operators.corpus import prepare_corpus

    base = "the cat sat on the mat and it is a fine day for everyone involved "
    rows = [
        # near-dup trio: only the smallest id survives as head
        (1, "en", base * 3),
        (2, "en", base * 3 + "tail"),
        (3, "en", base * 3 + "other tail"),
        # unique passing doc
        (4, "en", "this is a perfectly normal document about the weather "
                  "and it keeps going on for quite a while to pass the bar "
                  "of twenty tokens in total size"),
        # fails: too short
        (5, "en", "too short"),
        # fails: no stopwords (English)
        (6, "en", " ".join(f"word{i}" for i in range(30))),
        # passes: non-English exempt from the stopword gate
        (7, "de", " ".join(f"wort{i} und" for i in range(15))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = (
        prepare_corpus(df, min_alpha_ratio=0.6)
        .select("doc_id", "n_neardups")
        .collect()
    )
    got = {r.doc_id: r.n_neardups for r in out}
    assert set(got) == {1, 4, 7}
    assert got[1] == 2  # head of the trio
    assert got[4] == 0 and got[7] == 0


def test_pack_sequences_offsets_and_ids(spark):
    from changedatacapture_reporting_spark.operators.corpus import pack_sequences

    rows = [(i, " ".join(["tok"] * (10 + i))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, max_pack_tokens=30, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r.doc_id)
        # offsets are the running token count in id order, packs chunk it
        offset = 0
        for r in docs:
            assert r.doc_id % 4 == shard
            assert r.token_offset == offset
            assert r.pack_id == offset // 30
            offset += r.n_tokens


def test_sentiment_scores_dictionary_join(spark):
    from changedatacapture_reporting_spark.functions.text import sentiment_scores

    rows = [
        (1, "fast fast good"),        # (1+1+1)/3 = 1.0
        (2, "slow and bad weather"),  # (-1-1)/4 = -0.5
        (3, "neutral words only"),    # no hits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in sentiment_scores(df).collect()}
    assert got[1].n_hits == 3 and got[1].sentiment == 1.0
    assert got[2].n_hits == 2 and got[2].sentiment == -0.5
    assert got[3].n_hits == 0 and got[3].sentiment == 0.0
    # plan: lexicon must broadcast, tokens must not shuffle before the join
    plan = sentiment_scores(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_prepare_corpus_output_has_no_neardups(documents):
    """Invariant of the pipeline: no two surviving documents are near-dups
    (any jaccard-0.8 pair would have been one cluster → one survivor)."""
    from changedatacapture_reporting_spark.operators.corpus import prepare_corpus

    corpus = prepare_corpus(documents)
    leftover = ngram_jaccard_pairs(
        corpus, "text", "doc_id", None, n=3, threshold=0.8
    ).count()
    assert leftover == 0


def test_benchmark_overlap_hashed_equals_string_key(spark, sf_dir):
    """Production path (xxhash64 shingle key) selects exactly the pairs
    the engine-portable string-key path selects."""
    from changedatacapture_reporting_spark.operators.dedup import (
        benchmark_overlap,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    bench = d.filter(F.col("doc_id") % 7 == 0)
    args = (corpus, bench, "text", "doc_id")
    got_h = {
        tuple(r)
        for r in benchmark_overlap(*args, min_shared=3, hashed=True).collect()
    }
    got_s = {
        tuple(r)
        for r in benchmark_overlap(*args, min_shared=3, hashed=False).collect()
    }
    assert got_h == got_s and len(got_h) > 0


def test_chunk_documents_reconstructs_and_overlaps(spark, sf_dir):
    """Chunks cover the document in order: dropping each chunk's leading
    `overlap` tokens (after the first) and concatenating reproduces the
    original token stream; consecutive chunks share exactly the overlap."""
    from changedatacapture_reporting_spark.operators.corpus import (
        chunk_documents,
    )

    d = load_table(spark, sf_dir, "documents").limit(50)
    chunks = chunk_documents(d, "text", "doc_id", chunk_tokens=16, overlap=4)
    rows = chunks.orderBy("doc_id", "chunk_id").collect()
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}

    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    assert set(by_doc) == set(texts)
    for doc_id, ch in by_doc.items():
        orig = texts[doc_id].strip().split()
        rebuilt = ch[0].chunk_text.split()
        for prev, cur in zip(ch, ch[1:]):
            ptoks, ctoks = prev.chunk_text.split(), cur.chunk_text.split()
            assert ptoks[-4:] == ctoks[: len(ptoks[-4:])] or len(ctoks) < 4
            rebuilt.extend(ctoks[4:])
        assert rebuilt == orig, doc_id
        assert all(c.n_tokens <= 16 for c in ch)


def test_redact_pii_precision(spark):
    """Phone redaction must be shaped, not a digit-run matcher: ISO date
    pairs and bare numeric IDs survive; +international, 3-3-4, and
    parenthesized forms redact; emails and IPs redact independently."""
    from changedatacapture_reporting_spark.functions.text import redact_pii

    cases = [
        # (input, expected after redaction)
        ("dates 2024-01-01 2024-01-02 ok", "dates 2024-01-01 2024-01-02 ok"),
        ("order id 987654321 shipped", "order id 987654321 shipped"),
        ("big id 12345678901234 raw", "big id 12345678901234 raw"),
        ("call +1 555 123 4567 now", "call <PHONE> now"),
        ("call 555-123-4567 now", "call <PHONE> now"),
        ("call (555) 123-4567 now", "call <PHONE> now"),
        ("call +442079460958 now", "call <PHONE> now"),
        ("mail a.b+c@example.co.uk now", "mail <EMAIL> now"),
        ("host 192.168.0.1 up", "host <IP> up"),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "t string")
    got = [r[0] for r in df.select(redact_pii("t")).collect()]
    assert got == [e for _, e in cases]


def test_chunk_documents_tail_and_null_edges(spark):
    """The final start stops once the previous chunk reaches the document
    end (no fully-contained duplicate tail chunk), and NULL text behaves
    like empty text instead of poisoning F.size with -1/null."""
    from changedatacapture_reporting_spark.operators.corpus import (
        chunk_documents,
    )

    doc25 = " ".join(f"w{i}" for i in range(25))
    doc16 = " ".join(f"w{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, doc25), (2, doc16), (3, None), (4, "one")],
        "doc_id int, text string",
    )
    rows = chunk_documents(
        df, "text", "doc_id", chunk_tokens=16, overlap=4
    ).orderBy("doc_id", "chunk_id").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)

    # 25 tokens / chunk 16 / stride 12: starts 0 and 12 only — the old
    # third start (24) produced a 1-token chunk inside chunk 1.
    assert [r.n_tokens for r in by_doc[1]] == [16, 13]
    assert by_doc[1][1].chunk_text.split()[-1] == "w24"
    # exactly chunk_tokens: ONE chunk, no 4-token contained tail
    assert [r.n_tokens for r in by_doc[2]] == [16]
    # NULL text → one empty chunk (same shape as empty string), not -1
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_tokens >= 0
    assert by_doc[4][0].chunk_text == "one" and len(by_doc[4]) == 1

    # full coverage invariant: drop each later chunk's leading overlap
    # and concatenation reproduces the token stream
    for doc_id, text in [(1, doc25), (2, doc16)]:
        ch = by_doc[doc_id]
        rebuilt = ch[0].chunk_text.split()
        for cur in ch[1:]:
            rebuilt.extend(cur.chunk_text.split()[4:])
        assert rebuilt == text.split()


def test_embedding_neardup_strategies_agree(spark, sf_dir):
    """Both candidate strategies (in-bucket matmul vs id equi-join) must
    emit exactly the all-pairs oracle's pair set with identical sims —
    the strategy is a shuffle-shape choice, never a semantics choice."""
    from changedatacapture_reporting_spark.operators.dedup import (
        embedding_neardup_bucketed,
        embedding_neardup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    oracle = {
        (r.id_a, r.id_b): r.sim
        for r in embedding_neardup_pairs(
            e, "embedding", "vec_id", threshold=0.45
        ).collect()
    }
    assert oracle  # fixture must contain planted near-dups
    for strat in ("group", "pairs"):
        got = {
            (r.id_a, r.id_b): r.sim
            for r in embedding_neardup_bucketed(
                e, "embedding", "vec_id", threshold=0.45, strategy=strat
            ).collect()
        }
        assert got == oracle, strat


def test_ngram_vocab_counts_and_ties(spark):
    """Occurrence counts keep within-document repeats, doc frequency
    doesn't; top-k cut is deterministic under count ties."""
    from changedatacapture_reporting_spark.operators.corpus import ngram_vocab

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "a b x"),
            (3, "Z z"),  # lowercased together
        ],
        "doc_id long, text string",
    )
    uni = {r.ngram: (r.n_occurrences, r.n_docs)
           for r in ngram_vocab(df, n=1, top_k=100).collect()}
    assert uni["a"] == (3, 2) and uni["b"] == (3, 2)
    assert uni["z"] == (2, 1)
    bi = {r.ngram: (r.n_occurrences, r.n_docs)
          for r in ngram_vocab(df, n=2, top_k=100).collect()}
    assert bi["a b"] == (3, 2)   # twice in doc 1, once in doc 2
    assert bi["b a"] == (1, 1)
    assert bi["z z"] == (1, 1)  # "Z z" lowercases into one bigram
    tri = {r.ngram for r in ngram_vocab(df, n=3, top_k=100).collect()}
    assert "a b a" in tri and "b a b" in tri

    # deterministic top-k under ties: all count-1 bigrams, cut at k=2
    tie = spark.createDataFrame(
        [(1, "p q"), (2, "r s"), (3, "t u")], "doc_id long, text string"
    )
    top2 = [r.ngram for r in ngram_vocab(tie, n=2, top_k=2).collect()]
    assert top2 == ["p q", "r s"]  # lexicographic tie-break


def test_incremental_dedup_matches_definition(documents):
    """incremental_dedup vs its own exact definition: a new doc is a dup
    iff it jaccard-0.8-matches any corpus doc or a smaller-id batch doc;
    dup_of is the min matching id. With a precomputed band index the
    result must be identical to the index-free call."""
    from changedatacapture_reporting_spark.operators.dedup import (
        incremental_dedup,
    )

    new = documents.filter(F.col("doc_id") % 3 == 0)
    corpus = documents.filter(F.col("doc_id") % 3 != 0)

    out = incremental_dedup(new, corpus, threshold=0.8)
    got = {r.doc_id: (r.is_dup, r.dup_of) for r in out.collect()}
    assert len(got) == new.count()  # exactly one verdict per new doc

    # exact reference: all-pairs jaccard among all docs, filtered to the
    # asymmetric new-vs-(corpus ∪ earlier-batch) rule
    pairs = ngram_jaccard_pairs(documents, block_col=None, threshold=0.8)
    ref: dict[int, int] = {}
    for r in pairs.collect():
        for nid, oid in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if nid % 3 != 0:
                continue
            if oid % 3 == 0 and oid >= nid:
                continue
            ref[nid] = min(ref.get(nid, oid), oid)
    assert any(v[0] for v in got.values()), "fixture should contain dups"
    for doc_id, (is_dup, dup_of) in got.items():
        assert is_dup == (doc_id in ref)
        assert dup_of == ref.get(doc_id)
    # (index-reuse equivalence is exercised by the driver contract —
    # dedup_incremental_batch runs the prebuilt-index path vs the oracle
    # — and by test_incremental_dedup_multi_batch_pipeline)


def test_token_frequency_scores_semantics(spark):
    """Hand-checked corpus: freqs, rare counts, empty doc, mean."""
    from changedatacapture_reporting_spark.operators.corpus import (
        token_frequency_scores,
    )

    df = spark.createDataFrame(
        [
            (1, "a a b"),          # a×2, b×1
            (2, "A c"),            # lowercased → a, c
            (3, "   "),            # whitespace only → 0 tokens
        ],
        "doc_id long, text string",
    )
    # corpus freqs: a=3, b=1, c=1
    out = {r.doc_id: r for r in token_frequency_scores(df, rare_threshold=2).collect()}
    assert out[1].n_tokens == 3
    assert out[1].n_rare_tokens == 1            # b (freq 1 < 2); a has freq 3
    assert out[1].min_token_freq == 1
    assert out[1].mean_token_freq == (3 + 3 + 1) / 3
    assert out[2].n_tokens == 2
    assert out[2].n_rare_tokens == 1            # c
    assert out[2].mean_token_freq == (3 + 1) / 2
    assert out[3].n_tokens == 0
    assert out[3].n_rare_tokens is None and out[3].mean_token_freq is None

    # broadcast off → identical verdicts through the shuffle-join path
    # (compared on one doc; the join path shares every expression with
    # the broadcast one, only the exchange differs)
    alt = {
        r.doc_id: r
        for r in token_frequency_scores(
            df, rare_threshold=2, broadcast_vocab=False
        ).collect()
    }
    assert tuple(alt[1]) == tuple(out[1])


def test_incremental_embedding_dedup_matches_definition(embeddings):
    """Same contract as the text twin: verdicts equal the exact cosine
    rule; a prebuilt index changes the plan, never the answer."""
    from changedatacapture_reporting_spark.operators.dedup import (
        embedding_neardup_pairs,
        incremental_embedding_dedup,
    )

    new = embeddings.filter(F.col("vec_id") % 3 == 0)
    corpus = embeddings.filter(F.col("vec_id") % 3 != 0)
    out = incremental_embedding_dedup(new, corpus, threshold=0.45)
    got = {r.vec_id: (r.is_dup, r.dup_of) for r in out.collect()}
    assert len(got) == new.count()

    pairs = embedding_neardup_pairs(embeddings, threshold=0.45)
    ref: dict[int, int] = {}
    for r in pairs.collect():
        for nid, oid in ((r.id_a, r.id_b), (r.id_b, r.id_a)):
            if nid % 3 != 0 or (oid % 3 == 0 and oid >= nid):
                continue
            ref[nid] = min(ref.get(nid, oid), oid)
    assert any(v[0] for v in got.values()), "fixture should contain dups"
    for vid, (is_dup, dup_of) in got.items():
        assert is_dup == (vid in ref) and dup_of == ref.get(vid)

    # (prebuilt-index equivalence is exercised by the driver contract —
    # dedup_embedding_incremental runs the corpus_index path vs the
    # all-pairs oracle every round)


@pytest.mark.soak  # randomized/exhaustive sweep - pre-commit gate only
def test_incremental_dedup_multi_batch_pipeline(documents):
    """Two ingestion batches processed in sequence, appending ONLY
    survivors (and their band entries) to the corpus/index — the
    steady-state corpus build. The final survivor set must equal the
    greedy min-id-first filter over the exact jaccard-0.8 pair graph
    (keep a doc iff it matches no already-KEPT doc), which is the
    semantics a one-shot global dedup with deterministic keepers
    produces."""
    from changedatacapture_reporting_spark.operators.dedup import (
        incremental_dedup,
        minhash_band_index,
    )

    batches = [documents.filter(F.col("doc_id") % 2 == i) for i in range(2)]

    corpus = None
    index = None
    kept_ids: set[int] = set()
    for b in batches:
        if corpus is None:
            # bootstrap: first batch dedups against an empty corpus
            # (self-dedup only)
            empty = documents.filter(F.lit(False))
            verdicts = incremental_dedup(b, empty, threshold=0.8)
        else:
            verdicts = incremental_dedup(
                b, corpus, corpus_index=index, threshold=0.8
            )
        survivors_ids = {
            r.doc_id for r in verdicts.filter(~F.col("is_dup")).collect()
        }
        survivors = b.filter(F.col("doc_id").isin(list(survivors_ids)))
        corpus = survivors if corpus is None else corpus.unionByName(survivors)
        sb = minhash_band_index(survivors)
        index = sb if index is None else index.unionByName(sb)
        kept_ids |= survivors_ids

    # reference: replay the rule exactly, batch-major — a doc dies iff it
    # matches a KEPT doc of an earlier batch (only survivors were
    # appended to the corpus) or ANY smaller-id doc of its own batch
    # (rule (b) counts in-batch partners regardless of their fate)
    pairs = ngram_jaccard_pairs(documents, block_col=None, threshold=0.8)
    adj: dict[int, set[int]] = {}
    for r in pairs.collect():
        adj.setdefault(r.doc_a, set()).add(r.doc_b)
        adj.setdefault(r.doc_b, set()).add(r.doc_a)

    ref_kept: set[int] = set()
    order = sorted(
        (r.doc_id for r in documents.select("doc_id").collect()),
        key=lambda d: (d % 2, d),
    )
    batch_of = {d: d % 2 for d in order}
    for d in order:
        nbrs = adj.get(d, set())
        dies = any(
            (batch_of[o] < batch_of[d] and o in ref_kept)  # kept earlier batch
            or (batch_of[o] == batch_of[d] and o < d)      # any earlier in-batch
            for o in nbrs
        )
        if not dies:
            ref_kept.add(d)

    assert kept_ids == ref_kept
    assert len(kept_ids) < documents.count()  # something was deduped


def test_pack_sequences_bfd_invariants(spark, sf_dir):
    from changedatacapture_reporting_spark.operators.corpus import (
        pack_sequences_bfd,
    )
    from changedatacapture_reporting_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cap = 64
    out = pack_sequences_bfd(docs, cap, n_shards=4).cache()

    assert out.count() == docs.count()  # every doc exactly once
    packs = out.groupBy("shard", "pack_id").agg(
        F.sum("n_tokens").alias("tot"),
        F.count("*").alias("n"),
        F.max("n_tokens").alias("mx"),
    )
    # a pack over cap must be a single oversized doc
    bad = packs.filter((F.col("tot") > cap) & ~((F.col("n") == 1) & (F.col("mx") > cap)))
    assert bad.count() == 0

    # BFD bound per shard: n_packs ≤ ceil(total/cap)·11/9 + 1 + oversized
    import math

    for r in (
        out.groupBy("shard")
        .agg(
            F.sum("n_tokens").alias("tot"),
            F.countDistinct("pack_id").alias("n_packs"),
            F.sum((F.col("n_tokens") > cap).cast("int")).alias("n_over"),
        )
        .collect()
    ):
        norm_tot = r.tot  # oversized contribute > cap each; bound stays valid
        assert r.n_packs <= math.ceil(norm_tot / cap) * 11 / 9 + 1 + r.n_over

    # deterministic under physical layout
    again = pack_sequences_bfd(docs.repartition(17), cap, n_shards=4)
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in out.collect()}
    out.unpersist()


def test_pack_sequences_bfd_hand_checked(spark):
    from changedatacapture_reporting_spark.operators.corpus import (
        pack_sequences_bfd,
    )

    # one shard; sizes 6,5,4,3,2 with cap 8 → BFD: [6,2],[5,3],[4]; and a
    # 10-token doc gets an oversized singleton pack
    rows = [(i * 1, "w " * n) for i, n in enumerate([6, 5, 4, 3, 2, 10])]
    df = spark.createDataFrame(
        [(8 * i, t.strip()) for i, (_, t) in enumerate(rows)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pack_sequences_bfd(df, 8, n_shards=1).collect()}
    by_pack: dict[int, list[int]] = {}
    for r in out.values():
        by_pack.setdefault(r.pack_id, []).append(r.n_tokens)
    groups = sorted(sorted(v) for v in by_pack.values())
    assert groups == [[2, 6], [3, 5], [4], [10]]


def test_quantize_int8_error_bound_and_recall(embeddings):
    """Quantization invariants: |dequant − x| ≤ scale/2 per component
    (half-step bound), q ∈ [−127, 127], and brute-force top-10 on
    dequantized vectors recovers most exact neighbors."""
    from changedatacapture_reporting_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )

    qz = quantize_int8(F.col("embedding"))
    dq = embeddings.select(
        "vec_id",
        "embedding",
        qz["q"].alias("q"),
        qz["scale"].alias("scale"),
        dequantize_int8(qz).alias("deq"),
    )
    bad = dq.select(
        F.exists(
            F.zip_with(
                "embedding",
                "deq",
                lambda x, y: F.abs(x.cast("double") - y)
                > F.col("scale") / 2 + 1e-12,
            ),
            lambda b: b,
        ).alias("viol"),
        F.exists("q", lambda v: F.abs(v) > 127).alias("oob"),
    )
    assert bad.filter(F.col("viol") | F.col("oob")).count() == 0

    # recall of exact top-10 under quantized geometry
    deq_tbl = dq.select("vec_id", F.col("deq").alias("embedding"))
    q10 = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(embeddings, q10, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            deq_tbl, q10.select("vec_id", "embedding"), k=10
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"quantized recall {recall:.2f} too low"


def test_normalize_text_canonicalizes_unicode(spark):
    from changedatacapture_reporting_spark.functions.text import normalize_text

    cases = [
        ("“Hi” — World…", '"hi" - world...'),
        ("A B   C\t\nD", "a b c d"),
        ("ctrl\x07char\x1fhere", "ctrlcharhere"),
        ("‘quoted’ – dash", "'quoted' - dash"),
        ("  already clean  ", "already clean"),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)],
                               "i long, text string")
    got = {r.i: r.n for r in
           df.select("i", normalize_text("text").alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)

    # idempotence: normalizing normalized text is a no-op
    again = {r.i: r.n for r in
             df.select("i", normalize_text(normalize_text("text")).alias("n"))
             .collect()}
    assert again == got


def test_tfidf_top_terms_hand_checked(spark):
    """Three tiny docs with known tf/df: scores are exact rationals and
    ranks deterministic (score desc, term asc)."""
    from changedatacapture_reporting_spark.operators.corpus import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple banana cherry cherry"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.term): (r.tf, r.df, r.score_num, r.score_den, r.rank)
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    # N=3; df: apple 2, banana 3, cherry 2
    # idf2x+1: apple/cherry -> num mult 2*(3-2)+1=3, den 5; banana -> 1/7
    assert got[(1, "apple")] == (2, 2, 6, 5, 1)      # 2*3/5 = 1.2
    assert got[(1, "banana")] == (1, 3, 1, 7, 2)     # 1/7
    assert got[(2, "cherry")] == (1, 2, 3, 5, 1)     # 0.6
    assert got[(2, "banana")] == (1, 3, 1, 7, 2)
    assert got[(3, "cherry")] == (2, 2, 6, 5, 1)     # 1.2
    assert got[(3, "apple")] == (1, 2, 3, 5, 2)      # 0.6 beats banana 1/7
    assert len(got) == 6  # k=2 per doc


def test_pq_topk_recall_and_compression(spark, sf_dir):
    """PQ + exact rerank hits recall@10 ≥ 0.7 per query (measured
    0.8–1.0); codes are m small ints (the 16-bytes-per-vector storage
    claim); pq_index is deterministic across invocations."""
    from changedatacapture_reporting_spark.operators.similarity import (
        brute_force_topk,
        pq_index,
        pq_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(e, q, k=10, exact_decimal=True).select(
        "query_id", "neighbor_id"
    )
    approx = pq_topk(
        e, q, k=10, m=16, k_codes=32, rerank_factor=5
    ).select("query_id", F.col("neighbor_id").alias("a"))
    recalls = (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (exact.neighbor_id == approx.a),
            "left",
        )
        .groupBy(exact.query_id)
        .agg((F.count(approx.a) / F.count(F.lit(1))).alias("r"))
        .collect()
    )
    assert min(r.r for r in recalls) >= 0.7

    codes_df, books = pq_index(e, m=16, k_codes=32)
    row = codes_df.select("codes").head()
    assert len(row.codes) == 16 and all(0 <= c < 32 for c in row.codes)
    assert books.shape == (16, 32, 4)
    codes_df2, books2 = pq_index(e, m=16, k_codes=32)
    import numpy as np

    assert np.array_equal(books, books2)


@pytest.mark.soak  # randomized/exhaustive sweep - pre-commit gate only
def test_random_projection_exact_and_recall(embeddings):
    """Fixed-point sign projection: output is integer-exact and stable
    under repartition (pure expression, md5-derived literal matrix);
    projected-space top-10 at out_dim=32 recovers a meaningful share of
    exact neighbors (JL distance preservation), far above chance."""
    from changedatacapture_reporting_spark.functions.vectors import (
        projection_signs,
        random_projection,
    )

    signs = projection_signs(64, 32, seed=8)
    assert {v for row in signs for v in row} == {-1, 1}
    assert signs == projection_signs(64, 32, seed=8)  # deterministic
    assert signs != projection_signs(64, 32, seed=9)  # seed matters

    proj = random_projection(F.col("embedding"), signs)
    a = {r.vec_id: r.p for r in embeddings.select("vec_id", proj.alias("p")).collect()}
    b = {
        r.vec_id: r.p
        for r in embeddings.repartition(7)
        .select("vec_id", proj.alias("p"))
        .collect()
    }
    assert a == b  # bit-exact under any physical layout
    assert all(len(v) == 32 and all(isinstance(x, int) for x in v) for v in a.values())

    # recall: projected ints as float vectors through the same brute-force
    proj_tbl = embeddings.select(
        "vec_id",
        F.transform(proj, lambda x: x.cast("float")).alias("embedding"),
    )
    q10 = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(embeddings, q10, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            proj_tbl,
            q10.select(
                "vec_id",
                F.transform(
                    random_projection(F.col("embedding"), signs),
                    lambda x: x.cast("float"),
                ).alias("embedding"),
            ),
            k=10,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # chance recall is 10/500 = 2%. The synthetic fixture is nearly
    # isotropic (neighbors barely separated), so absolute recall is
    # modest for ANY 2× projection — the bound checks the wiring is a
    # real distance-preserving map (10× above chance), not SOTA recall
    assert recall >= 0.15, f"projection recall {recall:.2f} too low"

    with pytest.raises(ValueError):
        random_projection(F.col("embedding"), [])
    with pytest.raises(ValueError):
        random_projection(F.col("embedding"), [[1, -1], [1]])


def test_ivfpq_topk_recall_and_pruning(embeddings):
    """IVF-PQ composite: recall@10 ≥ 0.6 vs exact under coarse pruning +
    compression + rerank; the ADC-only form (rerank_factor=0) still
    returns k rows per query; invalid subspace split raises."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_topk,
    )

    q = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(embeddings, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(
            embeddings, q, k=10, n_centroids=16, nprobe=6,
            m=16, k_codes=32, rerank_factor=3,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF-PQ recall {recall:.2f} too low"

    adc_only = ivfpq_topk(
        embeddings, q, k=5, n_centroids=16, nprobe=6,
        m=16, k_codes=32, rerank_factor=0,
    )
    counts = {r.query_id: r.n for r in adc_only.groupBy("query_id").agg(
        F.count("*").alias("n")).collect()}
    assert set(counts) == set(range(10)) and all(v == 5 for v in counts.values())

    with pytest.raises(ValueError):
        ivfpq_topk(embeddings, q, m=7).collect()  # 64 % 7 != 0


def test_topk_prebuilt_index_matches_trained(embeddings, tmp_path):
    """The steady-state entry points (``index=`` param, the bench's
    *_steady path) return IDENTICAL rows to the train-in-call form after
    a parquet round-trip of the codes — deterministic seeding makes the
    in-call index equal the persisted one, so serving from the index
    store changes cost, never results."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivf_index,
        ivfpq_topk,
        pq_encode,
        pq_index,
        pq_topk,
    )

    spark = embeddings.sparkSession
    q = embeddings.filter(F.col("vec_id") < 5)

    codes_df, books = pq_index(embeddings, m=16, k_codes=32)
    codes_df.select("vec_id", "codes").write.parquet(str(tmp_path / "pq"))
    trained = pq_topk(
        embeddings, q, k=10, m=16, k_codes=32, rerank_factor=5
    )
    steady = pq_topk(
        embeddings, q, k=10, rerank_factor=5,
        index=(spark.read.parquet(str(tmp_path / "pq")), books),
    )
    assert sorted(map(tuple, trained.collect())) == sorted(
        map(tuple, steady.collect())
    )

    indexed, centroids = ivf_index(embeddings, n_centroids=16)
    pq_encode(indexed, books).select(
        "vec_id", "cluster", "codes"
    ).write.parquet(str(tmp_path / "ivfpq"))
    trained2 = ivfpq_topk(
        embeddings, q, k=10, n_centroids=16, nprobe=6,
        m=16, k_codes=32, rerank_factor=3,
    )
    steady2 = ivfpq_topk(
        embeddings, q, k=10, nprobe=6, rerank_factor=3,
        index=(
            spark.read.parquet(str(tmp_path / "ivfpq")), centroids, books
        ),
    )
    assert sorted(map(tuple, trained2.collect())) == sorted(
        map(tuple, steady2.collect())
    )


def test_pq_and_ivfpq_type_query_id_like_the_id_column(embeddings):
    """On the same (small) ids, pq_topk and ivfpq_topk return the same
    output schema, with query_id typed like the id column — not by the
    magnitude of the id literals."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    q = embeddings.filter(F.col("vec_id") < 5)
    pq = pq_topk(embeddings, q, k=3, m=8, k_codes=16, iters=1)
    ivfpq = ivfpq_topk(
        embeddings, q, k=3, n_centroids=4, nprobe=2, m=8, k_codes=16, iters=1
    )
    id_type = embeddings.schema["vec_id"].dataType
    assert pq.schema["query_id"].dataType == id_type
    assert [(f.name, f.dataType) for f in pq.schema] == [
        (f.name, f.dataType) for f in ivfpq.schema
    ]


def test_boilerplate_hashed_equals_string_key(documents):
    """The xxhash64-keyed production path selects identical per-doc
    scores to the raw-string oracle path, and the score actually
    separates a templated document from a unique one."""
    from changedatacapture_reporting_spark.operators.corpus import (
        boilerplate_scores,
    )

    h = {
        r.doc_id: (r.n_shingles, r.n_boiler)
        for r in boilerplate_scores(documents, hashed=True).collect()
    }
    s = {
        r.doc_id: (r.n_shingles, r.n_boiler)
        for r in boilerplate_scores(documents, hashed=False).collect()
    }
    assert h == s and len(h) == documents.count()

    spark = documents.sparkSession
    tmpl = "copyright footer terms apply"
    docs = spark.createDataFrame(
        [(i, f"{tmpl} unique{i} words{i} here{i}") for i in range(5)]
        + [(99, "entirely singular content nothing shared at all")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.boiler_frac for r in
           boilerplate_scores(docs, min_df=3).collect()}
    assert out[99] == 0.0
    assert all(out[i] > 0.2 for i in range(5))  # the shared prefix flags


def test_cluster_representatives_keep_rules(spark):
    """Keep-longest with min-id tie-break; singletons keep themselves;
    every doc appears exactly once; n_members counts the full group."""
    from changedatacapture_reporting_spark.operators.dedup import (
        cluster_representatives,
    )

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (5, 80), (6, 10)],
        "doc_id long, n_chars long",
    )
    # {1,2,3} one cluster (rep: 2 — longest, tie with 3 broken by id),
    # {4,5} another (rep: 5 — longer), 6 singleton
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
        "member_id long, cluster_id long",
    )
    got = {
        r.doc_id: (r.cluster_id, r.rep_id, r.is_kept, r.n_members)
        for r in cluster_representatives(docs, clusters).collect()
    }
    assert len(got) == 6
    assert got[1] == (1, 2, False, 3)
    assert got[2] == (1, 2, True, 3)
    assert got[3] == (1, 2, False, 3)
    assert got[4] == (4, 5, False, 2)
    assert got[5] == (4, 5, True, 2)
    assert got[6] == (6, 6, True, 1)
    # exactly one keeper per cluster
    keepers = [v for v in got.values() if v[2]]
    assert len({v[0] for v in keepers}) == len(keepers) == 3


def test_chunk_exact_dedup_keeper_rule(spark):
    """Keeper = lexicographically smallest (doc, chunk); every input
    chunk appears once; unique chunks keep themselves."""
    from changedatacapture_reporting_spark.operators.corpus import (
        chunk_exact_dedup,
    )

    chunks = spark.createDataFrame(
        [
            (1, 0, "a b c"),
            (1, 1, "d e f"),
            (2, 0, "a b c"),   # copy of (1,0)
            (2, 1, "a b c"),   # another copy
            (3, 0, "g h i"),
            (0, 5, "d e f"),   # copy of (1,1) with SMALLER doc id -> keeper
        ],
        "doc_id long, chunk_id long, chunk_text string",
    )
    got = {
        (r.doc_id, r.chunk_id): (
            r.is_kept, r.keeper_doc_id, r.keeper_chunk_id, r.n_copies
        )
        for r in chunk_exact_dedup(chunks).collect()
    }
    assert len(got) == 6
    assert got[(1, 0)] == (True, 1, 0, 3)
    assert got[(2, 0)] == (False, 1, 0, 3)
    assert got[(2, 1)] == (False, 1, 0, 3)
    assert got[(0, 5)] == (True, 0, 5, 2)
    assert got[(1, 1)] == (False, 0, 5, 2)
    assert got[(3, 0)] == (True, 3, 0, 1)
    # layout independence
    got2 = {
        (r.doc_id, r.chunk_id): r.is_kept
        for r in chunk_exact_dedup(chunks.repartition(5)).collect()
    }
    assert got2 == {k: v[0] for k, v in got.items()}


def test_mixed_language_detects_embedded_chunks(spark):
    """A doc whose tail is a different language gets disagreeing chunks;
    a monolingual doc does not."""
    from changedatacapture_reporting_spark.functions.text import langid_scores
    from changedatacapture_reporting_spark.operators.corpus import (
        chunk_documents,
    )

    en = "the cat and the dog is with that thing of to is the and of "
    es = "el perro la casa de que los una por el la de que los una por "
    docs = spark.createDataFrame(
        [(1, en * 4), (2, en * 3 + es * 3)],
        "doc_id long, text string",
    )
    doc = docs.select(
        "doc_id", langid_scores("text")["lang"].alias("doc_lang")
    )
    ch = chunk_documents(docs, chunk_tokens=16, overlap=4).select(
        "doc_id", langid_scores("chunk_text")["lang"].alias("chunk_lang")
    )
    got = {
        r.doc_id: (r.doc_lang, r.n_disagree)
        for r in ch.join(doc, "doc_id")
        .groupBy("doc_id", "doc_lang")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                (F.col("chunk_lang") != F.col("doc_lang")).cast("long")
            ).alias("n_disagree"),
        )
        .collect()
    }
    assert got[1] == ("en", 0)
    # whichever language wins the whole doc, the other half's chunks
    # disagree with it — that's the mixed-content signal
    assert got[2][0] in ("en", "es") and got[2][1] > 0


def test_corpus_datasheet_counts_with_crafted_dups(spark):
    """Dup metrics (zero on the fixture) are pinned here: whitespace-
    normalized exact copies group; all-integer values exact."""
    from changedatacapture_reporting_spark.operators.corpus import (
        corpus_datasheet,
    )

    docs = spark.createDataFrame(
        [
            (1, "hello  world", "en"),
            (2, " hello world ", "en"),   # same after normalization
            (3, "HELLO world", "en"),     # lowercased -> same
            (4, "adios mundo", "es"),
            (5, "adios mundo", "es"),     # exact copy
            (6, "unique text here", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r.metric: r.value for r in corpus_datasheet(docs).collect()}
    assert got["n_docs"] == 6
    assert got["n_langs"] == 2
    assert got["n_words"] == 2 * 5 + 3
    assert got["max_lang_docs"] == 4
    assert got["n_dup_docs"] == 5      # {1,2,3} and {4,5}
    assert got["n_dup_groups"] == 2


def test_incremental_embedding_dedup_strategies_agree(embeddings):
    """r10: the in-bucket matmul strategy ("group", default) and the
    candidate-pair strategy ("pairs") return identical verdicts, with a
    with_vectors index, an id-only index (fallback join), and no index."""
    from changedatacapture_reporting_spark.operators.dedup import (
        embedding_index,
        incremental_embedding_dedup,
    )

    new = embeddings.filter(F.col("vec_id") % 3 == 0)
    corpus = embeddings.filter(F.col("vec_id") % 3 != 0)

    def rows(df):
        return {tuple(r) for r in df.collect()}

    want = rows(
        incremental_embedding_dedup(
            new, corpus, threshold=0.45, strategy="pairs"
        )
    )
    assert want == rows(
        incremental_embedding_dedup(
            new, corpus, threshold=0.45, strategy="group"
        )
    )
    idx_vec = embedding_index(corpus, with_vectors=True)
    assert want == rows(
        incremental_embedding_dedup(
            new, corpus, threshold=0.45, corpus_index=idx_vec
        )
    )
    idx_plain = embedding_index(corpus)
    assert want == rows(
        incremental_embedding_dedup(
            new, corpus, threshold=0.45, corpus_index=idx_plain
        )
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        incremental_embedding_dedup(new, corpus, strategy="nope")


def _split_batch(embeddings):
    return (
        embeddings.filter(F.col("vec_id") % 3 == 0),
        embeddings.filter(F.col("vec_id") % 3 != 0),
    )


def _verdicts(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_embedding_dedup_group_runs_one_cogroup(embeddings):
    """The "group" strategy verifies survivors on the cogroup's own
    output: the executed plan holds the in-bucket matmul exactly once
    (re-fetching survivor vectors used to re-run it per union branch)."""
    from changedatacapture_reporting_spark.operators.dedup import (
        embedding_index,
        incremental_embedding_dedup,
    )

    new, corpus = _split_batch(embeddings)
    out = incremental_embedding_dedup(
        new, corpus, threshold=0.45,
        corpus_index=embedding_index(corpus, with_vectors=True),
    )
    assert any(r.is_dup for r in out.collect())
    plan = out._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan, without the initial
    assert plan.toString().count("FlatMapCoGroupsInArrow") == 1


@pytest.mark.parametrize("with_vectors", [False, True])
def test_embedding_index_evaluates_bucket_udf_once(embeddings, with_vectors):
    """One Arrow UDF evaluation per posexplode: no inferred filter on
    the aliased UDF result re-evaluating it."""
    import re

    from changedatacapture_reporting_spark.operators.dedup import (
        embedding_index,
    )

    idx = embedding_index(embeddings, with_vectors=with_vectors)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    n_udf = len(re.findall(r"\bArrowEvalPython\b", plan))
    n_gen = len(re.findall(r"\bGenerate\b", plan))
    assert n_gen == 1 and n_udf == n_gen, plan


@pytest.mark.parametrize("strategy", ["group", "pairs"])
def test_embedding_neardup_bucketed_evaluates_bucket_udf_once(
    embeddings, strategy
):
    """One Arrow UDF evaluation per posexplode in both strategies."""
    import re

    from changedatacapture_reporting_spark.operators.dedup import (
        embedding_neardup_bucketed,
    )

    out = embedding_neardup_bucketed(embeddings, threshold=0.45,
                                     strategy=strategy)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_udf = len(re.findall(r"\bArrowEvalPython\b", plan))
    n_gen = len(re.findall(r"\bGenerate\b", plan))
    assert n_gen >= 1 and n_udf == n_gen, plan


def test_incremental_dedup_twins_leave_no_cached_relation(
    spark, documents, embeddings
):
    """Neither twin persists anything its caller would have to release."""
    from changedatacapture_reporting_spark.operators.dedup import (
        incremental_dedup,
        incremental_embedding_dedup,
    )

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_cached()
    incremental_dedup(
        documents.filter(F.col("doc_id") % 3 == 0),
        documents.filter(F.col("doc_id") % 3 != 0),
        threshold=0.8,
    ).collect()
    assert n_cached() == before
    incremental_embedding_dedup(
        *_split_batch(embeddings), threshold=0.45
    ).collect()
    assert n_cached() == before


def test_incremental_embedding_dedup_empty_batch(embeddings):
    from changedatacapture_reporting_spark.operators.dedup import (
        incremental_embedding_dedup,
    )

    for strategy in ("group", "pairs"):
        out = incremental_embedding_dedup(
            embeddings.filter(F.lit(False)), embeddings, threshold=0.45,
            strategy=strategy,
        )
        assert out.collect() == []


def test_incremental_embedding_dedup_without_corpus_collisions(spark):
    """A corpus of the batch's negated vectors flips every hyperplane
    bit, so no corpus entry shares a bucket with a batch entry: only the
    within-batch rule decides (11 is a near copy of 10, 12 is
    orthogonal to both)."""
    import numpy as np

    from changedatacapture_reporting_spark.operators.dedup import (
        incremental_embedding_dedup,
    )

    rng = np.random.default_rng(5)
    v10 = rng.standard_normal(64)
    v10 /= np.linalg.norm(v10)
    v11 = v10 + 0.01 * rng.standard_normal(64)
    v11 /= np.linalg.norm(v11)
    v12 = rng.standard_normal(64)
    v12 -= (v12 @ v10) * v10
    v12 /= np.linalg.norm(v12)
    schema = "vec_id long, embedding array<double>"
    batch = spark.createDataFrame(
        [(10, v10.tolist()), (11, v11.tolist()), (12, v12.tolist())], schema
    )
    corpus = spark.createDataFrame(
        [(1, (-v10).tolist()), (2, (-v12).tolist())], schema
    )
    want = [(10, False, None), (11, True, 10), (12, False, None)]
    for strategy in ("group", "pairs"):
        out = incremental_embedding_dedup(
            batch, corpus, threshold=0.9, strategy=strategy
        )
        assert _verdicts(out) == want


def test_incremental_embedding_dedup_float_equals_double(embeddings):
    """array<float> vectors (the fixture's type) widen exactly to
    double: their verdicts equal those of an array<double> copy."""
    from changedatacapture_reporting_spark.operators.dedup import (
        embedding_index,
        incremental_embedding_dedup,
    )

    assert embeddings.schema["embedding"].dataType.simpleString() == (
        "array<float>"
    )
    wide = embeddings.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )

    def run(e):
        new, corpus = _split_batch(e)
        return _verdicts(
            incremental_embedding_dedup(
                new, corpus, threshold=0.45,
                corpus_index=embedding_index(corpus, with_vectors=True),
            )
        )

    got = run(embeddings)
    assert any(r[1] for r in got)
    assert got == run(wide)


def test_ivfpq_residual_improves_adc_fidelity(spark):
    """IVFADC (residual=True): pre-rerank ADC recall beats raw-vector
    encoding on the sf0.01 fixture (deterministic: measured 0.60 vs
    0.53; on the 10×-smaller smoke fixture the two are within quantizer
    noise of each other, so this test pins the scale where the paper's
    effect is visible), and the reranked form clears the same recall
    bound as the raw entry. The score decomposition
    q·v = q·centroid + q·residual is exact, so determinism holds."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_topk,
    )
    from changedatacapture_reporting_spark.sources.tables import load_table

    embeddings = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(embeddings, q, k=10).collect()
    }

    def recall(residual, rerank):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_topk(
                embeddings, q, k=10, n_centroids=16, nprobe=6,
                m=16, k_codes=32, rerank_factor=rerank, residual=residual,
            ).collect()
        }
        return len(exact & got) / len(exact)

    raw_adc = recall(False, 0)
    res_adc = recall(True, 0)
    assert res_adc > raw_adc, f"residual ADC {res_adc} <= raw {raw_adc}"
    assert recall(True, 3) >= 0.7

    # rerun determinism (seeded centroids + codebooks + exact decomposition)
    assert recall(True, 0) == res_adc


def test_ivfpq_encode_residual_steady_roundtrip(spark, embeddings, tmp_path):
    """The residual index lifecycle: train centroids+books once, encode
    the corpus with ivfpq_encode(residual=True), parquet-persist, and the
    index= steady entry point must return IDENTICAL rows to
    train-in-call residual=True (the raw-encoding twin of the r9 steady
    test)."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_index,
        ivfpq_topk,
    )

    q = embeddings.filter(F.col("vec_id") < 10)
    kw = dict(k=10, n_centroids=16, nprobe=6, m=16, k_codes=32,
              rerank_factor=3)

    trained = ivfpq_topk(embeddings, q, residual=True, **kw)

    _, centroids, books = ivfpq_index(
        embeddings, n_centroids=16, m=16, k_codes=32, residual=True
    )
    ivfpq_encode(embeddings, centroids, books, residual=True).select(
        "vec_id", "cluster", "codes"
    ).write.parquet(str(tmp_path / "ivfpq_res"))
    steady = ivfpq_topk(
        embeddings, q, residual=True,
        index=(spark.read.parquet(str(tmp_path / "ivfpq_res")),
               centroids, books),
        **kw,
    )
    assert sorted(map(tuple, trained.collect())) == sorted(
        map(tuple, steady.collect())
    )


def test_ivfpq_steady_plan_ranks_the_shortlist_once(spark, embeddings, tmp_path):
    """The steady-state query (``index=``, rerank on) scans no Python
    RDD (the probe table is a local relation), feeds the shortlist into
    one join (no reused exchange, no distinct) and runs the ADC UDF
    once."""
    import re

    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    with_codes, centroids, books = ivfpq_index(embeddings, m=16, k_codes=32)
    with_codes.select("vec_id", "cluster", "codes").write.parquet(
        str(tmp_path / "ivfpq")
    )
    out = ivfpq_topk(
        embeddings, embeddings.filter(F.col("vec_id") < 10), k=10, nprobe=6,
        rerank_factor=3,
        index=(spark.read.parquet(str(tmp_path / "ivfpq")), centroids, books),
    )
    out.collect()
    # AQE's final plan only: the string also carries the initial plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    for op in ("ExistingRDD", "ReusedExchange", "HashAggregate"):
        assert op not in plan, plan
    assert len(re.findall(r"\bArrowEvalPython\b", plan)) == 1, plan


def _exact_dot(a, b) -> float:
    # the left fold of functions.vectors.dot_double, in double
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


@pytest.mark.parametrize("residual", [False, True])
def test_ivfpq_rerank_is_exact_top_k_of_adc_shortlist(embeddings, residual):
    """The reranked top-k equals the exact-dot top-k (ties to the lower
    id) over the ADC-only shortlist of k·rerank_factor: same ids, sims
    and ranks."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_topk,
    )

    k, rf = 5, 3
    q = embeddings.filter(F.col("vec_id") < 10)
    kw = dict(n_centroids=16, nprobe=6, m=16, k_codes=32, residual=residual)
    shortlist = ivfpq_topk(embeddings, q, k=k * rf, rerank_factor=0, **kw)
    reranked = ivfpq_topk(embeddings, q, k=k, rerank_factor=rf, **kw)
    got = {tuple(r) for r in reranked.collect()}

    vecs = {r.vec_id: r.embedding for r in embeddings.collect()}
    cands: dict[int, list] = {}
    for r in shortlist.collect():
        cands.setdefault(r.query_id, []).append(r.neighbor_id)
    assert set(cands) == set(range(10))
    want = set()
    for qid, nids in cands.items():
        assert len(nids) == k * rf
        sims = sorted(
            ((-_exact_dot(vecs[qid], vecs[n]), n) for n in nids)
        )[:k]
        want |= {(qid, n, -s, i + 1) for i, (s, n) in enumerate(sims)}
    assert got == want


@pytest.mark.parametrize("rerank_factor", [0, 3])
@pytest.mark.parametrize("op", ["pq", "ivfpq"])
def test_pq_topk_never_returns_the_query_itself(embeddings, op, rerank_factor):
    """Queries drawn from the corpus: no row pairs a query with itself,
    before or after the rerank, and every query still gets k rows."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    q = embeddings.filter(F.col("vec_id") < 10)
    if op == "pq":
        out = pq_topk(embeddings, q, k=10, m=16, k_codes=32,
                      rerank_factor=rerank_factor)
    else:
        out = ivfpq_topk(embeddings, q, k=10, nprobe=6, m=16, k_codes=32,
                         rerank_factor=rerank_factor)
    rows = out.collect()
    assert all(r.query_id != r.neighbor_id for r in rows)
    assert len(rows) == 10 * 10


@pytest.mark.parametrize("op", ["pq", "ivfpq"])
def test_pq_topk_skips_null_query_ids(embeddings, op):
    """A query row with a null id adds no rows and breaks no other query."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
        pq_index,
        pq_topk,
    )

    if op == "pq":
        topk, index = pq_topk, pq_index(embeddings, m=16, k_codes=32)
    else:
        topk, index = ivfpq_topk, ivfpq_index(embeddings, m=16, k_codes=32)
    q = embeddings.filter(F.col("vec_id") < 3)
    null_q = embeddings.filter(F.col("vec_id") == 5).withColumn(
        "vec_id", F.lit(None).cast("long")
    )

    def rows(queries):
        out = topk(embeddings, queries, k=10, rerank_factor=3, index=index)
        return sorted(map(tuple, out.collect()))

    assert rows(q.unionByName(null_q)) == rows(q)

@pytest.mark.parametrize("rerank_factor", [0, 3])
@pytest.mark.parametrize("op", ["pq", "ivfpq"])
def test_pq_topk_empty_query_set(embeddings, op, rerank_factor):
    """No query rows: an empty frame with the usual columns, not a
    LUT-stacking error."""
    from changedatacapture_reporting_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
        pq_index,
        pq_topk,
    )

    if op == "pq":
        topk, index = pq_topk, pq_index(embeddings, m=16, k_codes=32)
    else:
        topk, index = ivfpq_topk, ivfpq_index(embeddings, m=16, k_codes=32)

    def run(q):
        return topk(embeddings, q, k=10, rerank_factor=rerank_factor,
                    index=index)

    empty = run(embeddings.filter(F.col("vec_id") < 0))
    normal = run(embeddings.filter(F.col("vec_id") < 2))
    assert empty.collect() == []
    assert empty.columns == ["query_id", "neighbor_id", "sim", "rank"]
    # pq_topk types query_id by its id literals (int for ids < 2^31);
    # with no ids the empty frame types it like the id column
    skip = 1 if op == "pq" else 0
    assert empty.dtypes[skip:] == normal.dtypes[skip:]


def test_null_text_equals_empty_text_at_the_primitives(spark):
    """NULL ≡ '' policy at the tokenization boundary (r11, extending the
    lm ADVICE fix to the shared primitives): token counts, shingles,
    fingerprints, sampling weights and shard stats must all treat a
    NULL-text document exactly like an empty one — never a legacy
    sizeOfNull -1 count or a NULL-poisoned aggregate."""
    from pyspark.sql import functions as F

    from changedatacapture_reporting_spark.functions.text import (
        rolling_fingerprints,
        shingles,
        tokens,
        word_tokens,
    )
    from changedatacapture_reporting_spark.operators.export import shard_stats

    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x y z")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in d.select(
            "doc_id",
            F.size(tokens("text")).alias("nt"),
            F.size(word_tokens("text")).alias("nw"),
            F.size(shingles("text", 2)).alias("ns"),
            F.size(rolling_fingerprints("text", 2)).alias("nf"),
        ).collect()
    }
    metrics = lambda r: (r["nt"], r["nw"], r["ns"], r["nf"])  # noqa: E731
    assert metrics(out[1]) == metrics(out[2]) != metrics(out[3])
    assert out[1]["nw"] == 0 and out[1]["ns"] == 0 and out[1]["nf"] >= 0

    # shard_stats: a NULL-text doc contributes 0 tokens, not -1
    st = shard_stats(d, n_shards=1).collect()[0]
    assert st["n_docs"] == 3
    # null doc counts exactly like the empty doc (split('') = [''] → 1),
    # never -1: 3 real tokens + 1 + 1
    assert st["n_tokens"] == out[3]["nt"] + 2
