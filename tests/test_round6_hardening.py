"""Round-6 hardening: d05 gemm escape parity, robust tile dim inference,
ledger params sidecar, simhash persist, result-cache listing cap.

Judge mandate (VERDICT.md r5 "Next round" #1/#6 + ADVICE.md): the exact
embedding-neardup mode must leave the interpreted-HOF O(n²) pair fold —
parity-locked against the fold like every prior escape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. d05: gemm tile grid == HOF fold, exactly
# ---------------------------------------------------------------------------


def _pairs(df):
    return sorted((r["id_a"], r["id_b"], r["cosine_sim"]) for r in df.collect())


def test_embedding_neardup_gemm_fold_parity_sf001(spark):
    """The escape's parity lock on real corpus data: identical pair sets,
    identical rounded sims, identical schema."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    gemm = embedding_neardup_pairs(e, "vec_id", "embedding", threshold=0.4)
    fold = embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=0.4, impl="fold"
    )
    assert dict(gemm.dtypes) == dict(fold.dtypes)
    g, f = _pairs(gemm), _pairs(fold)
    assert len(g) > 0  # the planted near-dups exist at this threshold
    assert g == f


def test_embedding_neardup_gemm_blocks_invariant(spark):
    """Tiling must not change the answer: 1 block (single cell, pure
    upper-triangle) == many blocks (grid with off-diagonal cells)."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one = embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=0.3, n_blocks=1
    )
    many = embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=0.3, n_blocks=7
    )
    assert _pairs(one) == _pairs(many)


def test_embedding_neardup_gemm_nulls_and_ragged(spark):
    """Null vectors, ragged vectors, NaN elements and null ids are dropped
    by EVERY impl — in particular the fold, where an unfiltered NaN dot
    would pass the threshold (Spark's NaN-is-largest ordering makes
    NaN >= threshold true) and emit every pair involving the bad vector.
    gemm and fold must agree on this corpus, not just on clean ones."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),
        (3, None),
        (4, [1.0, 0.0]),  # ragged
        (5, [float("nan"), 1.0, 0.0]),
        (6, [float("inf"), 0.0, 0.0]),
        (None, [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    for impl in ("gemm", "fold"):
        got = _pairs(
            embedding_neardup_pairs(
                df, "vec_id", "embedding", threshold=0.9, impl=impl
            )
        )
        assert [(a, b) for a, b, _ in got] == [(1, 2)], impl
    # the lsh scale path shares the fold's pairing: same drop semantics
    got = _pairs(
        embedding_neardup_pairs(
            df, "vec_id", "embedding", threshold=0.9, blocking="lsh"
        )
    )
    assert all(5 not in (a, b) and 6 not in (a, b) for a, b, _ in got)


def test_embedding_neardup_gemm_string_id_falls_back(spark):
    """Non-integral ids can't ride the int64 tile kernel — the operator
    silently selects the fold, same answer shape."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0001]), ("c", [0.0, 1.0])],
        "vec_id: string, embedding: array<float>",
    )
    got = _pairs(
        embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.9)
    )
    assert [(a, b) for a, b, _ in got] == [("a", "b")]


def test_infer_dim_majority_not_first_row():
    """ADVICE r5 (medium): dim inference must survive a ragged FIRST row —
    majority length wins, so one bad vector can't mask out the whole tile."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        _clean_matrix,
        _infer_dim,
    )

    vals = [[1.0, 2.0], [0.0, 1.0, 2.0], [3.0, 4.0, 5.0], [6.0, 7.0, 8.0]]
    assert _infer_dim(vals) == 3
    X, ok = _clean_matrix(vals, 3)
    assert list(ok) == [False, True, True, True] and X.shape == (3, 3)
    # two sides pooled; ties break to the larger length
    assert _infer_dim([[1.0]], [[1.0, 2.0]]) == 2
    assert _infer_dim([None, None]) == 0
    assert _infer_dim([]) == 0


def test_knn_join_ragged_first_row_does_not_poison_cell(spark):
    """The knn block kernel's old first-non-null dim inference made results
    depend on row order inside the cogroup cell; a leading ragged vector
    must now cost only itself."""
    from sql_data_warehouse_samples_spark.operators.similarity import knn_join

    # doc 99 is ragged and hashes SOMEWHERE; every cell must still match
    # the clean rows regardless of where 99 lands or in what order
    rows = [(99, [1.0, 0.0, 0.0, 0.0, 0.0])] + [
        (i, [float(i), 1.0, 0.0]) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    got = knn_join(df, df, k=2, left_blocks=1, right_blocks=1)
    per_q = {r["query_id"] for r in got.collect()}
    # all 8 clean rows get neighbors; the ragged row matches nothing
    assert per_q == set(range(8))


# ---------------------------------------------------------------------------
# 2. bounded-sample quantizer training (FAISS practice)
# ---------------------------------------------------------------------------


def test_kmeans_sampled_training_bounded_and_deterministic(spark):
    """max_train caps the per-iteration scan; the hash-ranked sample is
    stable under repartitioning, so the trained quantizer is too."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        kmeans_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    a = kmeans_centroids(e, nlist=8, iters=2, max_train=100)
    b = kmeans_centroids(e.repartition(13), nlist=8, iters=2, max_train=100)
    assert len(a) == 8 and [cid for cid, _ in a] == list(range(8))
    for (ca, va), (cb, vb) in zip(a, b):
        assert ca == cb
        assert va == pytest.approx(vb, abs=1e-9)


def test_kmeans_sampled_equals_full_when_sample_covers_corpus(spark):
    """Corpus smaller than max_train -> the sample IS the corpus: training
    must agree with the full-corpus path (so the default changes nothing
    at oracle scales)."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        kmeans_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full = kmeans_centroids(e, nlist=4, iters=2, max_train=0)
    samp = kmeans_centroids(e, nlist=4, iters=2)  # default cap >> corpus
    assert [c for c, _ in full] == [c for c, _ in samp]
    for (_, vf), (_, vs) in zip(full, samp):
        assert vf == pytest.approx(vs, abs=1e-9)


def test_ivf_topk_trained_on_sample_recall(spark):
    """Sampled training must not collapse IVF recall vs brute force."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    cents = kmeans_centroids(e, nlist=8, iters=2, max_train=200)
    approx = ivf_topk(e, q, k=5, nlist=8, nprobe=4, centroids=cents)
    exact = cosine_topk(e, q, k=5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    x = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a & x) / len(x) >= 0.5  # nprobe=4/8 lists


# ---------------------------------------------------------------------------
# 3. ledger hardening: params sidecar, local-scheme guard, keyed replay,
#    unified admission pipeline
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_signature_ledger_params_sidecar(spark, tmp_path):
    """Reopening a ledger with different (num_hashes, bands, shingle_n)
    must raise, not silently derive wrong band keys / denominators."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        MinHashSignatureLedger,
    )

    path = str(tmp_path / "near")
    led = MinHashSignatureLedger(spark, path, num_hashes=16, bands=4)
    led.ingest(_docs(spark, [(1, "alpha beta gamma delta epsilon zeta")]))
    # same params reopen fine
    MinHashSignatureLedger(spark, path, num_hashes=16, bands=4).signatures()
    with pytest.raises(ValueError, match="params"):
        MinHashSignatureLedger(spark, path, num_hashes=32, bands=8)
    # sidecar survives compaction's directory swap
    led.compact(1)
    with pytest.raises(ValueError, match="params"):
        MinHashSignatureLedger(spark, path, num_hashes=16, bands=8)


def test_ledger_rejects_object_store_schemes(spark, tmp_path):
    """``require_swap_capable`` accepts every store whose atomic
    small-object commit is known — rename-capable stores (tmp + rename)
    and object stores (direct PUT) — and refuses only a scheme with NO
    known commit primitive, loudly."""
    from sql_data_warehouse_samples_spark.operators.dirswap import (
        require_swap_capable,
    )
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
        MinHashSignatureLedger,
    )

    # object stores: accepted (the pointer commits by direct PUT)
    assert require_swap_capable("s3://bucket/ledger") == "s3://bucket/ledger"
    assert require_swap_capable("gs://bucket/ledger") == "gs://bucket/ledger"
    # unknown schemes: still refused loudly rather than assumed safe
    for cls in (ContentHashLedger, MinHashSignatureLedger):
        with pytest.raises(ValueError, match="no known commit primitive"):
            cls(spark, "weirdfs://bucket/ledger")
    # atomic-rename schemes pass validation (no FS touch at validate time)
    assert require_swap_capable("hdfs://nn/ledger") == "hdfs://nn/ledger"
    assert require_swap_capable("abfss://c@a.dfs.example/x").startswith("abfss")
    # file:// is swap-capable and kept AS A URI — it runs through the
    # Hadoop LocalFileSystem backend (full-stack coverage of the remote
    # code path lives in test_round10_hardening)
    led = ContentHashLedger(spark, f"file://{tmp_path}/ok")
    assert led.path == f"file://{tmp_path}/ok"


def test_content_ledger_keyed_replay_idempotent(spark, tmp_path):
    """Replaying the same idempotency_key converges: the batch is not a
    dup of its own prior append, and the ledger holds one copy."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
    )

    led = ContentHashLedger(spark, str(tmp_path / "exact"))
    batch = _docs(spark, [(1, "hello world"), (2, "other text")])
    first = led.ingest(batch, idempotency_key="b0")
    assert first.count() == 2
    replay = led.ingest(batch, idempotency_key="b0")
    assert replay.count() == 2  # NOT dropped as dups of itself
    assert led.hashes().count() == 2  # overwrite, not accumulate
    # a later batch with an exact dup is still caught
    nxt = led.ingest(
        _docs(spark, [(3, "hello world"), (4, "brand new")]),
        idempotency_key="b1",
    )
    assert [r["doc_id"] for r in nxt.collect()] == [4]
    with pytest.raises(ValueError, match="idempotency_key"):
        led.ingest(batch, idempotency_key="../escape")


def test_admission_pipeline_end_to_end(spark, tmp_path):
    """VERDICT r5 #8: one admit() call drops exact dups AND near dups,
    both ledgers record survivors, steady-state reads no corpus text."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )

    pipe = AdmissionPipeline(
        spark, str(tmp_path / "adm"), num_hashes=16, bands=8, threshold=0.5
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    day0 = _docs(spark, [(1, base), (2, "completely unrelated corpus text")])
    assert {r["doc_id"] for r in pipe.admit(day0, idempotency_key="d0").collect()} == {1, 2}

    day1 = _docs(
        spark,
        [
            (10, base),  # exact dup of 1
            (11, base + " tonight"),  # near dup of 1
            (12, "genuinely fresh document about spark plans"),
        ],
    )
    got = {r["doc_id"] for r in pipe.admit(day1, idempotency_key="d1").collect()}
    assert got == {12}
    # near ledger holds exactly the admitted docs; the exact ledger also
    # records 11 (an exact-stage survivor later dropped as a NEAR dup —
    # consistent: an exact copy of 11 is rejected either way)
    assert pipe.exact.hashes().count() == 4  # hashes of 1, 2, 11, 12
    assert {r["doc_id"] for r in pipe.near.signatures().collect()} == {1, 2, 12}
    # replay of day1 converges to the same state
    again = {r["doc_id"] for r in pipe.admit(day1, idempotency_key="d1").collect()}
    assert again == {12}
    assert pipe.exact.hashes().count() == 4
    assert {r["doc_id"] for r in pipe.near.signatures().collect()} == {1, 2, 12}
    n_exact, n_near = pipe.compact(1)
    assert (n_exact, n_near) == (4, 3)


# ---------------------------------------------------------------------------
# 4. result-cache signature cost cap (VERDICT r5 #6)
# ---------------------------------------------------------------------------


def test_result_cache_tail_sampling_above_file_cap(spark, tmp_path, monkeypatch):
    """Beyond _MAX_TAIL_FILES inputs only a strided sample of footer tails
    is read, but the signature still covers every file's path+size+mtime:
    rewriting ANY file (even an unsampled one) changes the key."""
    from sql_data_warehouse_samples_spark.result_cache import ResultCache

    data = str(tmp_path / "many")
    spark.range(0, 64).repartition(8).write.parquet(data)
    df = spark.read.parquet(data)
    rc = ResultCache(spark, str(tmp_path / "cache"))
    monkeypatch.setattr(ResultCache, "_MAX_TAIL_FILES", 2)

    reads = []
    orig = ResultCache._tail_hash.__func__

    def counting(cls, path, size):
        reads.append(path)
        return orig(cls, path, size)

    monkeypatch.setattr(
        ResultCache, "_tail_hash", classmethod(counting)
    )
    k1 = rc.key_for("select count(*) from t", df)
    assert k1 is not None
    n_files = len(df.inputFiles())
    assert n_files > 2  # the cap is actually exceeded
    assert 0 < len(reads) < n_files  # strided sample, not every tail
    # the cap is a real bound: ceil-division stride (floor left stride=1
    # — every tail read — up to 2x the cap)
    assert len(reads) <= ResultCache._MAX_TAIL_FILES

    # touching any ONE file still invalidates (size+mtime covers all)
    import os

    victims = sorted(
        os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet")
    )
    with open(victims[-1], "ab") as f:
        f.write(b"x")
    k2 = rc.key_for("select count(*) from t", spark.read.parquet(data))
    assert k2 != k1


# ---------------------------------------------------------------------------
# 5. batched BPE merges == sequential (VERDICT r5 #5)
# ---------------------------------------------------------------------------


def test_bpe_batched_equals_sequential(spark):
    """The prefix-disjoint + strict-count batch rule must reproduce the
    sequential trainer EXACTLY — including on tie-heavy corpora where the
    (l, r) string tie-break decides, and at every batch size."""
    from sql_data_warehouse_samples_spark.operators import bpe as B

    corpora = [
        # tie-heavy: many equal pair counts
        [(0, "ab ab ab cd cd cd ef ef ef"), (1, "abab cdcd efef abcdef")],
        # chain interactions: (a,b) then (ab,c) etc.
        [(0, "abc abc abcd abcde abcdef xyz xyz")],
        # repeated chars: overlapping self-pairs (a,a)
        [(0, "aaaa aaa aa aaaaa bbbb bbb")],
        # real-ish text
        [(0, "the quick brown fox the quick red fox the slow brown dog")],
    ]
    for rows in corpora:
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        seq, seq_words = B.bpe_train(docs, 12, batch_size=1, min_count=2)
        for bs in (2, 4, 16):
            bat, bat_words = B.bpe_train(docs, 12, batch_size=bs, min_count=2)
            assert bat == seq, f"batch_size={bs} diverged on {rows}"
            sw = {r.word: list(r.symbols) for r in seq_words.collect()}
            bw = {r.word: list(r.symbols) for r in bat_words.collect()}
            assert bw == sw


def test_bpe_collected_trainer_equals_distributed(spark):
    """The driver-dict production trainer (one corpus pass, heap-based
    in-driver merge loop) must learn the IDENTICAL merge sequence as the
    distributed per-round trainer."""
    from sql_data_warehouse_samples_spark.operators import bpe as B

    corpora = [
        [(0, "ab ab ab cd cd cd ef ef ef"), (1, "abab cdcd efef abcdef")],
        [(0, "abc abc abcd abcde abcdef xyz xyz")],
        [(0, "aaaa aaa aa aaaaa bbbb bbb")],
        [(0, "the quick brown fox the quick red fox the slow brown dog")],
    ]
    for rows in corpora:
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        dist, _ = B.bpe_train(docs, 15, batch_size=1, min_count=2)
        coll = B.bpe_train_collected(docs, 15, min_count=2)
        assert coll == dist, f"diverged on {rows}"


def test_bpe_collected_trainer_on_corpus(spark):
    """Real-corpus check at 100 merges + the max_words cap only prunes
    the rare tail's influence."""
    from sql_data_warehouse_samples_spark.operators import bpe as B

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    dist, _ = B.bpe_train(docs, 60, batch_size=1, min_count=2)
    coll = B.bpe_train_collected(docs, 60, min_count=2)
    assert coll == dist


def test_simhash_uncapped_bucket_path(spark):
    """ADVICE r5: max_bucket=None must produce the same pairs as the
    capped path on small buckets (and the banded frame is persisted so
    the corpus is hashed once — the uncapped self-join's both sides read
    the cache)."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        simhash_dedup_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different text about spark shuffle plans"),
            (4, "another unrelated document mentioning parquet files"),
        ],
        "doc_id: long, text: string",
    )
    capped = {
        (r["id_a"], r["id_b"])
        for r in simhash_dedup_pairs(df, "text", "doc_id", max_hamming=16).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in simhash_dedup_pairs(
            df, "text", "doc_id", max_hamming=16, max_bucket=None
        ).collect()
    }
    assert uncapped == capped and (1, 2) in uncapped


def test_bloom_decontamination_one_sided_and_superset(spark):
    """Bloom prefilter has NO false negatives: verify=True output equals
    the exact join at every bits/gram setting (even absurdly lossy ones),
    and verify=False returns a superset of the exact answer."""
    from sql_data_warehouse_samples_spark.operators.dedup import (
        bloom_contaminated_ids,
        contaminated_ids,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten"),
        (3, "alpha beta gamma delta epsilon zeta eta theta different tail"),
        (4, "totally unrelated words in this document body here now ok"),
    ]
    bench_rows = [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    train = spark.createDataFrame(rows, "doc_id: long, text: string")
    bench = spark.createDataFrame(bench_rows, "doc_id: long, text: string")
    exact = {
        r["doc_id"] for r in contaminated_ids(train, bench, "text", "doc_id").collect()
    }
    assert exact == {1, 3}
    for bpg in (2, 16):
        got = {
            r["doc_id"]
            for r in bloom_contaminated_ids(
                train, bench, "text", "doc_id", bits_per_gram=bpg
            ).collect()
        }
        assert got == exact, f"bits_per_gram={bpg}"
    superset = {
        r["doc_id"]
        for r in bloom_contaminated_ids(
            train, bench, "text", "doc_id", verify=False
        ).collect()
    }
    assert superset >= exact


def test_pq_refine_full_candidates_equals_exact_topk(spark):
    """With candidates >= corpus size the ADC stage prunes nothing, so the
    refine stage's (query, neighbor, rank) must equal exact cosine_topk —
    the two-stage pipeline degrades gracefully to brute force."""
    from sql_data_warehouse_samples_spark.operators import similarity as S

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    books = S.pq_codebooks(e, m=8, k=16)
    codes = S.pq_encode(e, books).select("vec_id", "pq")
    queries = e.filter(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"], r["nbr_rank"], r["cos"])
        for r in S.pq_refine_topk(
            codes, e, queries, books, k=4, candidates=60
        ).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["nbr_rank"], r["cosine_sim"])
        for r in S.cosine_topk(e, queries, k=4).collect()
    }
    assert got == want


def test_pq_refine_rerank_beats_adc_order(spark):
    """The refine stage must rank by EXACT cosine, not ADC: every returned
    row's rank ordering agrees with descending cos within each query, and
    output is bounded to k rows per query drawn from the candidate pool."""
    from collections import Counter

    from sql_data_warehouse_samples_spark.operators import similarity as S

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(80)
    books = S.pq_codebooks(e, m=8, k=16)
    codes = S.pq_encode(e, books).select("vec_id", "pq")
    queries = e.filter(F.col("vec_id") < 4)
    rows = S.pq_refine_topk(codes, e, queries, books, k=3, candidates=12).collect()
    per_q = Counter(r["query_id"] for r in rows)
    assert set(per_q) == {0, 1, 2, 3} and all(v == 3 for v in per_q.values())
    for qid in per_q:
        mine = sorted(
            (r for r in rows if r["query_id"] == qid), key=lambda r: r["nbr_rank"]
        )
        coses = [r["cos"] for r in mine]
        assert coses == sorted(coses, reverse=True)


def test_rrf_fuse_hand_computed(spark):
    """RRF on two hand-built lists matches the closed-form score; a doc in
    both lists carries n_lists=2 and the summed reciprocal."""
    from sql_data_warehouse_samples_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id: long, doc_id: long, rank: int",
    )
    vec = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)],
        "query_id: long, doc_id: long, rank: int",
    )
    got = {
        r["doc_id"]: (r["rrf"], r["n_lists"], r["fused_rank"])
        for r in rrf_fuse([lex, vec], k0=60).collect()
    }
    r = lambda x: round(1.0 / (60 + x), 10)
    assert got[11] == (r(2) + r(1), 2, 1)          # in both lists -> top
    assert got[10] == (r(1), 1, 2)
    assert got[13] == (r(2), 1, 3)
    assert got[12] == (r(3), 1, 4)
    top2 = {
        r_["doc_id"]
        for r_ in rrf_fuse([lex, vec], k0=60, k=2).collect()
    }
    assert top2 == {11, 10}


def test_image_dhash_known_values_and_neardup_pairs(spark):
    """dHash from REAL encoded PPM bytes: identical images pair at
    hamming 0, a slightly-brightened copy pairs near 0, an unrelated
    pattern doesn't pair, and an undecodable payload yields NULL and is
    excluded from banding (never crashes the batch)."""
    import numpy as np

    from sql_data_warehouse_samples_spark.operators.dedup import (
        hamming_neardup_pairs,
    )
    from sql_data_warehouse_samples_spark.operators.multimodal import (
        encode_ppm,
        image_dhash,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(16, 20, 3), dtype=np.uint8)
    bright = np.clip(base.astype(np.int64) + 6, 0, 255).astype(np.uint8)
    other = rng.integers(0, 256, size=(16, 20, 3), dtype=np.uint8)
    rows = [
        (1, encode_ppm(base)),
        (2, encode_ppm(base)),      # exact duplicate
        (3, encode_ppm(bright)),    # near duplicate (uniform brightness)
        (4, encode_ppm(other)),     # unrelated
        (5, b"not an image"),       # undecodable
    ]
    media = spark.createDataFrame(rows, "media_id: long, payload: binary")
    sig = image_dhash(media)
    got = {r["media_id"]: r["dhash"] for r in sig.collect()}
    assert got[5] is None
    assert got[1] == got[2] is not None
    # uniform brightening preserves all strict comparisons except ties
    # created/broken by clipping — identical here by construction
    assert bin((got[1] ^ got[3]) & (2**64 - 1)).count("1") <= 3
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_neardup_pairs(
            sig, "media_id", "dhash", max_hamming=3
        ).collect()
    }
    assert pairs[(1, 2)] == 0 and (1, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_image_dhash_matches_pure_python_reference(spark):
    """The mapInPandas dHash equals an independent per-image reference
    (explicit loops, no numpy vectorization) on random images of varied
    sizes — locks the resample convention and the bit packing."""
    import numpy as np

    from sql_data_warehouse_samples_spark.operators.multimodal import (
        encode_ppm,
        image_dhash,
    )

    def ref_dhash(a):
        h, w = a.shape[:2]
        g = [[sum(int(x) for x in a[r, c]) // 3 for c in range(w)] for r in range(h)]
        sig = 0
        for r in range(8):
            for c in range(8):
                yr = r * h // 8
                xa, xb = c * w // 9, (c + 1) * w // 9
                if g[yr][xa] > g[yr][xb]:
                    sig |= 1 << (r * 8 + c)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    rng = np.random.default_rng(11)
    imgs = {
        i: rng.integers(0, 256, size=(hh, ww, 3), dtype=np.uint8)
        for i, (hh, ww) in enumerate([(8, 9), (16, 20), (31, 7), (5, 40)])
    }
    media = spark.createDataFrame(
        [(i, encode_ppm(a)) for i, a in imgs.items()],
        "media_id: long, payload: binary",
    )
    got = {r["media_id"]: r["dhash"] for r in image_dhash(media).collect()}
    for i, a in imgs.items():
        assert got[i] == ref_dhash(a), i


def test_c4_line_clean_rules(spark):
    """Each C4 gate verified on a hand-built page: short lines, missing
    terminal punctuation, blocklist phrases, the whole-page brace gate,
    and the min-kept-lines doc drop."""
    from sql_data_warehouse_samples_spark.operators.text import c4_line_clean

    good = "this line is perfectly fine."
    rows = [
        (1, "\n".join([good, "too short.", "no terminal punctuation here",
                       "Enable JavaScript to continue.",
                       "we use cookie banners here.", good])),
        (2, "some page with code { inside it. fine line though."),
        (3, "every single line here lacks punctuation\nso does this one"),
        (4, 'a quoted ending also counts as terminal."'),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in c4_line_clean(df, "text", "doc_id").collect()}
    assert set(got) == {1, 4}          # 2: brace gate, 3: zero kept lines
    assert got[1]["clean_text"] == good + "\n" + good
    assert (got[1]["n_lines"], got[1]["n_kept"]) == (6, 2)
    assert got[4]["n_kept"] == 1


# ---------------------------------------------------------------------------
# round-6 self-review fixes
# ---------------------------------------------------------------------------


def test_content_ledger_replay_survives_compaction(spark, tmp_path):
    """The exact ledger's keyed-replay exclusion is a stored batch_key
    COLUMN, not a file path: a crash replay arriving AFTER compact()
    folded the batch-<key>/ subdirs into flat files still excludes the
    batch's own hashes (path-based exclusion would silently dedup the
    batch against itself and admit nothing)."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
    )

    led = ContentHashLedger(spark, str(tmp_path / "led"))
    batch = spark.createDataFrame(
        [(1, "alpha text one"), (2, "beta text two")],
        "doc_id: long, text: string",
    )
    s1 = {r.doc_id for r in led.ingest(batch, idempotency_key="b0").collect()}
    assert s1 == {1, 2}
    assert led.compact(1) == 2
    # crash replay after compaction: same survivors, not zero
    s2 = {r.doc_id for r in led.ingest(batch, idempotency_key="b0").collect()}
    assert s2 == {1, 2}
    # a DIFFERENT batch with the same content is still deduped
    other = spark.createDataFrame(
        [(10, "alpha text one"), (11, "fresh text")],
        "doc_id: long, text: string",
    )
    s3 = {r.doc_id for r in led.ingest(other, idempotency_key="b1").collect()}
    assert s3 == {11}


def test_minhash_ledger_compact_sidecar_atomic(spark, tmp_path):
    """compact() stages the params sidecar INSIDE the swapped-in directory
    — at no point after the swap does the ledger exist unpinned (a crash
    there would let a wrong-params reopen re-pin silently)."""
    import os

    from sql_data_warehouse_samples_spark.operators.ledger import (
        MinHashSignatureLedger,
    )

    led = MinHashSignatureLedger(spark, str(tmp_path / "led"), num_hashes=16,
                                 bands=4)
    batch = spark.createDataFrame(
        [(1, " ".join(f"tok{i}" for i in range(30)))],
        "doc_id: long, text: string",
    )
    led.ingest(batch)
    assert led.compact() == 1
    assert os.path.exists(os.path.join(str(tmp_path / "led"),
                                       "_LEDGER_PARAMS.json"))
    # wrong params still refuse to open post-compaction
    with pytest.raises(ValueError, match="not comparable"):
        MinHashSignatureLedger(spark, str(tmp_path / "led"), num_hashes=16,
                               bands=8)


def test_c4_line_clean_metachar_separator(spark):
    """A separator containing regex metacharacters splits LITERALLY (the
    split regex is \\Q-quoted) — it must reassemble what it split, not
    explode the page per-character."""
    from sql_data_warehouse_samples_spark.operators.text import c4_line_clean

    good = "This line is long enough to keep."
    bad = "short"
    df = spark.createDataFrame(
        [(1, f"{good}||{bad}||{good}")], "doc_id: long, text: string"
    )
    out = c4_line_clean(df, sep="||").collect()
    assert len(out) == 1
    assert out[0].clean_text == f"{good}||{good}"
    assert out[0].n_lines == 3 and out[0].n_kept == 2
    with pytest.raises(ValueError, match="regex-quote"):
        c4_line_clean(df, sep="a\\Eb")


def test_content_ledger_legacy_rows_replay_fallback(spark, tmp_path):
    """Ledger files written BEFORE the batch_key column existed read as
    batch_key=NULL; a keyed replay must still exclude its own legacy
    batch-<key>/ rows (path fallback) while keeping every OTHER legacy
    row on the corpus side (null-safe equality — a plain != would
    evaluate NULL and silently drop the whole legacy corpus side)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.operators.dedup import (
        normalized_text,
    )
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
    )

    path = str(tmp_path / "led")
    batch = spark.createDataFrame(
        [(1, "alpha text one"), (2, "beta text two")],
        "doc_id: long, text: string",
    )
    # simulate the pre-upgrade layout: ONE-column parquet, keyed subdir
    batch.select(
        F.md5(normalized_text("text")).alias("content_hash")
    ).write.parquet(f"{path}/batch-b0")
    # plus a legacy un-keyed flat append of different content
    spark.createDataFrame(
        [(9, "gamma text nine")], "doc_id: long, text: string"
    ).select(F.md5(normalized_text("text")).alias("content_hash")).write.mode(
        "append"
    ).parquet(path)

    led = ContentHashLedger(spark, path)
    # crash replay of b0: its own legacy rows are excluded -> full batch
    # survives (not zero); the legacy un-keyed row still dedups content
    s = {r.doc_id for r in led.ingest(batch, idempotency_key="b0").collect()}
    assert s == {1, 2}
    mixed = spark.createDataFrame(
        [(10, "gamma text nine"), (11, "fresh text")],
        "doc_id: long, text: string",
    )
    s2 = {r.doc_id for r in led.ingest(mixed, idempotency_key="b1").collect()}
    assert s2 == {11}
