"""Round-7 hardening: signature-ledger batch_key replay exclusion, the
ledger key-reuse guard, run-scoped streaming keys, and hot-cache release.
"""

from __future__ import annotations

import json
import os

import pytest

from sql_data_warehouse_samples_spark.operators.dirswap import read_path


def _text(prefix: str, n: int = 60) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_sig_ledger_doc_id_collision_does_not_admit_neardup(spark, tmp_path):
    """Pre-fix, a keyed ingest excluded the ledger side by DOC ID — any
    stored row whose id collided with a batch id silently left the corpus
    side, so a re-used doc id admitted a near-duplicate.  Exclusion now
    matches the stored batch_key, so the collision is detected."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        MinHashSignatureLedger,
    )

    led = MinHashSignatureLedger(spark, str(tmp_path / "led"))
    base = _text("tok")
    b0 = spark.createDataFrame([(1, base)], "doc_id: long, text: string")
    s0 = led.ingest(b0, idempotency_key="a")
    assert {r.doc_id for r in s0.collect()} == {1}

    # a DIFFERENT batch re-uses doc_id 1 with a near-identical text: it
    # must be dropped against the stored signature, not slip past it
    near = base.rsplit(" ", 1)[0] + " tokX"
    b1 = spark.createDataFrame([(1, near)], "doc_id: long, text: string")
    s1 = led.ingest(b1, idempotency_key="b")
    assert s1.count() == 0


def test_sig_ledger_key_reuse_for_different_batch_refused(spark, tmp_path):
    """Re-using an idempotency key for different content (micro-batch ids
    restarting at 0 after a checkpoint reset) would overwrite the old
    batch-<key>/ files, deleting unrelated ledger state — refuse loudly."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        MinHashSignatureLedger,
    )

    led = MinHashSignatureLedger(spark, str(tmp_path / "led"))
    b0 = spark.createDataFrame(
        [(1, _text("tok")), (2, _text("alpha"))], "doc_id: long, text: string"
    )
    led.ingest(b0, idempotency_key="k0")

    other = spark.createDataFrame(
        [(3, _text("beta")), (4, _text("gamma"))], "doc_id: long, text: string"
    )
    with pytest.raises(ValueError, match="different batch"):
        led.ingest(other, idempotency_key="k0")
    # the refused ingest must not have touched the ledger
    assert {r.doc_id for r in led.signatures().collect()} == {1, 2}

    # replaying the SAME batch under the same key stays legal + idempotent
    s = led.ingest(b0, idempotency_key="k0")
    assert {r.doc_id for r in s.collect()} == {1, 2}
    assert {r.doc_id for r in led.signatures().collect()} == {1, 2}


def test_sig_ledger_batch_key_survives_compact(spark, tmp_path):
    """compact() folds batch-<key>/ subdirs into flat files; the stored
    batch_key column must survive so keyed replay exclusion (and the
    reuse guard) keep working afterwards."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        MinHashSignatureLedger,
    )

    led = MinHashSignatureLedger(spark, str(tmp_path / "led"))
    b0 = spark.createDataFrame([(1, _text("tok"))], "doc_id: long, text: string")
    led.ingest(b0, idempotency_key="k0")
    led.compact(n_files=1)
    rows = led.signatures().collect()
    assert [r.batch_key for r in rows] == ["k0"]
    # replay after compaction: own-row exclusion still matches via the
    # data column (no batch-k0/ path left), so the doc re-admits
    s = led.ingest(b0, idempotency_key="k0")
    assert {r.doc_id for r in s.collect()} == {1}


def test_content_ledger_key_reuse_for_different_batch_refused(spark, tmp_path):
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
    )

    led = ContentHashLedger(spark, str(tmp_path / "led"))
    b0 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id: long, text: string"
    )
    led.ingest(b0, idempotency_key="k0")
    other = spark.createDataFrame(
        [(3, "epsilon zeta")], "doc_id: long, text: string"
    )
    with pytest.raises(ValueError, match="different batch"):
        led.ingest(other, idempotency_key="k0")
    # same-batch replay still fine
    s = led.ingest(b0, idempotency_key="k0")
    assert s.count() == 2


def test_run_scoped_key_uses_checkpoint_query_id(tmp_path):
    from sql_data_warehouse_samples_spark.streaming.ingest import (
        _run_scoped_key,
    )

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(
        json.dumps({"id": "a1b2c3d4-e5f6-7890-abcd-ef0123456789"})
    )
    key = _run_scoped_key(str(ckpt), 3)
    assert key == "a1b2c3d4e5f6-3"
    # a reset checkpoint (new query id) yields a different namespace
    (ckpt / "metadata").write_text(json.dumps({"id": "ffffffff-0000"}))
    assert _run_scoped_key(str(ckpt), 3) != key
    # unreadable metadata falls back to the raw batch id
    assert _run_scoped_key(str(tmp_path / "nope"), 7) == "7"


def test_dedup_hot_caches_released_between_ops(spark):
    """persist() frames inside the dedup hot path must not accumulate
    across repeated top-level calls in a long-lived session."""
    from sql_data_warehouse_samples_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, _text(f"w{i % 3}_")) for i in range(30)],
        "doc_id: long, text: string",
    )
    D.release_hot_caches()
    for _ in range(3):
        D.minhash_dedup_pairs(df, "text", "doc_id").count()
        # each entry releases the previous op's caches: the registry holds
        # at most ONE op's worth of frames (shingle table + banding cache)
        assert len(D._HOT_CACHES) <= 3
    D.release_hot_caches()
    assert not D._HOT_CACHES


def test_hard_negatives_false_negative_guard_fires(spark):
    """A candidate whose embedding is (near-)identical to a labeled
    positive must be dropped as a probable false negative; candidates
    without embeddings survive on the lexical signal alone."""
    from sql_data_warehouse_samples_spark.operators.retrieval import (
        mine_hard_negatives,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark hash join window functions"),   # positive
            (1, "spark hash join window operators"),   # dup of positive (emb)
            (2, "spark hash join window planner"),     # true hard negative
            (3, "spark hash join window executor"),    # no embedding row
            (4, "nothing relevant here at all"),
        ],
        "doc_id: long, text: string",
    )
    v = [1.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(0, v), (1, v), (2, [0.0, 1.0, 0.0])],
        "vec_id: long, embedding: array<double>",
    )
    positives = spark.createDataFrame([(0,)], "doc_id: long")
    out = mine_hard_negatives(
        docs,
        "spark hash join window",
        positives,
        embeddings=emb,
        k=10,
        k_raw=10,
        sim_ceiling=0.95,
    ).collect()
    ids = {r.doc_id for r in out}
    assert 0 not in ids  # the positive itself is anti-joined
    assert 1 not in ids  # cosine 1.0 to the positive -> false-negative drop
    assert {2, 3} <= ids  # real negative + no-embedding candidate survive
    by_id = {r.doc_id: r for r in out}
    assert by_id[2].max_pos_cosine == 0.0
    assert by_id[3].max_pos_cosine is None
    # lex_rank is the rank in the RAW list (before drops): doc 2 ranks
    # behind docs 0 and 1 lexically, so its raw rank is > its output order
    assert by_id[2].lex_rank >= 2


def test_hard_negatives_without_embeddings_is_pure_lexical(spark):
    from sql_data_warehouse_samples_spark.operators.retrieval import (
        mine_hard_negatives,
    )

    docs = spark.createDataFrame(
        [(i, "spark hash join window " + "pad " * i) for i in range(6)],
        "doc_id: long, text: string",
    )
    positives = spark.createDataFrame([(0,)], "doc_id: long")
    out = mine_hard_negatives(
        docs, "spark hash join window", positives, k=3
    ).collect()
    assert len(out) == 3
    assert all(r.doc_id != 0 for r in out)
    assert all(r.max_pos_cosine is None for r in out)


def test_admission_pipeline_forget_readmits_purged_content(spark, tmp_path):
    """Deletion propagation: after forget(), a re-ingest of the purged
    content is ADMITTED (no ghost hash/signature blocks it), near-dup
    checks stop matching the purged doc, and untouched ledger state
    survives the rewrite."""
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )

    pipe = AdmissionPipeline(spark, str(tmp_path / "pipe"))
    keep_text, purge_text = _text("keep"), _text("purge")
    batch = spark.createDataFrame(
        [(1, keep_text), (2, purge_text)], "doc_id: long, text: string"
    )
    assert pipe.admit(batch).count() == 2

    # sanity: re-ingesting doc 2's content (new id) is currently dropped
    again = spark.createDataFrame([(9, purge_text)], "doc_id: long, text: string")
    assert pipe.admit(again).count() == 0

    purged = spark.createDataFrame([(2, purge_text)], "doc_id: long, text: string")
    n_hash, n_sig = pipe.forget(purged)
    assert (n_hash, n_sig) == (1, 1)  # only doc 1's state remains

    # the purged content is admissible again; doc 1's is still blocked
    readmit = spark.createDataFrame(
        [(10, purge_text), (11, keep_text)], "doc_id: long, text: string"
    )
    got = {r.doc_id for r in pipe.admit(readmit).collect()}
    assert got == {10}


def test_sig_ledger_forget_all_rows_leaves_readable_empty_ledger(
    spark, tmp_path
):
    from sql_data_warehouse_samples_spark.operators.ledger import (
        MinHashSignatureLedger,
    )

    led = MinHashSignatureLedger(spark, str(tmp_path / "led"))
    b = spark.createDataFrame([(1, _text("tok"))], "doc_id: long, text: string")
    led.ingest(b)
    assert led.forget(b.select("doc_id")) == 0
    assert led.signatures().count() == 0
    # and the ledger still works after being emptied
    assert led.ingest(b).count() == 1


def test_ivf_index_forget_partition_pruned_purge(spark, tmp_path):
    """Deletion propagation into the served ANN index: purged ids vanish
    from search results, the purge rewrites ONLY the affected centroid
    partitions (untouched lists keep their files byte-identical), and a
    fully-emptied list's directory is dropped."""
    import glob
    import os

    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(e, path, nlist=8)

    lists = spark.read.parquet(read_path(f"{path}/lists")).select(
        "neighbor_id", "centroid_id"
    )
    by_cid: dict = {}
    for r in lists.collect():
        by_cid.setdefault(r.centroid_id, []).append(r.neighbor_id)
    # purge one whole list + one member of another; leave the rest alone
    cids = sorted(by_cid, key=lambda c: len(by_cid[c]))
    empty_cid = cids[0]
    partial_cid = next(c for c in cids if c != empty_cid and len(by_cid[c]) > 1)
    untouched_cid = next(
        c for c in cids if c not in (empty_cid, partial_cid)
    )
    purge_ids = list(by_cid[empty_cid]) + [min(by_cid[partial_cid])]

    def snapshot(cid):
        # recursive: the r9 layout nests __bk=<batch> under each centroid
        files = glob.glob(
            f"{read_path(path + '/lists')}/centroid_id={cid}/**/*.parquet", recursive=True
        )
        assert files, f"no list files under centroid_id={cid}"
        return {p: (os.path.getsize(p), os.path.getmtime(p)) for p in files}

    before = snapshot(untouched_cid)
    purge = spark.createDataFrame([(i,) for i in purge_ids], "vec_id: long")
    assert idx.forget(spark, purge) == len(purge_ids)

    assert snapshot(untouched_cid) == before  # byte-identical untouched list
    assert not os.path.isdir(f"{read_path(path + '/lists')}/centroid_id={empty_cid}")
    remaining = {
        r.neighbor_id
        for r in spark.read.parquet(read_path(f"{path}/lists")).select("neighbor_id").collect()
    }
    assert remaining.isdisjoint(set(purge_ids))
    # search no longer returns purged ids, at full probe
    got = idx.search(e.limit(5), k=5, nprobe=8)
    assert {r.neighbor_id for r in got.collect()}.isdisjoint(set(purge_ids))
    # idempotent: forgetting again finds nothing
    assert idx.forget(spark, purge) == 0


def test_ivfpq_index_forget(spark, tmp_path):
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfPqIndex,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    idx = IvfPqIndex.build(e, path, nlist=4, m=4, k_pq=16)
    queries = e.limit(3)
    purge_ids = [
        r.neighbor_id
        for r in idx.search(queries, k=2, nprobe=4).collect()
    ][:3]
    purge = spark.createDataFrame([(i,) for i in set(purge_ids)], "vec_id: long")
    n = idx.forget(spark, purge)
    assert n == len(set(purge_ids))
    got = idx.search(queries, k=2, nprobe=4)
    assert {r.neighbor_id for r in got.collect()}.isdisjoint(set(purge_ids))


def test_distribution_drift_invariants(spark):
    """Identical snapshots have zero drift; a shifted snapshot has
    strictly positive KL both ways and TVD in (0, 1]."""
    from sql_data_warehouse_samples_spark.operators.evalmetrics import (
        token_distribution_drift,
    )

    same = spark.createDataFrame(
        [(0, "a b c a"), (1, "a b c a")], "side: int, text: string"
    )
    r = token_distribution_drift(same, "side").collect()[0]
    assert (r.kl_ab, r.kl_ba, r.tvd) == (0.0, 0.0, 0.0)
    assert r.n_tokens_a == r.n_tokens_b == 4
    assert r.vocab_union == 3

    shifted = spark.createDataFrame(
        [(0, "a a a b"), (1, "b b b c")], "side: int, text: string"
    )
    r2 = token_distribution_drift(shifted, "side").collect()[0]
    assert r2.kl_ab > 0 and r2.kl_ba > 0
    assert 0 < r2.tvd <= 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly 2"):
        token_distribution_drift(
            spark.createDataFrame([(0, "x")], "side: int, text: string"),
            "side",
        )


def test_langid_trained_discriminates_real_languages(spark):
    """On actual multilingual text (the synthetic corpus is word soup, so
    its driver row only checks determinism) the trained profiles separate
    languages: self-classification is perfect and held-out sentences in
    each language classify correctly."""
    from sql_data_warehouse_samples_spark.operators.langid import (
        classify_language,
        train_char_ngram_profiles,
    )

    train = spark.createDataFrame(
        [
            (1, "en", "the cat sat on the mat and the dog ran to the park"),
            (2, "en", "she was there when the rain began to fall that night"),
            (3, "fr", "le chat est sur le tapis et le chien court au parc"),
            (4, "fr", "elle etait la quand la pluie a commence a tomber"),
            (5, "de", "die katze sass auf der matte und der hund lief zum park"),
            (6, "de", "sie war dort als der regen in der nacht zu fallen begann"),
        ],
        "doc_id: long, lang: string, text: string",
    )
    profiles = train_char_ngram_profiles(train, top_k=100)
    assert set(profiles) == {"en", "fr", "de"}

    heldout = spark.createDataFrame(
        [
            (10, "en", "the man and the woman went to the shop in the town"),
            (11, "fr", "le garcon et la fille vont au marche dans la ville"),
            (12, "de", "der mann und die frau gingen zum laden in der stadt"),
            (13, "xx", ""),  # no grams: NULL prediction, score 0
        ],
        "doc_id: long, lang: string, text: string",
    )
    out = classify_language(heldout, profiles)
    got = {r.doc_id: (r.pred_lang, r.lang_score) for r in out.collect()}
    assert got[10][0] == "en" and got[11][0] == "fr" and got[12][0] == "de"
    assert got[13] == (None, 0)
    # the corpus side is map-only: no join, no exchange added by scoring
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


def test_langid_impl_parity(spark):
    """The arrow and pure-JVM fold classifiers are value-identical."""
    from sql_data_warehouse_samples_spark.operators.langid import (
        classify_language,
        train_char_ngram_profiles,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "the cat and the hat sat on the mat"),
            (2, "fr", "le chat et le chapeau sur le tapis"),
            (3, "de", "die katze und der hut auf der matte"),
            (4, "xx", "zz"),  # shorter than n: no grams
        ],
        "doc_id: long, lang: string, text: string",
    )
    prof = train_char_ngram_profiles(docs, top_k=80)
    cols = ["doc_id", "pred_lang", "lang_score"]
    a = sorted(
        map(tuple, classify_language(docs, prof, impl="arrow").select(*cols).collect())
    )
    b = sorted(
        map(tuple, classify_language(docs, prof, impl="fold").select(*cols).collect())
    )
    assert a == b
