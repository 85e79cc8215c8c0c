"""Round-9 hardening: regression tests for the r8 ADVICE findings and
the r9 verdict's scale-shape fixes.

Covers: the query-id silent-cast trap (bm25/_terms_frame + retrieval's
positives projection), NULL-text parity between Bm25Index and the
scan-time scorer, the Hadoop-FS stale-reject cleanup, and the
broadcast-semi embeddings prefilter in mine_hard_negatives_batch.
"""

import os

import pytest
from pyspark.sql import functions as F

from sql_data_warehouse_samples_spark.operators.dirswap import read_path
from tests.conftest import spark  # noqa: F401

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_batch_scorer_rejects_string_query_id(spark):
    """ADVICE r8 (medium): a string query_id used to cast to long
    silently — non-numeric ids became NULL and every query collapsed
    into one NULL group.  Now it raises at plan time."""
    from sql_data_warehouse_samples_spark.operators.bm25 import (
        bm25_topk_batch,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    queries = spark.createDataFrame(
        [("qa", "spark hash join")], "query_id: string, query: string"
    )
    with pytest.raises(TypeError, match="integral"):
        bm25_topk_batch(d, queries, k=5)


def test_miner_rejects_string_positive_query_id(spark):
    """Same trap on the positives side of the hard-negative miner."""
    from sql_data_warehouse_samples_spark.operators.retrieval import (
        mine_hard_negatives_batch,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    queries = spark.createDataFrame(
        [(0, "spark hash join")], "query_id: long, query: string"
    )
    positives = spark.createDataFrame(
        [("qa", 3)], "query_id: string, doc_id: long"
    )
    with pytest.raises(TypeError, match="integral"):
        mine_hard_negatives_batch(d, queries, positives, k=5)


def test_bm25_index_null_text_parity_with_scan_scorer(spark, tmp_path):
    """ADVICE r8: doclens derived from postings DROPPED NULL-text docs
    (explode eats them), so the index's (n_docs, avgdl) diverged from the
    scan-time scorer's on corpora with NULL text.  The postings sentinel
    row (term '', dl NULL) restores exact parity: NULL-text docs count in
    n_docs, stay out of avgdl, and never match a query term — identical
    to the scan path's semantics."""
    from sql_data_warehouse_samples_spark.operators.bm25 import (
        Bm25Index,
        bm25_topk_batch,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    with_null = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    assert with_null.filter(F.col("text").isNull()).count() > 0
    idx = Bm25Index.build(with_null, str(tmp_path / "idx"), n_buckets=8)
    queries = spark.createDataFrame(
        [(0, "spark hash join window"), (1, "vector scan filter merge")],
        "query_id: long, query: string",
    )
    got = sorted(tuple(r) for r in idx.topk_batch(queries, k=5).collect())
    want = sorted(
        tuple(r) for r in bm25_topk_batch(with_null, queries, k=5).collect()
    )
    assert got == want and got
    # the corpus constants match the scan path's exactly: NULL-text docs
    # count in n_docs, their NULL dl stays out of avgdl
    scan = with_null.select(
        F.size(F.split(F.trim("text"), r"\s+")).alias("dl")
    ).agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("a")).collect()[0]
    assert idx.n_docs == scan.n
    assert idx.avgdl == pytest.approx(float(scan.a))
    # ingest of a NULL-text batch keeps parity too (same sentinel path)
    extra = spark.createDataFrame(
        [(90001, None), (90002, "spark spark hash")],
        "doc_id: long, text: string",
    )
    idx.ingest(extra, idempotency_key="nulls-1")
    full = with_null.unionByName(extra)
    got2 = sorted(tuple(r) for r in idx.topk_batch(queries, k=5).collect())
    want2 = sorted(
        tuple(r) for r in bm25_topk_batch(full, queries, k=5).collect()
    )
    assert got2 == want2
    assert idx.n_docs == full.count()


def test_miner_embeddings_fetch_is_broadcast_semi_prefiltered(spark):
    """VERDICT r8 'What's missing #4': the candidate-embedding fetch used
    a plain LEFT join against the raw embeddings table — broadcastable at
    test scale only by luck (a LEFT join can only broadcast its RIGHT
    side; at 100 TB it degrades to a sort-merge join shuffling the full
    table).  Now the embeddings are prefiltered by a broadcast
    candidate-id SEMI-join, so the left join's right side is
    |candidates|-bounded at any scale."""
    from sql_data_warehouse_samples_spark.operators.retrieval import (
        mine_hard_negatives_batch,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = spark.createDataFrame(
        [(0, "spark hash join window"), (1, "quality filter dedup")],
        "query_id: long, query: string",
    )
    positives = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 2)], "query_id: long, doc_id: long"
    )
    # the probe building block itself: a broadcast SEMI join of the raw
    # embeddings against the bounded id set.  (Since r12 the miner
    # materializes the probe via localCheckpoint — ONE embeddings scan
    # serving both guard sides — so the semi subplan no longer appears in
    # the final query plan and is locked here at the unit level instead.)
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.operators.retrieval import (
        _embedding_probe,
    )

    probe = _embedding_probe(
        e.select(
            F.col("vec_id").alias("__eid"), F.col("embedding").alias("__evec")
        ),
        spark.createDataFrame([(0,), (1,), (2,)], "__eid: long"),
    )
    pplan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in pplan
    semi = [
        ln
        for ln in pplan.splitlines()
        if "BroadcastHashJoin" in ln and "LeftSemi" in ln
    ]
    assert semi, "embeddings fetch lost its broadcast semi prefilter"

    df = mine_hard_negatives_batch(
        d, queries, positives, embeddings=e, k=5, k_raw=10, sim_ceiling=0.6
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    # the raw embeddings table is consumed INSIDE the materialized probe:
    # the final plan must not rescan it (bounded fetch at any scale)
    assert "embeddings.parquet" not in plan
    # and the fetch itself broadcasts the (now bounded) embeddings side
    outer = [
        ln
        for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "LeftOuter" in ln
    ]
    assert outer, "candidate-embedding fetch is not a broadcast left join"
    # values unchanged by the prefilter (the r8 oracle still gates s13;
    # this is the cheap end-to-end smoke on the same inputs)
    assert df.count() > 0


def _vec(seed: int, dim: int = 4) -> list:
    """Deterministic unit-ish vector for a doc id (no RNG in tests)."""
    return [float((seed * (j + 3)) % 17) + 0.25 * j for j in range(dim)]


def test_ivf_index_keyed_add_replay_idempotent(spark, tmp_path):
    """VERDICT r8 task 1: IvfIndex.add gains the Bm25Index.ingest
    contract — a keyed add lands in (centroid, __bk=k-<key>)
    subpartitions via dynamic overwrite, so a crash-replay converges
    instead of double-counting; key reuse for a different batch is
    refused; a partially-written keyed batch is COMPLETED by the replay."""
    import glob

    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)], "vec_id: long, embedding: array<double>"
    )
    batch = spark.createDataFrame(
        [(i, _vec(i)) for i in range(100, 110)],
        "vec_id: long, embedding: array<double>",
    )
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(base, path, nlist=2)

    idx.add(batch, idempotency_key="b-1")
    lists = lambda: sorted(  # noqa: E731
        r.neighbor_id
        for r in spark.read.parquet(read_path(f"{path}/lists")).select("neighbor_id").collect()
    )
    want = sorted(list(range(8)) + list(range(100, 110)))
    assert lists() == want

    # replay of the same key converges — no double counting
    idx.add(batch, idempotency_key="b-1")
    assert lists() == want

    # key reuse for DIFFERENT content is refused (stored ⊄ new batch)
    with pytest.raises(ValueError, match="different batch"):
        idx.add(base.limit(3), idempotency_key="b-1")

    # crash simulation: one (centroid, key) subpartition lost mid-write —
    # the replay completes it (stored remainder ⊆ batch is legal)
    import shutil

    victim = glob.glob(f"{read_path(path + '/lists')}/centroid_id=*/__bk=k-b-1")[0]
    shutil.rmtree(victim)
    assert len(lists()) < len(want)
    idx.add(batch, idempotency_key="b-1")
    assert lists() == want

    # un-keyed adds still append under fresh u<N> names
    extra = spark.createDataFrame(
        [(200, _vec(200))], "vec_id: long, embedding: array<double>"
    )
    idx.add(extra)
    idx.add(extra)  # caller-owned at-most-once: double add double-counts
    got = lists()
    assert got.count(200) == 2 and sorted(set(got)) == sorted(want + [200])


def test_ivf_index_forget_compact_guarantees_after_keyed_add(spark, tmp_path):
    """The r7 forget/compact guarantees, re-asserted on the r9 layout:
    forget rewrites ONLY the touched (centroid, batch) partitions — an
    untouched BATCH inside a touched centroid stays byte-identical (finer
    than the r7 per-centroid claim) — and compact preserves the __bk
    subpartitions so keyed replays stay sound after it."""
    import glob
    import os

    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)], "vec_id: long, embedding: array<double>"
    )
    batch = spark.createDataFrame(
        [(i, _vec(i)) for i in range(100, 110)],
        "vec_id: long, embedding: array<double>",
    )
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(base, path, nlist=2)
    idx.add(batch, idempotency_key="b-1")

    # pick a centroid that holds BOTH a base and a keyed partition
    both = [
        d
        for d in glob.glob(f"{read_path(path + '/lists')}/centroid_id=*")
        if os.path.isdir(f"{d}/__bk=base") and os.path.isdir(f"{d}/__bk=k-b-1")
    ]
    assert both, "test setup: need a centroid with both batches"
    cdir = both[0]

    def snap(sub):
        return {
            p: (os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(f"{cdir}/{sub}/*.parquet")
        }

    base_before = snap("__bk=base")
    assert base_before
    # forget a doc from the KEYED batch that lives in this centroid
    keyed_ids = [
        r.neighbor_id
        for r in spark.read.parquet(read_path(f"{path}/lists"))
        .filter("__bk = 'k-b-1'")
        .collect()
        if f"centroid_id={r.centroid_id}" in cdir
    ]
    purge = spark.createDataFrame([(keyed_ids[0],)], "vec_id: long")
    assert idx.forget(spark, purge) == 1
    # the same centroid's BASE partition was not rewritten
    assert snap("__bk=base") == base_before
    remaining = {
        r.neighbor_id
        for r in spark.read.parquet(read_path(f"{path}/lists")).collect()
    }
    assert keyed_ids[0] not in remaining

    # compact preserves the __bk level (folding it would let a later
    # keyed replay double-count) and results are unchanged
    before_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(read_path(f"{path}/lists"))
        .select("neighbor_id", "centroid_id", "__bk")
        .collect()
    )
    idx.compact(spark)
    after_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(read_path(f"{path}/lists"))
        .select("neighbor_id", "centroid_id", "__bk")
        .collect()
    )
    assert after_rows == before_rows
    assert glob.glob(f"{read_path(path + '/lists')}/centroid_id=*/__bk=k-b-1")
    # and the keyed-replay guard still sees its rows after compact: a
    # replay of the ORIGINAL batch is refused only for CHANGED content
    with pytest.raises(ValueError, match="different batch"):
        idx.add(base.limit(2), idempotency_key="b-1")


def test_admission_sink_keeps_ivf_index_in_lockstep(spark, tmp_path):
    """The r9 flagship composition: admission_sink keeps BOTH serving
    indexes (BM25 + IVF) in exactly-once lockstep with the corpus.  Only
    admitted docs become searchable in the vector index; replays converge
    (no double-counted vectors)."""
    import os

    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )
    from sql_data_warehouse_samples_spark.streaming import ingest as SI
    from tests.test_round8_hardening import _text
    from tests.test_streaming import _write_doc_batches

    import datetime

    def row(doc_id, text):
        return (
            doc_id,
            text,
            "en",
            "web",
            len(text),
            datetime.datetime(2024, 1, 1, 0, 0, int(doc_id) % 60),
            _vec(doc_id),
        )

    ext_schema = SI.DOC_SCHEMA + ", embedding array<double>"
    bench_gram = "alpha beta gamma delta epsilon zeta eta theta"
    bench = spark.createDataFrame(
        [(100, f"eval question {bench_gram} answer choices")],
        "doc_id: long, text: string",
    )
    base = _text("tok")
    near = base.rsplit(" ", 1)[0] + " tokX"
    poisoned = f"prefix text {bench_gram} suffix text here"
    other = _text("alpha")
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_doc_batches(
        spark,
        src,
        [
            [row(21, base), row(23, poisoned)],
            [row(30, near), row(32, other)],
        ],
        ext_schema,
    )
    pipe = AdmissionPipeline(spark, str(tmp_path / "ledgers"))
    # seed ids 0/1: seed_centroids picks the nlist lowest-id vectors
    seed = spark.createDataFrame(
        [(0, _vec(90)), (1, _vec(91))],
        "vec_id: long, embedding: array<double>",
    )
    ivf = IvfIndex.build(seed, str(tmp_path / "ivf"), nlist=2)
    bm25 = Bm25Index.build(
        spark.createDataFrame([], "doc_id: long, text: string"),
        str(tmp_path / "bm25"),
        n_buckets=8,
    )

    def run():
        q = SI.admission_sink(
            spark.readStream.schema(ext_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            pipe,
            str(tmp_path / "corpus"),
            checkpoint=str(tmp_path / "ckpt"),
            benchmark=bench,
            bm25_index=bm25,
            ivf_index=ivf,
            bloom_path=str(tmp_path / "bloom"),
        )
        q.awaitTermination()

    run()

    def indexed():
        return sorted(
            r.neighbor_id
            for r in spark.read.parquet(read_path(str(tmp_path / "ivf/lists")))
            .select("neighbor_id")
            .collect()
        )

    # admitted: 21 (batch 0) and 32 (batch 1); 23 contaminated, 30 near-dup
    assert indexed() == [0, 1, 21, 32]
    assert bm25.n_docs == 2
    # a replayed stream converges — neither index double-counts
    run()
    assert indexed() == [0, 1, 21, 32]
    assert bm25.n_docs == 2
    # the vector index actually serves the admitted docs
    q = spark.createDataFrame(
        [(777, _vec(32))], "vec_id: long, embedding: array<double>"
    )
    got = ivf.search(q, k=1, nprobe=2).collect()
    assert got and got[0].neighbor_id == 32


def test_persisted_consts_keep_large_vocab_path_single_scan(spark, tmp_path):
    """VERDICT r8 task 4: past max_literal_terms the scan-time batch
    scorer needs (n_docs, avgdl) from somewhere — without a snapshot it
    pays a SECOND corpus scan.  refresh_bm25_consts persists the
    maintenance-cadence snapshot; with it the large-vocab path plans
    exactly ONE documents scan, and results equal the small-vocab path."""
    from sql_data_warehouse_samples_spark.operators.bm25 import (
        bm25_corpus_consts,
        bm25_topk_batch,
        refresh_bm25_consts,
    )

    from sql_data_warehouse_samples_spark.maintenance import (
        refresh_search_constants,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    cpath = str(tmp_path / "consts")
    # the maintenance-module surface is a thin delegate — same snapshot
    n, a = refresh_search_constants(d, cpath)
    assert refresh_bm25_consts(d, cpath) == (n, a)
    assert n == d.count() and a > 0
    assert bm25_corpus_consts(cpath) == (n, a)

    queries = spark.createDataFrame(
        [(0, "spark hash join window"), (1, "vector scan filter merge")],
        "query_id: long, query: string",
    )
    # force the broadcast-semi (large-vocab) corpus branch
    with_snap = bm25_topk_batch(
        d, queries, k=5, max_literal_terms=2, consts=bm25_corpus_consts(cpath)
    )
    # the corpus was consumed by the checkpointed hits aggregate at call
    # time; with snapshot consts the DOWNSTREAM plan contains no corpus
    # scan at all — one scan total for the whole batch
    plan = with_snap._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan and "Scan parquet" not in plan
    without_snap = bm25_topk_batch(d, queries, k=5, max_literal_terms=2)
    plan2 = without_snap._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Scan parquet") == 1  # the scan the snapshot saves

    want = sorted(
        tuple(r) for r in bm25_topk_batch(d, queries, k=5).collect()
    )
    assert sorted(tuple(r) for r in with_snap.collect()) == want
    # a torn refresh never replaces the snapshot (tmp + atomic rename)
    import os

    assert not os.path.exists(
        os.path.join(cpath, "_BM25_CONSTS.json.tmp")
    )


def test_bloom_artifact_roundtrip_and_staleness(spark, tmp_path, monkeypatch):
    """r8 verdict stretch 8: the decontamination Bloom persists (bits +
    grams + benchmark-snapshot signature); ensure_bloom reloads on
    restart instead of rebuilding, serves value-identical verdicts
    (including the exact verify semi-join, which reads the STORED grams),
    and a CHANGED benchmark triggers a rebuild, never a stale serve."""
    from sql_data_warehouse_samples_spark.operators import dedup as D

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta tail")],
        "doc_id: long, text: string",
    )
    train = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta epsilon zeta eta theta y"),
            (2, "clean text with no overlapping grams at all here ok"),
        ],
        "doc_id: long, text: string",
    )
    builds = []
    orig_init = D.BloomGramFilter.__init__

    def counting_init(self, *a, **kw):
        builds.append(1)
        return orig_init(self, *a, **kw)

    monkeypatch.setattr(D.BloomGramFilter, "__init__", counting_init)

    path = str(tmp_path / "bloom")
    b1 = D.ensure_bloom(spark, path, bench)
    assert len(builds) == 1
    want = sorted(r.doc_id for r in b1.contaminated_ids(train).collect())
    assert want == [1]

    # restart: loads, does NOT rebuild; verdicts identical (verify joins
    # against the persisted grams)
    b2 = D.ensure_bloom(spark, path, bench)
    assert len(builds) == 1
    assert (b2.sig, b2.n_grams, b2.m, b2.k) == (b1.sig, b1.n_grams, b1.m, b1.k)
    assert sorted(
        r.doc_id for r in b2.contaminated_ids(train).collect()
    ) == want

    # changed benchmark: signature mismatch -> rebuild, new verdicts
    bench2 = spark.createDataFrame(
        [(101, "clean text with no overlapping grams at all here ok")],
        "doc_id: long, text: string",
    )
    b3 = D.ensure_bloom(spark, path, bench2)
    assert len(builds) == 2
    assert sorted(
        r.doc_id for r in b3.contaminated_ids(train).collect()
    ) == [2]
    # and the artifact now holds the NEW snapshot (a further restart loads)
    b4 = D.ensure_bloom(spark, path, bench2)
    assert len(builds) == 2 and b4.sig == b3.sig


def test_unkeyed_ingest_into_keyed_index_warns(spark, tmp_path, caplog):
    """r8 verdict stretch 9: an un-keyed ingest into an index that holds
    keyed (__bk=k-*) batches is the double-count-on-replay foot-gun —
    both serving indexes now warn loudly (and stay silent on indexes
    never touched by a keyed pipeline)."""
    import logging

    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    d = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id: long, text: string"
    )
    idx = Bm25Index.build(d, str(tmp_path / "bm25"), n_buckets=4)
    extra = spark.createDataFrame(
        [(3, "epsilon zeta")], "doc_id: long, text: string"
    )
    with caplog.at_level(logging.WARNING):
        idx.ingest(extra)  # no keyed batches yet: silent
    assert "double-count" not in caplog.text
    idx.ingest(
        spark.createDataFrame([(4, "eta theta")], "doc_id: long, text: string"),
        idempotency_key="run-1",
    )
    with caplog.at_level(logging.WARNING):
        idx.ingest(
            spark.createDataFrame(
                [(5, "iota kappa")], "doc_id: long, text: string"
            )
        )
    assert "double-count" in caplog.text

    caplog.clear()
    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(4)], "vec_id: long, embedding: array<double>"
    )
    ivf = IvfIndex.build(base, str(tmp_path / "ivf"), nlist=2)
    batch = spark.createDataFrame(
        [(50, _vec(50))], "vec_id: long, embedding: array<double>"
    )
    with caplog.at_level(logging.WARNING):
        ivf.add(batch)  # no keyed batches: silent
    assert "double-count" not in caplog.text
    ivf.add(
        spark.createDataFrame(
            [(51, _vec(51))], "vec_id: long, embedding: array<double>"
        ),
        idempotency_key="run-1",
    )
    with caplog.at_level(logging.WARNING):
        ivf.add(
            spark.createDataFrame(
                [(52, _vec(52))], "vec_id: long, embedding: array<double>"
            )
        )
    assert "double-count" in caplog.text


def test_forget_tombstones_block_keyed_replay_resurrection(spark, tmp_path):
    """Review fix (r9): forget() then a crash-replay of the purged batch's
    key must NOT resurrect the forgotten rows — the stored-subset guard
    alone would read the purge as a crashed partial write and re-ingest.
    forget() now tombstones (id, batch) pairs; a keyed replay filters its
    batch against its own key's tombstones.  A re-admission of the same
    id under a NEW key stays legal (a fresh admission decision)."""
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    # --- lexical index -------------------------------------------------
    d1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id: long, text: string"
    )
    batch = spark.createDataFrame(
        [(10, "epsilon zeta"), (11, "eta theta")], "doc_id: long, text: string"
    )
    idx = Bm25Index.build(d1, str(tmp_path / "bm25"), n_buckets=4)
    idx.ingest(batch, idempotency_key="k1")
    assert idx.topk("epsilon", k=5).count() == 1
    idx.forget(spark.createDataFrame([(10,)], "doc_id: long"))
    assert idx.topk("epsilon", k=5).count() == 0
    # crash-replay of the SAME key: the tombstone blocks resurrection
    idx.ingest(batch, idempotency_key="k1")
    assert idx.topk("epsilon", k=5).count() == 0
    assert idx.topk("eta", k=5).count() == 1  # un-purged batch row intact
    assert idx.n_docs == 3
    # re-admission under a NEW key is a fresh decision — legal
    idx.ingest(
        spark.createDataFrame([(10, "epsilon zeta")], "doc_id: long, text: string"),
        idempotency_key="k2",
    )
    assert idx.topk("epsilon", k=5).count() == 1
    assert idx.n_docs == 4
    # repeated / overlapping forgets keep the tombstone table DEDUPED in
    # one file (merge + staged swap, not append-per-forget)
    import glob

    idx.forget(spark.createDataFrame([(11,), (99,)], "doc_id: long"))
    idx.forget(spark.createDataFrame([(11,)], "doc_id: long"))
    ts_files = glob.glob(read_path(str(tmp_path / "bm25/tombstones")) + "/*.parquet")
    assert len(ts_files) == 1
    ts = spark.read.parquet(read_path(str(tmp_path / "bm25/tombstones")))
    assert ts.count() == ts.distinct().count() == 2  # (10,k1) + (11,k1)

    # --- vector index ----------------------------------------------------
    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(4)], "vec_id: long, embedding: array<double>"
    )
    vbatch = spark.createDataFrame(
        [(50, _vec(50)), (51, _vec(51))], "vec_id: long, embedding: array<double>"
    )
    ivf = IvfIndex.build(base, str(tmp_path / "ivf"), nlist=2)
    ivf.add(vbatch, idempotency_key="k1")
    ivf.forget(spark, spark.createDataFrame([(50,)], "vec_id: long"))
    ivf.add(vbatch, idempotency_key="k1")  # crash-replay
    ids = sorted(
        r.neighbor_id
        for r in spark.read.parquet(read_path(str(tmp_path / "ivf/lists")))
        .select("neighbor_id")
        .collect()
    )
    assert 50 not in ids and 51 in ids and ids == [0, 1, 2, 3, 51]
    # new key re-admission is legal
    ivf.add(
        spark.createDataFrame([(50, _vec(50))], "vec_id: long, embedding: array<double>"),
        idempotency_key="k2",
    )
    ids2 = sorted(
        r.neighbor_id
        for r in spark.read.parquet(read_path(str(tmp_path / "ivf/lists")))
        .select("neighbor_id")
        .collect()
    )
    assert ids2 == [0, 1, 2, 3, 50, 51]


def test_ivf_add_refuses_pre_r9_layout(spark, tmp_path):
    """Review fix (r9): an un-keyed add() on a pre-__bk index layout used
    to append at the new depth, mixing leaf depths and bricking partition
    discovery for every later read.  It now fails loudly."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        _spread,
        assign_centroids,
        seed_centroids,
    )

    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(4)], "vec_id: long, embedding: array<double>"
    )
    path = str(tmp_path / "old")
    cents = seed_centroids(base, "vec_id", "embedding", 2)
    # hand-write the OLD layout: lists partitioned by centroid_id only
    assign_centroids(
        _spread(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("__cvec"),
            )
        ),
        "__cvec",
        cents,
        6,
    ).write.partitionBy("centroid_id").mode("overwrite").parquet(f"{path}/lists")
    spark.createDataFrame(
        cents, "centroid_id long, __cent array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    idx = IvfIndex.load(spark, path)
    batch = spark.createDataFrame(
        [(50, _vec(50))], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="pre-batch-subpartition"):
        idx.add(batch)
    with pytest.raises(ValueError, match="pre-batch-subpartition"):
        idx.add(batch, idempotency_key="k1")
    # the refusal left the old index readable
    assert spark.read.parquet(read_path(f"{path}/lists")).count() == 4


def test_ensure_bloom_rebuilds_on_bits_per_gram_change(spark, tmp_path):
    """Review fix (r9): a retuned bits_per_gram must rebuild the persisted
    Bloom, never silently serve the old FP rate."""
    from sql_data_warehouse_samples_spark.operators import dedup as D

    text = " ".join(f"w{i}" for i in range(40))  # enough grams to clear
    bench = spark.createDataFrame(                # the m=64 bit floor
        [(1, text)], "doc_id: long, text: string"
    )
    path = str(tmp_path / "bloom")
    b16 = D.ensure_bloom(spark, path, bench, bits_per_gram=16)
    b32 = D.ensure_bloom(spark, path, bench, bits_per_gram=32)
    assert b32.m > b16.m and b32.bits_per_gram == 32
    # and the artifact now stores the retuned filter
    b_again = D.ensure_bloom(spark, path, bench, bits_per_gram=32)
    assert (b_again.m, b_again.bits_per_gram) == (b32.m, 32)


def test_ivfpq_keyed_add_replay_and_tombstones(spark, tmp_path):
    """The keyed-add contract extended to the PQ lists (round-10
    candidate pulled forward): replay converges, key reuse for different
    content is refused on the full (id, codes, centroid) grain, forget's
    tombstones block resurrection, and compact preserves __bk."""
    import glob

    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfPqIndex,
    )

    base = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(8)],
        "vec_id: long, embedding: array<double>",
    )
    batch = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(100, 106)],
        "vec_id: long, embedding: array<double>",
    )
    path = str(tmp_path / "pq")
    idx = IvfPqIndex.build(base, path, nlist=2, m=4, k_pq=4)

    ids = lambda: sorted(  # noqa: E731
        r.neighbor_id
        for r in spark.read.parquet(read_path(f"{path}/lists")).select("neighbor_id").collect()
    )
    idx.add(batch, idempotency_key="k1")
    want = sorted(list(range(8)) + list(range(100, 106)))
    assert ids() == want
    idx.add(batch, idempotency_key="k1")  # replay converges
    assert ids() == want
    with pytest.raises(ValueError, match="different batch"):
        idx.add(base.limit(2), idempotency_key="k1")

    # forget a keyed entry; replay cannot resurrect it
    idx.forget(spark, spark.createDataFrame([(100,)], "vec_id: long"))
    idx.add(batch, idempotency_key="k1")
    got = ids()
    assert 100 not in got and got == sorted(set(want) - {100})

    # compact preserves the __bk level; search still works
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(read_path(f"{path}/lists"))
        .select("neighbor_id", "centroid_id", "__bk")
        .collect()
    )
    idx.compact(spark)
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(read_path(f"{path}/lists"))
        .select("neighbor_id", "centroid_id", "__bk")
        .collect()
    )
    assert after == before
    assert glob.glob(f"{read_path(path + '/lists')}/centroid_id=*/__bk=k-k1")
    q = spark.createDataFrame(
        [(777, _vec(101, 8))], "vec_id: long, embedding: array<double>"
    )
    res = idx.search(q, k=3, nprobe=2).collect()
    assert res and all(r.neighbor_id != 100 for r in res)


def test_encode_token_ids_roundtrip_and_oov(spark):
    """Token-id export (operators/bpe.encode_token_ids): ids decode back
    to the parity-locked apply_bpe segmentation, the vocab order is
    deterministic (specials, sorted alphabet, merge outputs in learned
    order), and symbols outside a FROZEN vocab map to <unk> — the
    serving-time norm for new documents."""
    from sql_data_warehouse_samples_spark.operators import bpe as B

    d = spark.createDataFrame(
        [(1, "the late tree"), (2, "be bet the")],
        "doc_id: long, text: string",
    )
    merges = [("e", "</w>"), ("t", "h")]
    base = B.corpus_base_symbols(d)
    assert base == sorted(set("thelatreb") | {"</w>"})
    vocab = B.bpe_vocab(merges, base)
    assert vocab[0] == "<unk>" and vocab[1 : 1 + len(base)] == base
    assert vocab[-2:] == ["e</w>", "th"]

    enc = {
        r.doc_id: list(r.token_ids)
        for r in B.encode_token_ids(d, merges, vocab).collect()
    }
    seg = {
        r.doc_id: list(r.bpe_syms)
        for r in B.apply_bpe(d, merges, out_col="bpe_syms").collect()
    }
    inv = {i: s for i, s in enumerate(vocab)}
    for k in enc:
        assert [inv[i] for i in enc[k]] == seg[k]  # exact round-trip
    # 'the' -> th + e</w>; both merge outputs exercised
    assert enc[1][:2] == [len(vocab) - 1, len(vocab) - 2]

    # frozen vocab + unseen characters: OOV maps to <unk>, never raises
    new = spark.createDataFrame([(9, "the zoo")], "doc_id: long, text: string")
    ids9 = list(B.encode_token_ids(new, merges, vocab).collect()[0].token_ids)
    assert ids9[:2] == enc[1][:2]  # 'the' encodes identically
    # 'z','o','o' are outside the training alphabet: exactly 3 unk ids
    assert ids9.count(vocab.index("<unk>")) == 3

    with pytest.raises(ValueError, match="unk_token"):
        B.encode_token_ids(new, merges, [s for s in vocab if s != "<unk>"])


def test_torn_first_tombstone_write_self_heals(spark, tmp_path):
    """Second review pass (r9): a crash during the FIRST-ever tombstone
    write leaves a data-less directory; the old isdir branch then tried
    to READ it and bricked forget() and every keyed replay forever.  A
    data-less dir must read as 'no table' (sound: forget tombstones
    BEFORE it purges, so nothing was purged yet) and the next write must
    heal it."""
    import os

    from sql_data_warehouse_samples_spark.operators.bm25 import (
        _merge_tombstones,
        _tombstoned_ids,
    )

    ts = tmp_path / "tombstones"
    os.makedirs(ts / "_temporary" / "0")  # torn first write: no data files

    assert _tombstoned_ids(spark, str(ts), "k-x", "doc_id") is None

    pairs = spark.createDataFrame(
        [(1, "k-x"), (2, "k-y")], "doc_id: long, __bk: string"
    )
    _merge_tombstones(str(ts), pairs)  # heals: overwrite, not read
    dead = _tombstoned_ids(spark, str(ts), "k-x", "doc_id")
    assert dead is not None and [r.doc_id for r in dead.collect()] == [1]
    # and the merge path still works on the healed table
    _merge_tombstones(
        str(ts),
        spark.createDataFrame([(3, "k-x")], "doc_id: long, __bk: string"),
    )
    got = sorted(
        r.doc_id
        for r in _tombstoned_ids(spark, str(ts), "k-x", "doc_id").collect()
    )
    assert got == [1, 3]


def test_compact_refuses_pre_r9_layout(spark, tmp_path):
    """Second review pass (r9): compact() on a pre-__bk layout used to
    die with an opaque missing-partition-column error; it now raises the
    same rebuild guidance as add()."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        _spread,
        assign_centroids,
        seed_centroids,
    )

    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(4)], "vec_id: long, embedding: array<double>"
    )
    path = str(tmp_path / "old")
    cents = seed_centroids(base, "vec_id", "embedding", 2)
    assign_centroids(
        _spread(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("__cvec"),
            )
        ),
        "__cvec",
        cents,
        6,
    ).write.partitionBy("centroid_id").mode("overwrite").parquet(f"{path}/lists")
    spark.createDataFrame(
        cents, "centroid_id long, __cent array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    idx = IvfIndex.load(spark, path)
    with pytest.raises(ValueError, match="pre-batch-subpartition"):
        idx.compact(spark)
