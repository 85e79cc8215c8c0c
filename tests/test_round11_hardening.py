"""Round-10 hardening: the r9 ADVICE regressions (PQ-retrain fanout on
multi-batch ids, unscoped-key prune fallback — the latter locked in
test_round10_hardening's key-shape test) plus this round's new surfaces.
"""

import os

import pytest
from pyspark.sql import functions as F

from sql_data_warehouse_samples_spark.operators.dirswap import read_path
from tests.conftest import spark  # noqa: F401


def _vec(seed: int, dim: int = 4) -> list:
    """Deterministic unit-ish vector for a doc id (no RNG in tests)."""
    return [float((seed * (j + 3)) % 17) + 0.25 * j for j in range(dim)]


def test_ivfpq_retrain_no_fanout_on_multibatch_ids(spark, tmp_path):
    """r9 ADVICE (medium): an id living under MULTIPLE __bk batches —
    legal via repeated unkeyed or differently-keyed add() — must retrain
    to exactly ONE code row per (id, batch), not d^3 rows (the old
    re-join on neighbor_id alone fanned d source rows to d^2 duplicate
    codes per batch partition, inflating search results)."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfPqIndex,
    )

    base = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(8)],
        "vec_id: long, embedding: array<double>",
    )
    dup = spark.createDataFrame(
        [(50, _vec(50, 8)), (51, _vec(51, 8))],
        "vec_id: long, embedding: array<double>",
    )
    path = str(tmp_path / "pq")
    idx = IvfPqIndex.build(base, path, nlist=2, m=4, k_pq=4)
    # the same ids under THREE different batches (two keyed, one unkeyed)
    idx.add(dup, idempotency_key="ka")
    idx.add(dup, idempotency_key="kb")
    idx.add(dup)

    idx.retrain(spark, base.unionByName(dup), train_iters=1, pq_iters=1)

    lists = spark.read.parquet(read_path(f"{path}/lists"))
    # exactly one code row per (id, batch) — no duplicates anywhere
    per_pair = lists.groupBy("neighbor_id", "__bk").count()
    assert per_pair.filter("count > 1").count() == 0
    # the multi-batch ids keep exactly their 3 batch rows
    per_id = {
        r["neighbor_id"]: r["n"]
        for r in lists.groupBy("neighbor_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_id[50] == 3 and per_id[51] == 3
    assert all(per_id[i] == 1 for i in range(8))
    # search serves the re-encoded lists (a multi-batch id legitimately
    # holds one row per batch — the fix bounds that at d rows, not d^3)
    q = spark.createDataFrame(
        [(777, _vec(50, 8))], "vec_id: long, embedding: array<double>"
    )
    got = idx.search(q, k=3, nprobe=2).collect()
    assert got and all(r.adc_d2 >= 0.0 for r in got)
    # keyed replay post-retrain converges without re-introducing dups
    idx.add(dup, idempotency_key="ka")
    assert (
        spark.read.parquet(read_path(f"{path}/lists"))
        .groupBy("neighbor_id", "__bk")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )


# ---------------------------------------------------------------------------
# The generations (pointer-file) commit protocol on a simulated object store
# (the ``objstore`` fixture in conftest: ``file://`` treated as an object
# store, so any rename fails the test).
# ---------------------------------------------------------------------------


def test_generations_crash_recovery_properties(spark, tmp_path, objstore):
    """The pointer-commit crash contract: a torn publish (staged
    generation, no pointer flip) is invisible to readers and its number
    is never reused; a verify failure aborts with the pointer untouched;
    publish-time GC reaps displaced and abandoned generations."""
    import os as _os

    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = f"file://{tmp_path}/tbl"
    lpath = str(tmp_path / "tbl")  # same dir, bare-path view for asserts

    spark.range(3).write.parquet(D.read_path(live))  # pre-publish plain dir
    assert D.read_path(live) == live

    s1 = D.stage_path(live)
    spark.range(4).write.parquet(s1)
    D.swap_in(live, s1, verify=lambda p: spark.read.parquet(p).first())
    assert D.read_path(live) == s1
    assert spark.read.parquet(D.read_path(live)).count() == 4
    assert _os.path.exists(str(tmp_path / "tbl__gens/_CURRENT.json"))
    # r11 reader grace: the plain pre-publish dir is the retained
    # predecessor after the FIRST publish — a reader that resolved it
    # just before the flip still reads its files
    assert spark.read.parquet(lpath).count() == 3

    # torn publish: stage written, crash before the pointer flip
    s2 = D.stage_path(live)
    spark.range(5).write.parquet(s2)
    assert D.read_path(live) == s1  # readers unchanged
    # next allocation skips the torn number — never reused
    s3 = D.stage_path(live)
    assert s3 not in (s1, s2)
    spark.range(6).write.parquet(s3)
    D.swap_in(live, s3, verify=lambda p: spark.read.parquet(p).first())
    assert spark.read.parquet(D.read_path(live)).count() == 6
    # GC retained the displaced PUBLISHED generation (reader grace) but
    # reaped the torn stage (no reader ever resolved it — no grace) and
    # the plain dir (now out of the retained lineage)
    assert spark.read.parquet(s1).count() == 4
    assert not _os.path.exists(s2.replace("file://", ""))
    assert not _os.path.exists(lpath)
    # maintenance-cadence reclamation: keep=1 reaps the grace copy too
    assert D.gc_generations(live, keep=1) == [s1]
    assert not _os.path.exists(s1.replace("file://", ""))
    assert spark.read.parquet(D.read_path(live)).count() == 6

    # verify failure: pointer (and readers) untouched
    s4 = D.stage_path(live)
    spark.range(1).write.parquet(s4)
    with pytest.raises(ZeroDivisionError):
        D.swap_in(live, s4, verify=lambda p: 1 / 0)
    assert D.read_path(live) == s3

    D.remove_surface(live)
    assert D.read_path(live) == live
    assert not _os.path.exists(str(tmp_path / "tbl__gens"))


def test_full_stack_on_simulated_object_store(spark, tmp_path, objstore):
    """Ledger + BM25 + IVF on the generations protocol end-to-end: the
    keyed-replay, forget-tombstone, prune and compaction contracts must
    hold identically to the local backend — with zero directory renames
    (the fixture turns any into a failure)."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    base = f"file://{tmp_path}/stack"

    led = ContentHashLedger(spark, base + "/ledger")
    b = spark.createDataFrame(
        [(1, "hello world"), (2, "other text")], "doc_id: long, text: string"
    )
    assert led.ingest(b, idempotency_key="b0").count() == 2
    assert led.ingest(b, idempotency_key="b0").count() == 2  # replay
    led.compact(1)  # first pointer publish
    assert led.hashes().count() == 2
    # post-publish ingest lands in the CURRENT generation and replays
    b2 = spark.createDataFrame([(3, "third doc")], "doc_id: long, text: string")
    assert led.ingest(b2, idempotency_key="b1").count() == 1
    assert led.ingest(b2, idempotency_key="b1").count() == 1
    assert led.hashes().count() == 3
    led.compact(1)  # second publish: generation advances
    assert led.hashes().count() == 3
    assert led.forget(b2) == 2
    assert led.ingest(b2).count() == 1  # re-admission after forget

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id: long, text: string"
    )
    batch = spark.createDataFrame(
        [(10, "epsilon zeta")], "doc_id: long, text: string"
    )
    idx = Bm25Index.build(docs, base + "/bm25", n_buckets=4)
    idx.ingest(batch, idempotency_key="k1")
    assert idx.topk("epsilon", k=5).count() == 1
    idx.forget(spark.createDataFrame([(10,)], "doc_id: long"))  # 2 publishes
    idx.ingest(batch, idempotency_key="k1")  # replay: tombstone blocks
    assert idx.topk("epsilon", k=5).count() == 0
    assert idx.prune_tombstones(settled_keys=["k1"]) == 1
    assert idx.compact() > 0
    assert Bm25Index(spark, base + "/bm25").n_docs == 2  # reopen
    assert idx.topk("alpha", k=5).count() == 1

    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(6)],
        "vec_id: long, embedding: array<double>",
    )
    vbatch = spark.createDataFrame(
        [(50, _vec(50)), (51, _vec(51))],
        "vec_id: long, embedding: array<double>",
    )
    ivf = IvfIndex.build(emb, base + "/ivf", nlist=2)
    ivf.add(vbatch, idempotency_key="k1")
    assert ivf.forget(spark, spark.createDataFrame([(50,)], "vec_id: long")) == 1
    ivf.add(vbatch, idempotency_key="k1")  # replay: tombstone blocks

    def ivf_ids():
        return sorted(
            r.neighbor_id
            for r in ivf._lists(spark).select("neighbor_id").collect()
        )

    assert ivf_ids() == [0, 1, 2, 3, 4, 5, 51]
    ivf.compact(spark)  # pointer publish for the lists surface
    assert ivf_ids() == [0, 1, 2, 3, 4, 5, 51]
    ivf.add(vbatch, idempotency_key="k1")  # replay ACROSS the publish
    assert ivf_ids() == [0, 1, 2, 3, 4, 5, 51]
    ivf.retrain(spark, train_iters=1)
    assert ivf_ids() == [0, 1, 2, 3, 4, 5, 51]
    q = spark.createDataFrame(
        [(777, _vec(51))], "vec_id: long, embedding: array<double>"
    )
    assert ivf.search(q, k=1, nprobe=2).count() == 1


def test_admission_sink_on_simulated_object_store(spark, tmp_path, objstore):
    """The WHOLE streaming admission surface on the generations protocol:
    ledgers, corpus, reject audit, Bloom artifact, both serving-index
    maintenance ops and the settled-key prune — zero directory renames.
    (The corpus/reject dynamic-overwrite partitions are Spark committer
    territory; what this locks is OUR layer's commit protocol.)"""
    import datetime

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

    base = f"file://{tmp_path}"
    ext_schema = SI.DOC_SCHEMA + ", embedding array<double>"

    def row(doc_id, text):
        return (
            doc_id, text, "en", "web", len(text),
            datetime.datetime(2024, 1, 1, 0, 0, int(doc_id) % 60),
            _vec(doc_id, 4),
        )

    bench_gram = "alpha beta gamma delta epsilon zeta eta theta"
    bench = spark.createDataFrame(
        [(100, f"eval question {bench_gram} answer choices")],
        "doc_id: long, text: string",
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    dup = _text("tok")
    _write_doc_batches(
        spark, src,
        [
            [row(21, dup), row(23, f"bad {bench_gram} bad")],
            [row(30, dup), row(32, _text("alpha"))],
        ],
        ext_schema,
    )
    pipe = AdmissionPipeline(spark, base + "/ledgers")
    seed = spark.createDataFrame(
        [(0, _vec(90, 4)), (1, _vec(91, 4))],
        "vec_id: long, embedding: array<double>",
    )
    ivf = IvfIndex.build(seed, base + "/ivf", nlist=2)
    bm25 = Bm25Index.build(
        spark.createDataFrame([], "doc_id: long, text: string"),
        base + "/bm25", n_buckets=8,
    )

    def run():
        SI.admission_sink(
            spark.readStream.schema(ext_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            pipe,
            base + "/corpus",
            checkpoint=str(tmp_path / "ckpt"),
            benchmark=bench,
            reject_dir=base + "/rejects",
            bm25_index=bm25,
            ivf_index=ivf,
            bloom_path=base + "/bloom",
            prune_settled_after=1,
        ).awaitTermination()

    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(base + "/corpus").collect()
    ) == [21, 32]
    reasons = {
        (r.doc_id, r.reason)
        for r in spark.read.parquet(base + "/rejects").collect()
    }
    assert reasons == {(23, "contaminated"), (30, "rejected_dedup")}
    assert bm25.n_docs == 2
    assert sorted(
        r.neighbor_id
        for r in ivf._lists(spark).select("neighbor_id").collect()
    ) == [0, 1, 21, 32]
    # maintenance window over pointer-committed surfaces, then replay
    from sql_data_warehouse_samples_spark import maintenance as M

    M.corpus_maintenance_window(spark, pipe, indexes=(bm25, ivf))
    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(base + "/corpus").collect()
    ) == [21, 32]
    assert bm25.n_docs == 2


# ---------------------------------------------------------------------------
# The single-writer lease + the scheduled index-maintenance ops loop
# (wlm/ops ladder pattern applied to corpus/index maintenance).
# ---------------------------------------------------------------------------


def test_writer_lease_contract(spark, tmp_path):
    """The lease turns the documented single-publisher contract into a
    checked one: a different concurrent writer is refused loudly, a
    crash-restart of the SAME owner re-acquires (token rotation fences
    out its zombie), a quiesced takeover displaces the holder, and the
    displaced holder's require()/release() fail safe."""
    from sql_data_warehouse_samples_spark.maintenance import WriterLease

    lease = WriterLease(spark, str(tmp_path / "root"))
    assert lease.holder() is None
    t1 = lease.acquire("sink:A")
    lease.require(t1)
    with pytest.raises(RuntimeError, match="held by"):
        lease.acquire("sink:B")  # concurrent second writer refused
    t1b = lease.acquire("sink:A")  # same-owner crash-restart
    with pytest.raises(RuntimeError, match="taken over"):
        lease.require(t1)  # the zombie instance is fenced out
    t2 = lease.acquire("maintenance", force=True)  # quiesced takeover
    with pytest.raises(RuntimeError, match="taken over"):
        lease.require(t1b)
    lease.release(t1b)  # displaced release: no-op, holder keeps it
    lease.require(t2)
    lease.release(t2)
    assert lease.holder() is None
    with pytest.raises(RuntimeError, match="released"):
        lease.require(t2)


def test_maintenance_scheduler_end_to_end(spark, tmp_path):
    """The ops loop end-to-end: live lease-guarded admission sink →
    settled-batch trigger fires → quiesce + lease takeover + maintenance
    window → resume via restart_fn → replay convergence holds, the
    cadence sidecar advances, decision rows record both the fired and
    the idle ticks, and a second writer stays refused while the sink
    identity holds the lease."""
    import datetime

    from sql_data_warehouse_samples_spark.maintenance import (
        IndexMaintenanceScheduler,
        WriterLease,
    )
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )
    from sql_data_warehouse_samples_spark.streaming import ingest as SI
    from tests.test_round8_hardening import _text

    base = str(tmp_path)
    ckpt = f"{base}/ckpt"
    src = f"{base}/src"
    os.makedirs(src)

    def row(doc_id, text):
        return (
            doc_id, text, "en", "web", len(text),
            datetime.datetime(2024, 1, 1, 0, 0, int(doc_id) % 60),
        )

    def write_batches(parts, offset):
        # unique file names across calls — the file source tracks seen
        # paths, so re-using b0/b1 would make later drops invisible
        import glob
        import shutil

        for i, part in enumerate(parts):
            staged = os.path.join(src, f"_stage{offset + i}")
            spark.createDataFrame(part, SI.DOC_SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staged)
            shutil.move(
                glob.glob(os.path.join(staged, "part-*.parquet"))[0],
                os.path.join(src, f"b{offset + i}.parquet"),
            )
            shutil.rmtree(staged)

    pipe = AdmissionPipeline(spark, f"{base}/ledgers")
    bm25 = Bm25Index.build(
        spark.createDataFrame([], "doc_id: long, text: string"),
        f"{base}/bm25", n_buckets=4,
    )
    lease = WriterLease(spark, f"{base}/ledgers")

    def run_sink():
        return SI.admission_sink(
            spark.readStream.schema(SI.DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            pipe,
            f"{base}/corpus",
            checkpoint=ckpt,
            bm25_index=bm25,
            lease=lease,
        )

    write_batches([[row(1, _text("alpha"))], [row(2, _text("beta"))]], 0)
    q = run_sink()
    q.awaitTermination()
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{base}/corpus").collect()
    ) == [1, 2]

    # while the sink identity holds the lease, a different writer is out
    with pytest.raises(RuntimeError, match="held by"):
        lease.acquire("rogue-backfill")

    sched = IndexMaintenanceScheduler(
        spark, pipe, indexes=(bm25,), checkpoint=ckpt,
        settled_every=2, state_path=f"{base}/_MAINT_STATE.json",
        lease=lease,
    )
    # 2 committed batches since last window (-1) -> due
    assert any(r.startswith("settled_batches") for r in sched.due())
    row1, q2 = sched.tick(query=q, restart_fn=run_sink)
    assert row1["action"] == "maintain"
    assert "ledger_exact_rows" in row1["detail"]["report"]
    q2.awaitTermination()  # restarted sink: no new data, replays nothing
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{base}/corpus").collect()
    ) == [1, 2]
    assert bm25.n_docs == 2 and bm25.topk("alpha1", k=5).count() == 1

    # idle tick: trigger not due again until settled_every MORE batches
    row2, _ = sched.tick(query=q2, restart_fn=run_sink)
    assert row2["action"] == "none"
    st = sched._state()
    assert st["windows"] == 1 and st["last_batch"] == 1

    # two more batches -> due again; the restarted sink re-acquired the
    # lease (same owner), the window takes it over and releases it back
    write_batches([[row(3, _text("gamma"))], [row(4, _text("delta"))]], 2)
    q3 = run_sink()
    q3.awaitTermination()
    row3, q4 = sched.tick(query=q3, restart_fn=run_sink)
    assert row3["action"] == "maintain"
    q4.awaitTermination()
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{base}/corpus").collect()
    ) == [1, 2, 3, 4]
    # r11: the sidecar also carries consts_batch + the backoff memory
    state = sched._state()
    assert state["last_batch"] == 3 and state["windows"] == 2
    assert [r["action"] for r in sched.decisions] == [
        "maintain", "none", "maintain",
    ]


def test_maintenance_scheduler_drift_trigger(spark, tmp_path):
    """The drift trigger: a skewed add pushes list-population skew over
    the threshold — due() names it, tick retrains inside the window and
    the decision row carries the before/after ratios."""
    from sql_data_warehouse_samples_spark.maintenance import (
        IndexMaintenanceScheduler,
        index_skew,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IvfIndex.build(e, str(tmp_path / "ivf"), nlist=8, train_iters=1)
    seed_vec = e.filter("vec_id = 3").select("embedding").first()["embedding"]
    skew = spark.createDataFrame(
        [(10_000 + i, [float(x) * (1.0 + 0.001 * (i % 3)) for x in seed_vec])
         for i in range(200)],
        "vec_id: long, embedding: array<double>",
    )
    idx.add(skew)

    sched = IndexMaintenanceScheduler(
        spark, indexes=(idx,), drift_threshold=3.0,
    )
    due = sched.due()
    assert any(r.startswith("drift[IvfIndex]") for r in due)
    row, _ = sched.tick()
    assert row["action"] == "maintain"
    drift = row["detail"]["report"][f"drift[IvfIndex:{idx.path}]"]
    assert drift["retrained"] is True
    assert drift["ratio_after"] < drift["ratio"]
    ratio_now, _, _ = index_skew(spark, idx)
    assert ratio_now <= 3.0 or ratio_now < drift["ratio"]
    # settled drift -> idle tick
    row2, _ = sched.tick()
    assert row2["action"] == "none"


def test_retrain_after_forgetting_low_ids(spark, tmp_path):
    """Found by the r10 maintenance probe: seed_centroids takes ids <
    nlist (semantics the s04-family oracles pin), so a retrain AFTER the
    low ids were forgotten — or over any corpus whose id space does not
    start at 0 — used to seed an empty quantizer and crash in numpy.
    kmeans_centroids now falls back to the nlist lowest ids present."""
    from sql_data_warehouse_samples_spark.maintenance import (
        remediate_index_drift,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        kmeans_centroids,
    )

    nlist = 4
    emb = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(40)],
        "vec_id: long, embedding: array<double>",
    )
    idx = IvfIndex.build(emb, str(tmp_path / "ivf"), nlist=nlist,
                         train_iters=1)
    # forget EVERY id < nlist — the old seed set
    idx.forget(
        spark, spark.createDataFrame([(i,) for i in range(nlist)],
                                     "vec_id: long")
    )
    idx.retrain(spark, train_iters=1)  # used to crash (empty seed)
    assert len(idx.centroids) >= 1
    assert idx._lists(spark).count() == 40 - nlist
    q = spark.createDataFrame(
        [(777, _vec(20, 8))], "vec_id: long, embedding: array<double>"
    )
    assert idx.search(q, k=1, nprobe=nlist).count() == 1

    # an id space that starts nowhere near 0 seeds fine too
    offset = spark.createDataFrame(
        [(1_000_000 + i, _vec(i, 8)) for i in range(40)],
        "vec_id: long, embedding: array<double>",
    )
    cents = kmeans_centroids(offset, nlist=nlist, iters=1)
    assert len(cents) == nlist

    # empty corpus: loud, not a numpy axis error
    with pytest.raises(ValueError, match="no vectors"):
        kmeans_centroids(emb.limit(0), nlist=nlist, iters=1)

    # the drift-remediation path (what the probe actually ran) composes
    remediate_index_drift(spark, idx, max_count_ratio=0.5)

    # same hole in the PQ codebook seeding (ids < k, oracle-pinned):
    # retrain from a corpus whose low ids were forgotten must re-seed
    # from the k lowest ids PRESENT instead of dying on an empty seed
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfPqIndex,
    )

    pq = IvfPqIndex.build(emb, str(tmp_path / "pq"), nlist=2, m=4, k_pq=4)
    pq.forget(
        spark, spark.createDataFrame([(i,) for i in range(8)],
                                     "vec_id: long")
    )
    pq.retrain(spark, emb, train_iters=1)  # used to crash (empty seed)
    assert pq._lists(spark).count() == 32
    assert pq.search(q, k=1, nprobe=2).count() == 1


def test_maintenance_scheduler_pq_drift_deferred_without_corpus(
    spark, tmp_path
):
    """A PQ index re-encodes from raw vectors, so when the drift trigger
    fires and no corpus_fn was supplied the scheduler cannot remediate —
    r11 (ADVICE): an ALL-blocked tick must log a 'deferred' decision row
    WITHOUT quiescing (no stop/compact/restart cycle burned on a window
    that cannot move its trigger), the reason stays visibly due, and
    providing corpus_fn remediates."""
    from sql_data_warehouse_samples_spark.maintenance import (
        IndexMaintenanceScheduler,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfPqIndex,
    )

    base = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(8)],
        "vec_id: long, embedding: array<double>",
    )
    skew = spark.createDataFrame(
        [(100 + i, _vec(3, 8)) for i in range(30)],
        "vec_id: long, embedding: array<double>",
    )
    pq = IvfPqIndex.build(base, str(tmp_path / "pq"), nlist=2, m=4, k_pq=4)
    pq.add(skew)

    sched = IndexMaintenanceScheduler(
        spark, indexes=(pq,), drift_threshold=1.5,
    )
    # the blocked reason is still VISIBLE in due() (pure observation)
    assert any(r.startswith("drift[IvfPqIndex]") for r in sched.due())
    row, _ = sched.tick()
    # ...but the tick deferred without running a window (no quiesce)
    assert row["action"] == "deferred"
    assert "corpus_fn" in str(row["detail"]["blocked"])
    assert "report" not in row["detail"]  # no window ran
    # still due: the deferral did not consume the trigger
    assert any(r.startswith("drift[IvfPqIndex]") for r in sched.due())
    # repeated ticks keep deferring cheaply, never quiescing
    row_b, _ = sched.tick()
    assert row_b["action"] == "deferred"

    # with corpus_fn the same trigger remediates
    corpus = base.unionByName(skew)
    sched2 = IndexMaintenanceScheduler(
        spark, indexes=(pq,), drift_threshold=1.5,
        corpus_fn=lambda: corpus,
    )
    row2, _ = sched2.tick()
    assert row2["action"] == "maintain"
    drift2 = row2["detail"]["report"][f"drift[IvfPqIndex:{pq.path}]"]
    assert drift2["retrained"] is True


def test_maintenance_scheduler_logs_failed_window(spark, tmp_path):
    """Ops-log parity on the failure path: a maintenance window that
    raises leaves a 'failed' decision row (reasons + error) and does NOT
    advance the cadence — the next tick re-fires the same trigger."""
    from sql_data_warehouse_samples_spark.maintenance import (
        IndexMaintenanceScheduler,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IvfIndex.build(e, str(tmp_path / "ivf"), nlist=8, train_iters=1)
    seed_vec = e.filter("vec_id = 3").select("embedding").first()["embedding"]
    idx.add(
        spark.createDataFrame(
            [(10_000 + i, [float(x) for x in seed_vec]) for i in range(100)],
            "vec_id: long, embedding: array<double>",
        )
    )
    sched = IndexMaintenanceScheduler(
        spark, indexes=(idx,), drift_threshold=2.0,
    )
    assert sched.due()
    idx.compact = lambda *a, **k: 1 / 0  # the window step blows up
    with pytest.raises(ZeroDivisionError):
        sched.tick()
    assert sched.decisions[-1]["action"] == "failed"
    assert "ZeroDivisionError" in sched.decisions[-1]["detail"]["error"]
    assert sched.due()  # trigger still live after remediation
