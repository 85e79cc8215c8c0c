"""Round-11 hardening: atomic quantizer+lists commits for the IVF family
(the r10 ADVICE mediums), generation retention / reader grace in the
dirswap protocols, WriterLease TTL/heartbeat, the scheduler's consts-age
trigger and drift-hysteresis backoff, and the content-fingerprinted
serving-cache keys.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from sql_data_warehouse_samples_spark.operators.dirswap import read_path
from tests.conftest import spark  # noqa: F401
from tests.test_round11_hardening import _vec


# ---------------------------------------------------------------------------
# IVF quantizer rides the lists commit (r10 ADVICE mediums #1 + #2)
# ---------------------------------------------------------------------------


def test_ivf_build_publishes_into_generations(spark, tmp_path, objstore):
    """r10 ADVICE #1: a rebuild over a surface that already carries a
    generation pointer must land where readers resolve (a new published
    generation), not in the plain {path}/lists directory the pointer
    shadows — and must survive the next publish's GC."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    path = f"file://{tmp_path}/ivf"
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)],
        "vec_id: long, embedding: array<double>",
    )
    idx = IvfIndex.build(emb, path, nlist=2)
    idx.compact(spark)  # surface now has a generation pointer

    emb2 = spark.createDataFrame(
        [(100 + i, _vec(100 + i)) for i in range(6)],
        "vec_id: long, embedding: array<double>",
    )
    idx2 = IvfIndex.build(emb2, path, nlist=2)  # REBUILD over the pointer
    got = sorted(
        r.neighbor_id for r in idx2._lists(spark).select("neighbor_id").collect()
    )
    assert got == [100 + i for i in range(6)]
    # a reopened handle resolves the rebuild too (read_path agreement)
    assert sorted(
        r.neighbor_id
        for r in IvfIndex.load(spark, path)._lists(spark).collect()
    ) == got
    # and it survives a subsequent publish's GC
    idx2.compact(spark)
    assert sorted(
        r.neighbor_id for r in idx2._lists(spark).collect()
    ) == got
    q = emb2.limit(1)
    assert idx2.search(q, k=2, nprobe=2).count() == 2
    # the quantizer lives INSIDE the published generation — one commit
    lists_dir = D.read_path(path + "/lists", spark)
    assert D.fs_exists(f"{lists_dir}/_quantizer/centroids", spark)
    # no plain legacy sidecar lingers
    assert not D.fs_exists(path + "/centroids", spark)


def test_ivf_retrain_crash_leaves_quantizer_and_lists_matched(
    spark, tmp_path, objstore, monkeypatch
):
    """r10 ADVICE #2: quantizer and lists commit in ONE publish.  A crash
    anywhere in retrain (simulated at the commit itself) must leave the
    OLD lists served under the OLD centroids — never new lists under the
    old quantizer (the old layout's in-place centroids overwrite)."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators import similarity as S

    path = f"file://{tmp_path}/ivf"
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(10)],
        "vec_id: long, embedding: array<double>",
    )
    idx = S.IvfIndex.build(emb, path, nlist=2)
    before_cents = list(idx.centroids)
    before_ids = sorted(
        r.neighbor_id for r in idx._lists(spark).select("neighbor_id").collect()
    )

    real_swap = D.swap_in

    def crash_at_commit(live, stage, verify=None, spark=None):
        raise RuntimeError("simulated crash at publish")

    monkeypatch.setattr(D, "swap_in", crash_at_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.retrain(spark, train_iters=1)
    monkeypatch.setattr(D, "swap_in", real_swap)

    # reopen: old quantizer + old lists, consistent
    re = S.IvfIndex.load(spark, path)
    assert re.centroids == before_cents
    assert sorted(
        r.neighbor_id for r in re._lists(spark).select("neighbor_id").collect()
    ) == before_ids
    # and the real retrain still completes afterwards, atomically
    re.retrain(spark, train_iters=1)
    re2 = S.IvfIndex.load(spark, path)
    assert re2.centroids == re.centroids
    assert sorted(
        r.neighbor_id for r in re2._lists(spark).select("neighbor_id").collect()
    ) == before_ids


def test_ivf_legacy_sidecar_layout_reads_and_migrates(spark, tmp_path):
    """A pre-r11 index (plain {path}/centroids sidecar) stays loadable,
    and the first rewrite (compact) migrates the quantizer into the
    lists surface and drops the legacy file."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        _spread,
        assign_centroids,
        seed_centroids,
    )

    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(6)],
        "vec_id: long, embedding: array<double>",
    )
    path = str(tmp_path / "legacy")
    cents = seed_centroids(base, "vec_id", "embedding", 2)
    # hand-write the pre-r11 layout: lists + plain centroids sidecar
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
    ).withColumn("__bk", F.lit("base")).write.partitionBy(
        "centroid_id", "__bk"
    ).mode("overwrite").parquet(f"{path}/lists")
    spark.createDataFrame(
        cents, "centroid_id long, __cent array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    idx = IvfIndex.load(spark, path)  # legacy fallback read
    assert idx.centroids == sorted(cents)
    idx.compact(spark)  # migration: quantizer moves inside the surface
    assert not os.path.exists(f"{path}/centroids")
    assert os.path.exists(f"{read_path(path + '/lists')}/_quantizer/centroids")
    assert IvfIndex.load(spark, path).centroids == sorted(cents)
    assert idx.search(base.limit(1), k=2, nprobe=2).count() == 2


def test_ivfpq_quantizer_commits_with_lists(spark, tmp_path, objstore):
    """The PQ variant: centroids + codebooks + params all ride the one
    lists publish (build AND retrain), and a reopened handle sees a
    consistent quartet on the generations store."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfPqIndex,
    )

    path = f"file://{tmp_path}/pq"
    emb = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(12)],
        "vec_id: long, embedding: array<double>",
    )
    idx = IvfPqIndex.build(emb, path, nlist=2, m=4, k_pq=4, residual=True)
    lists_dir = D.read_path(path + "/lists", spark)
    for sidecar in ("centroids", "codebooks", "params"):
        assert D.fs_exists(f"{lists_dir}/_quantizer/{sidecar}", spark)
        assert not D.fs_exists(f"{path}/{sidecar}", spark)
    re = IvfPqIndex.load(spark, path)
    assert re.centroids == idx.centroids
    assert re.codebooks == idx.codebooks
    assert re.residual is True
    # retrain publishes a new quartet atomically; reopen agrees
    idx.retrain(spark, emb, train_iters=1)
    re2 = IvfPqIndex.load(spark, path)
    assert re2.centroids == idx.centroids
    assert re2.codebooks == idx.codebooks
    assert re2.residual is True
    assert idx.search(emb.limit(1), k=2, nprobe=2).count() == 2


# ---------------------------------------------------------------------------
# WriterLease TTL / heartbeat (r10 verdict task 6)
# ---------------------------------------------------------------------------


def test_writer_lease_ttl_expired_acquire_is_selfservice(spark, tmp_path):
    """A crashed FOREIGN owner's lease self-serves after the TTL: acquire
    succeeds without force once the heartbeat stamp is older than ttl_s —
    and the expired holder's zombie is still fenced by token rotation."""
    from sql_data_warehouse_samples_spark.maintenance import WriterLease
    from sql_data_warehouse_samples_spark.operators.dirswap import (
        atomic_json_write,
    )

    root = str(tmp_path / "guarded")
    lease = WriterLease(spark, root, ttl_s=60.0)
    t_sink = lease.acquire("sink")

    other = WriterLease(spark, root, ttl_s=60.0)
    # live lease: foreign acquire still refused without force
    with pytest.raises(RuntimeError, match="held by 'sink'"):
        other.acquire("maintenance")

    # age the heartbeat past the TTL (the holder crashed)
    rec = lease.holder()
    rec["renewed_at"] -= 3600.0
    atomic_json_write(os.path.join(root, WriterLease.FILE), rec, spark)

    t_maint = other.acquire("maintenance")  # no force needed
    assert other.holder()["owner"] == "maintenance"
    # the zombie instance of the expired holder is fenced
    with pytest.raises(RuntimeError, match="taken over by 'maintenance'"):
        lease.require(t_sink)
    other.require(t_maint)  # the new holder is fine
    other.release(t_maint)


def test_writer_lease_heartbeat_keeps_live_holder_unexpired(spark, tmp_path):
    """require() IS the heartbeat: a holder that checks per micro-batch
    refreshes renewed_at, so a live-but-old lease never self-serves away."""
    from sql_data_warehouse_samples_spark.maintenance import WriterLease
    from sql_data_warehouse_samples_spark.operators.dirswap import (
        atomic_json_write,
    )

    root = str(tmp_path / "guarded")
    lease = WriterLease(spark, root, ttl_s=60.0)
    token = lease.acquire("sink")

    # stamp goes stale...
    rec = lease.holder()
    rec["renewed_at"] -= 3600.0
    atomic_json_write(os.path.join(root, WriterLease.FILE), rec, spark)
    # ...but the holder's next per-batch check refreshes it
    lease.require(token)
    assert lease.holder()["renewed_at"] > rec["renewed_at"] + 3000

    other = WriterLease(spark, root, ttl_s=60.0)
    with pytest.raises(RuntimeError, match="held by 'sink'"):
        other.acquire("maintenance")

    # ttl_s=None keeps the no-expiry contract even over a stale stamp
    rec2 = lease.holder()
    rec2["renewed_at"] -= 3600.0
    atomic_json_write(os.path.join(root, WriterLease.FILE), rec2, spark)
    legacy = WriterLease(spark, root)  # no TTL configured
    with pytest.raises(RuntimeError, match="held by 'sink'"):
        legacy.acquire("maintenance")


# ---------------------------------------------------------------------------
# Scheduler: consts-age trigger + drift-hysteresis backoff
# ---------------------------------------------------------------------------


def _fake_commits(tmp_path, n):
    """A sink commit log with batches 0..n-1 committed."""
    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir(parents=True, exist_ok=True)
    for i in range(n):
        (commits / str(i)).write_text("{}")
    return str(tmp_path / "ckpt")


def test_scheduler_consts_age_trigger(spark, tmp_path):
    """The r10 verdict's third trigger: fire when ≥ N batches committed
    since the last window that refreshed the BM25 constants sidecar —
    due()/tick() contract mirroring the drift-trigger test."""
    from sql_data_warehouse_samples_spark.maintenance import (
        IndexMaintenanceScheduler,
    )
    from sql_data_warehouse_samples_spark.operators.bm25 import (
        bm25_corpus_consts,
    )

    ckpt = _fake_commits(tmp_path, 3)  # batches 0,1,2 committed
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta words")],
        "doc_id: long, text: string",
    )
    consts_path = str(tmp_path / "consts")
    sched = IndexMaintenanceScheduler(
        spark,
        checkpoint=ckpt,
        consts_every=2,
        state_path=str(tmp_path / "_MAINT_STATE.json"),
        window_kwargs={"docs": docs, "consts_path": consts_path},
    )
    assert sched.due() == ["consts_age:3"]
    row, _ = sched.tick()
    assert row["action"] == "maintain"
    assert row["detail"]["report"]["consts_n_docs"] == 2
    n_docs, avgdl = bm25_corpus_consts(consts_path)
    assert n_docs == 2 and avgdl > 0
    # cadence advanced: not due again until 2 more batches commit
    assert sched.due() == []
    _fake_commits(tmp_path, 5)
    assert sched.due() == ["consts_age:2"]
    # restart-safe: a fresh scheduler over the same sidecar agrees
    sched_b = IndexMaintenanceScheduler(
        spark,
        checkpoint=ckpt,
        consts_every=2,
        state_path=str(tmp_path / "_MAINT_STATE.json"),
        window_kwargs={"docs": docs, "consts_path": consts_path},
    )
    assert sched_b.due() == ["consts_age:2"]


def test_scheduler_consts_age_unconfigured_defers(spark, tmp_path):
    """consts_every with no docs/consts_path in window_kwargs cannot be
    remediated by a window — the tick defers loudly instead of burning a
    quiesce cycle (the r11 backoff rule)."""
    from sql_data_warehouse_samples_spark.maintenance import (
        IndexMaintenanceScheduler,
    )

    ckpt = _fake_commits(tmp_path, 2)
    sched = IndexMaintenanceScheduler(
        spark,
        checkpoint=ckpt,
        consts_every=1,
        state_path=str(tmp_path / "_MAINT_STATE.json"),
    )
    assert sched.due() == ["consts_age:2"]
    row, _ = sched.tick()
    assert row["action"] == "deferred"
    assert "consts_path" in str(row["detail"]["blocked"])


def test_scheduler_drift_hysteresis_backoff(spark, tmp_path):
    """ADVICE (low): a drift a retrain already failed to bring under
    threshold must not re-fire a full window every tick — the scheduler
    arms a hysteresis at the residual ratio and defers until NEW drift
    accrues beyond it (then remediates again)."""
    from sql_data_warehouse_samples_spark.maintenance import (
        IndexMaintenanceScheduler,
        index_skew,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    # a corpus whose skew NO quantizer can fix: many copies of one point
    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(4)],
        "vec_id: long, embedding: array<double>",
    )
    idx = IvfIndex.build(base, str(tmp_path / "ivf"), nlist=2)
    clones = spark.createDataFrame(
        [(100 + i, _vec(7)) for i in range(40)],
        "vec_id: long, embedding: array<double>",
    )
    idx.add(clones)

    sched = IndexMaintenanceScheduler(
        spark, indexes=(idx,), drift_threshold=1.5,
        state_path=str(tmp_path / "_MAINT_STATE.json"),
    )
    row1, _ = sched.tick()
    assert row1["action"] == "maintain"
    drift1 = row1["detail"]["report"][f"drift[IvfIndex:{idx.path}]"]
    assert drift1["retrained"] is True
    assert drift1["ratio_after"] > 1.5  # retrain could not converge

    # next tick: same residual drift → deferred, no window burned
    row2, _ = sched.tick()
    assert row2["action"] == "deferred"
    assert "no new drift" in str(row2["detail"]["blocked"])

    # NEW drift beyond the residual ratio re-arms remediation
    more = spark.createDataFrame(
        [(500 + i, _vec(7)) for i in range(120)],
        "vec_id: long, embedding: array<double>",
    )
    idx.add(more)
    ratio_now, _, _ = index_skew(spark, idx)
    assert ratio_now > drift1["ratio_after"]
    row3, _ = sched.tick()
    assert row3["action"] == "maintain"
    assert row3["detail"]["report"][f"drift[IvfIndex:{idx.path}]"][
        "retrained"
    ] is True


# ---------------------------------------------------------------------------
# Serving-cache fingerprint (r10 ADVICE low #4)
# ---------------------------------------------------------------------------


def test_serving_cache_key_tracks_data_fingerprint(tmp_path):
    """Regenerating the dataset at the SAME path must yield a DIFFERENT
    cache dir (no stale index served); same bytes → same dir (cache
    hits still work)."""
    import time

    from sql_data_warehouse_samples_spark.workload._util import (
        serving_cache_dir,
    )

    sf = tmp_path / "sf"
    d = sf / "documents.parquet"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"one")
    k1 = serving_cache_dir(str(sf), "bm25_serving", "documents")
    assert k1 == serving_cache_dir(str(sf), "bm25_serving", "documents")
    time.sleep(0.01)
    (d / "part-0.parquet").write_bytes(b"two")  # regenerated dataset
    k2 = serving_cache_dir(str(sf), "bm25_serving", "documents")
    assert k2 != k1
    # distinct tables key distinct caches even in the same sf_dir
    e = sf / "embeddings.parquet"
    e.mkdir()
    (e / "part-0.parquet").write_bytes(b"one")
    assert serving_cache_dir(str(sf), "ivf_serving", "embeddings") != k2


# ---------------------------------------------------------------------------
# BPE end-token escaping (r10 verdict stretch: close the </w> caveat)
# ---------------------------------------------------------------------------


def test_bpe_roundtrip_on_corpus_containing_end_token_literal(
    spark, tmp_path
):
    """The pre-r11 documented caveat, now closed: decode∘encode is the
    identity (up to whitespace normalization) even when the corpus
    contains the literal ``</w>`` delimiter — and the escape codepoint
    U+E000 itself — because encode escapes the text and decode detects
    word boundaries at the symbol level and unescapes."""
    from sql_data_warehouse_samples_spark.operators import bpe

    hostile = [
        (1, "plain words first"),
        (2, "an html-ish </w> token inline"),
        (3, "</w></w> doubled and <w> </ w unrelated"),
        (4, "esc\ue000aped and \ue000\ue000 doubled private use"),
        (5, "mixed \ue000</w> both in one word x</w>y"),
    ]
    docs = spark.createDataFrame(hostile, "doc_id: long, text: string")
    alpha = bpe.corpus_base_symbols(docs)
    merges = bpe.bpe_train_collected(docs, 8, min_count=1)
    path = f"file://{tmp_path}/tok"
    bpe.save_tokenizer(spark, path, merges, alpha)
    tok = bpe.load_tokenizer(spark, path)

    got = {
        r["doc_id"]: r["text_decoded"]
        for r in tok.decode(tok.encode(docs))
        .select("doc_id", "text_decoded")
        .collect()
    }
    for doc_id, text in hostile:
        assert got[doc_id] == " ".join(text.split()), (doc_id, got[doc_id])


def test_bpe_escape_is_identity_on_clean_text(spark):
    """Oracle-parity guard: on text free of the delimiter and of U+E000
    the escape is byte-identity — pinned-oracle corpora are unchanged."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.operators.bpe import (
        escape_end_literal,
        unescape_end_literal,
    )

    texts = ["hello world", "<tag> </tag> <//w> </ w>", "", "a</wb>"]
    df = spark.createDataFrame([(t,) for t in texts], "t: string")
    got = [
        r["e"]
        for r in df.select(escape_end_literal(F.col("t")).alias("e")).collect()
    ]
    assert got == texts
    # and escape∘unescape is the identity on hostile text too
    hostile = ["x</w>y", "\ue000", "\ue000</w>", "</w></w>", "<\ue000/w>"]
    hdf = spark.createDataFrame([(t,) for t in hostile], "t: string")
    esc = [
        r["e"]
        for r in hdf.select(escape_end_literal(F.col("t")).alias("e")).collect()
    ]
    assert all(("</w>" not in e) for e in esc)
    assert [unescape_end_literal(e) for e in esc] == hostile


def test_generation_lineage_supports_deeper_retention(spark, tmp_path, objstore):
    """The pointer records lineage deeper than the default GC policy
    (record > policy): gc_generations(keep=3) retains two predecessors
    even though publish-time GC runs at the default keep=2."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = f"file://{tmp_path}/tbl"
    paths = []
    for n in (3, 4, 5, 6):
        s = D.stage_path(live)
        spark.range(n).write.parquet(s)
        D.swap_in(live, s, verify=lambda p: spark.read.parquet(p).first())
        paths.append(s)
    # publish-time GC (keep=2) left exactly current + one predecessor
    import os as _os
    exists = [
        _os.path.exists(p.replace("file://", "")) for p in paths
    ]
    assert exists == [False, False, True, True]
    rec = D._pointer_read(live)
    # ...but the lineage remembers more than the policy retained
    assert len(rec["history"]) >= 2
    # a deeper keep at GC time retains what still exists, reaps nothing new
    assert D.gc_generations(live, keep=3) == []
    assert D.gc_generations(live, keep=1) == [paths[2]]
    assert spark.read.parquet(D.read_path(live)).count() == 6


def test_gc_generations_min_age_grace(spark, tmp_path, objstore):
    """Time-based retention: gc_generations(keep=1, min_age_s=N) keeps
    reapable generations younger than N seconds (a reader that started
    within the window may still hold them) and reaps them once aged."""
    import time

    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = f"file://{tmp_path}/tbl"
    s1 = D.stage_path(live)
    spark.range(3).write.parquet(s1)
    D.swap_in(live, s1, verify=lambda p: spark.read.parquet(p).first())
    s2 = D.stage_path(live)
    spark.range(4).write.parquet(s2)
    D.swap_in(live, s2, verify=lambda p: spark.read.parquet(p).first())

    p1 = s1.replace("file://", "")
    assert os.path.exists(p1)  # keep=2 retained the predecessor
    # young predecessor: kept under the min-age grace
    assert D.gc_generations(live, keep=1, min_age_s=3600) == []
    assert os.path.exists(p1)
    # age it past the window: now reclaimable
    old = time.time() - 7200
    os.utime(p1, (old, old))
    assert D.gc_generations(live, keep=1, min_age_s=3600) == [s1]
    assert not os.path.exists(p1)
    assert spark.read.parquet(D.read_path(live)).count() == 4


def test_writer_lease_acquire_readback_catches_race(spark, tmp_path, monkeypatch):
    """Two near-simultaneous force-acquires have no CAS to serialize
    them; the r11 read-back makes the LOSER fail at acquire time (not at
    its next require) when the competing write lands in between."""
    from sql_data_warehouse_samples_spark import maintenance as M

    root = str(tmp_path / "guarded")
    lease = M.WriterLease(spark, root)

    real_write = M.WriterLease._write_record

    def write_then_lose(self, owner, token):
        real_write(self, owner, token)
        if owner == "loser":  # the competing acquire lands just after
            real_write(self, "winner", "deadbeef")

    monkeypatch.setattr(M.WriterLease, "_write_record", write_then_lose)
    with pytest.raises(RuntimeError, match="concurrently .*taken by 'winner'"):
        lease.acquire("loser", force=True)
    monkeypatch.setattr(M.WriterLease, "_write_record", real_write)
    # the surviving record still works for its holder path
    assert lease.holder()["owner"] == "winner"
    t = lease.acquire("sink", force=True)
    lease.require(t)
    lease.release(t)


def test_maintenance_window_census_gate_skips_compact(spark, tmp_path):
    """skip_compact_below: surfaces already at <= N parquet files skip
    their staged rewrite (the sf10 probe showed the window cost is
    per-surface rewrite floors) while tombstone pruning still runs; a
    zero gate compacts as before.  The census reads the LIVE view only
    (grace generations and _quantizer sidecars excluded)."""
    from sql_data_warehouse_samples_spark import maintenance as M
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id: long, text: string",
    )
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(6)],
        "vec_id: long, embedding: array<double>",
    )
    pipe = AdmissionPipeline(spark, str(tmp_path / "ledgers"))
    pipe.admit(docs, idempotency_key="b0")
    ivf = IvfIndex.build(emb, str(tmp_path / "ivf"), nlist=2)

    # census sees the live lists files, not the _quantizer sidecar
    n_lists = M.parquet_file_census(spark, str(tmp_path / "ivf" / "lists"))
    assert n_lists >= 2  # one+ file per populated centroid partition

    report = M.corpus_maintenance_window(
        spark, pipe, indexes=(ivf,), skip_compact_below=10_000
    )
    name = f"IvfIndex:{ivf.path}"
    lists_path = str(tmp_path / "ivf" / "lists")
    # r12: the skip report carries the PER-SURFACE censuses (the gate
    # compares each surface to the threshold, not their sum)
    assert report[f"compact_skipped[{name}]"] == {lists_path: n_lists}
    assert "compact_skipped[ledgers]" in report
    assert f"compacted[{name}]" not in report
    assert f"tombstones_pruned[{name}]" in report  # still runs

    # gate at zero: everything compacts exactly as before
    report2 = M.corpus_maintenance_window(
        spark, pipe, indexes=(ivf,), skip_compact_below=0
    )
    assert report2["ledger_exact_rows"] == 2
    assert report2[f"compacted[{name}]"] == 6
    # after compaction to 1 file/list the same gate at its census skips
    n_after = M.parquet_file_census(spark, lists_path)
    report3 = M.corpus_maintenance_window(
        spark, pipe, indexes=(ivf,), skip_compact_below=n_after
    )
    assert report3[f"compact_skipped[{name}]"] == {lists_path: n_after}
