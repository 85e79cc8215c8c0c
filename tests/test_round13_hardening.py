"""Round-12 hardening: the r11 ADVICE lows — the generation-GC age
probe's exception tolerance on the Hadoop/object backends, reader-grace
reclamation in the maintenance window (so grace generations no longer
persist until the surface's NEXT publish), the
maintenance window's census gate compared per SURFACE instead of
summed across a step's surface set, and the serving-cache fingerprint's
walk-order/relative-path key.
"""

import os

import pytest

from tests.conftest import spark  # noqa: F401
from tests.test_round11_hardening import _vec


def _publish(D, live: str, spark=None, payload: bytes = b"x"):
    """Stage one file and publish it; returns the stage path that was
    published."""
    s = D.stage_path(live, spark)
    h = D._hfs(s, spark)
    if h is None:
        os.makedirs(s, exist_ok=True)
        with open(os.path.join(s, "data.bin"), "wb") as f:
            f.write(payload)
    else:
        D.fs_mkdirs(s, spark)
        h.write_bytes(os.path.join(s, "data.bin"), payload)
    D.swap_in(live, s, spark=spark)
    return s


# ---------------------------------------------------------------------------
# gc_generations min_age_s: backend age-probe failures mean "reapable"
# ---------------------------------------------------------------------------


def test_gc_min_age_tolerates_nonoserror_mtime_failures(
    spark, tmp_path, objstore, monkeypatch
):
    """r11 ADVICE: on the Hadoop/object backends fs_mtime surfaces
    Py4J-wrapped Java exceptions (not OSError) for a raced-away path —
    min_age_s GC must treat those as reapable, not abort mid-sweep."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = f"file://{tmp_path}/tbl"
    _publish(D, live, spark)
    _publish(D, live, spark)
    _publish(D, live, spark)  # lineage: current + 2 predecessors

    def _py4j_mtime(path, spark=None):
        raise RuntimeError(
            "py4j.protocol.Py4JJavaError: java.io.FileNotFoundException"
        )

    monkeypatch.setattr(D, "fs_mtime", _py4j_mtime)
    # every age probe fails -> nothing is "too young" -> keep=1 reaps
    # the grace copies instead of aborting on the first probe
    removed = D.gc_generations(live, spark, keep=1, min_age_s=3600.0)
    assert removed, "age-probe failures must not abort the sweep"
    cur = D.read_path(live, spark)
    gens = D.fs_listdir(live + "__gens", spark)
    assert [g for g in gens if g.startswith("gen-")] == [
        os.path.basename(cur)
    ]
    assert D.fs_read_bytes(os.path.join(cur, "data.bin"), spark) == b"x"


def test_maintenance_window_reclaims_grace(spark, tmp_path):
    """corpus_maintenance_window(grace_min_age_s=0.0): after the compacts
    publish, the window's final step reclaims every touched surface's
    grace copy — no surface carries a full second copy of each
    ledger/index until its next publish."""
    from sql_data_warehouse_samples_spark import maintenance as M
    from sql_data_warehouse_samples_spark.operators import dirswap as D
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

    def gens(surface):
        return [
            g for g in D.fs_listdir(surface + "__gens") if g.startswith("gen-")
        ]

    report = M.corpus_maintenance_window(
        spark, pipe, indexes=(ivf,), grace_min_age_s=0.0
    )
    assert "grace_reclaimed" in report
    # the ledger compact published over the plain ingest directory,
    # which stayed as the grace copy until the reclamation step
    for suffix in ("exact", "near"):
        surface = getattr(pipe, suffix).path
        assert surface in report["grace_reclaimed"]
        assert not os.path.exists(surface)
        assert len(gens(surface)) == 1
    lists = str(tmp_path / "ivf" / "lists")
    assert len(gens(lists)) == 1  # the build's generation was reclaimed
    # the data itself is intact after reclamation
    assert pipe.exact.hashes().count() == 2
    assert ivf._lists(spark).count() == 6

    # a second window with a generous grace keeps the fresh copies
    report2 = M.corpus_maintenance_window(
        spark, pipe, indexes=(ivf,), grace_min_age_s=3600.0
    )
    assert report2["grace_reclaimed"] == []
    assert len(gens(lists)) == 2


# ---------------------------------------------------------------------------
# Census gate: per-surface comparison (ADVICE r11)
# ---------------------------------------------------------------------------


def test_census_gate_compares_per_surface_not_sum(spark, tmp_path):
    """A step whose surfaces are EACH at the gate must skip even when
    their sum exceeds it — the old summed census re-compacted healthy
    surface pairs (exact+near ledgers, postings+doclens)."""
    from sql_data_warehouse_samples_spark import maintenance as M
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")],
        "doc_id: long, text: string",
    )
    pipe = AdmissionPipeline(spark, str(tmp_path / "ledgers"))
    pipe.admit(docs, idempotency_key="b0")
    pipe.compact(1)  # both ledgers now at their file-count floor

    censuses = {
        s: M.parquet_file_census(spark, s)
        for s in (pipe.exact.path, pipe.near.path)
    }
    gate = max(censuses.values())
    assert sum(censuses.values()) > gate  # the old sum would have fired

    report = M.corpus_maintenance_window(
        spark, pipe, skip_compact_below=gate
    )
    assert report["compact_skipped[ledgers]"] == censuses
    assert "ledger_exact_rows" not in report


# ---------------------------------------------------------------------------
# Serving-cache fingerprint: full-relative-path keys, sorted whole
# ---------------------------------------------------------------------------


def test_serving_cache_key_is_relpath_keyed_and_order_free(tmp_path):
    """r11 ADVICE: identical basename/size/mtime multisets under
    DIFFERENT subdirectories must fingerprint differently (the old key
    used basenames only), and the key must be stable across calls
    (sorted over full relative paths, not os.walk order)."""
    from sql_data_warehouse_samples_spark.workload._util import (
        serving_cache_dir,
    )

    import shutil

    stamp = 1_700_000_000
    sf_dir = str(tmp_path / "sf")
    src = os.path.join(sf_dir, "documents.parquet")

    def _mk(layout):
        shutil.rmtree(src, ignore_errors=True)
        for rel, size in layout.items():
            p = os.path.join(src, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(b"\0" * size)
            os.utime(p, (stamp, stamp))
        for d, _dirs, _files in os.walk(src):
            os.utime(d, (stamp, stamp))

    # same sf_dir, same basename:size:mtime multiset, files under
    # DIFFERENT subdirectories — the old basename-only key collided
    _mk({"s1/part-0": 3, "s2/part-1": 5})
    key_a = os.path.basename(serving_cache_dir(sf_dir, "bm25", "documents"))
    key_a2 = os.path.basename(serving_cache_dir(sf_dir, "bm25", "documents"))
    _mk({"s1/part-1": 5, "s2/part-0": 3})
    key_b = os.path.basename(serving_cache_dir(sf_dir, "bm25", "documents"))

    assert key_a != key_b
    assert key_a == key_a2  # deterministic across calls


# ---------------------------------------------------------------------------
# Conditional (CAS) commits: the races the advisory mode documents are
# CLOSED when a conditional-write adapter is registered (r12)
# ---------------------------------------------------------------------------


@pytest.fixture
def casstore():
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    store = D.LocalConditionalStore()
    D.register_conditional_store("file", store)
    try:
        yield store
    finally:
        D.register_conditional_store("file", None)


def test_local_conditional_store_semantics(tmp_path):
    """The adapter contract itself: create-if-absent, replace-if-
    unchanged, conditional delete — each precondition failure raises."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    store = D.LocalConditionalStore()
    p = str(tmp_path / "obj.json")

    assert store.read(p) is None
    store.put(p, b"v1", None)  # create-if-absent
    with pytest.raises(D.CasConflict):
        store.put(p, b"v1b", None)  # already exists
    data, tag = store.read(p)
    assert data == b"v1"
    store.put(p, b"v2", tag)  # replace-if-unchanged
    with pytest.raises(D.CasConflict):
        store.put(p, b"v3", tag)  # stale tag
    _, tag2 = store.read(p)
    with pytest.raises(D.CasConflict):
        store.delete(p, tag)  # stale tag
    store.delete(p, tag2)
    assert store.read(p) is None
    store.delete(p, tag2)  # absent: idempotent no-op


def test_concurrent_generations_publish_loses_atomically(
    spark, tmp_path, objstore, casstore, monkeypatch
):
    """With a conditional store, a publish whose pointer read went
    stale (another writer committed in between) raises at the pointer
    PUT — the winner's pointer survives, the loser's stage stays
    invisible — instead of last-writer-wins orphaning the winner."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = f"file://{tmp_path}/tbl"
    _publish(D, live, spark)
    winner = D.read_path(live, spark)

    # the loser stages, then its pointer READ races a concurrent commit:
    # simulate by serving it the pre-publish view (absent pointer)
    stale_read = lambda path: None  # noqa: E731
    monkeypatch.setattr(casstore, "read", stale_read)
    s = D.stage_path(live, spark)
    D.fs_mkdirs(s, spark)
    D._hfs(s, spark).write_bytes(os.path.join(s, "data.bin"), b"loser")
    with pytest.raises(RuntimeError, match="concurrent publish"):
        D.swap_in(live, s, spark=spark)
    monkeypatch.undo()

    # the winner's pointer is untouched and still serves its bytes
    assert D.read_path(live, spark) == winner
    assert (
        D.fs_read_bytes(os.path.join(winner, "data.bin"), spark) == b"x"
    )


def test_lease_is_fenced_on_conditional_store(spark, tmp_path, casstore):
    """WriterLease over a conditional store: racing acquires lose
    atomically, the zombie-heartbeat race is closed (the takeover's
    record survives), and release cannot delete a successor's lease."""
    from sql_data_warehouse_samples_spark.maintenance import WriterLease

    root = f"file://{tmp_path}/guarded"
    lease_a = WriterLease(spark, root, ttl_s=3600.0)
    lease_b = WriterLease(spark, root, ttl_s=3600.0)

    token_a = lease_a.acquire("sink")
    lease_a.require(token_a)

    # racing acquire: B's read goes stale before its put
    stale = lease_a._holder_tagged()

    class _StaleOnce:
        def __init__(self, real):
            self.real, self.used = real, False

        def __call__(self):
            if not self.used:
                self.used = True
                return stale
            return self.real()

    # B reads A's record (stale by the time it writes: A heartbeats)
    lease_b._holder_tagged = _StaleOnce(lease_b._holder_tagged)
    lease_a.require(token_a)  # heartbeat rotates the tag
    with pytest.raises(RuntimeError, match="concurrently written"):
        lease_b.acquire("maintenance", force=True)
    # A is unaffected
    lease_a.require(token_a)

    # zombie heartbeat: A's read sees its own record, B takes over
    # BEFORE A's conditional refresh lands -> A fences at the heartbeat
    # and B's record is NOT clobbered (the closed ADVICE race)
    stale_a = lease_a._holder_tagged()
    token_b = lease_b.acquire("maintenance", force=True)
    lease_a._holder_tagged = lambda: stale_a
    with pytest.raises(RuntimeError, match="during the heartbeat"):
        lease_a.require(token_a)
    lease_b.require(token_b)  # intact — the zombie could not rewrite it

    # release race: A's stale release cannot delete B's lease
    lease_a.release(token_a)
    lease_b.require(token_b)
    del lease_a._holder_tagged  # restore the real method
    lease_a.release(token_a)  # displaced: no-op
    lease_b.require(token_b)
    lease_b.release(token_b)
    assert lease_b.holder() is None


# ---------------------------------------------------------------------------
# s16: IVF-PQ index-backed refined serving ≡ the scan-path refine (r12)
# ---------------------------------------------------------------------------


def test_ivfpq_search_refined_matches_scan_refine(spark, tmp_path):
    """The persisted index's two-stage serving path (search_refined,
    exact_decimal) is value-identical to pq_refine_topk over the same
    deterministic codebooks when every list is probed — the identity
    s16's shared oracle stands on."""
    from sql_data_warehouse_samples_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(24)],
        "vec_id: long, embedding: array<double>",
    )
    queries = emb.filter("vec_id < 3")

    books = S.pq_codebooks(emb, m=4, k=8)
    codes = S.pq_encode(emb, books).select("vec_id", "pq")
    scan = S.pq_refine_topk(
        codes, emb, queries, books, k=3, candidates=8, exact_decimal=True
    )

    idx = S.IvfPqIndex.build(
        emb, str(tmp_path / "ivfpq"), nlist=4, m=4, k_pq=8
    )
    served = idx.search_refined(
        queries, emb, k=3, nprobe=4, candidates=8, exact_decimal=True
    )

    key = lambda r: (r["query_id"], r["nbr_rank"])  # noqa: E731
    a = sorted(scan.collect(), key=key)
    b = sorted(served.collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # a reopened handle serves the same values (load path agreement)
    reopened = S.IvfPqIndex.load(spark, str(tmp_path / "ivfpq"))
    c = sorted(
        reopened.search_refined(
            queries, emb, k=3, nprobe=4, candidates=8, exact_decimal=True
        ).collect(),
        key=key,
    )
    assert [tuple(r) for r in b] == [tuple(r) for r in c]


def test_admission_sink_fenced_lease_on_conditional_store(
    spark, tmp_path, objstore, casstore, monkeypatch
):
    """The composed path: a lease-guarded admission sink running the
    generations commit protocol on a conditional store.  A foreign
    takeover (conditional-PUT force-acquire) between micro-batches
    fences the sink BEFORE its next batch writes; while the foreign
    holder lives, the sink cannot re-acquire; after release, a restart
    replays the abandoned batch to convergence (the exactly-once
    contract across a fencing event)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sql_data_warehouse_samples_spark.maintenance import WriterLease
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )
    from sql_data_warehouse_samples_spark.streaming import ingest as SI
    from tests.test_round8_hardening import _text
    from tests.test_streaming import _doc_row, _write_doc_batches

    base = f"file://{tmp_path}"
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_doc_batches(
        spark, src,
        [[_doc_row(1, _text("alpha"))], [_doc_row(2, _text("beta"))]],
        SI.DOC_SCHEMA,
    )
    pipe = AdmissionPipeline(spark, base + "/ledgers")
    lease = WriterLease(spark, base + "/guarded", ttl_s=3600.0)
    foreign = WriterLease(spark, base + "/guarded", ttl_s=3600.0)

    # a takeover lands between the two micro-batches: wrap require so the
    # SECOND check runs after a foreign conditional-PUT force-acquire
    calls = {"n": 0}
    foreign_token = {}
    real_require = lease.require

    def require_with_takeover(token):
        calls["n"] += 1
        if calls["n"] == 2:
            foreign_token["t"] = foreign.acquire("maintenance", force=True)
        real_require(token)

    monkeypatch.setattr(lease, "require", require_with_takeover)

    def run():
        SI.admission_sink(
            spark.readStream.schema(SI.DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            pipe,
            base + "/corpus",
            checkpoint=str(tmp_path / "ckpt"),
            lease=lease,
        ).awaitTermination()

    with pytest.raises(StreamingQueryException, match="taken over"):
        run()
    # batch 1 landed before the takeover; batch 2 was fenced out
    assert sorted(
        r.doc_id for r in spark.read.parquet(base + "/corpus").collect()
    ) == [1]

    # while the foreign holder lives, the sink cannot come back
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="held by 'maintenance'"):
        lease.acquire(f"admission_sink:{tmp_path / 'ckpt'}")

    # maintenance releases; the restarted sink re-acquires and replays
    # the abandoned micro-batch to convergence
    foreign.release(foreign_token["t"])
    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(base + "/corpus").collect()
    ) == [1, 2]
    assert pipe.exact.hashes().count() == 2
