"""The swap-surface commit protocol (``operators/dirswap.py``): a staged
generation verified, then published by one pointer commit.

Covers the crash points of a publish, the pointer commit on every backend
(``os`` for bare paths, the Hadoop FileSystem API for ``file://``, and a
simulated object store), verify failures, reader grace, surface removal,
and the ledger / BM25 / IVF rewrites that publish through it.  More
generation-path tests live beside the features they guard:
``test_round11_hardening`` (crash properties, full stack on a simulated
object store), ``test_round12_hardening`` (lineage, min-age grace, IVF
quantizer commits) and ``test_round13_hardening`` (age-probe failures,
conditional-store publishes, maintenance-window reclamation).
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SMOKE_SF_DIR
from tests.test_round11_hardening import _vec


def _stage(D, live, payload: str, spark=None) -> str:
    """Allocate the next generation of ``live`` and write one file."""
    s = D.stage_path(live, spark)
    D.fs_mkdirs(s, spark)
    D.atomic_write(os.path.join(s, "data.txt"), payload.encode(), spark)
    return s


def _read(D, d, spark=None) -> str:
    return D.fs_read_bytes(os.path.join(d, "data.txt"), spark).decode()


def _current(D, live, spark=None) -> str:
    return _read(D, D.read_path(live, spark), spark)


def _mk_plain(live, payload):
    os.makedirs(live)
    with open(os.path.join(live, "data.txt"), "w") as f:
        f.write(payload)


def _ptr(live) -> str:
    return os.path.join(live + "__gens", "_CURRENT.json")


# ---------------------------------------------------------------------------
# verify, reader grace, crash points (bare local paths: os backend)
# ---------------------------------------------------------------------------


def test_bad_stage_leaves_pointer_and_readers_untouched(tmp_path):
    """A stage that fails verify is never published: readers keep the
    previous data (the plain directory before a first publish, the
    current generation after one), no pointer is written or changed,
    and the bad stage stays for post-mortem."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = str(tmp_path / "live")
    _mk_plain(live, "good")

    def verify(p):
        if _read(D, p) != "good":
            raise IOError("corrupt")

    bad = _stage(D, live, "corrupt")
    with pytest.raises(IOError):
        D.swap_in(live, bad, verify=verify)
    assert D.read_path(live) == live and _current(D, live) == "good"
    assert not os.path.exists(_ptr(live))
    assert os.path.exists(bad)

    good = _stage(D, live, "good")
    D.swap_in(live, good, verify=verify)
    ptr_before = open(_ptr(live), "rb").read()
    bad2 = _stage(D, live, "corrupt again")
    with pytest.raises(IOError):
        D.swap_in(live, bad2, verify=verify)
    assert D.read_path(live) == good
    assert open(_ptr(live), "rb").read() == ptr_before


def test_publish_verifies_stage_and_retains_predecessor(tmp_path):
    """A publish calls verify once, with the stage (the published bytes
    ARE the verified ones), and retains the displaced predecessor as the
    reader-grace copy until the next publish reaps it."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = str(tmp_path / "live")
    _mk_plain(live, "old")
    held = D.read_path(live)  # a reader resolves before the publish
    s1 = _stage(D, live, "new")
    seen = []
    D.swap_in(live, s1, verify=seen.append)
    assert seen == [s1]
    assert _current(D, live) == "new"
    assert _read(D, held) == "old"  # the in-flight reader still reads

    held = D.read_path(live)
    s2 = _stage(D, live, "newer")
    D.swap_in(live, s2)
    assert _current(D, live) == "newer"
    assert _read(D, held) == "new"  # grace copy: the previous generation
    assert not os.path.exists(live)  # plain dir left the retained lineage


def test_dirswap_crash_matrix(tmp_path, monkeypatch):
    """Every crash point of a publish leaves a readable surface with no
    repair step: before the pointer commit readers see the previous
    generation; after it, the new one.  Torn stages are invisible, their
    numbers are never reused, and the next publish reaps them."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = str(tmp_path / "a")
    _mk_plain(live, "v0")

    # crash after allocating the stage, before any data lands
    torn_empty = D.stage_path(live)
    os.makedirs(torn_empty)
    assert _current(D, live) == "v0"
    # crash mid stage write (partial data, never verified)
    torn_partial = _stage(D, live, "half")
    assert _current(D, live) == "v0"
    assert D.stage_path(live) not in (torn_empty, torn_partial)

    # crash between the pointer's tmp write and its rename
    s = _stage(D, live, "v1")
    real_replace = os.replace

    def crash_replace(src, dst):
        if dst == _ptr(live):
            raise OSError("simulated crash before pointer rename")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_replace)
    with pytest.raises(OSError, match="simulated crash"):
        D.swap_in(live, s)
    monkeypatch.setattr(os, "replace", real_replace)
    assert os.path.exists(_ptr(live) + ".tmp")  # the torn tmp is inert
    assert D.read_path(live) == live and _current(D, live) == "v0"

    # a good publish after the crashes; its GC reaps every torn stage
    s1 = _stage(D, live, "v1")
    D.swap_in(live, s1)
    assert _current(D, live) == "v1"
    for torn in (torn_empty, torn_partial, s):
        assert not os.path.exists(torn)

    # crash after the pointer commit, before GC: new data is current,
    # and the next publish's GC finishes the job
    s2 = _stage(D, live, "v2")
    junk = _stage(D, live, "torn")
    real_gc = D.gc_generations

    def crash_gc(*a, **k):
        raise OSError("simulated crash in GC")

    monkeypatch.setattr(D, "gc_generations", crash_gc)
    with pytest.raises(OSError, match="in GC"):
        D.swap_in(live, s2)
    monkeypatch.setattr(D, "gc_generations", real_gc)
    assert _current(D, live) == "v2"
    assert os.path.exists(junk)
    s3 = _stage(D, live, "v3")
    D.swap_in(live, s3)
    assert _current(D, live) == "v3"
    assert not os.path.exists(junk)
    assert sorted(
        n for n in os.listdir(live + "__gens") if n.startswith("gen-")
    ) == [os.path.basename(s2), os.path.basename(s3)]

    # a stage not allocated by stage_path is refused before any write
    with pytest.raises(ValueError, match="stage_path"):
        D.swap_in(live, str(tmp_path / "elsewhere"))
    assert _current(D, live) == "v3"


def test_rename_era_layout_reads_as_plain_directory(tmp_path):
    """A surface written by a build that swapped by directory rename is a
    plain directory with no pointer: it reads as the pre-first-publish
    directory and publishes onward with no migration step.  A sibling
    ``<live>__old`` left by a crash of that build is not consulted."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = str(tmp_path / "tbl")
    _mk_plain(live, "rename-era")
    _mk_plain(live + "__old", "parked")
    assert D.read_path(live) == live and _current(D, live) == "rename-era"
    s = _stage(D, live, "next")
    D.swap_in(live, s)
    assert _current(D, live) == "next"
    assert _read(D, live + "__old") == "parked"  # untouched


def test_remove_surface_removes_pointer_generations_and_plain_dir(tmp_path):
    """Removing a surface takes the pointer, every generation and the
    plain directory, so nothing resurrects it; the path then reads as a
    fresh surface and can be published again from generation 0."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = str(tmp_path / "tbl")
    _mk_plain(live, "plain")
    for v in ("v1", "v2"):
        D.swap_in(live, _stage(D, live, v))
    _stage(D, live, "torn")
    D.remove_surface(live)
    assert D.read_path(live) == live
    assert not os.path.exists(live)
    assert not os.path.exists(live + "__gens")
    s = _stage(D, live, "again")
    assert os.path.basename(s) == "gen-000000000"
    D.swap_in(live, s)
    assert _current(D, live) == "again"


def test_gc_keep_one_collapses_lineage_to_current(spark, tmp_path, objstore):
    """Maintenance-cadence reclamation is ``gc_generations(keep=1)``: it
    collapses the retained lineage to the current generation and leaves
    the current bytes readable."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = f"file://{tmp_path}/tbl"
    D.swap_in(live, _stage(D, live, "x", spark), spark=spark)
    D.swap_in(live, _stage(D, live, "y", spark), spark=spark)

    def gens():
        return [
            g for g in D.fs_listdir(live + "__gens", spark)
            if g.startswith("gen-")
        ]

    assert len(gens()) == 2  # current + default grace predecessor
    assert len(D.gc_generations(live, spark, keep=1)) == 1
    cur = D.read_path(live, spark)
    assert _read(D, cur, spark) == "y"
    assert gens() == [os.path.basename(cur)]


# ---------------------------------------------------------------------------
# the pointer commit on every backend
# ---------------------------------------------------------------------------


@pytest.fixture(params=["local", "hadoop", "objstore"])
def store_live(request, tmp_path):
    """A swap-surface path on each backend: a bare local path (os), a
    ``file://`` URI (Hadoop LocalFileSystem, tmp + rename-with-OVERWRITE)
    and a ``file://`` URI on the simulated object store (direct PUT)."""
    if request.param == "local":
        return request.param, str(tmp_path / "tbl"), None
    spark = request.getfixturevalue("spark")
    if request.param == "objstore":
        request.getfixturevalue("objstore")
    return request.param, f"file://{tmp_path}/tbl", spark


def test_pointer_commit_fault_keeps_previous_generation(
    store_live, monkeypatch
):
    """A fault between the pointer's tmp write and its rename — or in
    the PUT itself on an object store — leaves every reader on the
    previous generation, and the next publish commits normally."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    kind, live, spark = store_live
    D.swap_in(live, _stage(D, live, "v1", spark), spark=spark)
    prev = D.read_path(live, spark)
    s = _stage(D, live, "v2", spark)

    def fault(*a, **k):
        raise OSError("simulated fault at the pointer commit")

    if kind == "local":
        real = os.replace
        monkeypatch.setattr(
            os, "replace",
            lambda src, dst: fault() if dst.endswith("_CURRENT.json")
            else real(src, dst),
        )
    elif kind == "hadoop":
        monkeypatch.setattr(D._HadoopFs, "rename_overwrite", fault)
    else:
        real = D._HadoopFs.write_bytes
        monkeypatch.setattr(
            D._HadoopFs, "write_bytes",
            lambda self, p, data: fault() if p.endswith("_CURRENT.json")
            else real(self, p, data),
        )
    with pytest.raises(OSError, match="simulated fault"):
        D.swap_in(live, s, spark=spark)
    monkeypatch.undo()
    assert D.read_path(live, spark) == prev
    assert _current(D, live, spark) == "v1"
    s2 = _stage(D, live, "v3", spark)
    D.swap_in(live, s2, spark=spark)
    assert D.read_path(live, spark) == s2
    assert _current(D, live, spark) == "v3"


def test_pointer_never_written_in_place_on_file_uri(spark, tmp_path, monkeypatch):
    """On ``file://`` (a rename-capable store) the pointer is written to a
    tmp object and renamed over the old one; no write ever targets the
    pointer itself, so a reader can never see a truncated pointer."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = f"file://{tmp_path}/tbl"
    ptr = _ptr(live)
    writes, renames = [], []
    real_write, real_rename = D._HadoopFs.write_bytes, D._HadoopFs.rename_overwrite

    def spy_write(self, p, data):
        writes.append(p)
        real_write(self, p, data)

    def spy_rename(self, src, dst):
        renames.append((src, dst))
        real_rename(self, src, dst)

    monkeypatch.setattr(D._HadoopFs, "write_bytes", spy_write)
    monkeypatch.setattr(D._HadoopFs, "rename_overwrite", spy_rename)
    for v in ("v1", "v2", "v3"):
        D.swap_in(live, _stage(D, live, v, spark), spark=spark)
    assert ptr not in writes
    assert writes.count(ptr + ".tmp") == 3
    assert renames.count((ptr + ".tmp", ptr)) == 3
    assert json.loads(D.fs_read_bytes(ptr, spark))["gen"] == "gen-000000002"
    assert _current(D, live, spark) == "v3"


def test_pointer_is_one_put_on_object_store(spark, tmp_path, objstore,
                                            monkeypatch):
    """On an object store the pointer commit is one direct PUT (atomic on
    close) and no rename of any kind runs (the fixture makes one fail)."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    live = f"file://{tmp_path}/tbl"
    ptr = _ptr(live)
    writes = []
    real_write = D._HadoopFs.write_bytes

    def spy_write(self, p, data):
        writes.append(p)
        real_write(self, p, data)

    monkeypatch.setattr(D._HadoopFs, "write_bytes", spy_write)
    D.swap_in(live, _stage(D, live, "v1", spark), spark=spark)
    D.swap_in(live, _stage(D, live, "v2", spark), spark=spark)
    assert writes.count(ptr) == 2
    assert ptr + ".tmp" not in writes
    assert _current(D, live, spark) == "v2"


def test_hadoop_backend_sidecars_publish_and_verify_failure(spark, tmp_path):
    """The Hadoop-FS backend (``file://`` binds LocalFileSystem, the same
    code path an hdfs:// or abfs:// path takes): atomic sidecar
    write/overwrite/read, a verified publish, and a verify failure that
    leaves the published generation current."""
    from sql_data_warehouse_samples_spark.operators import dirswap as dw

    base = f"file://{tmp_path}/hfs"
    dw.fs_mkdirs(base + "/live", spark)
    dw.atomic_json_write(base + "/live/_META.json", {"v": 1}, spark)
    assert json.loads(dw.fs_read_bytes(base + "/live/_META.json", spark)) == {
        "v": 1
    }
    # atomic OVERWRITE (FileContext rename with Options.Rename.OVERWRITE)
    dw.atomic_json_write(base + "/live/_META.json", {"v": 2}, spark)
    assert json.loads(dw.fs_read_bytes(base + "/live/_META.json", spark)) == {
        "v": 2
    }
    assert dw.fs_listdir(base + "/live", spark) == ["_META.json"]

    def meta(p):
        return json.loads(dw.fs_read_bytes(p + "/_META.json", spark))

    live = base + "/live"
    stage = dw.stage_path(live, spark)
    dw.fs_mkdirs(stage, spark)
    dw.atomic_json_write(stage + "/_META.json", {"v": 3}, spark)
    dw.swap_in(live, stage, verify=meta, spark=spark)
    assert meta(dw.read_path(live, spark)) == {"v": 3}
    assert meta(live) == {"v": 2}  # plain dir: the retained predecessor

    stage2 = dw.stage_path(live, spark)
    dw.fs_mkdirs(stage2, spark)
    dw.atomic_json_write(stage2 + "/_META.json", {"v": 4}, spark)

    def failing(p):
        raise RuntimeError("stage corruption")

    with pytest.raises(RuntimeError, match="stage corruption"):
        dw.swap_in(live, stage2, verify=failing, spark=spark)
    assert dw.read_path(live, spark) == stage
    assert dw.fs_exists(stage2, spark)  # kept for post-mortem


def test_first_publish_on_hadoop_backend(spark, tmp_path):
    """An IvfIndex.build over a fresh ``file://`` path bootstraps through
    the same publish (no live directory yet), and a rebuild publishes a
    new generation while the first build stays as the grace copy."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    path = f"file://{tmp_path}/ivf"
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)],
        "vec_id: long, embedding: array<double>",
    )
    idx = IvfIndex.build(emb, path, nlist=2)  # first publish: live absent
    assert idx.search(emb.limit(1), k=2, nprobe=2).count() == 2
    first = D.read_path(path + "/lists", spark)
    assert first != path + "/lists"
    assert not D.fs_exists(path + "/lists", spark)  # no plain directory
    emb2 = spark.createDataFrame(
        [(100 + i, _vec(100 + i)) for i in range(6)],
        "vec_id: long, embedding: array<double>",
    )
    idx2 = IvfIndex.build(emb2, path, nlist=2)  # rebuild: next generation
    assert sorted(
        r.neighbor_id for r in idx2._lists(spark).select("neighbor_id").collect()
    ) == [100 + i for i in range(6)]
    assert D.read_path(path + "/lists", spark) != first
    assert spark.read.parquet(first).count() == 8  # retained grace copy


# ---------------------------------------------------------------------------
# ledger / BM25 / IVF rewrites crashing mid-publish
# ---------------------------------------------------------------------------


def _crash_at_pointer(monkeypatch, D):
    """Make every pointer commit fail, as a crash at the commit would."""
    real = D.atomic_write

    def crash(path, data, spark=None):
        if path.endswith("_CURRENT.json"):
            raise RuntimeError("simulated crash at the pointer commit")
        real(path, data, spark)

    monkeypatch.setattr(D, "atomic_write", crash)


def test_ledger_compact_crash_mid_publish_keeps_previous(
    spark, tmp_path, monkeypatch
):
    """A compact that crashes at its pointer commit leaves the ledger
    readable with its previous contents, still deduplicating; the next
    compact publishes normally."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators.ledger import (
        ContentHashLedger,
    )

    led = ContentHashLedger(spark, str(tmp_path / "ledger"))
    led.ingest(
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id: long, text: string"
        )
    )
    assert led.compact(n_files=1) == 2
    published = D.read_path(led.path, spark)
    led.ingest(
        spark.createDataFrame([(3, "gamma")], "doc_id: long, text: string")
    )
    with monkeypatch.context() as m:
        _crash_at_pointer(m, D)
        with pytest.raises(RuntimeError, match="simulated crash"):
            led.compact(n_files=1)
    assert D.read_path(led.path, spark) == published
    assert led.hashes().count() == 3
    assert led.ingest(
        spark.createDataFrame([(9, "alpha")], "doc_id: long, text: string")
    ).count() == 0
    assert led.compact(n_files=1) == 3
    assert D.read_path(led.path, spark) != published


def test_minhash_ledger_crash_mid_publish_reads_previous(
    spark, tmp_path, monkeypatch
):
    """The signature ledger: a compact that dies at its pointer commit
    leaves the previous signatures (and their params sidecar) current."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators.ledger import (
        MinHashSignatureLedger,
    )

    led = MinHashSignatureLedger(spark, str(tmp_path / "sigled"))
    for i in range(3):
        led.ingest(
            spark.createDataFrame(
                [(i * 10, f"unique document number {i} with distinct content words {i}")],
                "doc_id: long, text: string",
            )
        )
    assert led.compact(n_files=1) == 3
    with monkeypatch.context() as m:
        _crash_at_pointer(m, D)
        with pytest.raises(RuntimeError, match="simulated crash"):
            led.compact(n_files=1)
    assert led.signatures().count() == 3
    led._check_params(write=False)  # the pinned sidecar still resolves
    assert led.compact(n_files=1) == 3


def test_bm25_forget_crash_mid_publish_keeps_index_readable(
    spark, tmp_path, monkeypatch
):
    """A forget that crashes at the postings publish leaves the index
    readable and unchanged; re-running the forget converges."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha zeta")],
        "doc_id: long, text: string",
    )
    path = str(tmp_path / "bm25")
    idx = Bm25Index.build(docs, path, n_buckets=4)
    idx.compact()  # postings/doclens now behind generation pointers
    gone = spark.createDataFrame([(3,)], "doc_id: long")
    with monkeypatch.context() as m:
        _crash_at_pointer(m, D)
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.forget(gone)
    assert idx.topk("alpha", k=5).count() == 2
    assert Bm25Index(spark, path).topk("alpha", k=5).count() == 2
    idx.forget(gone)
    assert {r.doc_id for r in idx.topk("alpha", k=5).collect()} == {1}


def test_ivf_compact_crash_mid_publish_keeps_previous(
    spark, tmp_path, monkeypatch
):
    """An IVF compact that crashes at its pointer commit leaves searches
    answering exactly as before."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D
    from sql_data_warehouse_samples_spark.operators.similarity import IvfIndex

    e = spark.read.parquet(os.path.join(SMOKE_SF_DIR, "embeddings.parquet"))
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(e, path, nlist=4)
    q = e.limit(2)
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in idx.search(q, k=3).collect()
    }
    idx.compact(spark)
    with monkeypatch.context() as m:
        _crash_at_pointer(m, D)
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.compact(spark)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in IvfIndex.load(spark, path).search(q, k=3).collect()
    }
    assert got == want
