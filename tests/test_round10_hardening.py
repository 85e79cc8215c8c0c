"""Round-10 pull-forwards: tombstone retention, the Hadoop-FS dirswap
backend, and the versioned tokenizer artifact.

The deduped tombstone table grows forever by design — only the caller
knows when a batch key is settled (its checkpoint committed past the
batch, the raw batch retired).  ``prune_tombstones`` is that caller-side
retention decision surfaced as a maintenance op; these tests lock its
contract: prune only what was asked, refuse malformed keys, drop the
never-consulted ``base``/``u<N>`` rows on request, stay crash-safe
(staged swap / prune-to-empty removes the table), and — the documented
hazard — a pruned key's replay resurrects, which is exactly why the
contract is "settled keys only".
"""

import glob
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sql_data_warehouse_samples_spark.operators.dirswap import read_path
from tests.conftest import spark  # noqa: F401


def _vec(seed: int, dim: int = 4) -> list:
    """Deterministic unit-ish vector for a doc id (no RNG in tests)."""
    return [float((seed * (j + 3)) % 17) + 0.25 * j for j in range(dim)]


def _ts(spark, path):
    return spark.read.parquet(read_path(str(path)))


def test_prune_tombstones_bm25_settled_key_lifecycle(spark, tmp_path):
    """Full lifecycle on the lexical index: forget() under two keys, prune
    one as settled → the other key's replay protection is UNTOUCHED; the
    pruned key's replay now resurrects (the documented caller contract);
    prune-to-empty removes the table dir so the replay-side read cost
    drops to an existence check."""
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id: long, text: string"
    )
    b1 = spark.createDataFrame(
        [(10, "epsilon zeta")], "doc_id: long, text: string"
    )
    b2 = spark.createDataFrame(
        [(20, "iota kappa")], "doc_id: long, text: string"
    )
    idx = Bm25Index.build(base, str(tmp_path / "bm25"), n_buckets=4)
    idx.ingest(b1, idempotency_key="k1")
    idx.ingest(b2, idempotency_key="k2")
    idx.forget(spark.createDataFrame([(10,), (20,)], "doc_id: long"))
    ts_dir = tmp_path / "bm25" / "tombstones"
    assert _ts(spark, ts_dir).count() == 2

    # k1 settles (its upstream checkpoint committed past it)
    assert idx.prune_tombstones(settled_keys=["k1"]) == 1
    left = _ts(spark, ts_dir).collect()
    assert [(r["doc_id"], r["__bk"]) for r in left] == [(20, "k-k2")]
    # rewrite stays one-file (the deduped-table invariant)
    assert len(glob.glob(read_path(str(ts_dir)) + "/*.parquet")) == 1

    # k2 is NOT settled: its crash-replay must still be blocked
    idx.ingest(b2, idempotency_key="k2")
    assert idx.topk("iota", k=5).count() == 0
    # k1 WAS pruned: a replay of its original batch resurrects — the
    # documented hazard that makes "settled" the caller's contract
    idx.ingest(b1, idempotency_key="k1")
    assert idx.topk("epsilon", k=5).count() == 1

    # pruning the last key removes the table directory entirely
    assert idx.prune_tombstones(settled_keys=["k2"]) == 1
    assert not os.path.exists(ts_dir)
    # idempotent / missing-table → 0
    assert idx.prune_tombstones(settled_keys=["k2"]) == 0


def test_prune_tombstones_unreplayable_rows_and_key_validation(spark, tmp_path):
    """``include_unreplayable`` drops base/u<N> rows (consulted by no code
    path — only keyed replays read tombstones) while keeping keyed rows;
    a malformed settled key raises instead of silently matching nothing;
    no-match prunes return 0 without rewriting the table."""
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id: long, text: string"
    )
    idx = Bm25Index.build(base, str(tmp_path / "bm25"), n_buckets=4)
    # un-keyed append + a keyed batch, then forget across all three grains
    idx.ingest(
        spark.createDataFrame([(30, "mu nu")], "doc_id: long, text: string")
    )
    idx.ingest(
        spark.createDataFrame([(40, "xi omicron")], "doc_id: long, text: string"),
        idempotency_key="live",
    )
    idx.forget(spark.createDataFrame([(1,), (30,), (40,)], "doc_id: long"))
    ts_dir = tmp_path / "bm25" / "tombstones"
    rows = {(r["doc_id"], r["__bk"]) for r in _ts(spark, ts_dir).collect()}
    assert rows == {(1, "base"), (30, "u0"), (40, "k-live")}

    with pytest.raises(ValueError):
        idx.prune_tombstones(settled_keys=["no/slashes"])
    # nothing matched → 0, table untouched
    before = sorted(glob.glob(read_path(str(ts_dir)) + "/*.parquet"))
    assert idx.prune_tombstones(settled_keys=["neverused"]) == 0
    assert sorted(glob.glob(read_path(str(ts_dir)) + "/*.parquet")) == before

    assert idx.prune_tombstones(include_unreplayable=True) == 2
    rows2 = {(r["doc_id"], r["__bk"]) for r in _ts(spark, ts_dir).collect()}
    assert rows2 == {(40, "k-live")}
    # the live key's replay protection survived the prune
    idx.ingest(
        spark.createDataFrame([(40, "xi omicron")], "doc_id: long, text: string"),
        idempotency_key="live",
    )
    assert idx.topk("xi", k=5).count() == 0


def test_prune_tombstones_vector_indexes_and_maintenance_wrapper(
    spark, tmp_path
):
    """The shared tombstone layout means one prune implementation serves
    all three index classes; the maintenance-module wrapper reaches it by
    index path.  IvfIndex pruned via its method, IvfPqIndex via
    ``maintenance.prune_search_tombstones``."""
    from sql_data_warehouse_samples_spark import maintenance
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        IvfPqIndex,
    )

    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(6)], "vec_id: long, embedding: array<double>"
    )
    vbatch = spark.createDataFrame(
        [(50, _vec(50)), (51, _vec(51))],
        "vec_id: long, embedding: array<double>",
    )
    ivf = IvfIndex.build(base, str(tmp_path / "ivf"), nlist=2)
    ivf.add(vbatch, idempotency_key="k1")
    ivf.forget(spark, spark.createDataFrame([(50,)], "vec_id: long"))
    assert _ts(spark, tmp_path / "ivf" / "tombstones").count() == 1
    assert ivf.prune_tombstones(spark, settled_keys=["k1"]) == 1
    assert not os.path.exists(tmp_path / "ivf" / "tombstones")
    # pruned key's replay resurrects (the contract, vector side)
    ivf.add(vbatch, idempotency_key="k1")
    ids = {
        r.neighbor_id
        for r in spark.read.parquet(read_path(str(tmp_path / "ivf" / "lists")))
        .select("neighbor_id")
        .collect()
    }
    assert {50, 51} <= ids

    base8 = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(8)],
        "vec_id: long, embedding: array<double>",
    )
    vbatch8 = spark.createDataFrame(
        [(50, _vec(50, 8)), (51, _vec(51, 8))],
        "vec_id: long, embedding: array<double>",
    )
    pq = IvfPqIndex.build(base8, str(tmp_path / "pq"), nlist=2, m=4, k_pq=4)
    pq.add(vbatch8, idempotency_key="k1")
    pq.forget(spark, spark.createDataFrame([(51,)], "vec_id: long"))
    assert _ts(spark, tmp_path / "pq" / "tombstones").count() == 1
    assert (
        maintenance.prune_search_tombstones(
            spark, str(tmp_path / "pq"), settled_keys=["k1"]
        )
        == 1
    )
    assert not os.path.exists(tmp_path / "pq" / "tombstones")


def test_full_stack_on_hadoop_filesystem_uris(spark, tmp_path):
    """Ledger + both serving indexes constructed on ``file://`` URIs —
    every existence check, sidecar read/write, dir scan, staged swap and
    tombstone op below them now dispatches through the Hadoop FileSystem
    API, so the whole admission/index surface runs on any atomic-rename
    store.  The keyed-replay, forget-tombstone and prune contracts must
    hold identically to the bare-path backend."""
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
    assert led.hashes().count() == 2
    led.compact(1)
    assert led.hashes().count() == 2

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id: long, text: string"
    )
    batch = spark.createDataFrame(
        [(10, "epsilon zeta")], "doc_id: long, text: string"
    )
    idx = Bm25Index.build(docs, base + "/bm25", n_buckets=4)
    idx.ingest(batch, idempotency_key="k1")
    assert idx.topk("epsilon", k=5).count() == 1
    idx.forget(spark.createDataFrame([(10,)], "doc_id: long"))
    idx.ingest(batch, idempotency_key="k1")  # replay: tombstone blocks
    assert idx.topk("epsilon", k=5).count() == 0
    assert idx.prune_tombstones(settled_keys=["k1"]) == 1
    assert Bm25Index(spark, base + "/bm25").n_docs == 2  # reopen via URI

    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(6)], "vec_id: long, embedding: array<double>"
    )
    vbatch = spark.createDataFrame(
        [(50, _vec(50)), (51, _vec(51))],
        "vec_id: long, embedding: array<double>",
    )
    ivf = IvfIndex.build(emb, base + "/ivf", nlist=2)
    ivf.add(vbatch, idempotency_key="k1")
    assert ivf.forget(spark, spark.createDataFrame([(50,)], "vec_id: long")) == 1
    ivf.add(vbatch, idempotency_key="k1")  # replay: tombstone blocks
    ids = sorted(
        r.neighbor_id
        for r in spark.read.parquet(read_path(base + "/ivf/lists"))
        .select("neighbor_id")
        .collect()
    )
    assert ids == [0, 1, 2, 3, 4, 5, 51]


def test_tokenizer_artifact_versioned_roundtrip(spark, tmp_path):
    """The versioned tokenizer artifact (r10 candidate 4): publish v1,
    encode, retrain → publish v2 — CURRENT moves, v1 stays loadable and
    reproduces its exact ids (the reproducibility pin); a torn publish
    (version dir without the pointer flip) leaves readers on the old
    version and the next save skips the torn number; a corrupted merges
    table fails the content signature at load."""
    import pytest as _pytest

    from sql_data_warehouse_samples_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer newest"), (3, "low new")],
        "doc_id: long, text: string",
    )
    alpha = bpe.corpus_base_symbols(docs)
    m1 = bpe.bpe_train_collected(docs, 4, min_count=1)
    path = f"file://{tmp_path}/tok"  # Hadoop backend end-to-end

    v1 = bpe.save_tokenizer(spark, path, m1, alpha)
    assert v1 == 1
    tok1 = bpe.load_tokenizer(spark, path)
    assert tok1.version == 1 and tok1.merges == m1
    enc1 = {
        r["doc_id"]: r["token_ids"]
        for r in tok1.encode(docs).select("doc_id", "token_ids").collect()
    }
    # ids are the deterministic bpe_vocab assignment — stable across loads
    assert enc1 == {
        r["doc_id"]: r["token_ids"]
        for r in bpe.load_tokenizer(spark, path, version=1)
        .encode(docs)
        .select("doc_id", "token_ids")
        .collect()
    }

    # retrain deeper → v2 becomes CURRENT; v1 still loadable + identical
    m2 = bpe.bpe_train_collected(docs, 8, min_count=1)
    assert bpe.save_tokenizer(spark, path, m2, alpha) == 2
    assert bpe.load_tokenizer(spark, path).version == 2
    tok1_again = bpe.load_tokenizer(spark, path, version=1)
    assert {
        r["doc_id"]: r["token_ids"]
        for r in tok1_again.encode(docs).select("doc_id", "token_ids").collect()
    } == enc1
    assert bpe.tokenizer_versions(spark, path) == [1, 2]

    # torn publish: v3 dir with meta but no pointer flip — CURRENT stays
    # at 2; the next save takes v4, never overwriting the torn dir
    from sql_data_warehouse_samples_spark.operators.dirswap import (
        atomic_json_write,
        fs_mkdirs,
    )

    fs_mkdirs(path + "/v3", spark)
    atomic_json_write(
        path + "/v3/_TOKENIZER_META.json", {"torn": True}, spark
    )
    assert bpe.load_tokenizer(spark, path).version == 2
    assert bpe.save_tokenizer(spark, path, m2, alpha) == 4
    assert bpe.load_tokenizer(spark, path).version == 4

    # corruption: edit v1's merges in place → signature check raises
    bpe.save_merges(
        spark,
        [(m1[0][0], m1[0][1] + "X", 1)],
        path + "/v1/merges",
    )
    with _pytest.raises(ValueError, match="signature"):
        bpe.load_tokenizer(spark, path, version=1)


def test_admission_sink_prunes_settled_tombstones(spark, tmp_path):
    """End-to-end tombstone retention (the loop the maintenance op alone
    can't close): with ``prune_settled_after=1`` the sink prunes this
    run's forget-tombstones once the engine's commit log proves their
    batch can never replay — while foreign-generation keys (a retired
    checkpoint, only the operator can settle those) are left for
    ``maintenance.prune_search_tombstones``."""
    import datetime

    from sql_data_warehouse_samples_spark.operators.bm25 import (
        Bm25Index,
        _merge_tombstones,
    )
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )
    from sql_data_warehouse_samples_spark.streaming import ingest as SI
    from tests.test_round8_hardening import _text
    from tests.test_streaming import _write_doc_batches

    def row(doc_id, text):
        return (
            doc_id, text, "en", "web", len(text),
            datetime.datetime(2024, 1, 1, 0, 0, int(doc_id) % 60),
        )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_doc_batches(
        spark, src,
        [[row(21, _text("tok"))], [row(32, _text("alpha"))]],
        SI.DOC_SCHEMA,
    )
    pipe = AdmissionPipeline(spark, str(tmp_path / "ledgers"))
    bm25 = Bm25Index.build(
        spark.createDataFrame([], "doc_id: long, text: string"),
        str(tmp_path / "bm25"), n_buckets=8,
    )

    def run():
        q = SI.admission_sink(
            spark.readStream.schema(SI.DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            pipe,
            str(tmp_path / "corpus"),
            checkpoint=str(tmp_path / "ckpt"),
            bm25_index=bm25,
            prune_settled_after=1,
        )
        q.awaitTermination()

    run()
    assert bm25.n_docs == 2
    # right-to-be-forgotten on the batch-0 doc: tombstone under this
    # run's batch-0 key appears
    bm25.forget(spark.createDataFrame([(21,)], "doc_id: long"))
    ts_dir = tmp_path / "bm25" / "tombstones"
    ts0 = spark.read.parquet(read_path(str(ts_dir))).collect()
    assert len(ts0) == 1 and ts0[0]["doc_id"] == 21
    own_key = ts0[0]["__bk"]
    assert own_key.startswith("k-") and own_key.endswith("-0")
    # plant a FOREIGN-generation tombstone: the sink must not touch it
    _merge_tombstones(
        str(ts_dir),
        spark.createDataFrame(
            [(99, "k-deadbeef0000-5")], "doc_id: long, __bk: string"
        ),
    )
    # third micro-batch arrives; processing it proves batches ≤1 settled
    import glob as _glob
    import shutil as _shutil

    staged = str(tmp_path / "b2stage")
    spark.createDataFrame(
        [row(40, _text("beta"))], SI.DOC_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(staged)
    _shutil.move(
        _glob.glob(staged + "/part-*.parquet")[0],
        os.path.join(src, "b2.parquet"),
    )
    run()
    # doc 40 admitted and indexed; 21 stays forgotten -> index = {32, 40}
    assert bm25.n_docs == 2
    assert bm25.topk("beta0", k=5).count() == 1
    assert bm25.topk("tok0", k=5).count() == 0
    left = spark.read.parquet(read_path(str(ts_dir))).collect()
    assert [(r["doc_id"], r["__bk"]) for r in left] == [
        (99, "k-deadbeef0000-5")
    ]


def test_tokenized_shard_export_pins_tokenizer_version(spark, tmp_path):
    """export_tokenized_shards ties the three serving artifacts together:
    shards hold exactly the pinned version's ids, the manifest audit
    passes, verify_tokenized_shards returns the pinned tokenizer even
    after a NEWER version is published — and raises when the artifact no
    longer matches the pin or a shard is tampered with."""
    from sql_data_warehouse_samples_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, f"low lower lowest new newer doc{i}") for i in range(20)],
        "doc_id: long, text: string",
    )
    apath = str(tmp_path / "tok")
    spath = str(tmp_path / "shards")
    m1 = bpe.bpe_train_collected(docs, 4, min_count=1)
    alpha = bpe.corpus_base_symbols(docs)
    bpe.save_tokenizer(spark, apath, m1, alpha)
    tok = bpe.load_tokenizer(spark, apath)

    n = bpe.export_tokenized_shards(docs, spath, tok, n_shards=3)
    assert n == 20
    # shards hold exactly the pinned encode's ids
    want = {
        r["doc_id"]: r["token_ids"]
        for r in tok.encode(docs).select("doc_id", "token_ids").collect()
    }
    got = {
        r["doc_id"]: r["token_ids"]
        for r in spark.read.parquet(spath)
        .select("doc_id", "token_ids")
        .collect()
    }
    assert got == want

    # publishing v2 does NOT invalidate the v1 export (immutable versions)
    m2 = bpe.bpe_train_collected(docs, 8, min_count=1)
    bpe.save_tokenizer(spark, apath, m2, alpha)
    tok_back = bpe.verify_tokenized_shards(spark, spath, apath)
    assert tok_back.version == 1 and tok_back.merges == m1

    # artifact drift: point verification at a DIFFERENT artifact store
    other = str(tmp_path / "tok2")
    bpe.save_tokenizer(spark, other, m2, alpha)
    with pytest.raises(ValueError, match="pin"):
        bpe.verify_tokenized_shards(spark, spath, other)

    # shard tampering: delete one shard file → the integrity audit flags
    import glob as _glob

    victim = _glob.glob(f"{spath}/shard_id=0/*.parquet")[0]
    os.remove(victim)
    with pytest.raises(ValueError, match="integrity"):
        bpe.verify_tokenized_shards(spark, spath, apath)


def test_tokenizer_decode_roundtrip(spark, tmp_path):
    """decode is encode's inverse up to whitespace normalization when the
    vocab covers the text; OOV round-trips to the unk special's literal;
    a corrupt (out-of-vocab-range) id decodes to U+FFFD instead of
    killing the executor."""
    from sql_data_warehouse_samples_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "low lower  lowest"), (2, "new newer newest"), (3, None)],
        "doc_id: long, text: string",
    )
    alpha = bpe.corpus_base_symbols(docs)
    merges = bpe.bpe_train_collected(docs, 6, min_count=1)
    path = f"file://{tmp_path}/tok"
    bpe.save_tokenizer(spark, path, merges, alpha)
    tok = bpe.load_tokenizer(spark, path)

    got = {
        r["doc_id"]: r["text_decoded"]
        for r in tok.decode(tok.encode(docs))
        .select("doc_id", "text_decoded")
        .collect()
    }
    # whitespace-normalized round-trip; NULL text stays NULL
    assert got == {1: "low lower lowest", 2: "new newer newest", 3: None}

    # OOV character: 'z' is not in the training alphabet
    oov = spark.createDataFrame([(9, "zap low")], "doc_id: long, text: string")
    dec = tok.decode(tok.encode(oov)).select("text_decoded").first()[0]
    assert "low" in dec and "<unk>" in dec

    # corrupt id -> replacement char, no crash
    import pyspark.sql.functions as SF

    frame = spark.createDataFrame([(1,)], "doc_id: long").withColumn(
        "token_ids", SF.array(SF.lit(10 ** 6))
    )
    assert tok.decode(frame).select("text_decoded").first()[0] == "�"


def test_corpus_maintenance_window_composition(spark, tmp_path):
    """The one-call maintenance runbook: ledger compaction, IVF list
    compaction, tombstone retention and the batch-scorer constants
    refresh compose in the documented order and report each effect —
    with every underlying invariant (keyed-replay exclusion after
    compaction, __bk preservation, prune contract) already locked by
    the per-piece tests."""
    import json

    from sql_data_warehouse_samples_spark import maintenance
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index
    from sql_data_warehouse_samples_spark.operators.ledger import (
        AdmissionPipeline,
    )
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta one"),
         (2, "iota kappa lambda mu nu xi omicron pi two")],
        "doc_id: long, text: string",
    )
    pipe = AdmissionPipeline(spark, str(tmp_path / "ledgers"))
    pipe.admit(docs, idempotency_key="b0")

    bm25 = Bm25Index.build(docs, str(tmp_path / "bm25"), n_buckets=4)
    bm25.ingest(
        spark.createDataFrame([(10, "rho sigma")], "doc_id: long, text: string"),
        idempotency_key="k1",
    )
    bm25.forget(spark.createDataFrame([(10,), (1,)], "doc_id: long"))

    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(6)], "vec_id: long, embedding: array<double>"
    )
    ivf = IvfIndex.build(emb, str(tmp_path / "ivf"), nlist=2)
    ivf.add(
        spark.createDataFrame(
            [(50, _vec(50))], "vec_id: long, embedding: array<double>"
        ),
        idempotency_key="k1",
    )
    ivf.forget(spark, spark.createDataFrame([(50,)], "vec_id: long"))

    report = maintenance.corpus_maintenance_window(
        spark,
        pipeline=pipe,
        ledger_files=1,
        docs=docs,
        consts_path=str(tmp_path / "consts"),
        indexes=(bm25, ivf),
        settled_keys=["k1"],
    )
    # ledgers compacted and still hold both admitted docs
    assert report["ledger_exact_rows"] == 2
    assert report["ledger_near_rows"] == 2
    # bm25: (10,k-k1)+(1,base) tombstones -> k1 settled + base unreplayable
    assert report[f"tombstones_pruned[Bm25Index:{bm25.path}]"] == 2
    assert not os.path.exists(tmp_path / "bm25" / "tombstones")
    # bm25 compacted: the settled k1 batch folded into base (its two docs
    # were forgotten, so base carries the surviving build doc)
    assert report[f"compacted[Bm25Index:{bm25.path}]"] > 0
    posts = Path(read_path(str(tmp_path / "bm25" / "postings")))
    folded = {
        d
        for tb in os.listdir(posts) if tb.startswith("__tb=")
        for d in os.listdir(posts / tb) if d.startswith("__bk=")
    }
    assert folded == {"__bk=base"}
    # ivf: compacted (report carries list count) + its k1 tombstone pruned
    assert f"compacted[IvfIndex:{ivf.path}]" in report
    assert report[f"tombstones_pruned[IvfIndex:{ivf.path}]"] == 1
    assert not os.path.exists(tmp_path / "ivf" / "tombstones")
    # constants snapshot pinned from the CURRENT corpus
    assert report["consts_n_docs"] == 2
    got = json.load(open(tmp_path / "consts" / "_BM25_CONSTS.json"))
    assert got["n_docs"] == 2 and got["avgdl"] == 9.0
    # keyed-replay exclusion survives ledger compaction (the step-1
    # invariant): re-admitting b0 converges instead of rejecting its rows
    assert pipe.admit(docs, idempotency_key="b0").count() == 2


def test_admission_sink_end_to_end_on_hadoop_uris(spark, tmp_path):
    """The WHOLE admission surface on scheme-dispatched paths: ledgers,
    corpus, reject audit, Bloom artifact, BOTH serving indexes and the
    settled-key prune all addressed as file:// URIs (the Hadoop backend)
    — a canary that would catch any remaining bare-os call on the sink
    path the moment it silently no-ops on a URI."""
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
            _vec(doc_id),
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
        [(0, _vec(90)), (1, _vec(91))], "vec_id: long, embedding: array<double>"
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
    # admitted: 21 (b0) + 32 (b1); 23 contaminated, 30 exact dup
    assert sorted(
        r.doc_id for r in spark.read.parquet(base + "/corpus").collect()
    ) == [21, 32]
    reasons = {
        (r.doc_id, r.reason)
        for r in spark.read.parquet(base + "/rejects").collect()
    }
    assert reasons == {(23, "contaminated"), (30, "rejected_dedup")}
    assert bm25.n_docs == 2
    ivf_ids = sorted(
        r.neighbor_id
        for r in spark.read.parquet(read_path(base + "/ivf/lists"))
        .select("neighbor_id")
        .collect()
    )
    assert ivf_ids == [0, 1, 21, 32]
    # Bloom artifact persisted at the URI and reloadable
    from sql_data_warehouse_samples_spark.operators.dedup import (
        BloomGramFilter,
    )

    assert BloomGramFilter.load(spark, base + "/bloom").n_grams > 0
    # replay converges on every URI surface
    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(base + "/corpus").collect()
    ) == [21, 32]
    assert bm25.n_docs == 2 and ivf_ids == sorted(
        r.neighbor_id
        for r in spark.read.parquet(read_path(base + "/ivf/lists"))
        .select("neighbor_id")
        .collect()
    )


def test_bm25_index_compact_folds_batches(spark, tmp_path):
    """Bm25Index.compact: base/u<N>/settled-key subpartitions fold into
    base (small-file maintenance), LIVE keyed batches keep their __bk and
    their replay guard, results are value-identical, and the documented
    hazard — a folded key's replay re-ingests — is exactly the settled
    contract."""
    from sql_data_warehouse_samples_spark.operators.bm25 import Bm25Index

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id: long, text: string"
    )
    idx = Bm25Index.build(docs, str(tmp_path / "bm25"), n_buckets=4)
    idx.ingest(
        spark.createDataFrame([(10, "epsilon zeta")], "doc_id: long, text: string")
    )  # u0
    b_k1 = spark.createDataFrame(
        [(20, "iota kappa")], "doc_id: long, text: string"
    )
    b_k2 = spark.createDataFrame(
        [(30, "mu nu")], "doc_id: long, text: string"
    )
    idx.ingest(b_k1, idempotency_key="k1")
    idx.ingest(b_k2, idempotency_key="k2")

    def hits():
        return {
            (r["doc_id"], round(r["bm25"], 6))
            for q in ("alpha", "epsilon", "iota", "mu")
            for r in idx.topk(q, k=5).collect()
        }

    def bks():
        posts = Path(read_path(str(tmp_path / "bm25" / "postings")))
        out = set()
        for tb in os.listdir(posts):
            if tb.startswith("__tb="):
                out |= {
                    d for d in os.listdir(posts / tb)
                    if d.startswith("__bk=")
                }
        return out

    before = hits()
    assert bks() == {"__bk=base", "__bk=u0", "__bk=k-k1", "__bk=k-k2"}
    n = idx.compact(settled_keys=["k1"])
    assert n == 10  # 5 docs x 2 terms
    assert bks() == {"__bk=base", "__bk=k-k2"}
    assert hits() == before
    assert idx.n_docs == 5
    # reopen from disk agrees (meta re-settled)
    assert Bm25Index(spark, str(tmp_path / "bm25")).n_docs == 5

    # LIVE key k2: replay still converges (its stored rows survived)
    idx.ingest(b_k2, idempotency_key="k2")
    assert idx.n_docs == 5
    # folded key k1: replay re-ingests — the settled-keys-only contract
    idx.ingest(b_k1, idempotency_key="k1")
    assert idx.n_docs == 6


def test_ivf_retrain_preserves_keyed_replay_and_tombstones(spark, tmp_path):
    """The last maintenance/replay composition: retrain() rebuilds the
    quantizer and re-lists every vector, but __bk rides along — so a
    keyed replay AFTER a retrain still converges (its stored rows
    re-assign under the same new quantizer the guard uses), key reuse
    for different content is still refused, and a forget's tombstone
    still blocks resurrection across the retrain."""
    import pytest as _pytest

    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
    )

    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)], "vec_id: long, embedding: array<double>"
    )
    batch = spark.createDataFrame(
        [(50, _vec(50)), (51, _vec(51))],
        "vec_id: long, embedding: array<double>",
    )
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(base, path, nlist=2)
    idx.add(batch, idempotency_key="k1")
    idx.forget(spark, spark.createDataFrame([(50,)], "vec_id: long"))

    idx.retrain(spark, train_iters=2)

    def ids():
        return sorted(
            r.neighbor_id
            for r in spark.read.parquet(read_path(f"{path}/lists"))
            .select("neighbor_id")
            .collect()
        )

    want = sorted(list(range(8)) + [51])
    assert ids() == want
    # keyed replay after retrain: converges, and the pre-retrain
    # tombstone still blocks the forgotten vector
    idx.add(batch, idempotency_key="k1")
    assert ids() == want
    # key reuse for DIFFERENT content is still refused post-retrain
    with _pytest.raises(ValueError, match="different batch"):
        idx.add(base.limit(2), idempotency_key="k1")
    # the __bk layout survived the retrain (spot-check the partition dirs)
    lists = read_path(f"{path}/lists")
    bks = {
        d
        for cd in os.listdir(lists) if cd.startswith("centroid_id=")
        for d in os.listdir(f"{lists}/{cd}") if d.startswith("__bk=")
    }
    assert "__bk=k-k1" in bks and any(b == "__bk=base" for b in bks)


def test_prune_tokenizer_versions_retention(spark, tmp_path):
    """Version-store retention mirrors tombstone retention: the newest
    keep_latest versions, the CURRENT target and every pinned version
    survive; everything else (torn dirs included) drops — and a pinned
    export keeps verifying after the prune."""
    from sql_data_warehouse_samples_spark.operators import bpe
    from sql_data_warehouse_samples_spark.operators.dirswap import (
        atomic_json_write,
        fs_mkdirs,
    )

    docs = spark.createDataFrame(
        [(i, f"low lower lowest doc{i}") for i in range(10)],
        "doc_id: long, text: string",
    )
    alpha = bpe.corpus_base_symbols(docs)
    path = f"file://{tmp_path}/tok"
    for n in (2, 3, 4, 5):
        bpe.save_tokenizer(
            spark, path, bpe.bpe_train_collected(docs, n, min_count=1), alpha
        )
    # export pinned to v2
    spath = str(tmp_path / "shards")
    bpe.export_tokenized_shards(
        docs, spath, bpe.load_tokenizer(spark, path, version=2), n_shards=2
    )
    # a torn dir (meta-less) below the keep set
    fs_mkdirs(path + "/v0", spark)

    with pytest.raises(ValueError):
        bpe.prune_tokenizer_versions(spark, path, keep_latest=0)
    with pytest.raises(TypeError):
        bpe.prune_tokenizer_versions(spark, path, pinned=2)

    dropped = bpe.prune_tokenizer_versions(
        spark, path, keep_latest=1, pinned=[2]
    )
    # keep: v4 (CURRENT + newest), v2 (pinned); drop: v0 (torn), v1, v3
    assert dropped == [0, 1, 3]
    assert bpe.tokenizer_versions(spark, path) == [2, 4]
    assert bpe.load_tokenizer(spark, path).version == 4
    # the pinned export still certifies end-to-end
    assert bpe.verify_tokenized_shards(spark, spath, path).version == 2
    with pytest.raises(Exception):
        bpe.load_tokenizer(spark, path, version=3)


def test_ivfpq_retrain_reencodes_under_keyed_contract(spark, tmp_path):
    """IvfPqIndex.retrain: codes re-encode under the new quantizer +
    codebooks with __bk riding along — keyed replay converges across the
    retrain, reuse stays refused, search serves the re-encoded lists,
    and an indexed id missing from the supplied corpus aborts loudly."""
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfPqIndex,
    )

    base = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(8)],
        "vec_id: long, embedding: array<double>",
    )
    batch = spark.createDataFrame(
        [(50, _vec(50, 8)), (51, _vec(51, 8))],
        "vec_id: long, embedding: array<double>",
    )
    path = str(tmp_path / "pq")
    idx = IvfPqIndex.build(base, path, nlist=2, m=4, k_pq=4)
    idx.add(batch, idempotency_key="k1")
    idx.forget(spark, spark.createDataFrame([(50,)], "vec_id: long"))

    # indexed ids missing from the corpus → loud abort, index untouched
    with pytest.raises(ValueError, match="absent"):
        idx.retrain(spark, base.limit(2))

    corpus = base.unionByName(batch)  # extra (forgotten) ids are fine
    idx.retrain(spark, corpus, train_iters=2, pq_iters=1)

    def ids():
        return sorted(
            r.neighbor_id
            for r in spark.read.parquet(read_path(f"{path}/lists"))
            .select("neighbor_id")
            .collect()
        )

    want = sorted(list(range(8)) + [51])
    assert ids() == want
    # keyed replay post-retrain converges; tombstone still blocks 50
    idx.add(batch, idempotency_key="k1")
    assert ids() == want
    with pytest.raises(ValueError, match="different batch"):
        idx.add(base.limit(2), idempotency_key="k1")
    # search serves the re-encoded lists (ADC under the NEW codebooks)
    q = spark.createDataFrame(
        [(777, _vec(51, 8))], "vec_id: long, embedding: array<double>"
    )
    got = idx.search(q, k=1, nprobe=2).collect()
    # _vec(51) == _vec(0) (51 = 3*17 -> same mod-17 coordinates), so the
    # exact-distance tie may resolve to either id; both prove the
    # re-encoded lists serve correctly
    assert got and got[0].neighbor_id in (0, 51) and got[0].adc_d2 == 0.0
    # a reopened handle sees the new quantizer/codebooks
    re = IvfPqIndex.load(spark, path)
    assert re.centroids == idx.centroids and re.codebooks == idx.codebooks


def test_remediate_index_drift_threshold_gated(spark, tmp_path):
    """The monitoring→remediation loop: skew below the threshold is
    observed but NOT acted on; above it, retrain fires and the reported
    ratio drops.  A PQ index without a corpus refuses before any
    rewrite."""
    from sql_data_warehouse_samples_spark import maintenance
    from sql_data_warehouse_samples_spark.operators.similarity import (
        IvfIndex,
        IvfPqIndex,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IvfIndex.build(e, str(tmp_path / "ivf"), nlist=8, train_iters=1)
    r0 = maintenance.remediate_index_drift(spark, idx, max_count_ratio=50.0)
    assert r0["retrained"] is False and r0["ratio"] >= 1.0

    # skewed batch: many near-copies of one vector pile onto few lists
    seed_vec = e.filter("vec_id = 3").select("embedding").first()["embedding"]
    skew = spark.createDataFrame(
        [(10_000 + i, [float(x) * (1.0 + 0.001 * (i % 3)) for x in seed_vec])
         for i in range(200)],
        "vec_id: long, embedding: array<double>",
    )
    idx.add(skew)
    r1 = maintenance.remediate_index_drift(spark, idx, max_count_ratio=3.0)
    assert r1["retrained"] is True
    assert r1["ratio"] > 3.0 and r1["ratio_after"] < r1["ratio"]

    # PQ: corpus required BEFORE any rewrite
    base8 = spark.createDataFrame(
        [(i, _vec(i, 8)) for i in range(8)],
        "vec_id: long, embedding: array<double>",
    )
    pq = IvfPqIndex.build(base8, str(tmp_path / "pq"), nlist=2, m=4, k_pq=4)
    pq.add(
        spark.createDataFrame(
            [(100 + i, _vec(3, 8)) for i in range(30)],
            "vec_id: long, embedding: array<double>",
        )
    )
    with pytest.raises(ValueError, match="corpus"):
        maintenance.remediate_index_drift(spark, pq, max_count_ratio=1.5)


def test_prune_settled_tombstones_key_shapes(spark, tmp_path):
    """Unit-level lock on the settled-key parser: only THIS run's keys
    (prefix + all-digit tail ≤ batch_id - margin) prune; the unscoped
    fallback prunes NOTHING (an all-digit __bk could be an
    operator-chosen key or a prior generation's — r9 ADVICE); unknown
    current-key shapes prune nothing (defensive)."""
    from sql_data_warehouse_samples_spark.operators.bm25 import (
        _merge_tombstones,
    )
    from sql_data_warehouse_samples_spark.streaming.ingest import (
        _prune_settled_tombstones,
    )

    idx_path = str(tmp_path / "idx")
    ts = spark.createDataFrame(
        [
            (1, "k-abc-0"),      # this run, settled (0 <= 4)
            (2, "k-abc-4"),      # this run, settled too (4 <= 5-1)
            (3, "k-abc-5x"),     # non-digit tail -> never
            (4, "k-other-0"),    # foreign generation -> never
            (5, "k-3"),          # bare-digit (unscoped generation)
            (6, "base"),         # unreplayable grain, not this helper's job
        ],
        "doc_id: long, __bk: string",
    )
    _merge_tombstones(f"{idx_path}/tombstones", ts)

    # scoped key: prefix 'abc-', batch 5, margin 1 -> batches 0 and 4 go
    assert _prune_settled_tombstones(spark, idx_path, "abc-5", 5, 1) == 2
    left = {
        r["__bk"]
        for r in spark.read.parquet(read_path(f"{idx_path}/tombstones")).collect()
    }
    assert left == {"k-abc-5x", "k-other-0", "k-3", "base"}

    # unknown current-key shape -> defensive no-op
    assert _prune_settled_tombstones(spark, idx_path, "weird", 5, 1) == 0

    # unscoped fallback (current_key == str(batch_id)): engine-driven
    # pruning is OFF entirely — 'k-3' could equally be an operator-chosen
    # numeric idempotency key (e.g. '20240101') or a prior unscoped
    # generation's batch; neither is provably settled by THIS run's
    # commit log.  Those keys stay for maintenance.prune_search_tombstones.
    assert _prune_settled_tombstones(spark, idx_path, "5", 5, 1) == 0
    left2 = {
        r["__bk"]
        for r in spark.read.parquet(read_path(f"{idx_path}/tombstones")).collect()
    }
    assert left2 == {"k-abc-5x", "k-other-0", "k-3", "base"}


def test_run_quiesced_stops_runs_restarts(spark):
    """The quiesce helper: an ACTIVE query is stopped before the closure
    runs, the closure's result comes back, and the restart closure's
    query is returned; an already-terminated (or absent) query is a
    no-op to stop."""
    from sql_data_warehouse_samples_spark import maintenance

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("noop")
        .start()
    )
    assert q.isActive
    seen = {}

    def maint():
        seen["was_active_during_maint"] = q.isActive
        return 42

    res, q2 = maintenance.run_quiesced(
        maint, query=q, restart_fn=lambda: "restarted"
    )
    assert res == 42 and q2 == "restarted"
    assert seen["was_active_during_maint"] is False
    assert not q.isActive
    # absent / already-stopped query: plain pass-through
    res2, q3 = maintenance.run_quiesced(lambda: "ok", query=q)
    assert res2 == "ok" and q3 is None
