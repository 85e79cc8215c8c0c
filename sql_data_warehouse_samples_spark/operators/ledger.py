"""Persistent content-hash ledger for incremental corpus dedup.

``incremental_dedup`` (operators/dedup.py) anti-joins a new batch against
the corpus on the normalized-content md5.  Without a ledger the corpus
side must be re-hashed from raw text on EVERY ingest — reading 100 TB of
text per daily batch to produce 16-byte keys.  The ledger persists those
keys once, at ingest time, so the steady-state cost is::

    read ledger (16 B x corpus docs)  +  hash the new batch only

The ledger is a plain parquet directory of ``content_hash`` strings —
engine-portable, append-only, safe to compact with any parquet rewriter.
Appends happen strictly AFTER the batch's fresh set is computed (the
anti-join never sees its own batch), and each batch's hashes arrive as
new files, so a failed ingest can be retried by deleting the files it
wrote.  At 100 TB / ~1e11 docs the ledger is ~2-3 TB of hashes — one
narrow column, predicate-prunable, broadcastable per-shard when ingest
shards partition the hash space.

The streaming twin (streaming/ingest.py `dedup_gate`) takes the same
ledger as a static frame: a stream-static LEFT ANTI join drops documents
already in the corpus at stream start, while the watermark-horizon
``dropDuplicates`` handles within-stream repeats; the batch
reconciliation pass (`ingest`) stays the exactness backstop — the
standard lambda split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ._frames import small_df

LEDGER_SCHEMA = StructType(
    [
        StructField("content_hash", StringType(), False),
        # the admitting idempotency key (NULL for un-keyed appends) — a
        # DATA column, not a file path, so the keyed-replay exclusion
        # survives compact() folding the batch-<key>/ subdirs into flat
        # files (path-based exclusion would silently stop matching and a
        # post-compaction crash replay would dedup a batch against its
        # own hashes, admitting nothing)
        StructField("batch_key", StringType(), True),
    ]
)


def _require_local(path: str) -> str:
    """Validate the ledger path's store: every existence check and dir
    scan below dispatches on the URI scheme (local ``os`` ops for bare
    paths, the Hadoop FileSystem API otherwise), and every store runs the
    same generations commit (reads and in-place writes resolve through
    ``dirswap.read_path``, rewrites publish via a ``_CURRENT`` pointer).
    Only a scheme with NO known commit primitive is refused loudly."""
    from .dirswap import require_swap_capable

    return require_swap_capable(path)


def _safe_key(key: str) -> str:
    """Idempotency keys become directory names (``batch-<key>/``) — reject
    anything that could escape or collide (path separators, dots-only)."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,127}", key):
        raise ValueError(
            f"idempotency_key {key!r} must be 1-128 chars of "
            "[A-Za-z0-9._-] starting alphanumeric"
        )
    return key


def _own_keyed_rows(spark, root: str, key: str, fallback, own_pred, schema):
    """The rows a prior ingest stored under ``key`` — for the key-reuse
    guard.  Pre-compaction they live only in ``batch-<key>/``: read that
    subdirectory directly (targeted, batch-sized IO) rather than filter-
    scanning the whole ledger a second time.  After compact() folds the
    subdirs away the targeted read has nothing to find, so fall back to
    filtering ``fallback`` (the already-open ledger frame) on the stored
    batch_key predicate."""
    import os

    from .dirswap import fs_isdir

    sub = os.path.join(root, f"batch-{key}")
    if fs_isdir(sub, spark):
        return spark.read.schema(schema).parquet(sub)
    return fallback.filter(own_pred)


class ContentHashLedger:
    """Append-only parquet ledger of every content hash ever admitted."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = _require_local(path)

    def _live(self) -> str:
        """The physical ledger directory — the generation the pointer
        names (``dirswap.read_path``)."""
        from .dirswap import read_path

        return read_path(self.path, self.spark)

    def hashes(self) -> DataFrame:
        """The ledger as a one-column frame (empty if nothing ingested).
        A compact() interrupted mid-publish leaves the previous
        generation current (dirswap)."""
        from .dirswap import fs_exists

        live = self._live()
        if not fs_exists(live, self.spark):  # nothing ingested yet
            return small_df(self.spark, [], LEDGER_SCHEMA)
        return (
            self.spark.read.schema(LEDGER_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(live)
        )

    def ingest(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        idempotency_key: str | None = None,
    ) -> DataFrame:
        """Admit a batch: dedup against the ledger + within the batch,
        append the survivors' hashes, return the surviving documents
        (with their ``content_hash`` column).

        The corpus side of the anti-join is the LEDGER — no document text
        outside the batch is ever read, so ingest cost scales with the
        batch, not the corpus.

        ``idempotency_key`` makes the admission REPLAYABLE (same contract
        as the signature ledger): the corpus side excludes this batch's
        own previously-appended hashes — matched by the STORED
        ``batch_key`` column (else a crash between the append and the
        downstream corpus write turns the replay into "everything is a
        dup of itself"), and the append overwrites the keyed
        ``batch-<key>/`` subdirectory instead of accumulating.
        """
        from .dedup import incremental_dedup, normalized_text

        corpus_hashes = self.hashes()
        key = None
        if idempotency_key is not None:
            key = _safe_key(idempotency_key)
            # exclude by the STORED batch_key column (compact-safe; a
            # batch-<key>/ path match would stop matching after compact()
            # folds the subdirs away).  Legacy rows written before the
            # column existed read as batch_key=NULL — for those, fall
            # back to the path match (their files, by definition, have
            # never been compacted under the new schema).  eqNullSafe:
            # a plain != would evaluate NULL on legacy rows and the
            # filter would silently drop the whole legacy corpus side.
            own = F.col("batch_key").eqNullSafe(F.lit(key)) | (
                F.col("batch_key").isNull()
                & F.input_file_name().contains(f"/batch-{key}/")
            )
            # key-reuse guard: this key's stored hashes are a prior
            # replay's SURVIVORS — always a subset of their batch's hash
            # set.  A stored hash absent from the current batch means the
            # key is being re-used for DIFFERENT content (e.g. micro-batch
            # ids restarting at 0 after a checkpoint reset); the keyed
            # overwrite below would silently delete unrelated ledger
            # state, so refuse instead.  Fast path: before compaction the
            # key's rows live ONLY in batch-<key>/ — read that subdir
            # directly (targeted, batch-sized) instead of filter-scanning
            # the whole ledger a second time; the full-scan fallback
            # covers post-compaction reuse (rows folded into flat files).
            batch_hashes = batch.select(
                F.md5(normalized_text(text_col)).alias("content_hash")
            )
            stored_own = _own_keyed_rows(
                self.spark, self._live(), key, corpus_hashes, own,
                LEDGER_SCHEMA,
            )
            foreign = stored_own.join(
                batch_hashes, "content_hash", "left_anti"
            )
            if foreign.limit(1).count():
                raise ValueError(
                    f"idempotency_key {key!r} was previously used for a "
                    "different batch (stored hashes are not a subset of "
                    "this batch); replaying it would overwrite unrelated "
                    "ledger state — use a run-scoped key "
                    "(e.g. <query-run-id>-<batch-id>) or a new ledger"
                )
            corpus_hashes = corpus_hashes.filter(~own)
        fresh = incremental_dedup(
            batch, corpus=None, text_col=text_col, id_col=id_col,
            corpus_hashes=corpus_hashes,
        )
        # materialize before the append so the returned frame does not
        # re-read a ledger that now contains this batch's own hashes
        fresh = fresh.localCheckpoint(eager=True)
        out = fresh.select(
            "content_hash", F.lit(key).cast("string").alias("batch_key")
        )
        live = self._live()  # in-place writes land in the CURRENT generation
        if key is None:
            out.write.mode("append").parquet(live)
        else:
            out.write.mode("overwrite").parquet(f"{live}/batch-{key}")
        return fresh

    def compact(self, n_files: int | None = None) -> int:
        """Rewrite the ledger's accumulated per-batch appends into
        ``n_files`` deduplicated parquet files (default: Spark's shuffle
        parallelism).  Daily appends each land as separate small files —
        after a year the ledger scan pays ~365x the open/footer overhead
        it needs; the rebuild tables it like any parquet rewriter
        (compaction D13 applied to the ledger).  Staged generation +
        verified pointer commit (dirswap.swap_in): a failure or crash
        before the commit leaves the live ledger untouched, and the
        displaced generation is kept for reader grace.  Returns the
        distinct-hash count.
        """
        return self._rewrite(self.hashes().distinct(), n_files)

    def forget(self, docs: DataFrame, text_col: str = "text") -> int:
        """Deletion propagation (right-to-be-forgotten): remove the given
        documents' content hashes from the ledger so a future ingest of
        the same content is ADMITTED again rather than dropped as a
        known duplicate.  The ledger stores hashes only, so the caller
        supplies the documents (or their texts) being purged — the same
        frame it deletes from the corpus (``catalog.delete_where`` /
        partition rewrite handles the corpus side).

        Full-ledger rewrite through the same verified staged swap as
        ``compact()`` — batch forget requests at compaction cadence; cost
        is O(ledger keys), never O(corpus text).  Returns rows remaining.
        """
        from .dedup import normalized_text

        purge = docs.select(
            F.md5(normalized_text(text_col)).alias("content_hash")
        ).distinct()
        kept = self.hashes().join(purge, "content_hash", "left_anti")
        return self._rewrite(kept, None)

    def _rewrite(self, frame: DataFrame, n_files: int | None) -> int:
        from .dirswap import stage_path, swap_in

        if n_files:
            frame = frame.repartition(n_files)
        stage = stage_path(self.path, self.spark)
        frame.write.mode("overwrite").parquet(stage)
        # explicit schema: a forget() purging every row writes an EMPTY
        # parquet dir, which schemaless reads cannot infer
        n = self.spark.read.schema(LEDGER_SCHEMA).parquet(stage).count()
        swap_in(
            self.path,
            stage,
            verify=lambda p: self.spark.read.schema(LEDGER_SCHEMA)
            .parquet(p)
            .first(),
        )
        return n


class MinHashSignatureLedger:
    """Persistent MinHash SIGNATURE ledger — incremental NEAR-dup dedup.

    The ContentHashLedger above answers "has this EXACT content been
    admitted?"; a daily-ingest pipeline equally needs "is this a NEAR
    duplicate of anything admitted?" without re-reading (or re-signing)
    the accumulated corpus text.  Standard practice for web-scale corpora
    (Lee et al. 2021 §4; RefinedWeb/Penedo et al. 2023 §3.2 dedupe
    incrementally against prior CommonCrawl dumps): persist the MinHash
    signatures once, at admission, and band-join each new batch against
    the stored signatures.

    Stored row: ``(doc_id, sig array<long>)`` — ``num_hashes`` 64-bit
    minhashes ≈ 8·k bytes/doc (256 B at k=32) versus the ~KB-scale raw
    text: the steady-state ingest reads 100-1000× less than re-signing.
    Band keys are DERIVED from the stored signature at join time (a
    map-only slice-and-concat over the 8·k-byte rows) rather than stored
    exploded, keeping the ledger narrow and its compaction identical to
    any parquet rewrite (same dirswap crash contract as ContentHashLedger).

    Cross-batch verification uses the signature-agreement ESTIMATE of
    Jaccard (fraction of matching minhash positions — the textbook
    unbiased estimator): exact shingle-set Jaccard would need the corpus
    TEXT, which is exactly what the ledger exists to avoid re-reading.
    Within reported pairs, ``est_jaccard`` has standard error
    ~1/sqrt(k); raise ``num_hashes`` to tighten.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 32,
        bands: int = 8,
        shingle_n: int = 3,
    ) -> None:
        if num_hashes % bands:
            raise ValueError("bands must divide num_hashes")
        self.spark = spark
        self.path = _require_local(path)
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self._check_params(write=False)

    # -- storage ----------------------------------------------------------

    def _params(self) -> dict:
        return {
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "shingle_n": self.shingle_n,
        }

    def _live(self) -> str:
        """Physical ledger directory (generation-pointer resolution —
        see ContentHashLedger._live)."""
        from .dirswap import read_path

        return read_path(self.path, self.spark)

    def _params_file(self) -> str:
        # "_"-prefixed: Spark/Hadoop file listings treat it as hidden, so
        # it never collides with the parquet scan (same convention as
        # _SUCCESS markers).  Lives INSIDE the (resolved) data directory
        # so a staged rewrite carries it with the generation/stage.
        import os

        return os.path.join(self._live(), "_LEDGER_PARAMS.json")

    def _check_params(self, write: bool) -> None:
        """Stored signatures are only interpretable under the EXACT
        (num_hashes, bands, shingle_n) that produced them — reopening with
        different params would silently derive wrong band keys and wrong
        est_jaccard denominators.  The sidecar pins them: first ingest
        writes it, every open/ingest validates it."""
        import json

        from .dirswap import fs_exists, fs_read_bytes

        pf = self._params_file()
        if fs_exists(pf, self.spark):
            stored = json.loads(fs_read_bytes(pf, self.spark))
            mine = self._params()
            if stored != mine:
                raise ValueError(
                    f"ledger at {self.path} was created with params "
                    f"{stored}, reopened with {mine}; signatures are not "
                    "comparable across params — use the original params or "
                    "a new ledger path"
                )
        elif write:
            from .dirswap import atomic_json_write, fs_mkdirs

            import os

            fs_mkdirs(os.path.dirname(pf), self.spark)
            atomic_json_write(pf, self._params(), self.spark)

    def _sig_schema(self):
        from pyspark.sql.types import (
            ArrayType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        return StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("sig", ArrayType(LongType(), False), False),
                # the admitting idempotency key (NULL for un-keyed appends)
                # — a DATA column like the content ledger's, so keyed-replay
                # exclusion survives compact() folding batch-<key>/ subdirs
                # away, and so exclusion matches THIS batch's prior rows
                # only (a doc_id match would silently drop any ledger row
                # whose id collides with a batch id, admitting near-dups).
                # Legacy files without the column read as NULL under the
                # explicit schema.
                StructField("batch_key", StringType(), True),
            ]
        )

    def signatures(self) -> DataFrame:
        """The ledger as a (doc_id, sig) frame (empty before first ingest).
        A compact() interrupted mid-publish leaves the previous
        generation current (dirswap.swap_in).

        ``recursiveFileLookup`` lets plain appends (files at the root) and
        idempotent keyed appends (one ``batch-<key>/`` subdirectory per
        micro-batch — see ``ingest(idempotency_key=...)``) coexist in one
        scan without parquet partition discovery getting involved."""
        from .dirswap import fs_exists

        live = self._live()
        if not fs_exists(live, self.spark):  # nothing ingested yet
            return small_df(self.spark, [], self._sig_schema())
        return (
            self.spark.read.schema(self._sig_schema())
            .option("recursiveFileLookup", "true")
            .parquet(live)
        )

    def _signed(self, batch: DataFrame, text_col: str, id_col: str) -> DataFrame:
        from .dedup import minhash_signature, shingles

        return batch.select(
            F.col(id_col).alias("doc_id"),
            minhash_signature(
                shingles(text_col, self.shingle_n), self.num_hashes
            ).alias("sig"),
        )

    def _banded(self, sigs: DataFrame) -> DataFrame:
        """(doc_id, band, bh) from stored/derived signatures — map-only."""
        r = self.num_hashes // self.bands
        return sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * r + j + 1).cast(
                                        "string"
                                    )
                                    for j in range(r)
                                ],
                            ).alias("bh"),
                        )
                        for b in range(self.bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    @staticmethod
    def _est_jaccard(sig_a, sig_b) -> "F.Column":
        """Fraction of agreeing minhash positions — unbiased Jaccard
        estimator; runs on CANDIDATE pairs only."""
        agree = F.aggregate(
            F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        return F.round(agree / F.size(sig_a), 6)

    # -- queries ----------------------------------------------------------

    def near_dups(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
        max_bucket: int = 128,
    ) -> DataFrame:
        """Near-duplicates of ``batch`` docs AGAINST THE LEDGER — the
        corpus text is never touched, only the batch is signed.

        Returns ``(batch_id, corpus_id, est_jaccard)``.  Shape: sign the
        batch (batch-sized), band-explode both sides, equi-join on
        (band, bh) — the ledger side's shuffle moves 8·k-byte signature
        rows, not text — then verify by signature agreement.  Degenerate
        ledger buckets (e.g. boilerplate/empty-doc signatures shared by
        millions of docs) are capped at ``max_bucket`` lowest-id members
        per (band, bh): candidates stay linear; the cap only affects
        WHICH of an over-full bucket's mutually-similar members is
        reported as the match, not whether a match is found (same trade
        as the in-batch _candidate_pairs star fallback).
        """
        from .dedup import release_hot_caches

        release_hot_caches()  # top-level entry: drop the previous op's caches
        bsig = self._signed(batch, text_col, id_col)
        return self._near_dups_signed(bsig, self.signatures(), threshold, max_bucket)

    def _near_dups_signed(
        self,
        bsig: DataFrame,
        lsig: DataFrame,
        threshold: float,
        max_bucket: int,
    ) -> DataFrame:
        """``near_dups`` core over an already-signed batch and an explicit
        ledger-signature frame (lets ``ingest`` exclude the batch's own
        previously-appended rows for replay idempotency)."""
        from pyspark import StorageLevel
        from pyspark.sql import Window

        from .dedup import _HOT_CACHES

        bsig = bsig.persist(StorageLevel.MEMORY_AND_DISK)
        _HOT_CACHES.append(bsig)  # released by the next dedup call or an
        # eager materializer (ingest) — see dedup.release_hot_caches
        lband = self._banded(lsig)
        w = Window.partitionBy("band", "bh").orderBy("doc_id")
        lband = (
            lband.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket)
            .drop("__rn")
        )
        cand = (
            self._banded(bsig)
            .withColumnRenamed("doc_id", "batch_id")
            .join(lband.withColumnRenamed("doc_id", "corpus_id"), ["band", "bh"])
            .select("batch_id", "corpus_id")
            .distinct()
        )
        return (
            cand.join(
                bsig.select(
                    F.col("doc_id").alias("batch_id"), F.col("sig").alias("__sa")
                ),
                "batch_id",
            )
            .join(
                lsig.select(
                    F.col("doc_id").alias("corpus_id"), F.col("sig").alias("__sb")
                ),
                "corpus_id",
            )
            .withColumn("est_jaccard", self._est_jaccard(F.col("__sa"), F.col("__sb")))
            .filter(F.col("est_jaccard") >= threshold)
            .select("batch_id", "corpus_id", "est_jaccard")
        )

    def ingest(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
        max_bucket: int = 128,
        idempotency_key: str | None = None,
    ) -> DataFrame:
        """Admit a batch: drop docs that are near-dups of the LEDGER or of
        a lower-id doc in the SAME batch, append the survivors'
        signatures, return the surviving documents.

        Cost scales with the batch: the ledger side contributes one
        signature scan + band join, never a text read.

        ``idempotency_key`` makes the admission REPLAYABLE (the streaming
        ``neardup_admission_sink`` passes a run-scoped micro-batch key):
        the ledger side excludes this batch's OWN prior appends — matched
        by the stored ``batch_key`` column, never by doc_id (an id match
        would silently drop any unrelated ledger row whose doc_id collides
        with a batch id, admitting a near-duplicate) — so a crash between
        the signature append and the downstream corpus write cannot turn
        the replay into "everything is a dup of itself"; the signature
        append overwrites a per-key ``batch-<key>/`` subdirectory instead
        of accumulating, so re-running the same key converges to the same
        ledger state and survivor set.  Re-USING a key for DIFFERENT
        content (e.g. micro-batch ids restarting at 0 after a checkpoint
        reset) is refused: it would delete unrelated prior ledger state.
        """
        from pyspark.sql import Window

        from .dedup import _candidate_pairs, release_hot_caches

        release_hot_caches()  # top-level entry: drop the previous op's caches
        signed = self._signed(batch, text_col, id_col).localCheckpoint(
            eager=True
        )
        lsig = self.signatures()
        key = None
        if idempotency_key is not None:
            key = _safe_key(idempotency_key)
            own = F.col("batch_key").eqNullSafe(F.lit(key)) | (
                # legacy rows (written before the column existed) read as
                # batch_key=NULL — fall back to the path match for those;
                # eqNullSafe above keeps NULL-keyed foreign rows IN the
                # corpus side rather than evaluating to NULL and dropping
                F.col("batch_key").isNull()
                & F.input_file_name().contains(f"/batch-{key}/")
            )
            # key-reuse guard: this key's stored rows must be a subset of
            # the current batch (same doc ids, same signatures) — stored
            # rows are a prior replay's SURVIVORS, always ⊆ their batch.
            # Anything else means the key is being re-used for different
            # content and the overwrite below would destroy ledger state.
            # Targeted batch-<key>/ read pre-compaction; ledger-filter
            # fallback after (see _own_keyed_rows).
            stored_own = _own_keyed_rows(
                self.spark, self._live(), key, lsig, own, self._sig_schema()
            )
            foreign = stored_own.join(
                signed.select("doc_id", F.col("sig").alias("__bsig")),
                "doc_id",
                "left",
            ).filter(
                F.col("__bsig").isNull() | (F.col("sig") != F.col("__bsig"))
            )
            if foreign.limit(1).count():
                raise ValueError(
                    f"idempotency_key {key!r} was previously used for a "
                    "different batch (stored signatures are not a subset "
                    "of this batch); replaying it would overwrite "
                    "unrelated ledger state — use a run-scoped key "
                    "(e.g. <query-run-id>-<batch-id>) or a new ledger"
                )
            lsig = lsig.filter(~own)
        # cross near-dups vs ledger
        cross = (
            self._near_dups_signed(signed, lsig, threshold, max_bucket)
            .select(F.col("batch_id").alias("doc_id"))
            .distinct()
        )
        # within-batch near-dups: banded self-join + agreement verify,
        # drop the higher id of each verified pair
        cands = _candidate_pairs(
            self._banded(signed).withColumnRenamed("doc_id", "__id"), max_bucket
        )
        within = (
            cands.join(
                signed.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("__sa")),
                "id_a",
            )
            .join(
                signed.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("__sb")),
                "id_b",
            )
            .filter(self._est_jaccard(F.col("__sa"), F.col("__sb")) >= threshold)
            .select(F.col("id_b").alias("doc_id"))  # id_a < id_b: keep min
            .distinct()
        )
        dropped = cross.unionByName(within).distinct()
        survivors = batch.join(
            dropped, batch[id_col] == dropped["doc_id"], "left_anti"
        ).localCheckpoint(eager=True)
        # the verdict is materialized — release the banding/verify caches
        # so repeated ingests in a long-lived session don't accumulate
        # MEMORY_AND_DISK blocks
        release_hot_caches()
        # reuse the checkpointed signatures — never re-shingle the text
        sig_out = signed.join(
            survivors.select(F.col(id_col).alias("doc_id")), "doc_id", "semi"
        ).withColumn("batch_key", F.lit(key).cast("string"))
        self._check_params(write=True)
        live = self._live()  # in-place writes land in the CURRENT generation
        if key is None:
            sig_out.write.mode("append").parquet(live)
        else:
            sig_out.write.mode("overwrite").parquet(
                f"{live}/batch-{key}"
            )
        return survivors

    def compact(self, n_files: int | None = None) -> int:
        """Rewrite accumulated per-batch appends (full-row dedup) into
        ``n_files`` parquet files via the verified staged swap.  Returns
        the distinct-row count.

        Grain is the FULL (doc_id, sig, batch_key) row, not doc_id: a
        doc_id legally admitted under two keys (the second batch's content
        was not a near-dup of the first) must keep BOTH rows — folding to
        one per doc_id would (a) silently drop one batch's signature, so
        future near-dups of that content get admitted, and (b) pair one
        key with the other key's signature, making the key-reuse guard
        spuriously refuse that batch's legitimate crash-replay.  Full-row
        distinct still removes what compaction exists to remove: the
        identical rows accumulated by un-keyed append replays."""
        distinct = self.signatures().distinct()
        return self._rewrite(distinct, n_files)

    def forget(self, doc_ids: DataFrame, id_col: str = "doc_id") -> int:
        """Deletion propagation: purge the given doc ids' signatures so
        future near-dup checks no longer match against them and a
        re-ingest of equivalent content is admitted.  Same verified
        staged-swap rewrite (and cost profile) as ``compact()`` — batch
        forget requests; returns rows remaining."""
        purge = doc_ids.select(F.col(id_col).alias("doc_id")).distinct()
        kept = self.signatures().join(purge, "doc_id", "left_anti")
        return self._rewrite(kept, None)

    def _rewrite(self, frame: DataFrame, n_files: int | None) -> int:
        from .dirswap import stage_path, swap_in

        if n_files:
            frame = frame.repartition(n_files)
        stage = stage_path(self.path, self.spark)
        frame.write.mode("overwrite").parquet(stage)
        # explicit schema: forgetting every row writes an empty dir
        n = (
            self.spark.read.schema(self._sig_schema()).parquet(stage).count()
        )
        # the sidecar travels WITH the staged directory, so there is no
        # window after the swap in which the ledger exists unpinned (a
        # crash there would let a later reopen with wrong params re-pin
        # them silently — the exact failure the sidecar prevents)
        import os

        from .dirswap import atomic_json_write

        atomic_json_write(
            os.path.join(stage, "_LEDGER_PARAMS.json"),
            self._params(),
            self.spark,
        )
        swap_in(
            self.path,
            stage,
            verify=lambda p: self.spark.read.schema(self._sig_schema())
            .parquet(p)
            .first(),
        )
        # post-swap: validates the pinned sidecar (no-op write)
        self._check_params(write=True)
        return n


class AdmissionPipeline:
    """One-call daily-ingest admission: EXACT dedup (ContentHashLedger)
    then NEAR dedup (MinHashSignatureLedger), presenting the two ledgers
    as the single pipeline a recurring-ingest user actually runs.

    ``admit(batch)`` reads the batch text ONCE end-to-end: the exact stage
    hashes it and localCheckpoints its survivors; the near stage signs that
    checkpointed frame — neither stage ever reads corpus text (the whole
    point of the ledgers: steady-state ingest IO = batch text + stored
    keys/signatures, 100-1000x less than re-reading a 100 TB corpus).

    Exact-stage hashes are recorded for exact survivors even when the near
    stage later rejects them — consistent: an exact replay of a near-dup
    reject is dropped by the exact ledger directly, the same verdict the
    near stage would have reached (its near-dup source is in the signature
    ledger with est_jaccard 1.0 on identical text).

    ``idempotency_key`` (pass the micro-batch id from a streaming
    foreachBatch) makes the whole admission replayable: both ledgers
    exclude this key's own prior appends from their corpus side and
    overwrite their ``batch-<key>/`` subdirectory, so a crashed-then-
    replayed batch converges to the same ledger state and survivor set.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 32,
        bands: int = 8,
        shingle_n: int = 3,
        threshold: float = 0.7,
        max_bucket: int = 128,
    ) -> None:
        import os

        root = _require_local(path)
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.exact = ContentHashLedger(spark, os.path.join(root, "exact"))
        self.near = MinHashSignatureLedger(
            spark,
            os.path.join(root, "near"),
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        )

    def admit(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        idempotency_key: str | None = None,
    ) -> DataFrame:
        """Drop exact dups (vs ledger + within batch), then near dups
        (vs ledger + within batch); record survivors in both ledgers;
        return the surviving documents (with their ``content_hash``)."""
        fresh = self.exact.ingest(
            batch, text_col=text_col, id_col=id_col,
            idempotency_key=idempotency_key,
        )
        return self.near.ingest(
            fresh,
            text_col=text_col,
            id_col=id_col,
            threshold=self.threshold,
            max_bucket=self.max_bucket,
            idempotency_key=idempotency_key,
        )

    def compact(self, n_files: int | None = None) -> tuple[int, int]:
        """Compact both ledgers (verified staged dirswap each); returns
        (distinct exact hashes, distinct signed docs)."""
        return self.exact.compact(n_files), self.near.compact(n_files)

    def forget(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> tuple[int, int]:
        """Deletion propagation across BOTH ledgers (right-to-be-
        forgotten): purge the given documents' content hashes and
        signatures so re-ingested equivalent content is admitted again
        and near-dup checks stop matching against the purged docs.  The
        caller deletes the corpus rows themselves (``catalog.delete_where``
        / partition rewrite) — this call settles the derived admission
        state.  Returns (hash rows remaining, signature rows remaining)."""
        return (
            self.exact.forget(docs, text_col=text_col),
            self.near.forget(docs, id_col=id_col),
        )
