"""Result-set caching (M10): the Azure Synapse dedicated-SQL feature
(``SET RESULT_SET_CACHING ON`` — public platform docs) re-expressed for a
parquet-backed Spark engine.

A completed query's result is materialized once; an identical
re-submission whose *input data is unchanged* is served from the cache
without touching the fact tables.  Invalidation is automatic and
content-derived: the cache key hashes the normalized SQL together with the
query's input-file signature (path, size, mtime for every file the scan
would read).  Any rewrite of an input table — CTAS swap, MERGE, INSERT
OVERWRITE — changes the file set, which changes the key, which is a miss;
no bookkeeping hooks are needed on the write path.

Mirrors the platform's documented exclusions: queries using
nondeterministic functions are never cached, and queries whose inputs
cannot be fingerprinted (no file-backed scan) are passed through.

Two tiers, chosen per entry by the result's measured size, never by the
optimizer's estimate (which is off by orders of magnitude on joins):

* memory — a miss always writes parquet (a distributed write, safe at any
  size); a result whose files and Arrow form fit under the session's
  ``spark.sql.execution.arrow.localRelationThreshold`` is read back once
  and kept in the driver as a local relation, and its files are deleted.
  A hit returns that frame, and ``collect()`` on it runs no Spark job.
  Entries live per ``ResultCache`` (one per ``Engine``) and evict LRU by
  bytes (``MEMORY_BUDGET_BYTES``) and by count.
* parquet — a larger result stays as a parquet directory under ``dir``;
  a hit costs one parquet read.  Entries evict LRU by count.

The cache stores RESULTS (typically small aggregates), not inputs: result
reuse is a warm-dashboard optimization, not a storage tier.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import threading
import time
import uuid
from collections import OrderedDict

import pyarrow as pa
from pyspark.errors import PySparkTypeError, UnsupportedOperationException
from pyspark.sql import DataFrame, SparkSession

# the platform's documented cache-bypass list, Spark-side equivalents
_NONDETERMINISTIC = re.compile(
    r"\b(newid|rand|randn|uuid|getdate|getutcdate|current_timestamp|"
    r"current_date|now|unix_timestamp|sysdatetime|monotonically_increasing_id"
    r")\b",
    re.I,
)


#: Arrow bytes the memory tier of one cache holds before LRU eviction; the
#: rows live on the driver heap, so this stays a small share of it
MEMORY_BUDGET_BYTES = 128 << 20


class ResultCache:
    #: LRU bound on the entry count of each tier
    MAX_ENTRIES = 64

    def __init__(self, spark: SparkSession, cache_dir: str):
        self.spark = spark
        self.dir = cache_dir
        self.hits = 0
        self.misses = 0
        self.bypasses = 0
        # guards the counters and the memory tier: Engine.sql runs on many
        # client threads
        self._lock = threading.Lock()
        # key -> (local-relation frame, Arrow bytes), least recent first
        self._memory: OrderedDict[str, tuple[DataFrame, int]] = OrderedDict()
        self._memory_bytes = 0
        os.makedirs(cache_dir, exist_ok=True)

    # --- keying -----------------------------------------------------------

    @staticmethod
    def _normalize(sql: str) -> str:
        return re.sub(r"\s+", " ", sql).strip().lower()

    #: bytes of each input file's tail folded into the key — covers the
    #: parquet footer (schema, row counts, column min/max stats), so a
    #: rewrite that lands with identical (path, size, mtime) still misses.
    _TAIL_BYTES = 65536

    #: above this many input files, per-file tail reads stop: at 100 TB a
    #: scan spans 1e5-1e6 files and 64 KB tails would be tens of GB of
    #: control-plane reads PER CACHEABLE SUBMIT.  The signature falls back
    #: to (path, size, mtime_ns) for every file — still content-derived
    #: (any rewrite changes the file listing or sizes) — plus tails for a
    #: deterministic sample, so the footer-content guard is kept on a
    #: bounded budget.
    #:
    #: DOCUMENTED WEAKENING above the cap: a content rewrite that preserves
    #: all three of (path, size, mtime) for a NON-sampled file — e.g. a
    #: staged-swap writer that deliberately restores mtimes onto
    #: byte-different same-size files — yields a stale hit.  Every cheaper
    #: per-file proxy (footer-length bytes, row-count from metadata) still
    #: pays the one open() per file the cap exists to avoid, so the
    #: trade-off is inherent: raise ``_MAX_TAIL_FILES`` (or set it above
    #: the table's file count) where that writer pattern is in play, or
    #: rely on this engine's own writers, whose staged swaps produce fresh
    #: inodes with fresh mtimes (dirswap never restores timestamps).
    _MAX_TAIL_FILES = 256

    @classmethod
    def _tail_hash(cls, path: str, size: int) -> str:
        with open(path, "rb") as f:
            if size > cls._TAIL_BYTES:
                f.seek(size - cls._TAIL_BYTES)
            return hashlib.blake2b(f.read(cls._TAIL_BYTES), digest_size=8).hexdigest()

    def _input_signature(self, df: DataFrame) -> str | None:
        """(path, size, mtime, footer-tail hash) for every file the plan
        would scan; None when any input is not a fingerprintable file
        (→ bypass, never stale).  size+mtime alone can false-hit: moves
        preserve mtimes (the staged-swap writers), and some filesystems
        round timestamps — the tail hash pins the actual parquet footer
        content (row counts + column stats) at ~one 64 KB read per file,
        control-plane cost only.  Beyond ``_MAX_TAIL_FILES`` inputs, tails
        are read for a deterministic every-k-th sample only (see
        ``_MAX_TAIL_FILES``) — the listing+size+mtime part still covers
        every file."""
        files = df.inputFiles()
        if not files:
            return None
        ordered = sorted(files)
        # ceil division: floor would leave stride=1 (every tail read) up
        # to 2x the cap and overshoot the sample budget in general
        stride = max(1, -(-len(ordered) // self._MAX_TAIL_FILES))
        parts = []
        for i, uri in enumerate(ordered):
            path = uri.removeprefix("file:")
            try:
                st = os.stat(path)
                tail = (
                    self._tail_hash(path, st.st_size) if i % stride == 0 else ""
                )
            except OSError:
                return None
            parts.append(f"{path}:{st.st_size}:{st.st_mtime_ns}:{tail}")
        return "|".join(parts)

    def cacheable(self, sql: str) -> bool:
        return not _NONDETERMINISTIC.search(sql)

    def key_for(self, sql: str, df: DataFrame) -> str | None:
        if not self.cacheable(sql):
            return None
        sig = self._input_signature(df)
        if sig is None:
            return None
        h = hashlib.sha256()
        h.update(self._normalize(sql).encode())
        h.update(b"\x00")
        h.update(sig.encode())
        return h.hexdigest()[:32]

    # --- store ------------------------------------------------------------

    def _path(self, key: str) -> str:
        return os.path.join(self.dir, key)

    def _entry_cap(self) -> int:
        """Largest result the memory tier takes, in Arrow bytes: above the
        session's ``arrow.localRelationThreshold``, ``createDataFrame``
        builds an RDD scan (a Spark job per read), not a local relation."""
        return min(
            self.spark._jconf.arrowLocalRelationThreshold(), MEMORY_BUDGET_BYTES
        )

    def bypass(self) -> None:
        with self._lock:
            self.bypasses += 1

    def lookup(self, key: str) -> DataFrame | None:
        with self._lock:
            entry = self._memory.get(key)
            if entry is not None:
                self._memory.move_to_end(key)
                self.hits += 1
                return entry[0]
        p = self._path(key)
        try:
            os.utime(p)  # LRU touch
        except FileNotFoundError:
            return None
        df = self.spark.read.parquet(p)
        with self._lock:
            self.hits += 1
        return df

    def store(self, key: str, df: DataFrame) -> DataFrame:
        """Materialize a missed result into the cache, return the frame to
        serve.  The write goes to a private sibling directory first, so
        concurrent misses on one key never write into the same files."""
        # no leading "." or "_": Spark skips such paths as hidden files
        staged = os.path.join(self.dir, f"{key}.{uuid.uuid4().hex}.staged")
        try:
            df.write.parquet(staged)
            kept = self._to_memory(staged, df.schema)
            if kept is None:
                try:
                    os.rename(staged, self._path(key))
                except OSError:
                    pass  # a concurrent miss placed the same rows first
        finally:
            shutil.rmtree(staged, ignore_errors=True)
        with self._lock:
            self.misses += 1
            if kept is not None:
                self._remember(key, *kept)
                return kept[0]
            self._evict_files()
        return self.spark.read.parquet(self._path(key))

    def _to_memory(self, path: str, schema) -> tuple[DataFrame, int] | None:
        """The written result as a driver-held local relation and its Arrow
        bytes, or None when its measured size is over the entry cap."""
        cap = self._entry_cap()
        if _dir_bytes(path) > cap:
            return None
        written = self.spark.read.parquet(path)
        try:
            table = written.toArrow()
            if table.nbytes > cap:
                return None
            try:
                frame = self.spark.createDataFrame(table, schema=schema)
            except pa.ArrowTypeError:
                # parquet reads nested fields back as nullable, and Arrow
                # will not cast them to a declared non-null type
                frame = self.spark.createDataFrame(table, schema=written.schema)
        except (PySparkTypeError, UnsupportedOperationException):
            return None  # a type without an Arrow form (year-month interval)
        return frame, table.nbytes

    def _remember(self, key: str, frame: DataFrame, nbytes: int) -> None:
        """Add a memory entry and evict LRU by bytes and count (lock held)."""
        old = self._memory.pop(key, None)
        if old is not None:
            self._memory_bytes -= old[1]
        self._memory[key] = (frame, nbytes)
        self._memory_bytes += nbytes
        while (
            len(self._memory) > self.MAX_ENTRIES
            or self._memory_bytes > MEMORY_BUDGET_BYTES
        ):
            _, (_, victim_bytes) = self._memory.popitem(last=False)
            self._memory_bytes -= victim_bytes

    def _entry_dirs(self) -> list[str]:
        # keys are hex digests; a dotted name is a running store()'s stage
        with os.scandir(self.dir) as it:
            return [e.path for e in it if e.is_dir() and "." not in e.name]

    def _evict_files(self) -> None:
        """Evict parquet entries LRU by count (lock held)."""
        entries = sorted(self._entry_dirs(), key=os.path.getmtime)
        for victim in entries[: max(0, len(entries) - self.MAX_ENTRIES)]:
            shutil.rmtree(victim, ignore_errors=True)

    def clear(self) -> None:
        with self._lock:
            self._memory.clear()
            self._memory_bytes = 0
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.dir, exist_ok=True)

    def stats(self) -> dict:
        with self._lock:
            return {
                "hits": self.hits,
                "misses": self.misses,
                "bypasses": self.bypasses,
                "entries": len(self._memory) + len(self._entry_dirs()),
                "memory_entries": len(self._memory),
                "memory_bytes": self._memory_bytes,
                "checked_at": time.time(),
            }


def _dir_bytes(path: str) -> int:
    with os.scandir(path) as it:
        return sum(e.stat().st_size for e in it if e.is_file())
