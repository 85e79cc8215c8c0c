"""The crash-safe commit protocol for parquet rewriters' swap surfaces:
immutable generation directories behind one pointer object, over
local-FS and Hadoop-FS backends behind one scheme-dispatched surface.

The ledger and the persisted serving indexes rewrite by writing a
staged generation (``stage_path``) and publishing it (``swap_in``);
readers resolve the current physical directory with ``read_path``.
This is the manifest/pointer pattern every table format uses (immutable
data plus one metadata switch, as in POLARIS), and the same ``_CURRENT``
pattern the tokenizer version store uses.  It needs no directory rename,
so it runs unchanged on local, HDFS and object stores:

* ``stage_path`` allocates a FRESH numbered generation directory under
  ``<live>__gens/`` — numbers are monotone over every directory ever
  created there (torn publishes included), so a generation name is
  NEVER reused.
* ``swap_in`` verifies the staged generation (caller-supplied check,
  called with the directory), then commits by writing the
  ``<live>__gens/_CURRENT.json`` pointer through ``atomic_write`` —
  readers see the old pointer or the new, never a torn one.  No data
  moves at publish time.  A verify failure or a crash BEFORE the
  pointer commit leaves the pointer, and therefore every reader,
  untouched; the staged generation is unreferenced, invisible and
  reaped by the next publish's GC.  No post-commit verify is needed:
  the published bytes ARE the verified ones (nothing was renamed).
* ``read_path`` resolves the pointer to the current generation, or the
  plain live directory before the first publish (a directory written
  by a build that predates the pointer reads the same way).
* After the pointer commit, unreferenced stages (torn publishes) are
  garbage-collected and published generations are RETAINED per the
  reader-grace rule below (best-effort; a crash mid-GC leaves invisible
  garbage, reaped next publish).

READER GRACE / GENERATION RETENTION.  A reader that resolved
``read_path`` just before a publish holds a physical directory the
publisher no longer references; reaping it immediately would delete
files out from under an in-flight scan (at scale a long scan
overlapping a compact is routine — every table format retains
snapshots for exactly this).  The pointer file therefore carries the
publish LINEAGE (``history``), and ``gc_generations`` keeps the newest
``GENERATION_RETAIN`` published generations (the current one plus its
predecessors; default 2 = one full publish cycle of grace) while still
reaping torn stages promptly — a stage that never published is
invisible to every reader and gets no grace.  The pre-first-publish
plain directory participates as the implicit first predecessor.  Call
``gc_generations(live, keep=1)`` at maintenance cadence to reclaim the
grace copy once no reader can hold it.  Readers hold immutable
``gen-<N>`` paths, so the grace is snapshot isolation.  It covers
PUBLISHES only — the in-place mutation paths (keyed-batch dynamic
overwrite, appends) rewrite exactly their own subpartitions of the
CURRENT generation, so a reader racing a keyed replay of that one batch
can see its files churn; every other partition stays byte-stable.

CONDITIONAL (compare-and-swap) COMMITS.  Both mutable control objects
— the ``_CURRENT`` pointer and the ``_WRITER_LEASE`` record — are
read-modify-write, which on a plain store is last-writer-wins (the
documented advisory mode: violations surface loudly one check late).
Stores with conditional writes (S3 If-None-Match/If-Match, GCS
generation preconditions, Azure ETags) can close those races for real:
register an adapter with ``register_conditional_store(scheme, store)``
and the pointer commit becomes a conditional PUT against the tag read
at publish start (a concurrent publish raises instead of silently
orphaning the winner's generation), while ``maintenance.WriterLease``
upgrades to true fencing.  ``LocalConditionalStore`` implements the
adapter contract over local files for tests and single-process runs.

In-place mutation paths (keyed-batch dynamic overwrite, appends) are
NOT swaps: they write into the CURRENT generation via ``read_path`` and
carry their own crash story — keyed replays converge by overwriting
exactly their own subpartitions, forget re-runs are idempotent.  On a
real object store those Spark writes additionally need a cloud-safe
output committer (e.g. the S3A "magic" committer) — that is Spark
configuration, not this module's protocol.  Single-writer discipline is
the caller's contract (``maintenance.run_quiesced``).

Backend dispatch is by URI scheme: a bare path runs on ``os``/``shutil``;
a ``scheme://`` path runs through the Hadoop FileSystem API of the
active SparkSession (``file://`` included — the LocalFileSystem
backend, which is also how the protocol stays testable without a
cluster).

The single-file artifact surfaces (the tokenizer version store, the
BM25 corpus-constants snapshot, the Bloom artifact) never swap
directories: they write immutable version/artifact trees plus a small
pointer/meta object via ``atomic_write``, which commits by tmp+rename
on rename-capable stores and by direct overwrite-PUT on object stores
(PUT is atomic on close).  They deliberately do NOT call
``require_swap_capable``.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable


def _scheme(path: str) -> str:
    """URI scheme of ``path`` ('' for a bare local path)."""
    return path.split("://", 1)[0] if "://" in path else ""


#: schemes whose file rename is atomic — ``atomic_write`` commits there
#: by tmp + rename.  '' = bare local path (os.replace).
_ATOMIC_RENAME_SCHEMES = frozenset(
    {"", "file", "hdfs", "viewfs", "abfs", "abfss", "ofs", "alluxio"}
)

#: object-store schemes: "rename" is copy+delete (non-atomic, O(data)),
#: single-object PUT is atomic on close — ``atomic_write`` commits there
#: by a direct overwrite-PUT.
_OBJECT_STORE_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "gcs", "wasb", "wasbs", "oss", "cos",
     "swift"}
)


def require_swap_capable(path: str) -> str:
    """Validate that ``path`` lives on a store whose atomic small-object
    commit is known — tmp + rename on rename-capable stores, direct PUT
    on object stores (``atomic_write``, which commits every generation
    pointer).  An UNKNOWN scheme has no safe default either way and is
    refused loudly.  Returns the path unchanged (URIs stay URIs — every
    filesystem op downstream dispatches on the scheme)."""
    s = _scheme(path)
    if s not in _ATOMIC_RENAME_SCHEMES and s not in _OBJECT_STORE_SCHEMES:
        raise ValueError(
            f"path scheme {s!r} ({path}) has no known commit primitive "
            f"(atomic-rename stores: {sorted(_ATOMIC_RENAME_SCHEMES - {''})}; "
            f"object stores: {sorted(_OBJECT_STORE_SCHEMES)})"
        )
    return path


def _active_spark(spark=None):
    if spark is not None:
        return spark
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "a remote-scheme path needs an active SparkSession for the "
            "Hadoop FileSystem API (none is active and none was passed)"
        )
    return s


class _HadoopFs:
    """Thin wrapper over the JVM Hadoop FileSystem for one path's scheme
    — mirrors exactly the os/shutil surface the local backend uses, so
    the commit logic above it is backend-agnostic."""

    def __init__(self, path: str, spark=None):
        spark = _active_spark(spark)
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._gw = spark.sparkContext._gateway
        self._fs = self.jpath(path).getFileSystem(self._conf)

    def jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self.jpath(p)))

    def isdir(self, p: str) -> bool:
        jp = self.jpath(p)
        return bool(self._fs.exists(jp) and self._fs.getFileStatus(jp).isDirectory())

    def listdir(self, p: str) -> list[str]:
        """Child names (not paths) of directory ``p``; [] when missing."""
        jp = self.jpath(p)
        if not self._fs.exists(jp):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(jp)]

    def rmtree(self, p: str) -> None:
        """Recursive delete, missing-ok (shutil.rmtree(ignore_errors=True)
        semantics)."""
        jp = self.jpath(p)
        if self._fs.exists(jp):
            self._fs.delete(jp, True)

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self.jpath(p))

    def read_bytes(self, p: str) -> bytes:
        stream = self._fs.open(self.jpath(p))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_bytes(self, p: str, data: bytes) -> None:
        out = self._fs.create(self.jpath(p), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def rename_overwrite(self, src: str, dst: str) -> None:
        """Atomic replace (os.replace semantics) via FileContext rename
        with Options.Rename.OVERWRITE — the sidecar-write commit step."""
        Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gw.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        fctx = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self.jpath(dst).toUri(), self._conf
        )
        fctx.rename(self.jpath(src), self.jpath(dst), opts)


def _hfs(path: str, spark=None) -> _HadoopFs | None:
    """Hadoop backend for ``path``, or None when it is a bare local path."""
    return _HadoopFs(path, spark) if _scheme(path) else None


# -- scheme-dispatched filesystem helpers (the surface the ledgers and
#    serving indexes build their existence checks / dir scans on) --------


def fs_exists(path: str, spark=None) -> bool:
    h = _hfs(path, spark)
    return os.path.exists(path) if h is None else h.exists(path)


def fs_isdir(path: str, spark=None) -> bool:
    h = _hfs(path, spark)
    return os.path.isdir(path) if h is None else h.isdir(path)


def fs_listdir(path: str, spark=None) -> list[str]:
    """Child names of a directory; [] when it does not exist (callers
    scan partition layouts that may not have been written yet)."""
    h = _hfs(path, spark)
    if h is None:
        return os.listdir(path) if os.path.isdir(path) else []
    return h.listdir(path) if h.isdir(path) else []


def fs_rmtree(path: str, spark=None) -> None:
    """Recursive delete, missing-ok; a plain file is deleted too (as the
    Hadoop backend does)."""
    h = _hfs(path, spark)
    if h is None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.lexists(path):
            os.remove(path)
    else:
        h.rmtree(path)


def fs_mkdirs(path: str, spark=None) -> None:
    h = _hfs(path, spark)
    if h is None:
        os.makedirs(path, exist_ok=True)
    else:
        h.mkdirs(path)


def fs_read_bytes(path: str, spark=None) -> bytes:
    h = _hfs(path, spark)
    if h is None:
        with open(path, "rb") as f:
            return f.read()
    return h.read_bytes(path)


def fs_mtime(path: str, spark=None) -> float:
    """Modification time of ``path`` in epoch seconds (directory mtime on
    the local backend; Hadoop getFileStatus().getModificationTime() —
    milliseconds — elsewhere)."""
    h = _hfs(path, spark)
    if h is None:
        return os.stat(path).st_mtime
    return h._fs.getFileStatus(h.jpath(path)).getModificationTime() / 1000.0


# -- conditional (compare-and-swap) writes --------------------------------
#
# Modern object stores expose CONDITIONAL writes on single objects:
# S3 PutObject with If-None-Match:* (create-if-absent) / If-Match:<etag>
# (replace-if-unchanged), GCS generation preconditions
# (x-goog-if-generation-match), Azure Blob ETag If-Match.  With that
# primitive the two documented advisory races close for real:
# a concurrent generations publish loses ATOMICALLY at the pointer PUT
# instead of last-writer-wins, and the WriterLease upgrades from
# advisory to FENCED (see maintenance.WriterLease).  The Hadoop
# FileSystem API exposes no portable precondition, so this is a
# registered adapter per scheme, not a backend method — deployments
# plug in a thin client over their store's native preconditions;
# everything here consumes the three-method protocol below.


class CasConflict(RuntimeError):
    """A conditional put/delete lost its race: the object changed (or
    appeared) since its tag was read.  The caller's read-modify-write
    must be abandoned — the store holds the WINNER's value, nothing is
    torn."""


class LocalConditionalStore:
    """File-backed conditional store with the object stores' conditional
    -write semantics — ``tag=None`` in ``put`` means create-if-absent
    (If-None-Match:*), a non-None tag means replace-if-unchanged
    (If-Match) — for SINGLE-PROCESS use (tests, local runs): the tag is
    the current content's digest and an in-process lock makes the
    read-compare-write atomic.  A real deployment registers an adapter
    whose ``put`` maps the tag to the store's native precondition
    (the etag/generation returned by ``read``) so the compare happens
    server-side."""

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()

    @staticmethod
    def _tag(data: bytes) -> str:
        import hashlib

        return hashlib.sha256(data).hexdigest()

    @staticmethod
    def _local(path: str) -> str:
        return path.split("://", 1)[1] if path.startswith("file://") else path

    def read(self, path: str):
        """(bytes, tag) of the current object, or None when absent."""
        p = self._local(path)
        with self._lock:
            if not os.path.exists(p):
                return None
            with open(p, "rb") as f:
                data = f.read()
            return data, self._tag(data)

    def put(self, path: str, data: bytes, expected_tag) -> None:
        """Conditional PUT: requires the object absent (``expected_tag
        is None``) or unchanged since its tag was read.  Raises
        ``CasConflict`` when the precondition fails."""
        p = self._local(path)
        with self._lock:
            cur = None
            if os.path.exists(p):
                with open(p, "rb") as f:
                    cur = f.read()
            if expected_tag is None:
                if cur is not None:
                    raise CasConflict(f"object exists: {path}")
            elif cur is None or self._tag(cur) != expected_tag:
                raise CasConflict(f"object changed since read: {path}")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            tmp = p + ".cas_tmp"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, p)

    def delete(self, path: str, expected_tag) -> None:
        """Conditional delete: removes the object only while unchanged;
        absent is a no-op (idempotent release).  Raises ``CasConflict``
        when the object changed since its tag was read."""
        p = self._local(path)
        with self._lock:
            if not os.path.exists(p):
                return
            with open(p, "rb") as f:
                cur = f.read()
            if self._tag(cur) != expected_tag:
                raise CasConflict(f"object changed since read: {path}")
            os.remove(p)


#: per-scheme conditional-store adapters (register_conditional_store).
_CONDITIONAL_STORES: dict[str, object] = {}


def register_conditional_store(scheme: str, store) -> None:
    """Register a conditional-write adapter for a URI scheme (None to
    clear).  With one registered, the generations pointer commit and the
    ``WriterLease`` record go through ``store.put(path, data,
    expected_tag)`` instead of blind overwrites — concurrent publishers
    and lease writers then lose ATOMICALLY (``CasConflict``) rather than
    last-writer-wins.  The adapter contract is ``LocalConditionalStore``'s
    three methods; implement them over the store's native preconditions
    (S3 conditional writes, GCS generation preconditions, Azure ETags).
    An S3 adapter is ~15 lines over the public API — the tag is the
    ETag returned alongside the read::

        class S3ConditionalStore:                     # sketch, not shipped
            def read(self, path):
                bucket, key = _split(path)
                try:
                    r = s3.get_object(Bucket=bucket, Key=key)
                except s3.exceptions.NoSuchKey:
                    return None
                return r["Body"].read(), r["ETag"]

            def put(self, path, data, expected_tag):
                bucket, key = _split(path)
                cond = ({"IfNoneMatch": "*"} if expected_tag is None
                        else {"IfMatch": expected_tag})
                try:
                    s3.put_object(Bucket=bucket, Key=key, Body=data, **cond)
                except ClientError as e:  # PreconditionFailed / 409
                    raise CasConflict(path) from e

            def delete(self, path, expected_tag):
                # conditional DELETE where the store offers it; else
                # read-verify + delete (narrows, not closes, the race)
                ...

        register_conditional_store("s3a", S3ConditionalStore())"""
    if store is None:
        _CONDITIONAL_STORES.pop(scheme, None)
    else:
        _CONDITIONAL_STORES[scheme] = store


def conditional_store(path: str):
    """The registered conditional-write adapter for ``path``'s scheme,
    or None (blind-overwrite commit, the documented advisory mode)."""
    return _CONDITIONAL_STORES.get(_scheme(path))


# -- the generations (pointer-file) commit protocol -----------------------

#: generation store suffix + pointer object name.  The pointer is the
#: ONLY mutable object in the layout; everything else is written once.
_GENS_SUFFIX = "__gens"
_POINTER = "_CURRENT.json"

#: how many PUBLISHED generations gc_generations keeps by default — the
#: current one plus (N-1) predecessors, giving in-flight readers one
#: full publish cycle of grace (see the module docstring).  The pointer
#: records the lineage, so torn stages are never confused with
#: retained predecessors.
GENERATION_RETAIN = 2

#: lineage depth RECORDED in the pointer (record > policy: the pointer
#: keeps more history than the default GC uses, so an operator can raise
#: GENERATION_RETAIN — or call gc_generations(keep=N) — without the
#: record having already forgotten the predecessors; entries beyond the
#: GC policy refer to already-reaped names, which is harmless).
_LINEAGE_DEPTH = 16

#: the history token for the pre-first-publish plain live directory —
#: the implicit generation readers resolved before any pointer existed.
_PLAIN = "."


def _gens_dir(live: str) -> str:
    return live + _GENS_SUFFIX


def _gen_number(name: str) -> int | None:
    """Generation number of a child name, or None for non-generation
    entries (the pointer, tmp files)."""
    if not name.startswith("gen-"):
        return None
    tail = name.split("-", 1)[1]
    return int(tail) if tail.isdigit() else None


def _pointer_read(live: str, spark=None) -> dict | None:
    """The pointer record ({gen, history}) or None before the first
    publish.  ``history`` is the publish lineage, newest first (may be
    absent on pre-retention pointers)."""
    import json

    ptr = os.path.join(_gens_dir(live), _POINTER)
    if not fs_exists(ptr, spark):
        return None
    return json.loads(fs_read_bytes(ptr, spark))


def _current_generation(live: str, spark=None) -> str | None:
    """Name of the generation the pointer references, or None before the
    first publish.  A pointer referencing a missing directory is loud —
    that is manual-surgery corruption, not a crash state this protocol
    can produce (the pointer is written only after the generation
    verifies)."""
    rec = _pointer_read(live, spark)
    if rec is None:
        return None
    name = rec["gen"]
    if not fs_exists(os.path.join(_gens_dir(live), name), spark):
        raise RuntimeError(
            f"generation pointer at {os.path.join(_gens_dir(live), _POINTER)}"
            f" references missing generation "
            f"{name!r} — the store was modified outside this protocol"
        )
    return name


def read_path(live: str, spark=None) -> str:
    """The physical directory to read (or mutate in place) for logical
    path ``live`` — THE resolver every reader, in-place writer and
    existence check of a swap surface goes through: the published
    generation the ``_CURRENT`` pointer names, or ``live`` itself before
    the first publish.  (After two publishes the plain ``live``
    directory is reaped, so a check on it says nothing.)"""
    cur = _current_generation(live, spark)
    return live if cur is None else os.path.join(_gens_dir(live), cur)


def stage_path(live: str, spark=None) -> str:
    """Where a rewriter should WRITE its staged replacement for ``live``
    before publishing it with ``swap_in``: a FRESH
    ``<live>__gens/gen-<N>`` — N is one past the highest number ever
    allocated there, torn/abandoned stages included, so a generation
    name is never reused even across crashes."""
    gens = _gens_dir(live)
    fs_mkdirs(gens, spark)
    taken = [
        n for n in (_gen_number(c) for c in fs_listdir(gens, spark))
        if n is not None
    ]
    return os.path.join(gens, f"gen-{(max(taken) + 1 if taken else 0):09d}")


def gc_generations(
    live: str,
    spark=None,
    keep: int | None = None,
    min_age_s: float | None = None,
) -> list[str]:
    """Reap unreferenced generations — torn stages immediately (no
    reader ever resolved them), PUBLISHED predecessors beyond the
    ``keep`` newest (current + keep−1 lineage entries; default
    ``GENERATION_RETAIN`` — the in-flight-reader grace, see the module
    docstring) — plus the pre-first-publish plain directory once it
    leaves the retained lineage.  Runs automatically after each publish;
    call with ``keep=1`` at maintenance cadence to reclaim the grace
    copies once no reader can hold them.

    ``min_age_s`` is the TIME-based grace alternative (the table-format
    retention knob): any reapable directory younger than this many
    seconds is kept for now — e.g. ``gc_generations(p, keep=1,
    min_age_s=3600)`` reclaims everything no reader that started within
    the last hour could hold, without counting publish cycles.  Age is
    the directory's mtime AS THE BACKEND REPORTS IT (its creation for
    write-once generation dirs) — local and HDFS mtimes are faithful,
    but object stores synthesize directory entries and their "mtime"
    may be epoch-zero or the listing time; where mtime fidelity is
    unknown, prefer the count-based ``keep`` grace, which needs no
    clock.  Returns the removed paths."""
    import time as _time

    if keep is None:
        keep = GENERATION_RETAIN
    if keep < 1:
        raise ValueError("keep must be >= 1 (the current generation)")
    rec = _pointer_read(live, spark)
    if rec is None:
        return []
    cur = rec["gen"]
    retained = {cur, *rec.get("history", [])[: keep - 1]}

    def _too_young(p: str) -> bool:
        if min_age_s is None:
            return False
        try:
            return (_time.time() - fs_mtime(p, spark)) < min_age_s
        except Exception:
            # raced away already — reapable by definition.  Broad catch
            # on purpose: the local backend raises OSError here, but the
            # Hadoop/object-store backends surface Py4J-wrapped Java
            # exceptions (FileNotFoundException et al.) for the same
            # raced-away condition.
            return False

    gens = _gens_dir(live)
    removed = []
    for child in fs_listdir(gens, spark):
        p = os.path.join(gens, child)
        if (
            _gen_number(child) is not None
            and child not in retained
            and not _too_young(p)
        ):
            fs_rmtree(p, spark)
            removed.append(p)
    if (
        _PLAIN not in retained
        and fs_exists(live, spark)
        and not _too_young(live)
    ):
        fs_rmtree(live, spark)
        removed.append(live)
    return removed


def remove_surface(live: str, spark=None) -> None:
    """Delete a swap surface entirely (e.g. a tombstone table pruned to
    empty).  Pointer first: readers stop resolving before any data
    disappears, and a crash mid-removal leaves only invisible garbage."""
    fs_rmtree(os.path.join(_gens_dir(live), _POINTER), spark)
    fs_rmtree(_gens_dir(live), spark)
    fs_rmtree(live, spark)


def swap_in(
    live: str,
    stage: str,
    verify: Callable[[str], None] | None = None,
    spark=None,
) -> None:
    """Publish ``stage`` (allocated by ``stage_path``) as the new content
    of logical path ``live``: verify the staged generation, commit the
    ``_CURRENT`` pointer through ``atomic_write`` (no data moves; the
    pointer carries the publish lineage for the retention rule), then GC
    torn stages and out-of-grace predecessors.  ``verify`` (e.g. a 1-row
    read of the given directory) is called with ``stage``; a failure
    there — or a crash anywhere before the pointer commit — leaves the
    pointer, and therefore every reader, on the previous generation.  A
    surface with no pointer yet is a FIRST publish (so builds bootstrap
    through the same crash-safe commit).
    """
    import json

    gens = _gens_dir(live)
    name = os.path.basename(stage.rstrip("/"))
    if os.path.dirname(stage.rstrip("/")) != gens or _gen_number(
        name
    ) is None:
        raise ValueError(
            f"publish requires a stage allocated by "
            f"stage_path({live!r}); got {stage!r}"
        )
    if verify is not None:
        verify(stage)  # raises -> pointer (and every reader) untouched
    ptr = os.path.join(gens, _POINTER)
    store = conditional_store(live)
    tag = None
    if store is None:
        prev = _pointer_read(live, spark)
    else:
        cur = store.read(ptr)
        prev = json.loads(cur[0]) if cur is not None else None
        tag = cur[1] if cur is not None else None
    # lineage, newest first; the plain pre-publish dir is the
    # implicit first predecessor.  Recorded to _LINEAGE_DEPTH —
    # deeper than the GC policy, which picks its own keep at GC time.
    history = (
        [prev["gen"], *prev.get("history", [])]
        if prev is not None
        else [_PLAIN]
    )[:_LINEAGE_DEPTH]
    data = json.dumps({"gen": name, "history": history}).encode()
    if store is None:
        atomic_write(ptr, data, spark)
    else:
        # conditional commit: a concurrent publish loses ATOMICALLY
        # here (the store holds the winner's pointer; this stage
        # stays invisible and is reaped by the winner's GC) instead
        # of last-writer-wins silently orphaning the winner's data
        try:
            store.put(ptr, data, tag)
        except CasConflict as e:
            raise RuntimeError(
                f"concurrent publish detected at {ptr}: another "
                f"writer committed a pointer since this publish "
                "read it — single-writer contract violated; this "
                f"stage ({name}) was NOT published"
            ) from e
    gc_generations(live, spark)


def atomic_write(path: str, data: bytes, spark=None) -> None:
    """Crash-safe small-object write: write to a same-directory temp
    file, then atomically replace (``os.replace`` locally; FileContext
    rename-with-OVERWRITE on Hadoop stores) — readers see the old content
    or the new, never a torn file.  On object-store schemes the commit is
    a direct overwrite-PUT instead — the store's native atomic primitive;
    its "rename" is the copy+delete this call exists to avoid."""
    h = _hfs(path, spark)
    if h is not None and _scheme(path) in _OBJECT_STORE_SCHEMES:
        h.write_bytes(path, data)
        return
    tmp = path + ".tmp"
    if h is None:
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    else:
        h.write_bytes(tmp, data)
        h.rename_overwrite(tmp, path)


def atomic_json_write(path: str, obj, spark=None) -> None:
    """``atomic_write`` for the JSON meta sidecars (index constants,
    Bloom meta): a crash mid-write must never tear the sidecar every
    reopen parses."""
    import json

    atomic_write(path, json.dumps(obj).encode(), spark)
