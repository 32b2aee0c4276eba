"""Minimal filesystem interface under the commit/state layer.

The :class:`~.committer.ManifestCommitter` protocol was designed so that
its commit point is ONE atomic single-key write — the only atomic
primitive object stores (S3/GCS) offer. This module pins that contract in
code instead of prose: the committer (and the curation-state maintenance
ops that route through it) performs every filesystem touch through this
interface, and the interface deliberately has NO rename/move method for
the staged-in-place write path.

Two implementations:

- :class:`LocalFS` — the default; maps 1:1 onto ``os``/``shutil``.
  ``put`` is write-tmp + ``os.replace`` (atomic on POSIX).
- :class:`ObjectStoreFS` — an object-store-semantics stand-in used by the
  committer test suite: same local backing directory, but ``move_in``
  (the only rename-shaped operation in the interface, needed solely for
  the legacy staged-elsewhere commit branch) raises — a real S3/GCS
  binding cannot rename either. The full committer property/crash suite
  running green against this class is the proof that the protocol never
  reaches for a primitive an object store cannot provide. ``put`` models
  a single-key PUT: the object appears atomically under its final key.

A production S3/GCS binding implements the same ~10 methods over boto3 /
fsspec (``put`` = PutObject, ``walk_files`` = ListObjectsV2, ``rmtree`` =
batched DeleteObjects); the committer, statestore, and their tests carry
over unchanged.
"""

from __future__ import annotations

import os
import shutil
import uuid


class LocalFS:
    """``os``/``shutil``-backed implementation — the default everywhere."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def getmtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def size(self, path: str) -> int:
        """Byte size of one object — compaction's file-sizing probe."""
        return os.path.getsize(path)

    def spark_path(self, path: str) -> str:
        """The name Spark reads/writes this path under. Local filesystems:
        identity. Object-store bindings prepend the scheme (``s3a://…``)
        so driver-side listing (scheme-less backend keys) and executor
        I/O (Hadoop-connector URLs) stay consistent — every path the lake
        or state layer hands to ``spark.read``/``df.write`` goes through
        this hook."""
        return path

    def _put_raw(self, path: str, data: str) -> None:
        """The unlocked single-key PUT: write a sibling tmp file, then one
        atomic ``os.replace``. Only :meth:`put` / :meth:`put_if` (which
        hold the pointer lock) may call this."""
        tmp = os.path.join(
            os.path.dirname(path), f".put.{uuid.uuid4().hex}"
        )
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def _lock_pointer(
        self, path: str, lock_timeout_s: float, stale_lock_s: float
    ) -> int:
        """Acquire ``path``'s pointer lock; returns an fd holding an
        exclusive OS advisory lock (``flock``) on a PERSISTENT dot-named
        sibling file (``.<name>.cas_lock``). Close the fd to release.

        ``flock`` instead of ``O_EXCL``-create for two reasons proven
        buggy in the create/steal design: (1) a crashed holder's lock is
        released by the kernel the moment its process dies — there is no
        staleness heuristic and therefore no steal race (two waiters
        deciding "stale" from an mtime read could previously both act on
        it, one of them renaming away a FRESH lock); (2) the lock file is
        never created-and-removed under pointer names, so prefix scans
        over the pointer directory (``_PIN.*``, ``_TABLE_PIN.*``,
        commit-marker listings) can never observe a transient
        ``<pointer>.cas_lock`` entry as a phantom pointer — the dot-named
        lock file is permanent, tiny, and matches no pointer prefix.

        The lock file must never be unlinked while the store lives:
        removing it while one holder has it flocked would let the next
        acquirer lock a NEW inode and break mutual exclusion (the classic
        unlink-vs-flock race). ``stale_lock_s`` is retained in the
        signature for callers written against the steal design; it is
        unused — kernel-released locks have no stale state.
        """
        import fcntl  # noqa: PLC0415
        import time  # noqa: PLC0415

        del stale_lock_s  # no steal protocol: crashed holders auto-release
        lock = os.path.join(
            os.path.dirname(path),
            f".{os.path.basename(path)}.cas_lock",
        )
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        deadline = time.monotonic() + lock_timeout_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except (BlockingIOError, PermissionError):
                if time.monotonic() > deadline:
                    os.close(fd)
                    raise TimeoutError(
                        f"CAS lock contention on {lock}"
                    ) from None
                time.sleep(0.01)

    def put(
        self,
        path: str,
        data: str,
        lock_timeout_s: float = 10.0,
        stale_lock_s: float = 60.0,
    ) -> None:
        """Atomically publish a small object at ``path`` (the manifest /
        pin / marker write). Takes the same pointer lock as :meth:`put_if`
        so an UNCONDITIONAL pointer write (a blind sync publish) landing
        inside a concurrent CAS's read-check-replace window is observed by
        that CAS (which then fails its precondition) instead of being
        silently overwritten — conditional and unconditional writers
        serialize. On a real object store both are single PutObject calls
        against the same key, which the store itself serializes."""
        fd = self._lock_pointer(path, lock_timeout_s, stale_lock_s)
        try:
            self._put_raw(path, data)
        finally:
            os.close(fd)  # releases the flock

    def put_if(
        self,
        path: str,
        data: str,
        expected: str | None,
        lock_timeout_s: float = 10.0,
        stale_lock_s: float = 60.0,
    ) -> bool:
        """Conditional single-key PUT (compare-and-swap): publish ``data``
        at ``path`` iff the current content equals ``expected`` (``None``
        = the key must not exist). Returns ``True`` on success, ``False``
        when the precondition failed — the caller lost a race and must
        re-read before retrying.

        On a real object store this IS one server-side primitive — S3
        conditional writes (``If-Match``/``If-None-Match`` on PutObject),
        GCS ``if-generation-match`` — with no extra object involved. The
        local emulation brackets read-check-replace with an exclusive
        ``flock`` on a persistent dot-named sibling lock file; a crashed
        holder's lock is released by the kernel, so there is no stale
        state and no steal protocol (see :meth:`_lock_pointer`).
        """
        fd = self._lock_pointer(path, lock_timeout_s, stale_lock_s)
        try:
            try:
                current: str | None = self.read(path)
            except FileNotFoundError:
                current = None
            if current != expected:
                return False
            self._put_raw(path, data)
            return True
        finally:
            os.close(fd)  # releases the flock

    def read(self, path: str) -> str:
        """Contents of a small object; FileNotFoundError when absent."""
        with open(path) as f:
            return f.read()

    def read_bytes(self, path: str) -> bytes:
        """Binary contents of a small data file (a control-table parquet
        file the driver reads itself); FileNotFoundError when absent."""
        with open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Write a small data file into a STAGED directory. Not a commit
        point (the committer publishes the directory), so no tmp+replace."""
        with open(path, "wb") as f:
            f.write(data)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def move_in(self, src_dir: str, dst_dir: str) -> None:
        """Move a directory staged OUTSIDE the destination into it — only
        the legacy not-staged-in-place commit branch uses this.
        ``shutil.move`` (rename with copy+delete fallback) so a stage dir
        on another filesystem (e.g. ``tempfile.gettempdir()``) commits
        instead of failing with EXDEV."""
        shutil.move(src_dir, dst_dir)

    def walk_files(self, path: str, suffix: str = ".parquet") -> list[str]:
        """Every file under ``path`` (recursive) with the given suffix —
        the recursive-list primitive state-store reads are built on."""
        out: list[str] = []
        for root, _dirs, files in os.walk(path):
            out.extend(
                os.path.join(root, f) for f in files if f.endswith(suffix)
            )
        return out


class WeakCasError(RuntimeError):
    """A compare-and-swap was requested on a backend that can only offer
    read-check-put (no server-side conditional write) and the caller did
    not opt into that weaker semantics."""


class FsspecFS:
    """Adapter from this interface onto an fsspec ``AbstractFileSystem``
    (s3fs, gcsfs, adlfs, ``LocalFileSystem``, …): hand it
    ``fsspec.filesystem("s3")`` and the committer/state layer runs
    unchanged against the real object store. fsspec itself stays an
    optional dependency — this class touches only the instance you pass,
    never imports the package.

    Object-store mapping notes:

    - ``put`` opens the key for write and closes it; on s3fs/gcsfs the
      object appears atomically under its final key when the upload
      completes (single-key PUT) — exactly the one atomic primitive the
      commit protocol is built on.
    - ``getmtime`` of a DIRECTORY (used to age GC candidates and to find
      the newest replay-protected batch dir) has no object-store analog:
      it aggregates ``max(modified)`` over the keys below the prefix
      (empty prefix → 0.0). Key mtimes only move forward on overwrite,
      so "newest batch dir" stays correct.
    - ``move_in`` maps to ``mv(recursive=True)``, which object-store
      backends implement as copy+delete — functional but NOT atomic,
      which is why the committer stages in place and never reaches it on
      these backends.

    Paths are kept in the backend's own scheme-less key space internally;
    :meth:`spark_path` re-prepends the wrapped filesystem's protocol
    (``unstrip_protocol``) so callers hand Spark fully-qualified URLs —
    the lake/state layers route every Spark-facing path through it.

    ``allow_weak_cas``: a generic ``AbstractFileSystem`` exposes no
    server-side conditional write, so :meth:`put_if` here can only be
    read-check-put — two writers racing inside the window BOTH succeed,
    the exact lost update ``CommitConflict`` exists to prevent. That
    downgrade must be chosen, not stumbled into: by default ``put_if``
    raises :class:`WeakCasError`; pass ``allow_weak_cas=True`` to accept
    best-effort CAS, or use :class:`S3FsspecFS` / :class:`GcsFsspecFS`,
    which close the window with the store's own conditional PUT.
    """

    def __init__(self, fs, allow_weak_cas: bool = False) -> None:
        self._fs = fs
        self._allow_weak_cas = allow_weak_cas

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(path))

    def isdir(self, path: str) -> bool:
        return bool(self._fs.isdir(path))

    def listdir(self, path: str) -> list[str]:
        return [
            n.rstrip("/").rsplit("/", 1)[-1]
            for n in self._fs.ls(path, detail=False)
        ]

    def makedirs(self, path: str) -> None:
        self._fs.makedirs(path, exist_ok=True)

    def getmtime(self, path: str) -> float:
        if self._fs.isdir(path):
            times = [
                self._mtime(f) for f in self._fs.find(path)
            ]
            return max(times, default=0.0)
        return self._mtime(path)

    def _mtime(self, path: str) -> float:
        m = self._fs.modified(path)
        return m.timestamp() if hasattr(m, "timestamp") else float(m)

    def size(self, path: str) -> int:
        return int(self._fs.size(path))

    def spark_path(self, path: str) -> str:
        """Re-prepend the wrapped filesystem's protocol so Spark gets a
        fully-qualified URL (``s3://bucket/key``) for the scheme-less key
        the driver-side listing works in. Backends without
        ``unstrip_protocol`` (e.g. a local stand-in) pass through."""
        unstrip = getattr(self._fs, "unstrip_protocol", None)
        return unstrip(path) if unstrip is not None else path

    def put(self, path: str, data: str) -> None:
        with self._fs.open(path, "w") as f:
            f.write(data)

    def put_if(self, path: str, data: str, expected: str | None) -> bool:
        """Best-effort CAS over generic fsspec: read-check-put WITHOUT a
        server-side precondition, because ``AbstractFileSystem`` exposes
        none. This catches stale-basis writers (the common lost-update
        case) but two writers racing inside the check-put window can both
        succeed — so it is OPT-IN (``allow_weak_cas=True``) and raises
        :class:`WeakCasError` otherwise. :class:`S3FsspecFS` /
        :class:`GcsFsspecFS` override this with the store's conditional
        write (S3 ``If-Match``/``If-None-Match`` PUT, GCS
        ``if-generation-match``), which closes the window server-side.
        """
        if not self._allow_weak_cas:
            raise WeakCasError(
                f"conditional write on {path}: generic fsspec backends "
                "have no server-side conditional PUT, so CAS here would "
                "be read-check-put with a silent race window. Use "
                "S3FsspecFS/GcsFsspecFS (server-side CAS) or pass "
                "allow_weak_cas=True to accept best-effort semantics."
            )
        try:
            with self._fs.open(path, "r") as f:
                current: str | None = f.read()
        except FileNotFoundError:
            current = None
        if current != expected:
            return False
        self.put(path, data)
        return True

    def read(self, path: str) -> str:
        with self._fs.open(path, "r") as f:
            return f.read()

    def read_bytes(self, path: str) -> bytes:
        with self._fs.open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        with self._fs.open(path, "wb") as f:
            f.write(data)

    def remove(self, path: str) -> None:
        self._fs.rm_file(path)

    def rmtree(self, path: str) -> None:
        try:
            self._fs.rm(path, recursive=True)
        except FileNotFoundError:
            pass

    def move_in(self, src_dir: str, dst_dir: str) -> None:
        self._fs.mv(src_dir, dst_dir, recursive=True)

    def walk_files(self, path: str, suffix: str = ".parquet") -> list[str]:
        return [f for f in self._fs.find(path) if f.endswith(suffix)]


#: error-code strings that identify a failed-precondition response from a
#: store's conditional PUT — S3 ``PreconditionFailed`` (412), GCS
#: ``conditionNotMet`` (412), plus proxy variants.
_PRECONDITION_CODES = frozenset(
    {"preconditionfailed", "conditionnotmet", "precondition failed"}
)


def _is_precondition_failure(exc: BaseException) -> bool:
    """True iff ``exc`` is a store's failed-precondition (HTTP 412)
    response to a conditional PUT. STRUCTURED fields only — exception
    class name, numeric status attributes (gcsfs ``HttpError.code``),
    and the botocore response dict (``Error.Code`` /
    ``ResponseMetadata.HTTPStatusCode``) — never a substring scan of the
    repr, where a request id or byte count containing "412" would turn a
    throttling failure into a silent "lost the race" (masking real
    infrastructure errors as benign). Walks ``__cause__`` ONLY — the
    explicit ``raise … from`` chain s3fs/gcsfs use when translating
    botocore errors. Implicit ``__context__`` is deliberately excluded:
    an unrelated exception raised while HANDLING a genuine 412 (a
    cleanup or retry failure) carries the 412 in its ``__context__``,
    and classifying it as a benign lost race would silently swallow the
    real infrastructure error. Anything unrecognized re-raises at the
    call site."""
    seen: set[int] = set()
    e: BaseException | None = exc
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        name = type(e).__name__.lower()
        if "preconditionfailed" in name or "conditionnotmet" in name:
            return True
        for attr in ("code", "status", "status_code"):
            v = getattr(e, attr, None)
            if v == 412 or (isinstance(v, str) and v.strip() == "412"):
                return True
        resp = getattr(e, "response", None)
        if isinstance(resp, dict):
            meta = resp.get("ResponseMetadata", {})
            if isinstance(meta, dict) and meta.get("HTTPStatusCode") == 412:
                return True
            err = resp.get("Error", {})
            code = err.get("Code", "") if isinstance(err, dict) else ""
            if str(code).strip().lower() in _PRECONDITION_CODES | {"412"}:
                return True
        e = e.__cause__
    return False


class _ConditionalPutFsspecFS(FsspecFS):
    """Shared shape of the server-side-CAS fsspec bindings.

    :meth:`put_if` compares CONTENT (the committer's ``expected_basis``
    protocol), but closes the read→put window with the store's version
    token: read the current object together with its token, check the
    content, then issue a conditional PUT pinned to that token — if any
    writer lands in between, the token no longer matches and the store
    itself rejects the PUT (HTTP 412), which we report as a lost race.
    Subclasses name the token field and the conditional-PUT kwargs.
    """

    def __init__(self, fs) -> None:
        # server-side CAS — the weak-CAS opt-in does not apply here
        super().__init__(fs, allow_weak_cas=True)

    def _token(self, info: dict):
        raise NotImplementedError

    def _cond_kwargs(self, token) -> dict:
        """kwargs for ``pipe_file`` that make the PUT conditional on
        ``token`` (``None`` = the key must not exist)."""
        raise NotImplementedError

    def put_if(self, path: str, data: str, expected: str | None) -> bool:
        if expected is None:
            token = None
        else:
            try:
                info = self._fs.info(path)
            except FileNotFoundError:
                return False  # expected content, found nothing
            token = self._token(info)
            with self._fs.open(path, "r") as f:
                if f.read() != expected:
                    return False
        try:
            self._fs.pipe_file(
                path, data.encode("utf-8"), **self._cond_kwargs(token)
            )
        except FileNotFoundError:
            raise
        except Exception as exc:  # noqa: BLE001 — see marker rationale
            if _is_precondition_failure(exc):
                return False  # another writer moved the pointer first
            raise
        return True


class S3FsspecFS(_ConditionalPutFsspecFS):
    """s3fs binding with SERVER-SIDE compare-and-swap via S3 conditional
    writes: ``IfMatch=<etag>`` pins an overwrite to the version whose
    content was checked, ``IfNoneMatch='*'`` implements create-if-absent;
    a losing writer gets HTTP 412 ``PreconditionFailed`` from S3 itself —
    no race window. ``pipe_file`` forwards the kwargs to ``PutObject``.
    Tested two ways: the generation-token fake in ``tests/fake_fsspec.py``
    pins the protocol (racing-writer interleavings, error propagation),
    and ``tests/test_fs_cas_moto.py`` runs the binding against moto's
    in-process S3 through a minimal s3fs-shaped adapter — real botocore
    request cycle, real ``ClientError``/412 shapes through the
    ``__cause__`` chain ``_is_precondition_failure`` walks, up to a full
    two-committer CommitConflict race."""

    def _token(self, info: dict):
        return info["ETag"]

    def _cond_kwargs(self, token) -> dict:
        return {"IfNoneMatch": "*"} if token is None else {"IfMatch": token}


class GcsFsspecFS(_ConditionalPutFsspecFS):
    """gcsfs binding with server-side CAS via object generations:
    ``if_generation_match=<generation>`` pins the overwrite,
    ``if_generation_match=0`` means the object must not exist; a losing
    writer gets HTTP 412 from GCS. See :class:`S3FsspecFS` for the
    test strategy."""

    def _token(self, info: dict):
        return info["generation"]

    def _cond_kwargs(self, token) -> dict:
        return {"if_generation_match": 0 if token is None else token}


class ObjectStoreFS(LocalFS):
    """Object-store semantics over a local backing dir: no rename/move.

    See module docstring — running the committer suite against this class
    proves the staged-in-place protocol needs nothing an object store
    lacks. Data writes (Spark parquet jobs) still land as ordinary files,
    exactly as Spark's S3 committers leave task outputs under their final
    keys; only the *protocol* operations go through the interface.
    """

    def move_in(self, src_dir: str, dst_dir: str) -> None:
        raise NotImplementedError(
            "object stores cannot rename directories — stage() the write "
            "inside the destination (the ManifestCommitter's stage() "
            "returns the final version directory for exactly this reason)"
        )
