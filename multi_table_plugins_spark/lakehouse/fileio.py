"""Driver-side commit IO seam for the lakehouse.

At 100 TB the one genuine scale liability of a manifest-based table
format is the DRIVER's file IO during commits: placing staged data files
into the table directory, listing staging output, reading parquet
footers, and publishing the manifest pointer atomically. On a local
filesystem hard links + an ``os.link`` compare-and-swap are ideal; on an
object store (s3a/abfs/gcs) hard links don't exist and the atomic
primitive is a conditional PUT (``If-None-Match: *``) or a catalog
compare-and-swap. This module abstracts exactly those driver-side
primitives so the warehouse can point at either world:

  * :class:`LocalFileIO` — hard links (zero-copy staging promotion) and
    a tmp-write + ``os.link`` CAS manifest publish. Readers can never
    observe a partially written manifest (the link appears fully
    formed). This is the original engine behavior.
  * :class:`GenericFileIO` — no link assumption: staged files are
    copied (on a real object store this is the upload/server-side-copy),
    and the manifest publish is an ``O_CREAT|O_EXCL`` exclusive create +
    single write + fsync — the local analog of a conditional PUT: two
    racing writers cannot both create the object, so the optimistic-
    concurrency CAS survives. Unlike a real object store's atomic PUT,
    a reader *can* glimpse a partially written manifest for a few
    microseconds; ``LakeTable.manifest`` retries transient JSON parse
    failures to close that window (see table.py).

What is NOT behind this seam, deliberately: the Spark executors' parquet
reads/writes (Spark's own Hadoop FileSystem handles s3a/abfs there), and
``pyarrow`` footer reads go through :meth:`FileIO.open_input` so an
object-store implementation can hand back a remote file handle.

Reference context: the reference plugin wrote through Hadoop
OutputFormats and had no commit protocol at all
(RecordFilterOutputFormat.java:77-79); this seam is where the engine's
added atomic-commit layer meets real storage.

Selection: pass a ``FileIO`` explicitly, or set ``MTP_FILEIO=local``
(default) / ``MTP_FILEIO=generic`` — the whole suite and bench run
under either backend unchanged.
"""

from __future__ import annotations

import os
import shutil
import uuid


class FileIO:
    """Driver-side storage primitives used by the commit path."""

    name = "abstract"

    # --- reads -----------------------------------------------------------
    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        raise NotImplementedError

    def getsize(self, path: str) -> int:
        raise NotImplementedError

    def getmtime(self, path: str) -> float:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def open_input(self, path: str):
        """Binary file handle for parquet footer reads (pyarrow accepts
        file objects, so an object-store impl can return a remote one)."""
        raise NotImplementedError

    # --- writes ----------------------------------------------------------
    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def write_text(self, path: str, data: str) -> None:
        """Plain (non-CAS) small-file write — sidecar metadata like the
        incremental signature index's ``_index.json``. Overwrites."""
        raise NotImplementedError

    def add_file(self, src: str, dst: str) -> None:
        """Place a staged data file at ``dst`` (promotion from staging
        into the table directory). Local: hard link (zero copy); object
        store: copy/upload."""
        raise NotImplementedError

    def publish_atomic(self, path: str, data: str) -> None:
        """Publish ``data`` at ``path`` iff ``path`` does not exist yet
        (compare-and-swap). Raises ``FileExistsError`` when a concurrent
        writer won — the caller maps this to CommitConflict."""
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def remove_tree(self, path: str) -> None:
        raise NotImplementedError

    def remove_dir_if_empty(self, path: str) -> None:
        raise NotImplementedError


def _write_all(fd: int, payload: bytes) -> None:
    """``os.write`` until every byte lands: a single call may short-write
    (signal, ENOSPC boundary), and publishing a truncated manifest would
    poison the version slot for every reader."""
    view = memoryview(payload)
    while view:
        n = os.write(fd, view)
        view = view[n:]


class _PosixBase(FileIO):
    """Shared POSIX-path plumbing (both sandbox backends address local
    paths; a real s3/abfs FileIO would reimplement every method)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def getmtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def open_input(self, path: str):
        return open(path, "rb")

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def write_text(self, path: str, data: str) -> None:
        with open(path, "w") as f:
            f.write(data)

    def remove(self, path: str) -> None:
        os.unlink(path)

    def remove_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def remove_dir_if_empty(self, path: str) -> None:
        try:
            if not os.listdir(path):
                os.rmdir(path)
        except OSError:
            pass


class LocalFileIO(_PosixBase):
    """Hard links + tmp-write-then-link CAS (the zero-copy fast path)."""

    name = "local"

    def add_file(self, src: str, dst: str) -> None:
        os.link(src, dst)

    def publish_atomic(self, path: str, data: str) -> None:
        d = os.path.dirname(path)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        f = open(tmp, "w")
        try:
            with f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            # link fails with EEXIST if a concurrent writer already
            # published this version — optimistic concurrency, and the
            # published file appears fully formed to readers
            os.link(tmp, path)
        finally:
            os.unlink(tmp)


class GenericFileIO(_PosixBase):
    """Object-store-shaped backend: copy promotion + conditional-PUT
    publish. Data files are never hard-linked (``add_file`` materializes
    an independent object — the upload/server-side-copy shape).

    A real object store's conditional PUT (``If-None-Match: *``) is
    atomic over the whole object body: a reader can never observe a
    partial manifest and a writer killed mid-PUT leaves nothing behind.
    The local *emulation* must reproduce both properties; POSIX's only
    atomic full-content claim is ``link(2)``, so the body is staged to a
    temp file and the version slot is claimed with one link (EEXIST =
    lost the CAS race; a crash mid-publish leaves only an unclaimed temp
    file, never a wedged version slot). A filesystem without link
    support falls back to exclusive-create + one pre-encoded write —
    CAS-correct, but with a residual (documented) crash window between
    create and write in which a SIGKILL can leave an empty manifest.
    """

    name = "generic"

    def add_file(self, src: str, dst: str) -> None:
        shutil.copyfile(src, dst)

    def publish_atomic(self, path: str, data: str) -> None:
        import errno

        payload = data.encode()
        tmp = os.path.join(
            os.path.dirname(path), f".tmp-{uuid.uuid4().hex}"
        )
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            try:
                _write_all(fd, payload)
                os.fsync(fd)
            finally:
                os.close(fd)
            try:
                os.link(tmp, path)  # atomic claim: full content or EEXIST
            except OSError as e:
                if isinstance(e, FileExistsError):
                    raise  # lost the CAS race — caller maps to CommitConflict
                if e.errno in (errno.EPERM, errno.EOPNOTSUPP, errno.EXDEV):
                    self._publish_exclusive_create(path, payload)
                else:
                    raise
        finally:
            os.unlink(tmp)

    @staticmethod
    def _publish_exclusive_create(path: str, payload: bytes) -> None:
        """Linkless fallback: O_EXCL create + one write + fsync."""
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            _write_all(fd, payload)
            os.fsync(fd)
        except BaseException:
            # the partially created object must not poison the version
            # slot — remove it so a retry (or another writer) can claim it
            os.close(fd)
            os.unlink(path)
            raise
        os.close(fd)


_BACKENDS = {"local": LocalFileIO, "generic": GenericFileIO}


def get_fileio(name: "str | FileIO | None" = None) -> FileIO:
    """Resolve a FileIO: pass an instance through (duck-typed — wrappers
    and test spies need not subclass), look a name up, or fall back to
    ``$MTP_FILEIO`` (default ``local``)."""
    if name is not None and not isinstance(name, str):
        return name
    if name is None:
        name = os.environ.get("MTP_FILEIO", "local")
    try:
        return _BACKENDS[name]()
    except KeyError:
        raise ValueError(
            f"unknown FileIO backend {name!r}; expected one of "
            f"{sorted(_BACKENDS)}"
        ) from None
