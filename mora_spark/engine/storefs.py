"""Driver-side filesystem seam: the library's one filesystem decision.

Bulk DATA moves through Spark, which already speaks every configured
filesystem. What Spark does not do is the driver-side metadata I/O
around it: the store's manifest log, staging promotion, vacuum sweep
and bucket spec; the LSH family stamp next to a MinHash index; the
IVF/IVFPQ index stamp; the Bloom filter's footer sizing; the streaming
sinks' index-existence, listing and foreign-layout checks. Every one of
them asks :func:`store_fs` for an adapter and goes through it, so no
other module decides by the path's spelling. Two implementations:

- :class:`PosixFS` — plain ``os``/``shutil`` calls. Used for
  scheme-less roots (the default, and the bench/driver path — zero
  py4j traffic).
- :class:`HadoopFS` — the active session's Hadoop FileSystem via py4j,
  used for ``scheme://`` roots so the metadata lands on the SAME
  filesystem as the parquet it describes. A ``file://`` root is the
  in-container proxy for hdfs/s3a remotes.

The one semantic that differs per filesystem is the COMMIT POINT
(:meth:`publish_cas`, reference WAL-before-apply analogue — see
store.py's module docstring):

- POSIX: ``link(2)`` of a fully written temp file — atomic
  fail-if-exists.
- ``file://`` through Hadoop: Hadoop's RawLocalFileSystem ``rename``
  OVERWRITES an existing destination (java.io.File.renameTo →
  rename(2)), which would silently drop a racing writer's committed
  version — so the local scheme drops to the SAME ``link(2)`` CAS on
  the stripped path. Per-filesystem primitive selection is exactly
  what Delta's LogStore abstraction does.
- HDFS (and any FileSystem honoring the rename contract): ``rename``
  is atomic server-side and returns False when the destination
  exists — that IS the CAS. Object stores without atomic rename
  (raw S3) need a conditional-PUT LogStore analogue; out of scope
  here and refused loudly rather than run unsafely.

Everything here is small-file metadata I/O on the driver — never call
from an executor, never route bulk data through it.
"""

from __future__ import annotations

import os
import shutil


class PosixFS:
    """``os``-backed implementation for scheme-less roots."""

    scheme = None

    @staticmethod
    def norm(p: str) -> str:
        """``p`` with a bare single-slash ``file:`` prefix (the non-URI
        spelling some Hadoop tooling emits) stripped."""
        return p[len("file:"):] if p.startswith("file:") else p

    @staticmethod
    def exists(p: str) -> bool:
        return os.path.exists(p)

    @staticmethod
    def isdir(p: str) -> bool:
        return os.path.isdir(p)

    @staticmethod
    def listdir(p: str) -> list[str]:
        try:
            return os.listdir(p)
        except FileNotFoundError:
            return []

    @staticmethod
    def read_text(p: str) -> str:
        with open(p) as f:
            return f.read()

    @staticmethod
    def write_file(p: str, data: str) -> None:
        with open(p, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())

    @staticmethod
    def rename(src: str, dst: str) -> None:
        os.rename(src, dst)

    @staticmethod
    def replace(src: str, dst: str) -> None:
        os.replace(src, dst)

    @staticmethod
    def publish_cas(tmp: str, dst: str) -> bool:
        """Atomic create-if-absent of ``dst`` from fully written
        ``tmp``; consumes ``tmp`` either way."""
        try:
            os.link(tmp, dst)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    @staticmethod
    def touch(p: str) -> None:
        with open(p, "w"):
            pass

    @staticmethod
    def remove(p: str) -> None:
        os.remove(p)

    @staticmethod
    def makedirs(p: str) -> None:
        os.makedirs(p, exist_ok=True)

    @staticmethod
    def rmtree(p: str) -> None:
        shutil.rmtree(p, ignore_errors=True)

    @staticmethod
    def getmtime(p: str) -> float:
        return os.path.getmtime(p)

    @staticmethod
    def walk_files(root: str) -> list[tuple[str, float]]:
        """Recursive ``(relative_path, mtime_s)`` of every file under
        ``root``; [] when the root does not exist."""
        out = []
        for dirpath, _, names in os.walk(root):
            for name in names:
                p = os.path.join(dirpath, name)
                try:
                    out.append((os.path.relpath(p, root), os.path.getmtime(p)))
                except FileNotFoundError:
                    pass  # a racing vacuum/writer removed it mid-walk
        return out

    @staticmethod
    def link_or_copy(src: str, dst: str) -> None:
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)  # cross-device fallback

    @staticmethod
    def parquet_metadata(p: str):
        """The ``pyarrow`` footer metadata of the parquet file ``p``."""
        import pyarrow.parquet as pq

        return pq.ParquetFile(p).metadata


class HadoopFS:
    """Hadoop-FileSystem-backed implementation for ``scheme://`` roots,
    resolved once from the root through the active session's Hadoop
    configuration. Every method takes full URI strings (callers join
    them with ``os.path.join``; Hadoop ``Path`` normalizes the
    result)."""

    def __init__(self, root: str):
        """Resolve ``root``'s FileSystem through the active session's
        Hadoop configuration. Requires an active SparkSession: metadata
        I/O without one means no Spark reader or writer exists either,
        so the refusal is loud and early."""
        from pyspark.sql import SparkSession

        # getActiveSession is THREAD-local: a concurrent writer thread
        # (store CAS contention tests; any user thread pool) sees None
        # even while the process has a live session — fall back to the
        # process-wide instantiated session before refusing.
        spark = SparkSession.getActiveSession() or getattr(
            SparkSession, "_instantiatedSession", None
        )
        if spark is None:
            raise RuntimeError(
                f"Hadoop filesystem I/O on '{root}' needs an active "
                "SparkSession to resolve the scheme's filesystem; create "
                "the session first (local paths without a scheme never "
                "take this route)"
            )
        self._jvm = spark._jvm
        self._fs = self._p(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self.scheme = self._fs.getUri().getScheme()

    @staticmethod
    def norm(p: str) -> str:
        return p

    def _p(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _strip(self, p: str) -> str:
        """Local filesystem path of a file:-scheme URI (for the
        link(2) CAS drop-down)."""
        return self._p(p).toUri().getPath()

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._p(p)))

    def isdir(self, p: str) -> bool:
        jp = self._p(p)
        return bool(self._fs.exists(jp)) and bool(
            self._fs.getFileStatus(jp).isDirectory()
        )

    def listdir(self, p: str) -> list[str]:
        jp = self._p(p)
        if not self._fs.exists(jp):
            return []
        return [
            st.getPath().getName() for st in self._fs.listStatus(jp)
        ]

    def read_text(self, p: str) -> str:
        jp = self._p(p)
        if not self._fs.exists(jp):
            raise FileNotFoundError(p)
        stream = self._fs.open(jp)
        try:
            raw = bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                    stream
                )
            )
        finally:
            stream.close()
        return raw.decode("utf-8")

    def write_file(self, p: str, data: str) -> None:
        out = self._fs.create(self._p(p), True)
        try:
            out.write(bytearray(data.encode("utf-8")))
            # persist before any publish rename: hsync flushes to the
            # datanodes on HDFS (close alone is the contract there,
            # but explicit is honest); LocalFileSystem maps it to an
            # OS-level sync.
            try:
                out.hsync()
            except Exception:
                pass  # some FileSystems only persist on close
        finally:
            out.close()

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def replace(self, src: str, dst: str) -> None:
        # rename-first (atomic full-content publish when dst is
        # absent); overwrite needs the delete+rename window, which
        # every caller of replace() treats as a refreshable hint
        # (checkpoint marker, bucket spec re-stamp).
        if not self._fs.rename(self._p(src), self._p(dst)):
            self._fs.delete(self._p(dst), False)
            if not self._fs.rename(self._p(src), self._p(dst)):
                raise OSError(f"replace failed: {src} -> {dst}")

    def publish_cas(self, tmp: str, dst: str) -> bool:
        if self.scheme == "file":
            # RawLocalFileSystem.rename overwrites an existing dst
            # (File.renameTo -> rename(2)) — NOT a CAS. The local
            # scheme has the real one: link(2).
            lt, ld = self._strip(tmp), self._strip(dst)
            try:
                os.link(lt, ld)
                return True
            except FileExistsError:
                return False
            finally:
                os.remove(lt)
                # the checksummed LocalFileSystem wrote a .crc sidecar
                # for tmp; the raw link/remove above bypasses it, so
                # sweep it or every commit leaves one behind
                d, n = os.path.split(lt)
                try:
                    os.remove(os.path.join(d, f".{n}.crc"))
                except OSError:
                    pass
        if self.scheme in ("s3", "s3a", "s3n", "gs", "wasb", "abfs"):
            raise NotImplementedError(
                f"{self.scheme}:// has no atomic rename/create — the "
                "manifest CAS needs a conditional-PUT log store "
                "(Delta LogStore analogue); refusing to run the "
                "commit protocol unsafely on an object store"
            )
        # HDFS (and any FileSystem honoring the rename contract):
        # rename is atomic and returns False when dst exists — the
        # CAS itself. The exists() pre-check only short-circuits the
        # common lost-race case.
        try:
            if self._fs.exists(self._p(dst)):
                return False
            return bool(self._fs.rename(self._p(tmp), self._p(dst)))
        finally:
            self._fs.delete(self._p(tmp), False)

    def touch(self, p: str) -> None:
        self._fs.create(self._p(p), True).close()

    def remove(self, p: str) -> None:
        jp = self._p(p)
        if not self._fs.delete(jp, False):
            if not self._fs.exists(jp):
                raise FileNotFoundError(p)
            # existing but undeletable must not pass silently — a
            # vacuum/expire that "succeeds" without removing anything
            # would quietly stop bounding storage
            raise OSError(f"delete failed: {p}")

    def makedirs(self, p: str) -> None:
        self._fs.mkdirs(self._p(p))

    def rmtree(self, p: str) -> None:
        try:
            self._fs.delete(self._p(p), True)
        except Exception:
            pass  # mirror shutil.rmtree(ignore_errors=True)

    def getmtime(self, p: str) -> float:
        jp = self._p(p)
        if not self._fs.exists(jp):
            raise FileNotFoundError(p)
        return self._fs.getFileStatus(jp).getModificationTime() / 1000.0

    def walk_files(self, root: str) -> list[tuple[str, float]]:
        jp = self._p(root)
        if not self._fs.exists(jp):
            return []
        canon = self._fs.makeQualified(jp).toString()
        out = []
        it = self._fs.listFiles(jp, True)
        while it.hasNext():
            st = it.next()
            full = st.getPath().toString()
            rel = (
                full[len(canon) + 1:]
                if full.startswith(canon + "/")
                else full
            )
            out.append((rel, st.getModificationTime() / 1000.0))
        return out

    def link_or_copy(self, src: str, dst: str) -> None:
        if self.scheme == "file":
            try:
                os.link(self._strip(src), self._strip(dst))
                return
            except OSError:
                pass
        conf = self._fs.getConf()
        if not self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs, self._p(src), self._fs, self._p(dst), False, conf
        ):
            raise OSError(f"copy failed: {src} -> {dst}")

    def parquet_metadata(self, p: str):
        import pyarrow.parquet as pq

        with _HadoopInputFile(self._jvm, self._fs, self._p(p)) as f:
            return pq.ParquetFile(f).metadata


class _HadoopInputFile:
    """Seekable read-only file over a Hadoop FSDataInputStream, just
    enough surface (read/seek/tell/close) for pyarrow's footer reader.
    Bulk transfers go through one ``IOUtils.toByteArray`` JVM call per
    ``read`` (commons-io ships with Spark), so a footer read is a
    handful of py4j round-trips, never per-byte traffic."""

    def __init__(self, jvm, fs, path):
        self._jvm = jvm
        self._in = fs.open(path)
        self._len = fs.getFileStatus(path).getLen()
        self._pos = 0
        self.closed = False

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 1:
            offset += self._pos
        elif whence == 2:
            offset += self._len
        self._pos = max(0, min(int(offset), self._len))
        self._in.seek(self._pos)
        return self._pos

    def tell(self) -> int:
        return self._pos

    def size(self) -> int:
        return self._len

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._len - self._pos
        n = min(int(n), self._len - self._pos)
        if n <= 0:
            return b""
        data = bytes(
            self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                self._in, n
            )
        )
        self._pos += len(data)
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def close(self) -> None:
        if not self.closed:
            self._in.close()
            self.closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def store_fs(path: str):
    """The adapter for ``path``: scheme-less roots (and the bare
    single-slash ``file:`` spelling, see :meth:`PosixFS.norm`) keep the
    zero-overhead POSIX path; ``scheme://`` roots resolve the Hadoop
    FileSystem once (``file://`` included — that's how the in-container
    tests exercise this layer as the hdfs/s3a proxy)."""
    return HadoopFS(path) if "://" in path else PosixFS()
