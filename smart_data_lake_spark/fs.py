"""Filesystem abstraction for driver-side metadata operations.

The reference routes all driver-side FS work (partition dir listings, atomic
rewrites, schema files) through the Hadoop FileSystem API
(`util/hdfs/HdfsUtil.scala`), so the same DataObject code runs on local
disk, HDFS, or object stores. The PySpark equivalent: a small protocol with
two implementations —

  * LocalFileSystem — os/shutil/glob, used for plain paths (`/x`, `x`) and
    local URIs in both forms Spark and Hadoop produce (`file:///x`, and
    `file:/x` as Hadoop's `Path.toString()` prints it); every method strips
    the scheme first, and `glob`/`walk_files` hand back paths in the form
    of their argument;
  * HadoopFileSystem — the JVM `org.apache.hadoop.fs.FileSystem` reached
    through `spark._jvm`, used for any path with a non-local scheme
    (hdfs:, s3a:, abfss:, gs:, ...). Every operation is a py4j call on
    driver-side metadata — O(files-touched), never O(data), matching the
    reference's usage.

`get_fs(spark, path)` picks the implementation by scheme (`spark=None` uses
the active session). The file DataObjects (`dataobjects/file.py`,
`dataobjects/table.py`) reach storage on the driver only through this
protocol — listings, globs, existence checks, moves, deletes, schema files —
so a deployment against object storage needs no code change. Two helpers
there stay local-only, on the scheme-stripped path, because their libraries
read local files: zip packaging (`zipfile`) and parquet footer row counts in
`get_stats` (`pyarrow`). FileTransferAction and CustomFileAction copy and
transform files with local file APIs; `local_path` and `list_local_files`
give them plain paths for plain and `file:` paths and reject any other
scheme.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Iterator, Protocol

from py4j.protocol import Py4JJavaError


def _is_hidden(path: str) -> bool:
    """Checksum files, `_SUCCESS` markers and the like: names Spark's file
    sources skip when they list their input."""
    return os.path.basename(path).startswith((".", "_"))


class FileSystem(Protocol):
    def exists(self, path: str) -> bool: ...
    def is_dir(self, path: str) -> bool: ...
    def mkdirs(self, path: str) -> None: ...
    def listdir(self, path: str) -> list[str]: ...
    def glob(self, pattern: str) -> list[str]: ...
    def walk_files(self, path: str) -> list[str]: ...
    def file_stats(self, path: str) -> Iterator[tuple[str, int, int]]: ...
    def delete(self, path: str, recursive: bool = False) -> None: ...
    def move(self, src: str, dst: str) -> None: ...
    def read_text(self, path: str) -> str: ...
    def write_text(self, path: str, content: str) -> None: ...


class LocalFileSystem:
    """Plain paths and `file:` URIs; each method strips the scheme through
    `strip_local_scheme`."""

    def exists(self, path: str) -> bool:
        return os.path.exists(strip_local_scheme(path))

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(strip_local_scheme(path))

    def mkdirs(self, path: str) -> None:
        os.makedirs(strip_local_scheme(path), exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(strip_local_scheme(path)))

    def glob(self, pattern: str) -> list[str]:
        """Sorted matches of a `glob.glob` pattern, in the form of `pattern`
        (a `file://` pattern gives `file://` paths)."""
        scheme = _local_scheme(pattern)
        return sorted(scheme + p for p in glob.glob(pattern[len(scheme):]))

    def walk_files(self, path: str) -> list[str]:
        scheme = _local_scheme(path)
        return sorted(
            scheme + os.path.join(root, f)
            for root, _, files in os.walk(path[len(scheme):])
            for f in files
        )

    def file_stats(self, path: str) -> Iterator[tuple[str, int, int]]:
        """(path relative to `path`, size in bytes, modification time in ms)
        of every non-hidden file under `path`, or of `path` itself when it is
        a file, in listing order; nothing when `path` does not exist. Lazy, so
        a caller that stops early lists no further."""
        path = strip_local_scheme(path)
        if os.path.isfile(path):
            found: Iterator[str] = iter([path])
        else:
            found = (os.path.join(root, f) for root, _, files in os.walk(path) for f in files)
        for f in found:
            if not _is_hidden(f):
                st = os.stat(f)
                yield os.path.relpath(f, path), st.st_size, st.st_mtime_ns // 1_000_000

    def delete(self, path: str, recursive: bool = False) -> None:
        path = strip_local_scheme(path)
        if os.path.isdir(path):
            if recursive:
                shutil.rmtree(path)
            else:
                os.rmdir(path)
        elif os.path.exists(path):
            os.remove(path)

    def move(self, src: str, dst: str) -> None:
        shutil.move(strip_local_scheme(src), strip_local_scheme(dst))

    def read_text(self, path: str) -> str:
        with open(strip_local_scheme(path)) as f:
            return f.read()

    def write_text(self, path: str, content: str) -> None:
        path = strip_local_scheme(path)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            f.write(content)


class HadoopFileSystem:
    """Driver-side metadata ops through the JVM Hadoop FileSystem —
    the path's scheme selects the concrete FS (s3a, hdfs, abfss, ...)."""

    def __init__(self, spark, base_path: str) -> None:
        jvm = spark._jvm
        self._jvm = jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._path_cls = jvm.org.apache.hadoop.fs.Path
        self._fs = self._path_cls(base_path).getFileSystem(self._conf)

    def _p(self, path: str):
        return self._path_cls(path)

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._p(path))

    def is_dir(self, path: str) -> bool:
        return self.exists(path) and self._fs.getFileStatus(self._p(path)).isDirectory()

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def listdir(self, path: str) -> list[str]:
        statuses = self._fs.listStatus(self._p(path))
        return sorted(s.getPath().getName() for s in statuses)

    def glob(self, pattern: str) -> list[str]:
        # globStatus returns null, not an empty array, for a missing non-glob path
        statuses = self._fs.globStatus(self._p(pattern))
        return sorted(s.getPath().toString() for s in statuses or [])

    def walk_files(self, path: str) -> list[str]:
        out = []
        it = self._fs.listFiles(self._p(path), True)
        while it.hasNext():
            out.append(it.next().getPath().toString())
        return sorted(out)

    def file_stats(self, path: str) -> Iterator[tuple[str, int, int]]:
        try:
            it = self._fs.listFiles(self._p(path), True)
        except Py4JJavaError as exc:  # a missing path lists nothing, as on the local FS
            if exc.java_exception.getClass().getName() == "java.io.FileNotFoundException":
                return
            raise
        root = self._fs.makeQualified(self._p(path)).toUri().getPath()
        while it.hasNext():
            status = it.next()
            f = status.getPath().toUri().getPath()
            if not _is_hidden(f):
                yield os.path.relpath(f, root), status.getLen(), status.getModificationTime()

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs.delete(self._p(path), recursive)

    def move(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()

    def write_text(self, path: str, content: str) -> None:
        parent = os.path.dirname(path)
        if parent:
            self.mkdirs(parent)
        stream = self._fs.create(self._p(path), True)
        try:
            stream.write(bytearray(content.encode("utf-8")))
        finally:
            stream.close()


# ---- HdfsUtil-analog helpers (util/hdfs/HdfsUtil.scala) -------------------
# Driver-side path utilities shared by compaction, file transfer and
# housekeeping. All are O(files-touched) metadata ops over the FileSystem
# protocol, so they run unchanged against local disk or a Hadoop store.


def touch(fs: FileSystem, path: str) -> None:
    """Create `path` as an empty file (parents included), or refresh its
    modification time when it already exists (HdfsUtil.touchFile). Always a
    METADATA operation — never rewrites content (a data round-trip would be
    O(bytes) and unsafe on binary files; r8 review)."""
    if fs.exists(path):
        if isinstance(fs, HadoopFileSystem):
            import time

            # FileSystem.setTimes(path, mtimeMillis, atimeMillis); -1 keeps atime
            fs._fs.setTimes(fs._p(path), int(time.time() * 1000), -1)
        else:
            os.utime(strip_local_scheme(path))
    else:
        fs.write_text(path, "")


def is_subdirectory(child: str, parent: str) -> bool:
    """True when `child` is STRICTLY below `parent` (HdfsUtil.isSubdirectory:
    a path is not a subdirectory of itself)."""
    c = os.path.normpath(strip_local_scheme(child)).rstrip("/")
    p = os.path.normpath(strip_local_scheme(parent)).rstrip("/")
    if c == p:
        return False
    return c.startswith(p + "/")


def delete_empty_parent_paths(fs: FileSystem, path: str, stop_path: str) -> None:
    """Walk from `path`'s parent up to (exclusive) `stop_path`, removing each
    directory that is empty (HdfsUtil.deleteEmptyParentPath) — used after
    partition deletes so col=val/ chains don't accumulate as husks."""
    current = os.path.dirname(strip_local_scheme(path).rstrip("/"))
    stop = os.path.normpath(strip_local_scheme(stop_path)).rstrip("/")
    while is_subdirectory(current, stop):
        if not fs.exists(current) or fs.listdir(current):
            break
        fs.delete(current, recursive=False)
        current = os.path.dirname(current)


def rename_path(fs: FileSystem, src: str, dst: str) -> None:
    """Strict rename (HdfsUtil.renamePath): raises FileExistsError when the
    target exists instead of clobbering or suffixing — callers that want the
    suffixing behavior use rename_file_handle_already_existing on the
    DataObject."""
    if fs.exists(dst):
        raise FileExistsError(f"rename target already exists: {dst}")
    fs.move(src, dst)


_LOCAL_SCHEMES = ("", "file")


def scheme_of(path: str) -> str:
    head, sep, _ = path.partition("://")
    return head if sep else ""


def get_fs(spark, path: str) -> FileSystem:
    """Scheme-dispatching factory; plain and file: paths use os/shutil,
    anything else goes through the JVM Hadoop FileSystem of `spark`, or of
    the active session when `spark` is None."""
    if scheme_of(path) in _LOCAL_SCHEMES:
        return LocalFileSystem()
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.active()
    return HadoopFileSystem(spark, path)


def local_path(path: str, user: str) -> str:
    """`path` for local file APIs (`open`, `shutil`): a plain path as is, a
    `file:` URI without its scheme. Any other scheme raises, naming `user`,
    since local file APIs cannot reach a remote store."""
    if scheme_of(path) not in _LOCAL_SCHEMES:
        raise ValueError(f"{user} works on local files only; {path!r} is on a remote store")
    return strip_local_scheme(path)


def list_local_files(path: str, user: str) -> list[str]:
    """Sorted local paths (see `local_path`) of every non-hidden file under
    `path`, or of `path` itself when it is a file, listed by `file_stats`."""
    root = local_path(path, user)
    return sorted(
        root if rel == "." else os.path.join(root, rel)
        for rel, _, _ in LocalFileSystem().file_stats(root)
    )


def _local_scheme(path: str) -> str:
    """The `file://` or `file:` prefix of `path`, or ''."""
    return next((s for s in ("file://", "file:") if path.startswith(s)), "")


def strip_local_scheme(path: str) -> str:
    """`file:///x` and `file:/x` (the form Hadoop's `Path.toString()` prints)
    → `/x`; any other path unchanged."""
    return path[len(_local_scheme(path)):]
