"""Durable-state protocol: how every on-disk table, ANN index, pipeline
manifest and stream state dir is committed, listed and recovered.

All calls go through the Hadoop FileSystem API, resolved FROM THE PATH
(``Path.getFileSystem``): a plain local path or ``file:/`` URI goes
through ``LocalFileSystem``, an ``hdfs://``/``abfs://``/``s3a://`` URI
to the real store, under the session's Hadoop conf.  Malformed input
fails loudly in Hadoop itself (``file:relative`` is a relative path in
an absolute URI, ``file://host/x`` is the wrong filesystem).

The commit is a staging swap (``write_snapshot``): build the new
snapshot aside, move the live dir aside, promote, drop the old copy.
A kill at any point leaves the old or the new snapshot, never zero
copies; the one window between the two renames leaves ``path`` absent
with the data at ``path__old``, which ``recover_snapshot`` renames back
on the next call.  Delta/Iceberg replace all of this with a commit.

Semantics pinned deliberately:

- ``rename`` REFUSES an existing destination.  Hadoop's ``rename(src,
  dst)`` silently moves ``src`` INTO ``dst`` when ``dst`` is an
  existing directory (HDFS semantics) — the one behavioral difference
  from ``os.rename`` that would corrupt the swap protocol (promote
  would nest the new snapshot inside a half-deleted old one).  Every
  protocol site deletes the destination first, so an existing dst here
  is always a bug; fail loudly instead of nesting.  For the same reason
  no file's contents are ever replaced in place (the API has no atomic
  overwrite on every store): markers are created and deleted, and a
  small file is written once.
- ``rename``/``delete`` raise on a ``False`` return (Hadoop reports
  some failures as a boolean, not an exception) — a swap step that
  silently did nothing is exactly the kind of failure the two-rename
  contract cannot absorb.
- Object-store caveat, documented not hidden: S3 has no atomic
  directory rename (S3A emulates it as copy+delete).  The two-rename
  contract then degrades from "atomic step" to "bounded window";
  production state on S3 belongs in a transactional table format
  (Delta/Iceberg), while HDFS/ABFS renames stay atomic.

Each call costs a few py4j round trips (~0.3 ms, against ~1 µs for an
``os`` call), so listings are one ``globStatus`` each, never an
``exists`` per child.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import SparkSession


@functools.lru_cache(maxsize=None)
def _path_class(jvm):
    """Hadoop's ``Path`` class, looked up once per JVM: the lookup costs
    one py4j round trip per package segment (~0.6 ms), more than the
    filesystem call it serves."""
    return jvm.org.apache.hadoop.fs.Path


def _resolve(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``: the filesystem comes from the
    path's scheme (local path -> LocalFileSystem, hdfs:// -> DFS, ...)
    under the session's Hadoop conf.  Hadoop caches FileSystem instances
    per (scheme, authority, ugi), so this is a map lookup after the
    first call, not a connection per call."""
    p = _path_class(spark._jvm)(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _resolve(spark, path)
    return fs.exists(p)


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _resolve(spark, path)
    return fs.exists(p) and fs.getFileStatus(p).isDirectory()


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; missing path is a no-op (the shutil.rmtree
    ``ignore_errors`` shape the swap protocol relies on)."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return
    if not fs.delete(p, True):
        raise IOError(f"hadoop delete returned false for {path!r}")


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """os.rename-shaped move: refuses an existing destination (see module
    docstring — Hadoop would nest src inside an existing dst dir) and
    raises on Hadoop's boolean-false failure mode."""
    fs, jsrc = _resolve(spark, src)
    jdst = _path_class(spark._jvm)(dst)
    if fs.exists(jdst):
        raise IOError(
            f"rename destination exists: {dst!r} — the swap protocol "
            "deletes destinations before renaming; refusing the Hadoop "
            "move-into-directory fallback"
        )
    if not fs.rename(jsrc, jdst):
        raise IOError(f"hadoop rename returned false: {src!r} -> {dst!r}")


def glob_names(
    spark: SparkSession, root: str, pattern: str, dirs_only: bool = False
) -> list[str]:
    """Sorted names of the entries of ``root`` matched by the Hadoop glob
    ``pattern`` — ONE ``globStatus`` call.  ``root`` matches literally
    (its glob characters are escaped); a missing root lists empty.  The
    returned name is the path component directly under ``root``, so
    ``pattern="*/_SUCCESS"`` lists the committed Spark output dirs."""
    escaped = re.sub(r"([\\{}\[\]*?])", r"\\\1", root.rstrip("/"))
    fs, p = _resolve(spark, f"{escaped}/{pattern}")
    depth = pattern.count("/") + 1
    found = fs.globStatus(p)
    return sorted(
        s.getPath().toString().split("/")[-depth]
        for s in found or []
        if not dirs_only or s.isDirectory()
    )


def list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(qualified path, length) of every file under ``path``, recursive,
    checksum sidecars excluded; a missing path lists empty."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return []
    it, out = fs.listFiles(p, True), []
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), st.getLen()))
    return out


def touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (parents included), replacing a
    same-named one."""
    fs, p = _resolve(spark, path)
    fs.create(p, True).close()


def read_text(spark: SparkSession, path: str) -> str | None:
    """UTF-8 contents of a small file, or None when it does not exist."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text_once(spark: SparkSession, path: str, text: str) -> None:
    """Write a small file exactly once: a ``__tmp`` sibling, then
    ``rename``, which refuses an existing destination — a concurrent
    first writer fails loudly instead of being overwritten."""
    fs, tmp = _resolve(spark, path + "__tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    rename(spark, path + "__tmp", path)


def recover_snapshot(spark: SparkSession, path: str) -> None:
    """Heal the swap protocol's crash debris at ``path``:

    - ``path`` absent + ``path__old`` present: a kill landed between the
      two renames — rename the old copy back (the data's only copy).
    - ``path`` present + ``path__old`` present: a kill landed after the
      promote but before the drop — the stale ``__old`` is a disposable
      full copy that would otherwise persist until the next rebuild;
      drop it now.

    Every reader and writer of a snapshot calls this first — otherwise
    an existence check would see no table and recreate it EMPTY, and
    the next write's cleanup would delete the only copy."""
    old = path + "__old"
    if not exists(spark, old):
        return
    if exists(spark, path):
        delete(spark, old)
    else:
        rename(spark, old, path)


def write_snapshot(spark: SparkSession, path: str, write) -> None:
    """Replace the snapshot at ``path`` with what ``write(staging)``
    writes into ``path__staging`` — the ONE commit every table, queue,
    compaction and index rebuild goes through (parquet cannot overwrite
    in place while reading, and the new snapshot may be built FROM the
    live one).

    Order: recover earlier debris (which also drops a stale ``__old``);
    drop a stale staging dir (a write that died mid-job — the fresh
    write must never land inside it); write staging; move the live dir
    aside (when there is one); promote staging; drop the old copy.  A
    kill between any two steps leaves the old or the new snapshot in
    place, never zero copies.  The snapshot layout is the writer's
    business (a ``partitionBy`` writer or a whole index build are both
    fine)."""
    recover_snapshot(spark, path)
    staging, old = path + "__staging", path + "__old"
    delete(spark, staging)
    write(staging)
    if exists(spark, path):
        rename(spark, path, old)
    rename(spark, staging, path)
    delete(spark, old)
