"""Small Hadoop-filesystem helpers shared by the sidecar writers and the
live-directory swaps.

Driver-side IO against ANY Hadoop-supported scheme (file://, hdfs,
s3a, ...) for tiny artifacts that live NEXT TO datasets but are not
datasets themselves — model metadata sidecars (ml/persist.py), export
manifests (export.py).  py4j passes arrays by value, so a
read-into-buffer loop can't work from Python; commons-io (on Spark's
classpath) drains streams JVM-side in one call.

Staged swap — the one protocol for replacing a live directory (the
dedup store's retire, the drift reference fold, silver's whole-table
delete).  Hadoop FS has no directory swap, so the replacement is
written in full to :func:`staging_path` ``(dest)`` first, then
:func:`commit_dir` writes the ``_COMMIT`` marker LAST (after every
sidecar) and swaps: delete ``dest``, rename the staging dir into place.
A crash leaves one of three states, and :func:`heal_dir` repairs each
(the commit-record-then-replay design of Structured Streaming's
exactly-once sinks):

- staging without a marker: the write never committed.  Readers ignore
  it; a single writer discards it.
- committed staging next to an intact ``dest``: readers keep serving the
  old ``dest`` (a writer may be about to delete it); a single writer
  finishes the swap.
- committed staging and ``dest`` missing (the crash fell between the
  delete and the rename): anyone promotes the staging dir with a rename
  that never deletes, so readers and the writer may race it safely.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import SparkSession

_STAGING_SUFFIX = "._staging"
_COMMIT = "_COMMIT"


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, jpath, _ = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath, jvm = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs_and_path(spark, path)
    return fs.exists(jpath)


def fs_try_promote_dir(spark: SparkSession, src: str, dest: str) -> bool:
    """Rename ``src`` into ``dest`` ONLY when ``dest`` is absent.

    Never deletes, so a concurrent writer mid-swap cannot lose a live
    table to a healing reader.  Peer-tolerant: ``src`` vanishing or
    ``dest`` appearing between the checks and the rename means another
    process completed the same promotion — that is success-by-proxy,
    not an error.  Returns True iff THIS call performed the rename.
    """
    fs, jdest, jvm = _fs_and_path(spark, dest)
    jsrc = jvm.org.apache.hadoop.fs.Path(src)
    if fs.exists(jdest) or not fs.exists(jsrc):
        return False
    if fs.rename(jsrc, jdest):
        return True
    if fs.exists(jdest):
        return False  # a peer promoted it between our check and rename
    raise IOError(f"could not rename {src} -> {dest}")


def staging_path(dest: str) -> str:
    """Where a staged replacement of ``dest`` is written (a sibling, so
    the swap is a same-directory rename)."""
    return dest.rstrip("/") + _STAGING_SUFFIX


def _swap(spark: SparkSession, staging: str, dest: str) -> None:
    """Delete ``dest``, rename the committed ``staging`` into place.

    ``dest`` is checked before ``staging``: a reader promotes only into a
    missing ``dest``, so a staging dir still present behind an existing
    ``dest`` proves ``dest`` is the old copy and safe to delete.  A reader
    that promotes after the delete has done the rename for us.
    """
    if fs_exists(spark, dest) and fs_exists(spark, staging):
        fs_delete(spark, dest)
    fs_try_promote_dir(spark, staging, dest)
    if not fs_exists(spark, dest):
        raise IOError(f"staged {staging} missing and {dest} absent")


def write_stamp(spark: SparkSession, path: str, stamp: str) -> None:
    """Write ``stamp`` as the dir ``path``'s ``_COMMIT`` marker."""
    fs_write_text(spark, posixpath.join(path, _COMMIT), stamp)


def read_stamp(spark: SparkSession, path: str) -> str | None:
    """The dir ``path``'s ``_COMMIT`` marker text; None without one."""
    marker = posixpath.join(path, _COMMIT)
    return fs_read_text(spark, marker) if fs_exists(spark, marker) else None


def commit_dir(
    spark: SparkSession, staging: str, dest: str, stamp: str = "committed"
) -> None:
    """Commit the fully written ``staging`` dir and swap it in for
    ``dest``: the ``_COMMIT`` marker (holding ``stamp``) is written last,
    after the data and every sidecar, so a crash later heals forward."""
    write_stamp(spark, staging, stamp)
    _swap(spark, staging, dest)


def heal_dir(
    spark: SparkSession, dest: str, *, discard_uncommitted: bool = False
) -> bool:
    """Repair ``dest`` after a crash inside :func:`commit_dir`.

    The reader form (default) promotes a committed staging dir only into
    a MISSING ``dest`` and never deletes anything, so it is safe next to
    a live writer.  The writer form (``discard_uncommitted=True``) is for
    a caller that holds the only write access to ``dest``: a committed
    staging dir replaces ``dest``, an uncommitted one is crash debris and
    is deleted.  Returns True iff this call swapped a staging dir in.
    """
    staging = staging_path(dest)
    if not fs_exists(spark, staging):
        return False
    committed = fs_exists(spark, posixpath.join(staging, _COMMIT))
    if not discard_uncommitted:
        return committed and fs_try_promote_dir(spark, staging, dest)
    if not committed:
        fs_delete(spark, staging)
        return False
    _swap(spark, staging, dest)
    return True


def fs_list(spark: SparkSession, path: str) -> list[tuple[str, bool]]:
    """``(name, is_dir)`` of the immediate children of ``path``, sorted —
    including ``_``/``.``-prefixed ones, which Spark's readers hide but
    our own maintenance code (epoch-fold GC in ann.py, debris checks)
    must see.  Missing ``path`` is an empty listing, not an error."""
    fs, jpath, _ = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(
        (st.getPath().getName(), st.isDirectory()) for st in fs.listStatus(jpath)
    )


def fs_list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of the immediate SUBDIRECTORIES of ``path`` (sorted,
    hidden ones included)."""
    return [name for name, is_dir in fs_list(spark, path) if is_dir]


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete the file or directory ``path`` if it exists
    (idempotent)."""
    fs, jpath, _ = _fs_and_path(spark, path)
    if fs.exists(jpath) and not fs.delete(jpath, True):
        raise IOError(f"could not delete {path}")


def fs_qualified_path(spark: SparkSession, path: str) -> str:
    """The filesystem-resolved absolute (decoded) path of ``path`` —
    the prefix against which file URIs relativize."""
    fs, jpath, _ = _fs_and_path(spark, path)
    return fs.makeQualified(jpath).toUri().getPath()


def fs_list_data_files(spark: SparkSession, path: str) -> list[str]:
    """Root-relative paths of the VISIBLE data files under ``path`` —
    the same inventory Spark's readers consume (hidden ``_``/``.``
    components such as _SUCCESS, _manifest.json, and .crc sidecars
    excluded at every level).  Recursive, so partitioned layouts
    (``lang=en/part-*.parquet``) are inventoried file-by-file; for a
    flat export the relative path IS the basename."""
    fs, jpath, _ = _fs_and_path(spark, path)
    root = fs.makeQualified(jpath).toUri().getPath().rstrip("/")
    names = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath().toUri().getPath()
        rel = p[len(root) + 1 :] if p.startswith(root + "/") else p.rsplit("/", 1)[-1]
        if any(part.startswith(("_", ".")) for part in rel.split("/")):
            continue
        names.append(rel)
    return sorted(names)
