"""Object-store-portable filesystem helpers (Hadoop ``FileSystem`` API).

The reference sizes lake tables by listing S3 prefixes with boto3
(``reporting_utils.py:31-42``); its Spark analog is the Hadoop
FileSystem API, which resolves the right implementation from the path
scheme — ``file:`` locally, ``s3a:``/``abfss:``/``gs:`` on a real lake
— so recon and maintenance code works unchanged against any store.
Listing is driver-side metadata traffic (one RPC page per ~1000
entries), the correct shape for control-plane decisions; data files
are never read here.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return fs.exists(p)


def qualified_path(spark: SparkSession, path: str) -> str:
    """The decoded path part of ``path`` qualified on its filesystem
    (``file:///a/b`` and ``/a/b`` both give ``/a/b``): the form to match
    the file URIs Spark reports, such as ``_metadata.file_path``,
    against once they are unquoted."""
    fs, p = _fs_and_path(spark, path)
    return fs.makeQualified(p).toUri().getPath()


def _is_data_name(name: str) -> bool:
    return not name.startswith(("_", "."))


def list_subdirs(spark: SparkSession, path: str) -> list[str]:
    """First-level directory names under ``path`` (sorted), [] if the
    path is absent. Hidden/metadata names (``_``/``.`` prefix) are
    skipped — e.g. ``_delta_log`` is not a table."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory() and _is_data_name(st.getPath().getName())
    )


def _iter_data_files(spark: SparkSession, path: str):
    """Yield FileStatus for every data file under ``path``
    (recursive). Uses ``listFiles(recursive=True)``, which object
    stores serve from a flat key listing — no per-directory RPC walk."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if _is_data_name(st.getPath().getName()):
            yield st


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Recursive byte size of the data files under ``path``."""
    return sum(st.getLen() for st in _iter_data_files(spark, path))


def data_file_count(spark: SparkSession, path: str) -> int:
    """Number of data files under ``path`` (metadata files ignored)."""
    return sum(1 for _ in _iter_data_files(spark, path))


def list_data_files(spark: SparkSession, path: str) -> list[str]:
    """All data-file paths under ``path`` (recursive), as strings —
    for pinning a reader to a point-in-time file set so later appends
    to the same directory cannot change a plan's input on
    re-execution."""
    return sorted(
        str(st.getPath()) for st in _iter_data_files(spark, path)
    )


def write_bytes_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Write a small driver-side file through the Hadoop FileSystem API
    — same store portability as the listings above. For control-plane
    files (commit ids, metastore records), never bulk data.

    The bytes land under a ``_``-prefixed sibling name first and are
    then renamed onto ``path``, so a reader that skips ``_`` names (as
    Spark's file sources do) never sees a partly written file. ``path``
    must not exist yet."""
    # one class lookup for both paths: every py4j round trip counts on
    # a per-job control-plane write
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    p = jpath(path)
    tmp = jpath(p.getParent(), f"_{path.rstrip('/').rpartition('/')[2]}.tmp")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, p):
        fs.delete(tmp, False)
        raise IOError(f"could not publish {path}")
