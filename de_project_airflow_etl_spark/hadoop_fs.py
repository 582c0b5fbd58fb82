"""Hadoop FileSystem access through py4j, in one place.

Lake zones and sources may be bare local paths or URIs (``file://``,
``hdfs://``, ``s3a://``). The Hadoop FileSystem built from the session's
Hadoop conf reaches every one of them, with the ``fs.s3a.*`` session
confs applied, so the same code runs against an object store unchanged.

A dotted py4j lookup such as ``jvm.org.apache.hadoop.fs.Path`` asks the
JVM once per segment whether the name is a class; every package prefix
is a failed ``Class.forName`` that scans every jar (about 2.5 ms CPU per
resolution, against 0.35 ms for a call on a resolved class). Each
helper here resolves the package and its classes once per call.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _resolve(spark: SparkSession, uris: tuple[str, ...]):
    """(the ``org.apache.hadoop.fs`` package, the FileSystem of the
    first URI, a Path per URI)."""
    pkg = spark.sparkContext._jvm.org.apache.hadoop.fs
    path = pkg.Path
    paths = [path(u) for u in uris]
    fs = paths[0].getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return pkg, fs, paths


def hadoop_fs(spark: SparkSession, *uris: str):
    """(FileSystem, [Path, ...]): the filesystem of ``uris[0]`` and one
    Path per URI. All URIs must live on that filesystem."""
    _, fs, paths = _resolve(spark, uris)
    return fs, paths


def replace_with_copy(spark: SparkSession, src: str, dst: str,
                      staging: str) -> None:
    """Replace the directory ``dst`` with a copy of the directory ``src``.

    The copy goes to ``staging`` first (``FileUtil.copy``, byte for
    byte); then ``dst`` is deleted and ``staging`` renamed into its
    place, the same delete-then-rename a dynamic partition overwrite
    commits with. A ``staging`` left by an interrupted call is removed
    first. ``FileUtil.copy`` streams every byte through this JVM (the
    driver), on ``s3a://`` too: it is meant for small directories.

    When ``src`` does not exist nothing is copied and ``dst`` is left as
    it is, as a dynamic overwrite of zero rows leaves it; ``dst``'s
    parent exists afterwards either way."""
    pkg, fs, (src_p, dst_p, staging_p) = _resolve(spark, (src, dst, staging))
    fs.mkdirs(dst_p.getParent())
    if not fs.exists(src_p):
        return
    fs.delete(staging_p, True)
    pkg.FileUtil.copy(fs, src_p, fs, staging_p, False, fs.getConf())
    fs.delete(dst_p, True)
    if not fs.rename(staging_p, dst_p):
        raise OSError(f"could not rename {staging} to {dst}")
