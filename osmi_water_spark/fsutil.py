"""Filesystem helpers that go through the Hadoop FileSystem API.

Driver-local ``os.path`` checks are correct only on a local/shared POSIX
filesystem; the stage-checkpoint resume check must also hold when the
destination is an object store or HDFS (the production posture —
BASELINE.json:6). Routing the existence check through the path's own
``FileSystem`` implementation makes the same code correct for ``file:``,
``hdfs:``, ``s3a:``, … URIs. (ADVICE.md round 3.)
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.exists(hpath))

