"""Pipeline state store: the marker-object pattern the reference builds
on S3 (existence of staged parquet gates a phase — R2, py:156-184;
zero-byte ``<file>.checkpoint`` objects mark per-file sink completion —
R3, py:237-276), abstracted behind an interface so tests run on local
FS and production points at any object store / Hadoop-compatible FS.

Markers are tiny driver-side metadata — never Spark data — so the cost
is O(files), not O(rows), exactly like the reference's boto3 calls.
"""

from __future__ import annotations

import abc
import glob as globlib
import os


class StateStore(abc.ABC):
    """exists/put/list of zero-byte markers + data-file listing."""

    @abc.abstractmethod
    def exists(self, key: str) -> bool: ...

    @abc.abstractmethod
    def put_marker(self, key: str) -> None: ...

    @abc.abstractmethod
    def list(self, prefix: str, suffix: str = "") -> list[str]: ...

    @abc.abstractmethod
    def delete(self, key: str) -> None: ...

    def checkpoint_key(self, data_file: str) -> str:
        """Derive the marker key for a data file (reference py:330-331:
        `<staged file>.checkpoint`, file-level not job-level)."""
        return f"{data_file}.checkpoint"

    def output_committed(self, path: str) -> bool:
        """Whether a Spark output directory finished committing: Spark's
        file commit protocol writes ``_SUCCESS`` last, so its existence
        is the phase-done signal (reference R2 checks staged-parquet
        existence, py:156-184). Part of the interface — Pipeline gates
        phases 1+2 on it — with a default any marker store satisfies."""
        return self.exists(path.rstrip("/") + "/_SUCCESS")


class LocalFSStateStore(StateStore):
    """Local-filesystem markers; production analog is an S3/GCS client
    or the Hadoop FileSystem API with identical semantics."""

    def exists(self, key: str) -> bool:
        return os.path.exists(key)

    def put_marker(self, key: str) -> None:
        os.makedirs(os.path.dirname(key), exist_ok=True)
        with open(key, "w"):
            pass

    def list(self, prefix: str, suffix: str = "") -> list[str]:
        return sorted(
            p for p in globlib.glob(os.path.join(prefix, "**"), recursive=True)
            if os.path.isfile(p) and p.endswith(suffix)
        )

    def delete(self, key: str) -> None:
        if os.path.exists(key):
            os.remove(key)


# Driver-side metadata IO (manifests, sidecars, fingerprint manifests,
# version-dir deletes) through the Hadoop FileSystem API, so any
# scheme Spark reaches (file:/hdfs:/s3a:) works — resolved per path
# from the session's Hadoop configuration.
def _hadoop_fs(spark, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(conf), jpath


def _write_text(spark, path: str, text: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark, path: str) -> str:
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        jvm = spark.sparkContext._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def _delete_path(spark, path: str) -> None:
    """Delete a file or a whole directory if it exists."""
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


class HadoopFSStateStore(StateStore):
    """Marker store over the Hadoop FileSystem API: one implementation
    for every scheme Spark itself can reach — ``file:/``, ``hdfs:/``,
    ``s3a:/``, ``gs:/``, ``abfs:/`` — resolved per-key from the active
    Hadoop configuration. This is the production default for pipelines
    whose staging/sink paths are object-store URIs (the reference's
    boto3 layer, generalized); S3StateStore remains the faithful
    boto3-call-shape analog."""

    def __init__(self, spark):
        self._spark = spark

    def _fs(self, key: str):
        return _hadoop_fs(self._spark, key)

    def exists(self, key: str) -> bool:
        fs, path = self._fs(key)
        return fs.exists(path)

    def put_marker(self, key: str) -> None:
        fs, path = self._fs(key)
        fs.create(path, True).close()  # zero-byte object, overwrite

    def list(self, prefix: str, suffix: str = "") -> list[str]:
        fs, path = self._fs(prefix)
        if not fs.exists(path):
            return []
        out: list[str] = []
        it = fs.listFiles(path, True)
        while it.hasNext():
            p = it.next().getPath().toString()
            if p.endswith(suffix):
                out.append(p)
        return sorted(out)

    def delete(self, key: str) -> None:
        fs, path = self._fs(key)
        fs.delete(path, False)


class S3StateStore(StateStore):
    """S3 marker store — the reference's coordination layer
    (boto3 ``list_objects_v2`` pagination at
    verizon_table_migration_Rakesh_filters.py:279-300, existence checks
    at :156-184, zero-byte checkpoint objects at :237-276) behind the
    same StateStore interface as the local-FS implementation.

    Keys are ``s3://bucket/key`` URLs. boto3 is imported lazily; this
    environment has no S3, so only LocalFSStateStore is exercised by
    tests — the call shapes here mirror the reference exactly.
    """

    def __init__(self, client=None):
        if client is None:
            import boto3  # deferred: not installed in the test env

            client = boto3.client("s3")
        self.client = client

    @staticmethod
    def _split(url: str) -> tuple[str, str]:
        without = url.removeprefix("s3://").removeprefix("s3a://")
        bucket, _, key = without.partition("/")
        return bucket, key

    def exists(self, key: str) -> bool:
        bucket, obj = self._split(key)
        try:
            self.client.head_object(Bucket=bucket, Key=obj)
            return True
        except self.client.exceptions.ClientError:
            return False

    def put_marker(self, key: str) -> None:
        bucket, obj = self._split(key)
        self.client.put_object(Bucket=bucket, Key=obj, Body=b"")

    def list(self, prefix: str, suffix: str = "") -> list[str]:
        bucket, obj_prefix = self._split(prefix)
        paginator = self.client.get_paginator("list_objects_v2")
        out: list[str] = []
        for page in paginator.paginate(Bucket=bucket, Prefix=obj_prefix):
            for entry in page.get("Contents", []):
                if entry["Key"].endswith(suffix):
                    out.append(f"s3://{bucket}/{entry['Key']}")
        return sorted(out)

    def delete(self, key: str) -> None:
        bucket, obj = self._split(key)
        self.client.delete_object(Bucket=bucket, Key=obj)
