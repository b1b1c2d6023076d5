"""sftp input/output (lib/input/sftp.go:45, lib/output/sftp.go:26).

Spark-first shape: the reference opens one SSH connection and streams
files through the codec stack; there is no distributed SFTP protocol,
so this bridge follows the bus-bridge doctrine (sinks/bus.py) — an
injectable client behind a tiny contract, fetched driver-side for the
input (bounded by the matched file list) and per-partition for the
output.  The scale path for bulk file data remains the object-store
inputs (s3/gcs/abfs over Hadoop FS); the error text says so.

Client contract (a paramiko ``SFTPClient`` satisfies it directly):

- ``listdir(dir) -> list[str]``
- ``open(path, mode="rb") -> file-like`` (context manager with
  ``read()``/``write()``)
- ``remove(path)`` (only used with ``delete_on_finish``)
- ``mkdir(path)`` (output best-effort parent creation)
- ``close()`` (optional)

The default factory imports paramiko (gated); tests inject fakes via
``client_resource`` exactly like the bus families.
"""

from __future__ import annotations

import fnmatch
import posixpath

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from benthos_spark.datamodel import row_payload


def _default_factory(spec: dict):
    def factory():
        try:
            import paramiko  # noqa: F401
        except ImportError as exc:
            raise RuntimeError(
                "sftp connector (lib/input/sftp.go:45): the 'paramiko' "
                "client package is not installed in this environment; "
                "register a zero-arg factory returning an object with "
                "the paramiko SFTPClient contract (listdir/open/remove) "
                "under resources and pass it via client_resource. For "
                "bulk file data prefer the object-store inputs "
                "(aws_s3/gcp_cloud_storage/azure_blob_storage)."
            ) from exc
        import paramiko
        transport = paramiko.Transport(tuple(
            spec.get("address", "localhost:22").rsplit(":", 1)))
        creds = spec.get("credentials", {})
        transport.connect(username=creds.get("username"),
                          password=creds.get("password"))
        return paramiko.SFTPClient.from_transport(transport)
    return factory


def _glob(client, pattern: str) -> list[str]:
    """Expand a glob on the basename (the reference's paths accept
    wildcards per file component); a literal path passes through."""
    base, leaf = posixpath.split(pattern)
    if not any(ch in leaf for ch in "*?["):
        return [pattern]
    names = sorted(client.listdir(base or "."))
    return [posixpath.join(base, n) for n in names
            if fnmatch.fnmatch(n, leaf)]


def read_sftp(spark: SparkSession, paths: list[str],
              codec: str = "all-bytes", client_factory=None,
              delete_on_finish: bool = False,
              spec: dict | None = None) -> DataFrame:
    """input.sftp: fetch each matched remote file through ONE client
    and run the blobs through the reference codec stack.  The drain is
    bounded by the matched file list (driver-side by design — same as
    the reference's single-connection reader); huge corpora belong on
    an object store."""
    from benthos_spark.sources.files import decode_blob_entries
    from benthos_spark.sources.http_ingest import ingest_frame

    factory = client_factory or _default_factory(spec or {})
    client = factory()
    rows = []
    try:
        matched = [p for pat in paths for p in _glob(client, pat)]
        for path in matched:
            with client.open(path, "rb") as fh:
                data = fh.read()
            if isinstance(data, str):
                data = data.encode()
            for content, meta in decode_blob_entries(path, data, codec):
                meta = dict(meta)
                meta["sftp_path"] = path
                rows.append((content, meta))
            if delete_on_finish:
                client.remove(path)
    finally:
        close = getattr(client, "close", None)
        if close is not None:
            close()
    return ingest_frame(spark, rows)


def write_sftp(df: DataFrame, path, codec: str = "all-bytes",
               client_factory=None, spec: dict | None = None) -> None:
    """output.sftp: one client per partition (the foreachPartition IS
    the output action).  `path` is a Column — interpolated paths
    evaluate JVM-side.  Codecs (sftp.go:26): all-bytes = one remote
    file per message (truncate), lines/append = append content+\\n."""
    if codec not in ("all-bytes", "lines", "append"):
        raise ValueError(
            f"output.sftp codec {codec!r}: all-bytes|lines|append")
    factory = client_factory or _default_factory(spec or {})
    if isinstance(path, str):
        path = F.lit(path)
    assert isinstance(path, Column)
    body = row_payload(df)
    work = df.select(path.cast("string").alias("__path"),
                     body.cast("string").alias("__payload"))

    def send(rows):
        client = factory()
        handles: dict[str, object] = {}
        try:
            for r in rows:
                target, payload = r["__path"], r["__payload"] or ""
                if codec == "all-bytes":
                    with client.open(target, "wb") as fh:
                        fh.write(payload.encode())
                else:
                    fh = handles.get(target)
                    if fh is None:
                        fh = handles[target] = client.open(target, "ab")
                    fh.write((payload + "\n").encode())
        finally:
            for fh in handles.values():
                fh.close()
            close = getattr(client, "close", None)
            if close is not None:
                close()

    work.foreachPartition(send)
