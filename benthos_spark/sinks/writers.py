"""Single-destination writers.

Reference: lib/output/{file.go:25, aws_s3.go:17, hdfs.go:15,
kafka.go:21, stdout.go:20}.  Path interpolation (`${! meta("x") }`
in the reference) maps to `partitionBy` — the engine writes one
directory tree per key instead of interpolating per-message paths,
which is the scalable equivalent (no per-record file handles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from benthos_spark.datamodel import row_payload


def write_file(df: DataFrame, path: str, fmt: str = "parquet",
               mode: str = "overwrite",
               partition_by: list[str] | None = None, **options) -> None:
    """`file`/`files`/object-store outputs: one call covers local, s3a://,
    gs://, abfss://, hdfs:// — the URI scheme picks the connector."""
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def write_files(df: DataFrame, path) -> None:
    """Deprecated `files` output (lib/output/files.go): ONE file per
    message at the interpolated path.  Executor-side foreachPartition
    writes — partition-parallel, nothing funnels through the driver;
    parent dirs are created like the reference does."""
    import os

    from pyspark.sql import Column

    if isinstance(path, str):
        path = F.lit(path)
    assert isinstance(path, Column)
    body = row_payload(df)
    work = df.select(path.cast("string").alias("__path"),
                     body.cast("string").alias("__payload"))

    def send(rows):
        for r in rows:
            target = r["__path"]
            os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
            with open(target, "w") as fh:
                fh.write(r["__payload"] or "")

    work.foreachPartition(send)


def write_console(df: DataFrame, limit: int = 20) -> None:
    """`stdout` output (lib/output/stdout.go:20)."""
    df.show(limit, truncate=False)


def _to_kafka_frame(df: DataFrame, key: str | None,
                    value_cols: list[str] | None) -> DataFrame:
    cols = value_cols or [c for c in df.columns if c != key]
    value = F.to_json(F.struct(*cols)).alias("value")
    if key is not None:
        return df.select(F.col(key).cast("string").alias("key"), value)
    return df.select(value)


def write_kafka(df: DataFrame, brokers: str, topic: str,
                key: str | None = None,
                value_cols: list[str] | None = None) -> None:
    """`kafka` output (lib/output/kafka.go:21): rows → JSON messages.
    The reference's partitioner/key config maps to the kafka `key`
    column; needs the spark-sql-kafka package on the cluster (gated —
    not present in this container)."""
    (_to_kafka_frame(df, key, value_cols).write.format("kafka")
     .option("kafka.bootstrap.servers", brokers)
     .option("topic", topic).save())


def write_stream_file(df: DataFrame, path: str, checkpoint: str,
                      fmt: str = "parquet", available_now: bool = False,
                      partition_by: list[str] | None = None):
    """Streaming file sink with checkpointed exactly-once file commits
    (the upgrade over the reference's at-least-once ack chain,
    SURVEY §2.5).

    Each micro-batch commits the offset log, the commit log, the
    sink's file log and any state-store deltas under `checkpoint`.  A
    session from `get_spark` on a local master writes them through
    Spark's FileSystem-based checkpoint file manager: Spark's default
    FileContext manager forks a `readlink` per rename and status check
    on a host without libhadoop, and on the local filesystem both
    managers rename the same way (exists check, then rename)."""
    w = (df.writeStream.format(fmt).outputMode("append")
         .option("path", path).option("checkpointLocation", checkpoint))
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def write_stream_kafka(df: DataFrame, brokers: str, topic: str,
                       checkpoint: str, key: str | None = None):
    """Streaming kafka sink (gated on the kafka package)."""
    return (_to_kafka_frame(df, key, None).writeStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint).start())


def write_training_shards(df: DataFrame, path: str, n_shards: int,
                          id_col: str = "doc_id", salt: str = "",
                          fmt: str = "parquet") -> None:
    """Write the corpus as `n_shards` deterministically-shuffled shards
    — the standard layout a pretraining loader consumes (fixed shard
    membership + fixed within-shard order, so any run, engine, or
    resumption sees identical data order).

    Shard = 48-bit id-hash mod n_shards (exactly llm.packing's
    sharding); within-shard order = the same hash (a deterministic
    shuffle), enforced via repartition + sortWithinPartitions so each
    shard is ONE sorted file written in one pass — no global sort, and
    the only movement is the one unavoidable shuffle onto shards.
    Changing `salt` re-deals a fresh epoch order.
    """
    from benthos_spark.llm.dedup import hash48
    h = hash48(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    (df.withColumn("__h", h)
       .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)))
       .repartition(n_shards, F.col("shard"))
       .sortWithinPartitions("shard", "__h", id_col)
       .drop("__h")
       .write.format(fmt).partitionBy("shard").mode("overwrite")
       .save(path))


def write_webdataset_shards(df: DataFrame, path: str, n_shards: int,
                            id_col: str = "doc_id", salt: str = "",
                            ext_cols: dict[str, str] | None = None) -> None:
    """Write the corpus as webdataset-style tar shards
    (`shard-000000.tar` … ), the loader format multimodal training
    stacks stream: each sample is a basename with one tar member per
    column extension (`<key>.txt`, `<key>.json`, `<key>.bin`, …).

    `ext_cols` maps tar extension → column (default `{"txt": "text"}`);
    string columns write UTF-8, binary columns write raw bytes,
    anything else JSON.  Sharding and within-shard order are the same
    deterministic id-hash shuffle as write_training_shards, so shard
    membership and sample order are reproducible run-to-run.

    Scale shape: one shuffle onto shards, then each shard streams
    through ONE applyInPandas task that appends to its own tar — tars
    are written executor-side in parallel, nothing funnels through the
    driver.  Stdlib tarfile; the tar container needs no codecs.
    """
    import json as _json
    import os

    import pandas as pd

    from benthos_spark.llm.dedup import hash48

    exts = dict(ext_cols or {"txt": "text"})
    os.makedirs(path, exist_ok=True)
    h = hash48(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    sharded = (df.withColumn("__h", h)
               .withColumn("__shard", F.pmod(F.col("__h"), F.lit(n_shards))))

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import io
        import tarfile
        if len(pdf) == 0:
            return pd.DataFrame({"shard": [], "n_samples": []})
        pdf = pdf.sort_values(["__h", id_col])
        shard = int(pdf["__shard"].iloc[0])
        tar_path = os.path.join(path, f"shard-{shard:06d}.tar")
        with tarfile.open(tar_path, "w") as tar:
            for _, row in pdf.iterrows():
                key = str(row[id_col])
                for ext, col in exts.items():
                    v = row[col]
                    if v is None:
                        continue
                    if isinstance(v, (bytes, bytearray)):
                        payload = bytes(v)
                    elif isinstance(v, str):
                        payload = v.encode("utf-8")
                    else:
                        payload = _json.dumps(
                            v, sort_keys=True, default=str).encode()
                    info = tarfile.TarInfo(f"{key}.{ext}")
                    info.size = len(payload)
                    info.mtime = 0  # reproducible archives
                    tar.addfile(info, io.BytesIO(payload))
        return pd.DataFrame({"shard": [shard], "n_samples": [len(pdf)]})

    # one task per shard; the returned manifest frame forces execution
    manifest = (sharded.repartition(n_shards, F.col("__shard"))
                .groupBy("__shard")
                .applyInPandas(write_shard, "shard long, n_samples long"))
    manifest.write.format("noop").mode("overwrite").save()


def write_bucketed(df: DataFrame, table: str, key: str | list[str],
                   n_buckets: int = 32, fmt: str = "parquet",
                   sort_by: str | list[str] | None = None) -> None:
    """Persist a table hash-bucketed by the join key — the co-located
    join primitive at 100 TB: two tables bucketed on the same key with
    the same bucket count join WITHOUT a shuffle on either side (the
    exchange that dominates repeated fact-to-fact joins disappears;
    only a per-bucket sort remains, and not even that with sort_by).

    This is how a reference user's nightly "join yesterday's 100 TB to
    today's" stops reshuffling both sides every run: pay one bucketed
    write, then every subsequent co-bucketed join is exchange-free.
    Spark persists bucket metadata in the catalog, so this writes a
    TABLE (spark-warehouse), not a bare path."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.mode("overwrite").format(fmt) \
        .bucketBy(n_buckets, *keys)
    if sort_by is not None:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sorts)
    w.saveAsTable(table)
