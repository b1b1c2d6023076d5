"""Message-bus bridge: publisher outputs + bounded poll inputs.

Reference: the ~15 broker output families (lib/output/{nats,nsq,mqtt,
amqp_0_9,redis_streams,redis_pubsub,redis_list,gcp_pubsub,aws_sqs,
aws_kinesis,aws_sns,pulsar,zmq4}.go) and their input twins.  None of
those brokers run in this container and their client SDKs aren't
installed, so every family compiles onto ONE shared bridge with an
injectable client (the aws_lambda / kv_store pattern):

- output: `publish_output` — one client per partition, each row's
  content published to the interpolatable target; the client contract
  is a zero-arg factory returning an object with
  `publish(target: str, payload: bytes)` and optional `close()`.
- input: `poll_input` — bounded driver-side polls at build time (the
  http_client doctrine), client contract `poll(target, max_n) ->
  iterable[str | (str, dict)]`.

Default factories raise an actionable error naming the client package,
exactly like sql_exec's absent-driver gate.  At 100 TB the publish
path is partition-parallel but per-record by construction — the same
caveat the reference docs put on per-message brokers; bulk egress
should use the file/object-store sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from benthos_spark.datamodel import row_payload

# family → (client pip package, the reference output file)
BUS_FAMILIES = {
    "nats": ("nats-py", "lib/output/nats.go"),
    "nsq": ("pynsq", "lib/output/nsq.go"),
    "mqtt": ("paho-mqtt", "lib/output/mqtt.go"),
    "amqp_0_9": ("pika", "lib/output/amqp_0_9.go"),
    "amqp_1": ("python-qpid-proton", "lib/output/amqp_1.go"),
    "redis_streams": ("redis", "lib/output/redis_streams.go"),
    "redis_pubsub": ("redis", "lib/output/redis_pubsub.go"),
    "redis_list": ("redis", "lib/output/redis_list.go"),
    "gcp_pubsub": ("google-cloud-pubsub", "lib/output/gcp_pubsub.go"),
    "aws_sqs": ("boto3", "lib/output/sqs.go"),
    "aws_kinesis": ("boto3", "lib/output/kinesis.go"),
    "aws_kinesis_firehose": ("boto3", "lib/output/aws_kinesis_firehose.go"),
    "aws_sns": ("boto3", "lib/output/sns.go"),
    "pulsar": ("pulsar-client", "lib/output/pulsar.go"),
    "zmq_push": ("pyzmq", "lib/output/zmq4.go"),
    "nanomsg": ("pynng", "lib/output/nanomsg.go"),
    "azure_queue_storage": ("azure-storage-queue",
                            "lib/output/azure_queue_storage.go"),
    "gcp_bigquery": ("google-cloud-bigquery",
                     "lib/output/writer/gcp_bigquery.go"),
}


def _default_factory(kind: str):
    pkg, ref = BUS_FAMILIES[kind]

    def factory():
        raise RuntimeError(
            f"{kind} connector ({ref}): the {pkg!r} client package is "
            f"not installed in this environment; register a zero-arg "
            f"factory returning an object with publish(target, payload) "
            f"/ poll(target, max_n) under resources and pass it via "
            f"client_resource")
    return factory


def publish_output(df: DataFrame, kind: str, target,
                   client_factory=None,
                   content_col: str = "content") -> None:
    """Publish every row's content to `target` (a Column — interpolated
    targets evaluate JVM-side).  One client per partition; the
    foreachPartition IS the output action (no second pass over the
    frame)."""
    if kind not in BUS_FAMILIES:
        raise ValueError(
            f"bus output {kind!r} unknown (have: {sorted(BUS_FAMILIES)})")
    if client_factory is None:
        _default_factory(kind)()  # raises the package-naming error
    factory = client_factory
    if isinstance(target, str):
        target = F.lit(target)
    body = row_payload(df, content_col)
    work = df.select(target.cast("string").alias("__target"),
                     body.cast("string").alias("__payload"))

    def send(rows):
        client = factory()
        try:
            for r in rows:
                client.publish(r["__target"],
                               (r["__payload"] or "").encode())
        finally:
            close = getattr(client, "close", None)
            if close is not None:
                close()

    work.foreachPartition(send)


def poll_input(spark: SparkSession, kind: str, target: str,
               count: int = 1, max_per_poll: int = 100,
               client_factory=None) -> DataFrame:
    """Bounded-drain consume: `count` driver-side polls at build time.
    Each polled item is a str payload or a (payload, meta) pair."""
    if kind not in BUS_FAMILIES:
        raise ValueError(
            f"bus input {kind!r} unknown (have: {sorted(BUS_FAMILIES)})")
    from benthos_spark.sources.http_ingest import ingest_frame
    factory = client_factory or _default_factory(kind)
    client = factory()
    rows = []
    try:
        for i in range(int(count)):
            for item in client.poll(target, int(max_per_poll)):
                if isinstance(item, tuple):
                    payload, meta = item
                else:
                    payload, meta = item, {}
                meta = {str(k): str(v) for k, v in dict(meta).items()}
                meta.setdefault("bus_kind", kind)
                meta.setdefault("bus_poll", str(i))
                rows.append((str(payload), meta))
    finally:
        close = getattr(client, "close", None)
        if close is not None:
            close()
    return ingest_frame(spark, rows)


# family → (client pip package, reference output file) for keyed
# document stores — write(target, key, document) contract
DOC_STORE_FAMILIES = {
    "elasticsearch": ("elasticsearch", "lib/output/elasticsearch.go"),
    "aws_dynamodb": ("boto3", "lib/output/aws_dynamodb.go"),
    "cassandra": ("cassandra-driver", "lib/output/cassandra.go"),
    "azure_table_storage": ("azure-data-tables",
                            "lib/output/azure_table_storage.go"),
    "redis_hash": ("redis", "lib/output/redis_hash.go"),
}


def doc_store_output(df: DataFrame, kind: str, target,
                     key, client_factory=None,
                     content_col: str = "content") -> None:
    """Keyed document-store outputs: one client per partition, each
    row written as `client.write(target, key, document_json)` — the
    minimal common contract of the ES index call, the DynamoDB
    put_item, the Cassandra INSERT, the Azure table upsert, and the
    redis HMSET.  `target` (index/table) and `key` (document id) are
    Columns, so interpolations evaluate JVM-side.  Real SDK adapters
    implement `write` over their native call; the default factory
    raises the package-naming error like the bus bridge."""
    if kind not in DOC_STORE_FAMILIES:
        raise ValueError(
            f"doc-store output {kind!r} unknown "
            f"(have: {sorted(DOC_STORE_FAMILIES)})")
    pkg, ref = DOC_STORE_FAMILIES[kind]

    def default_factory():
        raise RuntimeError(
            f"{kind} output ({ref}): the {pkg!r} client package is not "
            f"installed in this environment; register a zero-arg "
            f"factory returning an object with "
            f"write(target, key, document) under resources and pass it "
            f"via client_resource")

    if client_factory is None:
        default_factory()  # raises at config time, driver-side
    factory = client_factory
    if isinstance(target, str):
        target = F.lit(target)
    if isinstance(key, str):
        key = F.col(key)
    body = row_payload(df, content_col)
    work = df.select(target.cast("string").alias("__target"),
                     key.cast("string").alias("__key"),
                     body.cast("string").alias("__doc"))

    def send(rows):
        client = factory()
        try:
            for r in rows:
                client.write(r["__target"], r["__key"], r["__doc"])
        finally:
            close = getattr(client, "close", None)
            if close is not None:
                close()

    work.foreachPartition(send)


# ------------------------------------------------------------ jetstream

# durable-consumer cursors: session-scoped ack floors keyed by durable
# name (the reference's JetStream consumer state lives on the server;
# here the session IS the process, mirroring the memory-cache doctrine)
_JETSTREAM_CURSORS: dict[str, int] = {}


def jetstream_reset_cursor(durable: str) -> None:
    _JETSTREAM_CURSORS.pop(durable, None)


def jetstream_poll_input(spark: SparkSession, stream: str,
                         subject: str = "", durable: str = "",
                         max_n: int = 1000,
                         client_factory=None) -> DataFrame:
    """nats_jetstream input with durable-subscription semantics
    (internal/impl/nats/jetstream_input.go; v3 lib/input/nats_stream.go):

    - a DURABLE consumer resumes after its ack floor: each drain
      fetches messages with sequence > floor, and a successful drain
      advances the floor to the highest delivered sequence (ack-on-
      drain = the eager-checkpoint doctrine of the http_client output;
      a failed build leaves the floor untouched → redelivery,
      at-least-once like the reference).
    - an EPHEMERAL consumer (no durable name) always delivers from the
      stream start ("deliver all").

    Client contract: ``fetch(stream, subject, start_seq, max_n) ->
    iterable[(seq, payload[, meta])]`` with seq > start_seq in order —
    a thin adapter over nats-py's JetStream pull subscription.  Each
    row's meta carries nats_stream / nats_subject / nats_sequence /
    nats_durable, matching the reference's metadata surface."""
    from benthos_spark.sources.http_ingest import ingest_frame
    if client_factory is None:
        _default_factory("nats")()  # raises the package-naming error
    client = client_factory()
    floor = _JETSTREAM_CURSORS.get(durable, 0) if durable else 0
    rows = []
    high = floor
    try:
        for item in client.fetch(stream, subject, floor, int(max_n)):
            seq, payload = item[0], item[1]
            meta = dict(item[2]) if len(item) > 2 and item[2] else {}
            if seq <= floor:
                continue  # at-least-once redelivery below the floor
            meta = {str(k): str(v) for k, v in meta.items()}
            meta.setdefault("nats_stream", stream)
            if subject:
                meta.setdefault("nats_subject", subject)
            meta["nats_sequence"] = str(int(seq))
            if durable:
                meta["nats_durable"] = durable
            rows.append((str(payload), meta))
            high = max(high, int(seq))
    finally:
        close = getattr(client, "close", None)
        if close is not None:
            close()
    if durable:
        _JETSTREAM_CURSORS[durable] = high
    return ingest_frame(spark, rows)


# ----------------------------------------------------------- continuous

def stream_bus_input(spark: SparkSession, kind: str, target: str,
                     sink, client_factory=None, max_per_poll: int = 100,
                     max_batches: int | None = None,
                     idle_stop_after: int = 2,
                     timeout: int = 300) -> int:
    """Continuous bus bridge: a rate-source-driven foreachBatch polls
    the client once per micro-batch and hands each drained slice to
    ``sink(df, batch_id)``.

    This closes the bounded-drain gap for long-running consumption:
    the client connects ONCE and lives for the query (the reference's
    reader goroutine), each poll is one micro-batch (incremental, with
    Structured Streaming's trigger pacing as backpressure), and rows
    flow through regular jobs.  Message meta carries ``bus_offset``
    (monotonic per query — the replay/resume hook) and ``bus_batch``.
    The poll call itself is driver-side — that is inherent to
    single-connection brokers; the scale path for bulk ingest remains
    kafka / object-store streams (module docstring).

    Stops after ``max_batches`` polls or ``idle_stop_after``
    consecutive empty polls; returns the number of messages drained.
    The bounded `poll_input` stays as the plan-build form for tests
    and one-shot configs."""
    if kind not in BUS_FAMILIES:
        raise ValueError(
            f"bus input {kind!r} unknown (have: {sorted(BUS_FAMILIES)})")
    from benthos_spark.sources.http_ingest import ingest_frame
    if client_factory is None:
        _default_factory(kind)()
    state = {"client": None, "offset": 0, "idle": 0, "batches": 0,
             "done": False, "drained": 0}

    def process(_batch_df, batch_id: int):
        # foreachBatch runs driver-side: the long-lived client lives
        # here across micro-batches
        if state["done"]:
            return
        if state["client"] is None:
            state["client"] = client_factory()
        items = list(state["client"].poll(target, int(max_per_poll)))
        rows = []
        for item in items:
            payload, meta = (item if isinstance(item, tuple)
                             else (item, {}))
            meta = {str(k): str(v) for k, v in dict(meta).items()}
            meta.setdefault("bus_kind", kind)
            meta["bus_offset"] = str(state["offset"])
            meta["bus_batch"] = str(batch_id)
            state["offset"] += 1
            rows.append((str(payload), meta))
        if rows:
            state["idle"] = 0
            state["drained"] += len(rows)
            sink(ingest_frame(spark, rows), batch_id)
        else:
            state["idle"] += 1
        state["batches"] += 1
        if (max_batches is not None and state["batches"] >= max_batches) \
                or state["idle"] >= idle_stop_after:
            state["done"] = True

    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", 10).load())
    q = (rate.writeStream.foreachBatch(process)
         .trigger(processingTime="0 seconds").start())
    import time
    deadline = time.time() + timeout
    try:
        while not state["done"] and time.time() < deadline:
            time.sleep(0.05)
    finally:
        q.stop()
        client = state["client"]
        if client is not None:
            close = getattr(client, "close", None)
            if close is not None:
                close()
    return state["drained"]
