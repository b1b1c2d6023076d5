"""YAML config front-end: a Benthos-shaped config → one Spark plan.

Reference lifecycle (SURVEY §3.1): `benthos -c config.yaml` →
readConfig (lib/config/config.go:22-31) → stream.New builds
input → buffer → pipeline → output (lib/stream/type.go:141-182) wired
by Go channels.  Here the same config shape compiles to a single
DataFrame DAG: input → transformations → sink, optimized end-to-end by
Catalyst; acks/retries/checkpoints are Structured Streaming's.

Supported config surface (v3):

    resources:
      caches: {name: {type: memory|file, path, key, ttl}}
      processors: {name: [<processor>, ...]}      # `resource` targets
    tracer: {json_file: {path}}                   # component spans
    input:
      file: {paths: [p], format: parquet|csv|lines|json,
             codec: lines|delim:<s>|chunker:<n>|gzip|tar|zip|all-bytes}
      generate: {count: N, mapping: "<bloblang>"}
      broker: {inputs: [<input>, ...]}           # fan-in union
      http_server (+ sync_response) / http_client / socket_server
      (tcp/udp/unix; tcp_server/udp_server aliases) / websocket /
      stdin / subprocess / sequence(.sharded_join) / read_until
      aws_s3 / gcp_cloud_storage / azure_blob_storage / hdfs
      kafka + 14 bus families (nats/sqs/kinesis/... via poll bridge)
    pipeline:
      processors:
        - bloblang: "<mapping>"
        - filter: "<bloblang bool query>"        # legacy condition form
        - bounds_check: {field: col|query, min: n, max: n}
        - sample / hash_sample / dedupe
        - split: {size: n, order_by: [cols], n_shards, global_order}
        - select_parts: {parts: [i, ...], batch_col}
        - switch: [{check: "<bool>", processors: [...]}, ...]
        - group_by: [{check: "<bool>", processors: [...]}, ...]
        - group_by_value: {value: col}
        - branch: {request_map, processors: [...], result_map}
        - workflow: {branches: {name: {dependencies: [...], ...}}}
        - cache: {resource, operator: get|set|add|delete, key, value}
        - http: {url: "<query>", verb, headers, alias, timeout, retries}
        - grok: {source, expression} · parse_log: {format, source}
        - jsonschema: {schema, source}
        - compress / decompress: {algorithm, source, target}
        - while: {check, processors: [...], max_loops}
        - insert_part: {part: {col: value}}
        - archive / unarchive / merge_json / try / catch / log / metric
        - xml / jq / jmespath / sql / subprocess / resource / window
        - for_each / process_batch / parallel / process_field / noop
        - awk: {codec, program} · redis / mongodb / dynamodb_partiql
        - aws_lambda / sleep / sync_response
    output:
      memory: {}                                  # return the DataFrame
      file: {path: dir, format: parquet|csv, partition_by}
      stdout: {} · drop: {}
      switch: {cases: [{check, output}, ...]}
      broker: {pattern: fan_out, outputs: [...]}
      dlq | drop_on_error | reject: {output, dlq}
      kafka · websocket · sql · mongodb · elasticsearch/aws_dynamodb/
      cassandra/azure_table_storage/redis_hash (doc-store bridge) ·
      aws_s3/gcp_cloud_storage/azure_blob_storage/hdfs ·
      14 bus families (publisher bridge)

Unknown sections raise with the component name, mirroring the
reference's config lint (internal/docs, run.go:194-200).
"""

from __future__ import annotations

import os
import re
from typing import Any

import yaml
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from benthos_spark.bloblang import map_text
from benthos_spark.bloblang.compiler import Scope, compile_expr
from benthos_spark.bloblang.parser import parse_query
from benthos_spark.datamodel import row_payload


class ConfigError(ValueError):
    pass


def compile_condition(src: str) -> Column:
    """Compile a Bloblang boolean query (condition form,
    lib/condition/bloblang.go:18) to a row-mode Column."""
    node = parse_query(src)
    return compile_expr(node, Scope(this_col=None, root_fields={}))


def compile_check(df: DataFrame, src: str) -> Column:
    """Check compiler that honors the frame doctrine: on a pure
    message-shaped frame `this` is the parsed content (dynamic
    interpreter, lib/condition/bloblang.go); on relational frames the
    row-mode columnar compile applies."""
    from benthos_spark.bloblang.compiler import (check_dynamic,
                                                 is_pure_message)
    if is_pure_message(df):
        return check_dynamic(df, src)
    return compile_condition(src)


def _mapping_json_col(df: DataFrame, src: str, name: str) -> DataFrame:
    """Evaluate a Bloblang mapping against the frame and attach the
    mapped object as ONE JSON-string column `name` — original columns
    ride along untouched (the branch_stage save/restore trick, so the
    whole thing stays a single projection; no join, no row ids).  Used
    by processors whose reference config takes an object-producing map
    (mongodb filter_map / document_map)."""
    from benthos_spark.bloblang import compile_mapping

    saved = {c: f"__mjc_{c}" for c in df.columns}
    work = df.select(*[F.col(c).alias(s) for c, s in saved.items()],
                     *df.columns)
    work = compile_mapping(src).apply(work, keep=tuple(saved.values()))
    new = [c for c in work.columns if not c.startswith("__mjc_")]
    if not new:
        raise ConfigError(f"mapping for {name!r} assigns no fields")
    # ignoreNullFields=false: a filter/document map may legitimately
    # set a field to null ({"deleted_at": null}); dropping it changes
    # the query
    work = work.withColumn(
        name, F.to_json(F.struct(*[F.col(c) for c in new]),
                        {"ignoreNullFields": "false"}))
    return work.select(*[F.col(s).alias(c) for c, s in saved.items()], name)


_ENV_VAR_RE = re.compile(r"\$\{[0-9A-Za-z_.]+(:((\$\{[^}]+\})|[^}])+)?\}")
_ESCAPED_ENV_RE = re.compile(
    r"\$\{(\{[0-9A-Za-z_.]+(:((\$\{[^}]+\})|[^}])+)?\})\}")


def replace_env_variables(text: str) -> str:
    """Substitute `${FOO}` / `${FOO:default}` from the process
    environment before YAML parse; `${{FOO}}` escapes to a literal
    `${FOO}`.  Unset/empty vars resolve to the default or the empty
    string.  Bloblang interpolations (`${! expr}`) never match: the
    char after `${` must be [0-9A-Za-z_.].

    Reference: lib/util/text/env_vars.go:31-51 (applied to config
    bytes at lib/config/refs.go:44)."""
    def sub(m: re.Match) -> str:
        body = m.group(0)[2:-1]
        name, colon, default = body.partition(":")
        return os.environ.get(name) or (default if colon else "")

    return _ESCAPED_ENV_RE.sub(r"$\1", _ENV_VAR_RE.sub(sub, text))


def _duration_s(v) -> float:
    """Accept numeric seconds or Go duration strings ('5s', '100ms')."""
    if isinstance(v, (int, float)):
        return float(v)
    from benthos_spark.operators.control import parse_go_duration
    return parse_go_duration(str(v))  # already seconds


def _section_component(section, what: str) -> tuple[str | None, dict]:
    """Normalize a typed config section to (kind, spec).  Accepts the
    v4 one-key form ({jaeger: {...}}), the v3 `type`-discriminator form
    ({type: jaeger, jaeger: {...}, none: {}} — auto-generated configs
    materialize EVERY type's defaults side by side), and a bare string
    kind."""
    if section is None:
        return None, {}
    if isinstance(section, str):
        return section, {}
    if not isinstance(section, dict):
        raise ConfigError(f"{what}: expected a component, got {section!r}")
    if "type" in section:
        kind = str(section["type"])
        return kind, section.get(kind)
    body = {k: v for k, v in section.items() if k != "label"}
    if len(body) != 1:
        raise ConfigError(
            f"{what}: expected one component, got {sorted(body)}")
    (kind, spec), = body.items()
    return kind, spec


def load_config(text_or_path: str) -> dict:
    """Parse a YAML config (readConfig, lib/config/config.go) after
    environment-variable substitution."""
    if "\n" not in text_or_path and text_or_path.endswith((".yaml", ".yml")):
        with open(text_or_path) as fh:
            return yaml.safe_load(replace_env_variables(fh.read()))
    return yaml.safe_load(replace_env_variables(text_or_path))


# ---------------------------------------------------------------- inputs

def _build_input(spark: SparkSession, conf: dict,
                 ctx: dict | None = None) -> DataFrame:
    if isinstance(conf, dict):
        # `batching` rides alongside the component (lib/input/batcher.go)
        conf = {k: v for k, v in conf.items() if k != "batching"}
    kind, spec = _section_component(conf, "input")
    if kind is None:
        raise ConfigError(f"input: expected one component, got {conf!r}")
    if not isinstance(spec, dict):
        spec = {} if spec in (None, "") else spec
    # v3 connector names (pre-cloud-prefix rename, lib/input/legacy
    # registrations) — same components
    _V3_ALIASES = {"s3": "aws_s3", "sqs": "aws_sqs",
                   "kinesis": "aws_kinesis", "sns": "aws_sns",
                   "gcs": "gcp_cloud_storage",
                   "kinesis_firehose": "aws_kinesis_firehose",
                   "tcp": "socket", "udp": "socket",
                   "kafka_balanced": "kafka",
                   # deprecated registrations (lib/input/constructor.go)
                   "amqp": "amqp_0_9",          # TypeAMQP → 0.9.1
                   "kinesis_balanced": "aws_kinesis",
                   "zmq4": "zmq_push",          # bus-family name
                   "bloblang": "generate"}      # same component
    kind = _V3_ALIASES.get(kind, kind)
    if kind == "files":
        # deprecated `files` input (lib/input/files.go): each file is
        # one whole message == the file input's all-bytes codec
        kind, spec = "file", {**spec, "codec":
                              spec.get("codec", "all-bytes")}
    if kind == "file":
        paths = spec.get("paths") or ([spec["path"]] if spec.get("path")
                                      else None)
        if not paths:
            raise ConfigError("file input needs `paths` (or `path`)")
        fmt = spec.get("format", "parquet")
        if spec.get("codec"):
            # reference codec stack (internal/codec/reader.go:206):
            # all-bytes/lines/delim/chunker/gzip/tar/zip + combos
            from benthos_spark.sources.files import read_codec
            return read_codec(spark, paths[0], str(spec["codec"]))
        if spec.get("stream"):
            # watch-directory streaming mode; schema required (schema
            # inference would be an extra listing pass per trigger)
            reader = spark.readStream.schema(spec["schema"])
            # the file source takes new files oldest modification time
            # first, so `max_files_per_trigger` batches follow mtime,
            # not file name: copy inputs with their mtimes kept
            # (`cp -a`, shutil.copy2) or the batch order changes
            if "max_files_per_trigger" in spec:
                reader = reader.option("maxFilesPerTrigger",
                                       int(spec["max_files_per_trigger"]))
            return reader.format(fmt).load(paths[0])
        if fmt == "parquet":
            return spark.read.parquet(*paths)
        if fmt == "csv":
            return (spark.read.option("header", spec.get("header", True))
                    .option("sep", spec.get("delimiter", ","))
                    .csv(paths))
        if fmt == "lines":
            from benthos_spark.sources.files import read_file_lines
            return read_file_lines(spark, paths[0])
        if fmt in ("jsonl", "json"):
            reader = spark.read
            if "schema" in spec:
                reader = reader.schema(spec["schema"])
            return reader.json(paths)
        raise ConfigError(f"input.file.format {fmt!r} unsupported")
    if kind == "generate":
        from benthos_spark.sources.generate import generate
        df = generate(spark, int(spec.get("count", 0)))
        mapping = spec.get("mapping")
        return map_text(df, mapping) if mapping else df
    if kind == "broker":
        if not spec.get("inputs"):
            raise ConfigError("broker input needs at least one entry "
                              "in `inputs`")
        dfs = [_build_input(spark, c, ctx) for c in spec["inputs"]]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
    if kind == "read_until":
        # read_until (lib/input/read_until.go:26): consume the child
        # input until the check fires; v4 `check` (Bloblang) or v3
        # `condition` (structured schema) both compile to the same
        # windowed cut
        from benthos_spark.sources.files import read_until as _ru
        if not spec.get("input"):
            raise ConfigError("read_until needs a child `input`")
        inner = _build_input(spark, spec["input"], ctx)
        check = spec.get("check", spec.get("condition"))
        if isinstance(check, dict):
            from benthos_spark.operators.conditions import (
                compile_condition_spec)
            stop = compile_condition_spec(check, ctx=ctx)
        else:
            stop = compile_condition(str(check))
        return _ru(inner, stop)
    if kind == "sequence":
        # sequence input + sharded_join (lib/input/sequence.go:24,
        # 142-188): inputs consumed in order; optional id-keyed deep
        # merge with array/replace/keep collision strategies.
        # `iterations` is accepted and ignored — the reference's
        # N-pass sharding bounds memory on one machine; Spark's
        # shuffle partitions the id space for free.
        from benthos_spark.operators.joins import sharded_join_merge
        from benthos_spark.sources.files import sequence as seq_input
        if not spec.get("inputs"):
            raise ConfigError("sequence input needs at least one entry "
                              "in `inputs`")
        dfs = [_build_input(spark, c, ctx) for c in spec["inputs"]]
        out = seq_input(spark, dfs)
        sj = spec.get("sharded_join") or {}
        jtype = sj.get("type", "none")
        if jtype == "none":
            return out
        if jtype not in ("full-outter", "outter"):
            raise ConfigError(
                f"sequence.sharded_join.type {jtype!r}: use "
                "none|full-outter|outter")
        id_path = sj.get("id_path")
        if not id_path:
            raise ConfigError("sequence.sharded_join: id_path must be set")
        if "content" in out.columns:
            doc = F.col("content")
        else:
            # structured rows (e.g. generate mappings) serialize to the
            # JSON doc the joiner merges; to_json drops the null-filled
            # columns other sources contributed to the union
            doc = F.to_json(F.struct(*[
                F.col(c) for c in out.columns if c != "__seq_source"]))
        out = out.select(doc.alias("content"), F.col("__seq_source"))
        out = out.withColumn(
            "__join_id",
            F.get_json_object(F.col("content"), f"$.{id_path}"))
        # unstructured docs / missing ids are dropped (sequence.go:311)
        out = out.filter(F.col("__join_id").isNotNull()
                         & (F.col("__join_id") != ""))
        merged = sharded_join_merge(
            out, "__join_id", "content", ["__seq_source"],
            strategy=sj.get("merge_strategy", "array"),
            id_path=id_path,
            require_order=(len(dfs) - 1) if jtype == "outter" else None)
        return merged.select(F.col("doc").alias("content"))
    if kind == "stdin":
        # stdin input (lib/input/stdin.go): drain stdin ONCE at build
        # time into a bounded frame (codec=lines); dev-tool path, the
        # `benthos -c` pipe-through use case
        import sys
        try:
            lines = [(ln.rstrip("\n"),) for ln in sys.stdin]
        except (OSError, ValueError):
            # closed/captured stdin (pytest capture, detached daemon):
            # same as an immediately-EOF pipe
            lines = []
        from benthos_spark.operators.literals import values_or_pickled
        return values_or_pickled(spark, lines, "content STRING")
    if kind == "socket":
        # socket/tcp input (lib/input/socket.go): Structured Streaming's
        # socket source — dev-mode only, like the reference's
        host = spec.get("host", "127.0.0.1")
        port = spec.get("port")
        addr = str(spec.get("address", ""))
        if port is None and ":" in addr:
            host, _, port = addr.rpartition(":")
        if port is None:
            if str(spec.get("network", "")) == "unix" or addr:
                raise ConfigError(
                    "socket input: unix-domain sockets have no Spark "
                    "socket source; use network tcp with host:port "
                    "(or the socket_server input, which serves unix)")
            raise ConfigError("socket input needs `port` (or `address`)")
        return (spark.readStream.format("socket")
                .option("host", host)
                .option("port", int(port))
                .load().withColumnRenamed("value", "content"))
    if kind == "http_server":
        # http_server input (lib/input/http_server.go:41): POSTed
        # bodies become message rows.  Bounded-drain model: listen for
        # `drain_ms`, then the buffered parts ARE the input frame (the
        # stdin doctrine); always-on deployments should use a
        # socket/file stream.  `port_file` publishes the bound
        # ephemeral port for clients.
        import time as _time

        from benthos_spark.sources.http_ingest import HttpIngestServer
        addr = str(spec.get("address", "127.0.0.1:0"))
        host, _, port = addr.rpartition(":")
        sync = bool(spec.get("sync_response", False))
        server = HttpIngestServer(host or "127.0.0.1", int(port or 0),
                                  path=str(spec.get("path", "/post")),
                                  max_buffer=int(spec.get("max_buffer",
                                                          100_000)),
                                  sync=sync,
                                  sync_timeout_s=float(
                                      spec.get("sync_timeout", 10.0)))
        bound_host, bound_port = server.start()
        if pf := spec.get("port_file"):
            with open(str(pf), "w") as fh:
                fh.write(f"{bound_host}:{bound_port}")
        try:
            _time.sleep(int(spec.get("drain_ms", 1000)) / 1000.0)
            return server.drain(spark)
        finally:
            if sync:
                # sync_responses guide: clients stay held until
                # run_stream publishes replies post-pipeline; the
                # server shuts down there
                if ctx is not None:
                    ctx["http_sync_server"] = server
                else:
                    server.stop()
            else:
                server.stop()
    _OBJECT_STORES = {
        # input kind → (hadoop URI scheme, connector jar to name)
        "aws_s3": ("s3a", "hadoop-aws + aws-java-sdk-bundle"),
        "gcp_cloud_storage": ("gs", "gcs-connector"),
        "azure_blob_storage": ("abfss", "hadoop-azure"),
        "hdfs": ("hdfs", "hadoop client (usually bundled)"),
    }
    if kind in _OBJECT_STORES:
        # object-store inputs (lib/input/{aws_s3,gcp_cloud_storage,
        # azure_blob_storage,hdfs}.go): bucket walks compile onto the
        # Hadoop FS scheme — the 100 TB path (splittable parallel scan,
        # predicate pushdown, partition pruning all apply).  The SQS
        # upload-notification pattern maps to Structured Streaming's
        # file-arrival tracking (`stream: true`); per-object codecs
        # reuse the file codec stack.
        scheme, jar = _OBJECT_STORES[kind]
        bucket = str(spec.get("bucket", spec.get("container", "")))
        prefix = str(spec.get("prefix", ""))
        uri = f"{scheme}://{bucket}/{prefix}".rstrip("/")
        inner = {k: v for k, v in spec.items()
                 if k in ("format", "codec", "schema", "stream",
                          "max_files_per_trigger", "header",
                          "delimiter")}
        inner.setdefault("format", "parquet")
        try:
            return _build_input(spark, {"file": {"path": uri, **inner}},
                                ctx)
        except ConfigError:
            raise  # a real config mistake, not a missing connector
        except Exception as exc:
            raise ConfigError(
                f"input.{kind}: reading {uri!r} needs the {jar} jar on "
                f"the cluster classpath and credentials via the Hadoop "
                f"{scheme} configuration ({exc})") from exc
    if kind == "sftp":
        # sftp input (lib/input/sftp.go:45): injectable-client bridge
        # over the codec stack, bounded by the matched file list
        from benthos_spark.operators.control import resource
        from benthos_spark.sources.sftp import read_sftp
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        return read_sftp(
            spark, [str(p) for p in spec.get("paths", [])],
            codec=str(spec.get("codec", "all-bytes")),
            client_factory=factory,
            delete_on_finish=bool(spec.get("delete_on_finish", False)),
            spec=spec)
    if kind in ("nats_jetstream", "nats_stream"):
        # durable-subscription semantics (internal/impl/nats/
        # jetstream_input.go; v3 lib/input/nats_stream.go:16): ack
        # floor tracked per durable name, drains resume after it
        from benthos_spark.operators.control import resource
        from benthos_spark.sinks.bus import jetstream_poll_input
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        return jetstream_poll_input(
            spark, str(spec.get("stream", spec.get("cluster_id", ""))),
            subject=str(spec.get("subject", "")),
            durable=str(spec.get("durable", spec.get("durable_name",
                                                     ""))),
            max_n=int(spec.get("max_n", 1000)),
            client_factory=factory)
    from benthos_spark.sinks.bus import BUS_FAMILIES
    if kind in BUS_FAMILIES:
        # bus-family inputs (nats/nsq/mqtt/amqp/redis_*/gcp_pubsub/
        # aws_sqs/aws_kinesis/pulsar/zmq): ONE shared bounded-poll
        # bridge with an injectable client (sinks/bus.py doctrine)
        from benthos_spark.operators.control import resource
        from benthos_spark.sinks.bus import poll_input
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        target = next((str(spec[f]) for f in
                       ("target", "subject", "topic", "url", "urls",
                        "stream", "streams", "channel", "channels",
                        "key", "queue") if spec.get(f)), "")
        return poll_input(spark, kind, target,
                          count=int(spec.get("count", 1)),
                          max_per_poll=int(spec.get("max_per_poll",
                                                    100)),
                          client_factory=factory)
    if kind == "websocket":
        # websocket input (lib/input/websocket.go:15): RFC 6455 over
        # stdlib (handshake + frame layer), bounded-drain
        import time as _time

        from benthos_spark.sources.http_ingest import \
            WebsocketIngestServer
        addr = str(spec.get("address", "127.0.0.1:0"))
        whost, _, wport = addr.rpartition(":")
        server = WebsocketIngestServer(
            whost or "127.0.0.1", int(wport or 0),
            path=str(spec.get("path", "/ws")),
            max_buffer=int(spec.get("max_buffer", 100_000)))
        bound = server.start()
        if pf := spec.get("port_file"):
            with open(str(pf), "w") as fh:
                fh.write(f"{bound[0]}:{bound[1]}")
        try:
            _time.sleep(int(spec.get("drain_ms", 1000)) / 1000.0)
            return server.drain(spark)
        finally:
            server.stop()
    if kind in ("tcp_server", "udp_server"):
        # deprecated aliases (lib/input/tcp_server.go:22,
        # udp_server.go:21) of socket_server with the network pinned
        spec = {**spec, "network": kind.split("_")[0]}
        kind = "socket_server"
    if kind == "socket_server":
        # socket_server input (lib/input/socket_server.go:25): tcp /
        # udp / unix listener, bounded-drain like http_server
        import time as _time

        from benthos_spark.sources.http_ingest import SocketIngestServer
        server = SocketIngestServer(
            network=str(spec.get("network", "tcp")),
            address=str(spec.get("address", "127.0.0.1:0")),
            max_buffer=int(spec.get("max_buffer", 100_000)))
        bound = server.start()
        if pf := spec.get("port_file"):
            with open(str(pf), "w") as fh:
                fh.write(f"{bound[0]}:{bound[1]}")
        try:
            _time.sleep(int(spec.get("drain_ms", 1000)) / 1000.0)
            return server.drain(spark)
        finally:
            server.stop()
    if kind == "http_client":
        # http_client input (lib/input/http_client.go:48): bounded
        # driver-side polls; codec lines splits response bodies
        from benthos_spark.sources.http_ingest import http_client_input
        if not spec.get("url"):
            raise ConfigError("http_client input needs `url`")
        return http_client_input(
            spark, str(spec["url"]), count=int(spec.get("count", 1)),
            method=str(spec.get("verb", "GET")),
            headers=spec.get("headers"),
            timeout_s=_duration_s(spec.get("timeout", 10)),
            codec=str(spec.get("codec", "all-bytes")))
    if kind == "subprocess":
        # subprocess input (lib/input/subprocess.go:24): run to
        # completion, stdout lines become parts
        from benthos_spark.sources.http_ingest import subprocess_input
        if not spec.get("name"):
            raise ConfigError("subprocess input needs a command `name`")
        return subprocess_input(spark, str(spec["name"]),
                                args=spec.get("args"),
                                codec=str(spec.get("codec", "lines")))
    if kind in ("kafka", "kafka_balanced"):
        # kafka input (lib/input/kafka.go:31): wrapper over the
        # spark-sql-kafka source; needs the package jar on the cluster
        from benthos_spark.sources.files import read_kafka
        if not spec.get("addresses") or not spec.get("topics"):
            raise ConfigError("kafka input needs `addresses` and "
                              "`topics`")
        try:
            return read_kafka(
                spark,
                ",".join(spec["addresses"]) if isinstance(
                    spec.get("addresses"), list)
                else str(spec["addresses"]),
                ",".join(spec["topics"]) if isinstance(
                    spec.get("topics"), list) else str(spec["topics"]),
                starting_offsets=str(
                    spec.get("starting_offsets", "earliest")),
                streaming=bool(spec.get("stream", True)))
        except Exception as e:
            if "Failed to find data source" in str(e):
                raise ConfigError(
                    "kafka input: the spark-sql-kafka-0-10 connector "
                    "jar is not installed in this environment; deploy "
                    "with --packages org.apache.spark:spark-sql-"
                    "kafka-0-10_2.13 (scale path)") from e
            raise
    if kind == "csv":
        # csv input (lib/input/csv.go:24): native CSV scan; the
        # reference's parse_header_row maps to Spark's header option
        paths = spec.get("paths") or ([spec["path"]]
                                      if spec.get("path") else None)
        if not paths:
            raise ConfigError("csv input needs `paths`")
        return (spark.read
                .option("header", bool(spec.get("parse_header_row", True)))
                .option("sep", str(spec.get("delimiter", ",")))
                .csv(list(paths)))
    if kind == "resource":
        # resource input (lib/input/resource.go): named input from
        # resources.inputs
        name = str(spec if not isinstance(spec, dict)
                   else spec.get("resource", ""))
        reg = (ctx or {}).get("input_resources") or {}
        if name not in reg:
            raise ConfigError(
                f"input resource {name!r} not registered "
                "(resources.inputs)")
        return _build_input(spark, reg[name], ctx)
    if kind == "inproc":
        # inproc input (lib/input/inproc.go): in-process pipe by name —
        # the registry is per-session (streams mode wires it)
        name = str(spec if not isinstance(spec, dict)
                   else spec.get("name", ""))
        reg = (ctx or {}).get("inproc") or {}
        if name not in reg:
            raise ConfigError(
                f"inproc pipe {name!r} has no registered producer "
                "(streams-mode wiring)")
        return reg[name]
    if kind == "dynamic":
        # dynamic input (lib/input/dynamic.go): runtime-swappable set;
        # statically it compiles to a broker over the initial inputs
        inputs = (spec.get("inputs") or {})
        if not inputs:
            raise ConfigError(
                "dynamic input needs at least one initial entry in "
                "`inputs` (runtime CRUD is a streams-mode surface)")
        dfs = [_build_input(spark, c, ctx) for c in inputs.values()]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
    from benthos_spark.template import lookup_template
    if (tmpl := lookup_template("input", kind)) is not None:
        return _build_input(spark, tmpl.expand(spark, spec), ctx)
    raise ConfigError(f"unknown input type {kind!r} "
                      "(see COVERAGE.md §2.3 for the registry)")


# ---------------------------------------------------------------- processors

def _bloblang_keep(df: DataFrame) -> tuple[str, ...]:
    """The input columns a `bloblang` processor passes through.  The
    failed-flag and the `meta` map survive a mapping unless the mapping
    assigns them (lib/processor/bloblang.go: both are metadata, mappings
    rewrite the document; `meta` assignments edit the map), and so does
    the batch bookkeeping, so downstream try/catch and batch-window
    reads keep working."""
    return tuple(c for c, t in df.dtypes
                 if c in ("batch_id", "part_index", "_error")
                 or (c == "meta" and t == "map<string,string>")
                 or c.startswith("__branch_"))


def _switch_projection(df: DataFrame, cases: list) -> DataFrame | None:
    """A `switch` over `(check, processors)` cases as one projection
    (`routing.switch_projection`) when every case has no processors or
    one `bloblang` processor that compiles columnar; else None, and the
    caller unions one filtered branch per case.  Pure message frames
    keep the union: their mappings run in the interpreter."""
    from benthos_spark.bloblang.compiler import (columnar_projection,
                                                 is_pure_message)
    from benthos_spark.operators.routing import switch_projection

    if is_pure_message(df):
        return None
    projections = []
    for cond, procs in cases:
        procs = procs if isinstance(procs, list) else [procs]
        if not procs:
            projections.append(
                (cond, [(c, F.col(c)) for c in df.columns], None))
            continue
        src = (procs[0].get("bloblang") if len(procs) == 1
               and isinstance(procs[0], dict) and len(procs[0]) == 1
               else None)
        proj = (columnar_projection(df, src, keep=_bloblang_keep(df))
                if isinstance(src, str) else None)
        if proj is None:
            return None
        projections.append((cond, *proj))
    return switch_projection(df, projections)


def _apply_processor(df: DataFrame, conf: Any,
                     ctx: dict | None = None) -> DataFrame:
    from benthos_spark.operators import (bounds_check, dedupe, hash_sample,
                                         sample, select_parts, split_batches)
    from benthos_spark.operators.routing import switch_branches

    ctx = ctx or {}
    if isinstance(conf, dict) and len(conf) == 1:
        # fast path: the overwhelmingly common one-key form.  Keep
        # non-dict specs (filter takes a bare string) untouched.
        (kind, spec), = conf.items()
    elif isinstance(conf, dict):
        kind, spec = _section_component(conf, "processor")
        if kind is None:
            raise ConfigError(
                f"processor: expected one component, got {conf!r}")
    else:
        raise ConfigError(f"processor: expected one component, got {conf!r}")
    spec = {} if spec is None else spec
    # deprecated registration aliases (lib/processor/constructor.go)
    kind = {"json_schema": "jsonschema",
            "lambda": "aws_lambda"}.get(kind, kind)

    def sub(d: DataFrame, procs) -> DataFrame:
        for p in (procs if isinstance(procs, list) else [procs]):
            d = _apply_processor(d, p, ctx)
        return d

    def switch(cases: list) -> DataFrame:
        fused = _switch_projection(df, cases)
        if fused is not None:
            return fused
        return switch_branches(
            df, [(cond, lambda d, procs=procs: sub(d, procs))
                 for cond, procs in cases])

    if kind == "bloblang":
        return map_text(df, str(spec), keep=_bloblang_keep(df))
    if kind in ("filter", "filter_parts"):
        # v4 check form (Bloblang string) or v3 structured condition
        # (lib/condition/*.go dict schema); filter_parts is the
        # per-part alias — identical here, parts ARE rows
        if isinstance(spec, dict):
            from benthos_spark.operators.conditions import (
                apply_condition_filter)
            return apply_condition_filter(df, spec, ctx=ctx)
        return df.filter(compile_check(df, str(spec)))
    if kind == "bounds_check":
        fld = compile_condition(str(spec["field"]))
        return bounds_check(df, fld, int(spec.get("min", 0)),
                            int(spec.get("max", 2 ** 31 - 1)))
    if kind == "sample":
        return sample(df, float(spec["retain"]) / 100.0,
                      seed=int(spec.get("seed", 0)))
    if kind == "hash_sample":
        return hash_sample(df, F.col(spec["field"]),
                           float(spec.get("retain_min", 0.0)),
                           float(spec.get("retain_max", 10.0)))
    if kind == "dedupe":
        order = [F.col(c) for c in spec.get("order_by", [])] or None
        return dedupe(df, list(spec["key"]), order_by=order)
    if kind == "split":
        return split_batches(df, int(spec["size"]),
                             [F.col(c) for c in spec["order_by"]],
                             n_shards=int(spec.get("n_shards", 32)),
                             global_order=bool(spec.get("global_order",
                                                        False)))
    if kind == "select_parts":
        return select_parts(df, [int(i) for i in spec["parts"]],
                            batch_col=spec.get("batch_col"))
    if kind == "switch":
        cases = []
        for i, case in enumerate(spec):
            if case.get("fallthrough"):
                # lib/processor/switch.go: a fallthrough case passes
                # its output on to the next case's processors
                raise ConfigError(
                    f"switch processor case {i}: `fallthrough: true` is "
                    "not supported; repeat the next case's processors "
                    "in this case instead")
            # v4 `check:` (Bloblang string) or v3 `condition:`
            # (structured lib/condition schema)
            check = case.get("check")
            if check:
                cond = compile_check(df, str(check))
            elif (c3 := case.get("condition")) is not None:
                from benthos_spark.operators.conditions import (
                    compile_condition_spec)
                cond = compile_condition_spec(c3, ctx=ctx)
            else:
                cond = None
            cases.append((cond, case.get("processors", [])))
        return switch(cases)
    if kind == "conditional":
        # v3 conditional (lib/processor/conditional.go): a two-case
        # switch — rows passing `condition` run `processors`, the rest
        # run `else_processors`
        from benthos_spark.operators.conditions import \
            compile_condition_spec
        cond = compile_condition_spec(spec.get("condition")
                                      or {"static": True}, ctx=ctx)
        return switch([(cond, spec.get("processors", [])),
                       (None, spec.get("else_processors", []))])
    if kind in ("process_map", "process_dag"):
        # v3 precursors of branch/workflow (lib/processor/
        # process_map.go, process_dag.go): premap/postmap path dicts
        # translate directly to request/result Bloblang mappings
        from benthos_spark.plans import branch_stage, workflow

        def _path_map(mapping: dict | None, opt: dict | None) -> str | None:
            rules = {**(mapping or {}), **(opt or {})}
            if not rules:
                return None
            lines = []
            for dst, src in rules.items():
                left = "root" if dst in (".", "") else f"root.{dst}"
                right = "this" if src in (".", "") else f"this.{src}"
                lines.append(f"{left} = {right}")
            return "\n".join(lines)

        def _pm_stage(b: dict):
            stages = [(lambda d, p=p: _apply_processor(d, p, ctx))
                      for p in b.get("processors", [])]
            return lambda d: branch_stage(
                d, _path_map(b.get("premap"), b.get("premap_optional")),
                stages,
                _path_map(b.get("postmap"), b.get("postmap_optional")))

        if kind == "process_map":
            conds = spec.get("conditions") or []
            if conds:
                from benthos_spark.operators.conditions import \
                    compile_condition_spec
                gate = compile_condition_spec({"and": conds}, ctx=ctx)
                return switch_branches(df, [(gate, _pm_stage(spec)),
                                            (None, lambda d: d)])
            return _pm_stage(spec)(df)
        branches = {}
        for name, b in spec.items():
            if not isinstance(b, dict):
                continue
            branches[str(name)] = (
                [str(x) for x in b.get("dependencies", [])],
                _pm_stage(b))
        return workflow(df, branches)
    if kind == "batch":
        # v3 batch processor (lib/processor/batch.go): merge the stream
        # into `count`-part batches — the input batching policy as a
        # pipeline stage (period/byte_size need wall-clock/arrival
        # state; the windowed streaming path owns those)
        from benthos_spark.operators import split_batches
        count = int(spec.get("count", 0)) or 1
        order = [F.col(c) for c in spec.get(
            "order_by",
            ["batch_id", "part_index"] if "part_index" in df.columns
            else [df.columns[0]])]
        # the reference merges the ARRIVAL stream in order — default
        # to the reference-exact global order (single window; this is
        # a deprecated single-node surface), shard via n_shards to
        # opt in to the distributed form like `split`
        return split_batches(
            df, count, order,
            n_shards=int(spec.get("n_shards", 1)),
            global_order=bool(spec.get("global_order",
                                       "n_shards" not in spec)))
    if kind == "throttle":
        # v3 throttle (lib/processor/throttle.go): a fixed period per
        # message — the sleep stage's per-row pacing semantics
        from benthos_spark.operators.control import sleep_stage
        return sleep_stage(df, str(spec.get("period", "0s")))
    if kind in ("encode", "decode"):
        # v3 encode/decode (lib/processor/{encode,decode}.go): scheme
        # over the content payload; `parts` gates by part index
        from benthos_spark.functions import strings as S
        scheme = str(spec.get("scheme", "base64")).replace("-", "")
        fns = {("encode", "base64"): S.encode_base64,
               ("decode", "base64"): S.decode_base64,
               ("encode", "hex"): S.encode_hex,
               ("decode", "hex"): S.decode_hex,
               ("encode", "ascii85"): S.encode_ascii85,
               ("decode", "ascii85"): S.decode_ascii85,
               ("encode", "z85"): S.encode_z85,
               ("decode", "z85"): S.decode_z85}
        fn = fns.get((kind, scheme))
        if fn is None:
            raise ConfigError(f"{kind} scheme {scheme!r}: "
                              "base64|hex|ascii85|z85")
        if "content" not in df.columns:
            raise ConfigError(f"{kind} processor needs a content column")
        new = fn(F.col("content"))
        parts = [int(p) for p in spec.get("parts") or []]
        if parts:
            if "part_index" not in df.columns:
                raise ConfigError(f"{kind} parts: no part_index column")
            new = F.when(F.col("part_index").isin(parts), new) \
                .otherwise(F.col("content"))
        return df.withColumn("content", new)
    if kind == "hash":
        # v3 hash (lib/processor/hash.go): replace the payload with the
        # digest.  Hex form — the engine-wide `.hash()` doctrine (the
        # reference emits raw sum bytes, unrepresentable in a string
        # column; pair with decode:hex for byte-level parity)
        from benthos_spark.functions import strings as S
        algo = str(spec.get("algorithm", "sha256")).replace("-", "_")
        if "content" not in df.columns:
            raise ConfigError("hash processor needs a content column")
        c = F.col("content")
        if algo.startswith("hmac_"):
            new = S.hash_hmac(c, algo, str(spec.get("key", "")))
        else:
            fns = {"md5": S.hash_md5, "sha1": S.hash_sha1,
                   "sha256": S.hash_sha256, "sha512": S.hash_sha512,
                   "xxhash64": S.hash_xxhash64_std}
            if algo not in fns:
                raise ConfigError(
                    f"hash algorithm {algo!r}: md5|sha1|sha256|sha512|"
                    "xxhash64|hmac-sha1|hmac-sha256|hmac-sha512")
            new = fns[algo](c)
        parts = [int(p) for p in spec.get("parts") or []]
        if parts:
            if "part_index" not in df.columns:
                raise ConfigError("hash parts: no part_index column")
            new = F.when(F.col("part_index").isin(parts), new) \
                .otherwise(F.col("content"))
        return df.withColumn("content", new.cast("string"))
    if kind == "group_by":
        # check-form group_by (lib/processor/group_by.go:28): split into
        # groups by first matching check, per-group processors; parts
        # matching no check form their own untouched group
        cases = [(compile_check(df, str(case["check"])),
                  lambda d, procs=case.get("processors", []): sub(d, procs))
                 for case in spec]
        cases.append((None, lambda d: d))
        return switch_branches(df, cases)
    if kind == "group_by_value":
        from benthos_spark.operators import group_by_value
        return group_by_value(df, spec["value"])
    if kind == "archive":
        from benthos_spark.operators import archive_join
        from benthos_spark.operators.batch import archive_json_array
        value = compile_condition(str(spec.get("value", "this.content")))
        order = compile_condition(str(spec.get("order_by", "this.part_index")))
        group = [str(g) for g in spec.get("group", ["batch_id"])]
        if spec.get("format", "lines") == "json_array":
            return archive_json_array(df, group, value, order)
        return archive_join(df, group, value, order,
                            delimiter=spec.get("delimiter", "\n"))
    if kind == "unarchive":
        if "parts" not in spec and "format" in spec \
                and "content" in df.columns:
            # content-doctrine form (lib/processor/unarchive.go): the
            # payload itself holds the archive
            from benthos_spark.operators.legacy_doc import (
                unarchive_content_stage)
            return unarchive_content_stage(df, str(spec["format"]))
        from benthos_spark.operators import unarchive_explode
        return unarchive_explode(
            df, compile_condition(str(spec["parts"])),
            alias=spec.get("alias", "content"),
            index_alias=spec.get("index_alias", "part_index_out"))
    if kind == "merge_json":
        from benthos_spark.operators import merge_json
        return merge_json(
            df, [str(g) for g in spec.get("group", ["batch_id"])],
            compile_condition(str(spec["doc"])),
            compile_condition(str(spec.get("order_by", "this.part_index"))))
    if kind == "try":
        # `try` (lib/processor/try.go:18): children skip already-failed
        # rows; requires the _error column (datamodel message shape)
        from benthos_spark.plans import try_stages
        stages = [(lambda d, p=p: _apply_processor(d, p, ctx))
                  for p in (spec if isinstance(spec, list) else [spec])]
        return try_stages(df, *stages)
    if kind == "catch":
        from benthos_spark.plans import catch_stage
        return catch_stage(df, lambda bad: sub(bad, spec))
    if kind == "branch":
        # branch (lib/processor/branch.go:59): request_map → child
        # processors → result_map merge-back, all one projection chain
        from benthos_spark.plans import branch_stage
        stages = [(lambda d, p=p: _apply_processor(d, p, ctx))
                  for p in spec.get("processors", [])]
        return branch_stage(df, spec.get("request_map"), stages,
                            spec.get("result_map"))
    if kind == "workflow":
        # workflow (lib/processor/workflow.go:20): named branches run in
        # dependency order (explicit `dependencies`; the reference also
        # infers them from field usage — explicit-only here)
        from benthos_spark.plans import branch_stage, workflow
        branches = {}
        for name, b in (spec.get("branches") or {}).items():
            stages = [(lambda d, p=p: _apply_processor(d, p, ctx))
                      for p in b.get("processors", [])]
            branches[name] = (
                [str(x) for x in b.get("dependencies", [])],
                lambda d, b=b, stages=stages: branch_stage(
                    d, b.get("request_map"), stages, b.get("result_map")))
        return workflow(df, branches)
    if kind == "cache":
        # cache (lib/processor/cache.go:22): get → broadcast lookup
        # join; set/add → batched upsert/insert; delete → anti-join.
        # The store is a named resource (resources.caches in the config)
        store = (ctx.get("caches") or {}).get(str(spec["resource"]))
        if store is None:
            raise ConfigError(
                f"cache resource {spec.get('resource')!r} not defined "
                "(add it under resources.caches)")
        op = spec.get("operator", "get")
        key = compile_condition(str(spec["key"]))
        work = df.withColumn(store.key, key)
        if op == "get":
            out = store.get(work, on=store.key)
            return out if spec.get("keep_key") else out.drop(store.key)
        value = compile_condition(str(spec["value"])) \
            if "value" in spec else F.lit(None).cast("string")
        kv = work.select(F.col(store.key), value.alias("value"))
        if op == "set":
            store.set(kv)
        elif op == "add":
            store.add(kv)
        elif op == "delete":
            store.delete(kv.select(store.key))
        else:
            raise ConfigError(f"cache operator {op!r}: use get|set|add|delete")
        return df
    if kind == "http":
        # http (lib/processor/http.go:25): per-record enrichment call;
        # prefer fetch_dimension + cache get for keyed endpoints
        from benthos_spark.operators.http_enrich import http_enrich
        return http_enrich(
            df, compile_condition(str(spec["url"])),
            alias=spec.get("alias", "response"),
            method=spec.get("verb", spec.get("method", "GET")),
            headers={str(k): str(v)
                     for k, v in (spec.get("headers") or {}).items()},
            timeout_s=float(spec.get("timeout", 10.0)),
            retries=int(spec.get("retries", 2)))
    if kind == "aws_lambda":
        # aws_lambda (lib/processor/aws_lambda.go): per-record invoke;
        # needs boto3 + creds unless a registered resource supplies
        # the client factory (tests inject fakes that way)
        from benthos_spark.operators.control import resource
        from benthos_spark.operators.http_enrich import lambda_map
        factory = None
        if spec.get("client_resource"):
            # the resource registry is name → callable; a lambda client
            # factory is just a zero-arg callable under a name
            factory = resource(str(spec["client_resource"]))
        return lambda_map(df, str(spec["function"]),
                          alias=str(spec.get("alias", "lambda_response")),
                          client_factory=factory)
    if kind == "redis":
        # redis (lib/processor/redis.go:49): scard/sadd/incrby with an
        # interpolated key; result lands in `alias`, failures set
        # `_error`.  `client_resource` injects the client factory (the
        # aws_lambda pattern) — the default imports redis-py.
        from benthos_spark.bloblang.field import interpolate
        from benthos_spark.operators.control import resource
        from benthos_spark.operators.kv_store import redis_map
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        value_col = (compile_condition(str(spec["value"]))
                     if spec.get("value") else None)
        return redis_map(df, str(spec.get("operator", "scard")),
                         interpolate(str(spec["key"])),
                         value_col=value_col,
                         alias=str(spec.get("alias", "redis_result")),
                         client_factory=factory,
                         url=str(spec.get("url", "")))
    if kind == "mongodb":
        # mongodb (internal/impl/mongodb/processor.go): filter_map /
        # document_map are Bloblang mappings — they compile to Columns
        # and evaluate JVM-side; only the serialized JSON objects cross
        # into the per-partition client stage.
        from benthos_spark.operators.control import resource
        from benthos_spark.operators.kv_store import mongodb_map
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        work, helper_cols = df, []
        f_col = d_col = None
        if spec.get("filter_map"):
            work = _mapping_json_col(work, str(spec["filter_map"]),
                                     "__mongo_filter")
            f_col, _ = F.col("__mongo_filter"), helper_cols.append(
                "__mongo_filter")
        if spec.get("document_map"):
            work = _mapping_json_col(work, str(spec["document_map"]),
                                     "__mongo_doc")
            d_col, _ = F.col("__mongo_doc"), helper_cols.append(
                "__mongo_doc")
        out = mongodb_map(
            work, str(spec["operation"]),
            str(spec.get("database", "db")),
            str(spec.get("collection", "coll")),
            filter_col=f_col, document_col=d_col,
            upsert=bool(spec.get("upsert", False)),
            alias=str(spec.get("alias", "mongo_result")),
            client_factory=factory, url=str(spec.get("url", "")))
        return out.drop(*helper_cols)
    if kind == "dynamodb_partiql":
        # dynamodb_partiql (internal/impl/aws/dynamodb_partiql_
        # processor.go): PartiQL per message; `args` re-expresses
        # args_mapping as the sql processor's list-of-queries form
        from benthos_spark.operators.control import resource
        from benthos_spark.operators.kv_store import dynamodb_partiql_map
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        args = [compile_condition(str(a)) for a in spec.get("args", [])]
        return dynamodb_partiql_map(
            df, str(spec["query"]), args_cols=args,
            alias=str(spec.get("alias", "partiql_result")),
            client_factory=factory, region=str(spec.get("region", "")))
    if kind == "grok":
        from benthos_spark.bloblang.compiler import is_pure_message
        if is_pure_message(df):
            # content doctrine: captures become the payload document
            # (grok.go ProcessMessage)
            from benthos_spark.operators.legacy_doc import grok_stage
            return grok_stage(df, spec)
        from benthos_spark.operators.parsing import grok
        expr = spec.get("expression") or (spec.get("patterns") or [None])[0]
        if not expr:
            raise ConfigError("grok needs `expression` (or `patterns`)")
        return grok(df, F.col(spec.get("source", "content")), str(expr))
    if kind == "number":
        from benthos_spark.operators.legacy_doc import number_stage
        if "content" not in df.columns:
            raise ConfigError("number processor operates on the "
                              "message `content` column")
        return number_stage(df, spec)
    if kind == "parse_log":
        from benthos_spark.bloblang.compiler import is_pure_message
        if is_pure_message(df):
            from benthos_spark.operators.legacy_doc import (
                parse_log_stage)
            return parse_log_stage(df, spec)
        from benthos_spark.operators.parsing import (parse_syslog_rfc3164,
                                                     parse_syslog_rfc5424)
        fmt = spec.get("format", "syslog_rfc5424")
        src = F.col(spec.get("source", "content"))
        if fmt == "syslog_rfc5424":
            return parse_syslog_rfc5424(df, src)
        if fmt == "syslog_rfc3164":
            return parse_syslog_rfc3164(df, src)
        raise ConfigError(f"parse_log format {fmt!r}: "
                          "use syslog_rfc5424|syslog_rfc3164")
    if kind == "jsonschema":
        import json as _json
        from benthos_spark.operators.parsing import jsonschema_validate
        schema = spec["schema"]
        if isinstance(schema, str):
            schema = _json.loads(schema)
        return jsonschema_validate(df, F.col(spec.get("source", "content")),
                                   schema)
    if kind in ("compress", "decompress"):
        from benthos_spark.operators.codec import compress as _comp
        from benthos_spark.operators.codec import decompress_str
        alg = spec.get("algorithm", "gzip")
        src = spec.get("source", "content")
        target = spec.get("target", src)
        col = (_comp(F.col(src), alg) if kind == "compress"
               else decompress_str(F.col(src), alg))
        return df.withColumn(target, col)
    if kind == "avro":
        # avro (lib/processor/avro.go:22): operator to_json|from_json
        # over single-datum binary payloads.  JVM spark-avro is the
        # scale path when its jar ships; the pure-Python Arrow-batched
        # codec (operators/avro_py.py) is the in-container fallback.
        import json as _json
        op = spec.get("operator", "to_json")
        schema = spec["schema"]
        schema_str = (schema if isinstance(schema, str)
                      else _json.dumps(schema))
        src = spec.get("source", "content")
        target = spec.get("target", src)
        if op == "to_json":
            from benthos_spark.operators.schema_codecs import (
                MissingSparkPackage, avro_to_struct)
            try:
                return df.withColumn(
                    target, F.to_json(avro_to_struct(F.col(src),
                                                     schema_str)))
            except MissingSparkPackage:
                from benthos_spark.operators.avro_py import avro_decode_json
                return df.withColumn(
                    target, avro_decode_json(F.col(src), schema_str))
        if op == "from_json":
            from benthos_spark.operators.avro_py import avro_encode_json
            return df.withColumn(
                target, avro_encode_json(F.col(src), schema_str))
        raise ConfigError(f"avro operator {op!r}: use to_json|from_json")
    if kind == "protobuf":
        # protobuf (lib/processor/protobuf.go:27): to_json/from_json by
        # .proto reflection.  import_paths walk for .proto files like
        # the reference; `proto:` additionally accepts an inline
        # definition.  Pure-Python wire codec in-container
        # (operators/protobuf_py.py); spark-protobuf is the scale path
        # when its jar + descriptor sets are available.
        from benthos_spark.operators.protobuf_py import (
            ProtoRegistry, protobuf_decode_json, protobuf_encode_json)
        if not spec.get("proto") and not spec.get("import_paths"):
            # never default to walking '.' — a stray/unsupported .proto
            # anywhere under cwd would crash (or slow) config build
            raise ConfigError(
                "protobuf processor: set `proto` (inline schema) or a "
                "non-empty `import_paths` list")
        reg = ProtoRegistry()
        if spec.get("proto"):
            reg.add_source(str(spec["proto"]))
        if spec.get("import_paths"):
            reg.add_paths([str(p) for p in spec["import_paths"]])
        message = str(spec["message"])
        op = spec.get("operator", "to_json")
        src = spec.get("source", "content")
        target = spec.get("target", src)
        if op == "to_json":
            return df.withColumn(
                target, protobuf_decode_json(F.col(src), message, reg))
        if op == "from_json":
            return df.withColumn(
                target, protobuf_encode_json(F.col(src), message, reg))
        raise ConfigError(f"protobuf operator {op!r}: use to_json|from_json")
    if kind == "while":
        # while (lib/processor/while.go:27): driver-evaluated batch
        # check — loop while ANY row passes (the reference checks the
        # batch head; any() is the columnar batch analogue)
        from benthos_spark.operators.control import while_loop
        check = spec.get("check", spec.get("condition"))
        if isinstance(check, dict):  # v3 structured condition schema
            from benthos_spark.operators.conditions import (
                compile_condition_spec)
            cond = compile_condition_spec(check, ctx=ctx)
        else:
            cond = compile_condition(str(check))
        return while_loop(
            df,
            # isEmpty() short-circuits on the first non-empty partition
            # — one driver job per iteration, not two
            lambda d: not d.filter(cond).isEmpty(),
            lambda d: sub(d, spec.get("processors", [])),
            max_loops=int(spec.get("max_loops", 100)))
    if kind == "insert_part":
        # insert_part (lib/processor/insert_part.go:19): union a
        # literal part; `part` = column → value mapping
        from benthos_spark.operators import insert_part
        from benthos_spark.operators.literals import dict_literal_frame
        part_df = dict_literal_frame(df.sparkSession, spec["part"])
        if part_df is None:  # nested/None literal values → inference
            part_df = df.sparkSession.createDataFrame([spec["part"]])
        for f in df.schema.fields:
            # align literal columns with the stream's types — dict
            # inference can mistype (int vs long) and fail the union
            if f.name in part_df.columns:
                part_df = part_df.withColumn(
                    f.name, F.col(f.name).cast(f.dataType))
        return insert_part(df, part_df)
    if kind == "log":
        from benthos_spark.operators.control import log_stage
        return log_stage(df, str(spec.get("message", "")),
                         level=spec.get("level", "INFO"))
    if kind == "metric":
        # metric (lib/processor/metric.go): named pipeline counter.
        # Observation-backed so a configured `metrics:` sink can read
        # the value after the run's own action — no extra scan.
        from pyspark.sql import Observation
        name = str(spec["name"])
        obs = Observation()
        out = df.observe(obs, F.sum(
            compile_condition(str(spec["value"]))).alias(name))
        ctx.setdefault("observations", {})[name] = obs
        return out
    if kind == "xml":
        # lib/processor/xml.go:113 — only operator is to_json
        from benthos_spark.operators.parsing import xml_to_json
        op = (spec or {}).get("operator", "to_json")
        if op != "to_json":
            raise ConfigError(f"xml operator not recognised: {op!r}")
        return xml_to_json(df)
    if kind == "process_field":
        from benthos_spark.operators.control import process_field
        stages = [(lambda d, p=p: _apply_processor(d, p, ctx))
                  for p in spec.get("processors", [])]
        return process_field(df, str(spec["path"]), stages,
                             result_type=spec.get("result_type", "string"))
    if kind == "jq":
        # lib/processor/jq.go:100-103 config: {query, raw}
        from benthos_spark.operators.jq import jq_transform
        if isinstance(spec, str):
            return jq_transform(df, spec)
        return jq_transform(df, str(spec["query"]),
                            raw=bool(spec.get("raw", False)))
    if kind == "jmespath":
        from benthos_spark.operators.parsing import jmespath_transform
        return jmespath_transform(
            df, F.col(spec.get("source", "content")), str(spec["query"]),
            alias=spec.get("alias", "content"))
    if kind == "subprocess":
        from benthos_spark.operators.control import subprocess_map
        return subprocess_map(df, [str(a) for a in spec["args"]],
                              input_col=spec.get("input", "content"),
                              output_col=spec.get("output", "content"))
    if kind == "resource":
        from benthos_spark.operators.control import apply_resource
        return apply_resource(df, str(spec))
    if kind == "noop":
        return df
    if kind == "sync_response":
        # sync_response (lib/processor/sync_response.go): snapshot the
        # frame AT THIS POINT as the synchronous reply payload.  For
        # inputs without roundtrip support the capture is dropped
        # without penalty (the reference's exact contract); the
        # http_server input with sync_response: true consumes it in
        # run_stream.  Requires `content` + `meta` columns to route
        # replies back to held connections.
        ctx["sync_capture"] = df
        return df
    if kind == "sleep":
        # sleep (lib/processor/sleep.go:21): latency injection for
        # tests/backpressure — per-batch executor-side sleep with the
        # reference's per-message throughput semantics
        from benthos_spark.operators.control import sleep_stage
        return sleep_stage(df, str(spec.get("duration", "0s")))
    if kind in ("json", "text", "metadata"):
        # v3 legacy content-doctrine processors (lib/processor/
        # {json,text,metadata}.go): dynamic per-document semantics →
        # the Arrow-batched document interpreter (operators/
        # legacy_doc.py)
        from benthos_spark.operators.legacy_doc import (json_stage,
                                                        metadata_stage,
                                                        text_stage)
        if "content" not in df.columns:
            raise ConfigError(
                f"{kind} processor operates on the message `content` "
                "column (content doctrine); map typed columns with "
                "bloblang instead")
        stage = {"json": json_stage, "text": text_stage,
                 "metadata": metadata_stage}[kind]
        return stage(df, spec)
    if kind == "rate_limit":
        # rate_limit processor referencing resources.rate_limits
        # (lib/processor/rate_limit.go:18); `local` is the only
        # in-process algorithm in the reference too
        name = str(spec.get("resource", spec) if isinstance(spec, dict)
                   else spec)
        rl = (ctx.get("rate_limits") or {}).get(name)
        if rl is None:
            raise ConfigError(
                f"rate_limit resource {name!r} not registered "
                "(resources.rate_limits)")
        from benthos_spark.operators.control import rate_limit_stage
        return rate_limit_stage(df, int(rl.get("count", 1000)),
                                str(rl.get("interval", "1s")))
    if kind == "window":
        # batch policy (lib/message/batch/policy.go) as an event-time
        # window; aggs: {name: "count"} | {name: "sum:col"} | min/max/avg
        from benthos_spark.streaming import (sliding_window_agg,
                                             tumbling_window_agg)
        aggs = []
        for name, expr in (spec.get("aggs") or {"n": "count"}).items():
            if expr == "count":
                aggs.append(F.count("*").alias(name))
            else:
                fn_name, _, col = expr.partition(":")
                fn = {"sum": F.sum, "min": F.min, "max": F.max,
                      "avg": F.avg, "collect": F.collect_list}.get(fn_name)
                if fn is None or not col:
                    raise ConfigError(
                        f"window agg {expr!r}: use count|sum:col|min:col|"
                        "max:col|avg:col|collect:col")
                aggs.append(fn(col).alias(name))
        keys = [str(k) for k in spec.get("keys", [])]
        if "slide" in spec:
            return sliding_window_agg(df, spec["ts"], spec["duration"],
                                      spec["slide"], keys, aggs,
                                      watermark=spec.get("watermark"))
        return tumbling_window_agg(df, spec["ts"], spec["duration"], keys,
                                   aggs, watermark=spec.get("watermark"))
    if kind == "sql":
        # lib/processor/sql.go:115 config shape: driver,
        # data_source_name, query, args (interpolated), result_codec
        from benthos_spark.operators.sql_exec import sql_query
        args = [compile_condition(str(a)) for a in spec.get("args", [])]
        return sql_query(df, str(spec["data_source_name"]),
                         str(spec["query"]), args_cols=args,
                         result_codec=spec.get("result_codec", "none"),
                         driver=spec.get("driver", "sqlite"))
    if kind in ("for_each", "process_batch", "parallel"):
        # for_each (lib/processor/for_each.go:19) runs children once per
        # part; process_batch (for_each.go:37) is its deprecated alias;
        # parallel (parallel.go:21) is the same dataflow with a worker
        # cap. Rows are already the unit of parallelism in Spark, so all
        # three compile to sequential child application over the frame.
        return sub(df, spec)
    if kind == "awk":
        # awk (lib/processor/awk.go:31): pattern-action programs with
        # the Benthos host functions, codecs none/text/json; compiles
        # at config time, executes Arrow-batched per message
        from benthos_spark.operators.awk_lang import AwkError
        from benthos_spark.operators.awk_proc import awk_process
        try:
            return awk_process(df, str(spec["program"]),
                               codec=str(spec.get("codec", "text")))
        except AwkError as exc:
            raise ConfigError(f"awk: {exc}") from exc
    from benthos_spark.template import lookup_template
    if (tmpl := lookup_template("processor", kind)) is not None:
        return _apply_processor(
            df, tmpl.expand(df.sparkSession, spec), ctx)
    raise ConfigError(f"unknown processor type {kind!r}")


# ---------------------------------------------------------------- outputs

def _run_output(df: DataFrame, conf: dict | None, ctx: dict | None = None):
    ctx = {} if ctx is None else ctx  # an empty caller dict must alias
    conf = conf or {"memory": {}}
    if isinstance(conf, dict) and "batching" in conf:
        conf = {k: v for k, v in conf.items() if k != "batching"}
    kind, spec = _section_component(conf, "output")
    if kind is None:
        raise ConfigError(f"output: expected one component, got {conf!r}")
    # v3/deprecated output registrations (lib/output/constructor.go)
    _OUT_ALIASES = {"s3": "aws_s3", "sqs": "aws_sqs", "sns": "aws_sns",
                    "kinesis": "aws_kinesis",
                    "kinesis_firehose": "aws_kinesis_firehose",
                    "gcs": "gcp_cloud_storage",
                    "blob_storage": "azure_blob_storage",
                    "table_storage": "azure_table_storage",
                    "dynamodb": "aws_dynamodb",
                    "amqp": "amqp_0_9", "zmq4": "zmq_push",
                    # JetStream/STAN publish through the nats family
                    "nats_jetstream": "nats", "nats_stream": "nats",
                    "tcp": "socket", "udp": "socket"}
    kind = _OUT_ALIASES.get(kind, kind)
    raw_spec = spec
    spec = spec if isinstance(spec, dict) else {}
    if kind == "memory":
        if df.isStreaming:
            name = spec.get("name", "stream_out")
            q = (df.writeStream.format("memory").queryName(name)
                 .outputMode(spec.get("output_mode", "append"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(int(spec.get("timeout", 300)))
            return df.sparkSession.sql(f"SELECT * FROM {name}")
        return df
    if kind == "file":
        if not spec.get("path"):
            raise ConfigError("file output needs `path`")
        fmt = spec.get("format", "parquet")
        if df.isStreaming:
            from benthos_spark.sinks.writers import write_stream_file
            q = write_stream_file(df, spec["path"], spec["checkpoint"],
                                  fmt=fmt, available_now=True,
                                  partition_by=spec.get("partition_by"))
            q.awaitTermination(int(spec.get("timeout", 300)))
            return df
        writer = df.write.mode(spec.get("mode", "overwrite"))
        if part := spec.get("partition_by"):
            writer = writer.partitionBy(*part)
        writer.format(fmt).save(spec["path"])
        return df
    if kind == "stdout":
        df.show(int(spec.get("limit", 20)), truncate=False)
        return df
    if kind == "drop":
        df.write.format("noop").mode("overwrite").save()
        return df
    if kind == "switch":
        # switch output (lib/output/switch.go:45): first matching case's
        # sink gets the row; cache once, every sink replays from memory
        from benthos_spark.sinks.broker import switch_output
        cases = []
        for case in spec.get("cases", spec if isinstance(spec, list) else []):
            check = case.get("check")
            cond = compile_condition(str(check)) if check else None
            cases.append((cond,
                          lambda d, o=case["output"]: _run_output(d, o, ctx)))
        switch_output(df, cases)
        return df
    if kind == "broker":
        # broker output (lib/broker/fan_out.go): fan_out patterns write
        # the cached frame to every child output
        from benthos_spark.sinks.broker import fan_out
        pattern = spec.get("pattern", "fan_out")
        if pattern not in ("fan_out", "fan_out_sequential"):
            raise ConfigError(f"broker output pattern {pattern!r}: "
                              "fan_out|fan_out_sequential (round_robin/"
                              "greedy have no distributed meaning — use "
                              "partition_routes)")
        if not spec.get("outputs"):
            raise ConfigError("broker output needs `outputs`")
        fan_out(df, [lambda d, o=o: _run_output(d, o, ctx)
                     for o in spec["outputs"]])
        return df
    if kind == "try":
        # try output (lib/output/try.go): children attempted in order;
        # the first that delivers consumes the batch
        outs = raw_spec if isinstance(raw_spec, list) \
            else spec.get("outputs")
        if not outs:
            raise ConfigError("try output needs a list of child outputs")
        errs = []
        for o in outs:
            try:
                return _run_output(df, o, ctx)
            except Exception as e:  # noqa: BLE001 — fallback contract
                errs.append(f"{type(e).__name__}: {str(e)[:120]}")
        raise ConfigError(f"try output: every child failed: {errs}")
    if kind == "retry":
        # retry output (lib/output/retry.go): bounded re-attempts of
        # the inner delivery (the reference retries forever by default;
        # a batch engine needs a bound — max_retries, default 3)
        inner = spec.get("output")
        if not inner:
            raise ConfigError("retry output needs `output`")
        import time as _time
        last: Exception | None = None
        backoff = _duration_s(
            (spec.get("backoff") or {}).get("initial_interval", 0))
        for _ in range(int(spec.get("max_retries", 3)) + 1):
            try:
                return _run_output(df, inner, ctx)
            except Exception as e:  # noqa: BLE001 — retry contract
                last = e
                if backoff:
                    _time.sleep(backoff)
        raise last
    if kind == "drop_on":
        # drop_on output (lib/output/drop_on.go): `error: true` drops
        # messages the inner output fails to deliver instead of
        # erroring; back_pressure has no distributed meaning (accepted,
        # ignored — Spark sinks apply their own backpressure)
        inner = spec.get("output")
        if not inner:
            raise ConfigError("drop_on output needs `output`")
        try:
            return _run_output(df, inner, ctx)
        except Exception:
            if spec.get("error"):
                return df
            raise
    if kind == "files":
        # deprecated files output (lib/output/files.go): one file per
        # message at the interpolated path — executor-side writes
        from benthos_spark.bloblang.field import interpolate
        from benthos_spark.sinks.writers import write_files
        if not spec.get("path"):
            raise ConfigError("files output needs `path`")
        write_files(df, interpolate(str(spec["path"])))
        return df
    if kind == "cache":
        # cache output (lib/output/cache.go): set each message under
        # the interpolated key in a named cache resource
        store = (ctx.get("caches") or {}).get(str(spec.get("target")))
        if store is None:
            raise ConfigError(
                f"cache output target {spec.get('target')!r} not "
                "defined (add it under resources.caches)")
        from benthos_spark.bloblang.field import interpolate
        key = interpolate(str(spec.get("key", "${!count:items}")))
        body = row_payload(df)
        store.set(df.select(key.cast("string").alias(store.key),
                            body.cast("string").alias("value")))
        return df
    if kind == "inproc":
        # inproc output (lib/output/inproc.go): named in-process pipe;
        # the paired inproc input of a later stream in the same
        # manager/ctx consumes it
        name = str(raw_spec if isinstance(raw_spec, str)
                   else spec.get("name", ""))
        if not name:
            raise ConfigError("inproc output needs a pipe name")
        ctx.setdefault("inproc", {})[name] = df
        return df
    if kind == "resource":
        # resource output (lib/output/resource.go): named output from
        # resources.outputs
        name = str(raw_spec if isinstance(raw_spec, str)
                   else spec.get("name", ""))
        target = (ctx.get("output_resources") or {}).get(name)
        if target is None:
            raise ConfigError(
                f"output resource {name!r} not defined (add it under "
                "resources.outputs)")
        return _run_output(df, target, ctx)
    if kind == "dynamic":
        # dynamic output (lib/output/dynamic.go): routes to the output
        # currently registered under `prefix`; the REST update surface
        # is streams-mode — here the initial `outputs` map is static
        outs = spec.get("outputs") or {}
        choose = spec.get("prefix") or next(iter(outs), None)
        if choose is None or choose not in outs:
            raise ConfigError("dynamic output needs `outputs` (and the "
                              "selected key via `prefix`)")
        return _run_output(df, outs[choose], ctx)
    if kind == "sync_response":
        # sync_response output (lib/output/sync_response.go): the sink
        # IS the held HTTP replies — same capture the processor form
        # feeds (stream.py run_stream sync flow)
        ctx["sync_capture"] = df
        return df
    if kind == "http_server":
        # http_server output (lib/output/http_server.go): clients GET
        # the path, each request pops the next message; serves until
        # drained or timeout.  Bounded request/reply surface by
        # contract (the reference holds the same per-process queue)
        from benthos_spark.sources.http_ingest import serve_http_output
        msgs = [r[0] or "" for r in df.select(row_payload(df)).collect()]
        addr = str(spec.get("address", "127.0.0.1:0"))
        host, port = addr.rsplit(":", 1)
        _, _, left = serve_http_output(
            msgs, host, int(port), path=str(spec.get("path", "/get")),
            timeout_s=_duration_s(spec.get("timeout", 30)))
        if left:
            raise ConfigError(
                f"http_server output: {left} message(s) never fetched "
                "before the serve timeout")
        return df
    if kind == "subprocess":
        # subprocess output (lib/output/subprocess.go): pipe message
        # lines to a command's stdin.  Driver-side bounded by contract
        # (ONE consumer process exists; same doctrine as the input)
        import subprocess as _sp
        if not spec.get("name"):
            raise ConfigError("subprocess output needs a command `name`")
        lines = [r[0] or "" for r in df.select(row_payload(df)).collect()]
        proc = _sp.run([str(spec["name"]), *[str(a) for a in
                                             spec.get("args", [])]],
                       input="\n".join(lines) + ("\n" if lines else ""),
                       text=True, capture_output=True,
                       timeout=_duration_s(spec.get("timeout", 60)))
        if proc.returncode != 0:
            raise ConfigError(
                f"subprocess output exited {proc.returncode}: "
                f"{proc.stderr[:200]}")
        return df
    if kind == "socket":
        # socket output (lib/output/socket.go, tcp/udp aliases): send
        # newline-delimited messages over one connection.  Driver-side
        # bounded by contract — the reference also holds ONE conn; the
        # scale path for fan-out delivery is the bus/kafka families
        import socket as _sk
        address = str(spec.get("address", ""))
        if not address:
            raise ConfigError("socket output needs `address`")
        network = str(spec.get("network", "tcp"))
        text = "".join((r[0] or "") + "\n"
                       for r in df.select(row_payload(df)).collect())
        if network == "udp":
            host, port = address.rsplit(":", 1)
            s = _sk.socket(_sk.AF_INET, _sk.SOCK_DGRAM)
            try:
                for line in text.splitlines():
                    s.sendto((line + "\n").encode(), (host, int(port)))
            finally:
                s.close()
        elif network in ("tcp", "unix"):
            if network == "unix":
                s = _sk.socket(_sk.AF_UNIX, _sk.SOCK_STREAM)
                s.connect(address)
            else:
                host, port = address.rsplit(":", 1)
                s = _sk.create_connection((host, int(port)), timeout=10)
            try:
                s.sendall(text.encode())
            finally:
                s.close()
        else:
            raise ConfigError(f"socket output network {network!r}: "
                              "tcp|udp|unix")
        return df
    if kind in ("dlq", "drop_on_error", "reject"):
        # DLQ family (lib/output/{drop_on_error,reject,retry}.go): rows
        # with _error set go to the dead-letter sink (or are dropped),
        # clean rows continue to the inner output
        from benthos_spark.sinks.broker import with_dead_letter
        dlq_conf = spec.get("dlq")
        clean = with_dead_letter(
            df, (lambda d: _run_output(d, dlq_conf, ctx)) if dlq_conf
            else (lambda d: None))
        inner = spec.get("output")
        return _run_output(clean, inner, ctx) if inner else clean
    if kind == "http_client":
        # http_client output (lib/output/http_client.go): POST each
        # row's payload to the URL, executor-side through the pooled
        # retrying client; rows keep flowing with per-row `_error`, so
        # the DLQ wrappers compose around failures exactly like any
        # processor error
        from benthos_spark.operators.http_enrich import http_enrich
        if not spec.get("url"):
            raise ConfigError("http_client output needs `url`")
        sent = http_enrich(
            df, F.lit(str(spec["url"])), alias="__http_resp",
            method=str(spec.get("verb", "POST")), body_col=row_payload(df),
            headers=spec.get("headers"),
            timeout_s=float(spec.get("timeout", 10)),
            retries=int(spec.get("retries", 2)))
        # eager checkpoint = deliver exactly once; downstream reads
        # (collects, DLQ routing) reuse the materialized rows instead
        # of re-POSTing
        return sent.drop("__http_resp").localCheckpoint(eager=True)
    _OBJ_OUT = {"aws_s3": ("s3a", "hadoop-aws + aws-java-sdk-bundle"),
                "gcp_cloud_storage": ("gs", "gcs-connector"),
                "azure_blob_storage": ("abfss", "hadoop-azure"),
                "hdfs": ("hdfs", "hadoop client")}
    if kind in _OBJ_OUT:
        # object-store outputs (lib/output/{aws_s3,...}.go): partitioned
        # writes through the Hadoop FS schemes — the file output with a
        # cloud URI; an actionable jar error in-container
        scheme, jar = _OBJ_OUT[kind]
        bucket = str(spec.get("bucket", spec.get("container", "")))
        prefix = str(spec.get("path", spec.get("prefix", "")))
        uri = f"{scheme}://{bucket}/{prefix}".rstrip("/")
        try:
            return _run_output(df, {"file": {
                "path": uri,
                **{k: v for k, v in spec.items()
                   if k in ("format", "partition_by", "mode",
                            "checkpoint", "timeout")}}}, ctx)
        except ConfigError:
            raise  # a real config mistake, not a missing connector
        except Exception as exc:
            raise ConfigError(
                f"output.{kind}: writing {uri!r} needs the {jar} jar "
                f"and credentials via the Hadoop {scheme} "
                f"configuration ({exc})") from exc
    if kind == "websocket":
        # websocket output (lib/output/websocket.go): one RFC 6455
        # client connection per partition, rows as masked text frames
        from benthos_spark.sources.http_ingest import websocket_send
        if not spec.get("url"):
            raise ConfigError("websocket output needs `url`")
        url = str(spec["url"])
        content_col = str(spec.get("content_col", "content"))

        def send_part(rows):
            msgs = [r[content_col] for r in rows
                    if r[content_col] is not None]
            if msgs:
                websocket_send(url, msgs)

        df.select(row_payload(df, content_col).alias(content_col)) \
            .foreachPartition(send_part)
        return df
    from benthos_spark.sinks.bus import DOC_STORE_FAMILIES
    if kind in DOC_STORE_FAMILIES:
        # keyed document-store outputs (elasticsearch / aws_dynamodb /
        # cassandra / azure_table_storage / redis_hash): the shared
        # write(target, key, document) bridge with injectable clients
        from benthos_spark.bloblang.field import interpolate
        from benthos_spark.operators.control import resource
        from benthos_spark.sinks.bus import doc_store_output
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        target = next((str(spec[f]) for f in
                       ("index", "table", "key", "target")
                       if spec.get(f)), "")
        doc_id = str(spec.get("id", spec.get("doc_id", "")))
        doc_store_output(
            df, kind, interpolate(target),
            interpolate(doc_id) if doc_id else F.lit(""),
            client_factory=factory)
        return df
    if kind == "mongodb":
        # mongodb output (internal/impl/mongodb/output.go): the
        # processor's write operations with the result discarded
        op = str(spec.get("operation", "insert-one"))
        if op in ("insert-one", "replace-one", "update-one") \
                and not spec.get("document_map"):
            raise ConfigError(f"mongodb output {op} needs `document_map`")
        _apply_processor(df, {"mongodb": {**spec, "operation": op}}, ctx) \
            .write.format("noop").mode("overwrite").save()
        return df
    if kind == "sql":
        # sql output (lib/output/sql.go): INSERT per message through
        # the processor's prepared-statement machinery, result dropped
        from benthos_spark.operators.sql_exec import sql_query
        if not spec.get("data_source_name") or not spec.get("query"):
            raise ConfigError("sql output needs `data_source_name` "
                              "and `query`")
        args = [compile_condition(str(a)) for a in spec.get("args", [])]
        out = sql_query(df, str(spec["data_source_name"]),
                        str(spec["query"]), args_cols=args,
                        result_codec="none",
                        driver=spec.get("driver", "sqlite"))
        out.write.format("noop").mode("overwrite").save()
        return df
    if kind == "sftp":
        # sftp output (lib/output/sftp.go:26): injectable-client bridge
        # over the codec stack, one client per partition
        from benthos_spark.bloblang.field import interpolate
        from benthos_spark.operators.control import resource
        from benthos_spark.sources.sftp import write_sftp
        if not spec.get("path"):
            raise ConfigError("sftp output needs `path`")
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        write_sftp(df, interpolate(str(spec["path"])),
                   codec=str(spec.get("codec", "all-bytes")),
                   client_factory=factory, spec=spec)
        return df
    from benthos_spark.sinks.bus import BUS_FAMILIES
    if kind in BUS_FAMILIES:
        # bus-family outputs: one shared per-partition publisher
        # bridge with an injectable client (sinks/bus.py)
        from benthos_spark.bloblang.field import interpolate
        from benthos_spark.operators.control import resource
        from benthos_spark.sinks.bus import publish_output
        factory = (resource(str(spec["client_resource"]))
                   if spec.get("client_resource") else None)
        raw = next((str(spec[f]) for f in
                    ("target", "subject", "topic", "url", "urls",
                     "stream", "streams", "channel", "channels",
                     "key", "queue") if spec.get(f)), "")
        publish_output(df, kind, interpolate(raw),
                       client_factory=factory)
        return df
    if kind == "kafka":
        # kafka output (lib/output/kafka.go:21): rows → JSON messages
        # through the spark-sql-kafka sink (package jar required)
        from benthos_spark.sinks.writers import write_kafka
        if not spec.get("addresses") or not spec.get("topic"):
            raise ConfigError("kafka output needs `addresses` and "
                              "`topic`")
        write_kafka(
            df,
            ",".join(spec["addresses"]) if isinstance(
                spec.get("addresses"), list) else str(spec["addresses"]),
            str(spec["topic"]), key=spec.get("key"),
            value_cols=spec.get("value_cols"))
        return df
    from benthos_spark.template import lookup_template
    if (tmpl := lookup_template("output", kind)) is not None:
        return _run_output(df, tmpl.expand(df.sparkSession, spec), ctx)
    raise ConfigError(f"unknown output type {kind!r}")


# ---------------------------------------------------------------- stream

def _build_resources(spark: SparkSession, conf: dict) -> dict:
    """`resources` section (lib/config/config.go resources): named
    caches (resources.caches) and named processor pipelines
    (resources.processors, reachable via the `resource` processor)."""
    from benthos_spark.operators.cache_store import (CacheStore,
                                                     KVClientCache,
                                                     MultilevelCache)
    from benthos_spark.operators.control import register_resource, resource
    res = conf.get("resources") or {}
    caches = {}
    multilevels = {}
    for name, c in (res.get("caches") or {}).items():
        # cache types (lib/cache/constructor.go registry):
        #   memory / ristretto → session-scoped temp path (both are
        #     in-proc maps in the reference, gone with the process)
        #   file → pinned path; aws_s3 → the same store on an s3a://
        #     path (Hadoop jars gate it with their own error)
        #   redis / memcached / mongodb / aws_dynamodb → KVClientCache
        #     bridges (injectable factory via client_resource)
        #   multilevel → ordered chain of the caches above (resolved
        #     after the flat caches, second pass below)
        if isinstance(c, list):  # multilevel shorthand: a name array
            c = {"type": "multilevel", "levels": c}
        ctype = str(c.get("type", "file" if c.get("path") else "memory"))
        if ctype in ("memory", "ristretto"):
            import tempfile
            path = tempfile.mkdtemp(prefix=f"bs_cache_{name}_")
            caches[name] = CacheStore(spark, path,
                                      key=c.get("key", "key"),
                                      ttl_seconds=c.get("ttl"))
        elif ctype == "file":
            caches[name] = CacheStore(spark, c["path"],
                                      key=c.get("key", "key"),
                                      ttl_seconds=c.get("ttl"))
        elif ctype == "aws_s3":
            caches[name] = CacheStore(
                spark, f"s3a://{c['bucket']}/{c.get('path', '')}".rstrip("/"),
                key=c.get("key", "key"), ttl_seconds=c.get("ttl"))
        elif ctype in ("redis", "memcached", "mongodb", "aws_dynamodb"):
            if c.get("client_resource"):
                factory = resource(str(c["client_resource"]))
            elif ctype == "redis":
                from benthos_spark.operators.cache_store import \
                    redis_cache_factory
                factory = redis_cache_factory(str(c.get("url", "")),
                                              str(c.get("prefix", "")))
            elif ctype == "memcached":
                from benthos_spark.operators.cache_store import \
                    memcached_cache_factory
                factory = memcached_cache_factory(
                    c.get("addresses") or ["localhost:11211"],
                    str(c.get("prefix", "")))
            elif ctype == "mongodb":
                from benthos_spark.operators.cache_store import \
                    mongodb_cache_factory
                factory = mongodb_cache_factory(
                    str(c.get("url", "")), str(c.get("database", "")),
                    str(c.get("collection", "")))
            else:
                from benthos_spark.operators.cache_store import \
                    dynamodb_cache_factory
                factory = dynamodb_cache_factory(
                    str(c.get("table", "")), c.get("region"))
            caches[name] = KVClientCache(factory, key=c.get("key", "key"))
        elif ctype == "multilevel":
            multilevels[name] = [str(x) for x in (c.get("levels")
                                                  or c.get("caches") or [])]
        else:
            raise ConfigError(
                f"cache type {ctype!r}: memory|ristretto|file|aws_s3|"
                "redis|memcached|mongodb|aws_dynamodb|multilevel")
    for name, level_names in multilevels.items():
        missing = [x for x in level_names if x not in caches]
        if missing or not level_names:
            raise ConfigError(
                f"multilevel cache {name!r}: every level must name a "
                f"flat cache in resources.caches (missing: {missing})")
        caches[name] = MultilevelCache([caches[x] for x in level_names])
    ctx = {"spark": spark, "caches": caches,
           # named v3 conditions (resources.conditions, lib/condition/
           # resource.go) — referenced by {resource: name} condition specs
           "condition_resources": dict(res.get("conditions") or {}),
           # named rate limits (resources.rate_limits, lib/ratelimit/):
           # {name: {local: {count, interval}}} or flat {count, interval}
           "rate_limits": {
               name: (spec.get("local", spec) if isinstance(spec, dict)
                      else {})
               for name, spec in (res.get("rate_limits") or {}).items()},
           # named outputs/inputs (resources.outputs / resources.inputs,
           # lib/output/resource.go, lib/input/resource.go)
           "output_resources": dict(res.get("outputs") or {}),
           "input_resources": dict(res.get("inputs") or {})}
    for name, procs in (res.get("processors") or {}).items():
        register_resource(
            name, lambda d, procs=procs: _apply_pipeline(d, procs, ctx))
    return ctx


def _apply_pipeline(df: DataFrame, procs: list, ctx: dict) -> DataFrame:
    for p in procs:
        df = _apply_processor(df, p, ctx)
    return df


def build_stream(spark: SparkSession, config: dict | str) -> DataFrame:
    """Build the config's logical plan WITHOUT executing the sink —
    the `benthos echo`/lint analogue is `df.explain()` on this."""
    df, ctx = _build_stream_ctx(spark, config)
    if (srv := ctx.get("http_sync_server")) is not None:
        srv.stop()  # build-only callers never publish replies
    return df


def _build_stream_ctx(spark: SparkSession,
                      config: dict | str) -> tuple[DataFrame, dict]:
    conf = load_config(config) if isinstance(config, str) else config
    if "input" not in conf:
        raise ConfigError("config needs an `input` section")
    # `templates:` registers template files/inline docs before any
    # section compiles (-t flag / InitTemplates in the reference)
    from benthos_spark.template import register_template
    for t in conf.get("templates") or []:
        register_template(t)
    ctx = _build_resources(spark, conf)
    if (tconf := conf.get("tracer")) is not None:
        # tracer section (lib/tracer/): json_file exports OTLP-shaped
        # span lines; the jaeger agent protocol is out of reach
        # in-container, so that kind fails with the migration
        from benthos_spark.metrics import SpanTracer
        tkind, tspec = _section_component(tconf, "tracer")
        tspec = tspec or {}
        if tkind == "none" or tkind is None:
            pass  # lib/tracer/none.go — explicit no-op tracer
        elif tkind == "jaeger":
            # agent protocol = compact-thrift emitBatch over UDP 6831;
            # hand-rolled encoder, no thrift client dependency
            from benthos_spark.jaeger_udp import JaegerUdpExporter
            from benthos_spark.operators.control import resource
            transport = None
            if tspec.get("transport_resource"):
                transport = resource(tspec["transport_resource"])
            agent = tspec.get("agent_address", "127.0.0.1:6831")
            host, _, port = agent.rpartition(":")
            exporter = JaegerUdpExporter(
                tspec.get("service_name", "benthos_spark"),
                host=host or "127.0.0.1", port=int(port),
                transport=transport)
            ctx["tracer"] = SpanTracer(path=tspec.get("path"),
                                       exporter=exporter)
        elif tkind == "json_file":
            ctx["tracer"] = SpanTracer(path=tspec.get("path"))
        else:
            raise ConfigError(f"tracer type not recognised: {tkind!r}")
    if (mconf := conf.get("metrics")) is not None:
        # metrics section (lib/metrics/constructor.go): sink type +
        # whitelist/blacklist/rename wrappers; one publish() flush at
        # stream completion (streams mode serves /metrics continuously)
        from benthos_spark.metrics import MetricsExporter
        mkind, mspec = _section_component(mconf, "metrics")
        mspec = mspec or {}
        if mkind is not None:
            factory = None
            if mspec.get("client_resource"):
                from benthos_spark.operators.control import resource
                factory = resource(str(mspec["client_resource"]))
            try:
                ctx["metrics_exporter"] = MetricsExporter(
                    str(mkind), mspec, client_factory=factory)
            except ValueError as exc:
                raise ConfigError(str(exc)) from None
            if mkind not in ("none", "stdout", "statsd", "influxdb",
                             "prometheus", "aws_cloudwatch",
                             "http_server", "whitelist", "blacklist",
                             "rename"):
                raise ConfigError(
                    f"metrics type not recognised: {mkind!r}")
    tracer = ctx.get("tracer")
    df = _build_input(spark, conf["input"], ctx)
    if (batching := conf["input"].get("batching") if
            isinstance(conf["input"], dict) else None):
        # input batching policy (lib/input/batcher.go): count-based
        # assigns batch_id/part_index over a pinned order — sharded by
        # default (no single-partition window; global_order opts out)
        from benthos_spark.operators import split_batches
        df = split_batches(df, int(batching["count"]),
                           [F.col(c) for c in batching["order_by"]],
                           n_shards=int(batching.get("n_shards", 32)),
                           global_order=bool(batching.get("global_order",
                                                          False)))
    if (buf := conf.get("buffer")) is not None:
        # the buffer layer decouples producer/consumer in the reference
        # (lib/buffer/); Spark owns flow control, so only `none` is
        # meaningful — anything else would silently change delivery
        # guarantees, so reject it loudly (SURVEY 'not ported')
        # `memory` (lib/buffer/memory.go) only smooths producer/
        # consumer backpressure — a no-op under Spark's scheduler, so
        # accept it for config portability.  Anything else (disk-
        # backed v4 buffers etc.) WOULD change delivery guarantees:
        # reject loudly.
        bkind = (_section_component(buf, "buffer")[0]
                 if buf else None)
        if bkind not in (None, "none", "memory"):
            raise ConfigError(
                f"buffer {bkind!r}: the buffer layer is subsumed by "
                "Spark's scheduler/backpressure; `none` and `memory` "
                "are accepted as no-ops")
    for proc in (conf.get("pipeline") or {}).get("processors", []):
        if tracer is not None:
            pname = (next(iter(proc)) if isinstance(proc, dict)
                     else str(proc))
            with tracer.span(f"processor:{pname}"):
                df = _apply_processor(df, proc, ctx)
        else:
            df = _apply_processor(df, proc, ctx)
    return df, ctx


def _flush_metrics(ctx: dict, out: DataFrame | None) -> None:
    """One metrics flush at stream completion: count the delivered
    frame (the run's single extra action — it also computes every
    Observation attached upstream) and publish the snapshot through
    the configured `metrics:` sink."""
    exp = ctx.get("metrics_exporter")
    if exp is None:
        return
    metrics: dict = {}
    if out is not None and not out.isStreaming:
        metrics["output_sent"] = out.count()
    for name, obs in (ctx.get("observations") or {}).items():
        try:
            metrics.update(obs.get)
        except Exception:
            pass  # plan never executed (e.g. streaming) → no value
    from benthos_spark.bloblang.compiler import INTERP_FALLBACK_COUNTS
    for reason, n in INTERP_FALLBACK_COUNTS.items():
        metrics[f"interp_fallback{{reason={reason!r}}}"] = n
    exp.publish(metrics)


def run_stream(spark: SparkSession, config: dict | str) -> DataFrame:
    """`benthos -c config.yaml` analogue: build and execute the stream;
    returns the result DataFrame (post-pipeline)."""
    conf = load_config(config) if isinstance(config, str) else config
    df, ctx = _build_stream_ctx(spark, conf)
    server = ctx.get("http_sync_server")
    tracer = ctx.get("tracer")
    if server is None:
        if tracer is None:
            out = _run_output(df, conf.get("output"), ctx)
            _flush_metrics(ctx, out)
            return out
        okind = (_section_component(conf["output"], "output")[0]
                 if conf.get("output") else "memory")
        with tracer.span(f"output:{okind}"):
            out = _run_output(df, conf.get("output"), ctx)
        tracer.flush()
        _flush_metrics(ctx, out)
        return out
    # sync_responses flow: execute the sink, then publish each held
    # request's reply by sync id and release the server.  The collect
    # is bounded by the number of held connections (the drain window's
    # requests), not the data — sync mode is a request/reply surface,
    # not a bulk path.
    try:
        out = _run_output(df, conf.get("output"), ctx)
        cap = ctx.get("sync_capture")
        if cap is not None:
            if "content" not in cap.columns or "meta" not in cap.columns:
                raise ConfigError(
                    "sync_response capture needs `content` and `meta` "
                    "columns to route replies (keep meta through the "
                    "pipeline)")
            replies = {}
            for r in cap.select("content", "meta").collect():
                sid = (r["meta"] or {}).get("http_server_sync_id")
                if sid is not None:
                    replies[int(sid)] = r["content"]
            server.respond(replies)
        _flush_metrics(ctx, out)
        return out
    finally:
        server.stop()
        if tracer is not None:
            # sync path must flush spans too, or a tracer configured
            # alongside http_server sync_response silently drops them
            tracer.flush()
