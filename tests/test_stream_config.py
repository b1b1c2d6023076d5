"""YAML config front-end tests (reference: benthos -c config.yaml path,
lib/stream/type.go wiring; declarative YAML test style of
lib/service/test)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from benthos_spark.operators.codec import _CODECS
from benthos_spark.stream import (ConfigError, build_stream,
                                  compile_condition, run_stream)


def test_generate_bloblang_pipeline(spark):
    out = run_stream(spark, """
input:
  generate:
    count: 10
    mapping: |
      root.id = this.id
      root.sq = this.id * this.id
pipeline:
  processors:
    - filter: this.sq >= 9
    - bloblang: |
        root = this
        root.label = "n_" + this.id.string()
output:
  memory: {}
""")
    got = {r.id: (r.sq, r.label) for r in out.collect()}
    assert got == {i: (i * i, f"n_{i}") for i in range(3, 10)}


def test_file_input_and_switch(spark, sf_dir):
    out = run_stream(spark, f"""
input:
  file:
    paths: ["{sf_dir}/orders.parquet"]
pipeline:
  processors:
    - switch:
        - check: this.o_totalprice > 200000
          processors:
            - bloblang: |
                root.o_orderkey = this.o_orderkey
                root.lane = "big"
        - processors:
            - bloblang: |
                root.o_orderkey = this.o_orderkey
                root.lane = "small"
output:
  memory: {{}}
""")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_big = orders.filter("o_totalprice > 200000").count()
    got = out.groupBy("lane").count().collect()
    lanes = {r.lane: r["count"] for r in got}
    assert lanes.get("big", 0) == n_big
    assert lanes["big"] + lanes["small"] == orders.count()


def test_dedupe_and_bounds_check(spark):
    out = run_stream(spark, """
input:
  generate:
    count: 20
    mapping: |
      root.k = this.id % 5
      root.v = this.id
pipeline:
  processors:
    - dedupe: {key: [k], order_by: [v]}
    - bounds_check: {field: this.v, min: 1, max: 3}
output:
  memory: {}
""")
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [(1, 1), (2, 2), (3, 3)]  # first-wins then bounds


def test_broker_union_and_file_output(spark):
    tmp = tempfile.mkdtemp(prefix="bs_out")
    try:
        run_stream(spark, f"""
input:
  broker:
    inputs:
      - generate: {{count: 3, mapping: "root.id = this.id"}}
      - generate: {{count: 2, mapping: "root.id = this.id + 100"}}
output:
  file: {{path: "{tmp}/out", format: parquet}}
""")
        back = spark.read.parquet(f"{tmp}/out")
        assert sorted(r.id for r in back.collect()) == [0, 1, 2, 100, 101]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_build_stream_is_lazy(spark):
    df = build_stream(spark, """
input:
  generate: {count: 5, mapping: "root.id = this.id"}
pipeline:
  processors:
    - filter: this.id > 2
""")
    # no sink ran; plan present and filter visible in it
    assert "Filter" in df._jdf.queryExecution().optimizedPlan().toString()


def test_compile_condition():
    c = compile_condition("this.a > 1 && this.b == \"x\"")
    assert "a" in str(c) and "x" in str(c)


def test_streaming_config_end_to_end(spark):
    """input.file.stream → window processor → memory sink: the config
    front-end driving the real incremental engine."""
    src = tempfile.mkdtemp(prefix="bs_cfg_stream")
    try:
        rows = [("a", "2024-01-01 00:01:00", 1.0),
                ("a", "2024-01-01 00:02:00", 2.0),
                ("b", "2024-01-01 00:06:00", 5.0)]
        df = spark.createDataFrame(rows, "k STRING, ts STRING, v DOUBLE") \
            .withColumn("ts", F.to_timestamp("ts"))
        df.write.mode("overwrite").parquet(src)
        out = run_stream(spark, f"""
input:
  file:
    paths: ["{src}"]
    stream: true
    schema: "k STRING, ts TIMESTAMP, v DOUBLE"
pipeline:
  processors:
    - window:
        ts: ts
        duration: 5 minutes
        keys: [k]
        aggs: {{n: count, total: "sum:v"}}
        watermark: 10 minutes
output:
  memory: {{name: cfg_stream_out, output_mode: complete}}
""")
        got = {(r.k, str(r.window.start)): (r.n, r.total)
               for r in out.collect()}
        assert got[("a", "2024-01-01 00:00:00")] == (2, 3.0)
        assert got[("b", "2024-01-01 00:05:00")] == (1, 5.0)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_window_processor_batch_mode(spark):
    out = run_stream(spark, """
input:
  generate: {count: 100, mapping: "root.id = this.id\\nroot.g = this.id % 2"}
pipeline:
  processors:
    - bloblang: |
        root = this
        root.ts = "2024-01-01 00:00:00".parse_timestamp("2006-01-02 15:04:05")
    - window: {ts: ts, duration: 1 hour, keys: [g], aggs: {n: count, mx: "max:id"}}
""")
    got = {r.g: (r.n, r.mx) for r in out.collect()}
    assert got == {0: (50, 98), 1: (50, 99)}


def test_unknown_components_error(spark):
    with pytest.raises(ConfigError, match="unknown input type 'kafkaz'"):
        build_stream(spark, "input:\n  kafkaz: {}\n")
    with pytest.raises(ConfigError, match="unknown processor type"):
        run_stream(spark, """
input: {generate: {count: 1, mapping: "root.id = this.id"}}
pipeline:
  processors:
    - frobnicate: {}
""")
    with pytest.raises(ConfigError, match="needs an `input`"):
        build_stream(spark, "pipeline: {}\n")


def test_for_each_and_process_batch_alias(spark):
    # for_each (lib/processor/for_each.go:19) and its deprecated alias
    # process_batch (for_each.go:37) run children sequentially.
    for kind in ("for_each", "process_batch"):
        out = run_stream(spark, f"""
input:
  generate:
    count: 4
    mapping: root.id = this.id
pipeline:
  processors:
    - {kind}:
        - bloblang: root.id = this.id + 1
        - filter: this.id >= 2
output:
  memory: {{}}
""")
        assert sorted(r.id for r in out.collect()) == [2, 3, 4]


# ---------------------------------------------------------------- v2 surface

def test_branch_processor_yaml(spark):
    out = run_stream(spark, """
input:
  generate:
    count: 5
    mapping: |
      root.id = this.id
      root.name = "item_" + this.id.string()
pipeline:
  processors:
    - branch:
        request_map: root.up = this.name.uppercase()
        processors:
          - bloblang: |
              root = this
              root.up = this.up + "!"
        result_map: root.shout = this.up
output:
  memory: {}
""")
    got = {r.id: (r.name, r.shout) for r in out.collect()}
    assert got == {i: (f"item_{i}", f"ITEM_{i}!") for i in range(5)}


def test_workflow_processor_yaml(spark):
    out = run_stream(spark, """
input:
  generate: {count: 3, mapping: "root.id = this.id"}
pipeline:
  processors:
    - workflow:
        branches:
          double:
            request_map: root.d = this.id * 2
            result_map: root.d = this.d
          label:
            dependencies: [double]
            request_map: root.l = "v" + this.d.string()
            result_map: root.lab = this.l
output:
  memory: {}
""")
    got = {r.id: (r.d, r.lab) for r in out.collect()}
    assert got == {i: (2 * i, f"v{2 * i}") for i in range(3)}


def test_workflow_cycle_errors(spark):
    with pytest.raises(ValueError, match="circular"):
        run_stream(spark, """
input: {generate: {count: 1, mapping: "root.id = this.id"}}
pipeline:
  processors:
    - workflow:
        branches:
          a: {dependencies: [b], result_map: root.x = this.id}
          b: {dependencies: [a], result_map: root.y = this.id}
""")


def test_cache_processor_yaml(spark, tmp_path):
    cache_dir = str(tmp_path / "cache")
    conf = f"""
resources:
  caches:
    dims: {{path: "{cache_dir}", key: k}}
input:
  generate:
    count: 4
    mapping: |
      root.k = this.id % 2
      root.val = "name_" + (this.id % 2).string()
pipeline:
  processors:
    - cache: {{resource: dims, operator: set, key: this.k, value: this.val}}
output:
  memory: {{}}
"""
    run_stream(spark, conf)
    out = run_stream(spark, f"""
resources:
  caches:
    dims: {{path: "{cache_dir}", key: k}}
input:
  generate: {{count: 4, mapping: "root.id = this.id"}}
pipeline:
  processors:
    - cache: {{resource: dims, operator: get, key: this.id % 2}}
output:
  memory: {{}}
""")
    got = {r.id: r.value for r in out.collect()}
    assert got == {i: f"name_{i % 2}" for i in range(4)}


def test_cache_unknown_resource_errors(spark):
    with pytest.raises(ConfigError, match="cache resource"):
        run_stream(spark, """
input: {generate: {count: 1, mapping: "root.id = this.id"}}
pipeline:
  processors:
    - cache: {resource: nope, operator: get, key: this.id}
""")


def test_grok_parse_log_yaml(spark):
    out = run_stream(spark, """
input:
  generate:
    count: 2
    mapping: |
      root.content = "GET /p/" + this.id.string() + " 200"
pipeline:
  processors:
    - grok: {source: content, expression: "%{WORD:verb} %{URIPATHPARAM:path} %{NUMBER:status}"}
output:
  memory: {}
""")
    # content doctrine (grok.go ProcessMessage): captures REPLACE the
    # payload as a JSON document
    docs = [json.loads(r.content) for r in out.collect()]
    rows = {d["path"]: (d["verb"], d["status"]) for d in docs}
    assert rows == {"/p/0": ("GET", "200"), "/p/1": ("GET", "200")}

    out = run_stream(spark, """
input:
  generate:
    count: 1
    mapping: |
      root.content = "<34>1 2024-01-01T00:00:00Z host app 123 ID7 - hello world"
pipeline:
  processors:
    - parse_log: {format: syslog_rfc5424, source: content}
output:
  memory: {}
""")
    log = json.loads(out.collect()[0].content)
    assert (log["priority"], log["hostname"], log["message"]) == (
        34, "host", "hello world")


def test_jsonschema_yaml(spark):
    out = run_stream(spark, """
input:
  generate:
    count: 4
    mapping: |
      root.content = "{\\"v\\": " + this.id.string() + "}"
pipeline:
  processors:
    - jsonschema:
        source: content
        schema: '{"type": "object", "properties": {"v": {"maximum": 2}}}'
output:
  memory: {}
""")
    errs = {i: r["_error"] for i, r in enumerate(
        sorted(out.collect(), key=lambda r: r.content))}
    assert errs[0] is None and errs[2] is None
    assert errs[3] is not None  # v=3 over maximum


@pytest.mark.parametrize("alg", sorted(_CODECS))
def test_compress_roundtrip_yaml(spark, alg):
    out = run_stream(spark, f"""
input:
  generate:
    count: 3
    mapping: |
      root.id = this.id
      root.content = "payload-" + this.id.string()
pipeline:
  processors:
    - compress: {{algorithm: {alg}, source: content, target: packed}}
    - decompress: {{algorithm: {alg}, source: packed, target: unpacked}}
output:
  memory: {{}}
""")
    rows = out.collect()
    assert len(rows) == 3
    for r in rows:
        assert r.unpacked == r.content


def test_flate_roundtrip_yaml_is_raw_deflate(spark):
    """`flate` (reference compress.go) is raw DEFLATE: it roundtrips
    through the YAML processors, and `decompress` reads a zlib stream
    stripped of its 2-byte header and 4-byte Adler-32 trailer."""
    import zlib

    from benthos_spark.operators.codec import decompress

    out = run_stream(spark, """
input:
  generate:
    count: 3
    mapping: |
      root.id = this.id
      root.content = "payload-" + this.id.string()
pipeline:
  processors:
    - compress: {algorithm: flate, source: content, target: packed}
    - decompress: {algorithm: flate, source: packed, target: unpacked}
output:
  memory: {}
""")
    rows = out.collect()
    assert len(rows) == 3
    for r in rows:
        assert r.unpacked == r.content
    p = b"flate payload " * 8
    raw = spark.createDataFrame([(zlib.compress(p)[2:-4],)], "b binary")
    assert raw.select(decompress(F.col("b"), "flate")).first()[0] == p


def test_group_by_check_form_yaml(spark):
    out = run_stream(spark, """
input:
  generate: {count: 6, mapping: "root.id = this.id"}
pipeline:
  processors:
    - group_by:
        - check: this.id % 3 == 0
          processors:
            - bloblang: |
                root = this
                root.g = "fizz"
        - check: this.id % 3 == 1
          processors:
            - bloblang: |
                root = this
                root.g = "one"
output:
  memory: {}
""")
    got = {r.id: r.asDict().get("g") for r in out.collect()}
    assert got == {0: "fizz", 3: "fizz", 1: "one", 4: "one",
                   2: None, 5: None}  # unmatched = own untouched group


def test_while_processor_yaml(spark):
    out = run_stream(spark, """
input:
  generate: {count: 3, mapping: "root.n = this.id"}
pipeline:
  processors:
    - while:
        check: this.n < 10
        processors:
          - bloblang: root.n = this.n * 2 + 1
output:
  memory: {}
""")
    # body hits ALL rows each round, looping while ANY row is < 10:
    # [0,1,2] → [1,3,5] → [3,7,11] → [7,15,23] → [15,31,47]
    assert sorted(r.n for r in out.collect()) == [15, 31, 47]


def test_insert_part_yaml(spark):
    out = run_stream(spark, """
input:
  generate: {count: 2, mapping: "root.id = this.id"}
pipeline:
  processors:
    - insert_part: {part: {id: 99}}
output:
  memory: {}
""")
    assert sorted(r.id for r in out.collect()) == [0, 1, 99]


def test_switch_and_broker_outputs_yaml(spark, tmp_path):
    big, small = str(tmp_path / "big"), str(tmp_path / "small")
    run_stream(spark, f"""
input:
  generate: {{count: 10, mapping: "root.id = this.id"}}
output:
  switch:
    cases:
      - check: this.id >= 5
        output: {{file: {{path: "{big}", format: parquet}}}}
      - output: {{file: {{path: "{small}", format: parquet}}}}
""")
    assert spark.read.parquet(big).count() == 5
    assert spark.read.parquet(small).count() == 5

    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    run_stream(spark, f"""
input:
  generate: {{count: 7, mapping: "root.id = this.id"}}
output:
  broker:
    pattern: fan_out
    outputs:
      - file: {{path: "{d1}", format: parquet}}
      - file: {{path: "{d2}", format: parquet}}
""")
    assert spark.read.parquet(d1).count() == 7
    assert spark.read.parquet(d2).count() == 7


def test_dlq_output_yaml(spark, tmp_path):
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    run_stream(spark, f"""
input:
  generate:
    count: 6
    mapping: |
      root.id = this.id
      root.content = if this.id % 3 == 0 {{ "oops" }} else {{ "{{\\"v\\":1}}" }}
pipeline:
  processors:
    - jsonschema:
        source: content
        schema: '{{"type": "object"}}'
output:
  dlq:
    output: {{file: {{path: "{good}", format: parquet}}}}
    dlq: {{file: {{path: "{bad}", format: parquet}}}}
""")
    assert spark.read.parquet(good).count() == 4
    assert spark.read.parquet(bad).count() == 2


def test_processor_resource_yaml(spark):
    out = run_stream(spark, """
resources:
  processors:
    bump: [{bloblang: "root.id = this.id + 100"}]
input:
  generate: {count: 3, mapping: "root.id = this.id"}
pipeline:
  processors:
    - resource: bump
output:
  memory: {}
""")
    assert sorted(r.id for r in out.collect()) == [100, 101, 102]


def test_awk_processor_runs(spark):
    # awk is a real processor as of r3 (operators/awk_proc.py); a bad
    # program still fails at config time with the component name
    out = run_stream(spark, """
input: {generate: {count: 1, mapping: 'root.content = "a b"'}}
pipeline:
  processors:
    - awk: {codec: text, program: "{print $2}"}
""").collect()
    assert out[0]["content"] == "b"
    with pytest.raises(ConfigError, match="awk"):
        run_stream(spark, """
input: {generate: {count: 1}}
pipeline:
  processors:
    - awk: {program: "{ oops ("}
""")


def test_stdin_input_yaml(spark, monkeypatch):
    import io
    monkeypatch.setattr("sys.stdin", io.StringIO("alpha\nbeta\n"))
    out = run_stream(spark, """
input: {stdin: {}}
pipeline:
  processors:
    - bloblang: root = content().uppercase()
output:
  memory: {}
""")
    assert sorted(r.content for r in out.collect()) == ["ALPHA", "BETA"]


def test_socket_input_streaming(spark):
    """socket input → streaming memory sink (dev-mode parity with
    lib/input/socket.go): a thread serves two lines, the stream reads
    them incrementally."""
    import socket
    import threading
    import time

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        conn.sendall(b"one\ntwo\n")
        time.sleep(3)
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    df = build_stream(spark, f"""
input: {{socket: {{host: 127.0.0.1, port: {port}}}}}
""")
    assert df.isStreaming and df.columns == ["content"]
    q = (df.writeStream.format("memory").queryName("sock_test")
         .outputMode("append").start())
    try:
        got = set()
        for _ in range(60):
            got = {r.content for r in
                   spark.sql("SELECT * FROM sock_test").collect()}
            if got == {"one", "two"}:
                break
            time.sleep(0.5)
        assert got == {"one", "two"}
    finally:
        q.stop()
        srv.close()


def test_sequence_sharded_join_yaml(spark):
    """input.sequence + sharded_join (lib/input/sequence.go:142-188):
    id-keyed deep merge across inputs, array collision strategy,
    non-object and id-less docs dropped."""
    import json
    from benthos_spark.stream import build_stream
    out = build_stream(spark, """
input:
  sequence:
    sharded_join:
      type: full-outter
      id_path: uuid
      iterations: 10
      merge_strategy: array
    inputs:
      - generate:
          count: 3
          mapping: |
            root.uuid = "u" + this.id.string()
            root.name = "person" + this.id.string()
      - generate:
          count: 6
          mapping: |
            root.uuid = "u" + (this.id % 3).string()
            root.hobby = "h" + this.id.string()
output:
  memory: {}
""")
    docs = {json.loads(r.content)["uuid"]: json.loads(r.content)
            for r in out.collect()}
    assert set(docs) == {"u0", "u1", "u2"}
    for uid, d in docs.items():
        i = int(uid[1:])
        assert d["name"] == f"person{i}"
        # two colliding hobby docs -> array strategy folds them
        assert sorted(d["hobby"]) == [f"h{i}", f"h{i + 3}"]


def test_sequence_sharded_join_outter_and_strategies(spark):
    """`outter` flushes only ids seen in the LAST input; replace/keep
    pick the newest/oldest colliding leaf."""
    import json
    from benthos_spark.operators.joins import sharded_join_merge
    docs = spark.createDataFrame(
        [("a", '{"id":"a","v":1}', 0, 0),
         ("b", '{"id":"b","v":2}', 0, 0),
         ("a", '{"id":"a","v":9}', 1, 0),
         ("a", "not json", 1, 1),
         ("b", "[1,2]", 1, 1)],
        "k string, content string, src int, sub int")
    def run(strategy, require=None):
        rows = sharded_join_merge(
            docs, "k", "content", ["src", "sub"], strategy=strategy,
            id_path="id", require_order=require).collect()
        return {r.k: json.loads(r.doc) for r in rows}
    assert run("replace")["a"]["v"] == 9
    assert run("keep")["a"]["v"] == 1
    assert run("array")["a"]["v"] == [1, 9]
    assert run("array")["b"]["v"] == 2      # non-object docs dropped
    # b's only src-1 doc is non-object → dropped before it can mark
    # last-input presence, so outter flushes a alone (sequence.go:311)
    assert set(run("array", require=1)) == {"a"}
    only_src0 = sharded_join_merge(
        docs.filter("src = 0"), "k", "content", ["src", "sub"],
        strategy="array", id_path="id", require_order=1)
    assert only_src0.count() == 0


def test_http_server_input_live_client(spark, tmp_path):
    """input.http_server (lib/input/http_server.go:41): a live client
    thread POSTs parts while the pipeline drains; bodies + request
    metadata arrive as rows."""
    import threading
    import time
    import urllib.request
    from benthos_spark.stream import run_stream

    port_file = tmp_path / "port.txt"

    def client():
        for _ in range(100):  # wait for the bound port to publish
            if port_file.exists() and port_file.read_text():
                break
            time.sleep(0.02)
        addr = port_file.read_text()
        for i in range(3):
            req = urllib.request.Request(
                f"http://{addr}/post", data=f'{{"n":{i}}}'.encode(),
                headers={"Content-Type": "application/json"})
            assert urllib.request.urlopen(req, timeout=5).status == 200
        # wrong path → 404, not buffered
        req = urllib.request.Request(f"http://{addr}/other", data=b"x")
        try:
            urllib.request.urlopen(req, timeout=5)
        except urllib.error.HTTPError as e:
            assert e.code == 404

    t = threading.Thread(target=client, daemon=True)
    t.start()
    out = run_stream(spark, f"""
input:
  http_server:
    address: "127.0.0.1:0"
    path: /post
    port_file: "{port_file}"
    drain_ms: 2500
pipeline:
  processors:
    - bloblang: |
        root = this
        root.n2 = this.n * 2
output:
  memory: {{}}
""")
    t.join(timeout=10)
    rows = out.collect()
    import json as _json
    assert sorted(_json.loads(r.content)["n2"] for r in rows) == [0, 2, 4]
    assert all(r.meta["http_content_type"] == "application/json"
               for r in rows)
    assert all(r.meta["http_server_request_path"] == "/post" for r in rows)


def test_kafka_metadata_mapping_no_broker(spark):
    """map_kafka_frame: the source-schema → datamodel mapping carries
    the reference's metadata fields (lib/input/kafka.go:60) without
    needing a broker."""
    from benthos_spark.sources.files import map_kafka_frame
    raw = spark.createDataFrame(
        [(b"k1", b'{"a":1}', "t", 0, 42, "2024-01-01 00:00:05", 0)],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp string, timestampType int") \
        .withColumn("timestamp", F.to_timestamp("timestamp"))
    row = map_kafka_frame(raw).collect()[0]
    assert row.content == '{"a":1}'
    assert row.meta["kafka_topic"] == "t"
    assert row.meta["kafka_partition"] == "0"
    assert row.meta["kafka_offset"] == "42"
    assert row.meta["kafka_key"] == "k1"
    assert row.meta["kafka_timestamp_unix"] == str(
        int(__import__("datetime").datetime(
            2024, 1, 1, 0, 0, 5).timestamp()))
    assert row._error is None


def test_kafka_yaml_wiring_no_broker(spark, monkeypatch):
    """YAML input.kafka/output.kafka reach the wrappers with the right
    normalized options (addresses list → CSV, topics list → CSV);
    the broker-side format call is stubbed out."""
    import benthos_spark.sources.files as files_mod
    import benthos_spark.sinks.writers as writers_mod
    from benthos_spark.stream import run_stream

    seen = {}

    def fake_read_kafka(spark_, brokers, topics, starting_offsets="earliest",
                        streaming=True):
        seen["in"] = (brokers, topics, starting_offsets, streaming)
        return spark_.createDataFrame(
            [(0, 0, '{"v":7}', {"kafka_topic": "t1"}, None)],
            "batch_id long, part_index int, content string, "
            "meta map<string,string>, _error string")

    def fake_write_kafka(df, brokers, topic, key=None, value_cols=None):
        from benthos_spark.sinks.writers import _to_kafka_frame
        seen["out"] = (brokers, topic, key,
                       _to_kafka_frame(df, key, value_cols).columns)

    monkeypatch.setattr(files_mod, "read_kafka", fake_read_kafka)
    monkeypatch.setattr(writers_mod, "write_kafka", fake_write_kafka)
    out = run_stream(spark, """
input:
  kafka:
    addresses: ["b1:9092", "b2:9092"]
    topics: [orders, refunds]
    starting_offsets: latest
    stream: false
pipeline:
  processors:
    - bloblang: 'root = this'
output:
  kafka:
    addresses: ["b1:9092"]
    topic: enriched
    key: content
""")
    assert seen["in"] == ("b1:9092,b2:9092", "orders,refunds",
                          "latest", False)
    brokers, topic, key, cols = seen["out"]
    assert (brokers, topic, key) == ("b1:9092", "enriched", "content")
    assert cols == ["key", "value"]
    assert out.count() == 1


def test_sleep_processor(spark):
    """sleep (lib/processor/sleep.go): rows pass through unchanged;
    the batch sleeps duration x rows executor-side."""
    import time
    from benthos_spark.operators.control import parse_go_duration
    assert parse_go_duration("1.5s") == 1.5
    assert parse_go_duration("100ms") == 0.1
    assert parse_go_duration("1m30s") == 90.0
    assert parse_go_duration("-2s") == -2.0
    import pytest
    with pytest.raises(ValueError):
        parse_go_duration("fast")
    t0 = time.time()
    out = run_stream(spark, """
input:
  generate: {count: 8, mapping: "root.id = this.id"}
pipeline:
  processors:
    - sleep: {duration: 20ms}
output:
  memory: {}
""")
    rows = sorted(r.id for r in out.collect())
    assert rows == list(range(8))
    # 8 rows x 20ms spread over parallel partitions: some delay, far
    # less than serial 160ms x safety margin — just assert it ran
    assert time.time() - t0 < 60


def test_http_client_input_and_output(spark):
    """input.http_client polls a live local server (codec lines);
    output.http_client POSTs every row back — delivery counted
    server-side, exactly once despite downstream collects."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    served = b"alpha\nbeta\ngamma"
    posts = []

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", str(len(served)))
            self.end_headers()
            self.wfile.write(served)

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            posts.append(self.rfile.read(n).decode())
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"ok")

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address[:2]
    try:
        out = run_stream(spark, f"""
input:
  http_client:
    url: "http://{host}:{port}/data"
    codec: lines
    count: 2
pipeline:
  processors:
    - bloblang: meta up = content().uppercase()
output:
  http_client:
    url: "http://{host}:{port}/sink"
    verb: POST
""")
        rows = out.collect()
        rows2 = out.collect()  # re-collect must NOT re-POST
        assert len(rows) == len(rows2) == 6  # 3 lines x 2 polls
        assert sorted({r.meta["up"] for r in rows}) == \
            ["ALPHA", "BETA", "GAMMA"]
        assert all(r._error is None for r in rows)
        # a content column present → the raw payload is what ships
        assert sorted(posts) == sorted(["alpha", "beta", "gamma"] * 2)
        assert json  # (kept for the structured-payload variant below)
        # structured rows (no content column) serialize to JSON bodies
        posts.clear()
        run_stream(spark, f"""
input:
  generate: {{count: 2, mapping: "root.n = this.id"}}
output:
  http_client: {{url: "http://{host}:{port}/sink"}}
""")
        assert sorted(json.loads(p)["n"] for p in posts) == [0, 1]
    finally:
        srv.shutdown()
        srv.server_close()


def test_subprocess_input(spark):
    out = run_stream(spark, """
input:
  subprocess:
    name: printf
    args: ["l1\\nl2\\nl3"]
pipeline:
  processors:
    - filter: content() != "l2"
output:
  memory: {}
""")
    assert sorted(r.content for r in out.collect()) == ["l1", "l3"]
    assert all(r.meta["subprocess_name"] == "printf"
               for r in out.collect())


def test_http_server_sync_response(spark, tmp_path):
    """sync_responses flow (lib/processor/sync_response.go +
    lib/input/http_server.go roundtrip): POSTs hold their connections
    until the pipeline publishes per-request replies; each client gets
    its own transformed payload back with 200."""
    import threading
    import time
    import urllib.request
    from benthos_spark.stream import run_stream

    port_file = tmp_path / "port.txt"
    results: dict[str, str] = {}

    def client(word):
        for _ in range(150):
            if port_file.exists() and port_file.read_text():
                break
            time.sleep(0.02)
        addr = port_file.read_text()
        req = urllib.request.Request(
            f"http://{addr}/post", data=word.encode())
        with urllib.request.urlopen(req, timeout=30) as r:
            results[word] = (r.status, r.read().decode())

    threads = [threading.Thread(target=client, args=(w,), daemon=True)
               for w in ("hello", "world")]
    for t in threads:
        t.start()
    out = run_stream(spark, f"""
input:
  http_server:
    address: "127.0.0.1:0"
    path: /post
    port_file: "{port_file}"
    drain_ms: 2500
    sync_response: true
    sync_timeout: 30
pipeline:
  processors:
    - bloblang: root = content().uppercase()
    - sync_response: {{}}
output:
  memory: {{}}
""")
    for t in threads:
        t.join(timeout=60)
    assert results == {"hello": (200, "HELLO"),
                       "world": (200, "WORLD")}
    assert sorted(r.content for r in out.collect()) == ["HELLO", "WORLD"]


def test_socket_server_input_tcp_and_udp(spark, tmp_path):
    """input.socket_server (lib/input/socket_server.go:25): live tcp
    and udp clients send newline-delimited messages during the drain
    window."""
    import socket
    import threading
    import time
    from benthos_spark.stream import run_stream

    port_file = tmp_path / "tcp_port.txt"

    def tcp_client():
        for _ in range(150):
            if port_file.exists() and port_file.read_text():
                break
            time.sleep(0.02)
        host, _, port = port_file.read_text().rpartition(":")
        with socket.create_connection((host, int(port)), timeout=5) as s:
            s.sendall(b"alpha\nbeta\n")

    t = threading.Thread(target=tcp_client, daemon=True)
    t.start()
    out = run_stream(spark, f"""
input:
  socket_server:
    network: tcp
    address: "127.0.0.1:0"
    port_file: "{port_file}"
    drain_ms: 2000
output:
  memory: {{}}
""").collect()
    t.join(timeout=10)
    assert sorted(r.content for r in out) == ["alpha", "beta"]
    assert all(r.meta["socket_network"] == "tcp" for r in out)

    udp_port_file = tmp_path / "udp_port.txt"

    def udp_client():
        for _ in range(150):
            if udp_port_file.exists() and udp_port_file.read_text():
                break
            time.sleep(0.02)
        host, _, port = udp_port_file.read_text().rpartition(":")
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        s.sendto(b"gamma\ndelta\n", (host, int(port)))
        s.close()

    t2 = threading.Thread(target=udp_client, daemon=True)
    t2.start()
    out2 = run_stream(spark, f"""
input:
  socket_server:
    network: udp
    address: "127.0.0.1:0"
    port_file: "{udp_port_file}"
    drain_ms: 2000
output:
  memory: {{}}
""").collect()
    t2.join(timeout=10)
    assert sorted(r.content for r in out2) == ["delta", "gamma"]


def test_socket_server_bad_network(spark):
    import pytest
    from benthos_spark.stream import run_stream
    with pytest.raises(ValueError, match="unix|tcp|udp"):
        run_stream(spark, """
input:
  socket_server: {network: carrier-pigeon}
output: {memory: {}}
""")


def test_file_codec_stack(spark, tmp_path):
    """Reference input codecs (internal/codec/reader.go:206): tar, zip,
    gzip-wrapped tar, delim, chunker, all-bytes through YAML
    `input.file.codec`."""
    import gzip
    import io
    import tarfile
    import zipfile
    from benthos_spark.stream import run_stream

    # tar with two entries (+ gzipped twin)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in (("a.txt", b"alpha"), ("b.txt", b"beta")):
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    (tmp_path / "arch.tar").write_bytes(buf.getvalue())
    (tmp_path / "arch.tar.gz").write_bytes(gzip.compress(buf.getvalue()))

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as zf:
        zf.writestr("x.txt", "xray")
        zf.writestr("sub/y.txt", "yankee")
    (tmp_path / "arch.zip").write_bytes(zbuf.getvalue())

    (tmp_path / "delim.txt").write_bytes(b"one|two|three")
    (tmp_path / "chunky.bin").write_bytes(b"abcdefgh")

    def collect(path, codec):
        return run_stream(spark, f"""
input:
  file: {{path: "{path}", codec: "{codec}"}}
output: {{memory: {{}}}}
""").collect()

    tar_rows = collect(tmp_path / "arch.tar", "tar")
    assert sorted((r.meta["entry"], r.content) for r in tar_rows) == \
        [("a.txt", "alpha"), ("b.txt", "beta")]

    tgz_rows = collect(tmp_path / "arch.tar.gz", "gzip/tar")
    assert sorted(r.content for r in tgz_rows) == ["alpha", "beta"]

    zip_rows = collect(tmp_path / "arch.zip", "zip")
    assert sorted((r.meta["entry"], r.content) for r in zip_rows) == \
        [("sub/y.txt", "yankee"), ("x.txt", "xray")]

    delim_rows = collect(tmp_path / "delim.txt", "delim:|")
    assert sorted(r.content for r in delim_rows) == \
        ["one", "three", "two"]

    chunk_rows = collect(tmp_path / "chunky.bin", "chunker:3")
    assert sorted(r.content for r in chunk_rows) == ["abc", "def", "gh"]

    all_rows = collect(tmp_path / "delim.txt", "all-bytes")
    assert [r.content for r in all_rows] == ["one|two|three"]

    # csv codec (reader.go newCSVReader): header row, each record a
    # JSON object with STRING values; gzip/csv + csv-gzip aliases;
    # auto derives from the extension (reader.go:261-281)
    (tmp_path / "t.csv").write_bytes(b"name,qty\nbolt,2\ngear,11\n")
    (tmp_path / "t.csv.gz").write_bytes(
        gzip.compress(b"name,qty\nbolt,2\n"))
    csv_rows = collect(tmp_path / "t.csv", "csv")
    assert sorted(r.content for r in csv_rows) == [
        '{"name":"bolt","qty":"2"}', '{"name":"gear","qty":"11"}']
    for codec in ("gzip/csv", "csv-gzip", "auto"):
        got = sorted(r.content for r in collect(
            tmp_path / "t.csv.gz", codec))
        assert got == ['{"name":"bolt","qty":"2"}'], codec
    auto_tar = collect(tmp_path / "arch.tar.gz", "auto")
    assert sorted(r.content for r in auto_tar) == ["alpha", "beta"]
    auto_all = collect(tmp_path / "delim.txt", "auto")
    assert [r.content for r in auto_all] == ["one|two|three"]

    import pytest
    with pytest.raises(ValueError, match="unrecognised"):
        collect(tmp_path / "delim.txt", "morse")


def test_multipart_codec(spark, tmp_path):
    """`lines/multipart` (reader.go:196): an empty line ends the
    batch; groups land in batch_id/part_index so batch functions see
    the reference's multipart grouping."""
    from benthos_spark.stream import run_stream

    (tmp_path / "mp.txt").write_text("a1\na2\n\nb1\n\nc1\nc2\nc3\n")
    out = run_stream(spark, f"""
input:
  file: {{path: "{tmp_path / 'mp.txt'}", codec: "lines/multipart"}}
output: {{memory: {{}}}}
""").collect()
    groups = {}
    for r in out:
        groups.setdefault(r.batch_id, []).append((r.part_index, r.content))
    batches = sorted(tuple(c for _, c in sorted(g)) for g in groups.values())
    assert batches == [("a1", "a2"), ("b1",), ("c1", "c2", "c3")]


def test_blob_codec_csv_auto():
    """decode_blob_entries (the client-fetched-bytes codec path used by
    sftp) honors the csv codec and auto extension inference."""
    import gzip
    from benthos_spark.sources.files import decode_blob_entries

    rows = list(decode_blob_entries(
        "/r/t.csv", b"name,qty\nbolt,2\n", "csv"))
    assert [c for c, _ in rows] == ['{"name":"bolt","qty":"2"}']
    rows = list(decode_blob_entries(
        "/r/t.csv.gz", gzip.compress(b"name,qty\ngear,11\n"), "auto"))
    assert [c for c, _ in rows] == ['{"name":"gear","qty":"11"}']
    rows = list(decode_blob_entries("/r/x.bin", b"raw", "auto"))
    assert [c for c, _ in rows] == ["raw"]


def test_object_store_input_actionable_error(spark):
    """input.aws_s3 compiles onto the s3a:// Hadoop scheme; without
    the connector jar the config error names the jar and scheme."""
    import pytest
    from benthos_spark.stream import ConfigError, build_stream
    with pytest.raises(ConfigError, match="hadoop-aws"):
        build_stream(spark, """
input:
  aws_s3: {bucket: my-bucket, prefix: data/, format: parquet}
output: {memory: {}}
""")


def test_tcp_server_alias(spark, tmp_path):
    """tcp_server / udp_server are deprecated aliases of socket_server
    with the network pinned (lib/input/tcp_server.go:22)."""
    import socket
    import threading
    import time
    from benthos_spark.stream import run_stream

    port_file = tmp_path / "port.txt"

    def client():
        for _ in range(150):
            if port_file.exists() and port_file.read_text():
                break
            time.sleep(0.02)
        host, _, port = port_file.read_text().rpartition(":")
        with socket.create_connection((host, int(port)), timeout=5) as s:
            s.sendall(b"via-alias\n")

    t = threading.Thread(target=client, daemon=True)
    t.start()
    out = run_stream(spark, f"""
input:
  tcp_server:
    address: "127.0.0.1:0"
    port_file: "{port_file}"
    drain_ms: 2000
output: {{memory: {{}}}}
""").collect()
    t.join(timeout=10)
    assert [r.content for r in out] == ["via-alias"]


def test_websocket_input(spark, tmp_path):
    """input.websocket: a raw-socket RFC 6455 client (handshake +
    masked text frames + ping + close) feeds the drain window."""
    import base64
    import hashlib
    import os
    import socket
    import struct
    import threading
    import time
    from benthos_spark.stream import run_stream

    port_file = tmp_path / "ws_port.txt"
    handshake_ok = {}

    def mask_frame(opcode, payload):
        mask = os.urandom(4)
        head = bytes([0x80 | opcode])
        n = len(payload)
        if n < 126:
            head += bytes([0x80 | n])
        else:
            head += bytes([0x80 | 126]) + struct.pack(">H", n)
        return head + mask + bytes(
            b ^ mask[i % 4] for i, b in enumerate(payload))

    def client():
        for _ in range(150):
            if port_file.exists() and port_file.read_text():
                break
            time.sleep(0.02)
        host, _, port = port_file.read_text().rpartition(":")
        key = base64.b64encode(os.urandom(16)).decode()
        with socket.create_connection((host, int(port)), timeout=5) as s:
            s.sendall((f"GET /ws HTTP/1.1\r\nHost: {host}\r\n"
                       "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                       f"Sec-WebSocket-Key: {key}\r\n"
                       "Sec-WebSocket-Version: 13\r\n\r\n").encode())
            resp = s.recv(4096).decode("latin-1")
            want = base64.b64encode(hashlib.sha1(
                (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
                .encode()).digest()).decode()
            handshake_ok["accept"] = (
                "101" in resp.split("\r\n")[0] and want in resp)
            s.sendall(mask_frame(0x1, b"first message"))
            s.sendall(mask_frame(0x9, b"ping!"))  # expect a pong back
            pong = s.recv(64)
            handshake_ok["pong"] = pong[:1] == b"\x8a"
            s.sendall(mask_frame(0x1, "privet мир"
                                 .encode("utf-8")))
            s.sendall(mask_frame(0x8, b""))  # close

    t = threading.Thread(target=client, daemon=True)
    t.start()
    out = run_stream(spark, f"""
input:
  websocket:
    address: "127.0.0.1:0"
    path: /ws
    port_file: "{port_file}"
    drain_ms: 2500
output: {{memory: {{}}}}
""").collect()
    t.join(timeout=10)
    assert handshake_ok == {"accept": True, "pong": True}
    assert sorted(r.content for r in out) == \
        ["first message", "privet мир"]
    assert all(r.meta["websocket_path"] == "/ws" for r in out)


def test_websocket_output(spark):
    """output.websocket: rows publish to a live ws server as masked
    text frames through the per-partition RFC 6455 client."""
    from benthos_spark.sources.http_ingest import WebsocketIngestServer
    from benthos_spark.stream import run_stream

    server = WebsocketIngestServer(path="/sink")
    host, port = server.start()
    try:
        run_stream(spark, f"""
input:
  generate: {{count: 3, mapping: 'root.content = "ws-" + this.id.string()'}}
output:
  websocket: {{url: "ws://{host}:{port}/sink"}}
""")
        import time
        time.sleep(0.5)  # let handler threads flush the last frame
        out = server.drain(spark).collect()
    finally:
        server.stop()
    assert sorted(r.content for r in out) == ["ws-0", "ws-1", "ws-2"]


def test_buffer_memory_accepted_as_noop(spark):
    """buffer.memory (lib/buffer/memory.go) only smooths backpressure;
    Spark's scheduler subsumes it, so configs carrying it still run."""
    from benthos_spark.stream import run_stream
    out = run_stream(spark, """
input: {generate: {count: 2, mapping: 'root.content = "m" + this.id.string()'}}
buffer: {memory: {limit: 524288000}}
output: {memory: {}}
""")
    assert sorted(r.content for r in out.collect()) == ["m0", "m1"]


def test_buffer_unknown_kind_rejected(spark):
    import pytest
    from benthos_spark.stream import ConfigError, run_stream
    with pytest.raises(ConfigError, match="buffer"):
        run_stream(spark, """
input: {generate: {count: 1}}
buffer: {sqlite: {path: /tmp/x.db}}
output: {memory: {}}
""")
