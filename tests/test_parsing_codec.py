"""grok / parse_log / jmespath / jsonschema / compress tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from benthos_spark.operators.codec import compress, decompress_str
from benthos_spark.operators.parsing import (grok, grok_compile,
                                             jmespath_transform,
                                             jsonschema_validate,
                                             parse_syslog_rfc3164,
                                             parse_syslog_rfc5424)


def test_grok_compile():
    pattern, fields = grok_compile("%{WORD:user} did %{INT:n} things")
    assert fields == ["user", "n"]
    import re
    m = re.match(pattern, "ann did 42 things")
    assert m.groups() == ("ann", "42")


def test_grok_unknown_pattern():
    with pytest.raises(ValueError, match="unknown grok pattern"):
        grok_compile("%{NOPE:x}")


def test_grok_unnamed_no_capture(spark):
    df = spark.createDataFrame([("abc 12",)], "s STRING")
    out = grok(df, F.col("s"), "%{WORD} %{INT:num}").collect()[0]
    assert out.num == "12"
    assert "WORD" not in out.asDict()


def test_parse_syslog_rfc3164(spark):
    line = "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed"
    df = spark.createDataFrame([(line,)], "s STRING")
    log = parse_syslog_rfc3164(df, F.col("s")).collect()[0].log
    assert log.priority == 34
    assert log.timestamp == "Oct 11 22:14:15"
    assert log.hostname == "mymachine"
    assert log.appname == "su"
    assert log.procid == 230
    assert log.message == "'su root' failed"


def test_parse_syslog_rfc5424(spark):
    line = ('<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog '
            '1024 ID47 [exampleSDID@32473 iut="3"] An application event')
    df = spark.createDataFrame([(line,)], "s STRING")
    log = parse_syslog_rfc5424(df, F.col("s")).collect()[0].log
    assert log.priority == 165 and log.version == 1
    assert log.hostname == "mymachine.example.com"
    assert log.appname == "evntslog"
    assert log.msgid == "ID47"
    assert log.structured_data.startswith("[exampleSDID")
    assert log.message == "An application event"


def test_jmespath(spark):
    df = spark.createDataFrame(
        [('{"a": {"b": [1, 2, 3]}}',), ("not json",), (None,)], "p STRING")
    out = jmespath_transform(df, F.col("p"), "a.b[1]")
    got = [r.result for r in out.collect()]
    assert got == ["2", None, None]


def test_jsonschema_validate_sets_error(spark):
    schema = {"type": "object", "properties": {"n": {"type": "integer"}},
              "required": ["n"]}
    df = spark.createDataFrame(
        [('{"n": 1}',), ('{"x": 2}',), ("nope",)], "p STRING")
    out = jsonschema_validate(df, F.col("p"), schema)
    got = [(r.p, r._error is None) for r in out.collect()]
    assert got == [('{"n": 1}', True), ('{"x": 2}', False), ("nope", False)]


@pytest.mark.parametrize("alg", ["gzip", "zlib", "bz2", "lzma"])
def test_compress_roundtrip(spark, alg):
    df = spark.createDataFrame([("hello world " * 20,), ("",)], "s STRING")
    out = df.select(
        F.col("s"),
        decompress_str(compress(F.col("s"), alg), alg).alias("rt"),
        F.length(compress(F.col("s"), alg)).alias("clen"))
    for r in out.collect():
        assert r.rt == r.s
    big = out.filter(F.length("s") > 0).collect()[0]
    assert big.clen < len(big.s)  # actually compressed


def test_compress_unknown_algorithm():
    with pytest.raises(ValueError, match="unsupported"):
        compress(F.lit("x"), "brotli")


# ---------------------------------------------------------------- avro

def test_avro_python_codec_spec_vectors():
    """Encodings pinned to the Avro spec's own examples: zigzag longs
    (1→02, -1→01, 2→04), length-prefixed strings ("foo"→06 66 6f 6f)."""
    from benthos_spark.operators.avro_py import _Reader, _decode, _encode
    assert _encode(1, "long") == bytes.fromhex("02")
    assert _encode(-1, "long") == bytes.fromhex("01")
    assert _encode(2, "long") == bytes.fromhex("04")
    assert _encode(64, "long") == bytes.fromhex("8001")
    assert _encode("foo", "string") == bytes.fromhex("06666f6f")
    rec = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    assert _encode({"a": 1, "b": "foo"}, rec) == bytes.fromhex("0206666f6f")
    assert _decode(_Reader(bytes.fromhex("0206666f6f")), rec) == {
        "a": 1, "b": "foo"}


def test_avro_python_codec_roundtrip_nested():
    from benthos_spark.operators.avro_py import _Reader, _decode, _encode
    schema = {"type": "record", "name": "doc", "fields": [
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "double"}},
        {"name": "opt", "type": ["null", "string"]},
        {"name": "kind", "type": {"type": "enum", "name": "k",
                                  "symbols": ["A", "B"]}},
        {"name": "flag", "type": "boolean"},
    ]}
    for doc in (
        {"id": 42, "tags": ["x", "y"], "props": {"p": 1.5}, "opt": "v",
         "kind": "B", "flag": True},
        {"id": -7, "tags": [], "props": {}, "opt": None, "kind": "A",
         "flag": False},
    ):
        enc = _encode(doc, schema)
        assert _decode(_Reader(enc), schema) == doc


def test_avro_yaml_roundtrip(spark):
    """YAML avro processor: JSON → binary datum → JSON survives."""
    import json
    from benthos_spark.stream import run_stream
    out = run_stream(spark, """
input:
  generate:
    count: 3
    mapping: |
      root.content = "{\\"a\\": " + this.id.string() + ", \\"b\\": \\"v\\"}"
pipeline:
  processors:
    - avro:
        operator: from_json
        schema: &s
          type: record
          name: r
          fields:
            - {name: a, type: long}
            - {name: b, type: string}
        target: packed
    - avro: {operator: to_json, schema: *s, source: packed, target: back}
output:
  memory: {}
""")
    for r in out.collect():
        assert json.loads(r.back) == json.loads(r.content)
        assert isinstance(r.packed, (bytes, bytearray))


# ---------------------------------------------------------------- protobuf

PROTO_SRC = """
syntax = "proto3";
package testing;

message Person {
  string first_name = 1;
  string last_name = 2;
  int32 age = 4;
  int64 id = 5;
  repeated string emails = 6;
  Kind kind = 7;
  Address address = 8;
  map<string, int32> scores = 9;
  bool active = 10;
  double weight = 11;

  enum Kind {
    UNKNOWN = 0;
    ADMIN = 1;
    USER = 2;
  }
  message Address {
    string city = 1;
    sint32 zip_delta = 2;
  }
}
"""


def test_protobuf_wire_spec_vectors():
    """Wire bytes pinned to the protobuf encoding-spec examples:
    int32 a=1 value 150 → 08 96 01; string b=2 'testing' →
    12 07 74 65 73 74 69 6e 67."""
    from benthos_spark.operators.protobuf_py import (ProtoRegistry,
                                                     _decode_message,
                                                     _encode_message)
    reg = ProtoRegistry().add_source(
        'syntax = "proto3"; message Test1 { int32 a = 1; string b = 2; }')
    assert _encode_message({"a": 150}, "Test1", reg) == bytes.fromhex("089601")
    assert _encode_message({"b": "testing"}, "Test1", reg) == \
        bytes.fromhex("120774657374696e67")
    assert _decode_message(bytes.fromhex("089601"), "Test1", reg) == {"a": 150}


def test_protobuf_roundtrip_nested():
    import json
    from benthos_spark.operators.protobuf_py import (ProtoRegistry,
                                                     json_to_message,
                                                     message_to_json)
    reg = ProtoRegistry().add_source(PROTO_SRC)
    doc = {"firstName": "Ada", "lastName": "L", "age": 36,
           "id": "9007199254740993",  # > 2^53: must survive as string
           "emails": ["a@x.io", "b@x.io"], "kind": "ADMIN",
           "address": {"city": "London", "zipDelta": -3},
           "scores": {"math": 10, "cs": 9}, "active": True,
           "weight": 61.5}
    buf = json_to_message(json.dumps(doc), "testing.Person", reg)
    back = json.loads(message_to_json(buf, "testing.Person", reg))
    assert back == doc


def test_protobuf_unknown_fields_skipped():
    from benthos_spark.operators.protobuf_py import (ProtoRegistry,
                                                     _decode_message,
                                                     _encode_message)
    wide = ProtoRegistry().add_source(
        'syntax = "proto3"; message M { int32 a = 1; string b = 2; }')
    narrow = ProtoRegistry().add_source(
        'syntax = "proto3"; message M { string b = 2; }')
    buf = _encode_message({"a": 7, "b": "keep"}, "M", wide)
    assert _decode_message(buf, "M", narrow) == {"b": "keep"}


def test_protobuf_yaml_roundtrip(spark, tmp_path):
    """YAML protobuf processor with import_paths: JSON → wire → JSON."""
    import json
    from benthos_spark.stream import run_stream
    proto_dir = tmp_path / "schema"
    proto_dir.mkdir()
    (proto_dir / "person.proto").write_text(PROTO_SRC)
    out = run_stream(spark, f"""
input:
  generate:
    count: 3
    mapping: |
      root.content = "{{\\"firstName\\": \\"p" + this.id.string() + "\\", \\"age\\": " + this.id.string() + "}}"
pipeline:
  processors:
    - protobuf:
        operator: from_json
        message: testing.Person
        import_paths: ["{proto_dir}"]
        target: packed
    - protobuf:
        operator: to_json
        message: testing.Person
        import_paths: ["{proto_dir}"]
        source: packed
        target: back
output:
  memory: {{}}
""")
    for r in out.collect():
        want = json.loads(r.content)
        got = json.loads(r.back)
        assert got.get("firstName") == want["firstName"]
        assert got.get("age", 0) == want["age"]


def test_protobuf_oneof_parses_flat():
    """oneof members parse into the parent message (proto3 wire format
    has no oneof marker), and fields AFTER the oneof still register —
    reference: protobuf language spec oneof section."""
    from benthos_spark.operators.protobuf_py import (ProtoRegistry,
                                                     _decode_message,
                                                     _encode_message)
    reg = ProtoRegistry().add_source("""
syntax = "proto3";
message Event {
  string id = 1;
  oneof payload {
    string text = 2;
    int64 counter = 3;
  }
  bool done = 4;
}
""")
    buf = _encode_message({"id": "e1", "counter": 9, "done": True},
                          "Event", reg)
    assert _decode_message(buf, "Event", reg) == \
        {"id": "e1", "counter": 9, "done": True}
    buf2 = _encode_message({"id": "e2", "text": "hi"}, "Event", reg)
    assert _decode_message(buf2, "Event", reg) == {"id": "e2", "text": "hi"}


def test_protobuf_malformed_raises_proto_error():
    import pytest
    from benthos_spark.operators.protobuf_py import ProtoError, ProtoRegistry
    with pytest.raises(ProtoError):
        ProtoRegistry().add_source(
            'syntax = "proto3"; message M { oneof x }')
    with pytest.raises(ProtoError):
        ProtoRegistry().add_source(
            'syntax = "proto3"; message M { int32 a = nope; }')


def test_protobuf_yaml_requires_schema_source(spark):
    """No proto/import_paths must be a config-time error, never a
    recursive walk of the working directory."""
    import pytest
    from benthos_spark.stream import ConfigError, run_stream
    with pytest.raises(ConfigError, match="proto"):
        run_stream(spark, """
input:
  generate: {count: 1, mapping: 'root.content = "{}"'}
pipeline:
  processors:
    - protobuf: {operator: to_json, message: M}
output:
  memory: {}
""")


def test_avro_union_branch_by_value_type():
    """goavro semantics: the union branch is picked by the VALUE's
    type, not first-non-null — string must skip the int branch, bool
    must not leak into int."""
    from benthos_spark.operators.avro_py import _Reader, _decode, _encode
    sch = ["null", "int", "string"]
    assert _decode(_Reader(_encode("hi", sch)), sch) == "hi"
    assert _decode(_Reader(_encode(7, sch)), sch) == 7
    assert _decode(_Reader(_encode(None, sch)), sch) is None
    bsch = ["null", "int", "boolean"]
    assert _decode(_Reader(_encode(True, bsch)), bsch) is True  # not int 1


def test_snappy_codec(monkeypatch):
    """Raw-snappy block format: spec-example decode (copies with
    overlap), roundtrip, error paths, and a junk length preamble
    rejected before pyarrow allocates its output."""
    from benthos_spark.operators import codec
    compress, decompress = codec._CODECS["snappy"]
    # roundtrips incl. empty, >60-byte literal, 64 KiB+ chunking
    for payload in (b"", b"x", b"hello snappy", b"a" * 100, b"ab" * 40000):
        assert decompress(compress(payload)) == payload
    data = b"the quick brown fox jumps over the lazy dog " * 200
    assert len(compress(data)) < len(data) // 10  # real matcher
    # hand-built stream exercising a real back-reference: literal
    # "Wikipedia" + copy-1 (tag: kind=1, len-4 in bits 2-4, offset
    # high bits in 5-7 + one offset byte) of offset=9, len=9 → doubled
    stream = bytes([18]) + bytes([8 << 2]) + b"Wikipedia" \
        + bytes([((9 - 4) << 2) | 1, 9])
    assert decompress(stream) == b"WikipediaWikipedia"
    # overlapping copy: "ab" then copy(offset=2, len=6) -> "abababab"
    stream2 = bytes([8]) + bytes([1 << 2]) + b"ab" \
        + bytes([((6 - 4) << 2) | 1, 2])
    assert decompress(stream2) == b"abababab"
    with pytest.raises(ValueError, match="^snappy: "):
        decompress(b"\x05\x00")  # truncated
    with pytest.raises(ValueError, match="^snappy: "):
        decompress(bytes([4]) + bytes([((4 - 4) << 2) | 1, 9]))  # bad offset
    # a 4 GiB preamble over a 1-byte body never reaches pyarrow
    monkeypatch.setattr(codec, "_SNAPPY", None)
    with pytest.raises(ValueError, match="^snappy: length preamble"):
        decompress(b"\xff\xff\xff\xff\x0f\x00")


def test_snappy_in_compress_processor(spark):
    from pyspark.errors import PythonException

    from benthos_spark.operators.codec import compress as c_col
    from benthos_spark.operators.codec import decompress, decompress_str
    df = spark.createDataFrame([("payload-123",)], "content string")
    out = df.withColumn("z", c_col(F.col("content"), "snappy")) \
            .withColumn("back", decompress_str(F.col("z"), "snappy"))
    row = out.collect()[0]
    assert row.back == "payload-123"
    # junk fails the query with an error naming the algorithm
    junk = spark.createDataFrame([(b"\x05\x00",)], "z binary")
    with pytest.raises(PythonException, match="ValueError: snappy: "):
        junk.select(decompress(F.col("z"), "snappy")).collect()


def test_snappy_property_roundtrip():
    """Hypothesis: compress∘decompress is identity for arbitrary byte
    strings (raw snappy), and the decoder rejects random prefixes
    gracefully (ValueError, never a crash)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from benthos_spark.operators.codec import _CODECS
    compress, decompress = _CODECS["snappy"]

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=4096))
    def roundtrip(payload):
        assert decompress(compress(payload)) == payload

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=1, max_size=64))
    def never_crashes(junk):
        try:
            decompress(junk)
        except ValueError:
            pass  # rejecting malformed input is the contract

    roundtrip()
    never_crashes()


def test_lz4_codec():
    """LZ4 frames: xxHash32 spec vectors, frame roundtrip, a frozen
    golden frame with its content checksum, checksum rejections, and
    BOTH-direction interop with Arrow's own LZ4 frames."""
    import pyarrow as pa

    from benthos_spark.operators.codec import _CODECS, _xxh32
    compress, decompress = _CODECS["lz4"]
    # xxHash32 spec vectors (xxhash_spec.md / python-xxhash test suite)
    assert _xxh32(b"") == 0x02CC5D05
    assert _xxh32(b"a") == 0x550D7456
    assert _xxh32(b"abc") == 0x32D153FF
    assert _xxh32(b"Nobody inspects the spammish repetition") == 0xE2293B2F
    for payload in (b"", b"x", b"hello lz4", b"ab" * 40000,
                    bytes(range(256)) * 300, b"x" * 17):
        assert decompress(compress(payload)) == payload
    # frozen frame: FLG 0x64 (content checksum), BD 0x40, one stored
    # block, EndMark, xxh32 of the payload
    golden = bytes.fromhex("04224d186440a70b0000807061796c6f61642d3132"
                           "3300000000f8b9f219")
    assert compress(b"payload-123") == golden
    assert decompress(golden) == b"payload-123"
    c = pa.Codec("lz4")
    data = b"the quick brown fox jumps over the lazy dog " * 200
    assert decompress(c.compress(data, asbytes=True)) == data
    assert c.decompress(compress(data), decompressed_size=len(data),
                        asbytes=True) == data
    # repetitive input actually compresses (real matcher, not stored)
    assert len(compress(data)) < len(data) // 10
    with pytest.raises(ValueError, match="^lz4: "):
        decompress(b"\x00\x01\x02")  # bad magic / truncated
    with pytest.raises(ValueError, match="^lz4: "):
        decompress(b"")
    bad = bytearray(compress(b"payload-123"))
    bad[-1] ^= 0xFF  # flip content checksum
    with pytest.raises(ValueError, match="^lz4: "):
        decompress(bytes(bad))
    bad = bytearray(golden)
    bad[12] ^= 0x01  # flip one payload byte: only the checksum sees it
    with pytest.raises(ValueError, match="^lz4: "):
        decompress(bytes(bad))


def test_lz4_in_compress_processor(spark):
    from benthos_spark.operators.codec import compress as c_col
    from benthos_spark.operators.codec import decompress_str
    df = spark.createDataFrame([("payload-123",)], "content string")
    out = df.withColumn("z", c_col(F.col("content"), "lz4")) \
            .withColumn("back", decompress_str(F.col("z"), "lz4"))
    assert out.collect()[0].back == "payload-123"


def test_lz4_property_roundtrip():
    """Hypothesis: frame compress∘decompress is identity; the decoder
    rejects junk with ValueError, never a crash."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from benthos_spark.operators.codec import _CODECS
    compress, decompress = _CODECS["lz4"]

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=4096))
    def roundtrip(payload):
        assert decompress(compress(payload)) == payload

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=1, max_size=64))
    def never_crashes(junk):
        try:
            decompress(junk)
        except ValueError:
            pass

    roundtrip()
    never_crashes()


def test_protobuf_oneof_exclusivity():
    """proto3 spec: wire decode keeps only the LAST oneof member seen;
    the JSON parser rejects multiple set members of one group."""
    import json
    from benthos_spark.operators.protobuf_py import (
        ProtoError, ProtoRegistry, json_to_message, message_to_json)
    reg = ProtoRegistry().add_source("""
syntax = "proto3";
message Event {
  oneof body { string text = 1; int32 code = 2; }
}
""")
    b1 = json_to_message('{"text": "a"}', "Event", reg)
    b2 = json_to_message('{"code": 5}', "Event", reg)
    # concatenated messages merge field-wise; the later member wins
    out = json.loads(message_to_json(b1 + b2, "Event", reg))
    assert out == {"code": 5}
    out = json.loads(message_to_json(b2 + b1, "Event", reg))
    assert out == {"text": "a"}
    with pytest.raises(ProtoError, match="oneof"):
        json_to_message('{"text": "a", "code": 1}', "Event", reg)


def test_protobuf_wkt_json_forms():
    """proto3 JSON spec vectors: Timestamp ⇄ RFC 3339, Duration ⇄
    "Ns" with 0/3/6/9 fraction digits, Any ⇄ {"@type", ...inline},
    wrappers ⇄ bare values, FieldMask ⇄ camelCase CSV, Empty ⇄ {}."""
    import json
    from benthos_spark.operators.protobuf_py import (
        ProtoError, ProtoRegistry, json_to_message, message_to_json)
    reg = ProtoRegistry().add_source("""
syntax = "proto3";
package t;
message Env {
  google.protobuf.Timestamp at = 1;
  google.protobuf.Duration took = 2;
  google.protobuf.Any payload = 3;
  google.protobuf.Int64Value big = 4;
  google.protobuf.StringValue name = 5;
  google.protobuf.FieldMask mask = 6;
  google.protobuf.Empty nothing = 7;
}
message Inner { string name = 1; int64 n = 2; }
""")

    def roundtrip(doc):
        return json.loads(message_to_json(
            json_to_message(json.dumps(doc), "t.Env", reg), "t.Env", reg))

    doc = {"at": "2021-03-02T10:00:20.021Z",
           "took": "1.000340012s",
           "payload": {"@type": "type.googleapis.com/t.Inner",
                       "name": "x", "n": "9007199254740993"},
           "big": "123456789012345",
           "name": "hello",
           "mask": "userId,displayName"}
    back = roundtrip(doc)
    assert back["at"] == "2021-03-02T10:00:20.021Z"
    assert back["took"] == "1.000340012s"
    assert back["payload"] == {"@type": "type.googleapis.com/t.Inner",
                               "name": "x", "n": "9007199254740993"}
    assert back["big"] == "123456789012345"  # wrapper = bare value
    assert back["name"] == "hello"
    assert back["mask"] == "userId,displayName"
    # fraction-digit classes and signs
    assert roundtrip({"took": "-0.5s"})["took"] == "-0.500s"
    assert roundtrip({"took": "3s"})["took"] == "3s"
    assert roundtrip({"took": "0.000001s"})["took"] == "0.000001s"
    # timestamp offsets normalize to Z
    assert roundtrip({"at": "2021-01-01T00:00:00+02:00"})["at"] == \
        "2020-12-31T22:00:00Z"
    # Any with an unregistered embedded type is an error
    with pytest.raises(ProtoError, match="not registered"):
        json_to_message(json.dumps(
            {"payload": {"@type": "type.googleapis.com/x.Nope"}}),
            "t.Env", reg)
    with pytest.raises(ProtoError, match="RFC 3339"):
        json_to_message('{"at": "yesterday"}', "t.Env", reg)
