"""Bloblang parser + compiler tests.

Golden-case style mirrors the reference's table-driven parser/executor
tests (internal/bloblang/mapping/executor_test.go,
parser/mapping_parser_test.go) — inputs and expected outputs written
fresh for this engine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from benthos_spark.bloblang import (BloblangParseError, compile_mapping,
                                    map_text, parse_mapping)
from benthos_spark.bloblang.compiler import BloblangCompileError


def rows(spark, data, schema):
    return spark.createDataFrame(data, schema)


# ---- parser ----

def test_parse_statements():
    m = parse_mapping("""
# a comment
root.out = this.foo
let x = 5
meta topic = "t"
root.nested.deep = $x + 1
""")
    kinds = [type(s).__name__ for s in m.statements]
    assert kinds == ["RootAssign", "LetAssign", "MetaAssign", "RootAssign"]


def test_parse_errors_have_position():
    with pytest.raises(BloblangParseError, match=r"line \d+:\d+"):
        parse_mapping("root.x = ")
    with pytest.raises(BloblangParseError):
        parse_mapping("bogus statement here")


# ---- mapping execution: projection ----

def test_basic_projection(spark):
    df = rows(spark, [(1, "ab"), (2, "cd")], "id INT, s STRING")
    out = map_text(df, """
root.ident = this.id
root.up = this.s.uppercase()
root.twice = this.id * 2
""")
    got = {r.ident: (r.up, r.twice) for r in out.collect()}
    assert got == {1: ("AB", 2), 2: ("CD", 4)}


def test_arithmetic_and_precedence(spark):
    df = rows(spark, [(10,)], "v INT")
    out = map_text(df, "root.r = this.v + 2 * 3 - 1")
    assert out.collect()[0].r == 15


def test_string_concat_plus(spark):
    df = rows(spark, [("x",)], "s STRING")
    out = map_text(df, 'root.r = "pre_" + this.s + "_post"')
    assert out.collect()[0].r == "pre_x_post"


def test_coalesce_pipe_and_or_method(spark):
    df = rows(spark, [(None, 5)], "a INT, b INT")
    out = map_text(df, """
root.p = this.a | this.b
root.o = this.a.or(99)
""")
    r = out.collect()[0]
    assert (r.p, r.o) == (5, 99)


def test_not_method(spark):
    # methods.go `not`: boolean negation as a method
    df = rows(spark, [(True,), (False,)], "flag BOOLEAN")
    out = map_text(df, "root.r = this.flag.not()")
    assert [r.r for r in out.collect()] == [False, True]


def test_if_else_chain(spark):
    df = rows(spark, [(1,), (5,), (20,)], "v INT")
    out = map_text(df, """
root.v = this.v
root.band = if this.v < 3 { "low" } else if this.v < 10 { "mid" } else { "high" }
""")
    got = {r.v: r.band for r in out.collect()}
    assert got == {1: "low", 5: "mid", 20: "high"}


def test_match_literal_and_default(spark):
    df = rows(spark, [("a",), ("b",), ("z",)], "k STRING")
    out = map_text(df, """
root.k = this.k
root.m = match this.k {
  "a" => "alpha",
  "b" => "beta",
  _ => "other",
}
""")
    got = {r.k: r.m for r in out.collect()}
    assert got == {"a": "alpha", "b": "beta", "z": "other"}


def test_match_bool_cases_rebind_this(spark):
    df = rows(spark, [(2,), (7,)], "v INT")
    out = map_text(df, """
root.v = this.v
root.m = match this.v { this < 5 => "small", _ => "big" }
""")
    got = {r.v: r.m for r in out.collect()}
    assert got == {2: "small", 7: "big"}


def test_let_variables_inline(spark):
    df = rows(spark, [(3,)], "v INT")
    out = map_text(df, """
let double = this.v * 2
root.a = $double
root.b = $double + 1
""")
    r = out.collect()[0]
    assert (r.a, r.b) == (6, 7)


def test_root_reads_prior_assignment(spark):
    df = rows(spark, [(4,)], "v INT")
    out = map_text(df, """
root.a = this.v + 1
root.b = root.a * 10
""")
    r = out.collect()[0]
    assert (r.a, r.b) == (5, 50)


def test_nested_root_builds_struct(spark):
    df = rows(spark, [(1, "x")], "id INT, s STRING")
    out = map_text(df, """
root.doc.id = this.id
root.doc.name = this.s
root.flat = this.id
""")
    r = out.collect()[0]
    assert r.doc.asDict() == {"id": 1, "name": "x"}
    assert r.flat == 1


def test_root_deleted_filters_rows(spark):
    df = rows(spark, [(1,), (2,), (3,)], "v INT")
    out = map_text(df, """
root = if this.v == 2 { deleted() }
root.v = this.v
""")
    assert sorted(r.v for r in out.collect()) == [1, 3]


def test_field_deleted_removes_column(spark):
    df = rows(spark, [(1, "x")], "id INT, s STRING")
    out = map_text(df, """
root = this
root.s = deleted()
""")
    assert out.columns == ["id"]


def test_nothing_keeps_previous(spark):
    df = rows(spark, [(1,), (9,)], "v INT")
    out = map_text(df, """
root.x = this.v * 100
root.x = if this.v > 5 { nothing() } else { -1 }
""")
    got = sorted((r.v if False else None, r.x) for r in out.collect())
    xs = sorted(r.x for r in out.collect())
    assert xs == [-1, 900]
    _ = got


def test_identity_root_then_override(spark):
    df = rows(spark, [(1, "a")], "id INT, s STRING")
    out = map_text(df, """
root = this
root.extra = this.id + 100
""")
    r = out.collect()[0]
    assert (r.id, r.s, r.extra) == (1, "a", 101)


def test_array_object_literals_and_methods(spark):
    df = rows(spark, [(2,)], "v INT")
    out = map_text(df, """
root.arr = [this.v, this.v * 2, 9].sort()
root.obj = {"a": this.v, "b": "lit"}
root.total = [1, 2, 3].sum()
root.evens = [1, 2, 3, 4].filter(this % 2 == 0)
root.mapped = [1, 2].map_each(this + 10)
""")
    r = out.collect()[0]
    assert r.arr == [2, 4, 9]
    assert r.obj.asDict() == {"a": 2, "b": "lit"}
    assert r.total == 6.0
    assert r.evens == [2, 4]
    assert r.mapped == [11, 12]


def test_fold_tally_value(spark):
    df = rows(spark, [(0,)], "z INT")
    out = map_text(df, "root.s = [1, 2, 3, 4].fold(0, tally + value)")
    assert out.collect()[0].s == 10


def test_string_method_chain(spark):
    df = rows(spark, [(" Hello World ",)], "s STRING")
    out = map_text(df, 'root.r = this.s.trim().lowercase().replace("world", "benthos")')
    assert out.collect()[0].r == "hello benthos"


def test_hash_encode_methods(spark):
    import hashlib
    df = rows(spark, [("data",)], "s STRING")
    out = map_text(df, """
root.h = this.s.hash("sha256")
root.b = this.s.encode("base64")
""")
    r = out.collect()[0]
    assert r.h == hashlib.sha256(b"data").hexdigest()
    assert r.b == "ZGF0YQ=="


def test_timestamp_methods_via_mapping(spark):
    df = rows(spark, [("2024-03-05 06:07:08",)], "t STRING")
    out = map_text(df, """
root.parsed = this.t.parse_timestamp("2006-01-02 15:04:05")
root.day = this.t.parse_timestamp("2006-01-02 15:04:05").format_timestamp_strftime("%Y-%m-%d")
root.unix = this.t.parse_timestamp("2006-01-02 15:04:05").format_timestamp_unix()
""")
    r = out.collect()[0]
    assert str(r.parsed) == "2024-03-05 06:07:08"
    assert r.day == "2024-03-05"
    assert r.unix == 1709618828


def test_number_coercion_and_catch(spark):
    df = rows(spark, [("5.5",), ("bad",)], "s STRING")
    out = map_text(df, 'root.n = this.s.number().catch(-1)')
    assert sorted(r.n for r in out.collect()) == [-1.0, 5.5]


def test_identity_root_keeps_runtime_errors(spark):
    """`root = this` copies `_error` as a field; a failing method still
    flags the row, as with explicit field assignments, and its error
    replaces an earlier one (FlagErr)."""
    df = rows(spark, [(1, "3", None), (2, "zz", None), (3, "zz", "earlier")],
              "id INT, s STRING, _error STRING")
    want = {1: (3.0, None), 2: (None, ".number(): expected number value"),
            3: (None, ".number(): expected number value")}
    for src in ("root = this\nroot.n = this.s.number()",
                "root.id = this.id\nroot.n = this.s.number()"):
        out = map_text(df, src, keep=("_error",))
        assert {r.id: (r.n, r._error) for r in out.collect()} == want, src


def test_meta_assignment_rides_along(spark):
    df = rows(spark, [(1,)], "id INT")
    out = map_text(df, """
root.id = this.id
meta topic = "events_" + this.id.string()
""")
    r = out.collect()[0]
    assert r.meta_topic == "events_1"


def test_document_mode_with_json_content(spark):
    df = rows(spark, [('{"user":{"name":"ann","score":3}}',)],
              "content STRING")
    this = F.from_json(F.col("content"),
                       "user STRUCT<name STRING, score INT>")
    out = map_text(df, """
root.who = this.user.name.uppercase()
root.bumped = this.user.score + 1
""", this=this)
    r = out.collect()[0]
    assert (r.who, r.bumped) == ("ANN", 4)


def test_unknown_function_and_method_errors():
    with pytest.raises(BloblangCompileError, match="unknown function"):
        compile_mapping("root.x = wat()").apply(None)
    with pytest.raises(BloblangCompileError, match="unknown method"):
        compile_mapping("root.x = this.a.wat()").apply(None)


def test_count_compiles_to_ordinal():
    # count() no longer raises — it compiles to a pinned-order ordinal
    # (full semantics covered by test_count_windowed_ordinal)
    m = compile_mapping('root.x = count("c")')
    assert m is not None


def test_variable_unknown_error():
    with pytest.raises(BloblangCompileError, match=r"unknown variable \$y"):
        compile_mapping("root.x = $y").apply(None)


# ---- named maps ----

def test_named_map_apply_struct(spark):
    df = rows(spark, [(2, "ab")], "n INT, s STRING")
    out = map_text(df, """
map summary {
  root.double = this.n * 2
  root.loud = this.s.uppercase()
}
root.out = this.apply("summary")
root.plain = this.n
""")
    r = out.collect()[0]
    assert r.out.asDict() == {"double": 4, "loud": "AB"}
    assert r.plain == 2


def test_named_map_scalar_and_nested_target(spark):
    df = rows(spark, [(3,)], "n INT")
    out = map_text(df, """
map inc { root = this + 1 }
root.a = this.n.apply("inc")
root.b = this.n.apply("inc").apply("inc")
""")
    r = out.collect()[0]
    assert (r.a, r.b) == (4, 5)


def test_named_map_defined_after_use(spark):
    df = rows(spark, [(1,)], "n INT")
    out = map_text(df, """
root.x = this.n.apply("later")
map later { root = this * 10 }
""")
    assert out.collect()[0].x == 10


def test_named_map_recursion_rejected():
    with pytest.raises(BloblangCompileError, match="recursive"):
        compile_mapping("""
map loop { root = this.apply("loop") }
root.x = this.n.apply("loop")
""").apply(None)


def test_named_map_unknown():
    with pytest.raises(BloblangCompileError, match="map not defined"):
        compile_mapping('root.x = this.n.apply("nope")').apply(None)


# ---- interpolation ----

def test_interpolation_static_and_dynamic(spark):
    from benthos_spark.bloblang.field import interpolate, is_static
    assert is_static("plain string")
    assert not is_static("x ${! this.a } y")
    df = rows(spark, [(7, "t")], "a INT, k STRING")
    out = df.select(
        interpolate("static").alias("s"),
        interpolate("a=${! this.a }, up=${! this.k.uppercase() }!").alias("d"))
    r = out.collect()[0]
    assert r.s == "static"
    assert r.d == "a=7, up=T!"


def test_object_literal_dynamic_keys(spark):
    # query_literal_parser_test.go:69 "dynamic map dynamic key"
    df = spark.createDataFrame([("site", 5)], "k STRING, v INT")
    out = map_text(df, 'root.m = {(this.k.uppercase()): this.v, '
                       '"static": this.v + 1}')
    m = out.collect()[0].m
    assert m == {"SITE": 5, "static": 6}
    # static-key objects must stay typed structs (not maps)
    out2 = map_text(df, 'root.o = {"a": this.v, "b": this.k}')
    assert out2.schema["o"].dataType.typeName() == "struct"


def test_import_named_maps(spark, tmp_path):
    # mapping_parser.go:192 import semantics: maps spliced in at parse
    # time, relative to base_dir; no-maps and collisions are errors
    (tmp_path / "common.blobl").write_text(
        'map squared {\n  root = this * this\n}\n')
    (tmp_path / "empty.blobl").write_text('root = this\n')
    df = spark.createDataFrame([(4,)], "v INT")
    src = f'import "common.blobl"\nroot.sq = this.v.apply("squared")'
    out = map_text(df, src, base_dir=str(tmp_path))
    assert out.collect()[0].sq == 16
    with pytest.raises(BloblangParseError, match="no maps"):
        parse_mapping('import "empty.blobl"', base_dir=str(tmp_path))
    with pytest.raises(BloblangParseError, match="collision"):
        parse_mapping('import "common.blobl"\nmap squared { root = this }',
                      base_dir=str(tmp_path))


def test_new_string_and_structured_methods(spark):
    df = spark.createDataFrame(
        [("a<b>&c", "%20hi", "/a/b/c.txt", '"quoted"', "1h30m",
          "a=1,b=22")],
        "h STRING, url STRING, path STRING, q STRING, dur STRING, kv STRING")
    out = map_text(df, r'''
root.esc = this.h.escape_html()
root.roundtrip = this.h.escape_html().unescape_html()
root.uesc = this.url.unescape_url_query()
root.fsplit = this.path.filepath_split()
root.fjoin = ["a","b"].filepath_join()
root.unq = this.q.unquote()
root.rmany = this.h.replace_many(["<", "[", ">", "]"])
root.dur_ns = this.dur.parse_duration()
root.obj = this.kv.re_find_object("(?<key>[a-z]+)=(?<val>[0-9]+)")
root.objs = this.kv.re_find_all_object("(?<key>[a-z]+)=(?<val>[0-9]+)")
root.sub = this.kv.re_find_all_submatch("([a-z]+)=([0-9]+)")
root.yaml = "k: [3, 1, 2]".parse_yaml()
root.sorted = [{"v": 3}, {"v": 1}].sort_by(this.v)
root.expl = {"id": 7, "xs": [1, 2]}.explode("xs")
''').collect()[0]
    assert out.esc == "a&lt;b&gt;&amp;c" and out.roundtrip == "a<b>&c"
    assert out.uesc == " hi"
    assert out.fsplit == ["/a/b/", "c.txt"] and out.fjoin == "a/b"
    assert out.unq == "quoted" and out.rmany == "a[b]&c"
    assert out.dur_ns == 5_400_000_000_000
    assert (out.obj.key, out.obj.val) == ("a", "1")
    assert [(r.key, r.val) for r in out.objs] == [("a", "1"), ("b", "22")]
    assert out.sub == [["a=1", "a", "1"], ["b=22", "b", "22"]]
    # schemaless parse_yaml yields VARIANT (engine-native schemaless)
    assert out.yaml.toJson() == '{"k":[3,1,2]}'
    assert [r.v for r in out.sorted] == [1, 3]
    assert [(r.id, r.xs) for r in out.expl] == [(7, 1), (7, 2)]


def test_aes_roundtrip_and_format_yaml(spark):
    df = spark.createDataFrame([("secret msg", "0123456789abcdef")],
                               "v STRING, key STRING")
    out = map_text(df, '''
root.rt = this.v.encrypt_aes("gcm", this.key).decrypt_aes("gcm", this.key)
root.fy = "[1, 2]".parse_json("array<int>").format_yaml()
''').collect()[0]
    assert out.rt == "secret msg"
    assert out.fy.strip() == "- 1\n- 2"


def test_aes_ctr_ofb_stream_modes(spark):
    """The reference's ctr/ofb AES modes (methods_strings.go:300) run
    through the Arrow kernel; ciphertext matches the cryptography
    package's ground truth and roundtrips."""
    key = b"0123456789abcdef0123456789abcdef"
    iv = b"abcdef9876543210"
    df = spark.createDataFrame([("hello world", key, iv)],
                               "msg STRING, k BINARY, iv BINARY")
    ct = map_text(
        df, 'root.ct = this.msg.encrypt_aes("ctr", this.k, this.iv)'
    ).collect()[0].ct
    from cryptography.hazmat.primitives.ciphers import (Cipher,
                                                        algorithms,
                                                        modes)
    ref = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
    assert bytes(ct) == ref.update(b"hello world") + ref.finalize()
    back = spark.createDataFrame([(bytes(ct), key, iv)],
                                 "ct BINARY, k BINARY, iv BINARY")
    assert map_text(
        back, 'root.pt = this.ct.decrypt_aes("ctr", this.k, this.iv)'
    ).collect()[0].pt == "hello world"
    ofb = map_text(
        df, 'root.ct = this.msg.encrypt_aes("ofb", this.k, this.iv)'
    ).collect()[0].ct
    back2 = spark.createDataFrame([(bytes(ofb), key, iv)],
                                  "ct BINARY, k BINARY, iv BINARY")
    assert map_text(
        back2, 'root.pt = this.ct.decrypt_aes("ofb", this.k, this.iv)'
    ).collect()[0].pt == "hello world"


def test_log_method_natural(spark):
    import math
    df = spark.createDataFrame([(math.e,)], "n DOUBLE")
    out = map_text(df, "root.l = this.n.log()\n"
                       "root.l10 = (100.0).log10()").collect()[0]
    assert abs(out.l - 1.0) < 1e-12 and out.l10 == 2.0


def test_file_function(spark, tmp_path):
    p = tmp_path / "snippet.txt"
    p.write_text("hello-from-file")
    df = spark.createDataFrame([(1,)], "id INT")
    out = map_text(df, f'root.v = file("{p}")').collect()[0]
    assert out.v == "hello-from-file"
    with pytest.raises(BloblangCompileError):
        map_text(df, 'root.v = file("/nope/missing.txt")')


def test_named_lambda_keeps_outer_this(spark):
    # `x -> expr`: x binds the element, `this` still sees the document
    df = rows(spark, [([1, 2, 3], 2)], "ns ARRAY<INT>, factor INT")
    out = map_text(df, """
root.scaled = this.ns.map_each(n -> n * this.factor)
root.big = this.ns.filter(n -> n >= this.factor)
""").collect()[0]
    assert out.scaled == [2, 4, 6]
    assert out.big == [2, 3]


def test_named_lambda_sort_by(spark):
    df = rows(spark, [([(3, "c"), (1, "a")],)],
              "xs ARRAY<STRUCT<rank: INT, v: STRING>>")
    out = map_text(df, "root.sorted = this.xs.sort_by(x -> x.rank)")
    assert [e.v for e in out.collect()[0].sorted] == ["a", "c"]


def test_match_newline_separated_cases(spark):
    df = rows(spark, [(500,), (50,), (5,)], "v INT")
    out = map_text(df, """
root.v = this.v
root.kind = match this.v {
  this > 100 => "large"
  this > 10 => "medium"
  _ => "small"
}
""")
    got = {r.v: r.kind for r in out.collect()}
    assert got == {500: "large", 50: "medium", 5: "small"}


def test_trim_cutset(spark):
    df = rows(spark, [("v1.2.0", "  pad  ")], "a STRING, b STRING")
    out = map_text(df, """
root.cut = this.a.trim("v")
root.ws = this.b.trim()
""").collect()[0]
    assert out.cut == "1.2.0"
    assert out.ws == "pad"


def test_count_windowed_ordinal(spark):
    """count(name) (query/functions.go:200) compiles to a row_number
    ordinal over the pinned batch order — single-threaded semantics
    match the reference counter (1, 2, 3, ... in order); named
    counters are independent sequences over the same pinned order."""
    df = rows(spark,
              [(0, 0, "a"), (0, 1, "b"), (1, 0, "c"), (1, 1, "d")],
              "batch_id long, part_index long, content string")
    out = (compile_mapping('root.n = count("foo")\nroot.c = this.content')
           .apply(df, keep=("batch_id", "part_index")))
    got = {(r.batch_id, r.part_index): r.n for r in out.collect()}
    assert got == {(0, 0): 1, (0, 1): 2, (1, 0): 3, (1, 1): 4}
    # the golden reference run: counter values follow arrival order,
    # which IS the pinned order when single-threaded
    vals = [r.n for r in out.orderBy("batch_id", "part_index").collect()]
    assert vals == [1, 2, 3, 4]
