"""The local session's classpath directory and host-sized defaults.

A local `get_spark` session puts one directory in front of Spark's jars:
`NoForkLocalFileSystem` (a `file:` FileSystem whose permission changes
do not fork `chmod`) and an empty `yarn-default.xml`.  Once it runs, its
Hadoop confs record no per-property source for default keys.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_file_scheme_uses_the_no_fork_filesystem(spark):
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf)
    assert fs.getRaw().getClass().getName() == (
        "benthos.spark.NoForkLocalFileSystem$Raw")


def _modes(top: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(top):
        for p in [d] + [os.path.join(d, f) for f in files]:
            out[os.path.relpath(p, top)] = os.stat(p).st_mode & 0o7777
    return out


@pytest.mark.parametrize("umask,modes", [
    ("022", {0o644, 0o755}),
    # not the process umask, so a mode left unset would show
    ("077", {0o600, 0o700}),
])
def test_parquet_write_modes_match_hadoops_filesystem(spark, tmp_path,
                                                      umask, modes):
    """Every directory, data file and `.crc` file a Spark write leaves
    has the mode that Hadoop's own LocalFileSystem gives the same path
    under Hadoop's umask."""
    ours, stock = tmp_path / "ours", tmp_path / "stock"
    keys = {"fs.permissions.umask-mode": umask,
            # a filesystem made for this write reads its umask
            "fs.file.impl.disable.cache": "true"}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        spark.range(20).selectExpr("id", "id % 3 AS k").write.partitionBy(
            "k").parquet(str(ours))
    finally:
        for k in keys:
            spark.conf.unset(k)
    want = _modes(str(ours))
    assert any(p.endswith(".crc") for p in want)
    assert any(p.endswith(".parquet") for p in want)
    assert set(want.values()) == modes

    jvm = spark._jvm
    hadoop = jvm.org.apache.hadoop.fs
    hconf = jvm.org.apache.hadoop.conf.Configuration()
    hconf.set("fs.permissions.umask-mode", umask)
    fs = hadoop.LocalFileSystem()
    fs.initialize(jvm.java.net.URI("file:///"), hconf)
    assert fs.getRaw().getClass().getName() == (
        "org.apache.hadoop.fs.RawLocalFileSystem")
    for rel in sorted(want):
        path = hadoop.Path(f"file://{stock}/{rel}")
        if os.path.isdir(ours / rel):
            fs.mkdirs(path)
        elif not rel.endswith(".crc"):  # written beside their files
            fs.create(path).close()
    assert _modes(str(stock)) == want


def test_conf_drops_yarn_defaults_and_keeps_mapred_ones(spark):
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    hconf.size()  # loads the default resources
    assert hconf.get("yarn.resourcemanager.address") is None
    assert hconf.get(
        "mapreduce.fileoutputcommitter.algorithm.version") == "1"


def _conf_bytes(jvm, conf) -> int:
    out = jvm.java.io.ByteArrayOutputStream()
    conf.write(jvm.java.io.DataOutputStream(out))
    return out.size()


def test_shipped_confs_carry_sources_only_for_set_keys(spark, tmp_path):
    """After a stream run and a parquet write, the conf Spark copies for
    each micro-batch and task records a source only for the keys set
    programmatically, so it serializes small; every other value equals
    Hadoop's default."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from benthos_spark.stream import run_stream

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"id": list(range(10 * i, 10 * i + 10))}),
                       src / f"part-{i}.parquet")
    run_stream(spark, f"""
    input:
      file:
        paths: ["{src}"]
        format: parquet
        stream: true
        max_files_per_trigger: 1
        schema: "id BIGINT"
    pipeline:
      processors:
        - bloblang: root.id = this.id * 2
    output:
      file:
        path: "{out}"
        checkpoint: "{out}.checkpoint"
        timeout: 120
    """)
    assert spark.read.parquet(str(out)).count() == 20
    spark.range(5).write.parquet(str(tmp_path / "written"))

    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    values, sourced = {}, []
    it = hconf.iterator()
    while it.hasNext():
        e = it.next()
        values[e.getKey()] = e.getValue()
        if hconf.getPropertySources(e.getKey()) is not None:
            sourced.append(e.getKey())
    assert len(sourced) <= 64, len(sourced)
    assert _conf_bytes(jvm, hconf) < 40_000
    # Hadoop's defaults plus what Spark sets: the context's conf as
    # SparkHadoopUtil builds it, the warehouse dir SharedState adds,
    # and the session's SQL confs (the keys with a source)
    want = jvm.org.apache.spark.deploy.SparkHadoopUtil.get() \
        .newConfiguration(spark.sparkContext._jsc.sc().getConf())
    want.set("hive.metastore.warehouse.dir",
             values["hive.metastore.warehouse.dir"])
    for k in sourced:
        want.set(k, values[k])
    it = want.iterator()
    defaults = {}
    while it.hasNext():
        e = it.next()
        defaults[e.getKey()] = e.getValue()
    assert values == defaults


_STREAM = textwrap.dedent("""
    import datetime as dt, json, os, sys
    import pyarrow as pa, pyarrow.parquet as pq
    from benthos_spark.session import get_spark
    from benthos_spark.stream import run_stream

    src, out = sys.argv[1], sys.argv[2]
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(3):
        f = os.path.join(src, f"part-{i}.parquet")
        pq.write_table(pa.table({
            "ts": pa.array([t0 + dt.timedelta(minutes=10 * i, seconds=3 * j)
                            for j in range(200)],
                           pa.timestamp("us", tz="UTC")),
            "event_type": [("a", "b", "c")[j % 3] for j in range(200)],
            "value": [float(i * 1000 + j) for j in range(200)]}), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    spark = get_spark("spawn-check")
    run_stream(spark, f'''
    input:
      file:
        paths: ["{src}"]
        format: parquet
        stream: true
        max_files_per_trigger: 1
        schema: "ts TIMESTAMP, event_type STRING, value DOUBLE"
    pipeline:
      processors:
        - window:
            ts: ts
            duration: 5 minutes
            watermark: 60 seconds
            keys: [event_type]
            aggs: {{n: count, vmax: "max:value"}}
    output:
      file:
        path: "{out}"
        checkpoint: "{out}.checkpoint"
        timeout: 120
    ''')
    print(json.dumps(sorted(
        [str(r.window.start), r.event_type, r.n, r.vmax]
        for r in spark.read.parquet(out).collect())))
    spark.stop()
""")


def test_stream_forks_no_chmod(tmp_path):
    """A 3-file window stream, with a logging `chmod` first on PATH,
    writes its windows, checkpoints and state without one `chmod`."""
    shim, log = tmp_path / "bin", tmp_path / "spawns.log"
    shim.mkdir()
    (shim / "chmod").write_text(
        f'#!/bin/sh\necho "chmod $*" >> {log}\nexec /bin/chmod "$@"\n')
    (shim / "chmod").chmod(0o755)
    env = {**os.environ, "PATH": f"{shim}{os.pathsep}{os.environ['PATH']}",
           "PYTHONPATH": ROOT, "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    r = subprocess.run(
        [sys.executable, "-c", _STREAM, str(tmp_path / "src"),
         str(tmp_path / "out")],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert not log.exists(), log.read_text()[:2000]
    # 3 files × 2 five-minute windows × 3 types; the watermark holds
    # back the last file's second window of each type
    want = []
    for i in range(3):
        for w in range(2 if i < 2 else 1):
            for k, t in enumerate("abc"):
                js = [j for j in range(100 * w, 100 * w + 100) if j % 3 == k]
                start = f"2024-01-01 00:{10 * i + 5 * w:02d}:00"
                want.append([start, t, len(js), float(i * 1000 + max(js))])
    assert json.loads(r.stdout.strip().splitlines()[-1]) == sorted(want)


def test_without_javac_the_classpath_keeps_the_resource(tmp_path, caplog):
    from benthos_spark import session

    conf = session._with_local_jvm(
        {"spark.executor.extraClassPath": "/opt/user.jar"}, None,
        str(tmp_path))
    assert "spark.hadoop.fs.file.impl" not in conf
    path = conf["spark.driver.extraClassPath"]
    assert conf["spark.executor.extraClassPath"] == (
        f"{path}{os.pathsep}/opt/user.jar")
    assert os.path.dirname(path) == str(tmp_path)
    assert sorted(os.listdir(path)) == ["yarn-default.xml"]
    with open(os.path.join(path, "yarn-default.xml")) as fh:
        assert "<configuration/>" in fh.read()
    assert "javac" in caplog.text


@pytest.mark.parametrize("env,cpus,ram_gb,want", [
    ({}, 4, 15, ("4", "7g")),
    ({"SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_DRIVER_MEM": "48g"}, 4, 15,
     ("32", "48g")),
    ({}, 64, 512, ("64", "48g")),
    ({}, 1, 1, ("1", "1g")),
])
def test_local_defaults_follow_the_host(env, cpus, ram_gb, want):
    from benthos_spark.session import _local_defaults

    assert _local_defaults(env, cpus, ram_gb * 2**30) == want


def test_a_running_jvm_is_asked_for_the_class(spark):
    """A JVM already running keeps its classpath, so `get_spark` sets the
    `file:` FileSystem only when that JVM can load it."""
    from benthos_spark.session import _NO_FORK_FS, _jvm_can_load

    assert _jvm_can_load(_NO_FORK_FS)
    assert not _jvm_can_load("benthos.spark.NoSuchFileSystem")


def test_an_unwritable_cache_falls_back_to_a_temp_dir(tmp_path):
    from benthos_spark.session import _local_classpath

    blocker = tmp_path / "file"
    blocker.write_text("")
    path, has_fs = _local_classpath(None, str(blocker / "cache"))
    assert not has_fs
    assert not path.startswith(str(tmp_path))
    assert os.listdir(path) == ["yarn-default.xml"]
