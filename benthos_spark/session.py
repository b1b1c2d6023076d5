"""SparkSession factory tuned for the engine.

Local test mode runs ``local[N]`` (one JVM); production is any cluster
master — the configs below are chosen to survive both.  The reference
engine scales by "run more Benthos instances against a partitioned
source" (SURVEY §3.1); here Spark's scheduler + shuffle replace that.

A local session's JVM gets one small directory in front of Spark's
jars (`_local_classpath`), built from the files in `jvm/`:

- `NoForkLocalFileSystem`, the `file:` FileSystem.  Without libhadoop,
  Hadoop's local filesystem forks a `chmod` for every file and
  directory it creates, ~22 per stream micro-batch; this one sets the
  same mode bits through java.nio and keeps the `.crc` checksum files.
  It is compiled once per machine with the `javac` beside the `java`
  that Spark launches and cached under `~/.cache/benthos_spark`.  With
  no `javac` the session keeps Hadoop's filesystem and logs a warning.
- An empty `yarn-default.xml`, which shadows Hadoop's.  Its 520
  properties, which a local session never reads, are otherwise
  serialized into every Hadoop conf Spark ships to a task or a
  micro-batch: 1,110 properties become 594.  `mapred-default.xml` is
  left alone, because the output committers read its defaults.

After the session starts, `_drop_property_sources` clears the "source"
that Hadoop records for each property of the session's two base confs
(which default file defined it).  Every copy of a conf carries those
sources, and every time Spark ships a conf to a task or a micro-batch,
`Configuration.write` gzips each property's source through its own
GZIP stream: 594 of them, ~40% of the serialized bytes and most of the
time.  Without them a conf carries sources only for the few dozen keys
set programmatically, and a copy serializes in ~35 KB instead of
~58 KB and ~0.9 ms instead of ~3 ms.  Values do not change; only
`getPropertySources` returns null for a default key, which Spark's one
caller (`SparkHadoopUtil.propertySources`) shows as "".  If the JVM
refuses the reflective access, one warning is logged and confs keep
their sources, which costs only speed.

Cluster masters keep Spark's and Hadoop's defaults.
"""

from __future__ import annotations

import atexit
import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

# Checkpoint file manager for local sessions.  Spark's default manager
# goes through Hadoop's FileContext, whose local filesystem calls
# `getFileLinkStatus` on every rename and status check; without
# libhadoop that forks a `readlink` process each time (~66 per
# micro-batch across the offset, commit, source and sink logs and the
# state-store deltas).  The FileSystem-based manager does an exists
# check and then a rename.  On the local filesystem that is what
# FileContext's no-overwrite rename does too (Hadoop's
# AbstractFileSystem.renameInternal: link-status both paths, throw if
# the destination exists, then java.io.File.renameTo), so the
# single-writer guarantee is the same.  Cluster masters keep Spark's
# default, which on HDFS is a server-side atomic rename.
_LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager")

# The directory holding this package.  Python workers unpickle kernel
# functions by reference to benthos_spark modules, so they must import
# the copy the driver imported; a local worker otherwise finds the
# package only when the driver's working directory is this directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_NO_FORK_FS = "benthos.spark.NoForkLocalFileSystem"
_CACHE_ROOT = os.path.join(os.path.expanduser("~"), ".cache", "benthos_spark")

_log = logging.getLogger(__name__)

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB input splits: good balance of task count vs overhead at
    # 100 TB (≈800k tasks) and still parallel enough at sf0.1.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark reads those
    # as long when this is on (converted back in sources/datamodel)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.showConsoleProgress": "false",
}


def _local_defaults(env, cpus: int, ram_bytes: int) -> tuple[str, str]:
    """(cores, driver heap) of a local session: `SPARK_GRAFT_CPUS` and
    `SPARK_GRAFT_DRIVER_MEM` when set, else the `cpus` this process may
    run on and half of `ram_bytes`, at most 48g."""
    heap_gb = max(1, min(48, ram_bytes // 2 // 2**30))
    return (env.get("SPARK_GRAFT_CPUS") or str(cpus),
            env.get("SPARK_GRAFT_DRIVER_MEM") or f"{heap_gb}g")


def _find_javac() -> str | None:
    """The `javac` beside the `java` that Spark's launcher runs:
    `$JAVA_HOME/bin/java`, else the `java` on PATH."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if not java:
        return None
    javac = os.path.join(os.path.dirname(os.path.realpath(java)), "javac")
    return javac if os.access(javac, os.X_OK) else None


def _hadoop_api_jar() -> str | None:
    from pyspark.find_spark_home import _find_spark_home
    jars = glob.glob(os.path.join(_find_spark_home(), "jars",
                                  "hadoop-client-api-*.jar"))
    return max(jars) if jars else None


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _publish(root: str, javac: str | None, jar: str | None) -> str:
    """The directory under `root` holding the empty `yarn-default.xml`
    and, given a `javac` and the Hadoop `jar`, `NoForkLocalFileSystem`
    compiled against it.

    It is named after a digest of what goes into it (the sources, the
    JDK's release file and the jar's name), built in a private
    temporary directory and renamed into place, so concurrent sessions
    never see a half-built one and a later session reuses it."""
    source = os.path.join(_JVM_DIR, "NoForkLocalFileSystem.java")
    resource = os.path.join(_JVM_DIR, "yarn-default.xml")
    h = hashlib.sha256(_read(resource))
    if jar:
        release = os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(javac))), "release")
        h.update(_read(source))
        h.update(_read(release) if os.path.exists(release)
                 else os.path.realpath(javac).encode())
        h.update(os.path.basename(jar).encode())
    target = os.path.join(root, f"jvm-{h.hexdigest()[:16]}")
    if os.path.isdir(target):
        return target
    tmp = tempfile.mkdtemp(prefix=".build-", dir=root)
    try:
        shutil.copy(resource, tmp)
        if jar:
            subprocess.run([javac, "-nowarn", "-cp", jar, "-d", tmp, source],
                           check=True, capture_output=True, text=True)
        os.rename(tmp, target)
    except OSError:
        if not os.path.isdir(target):  # not published by another session
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return target


@functools.lru_cache(maxsize=None)
def _local_classpath(javac: str | None,
                     cache_root: str = _CACHE_ROOT) -> tuple[str, bool]:
    """A directory for the front of a local JVM's classpath (see
    `_publish`), and whether it holds `NoForkLocalFileSystem`.  When
    `cache_root` is not writable the directory is built in a temporary
    one that is removed when the process exits."""
    jar = _hadoop_api_jar() if javac else None
    if not jar:
        _log.warning("no %s: local sessions keep Hadoop's local "
                     "filesystem, which forks a `chmod` per file it "
                     "creates", "hadoop-client-api jar in Spark's jars"
                     if javac else "javac beside the JVM's java")

    def publish(root: str) -> tuple[str, bool]:
        try:
            return _publish(root, javac, jar), jar is not None
        except subprocess.CalledProcessError as e:
            _log.warning("compiling NoForkLocalFileSystem failed; local "
                         "sessions keep Hadoop's local filesystem:\n%s",
                         e.stderr)
            return _publish(root, None, None), False

    try:
        os.makedirs(cache_root, exist_ok=True)
        return publish(cache_root)
    except OSError:
        root = tempfile.mkdtemp(prefix="benthos_spark-")
        atexit.register(shutil.rmtree, root, True)
        return publish(root)


def _with_local_jvm(extra_conf: dict, javac: str | None,
                    cache_root: str = _CACHE_ROOT) -> dict[str, str]:
    """`extra_conf` over a local session's JVM confs: the `file:`
    FileSystem when `_local_classpath`'s directory has it, and that
    directory in front of both classpaths, ahead of any classpath that
    `extra_conf` sets."""
    path, has_fs = _local_classpath(javac, cache_root)
    conf = {"spark.hadoop.fs.file.impl": _NO_FORK_FS} if has_fs else {}
    conf.update(extra_conf)
    for k in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        conf[k] = os.pathsep.join(p for p in (path, extra_conf.get(k)) if p)
    return conf


def _jvm_can_load(class_name: str) -> bool:
    """Whether the driver JVM's classpath has `class_name`.  A JVM not
    started yet is launched with the confs `get_spark` passes; one
    already running (an earlier session in this process, or
    spark-submit's) keeps the classpath it was started with."""
    from pyspark import SparkContext
    if (SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ):
        return True
    SparkContext._ensure_initialized()
    try:
        SparkContext._jvm.java.lang.Class.forName(class_name)
    except Exception:
        return False
    return True


@functools.cache
def _warn_once(msg: str) -> None:
    _log.warning(msg)


def _drop_property_sources(spark: SparkSession) -> None:
    """Clear the per-property source map (`updatingResource`, private
    and nullable) of the SparkContext's Hadoop conf and of the shared
    state's, the two that every per-batch conf is copied from.

    `JobConf` is initialized first: its static block registers
    `mapred-default.xml` and the other MapReduce resources, and
    registering a new default resource reloads every live conf, which
    would record the sources again.  Each conf is loaded (`size()`)
    before its map is cleared, for the same reason."""
    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName(
            "org.apache.hadoop.mapred.JobConf", True,
            jvm.java.lang.Thread.currentThread().getContextClassLoader())
        field = jvm.java.lang.Class.forName(
            "org.apache.hadoop.conf.Configuration").getDeclaredField(
                "updatingResource")
        field.setAccessible(True)
        for conf in (spark.sparkContext._jsc.hadoopConfiguration(),
                     spark._jsparkSession.sharedState().hadoopConf()):
            conf.size()
            field.set(conf, None)
    except Exception as e:  # noqa: BLE001
        _warn_once("could not clear the Hadoop confs' property sources; "
                   f"every conf Spark ships keeps them: {e}")


def get_spark(app_name: str = "benthos_spark", master: str | None = None,
              **extra_conf: str) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured, and the driver heap to ``$SPARK_GRAFT_DRIVER_MEM``;
    unset, they are the cores this process may run on and half the
    host's RAM, at most 48g (`_local_defaults`).  On a cluster, leave
    ``master`` unset and spark-submit decides.

    A local master also gets:

    - Spark's FileSystem-based streaming checkpoint file manager instead
      of the FileContext one, which forks a `readlink` per checkpoint
      rename and status check on a host without libhadoop (see
      `_LOCAL_CHECKPOINT_FILE_MANAGER`);
    - one directory in front of the driver's and executors' classpath
      holding a `file:` FileSystem that creates files without forking
      `chmod` and an empty `yarn-default.xml` (see the module
      docstring).  A classpath passed in ``extra_conf`` follows that
      directory instead of replacing it.  Without a `javac` the
      directory holds only the resource;
    - this package's root on its Python workers' PYTHONPATH, so the
      engine runs from any working directory;
    - once the session runs, Hadoop confs without the per-property
      source trail that every shipped copy would otherwise gzip,
      property by property (`_drop_property_sources`; values are
      unchanged).  If the reflection it needs fails, a warning is
      logged once and the confs keep their sources.

    Any other key passed in ``extra_conf`` overrides these defaults.
    """
    builder = SparkSession.builder.appName(app_name)
    # ~cores for local; on a real cluster this is overridden by AQE's
    # coalescing anyway (initialPartitionNum can be raised per-job).
    conf = {**_DEFAULTS, "spark.sql.shuffle.partitions":
            os.environ.get("SPARK_GRAFT_CPUS", "32")}
    if master is None and "SPARK_MASTER" in os.environ:
        master = ""  # spark-submit decides
    local = master is None or master.startswith("local")
    if local:
        cores, heap = _local_defaults(os.environ,
                                      len(os.sched_getaffinity(0)),
                                      os.sysconf("SC_PAGE_SIZE")
                                      * os.sysconf("SC_PHYS_PAGES"))
        master = master or f"local[{cores}]"
        conf.update({
            "spark.sql.shuffle.partitions": cores,
            "spark.driver.memory": heap,
            "spark.sql.streaming.checkpointFileManagerClass":
                _LOCAL_CHECKPOINT_FILE_MANAGER,
            "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
        })
        extra_conf = _with_local_jvm(extra_conf, _find_javac())
        if (extra_conf.get("spark.hadoop.fs.file.impl") == _NO_FORK_FS
                and not _jvm_can_load(_NO_FORK_FS)):
            del extra_conf["spark.hadoop.fs.file.impl"]
    conf.update(extra_conf)
    if master:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if local:
        _drop_property_sources(spark)
    return spark
