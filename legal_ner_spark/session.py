"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by parallelism
for local runs: AQE on (runtime coalescing + skew-join splitting — the
explicit mitigation for IPC/CrPC key skew, SURVEY.md §4), bounded Arrow
batches (documents are large; a 10k-row Arrow batch of mega-docs would blow
executor memory — the per-batch cap complements the reference's own 20k-token
chunk guard, data_preparation.py:73-78).

Cold start.  Most of a local start is the driver JVM loading and verifying
the same ~25k Spark classes.  When ``get_spark`` launches a local driver
JVM itself, it starts it against a dynamic class-data-sharing archive
(JDK AppCDS, JEP 350) kept at ``$XDG_CACHE_HOME/legal_ner_spark/<key>.jsa``
(``~/.cache/legal_ner_spark`` without ``XDG_CACHE_HOME``); ``<key>`` hashes
the JDK and the Spark jars, so a new JDK or Spark gets a new archive and
the old one is deleted.  The first such start on a host records the archive
(``-XX:ArchiveClassesAtExit``) and every later one maps it
(``-XX:SharedArchiveFile``); the flags are appended to the caller's
``spark.driver.extraJavaOptions``.  Recording costs that one run: a few
seconds more to start and a 10-20 s, 100-180 MB dump as the JVM exits after
``spark.stop()`` or the end of the Python process.  A dump that is killed
leaves a file without the archive's magic number, which is never mapped, so
the next start records again.

JDK 17 refuses to record with a non-empty directory on the classpath, and
Spark's launcher puts the conf dir there, so the archive is used only when
the conf dir (``$SPARK_CONF_DIR`` or ``$SPARK_HOME/conf``) holds nothing but
``*.template`` files, which Spark never reads; ``SPARK_CONF_DIR`` then points
at an empty directory in the cache for the launch only.  Nothing is added
when the master is not ``local*``; when a driver JVM already runs (under
``spark-submit``, or an earlier session's gateway); when ``HADOOP_CONF_DIR``,
``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH``, ``SPARK_CLASSPATH``,
``SPARK_PREPEND_CLASSES``, a non-default ``PYSPARK_SUBMIT_ARGS`` or
``spark.driver.extraClassPath`` changes the classpath; when the JDK is older
than 13 or its ``release`` file cannot be read; when the caller's JVM options
already name ``-Xshare``, ``SharedArchiveFile`` or ``ArchiveClassesAtExit``;
or when the cache is not writable.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import sys

from pyspark.sql import SparkSession

# First four bytes of a complete JDK dynamic archive.  The JVM writes the
# header last, so a dump cut short lacks them; mapping an archive whose body
# is cut short can crash the JVM, so only a file that carries them is mapped.
_CDS_MAGIC = 0xF00BABA8
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_CLASSPATH", "SPARK_PREPEND_CLASSES")
_JAVA_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")


def get_spark(app_name: str = "legal-ner-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              arrow_batch_rows: int = 64, extra_conf: dict | None = None
              ) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        # respect an externally-configured master (spark-submit --master
        # yarn/k8s sets spark.master in system properties; unconditionally
        # calling .master() here would silently turn a cluster deployment
        # into a local run).  Only default to local[N] when nothing is set.
        from pyspark import SparkConf
        if SparkConf().get("spark.master", None) is None:
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    cds = _class_archive(master, extra_conf)
    if cds is None:
        return builder.getOrCreate()
    java_options, conf_dir = cds
    builder = builder.config("spark.driver.extraJavaOptions", java_options)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _class_archive(master: str | None, conf: dict
                   ) -> tuple[str, str] | None:
    """The driver JVM options (the caller's ``spark.driver.extraJavaOptions``
    plus the archive flags) and the empty conf dir to launch with, or None
    when the archive does not apply (see the module docstring)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home
    caller = str(conf.get("spark.driver.extraJavaOptions", "")).strip()
    named = " ".join([caller, str(conf.get("spark.driver.defaultJavaOptions",
                                           ""))]
                     + [os.environ.get(k, "") for k in _JAVA_OPTIONS_ENV])
    if (not (master or "").startswith("local")
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or SparkContext._gateway is not None
            or SparkContext._active_spark_context is not None
            or any(os.environ.get(k) for k in _CLASSPATH_ENV)
            or conf.get("spark.driver.extraClassPath")
            or os.environ.get("PYSPARK_SUBMIT_ARGS",
                              "pyspark-shell") != "pyspark-shell"
            or any(flag in named for flag in _CDS_FLAGS)):
        return None
    spark_home = _find_spark_home()
    jdk = os.environ.get("JAVA_HOME")
    if not jdk:
        java = shutil.which("java")
        if java is None:
            return None
        jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                         or os.path.expanduser("~/.cache"), "legal_ner_spark")
    conf_dir = os.path.join(cache, "conf")
    key = hashlib.sha256()
    try:
        conf_src = (os.environ.get("SPARK_CONF_DIR")
                    or os.path.join(spark_home, "conf"))
        if (os.path.isdir(conf_src) and not all(
                n.endswith(".template") for n in os.listdir(conf_src))):
            return None
        with open(os.path.join(jdk, "release"), "rb") as fh:
            release = fh.read()
        version = release.split(b'JAVA_VERSION="', 1)[1].split(b'"', 1)[0]
        if int(version.split(b".")[0]) < 13:
            return None
        modules = os.stat(os.path.join(jdk, "lib", "modules"))
        key.update(release + repr((jdk, modules.st_size, modules.st_mtime_ns))
                   .encode())
        for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
            st = os.stat(jar)
            key.update(repr((jar, st.st_size, st.st_mtime_ns)).encode())
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
    except (OSError, IndexError, ValueError):
        return None
    archive = os.path.join(cache, key.hexdigest()[:24] + ".jsa")
    try:
        with open(archive, "rb") as fh:
            complete = int.from_bytes(fh.read(4), sys.byteorder) == _CDS_MAGIC
    except OSError:
        complete = False
    if complete:
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        flag = f"-XX:ArchiveClassesAtExit={archive}"
        for old in glob.glob(os.path.join(cache, "*.jsa")):
            if old != archive:
                try:
                    os.remove(old)
                except OSError:
                    pass
    flags = f"{flag} -Xlog:cds=off -Xlog:cds+dynamic=off"
    return (f"{caller} {flags}" if caller else flags), conf_dir
