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

The Python half of a cold start is the worker daemons: Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` (no ``.pyc``) first on each worker's
path, so every daemon and every forked worker compiled pyspark from source.
When ``get_spark`` launches a local driver JVM itself and the cache is
writable, it sets ``spark.python.daemon.module`` to
``legal_ner_spark.daemon``, which swaps those zips for a directory compiled
once, ``$XDG_CACHE_HOME/legal_ner_spark/py-<key>`` (~42 MB; ``<key>`` hashes
the zips and the interpreter's cache tag, and the directories of other keys
are deleted).  A missing directory is built in a thread while the JVM
launches (~2.6 s once); a daemon that finds it incomplete keeps the zips.
Under a non-local master, an existing gateway or a caller's own
``spark.python.daemon.module``, the stock ``pyspark.daemon`` runs.  For any
``local*`` master, the directory holding this package is appended to the
caller's ``spark.executorEnv.PYTHONPATH``, so workers import the engine
(and the daemon module) whatever the working directory.

Writes.  Without ``libhadoop.so``, Hadoop's local file system forks
``/bin/chmod`` for every directory it creates and every file it opens (a
data file, its ``.crc``, ``_SUCCESS``): ~4 ms each, run serially in the
writing task.  When ``get_spark`` launches the driver JVM itself and every
task runs in it (``local``, ``local[N]``, ``local[*]``, ``local[N,F]``;
not ``local-cluster[...]``, whose executor JVMs would lack the class), it
sets ``spark.hadoop.fs.file.impl`` to ``NioLocalFileSystem`` and puts its
jar on ``spark.driver.extraClassPath``.  That checksummed local file system
sets a mode that fits in 0777 with ``Files.setPosixFilePermissions`` and
leaves every other case to the stock method, and keeps the rename rule of
Hive's ``ProxyLocalFileSystem`` (the stock session's ``file:`` FS): the
same files, sidecars and modes are written.  The jar is compiled once
(~0.8 s) by the ``javac`` beside the ``java`` above into
``$XDG_CACHE_HOME/legal_ner_spark/fs-<key>.jar``; ``<key>`` hashes the
Java source, the JDK's ``release`` and the stat of Spark's
``hadoop-client-api-*.jar`` (the only classpath ``javac`` gets), and the
jars of other keys are deleted.  The archive key above gains the jar's, so
a launch with the jar records and maps an archive of its own beside the
one without it.  The stock file system stays when the caller sets either
of those two confs (also through a non-default ``PYSPARK_SUBMIT_ARGS`` or
``spark-defaults.conf``), when the cache is not writable, or when
``javac`` is missing or fails.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

from . import daemon

# First four bytes of a complete JDK dynamic archive.  The JVM writes the
# header last, so a dump cut short lacks them; mapping an archive whose body
# is cut short can crash the JVM, so only a file that carries them is mapped.
_CDS_MAGIC = 0xF00BABA8
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_CLASSPATH", "SPARK_PREPEND_CLASSES")
_JAVA_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
# the directory holding the ``legal_ner_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the local file system that sets permissions in-process, and the masters
# whose every task runs in the driver JVM (not ``local-cluster[...]``)
_FS_SOURCE = os.path.join(_PACKAGE_ROOT, "legal_ner_spark",
                          "NioLocalFileSystem.java")
_FS_CLASS = "legal_ner_spark.NioLocalFileSystem"
_FS_CONF = ("spark.hadoop.fs.file.impl", "spark.driver.extraClassPath")
_IN_DRIVER_MASTER = re.compile(r"local(\[(\d+|\*)(,\d+)?\])?")


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
    if (master or "").startswith("local"):
        caller = extra_conf.get("spark.executorEnv.PYTHONPATH")
        if _PACKAGE_ROOT not in str(caller or "").split(os.pathsep):
            builder = builder.config(
                "spark.executorEnv.PYTHONPATH",
                f"{caller}{os.pathsep}{_PACKAGE_ROOT}" if caller
                else _PACKAGE_ROOT)
    build = _bytecode_build(master, extra_conf)
    if build is not None:
        builder = builder.config("spark.python.daemon.module",
                                 "legal_ner_spark.daemon")
    jar = _local_fs_jar(master, extra_conf)
    if jar is not None:
        builder = (builder.config("spark.driver.extraClassPath", jar)
                   .config("spark.hadoop.fs.file.impl", _FS_CLASS))
    cds = _class_archive(master, extra_conf, jar)
    saved = os.environ.get("SPARK_CONF_DIR")
    try:
        if cds is None:
            return builder.getOrCreate()
        java_options, conf_dir = cds
        builder = builder.config("spark.driver.extraJavaOptions",
                                 java_options)
        os.environ["SPARK_CONF_DIR"] = conf_dir
        return builder.getOrCreate()
    finally:
        if build is not None:
            build.join()
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _launches_jvm(master: str | None) -> bool:
    """Whether ``getOrCreate`` will launch a local driver JVM itself."""
    from pyspark import SparkContext
    return ((master or "").startswith("local")
            and "PYSPARK_GATEWAY_PORT" not in os.environ
            and SparkContext._gateway is None
            and SparkContext._active_spark_context is None)


def _bytecode_build(master: str | None, conf: dict
                    ) -> threading.Thread | None:
    """A started thread building the compiled pyspark directory that
    ``legal_ner_spark.daemon`` swaps in, or None when the stock daemon is
    kept (see the module docstring).  The build overlaps the JVM launch;
    a worker daemon started before it completes keeps the zips."""
    if not _launches_jvm(master) or "spark.python.daemon.module" in conf:
        return None
    from pyspark.find_spark_home import _find_spark_home
    cache = daemon.cache_dir()
    lib = os.path.join(_find_spark_home(), "python", "lib")
    try:
        os.makedirs(cache, exist_ok=True)
    except OSError:
        return None
    if (not os.access(cache, os.W_OK)
            or daemon.compiled_dir(lib, cache) is None):
        return None
    build = threading.Thread(target=daemon.build, args=(lib, cache),
                             name="pyspark-bytecode")
    build.start()
    return build


def _jdk_home() -> str | None:
    """``$JAVA_HOME``, else the JDK of the ``java`` on ``PATH``."""
    jdk = os.environ.get("JAVA_HOME")
    if not jdk:
        java = shutil.which("java")
        if java is None:
            return None
        jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    return jdk


def _spark_defaults_name(keys) -> bool:
    """Whether the ``spark-defaults.conf`` the launch reads names a key."""
    from pyspark.find_spark_home import _find_spark_home
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(_find_spark_home(), "conf"))
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as fh:
            text = fh.read()
    except OSError:
        return False
    return any(k in text for k in keys)


def _local_fs_jar(master: str | None, conf: dict) -> str | None:
    """The jar of ``NioLocalFileSystem`` in the cache, compiled on first
    use, or None when the stock local file system is kept (see the module
    docstring).  The jar's key hashes the Java source, the JDK's
    ``release`` and the Hadoop API jar it is compiled against."""
    from pyspark.find_spark_home import _find_spark_home
    if (not _launches_jvm(master) or not _IN_DRIVER_MASTER.fullmatch(master)
            or any(k in conf for k in _FS_CONF)
            or os.environ.get("PYSPARK_SUBMIT_ARGS",
                              "pyspark-shell") != "pyspark-shell"
            or _spark_defaults_name(_FS_CONF)):
        return None
    jdk = _jdk_home()
    hadoop = glob.glob(os.path.join(_find_spark_home(), "jars",
                                    "hadoop-client-api-*.jar"))
    if jdk is None or len(hadoop) != 1:
        return None
    javac = os.path.join(jdk, "bin", "javac")
    cache = daemon.cache_dir()
    try:
        with open(_FS_SOURCE, "rb") as fh:
            key = hashlib.sha256(fh.read())
        with open(os.path.join(jdk, "release"), "rb") as fh:
            key.update(fh.read())
        st = os.stat(hadoop[0])
        key.update(repr((hadoop[0], st.st_size, st.st_mtime_ns)).encode())
        os.makedirs(cache, exist_ok=True)
        if not os.access(cache, os.W_OK):
            return None
    except OSError:
        return None
    jar = os.path.join(cache, f"fs-{key.hexdigest()[:24]}.jar")
    if os.path.isfile(jar):
        return jar
    try:
        with tempfile.TemporaryDirectory() as classes:
            run = subprocess.run([javac, "-nowarn", "-cp", hadoop[0],
                                  "-d", classes, _FS_SOURCE],
                                 capture_output=True, timeout=300)
            if run.returncode != 0:
                return None
            fd, tmp = tempfile.mkstemp(prefix=".fs-", suffix=".jar",
                                       dir=cache)
            try:
                with os.fdopen(fd, "wb") as fh, \
                        zipfile.ZipFile(fh, "w") as zf:
                    for root, _, files in os.walk(classes):
                        for f in sorted(files):
                            full = os.path.join(root, f)
                            zf.write(full, os.path.relpath(full, classes))
                os.rename(tmp, jar)
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)
    except (OSError, subprocess.SubprocessError):
        return None
    for old in glob.glob(os.path.join(cache, "fs-*.jar")):
        if old != jar:
            try:
                os.remove(old)
            except OSError:
                pass
    return jar


def _class_archive(master: str | None, conf: dict, jar: str | None = None
                   ) -> tuple[str, str] | None:
    """The driver JVM options (the caller's ``spark.driver.extraJavaOptions``
    plus the archive flags) and the empty conf dir to launch with, or None
    when the archive does not apply (see the module docstring).  ``jar``,
    the local file system jar the launch puts on the classpath, is folded
    into the archive's key."""
    from pyspark.find_spark_home import _find_spark_home
    caller = str(conf.get("spark.driver.extraJavaOptions", "")).strip()
    named = " ".join([caller, str(conf.get("spark.driver.defaultJavaOptions",
                                           ""))]
                     + [os.environ.get(k, "") for k in _JAVA_OPTIONS_ENV])
    if (not _launches_jvm(master)
            or any(os.environ.get(k) for k in _CLASSPATH_ENV)
            or conf.get("spark.driver.extraClassPath")
            or os.environ.get("PYSPARK_SUBMIT_ARGS",
                              "pyspark-shell") != "pyspark-shell"
            or any(flag in named for flag in _CDS_FLAGS)):
        return None
    spark_home = _find_spark_home()
    jdk = _jdk_home()
    if jdk is None:
        return None
    cache = daemon.cache_dir()
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
        for path in sorted(glob.glob(os.path.join(spark_home, "jars",
                                                  "*.jar"))):
            st = os.stat(path)
            key.update(repr((path, st.st_size, st.st_mtime_ns)).encode())
        base = stem = key.hexdigest()[:24]
        if jar:
            st = os.stat(jar)
            stem += "-" + hashlib.sha256(repr(
                (jar, st.st_size, st.st_mtime_ns)).encode()).hexdigest()[:12]
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
    except (OSError, IndexError, ValueError):
        return None
    archive = os.path.join(cache, stem + ".jsa")
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
            # the archives of one JDK/Spark key with and without the jar
            # are kept side by side; a new jar replaces the old jar's
            name = os.path.basename(old)[:-len(".jsa")]
            if name not in (stem, base) and not (
                    jar is None and name.startswith(base + "-")):
                try:
                    os.remove(old)
                except OSError:
                    pass
    flags = f"{flag} -Xlog:cds=off -Xlog:cds+dynamic=off"
    return (f"{caller} {flags}" if caller else flags), conf_dir
