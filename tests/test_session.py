"""``session.get_spark``'s class-data-sharing archive: which flags it adds,
when it adds none, and the two JDK behaviours its checks rest on; its
compiled-pyspark worker daemon (``legal_ner_spark.daemon``): when it is
named, how its cache directory is keyed, built and swapped in, and that the
fixture session's workers import pyspark from it; its in-process local file
system (``NioLocalFileSystem``): when it is named, how its jar is keyed,
and that it writes what the stock file system writes without forking
``chmod``.  The unit tests patch ``getOrCreate`` and start no Spark
session."""

import glob
import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from legal_ner_spark import daemon, session, synth
from legal_ner_spark.core.extract import extract_document
from legal_ner_spark.operators import extract as ops
from legal_ner_spark.session import _CDS_MAGIC, _class_archive, get_spark

CDS = ("SharedArchiveFile", "ArchiveClassesAtExit")


def _jdk():
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    return os.path.dirname(os.path.dirname(os.path.realpath(
        shutil.which("java"))))


@pytest.fixture()
def env(monkeypatch, tmp_path):
    """A clean launch environment: no gateway, no classpath or JVM-option
    variables, a Spark home whose conf dir holds only templates, and the
    cache under ``tmp_path``."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    (home / "jars").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"jar")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("JAVA_HOME", _jdk())
    for k in (session._CLASSPATH_ENV + session._JAVA_OPTIONS_ENV
              + ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS",
                 "SPARK_CONF_DIR")):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    return tmp_path


@pytest.fixture()
def launches(monkeypatch):
    """Replace ``getOrCreate``: each call records the driver JVM options,
    the ``SPARK_CONF_DIR`` it would launch with and all the builder's
    options."""
    seen = []

    def fake(builder):
        seen.append((builder._options.get("spark.driver.extraJavaOptions"),
                     os.environ.get("SPARK_CONF_DIR"),
                     dict(builder._options)))
        return "session"
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake)
    return seen


def _archive():
    """The archive path the next local launch names."""
    opts, _ = _class_archive("local[2]", {})
    return [f.split("=", 1)[1] for f in opts.split() if f.startswith("-XX:")][0]


def test_caller_options_kept_and_flags_appended(env):
    caller = "-Djava.io.tmpdir=/x/tmp -Dderby.system.home=/x"
    opts, conf_dir = _class_archive(
        "local[4]", {"spark.driver.extraJavaOptions": caller})
    cache = env / "cache" / "legal_ner_spark"
    assert opts.startswith(caller + " -XX:ArchiveClassesAtExit=" + str(cache))
    assert opts.endswith(".jsa -Xlog:cds=off -Xlog:cds+dynamic=off")
    assert conf_dir == str(cache / "conf")
    assert os.listdir(conf_dir) == []


def test_only_an_archive_with_the_magic_is_mapped(env):
    path = _archive()
    magic = _CDS_MAGIC.to_bytes(4, sys.byteorder)
    for body, mapped in [(b"", False), (bytes(1 << 16), False),
                         (magic[:3], False), (magic + bytes(64), True)]:
        with open(path, "wb") as fh:
            fh.write(body)
        opts, _ = _class_archive("local[2]", {})
        flag = ("-XX:SharedArchiveFile=" if mapped
                else "-XX:ArchiveClassesAtExit=")
        assert flag + path in opts.split(), body[:8]
        assert sum(name in opts for name in CDS) == 1


def test_recording_deletes_other_archives(env):
    cache = env / "cache" / "legal_ner_spark"
    cache.mkdir(parents=True)
    stale = cache / "0123456789abcdef01234567.jsa"
    stale.write_bytes(_CDS_MAGIC.to_bytes(4, sys.byteorder))
    path = _archive()
    assert not stale.exists()
    assert str(stale) != path


def _fake_jdk(root, release, javac=None):
    """A JDK directory with ``release`` and, given its shell body, a
    ``bin/javac`` script."""
    jdk = root / "jdk"
    (jdk / "lib").mkdir(parents=True)
    (jdk / "lib" / "modules").write_bytes(b"m")
    if release is not None:
        (jdk / "release").write_text(release)
    if javac is not None:
        (jdk / "bin").mkdir()
        (jdk / "bin" / "javac").write_text(f"#!/bin/sh\n{javac}\n")
        (jdk / "bin" / "javac").chmod(0o755)
    return str(jdk)


GATES = {
    "hadoop_conf": lambda mp, t: mp.setenv("HADOOP_CONF_DIR", str(t)),
    "yarn_conf": lambda mp, t: mp.setenv("YARN_CONF_DIR", str(t)),
    "dist_classpath": lambda mp, t: mp.setenv("SPARK_DIST_CLASSPATH", "/x"),
    "spark_classpath": lambda mp, t: mp.setenv("SPARK_CLASSPATH", "/x"),
    "extra_classpath": lambda mp, t: {"spark.driver.extraClassPath": "/x"},
    "submit_args": lambda mp, t: mp.setenv(
        "PYSPARK_SUBMIT_ARGS", "--driver-class-path /x pyspark-shell"),
    "cluster_master": lambda mp, t: "yarn",
    "standalone_master": lambda mp, t: "spark://host:7077",
    "gateway_port": lambda mp, t: mp.setenv("PYSPARK_GATEWAY_PORT", "1"),
    "gateway_running": lambda mp, t: mp.setattr(
        SparkContext, "_gateway", object()),
    "context_active": lambda mp, t: mp.setattr(
        SparkContext, "_active_spark_context", object()),
    "old_jdk": lambda mp, t: mp.setenv(
        "JAVA_HOME", _fake_jdk(t, 'JAVA_VERSION="11.0.2"\n')),
    "jdk_8": lambda mp, t: mp.setenv(
        "JAVA_HOME", _fake_jdk(t, 'JAVA_VERSION="1.8.0_402"\n')),
    "no_release": lambda mp, t: mp.setenv("JAVA_HOME", _fake_jdk(t, None)),
    "caller_xshare": lambda mp, t: {
        "spark.driver.extraJavaOptions": "-Xmx1g -Xshare:off"},
    "caller_maps": lambda mp, t: {
        "spark.driver.extraJavaOptions": "-XX:SharedArchiveFile=/a.jsa"},
    "caller_records": lambda mp, t: {
        "spark.driver.extraJavaOptions": "-XX:ArchiveClassesAtExit=/a.jsa"},
    "tool_options": lambda mp, t: mp.setenv("JAVA_TOOL_OPTIONS",
                                            "-Xshare:off"),
    "cache_unwritable": lambda mp, t: (
        (t / "file").write_text("x"),
        mp.setenv("XDG_CACHE_HOME", str(t / "file"))),
    "conf_file": lambda mp, t: (
        t / "spark" / "conf" / "spark-defaults.conf").write_text("a b\n"),
    "conf_dir_env": lambda mp, t: (
        (t / "c").mkdir(), (t / "c" / "log4j2.properties").write_text("x"),
        mp.setenv("SPARK_CONF_DIR", str(t / "c"))),
}


@pytest.mark.parametrize("gate", sorted(GATES))
def test_gate_adds_no_flag_and_keeps_conf_dir(env, monkeypatch, launches,
                                              gate):
    out = GATES[gate](monkeypatch, env)
    master = out if isinstance(out, str) else "local[2]"
    conf = out if isinstance(out, dict) else {}
    before = os.environ.get("SPARK_CONF_DIR")
    assert _class_archive(master, conf) is None
    assert get_spark(master=master, extra_conf=conf) == "session"
    opts, conf_dir, _ = launches[-1]
    assert opts == conf.get("spark.driver.extraJavaOptions")
    assert conf_dir == before == os.environ.get("SPARK_CONF_DIR")


@pytest.mark.parametrize("conf_env", [None, "templates"])
def test_conf_dir_swapped_for_the_launch_only(env, monkeypatch, launches,
                                              conf_env):
    if conf_env:
        (env / "t").mkdir()
        (env / "t" / "log4j2.properties.template").write_text("x")
        monkeypatch.setenv("SPARK_CONF_DIR", str(env / "t"))
    before = os.environ.get("SPARK_CONF_DIR")
    get_spark(master="local[2]",
              extra_conf={"spark.driver.extraJavaOptions": "-Da=1"})
    opts, conf_dir, _ = launches[-1]
    assert opts.startswith("-Da=1 -XX:ArchiveClassesAtExit=")
    assert conf_dir == str(env / "cache" / "legal_ner_spark" / "conf")
    assert os.environ.get("SPARK_CONF_DIR") == before

    def fail(builder):
        raise RuntimeError("launch failed")
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fail)
    with pytest.raises(RuntimeError):
        get_spark(master="local[2]")
    assert os.environ.get("SPARK_CONF_DIR") == before


def _java():
    return os.path.join(_jdk(), "bin", "java")


def test_jvm_ignores_an_archive_of_zeros(tmp_path):
    zeros = tmp_path / "zeros.jsa"
    zeros.write_bytes(bytes(1 << 16))
    run = subprocess.run([_java(), f"-XX:SharedArchiveFile={zeros}",
                          "-Xlog:cds=off", "-version"],
                         capture_output=True, timeout=60)
    assert run.returncode == 0, run.stderr


def test_jvm_refuses_to_record_with_a_non_empty_dir_on_the_classpath(
        tmp_path):
    # Why get_spark swaps a conf dir that holds files for an empty one: a
    # class loaded from a jar after a non-empty directory on the classpath
    # stops a recording JVM.  (``-version`` loads no class from the
    # classpath, so the launcher jar's main class is run; without arguments
    # it exits 1 either way.)
    from pyspark.find_spark_home import _find_spark_home
    jar = glob.glob(os.path.join(_find_spark_home(), "jars",
                                 "spark-launcher*.jar"))[0]
    for name, files in [("full", ["x.conf"]), ("empty", [])]:
        d = tmp_path / name
        d.mkdir()
        for f in files:
            (d / f).write_text("x")
        archive = tmp_path / f"{name}.jsa"
        run = subprocess.run(
            [_java(), f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off",
             "-Xlog:cds+dynamic=off", "-cp", f"{d}{os.pathsep}{jar}",
             "org.apache.spark.launcher.Main"],
            capture_output=True, timeout=60)
        out = run.stdout + run.stderr
        refused = b"Cannot have non-empty directory in paths" in out
        assert refused == bool(files), out
        head = archive.read_bytes()[:4] if archive.exists() else b""
        assert (int.from_bytes(head, sys.byteorder) == _CDS_MAGIC) != refused


def test_fixture_session_names_one_archive_flag(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "5000"
    opts = conf.get("spark.driver.extraJavaOptions")
    assert sum(f"-XX:{name}=" in opts for name in CDS) == 1


# ---------------------------------------------------------- worker daemon

DAEMON = "spark.python.daemon.module"
WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def _spark_lib(env):
    """Give the fake Spark home a ``python/lib`` with two small zips."""
    lib = env / "spark" / "python" / "lib"
    lib.mkdir(parents=True, exist_ok=True)
    for name, pkg in [("pyspark.zip", "fakespark"),
                      ("py4j-0.1-src.zip", "fakepy4j")]:
        with zipfile.ZipFile(lib / name, "w") as zf:
            zf.writestr(f"{pkg}/__init__.py", "X = 1\n")
            zf.writestr(f"{pkg}/sub.py", "Y = 2\n")
    return lib


def _cache(env):
    return str(env / "cache" / "legal_ner_spark")


def test_local_launch_builds_and_names_the_daemon(env, launches):
    lib = _spark_lib(env)
    get_spark(master="local[2]")
    options = launches[-1][2]
    assert options[DAEMON] == "legal_ner_spark.daemon"
    assert options[WORKER_PATH] == session._PACKAGE_ROOT
    target, zips = daemon.compiled_dir(str(lib), _cache(env))
    assert daemon.complete(target)
    assert [os.path.basename(z) for z in zips] == ["py4j-0.1-src.zip",
                                                   "pyspark.zip"]
    tree = os.path.join(target, "pyspark", "fakespark")
    assert sorted(os.listdir(tree)) == ["__init__.py", "__pycache__",
                                        "sub.py"]
    pyc = f"*.{sys.implementation.cache_tag}.pyc"
    assert len(glob.glob(os.path.join(tree, "__pycache__", pyc))) == 2


DAEMON_GATES = {
    "cluster_master": lambda mp, t: "yarn",
    "gateway_port": lambda mp, t: mp.setenv("PYSPARK_GATEWAY_PORT", "1"),
    "gateway_running": lambda mp, t: mp.setattr(
        SparkContext, "_gateway", object()),
    "cache_unwritable": lambda mp, t: (
        (t / "file").write_text("x"),
        mp.setenv("XDG_CACHE_HOME", str(t / "file"))),
    "caller_daemon": lambda mp, t: {DAEMON: "my.daemon"},
}


@pytest.mark.parametrize("gate", sorted(DAEMON_GATES))
def test_gate_keeps_the_stock_daemon(env, monkeypatch, launches, gate):
    _spark_lib(env)
    out = DAEMON_GATES[gate](monkeypatch, env)
    master = out if isinstance(out, str) else "local[2]"
    conf = out if isinstance(out, dict) else {}
    get_spark(master=master, extra_conf=conf)
    assert launches[-1][2].get(DAEMON) == conf.get(DAEMON)
    assert glob.glob(os.path.join(_cache(env), "py-*")) == []


@pytest.mark.parametrize("master, caller, expected", [
    ("local[2]", ["/a", "/b"], ["/a", "/b", "ROOT"]),
    ("local[2]", ["ROOT", "/b"], ["ROOT", "/b"]),
    ("local[2]", None, ["ROOT"]),
    ("yarn", ["/a"], ["/a"]),
    ("yarn", None, None),
])
def test_worker_pythonpath_keeps_the_caller_entries(env, launches, master,
                                                    caller, expected):
    def join(entries):
        return os.pathsep.join(session._PACKAGE_ROOT if e == "ROOT" else e
                               for e in entries)
    conf = {} if caller is None else {WORKER_PATH: join(caller)}
    get_spark(master=master, extra_conf=conf)
    got = launches[-1][2].get(WORKER_PATH)
    assert got == (None if expected is None else join(expected))


def test_only_a_complete_directory_is_swapped_in(env):
    lib = _spark_lib(env)
    cache = _cache(env)
    target, zips = daemon.compiled_dir(str(lib), cache)
    # the trees without the completion marker, as a build cut short
    for z in zips:
        with zipfile.ZipFile(z) as zf:
            zf.extractall(os.path.join(target, os.path.basename(z)[:-4]))
    stock = ["/cwd", str(lib / "pyspark.zip"), str(lib / "py4j-0.1-src.zip"),
             "/jar.jar"]
    path = list(stock)
    assert daemon.swap(path, cache) is None
    assert path == stock

    importers = [stock[1], os.path.join(stock[1], "fakespark", "")]
    for k in importers:
        sys.path_importer_cache[k] = None
    try:
        assert daemon.build(str(lib), cache) == target
        assert daemon.swap(path, cache) == target
        assert path == ["/cwd", os.path.join(target, "pyspark"),
                        os.path.join(target, "py4j-0.1-src"), "/jar.jar"]
        assert not any(k in sys.path_importer_cache for k in importers)
    finally:
        for k in importers:
            sys.path_importer_cache.pop(k, None)


def test_changed_zip_or_interpreter_gets_a_new_key(env, monkeypatch):
    lib = _spark_lib(env)
    cache = _cache(env)
    old = daemon.build(str(lib), cache)
    path = [str(lib / "pyspark.zip")]
    st = os.stat(lib / "pyspark.zip")
    os.utime(lib / "pyspark.zip", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    new, _ = daemon.compiled_dir(str(lib), cache)
    assert new != old
    assert daemon.swap(list(path), cache) is None
    assert daemon.build(str(lib), cache) == new
    assert glob.glob(os.path.join(cache, "py-*")) == [new]
    monkeypatch.setattr(sys.implementation, "cache_tag", "other-99")
    assert daemon.compiled_dir(str(lib), cache)[0] != new
    assert daemon.swap(list(path), cache) is None


def test_fixture_session_workers_import_compiled_pyspark(spark):
    cache = daemon.cache_dir()

    def probe(_):
        import pyspark
        yield pyspark.__file__, list(sys.path)

    [(pyspark_file, path)] = (spark.sparkContext.parallelize([0], 1)
                              .mapPartitions(probe).collect())
    assert pyspark_file.startswith(os.path.join(cache, "py-"))
    lib = os.path.join("python", "lib", "")
    assert [p for p in path if p.endswith(".zip") and lib in p] == []

    recs = ops.extract_records(synth.synthetic_corpus(spark, 4,
                                                      partitions=2))
    got = {(r.doc_id, r.subj, r.pred, r.obj)
           for r in ops.triples(recs).collect()}
    docs = [synth.gen_doc(i) for i in range(4)]
    expected = {(d["doc_id"],) + t for d in docs for t in extract_document(
        d["doc_id"], synth.assemble_text(d["spans"])).triples}
    assert got == expected


# ------------------------------------------------ in-process file system

FS_IMPL = "spark.hadoop.fs.file.impl"
CLASSPATH = "spark.driver.extraClassPath"
# the installed Spark's Hadoop API jar (the env fixture replaces SPARK_HOME)
HADOOP_API = glob.glob(os.path.join(_find_spark_home(), "jars",
                                    "hadoop-client-api-*.jar"))[0]
HAS_JAVAC = os.path.exists(os.path.join(_jdk(), "bin", "javac"))


def _hadoop_api(env, copy=False):
    """Put the Hadoop API jar in the fake Spark home: a link, or a copy
    whose stamp a test may change."""
    dst = env / "spark" / "jars" / os.path.basename(HADOOP_API)
    if copy:
        shutil.copyfile(HADOOP_API, dst)
    else:
        dst.symlink_to(HADOOP_API)
    return dst


def _fs_jars(env):
    return glob.glob(os.path.join(_cache(env), "fs-*.jar"))


@pytest.mark.parametrize("master, in_driver", [
    ("local", True), ("local[2]", True), ("local[*]", True),
    ("local[4,3]", True), ("local[*,2]", True),
    ("local-cluster[2,1,1024]", False), ("localhost", False),
    ("local[x]", False), ("yarn", False)])
def test_in_driver_masters(master, in_driver):
    assert bool(session._IN_DRIVER_MASTER.fullmatch(master)) == in_driver


@pytest.mark.skipif(not HAS_JAVAC, reason="the JDK has no javac")
def test_local_launch_names_the_in_process_file_system(env, launches):
    _hadoop_api(env)
    get_spark(master="local[2]")
    opts, _, options = launches[-1]
    [jar] = _fs_jars(env)
    assert options[FS_IMPL] == session._FS_CLASS
    assert options[CLASSPATH] == jar
    with zipfile.ZipFile(jar) as zf:
        assert sorted(zf.namelist()) == [
            "legal_ner_spark/NioLocalFileSystem$Raw.class",
            "legal_ner_spark/NioLocalFileSystem.class"]
    # the archive of a launch with the jar is its own
    archive = [f for f in opts.split() if f.startswith("-XX:")][0]
    assert archive.split("=", 1)[1] != _archive()


FS_GATES = {
    "no_javac": lambda mp, t: mp.setenv(
        "JAVA_HOME", _fake_jdk(t, 'JAVA_VERSION="17.0.2"\n')),
    "javac_fails": lambda mp, t: mp.setenv(
        "JAVA_HOME", _fake_jdk(t, 'JAVA_VERSION="17.0.2"\n', "exit 1")),
    "local_cluster": lambda mp, t: "local-cluster[2,1,1024]",
    "cluster_master": lambda mp, t: "yarn",
    "gateway_port": lambda mp, t: mp.setenv("PYSPARK_GATEWAY_PORT", "1"),
    "gateway_running": lambda mp, t: mp.setattr(
        SparkContext, "_gateway", object()),
    "caller_fs": lambda mp, t: {
        FS_IMPL: "org.apache.hadoop.fs.RawLocalFileSystem"},
    "caller_classpath": lambda mp, t: {CLASSPATH: "/x.jar"},
    "submit_args": lambda mp, t: mp.setenv(
        "PYSPARK_SUBMIT_ARGS", "--driver-class-path /x.jar pyspark-shell"),
    "defaults_file": lambda mp, t: (
        t / "spark" / "conf" / "spark-defaults.conf").write_text(
            "spark.driver.extraClassPath /x.jar\n"),
    "cache_unwritable": lambda mp, t: (
        (t / "file").write_text("x"),
        mp.setenv("XDG_CACHE_HOME", str(t / "file"))),
}


@pytest.mark.parametrize("gate", sorted(FS_GATES))
def test_gate_keeps_the_stock_file_system(env, monkeypatch, launches, gate):
    _hadoop_api(env)
    out = FS_GATES[gate](monkeypatch, env)
    master = out if isinstance(out, str) else "local[2]"
    conf = out if isinstance(out, dict) else {}
    get_spark(master=master, extra_conf=conf)
    options = launches[-1][2]
    assert options.get(FS_IMPL) == conf.get(FS_IMPL)
    assert options.get(CLASSPATH) == conf.get(CLASSPATH)
    assert _fs_jars(env) == []


@pytest.mark.skipif(not HAS_JAVAC, reason="the JDK has no javac")
def test_changed_source_or_hadoop_jar_gets_a_new_jar(env, monkeypatch):
    hadoop = _hadoop_api(env, copy=True)
    first = session._local_fs_jar("local[2]", {})
    built = os.stat(first).st_mtime_ns
    assert session._local_fs_jar("local[2]", {}) == first
    assert os.stat(first).st_mtime_ns == built
    src = env / "src" / "NioLocalFileSystem.java"
    src.parent.mkdir()
    with open(session._FS_SOURCE, "rb") as fh:
        src.write_bytes(fh.read() + b"// changed\n")
    monkeypatch.setattr(session, "_FS_SOURCE", str(src))
    second = session._local_fs_jar("local[2]", {})
    assert second != first
    assert _fs_jars(env) == [second]
    st = os.stat(hadoop)
    os.utime(hadoop, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    third = session._local_fs_jar("local[2]", {})
    assert third not in (first, second)
    assert _fs_jars(env) == [third]


def test_archive_key_follows_the_jar(env):
    jars = [env / "a.jar", env / "b.jar"]
    for j in jars:
        j.write_bytes(b"jar")

    def archive(jar):
        opts, _ = _class_archive("local[2]", {}, jar and str(jar))
        return [f.split("=", 1)[1] for f in opts.split()
                if f.startswith("-XX:")][0]
    plain = archive(None)
    a = archive(jars[0])
    assert len({plain, a, archive(jars[1])}) == 3
    assert os.path.basename(a).startswith(os.path.basename(plain)[:-4] + "-")
    st = os.stat(jars[0])
    os.utime(jars[0], ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert archive(jars[0]) != a


def test_recording_keeps_the_archive_with_or_without_the_jar(env):
    jar = env / "a.jar"
    jar.write_bytes(b"jar")
    cache = env / "cache" / "legal_ner_spark"
    plain = _archive()
    stem = os.path.basename(plain)[:-4]
    magic = _CDS_MAGIC.to_bytes(4, sys.byteorder)
    for name in [stem, stem + "-0123456789ab", "0123456789abcdef01234567"]:
        (cache / f"{name}.jsa").write_bytes(magic)
    opts, _ = _class_archive("local[2]", {}, str(jar))
    assert "-XX:ArchiveClassesAtExit=" in opts
    assert os.listdir(cache / "conf") == []
    assert sorted(glob.glob(str(cache / "*.jsa"))) == [plain]
    # the jar's archive, once written, survives a recording without it
    with_jar = opts.split("-XX:ArchiveClassesAtExit=", 1)[1].split()[0]
    with open(with_jar, "wb") as fh:
        fh.write(magic)
    os.remove(plain)
    opts, _ = _class_archive("local[2]", {})
    assert "-XX:ArchiveClassesAtExit=" + plain in opts
    assert glob.glob(str(cache / "*.jsa")) == [with_jar]


def _tree_modes(root):
    return {os.path.relpath(os.path.join(d, n), root):
            stat.S_IMODE(os.stat(os.path.join(d, n)).st_mode)
            for d, dirs, files in os.walk(root) for n in dirs + files}


def _local_fs(spark, cls):
    jvm = spark._jvm
    fs = cls()
    fs.initialize(jvm.java.net.URI("file:///"),
                  spark._jsc.hadoopConfiguration())
    return fs


@pytest.mark.skipif(not HAS_JAVAC, reason="the JDK has no javac")
def test_fixture_session_writes_the_stock_layout(spark, tmp_path):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == session._FS_CLASS
    out = tmp_path / "t"
    (spark.createDataFrame([(i, f"p{i % 3}") for i in range(12)],
                           "x int, pred string")
     .repartition(2).write.partitionBy("pred").parquet(str(out)))
    modes = _tree_modes(out)
    data = [p for p in modes if p.endswith(".parquet")]
    crcs = [os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
            for p in data]
    dirs = {"pred=p0", "pred=p1", "pred=p2"}
    assert {os.path.dirname(p) for p in data} == dirs
    assert set(modes) == (set(data) | set(crcs) | dirs
                          | {"_SUCCESS", "._SUCCESS.crc"})
    # Hadoop's default umask (022) applied to 0666 files, 0777 directories
    assert {p: modes[p] for p in dirs} == dict.fromkeys(dirs, 0o755)
    assert {m for p, m in modes.items() if p not in dirs} == {0o644}

    Path = jvm.org.apache.hadoop.fs.Path
    for name in "ab":
        (tmp_path / name).write_text(name)
    assert not fs.rename(Path(str(tmp_path / "a")), Path(str(tmp_path / "b")))
    assert (tmp_path / "b").read_text() == "b"
    assert fs.rename(Path(str(tmp_path / "a")), Path(str(tmp_path / "c")))


@pytest.mark.skipif(not HAS_JAVAC, reason="the JDK has no javac")
def test_set_permission_matches_the_stock_file_system(spark, tmp_path):
    """Modes left by ``setPermission`` of Hive's ``ProxyLocalFileSystem``
    (the stock ``file:`` FS, forking ``chmod``) and of the shim, on a
    file, a directory, a sticky directory (above 0777: the shim forks too)
    and a set-group-ID directory, which chmod's 4-digit mode keeps."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    cases = [("file", 0o644, "-rw-------"), ("file", 0o644, "-rwxr-x---"),
             ("dir", 0o755, "drwx------"), ("dir", 0o755, "drwxrwxrwt"),
             ("dir", 0o2775, "drwxr-xr-x")]
    modes = {}
    for side, cls in [("stock", jvm.org.apache.hadoop.hive.ql.io
                       .ProxyLocalFileSystem),
                      ("shim", getattr(jvm.legal_ner_spark,
                                       "NioLocalFileSystem"))]:
        fs = _local_fs(spark, cls)
        for i, (kind, start, perm) in enumerate(cases):
            p = tmp_path / side / str(i)
            if kind == "dir":
                p.mkdir(parents=True)
            else:
                p.parent.mkdir(parents=True, exist_ok=True)
                p.write_text("x")
            os.chmod(p, start)
            fs.setPermission(Path(str(p)), FsPermission.valueOf(perm))
        modes[side] = _tree_modes(tmp_path / side)
    assert modes["shim"] == modes["stock"]
    assert modes["shim"] == {"0": 0o600, "1": 0o750, "2": 0o700,
                             "3": 0o1777, "4": 0o2755}


NO_CHMOD_CHILD = """
import sys
from legal_ner_spark import synth
from legal_ner_spark.session import get_spark
from jobs.incremental_kg import ingest_batch
out = sys.argv[1]
spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={
    "spark.driver.extraJavaOptions": "-Xshare:auto"})
jvm = spark._jvm
print(jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    .getClass().getName())
(spark.createDataFrame([(i, f"p{i % 3}") for i in range(12)],
                       "x int, pred string")
 .write.partitionBy("pred").parquet(out + "/t"))
ingest_batch(spark, out + "/kg", synth.synthetic_corpus(spark, 4, 2), "s1")
sys.stdout.flush()
# a stock setPermission: the logging chmod is the one the JVM runs
stock = jvm.org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem()
stock.initialize(jvm.java.net.URI("file:///"),
                 spark._jsc.hadoopConfiguration())
stock.setPermission(jvm.org.apache.hadoop.fs.Path(out + "/t"),
                    jvm.org.apache.hadoop.fs.permission.FsPermission
                    .valueOf("drwxr-xr-x"))
spark.stop()
"""


@pytest.mark.skipif(not HAS_JAVAC, reason="the JDK has no javac")
def test_local_writes_and_ingest_fork_no_chmod(tmp_path):
    """A local session with a logging ``chmod`` first on ``PATH``: a
    partitioned write and an ``ingest_batch`` run none (the session maps
    no class archive of its own, so it records none)."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "chmod.log"
    (bin_dir / "chmod").write_text(
        f'#!/bin/sh\necho "$*" >> {log}\nexec {shutil.which("chmod")} "$@"\n')
    (bin_dir / "chmod").chmod(0o755)
    child_env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}"
                     f"{os.environ.get('PATH', '')}",
                     PYTHONPATH=session._PACKAGE_ROOT)
    for k in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        child_env.pop(k, None)
    run = subprocess.run([sys.executable, "-c", NO_CHMOD_CHILD,
                          str(tmp_path / "out")],
                         cwd=session._PACKAGE_ROOT, env=child_env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[0] == session._FS_CLASS
    assert log.read_text().split("\n")[:-1] == [
        f"0755 {tmp_path / 'out' / 't'}"]
