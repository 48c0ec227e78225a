"""``session.get_spark``'s class-data-sharing archive: which flags it adds,
when it adds none, and the two JDK behaviours its checks rest on; its
compiled-pyspark worker daemon (``legal_ner_spark.daemon``): when it is
named, how its cache directory is keyed, built and swapped in, and that the
fixture session's workers import pyspark from it.  The unit tests patch
``getOrCreate`` and start no Spark session."""

import glob
import os
import shutil
import subprocess
import sys
import zipfile

import pytest
from pyspark import SparkContext
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


def _fake_jdk(root, release):
    jdk = root / "jdk"
    (jdk / "lib").mkdir(parents=True)
    (jdk / "lib" / "modules").write_bytes(b"m")
    if release is not None:
        (jdk / "release").write_text(release)
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
