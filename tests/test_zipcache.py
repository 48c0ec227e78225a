"""Stat-gated zip importer invalidation (``legal_ner_spark.zipcache``):
an unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a rewritten one is, and a Python worker running an engine task has the
gated version installed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from legal_ner_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily already")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.fixture()
def read_calls(monkeypatch):
    """Archives whose central directory ``zipimport`` reads, in order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_installed_on_import():
    assert zipimport.zipimporter.invalidate_caches is \
        zipcache.invalidate_caches


def test_unchanged_zip_is_not_reread(zip_on_path, read_calls):
    import zc_mod_a
    assert zc_mod_a.X == 1
    assert isinstance(sys.path_importer_cache[zip_on_path],
                      zipimport.zipimporter)
    importlib.invalidate_caches()            # first call stamps each importer
    read_calls.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_calls == []


def test_rewritten_zip_is_reread(zip_on_path, read_calls):
    import zc_mod_a  # noqa: F401
    importlib.invalidate_caches()
    read_calls.clear()
    _write_zip(zip_on_path, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert read_calls == [zip_on_path]
    import zc_mod_b
    assert zc_mod_b.Y == 2


def test_engine_worker_skips_rereads(spark):
    """After an engine job, a Python task that references the package
    runs on a worker whose zip importers (pyspark.zip, py4j, the spark
    jar) are not re-read by ``importlib.invalidate_caches()``."""
    from legal_ner_spark import synth
    from legal_ner_spark.operators import extract as ops
    corpus = synth.synthetic_corpus(spark, 2, partitions=1)
    assert ops.extract_records(corpus).count() > 0

    gated = zipcache  # pickled by reference: the task imports the package

    def probe(batches):
        import importlib
        import zipimport
        import pyarrow as pa
        for _ in batches:
            pass
        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or real(a)
        try:
            importlib.invalidate_caches()    # stamps importers new to it
            calls.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "gated": [zipimport.zipimporter.invalidate_caches is
                      gated.invalidate_caches],
            "n_zip": [n_zip], "reads": [len(calls)]})

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(probe, "gated boolean, n_zip bigint, reads bigint")
           .collect()[0])
    assert row.gated
    assert row.n_zip > 0                     # pyspark.zip is on the path
    assert row.reads == 0
