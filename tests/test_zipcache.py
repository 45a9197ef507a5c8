"""The stat-guarded zip directory reuse installed by the package
(nlp_cube_spark._zipcache): an unchanged archive is not re-read by
`importlib.invalidate_caches()`, a rewritten or deleted one behaves as
under the stdlib, and a reused Spark Python worker skips pyspark's
per-task re-reads."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from nlp_cube_spark import _zipcache
from nlp_cube_spark.datagen import pages_df
from nlp_cube_spark.operators import annotate as A

before_3_12 = pytest.mark.skipif(sys.version_info >= (3, 12), reason="the guard is installed only before 3.12")

MODULES = ("zc_probe_a", "zc_probe_b", "zc_probe_c", "zc_probe_pkg", "zc_probe_pkg.sub")


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding a module and a package with a submodule
    (so two zipimporters share the archive); removed from every import
    cache afterwards."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {
        "zc_probe_a.py": "VALUE = 'a'\n",
        "zc_probe_c.py": "VALUE = 'c'\n",
        "zc_probe_pkg/__init__.py": "",
        "zc_probe_pkg/sub.py": "VALUE = 'sub'\n",
    })
    monkeypatch.syspath_prepend(path)
    yield path
    for name in MODULES:
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, path):
    """Calls of zipimport._read_directory on `path` from now on."""
    reads = []
    stdlib_read = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@before_3_12
def test_package_import_installs_the_guard():
    assert _zipcache.installed()
    assert _zipcache.install() is True


@before_3_12
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importlib.import_module("zc_probe_a")
    assert importlib.import_module("zc_probe_pkg.sub").VALUE == "sub"
    importers = [f for k, f in sys.path_importer_cache.items() if k.startswith(archive)]
    assert len(importers) == 2
    reads = _count_reads(monkeypatch, archive)
    # the first guarded call reads once for both importers, then stamps
    importlib.invalidate_caches()
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert all(f._files is zipimport._zip_directory_cache[archive] for f in importers)
    assert importlib.import_module("zc_probe_c").VALUE == "c"


@before_3_12
def test_rewritten_archive_is_reread(archive, monkeypatch):
    importlib.import_module("zc_probe_a")
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, archive)
    _write_zip(archive, {"zc_probe_a.py": "VALUE = 'a'\n", "zc_probe_b.py": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zc_probe_b").VALUE == "b"
    importlib.invalidate_caches()
    assert len(reads) == 1


@before_3_12
def test_deleted_archive_matches_stdlib(archive):
    importlib.import_module("zc_probe_a")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    guarded = (importer._files, archive in zipimport._zip_directory_cache)
    assert guarded == ({}, False)
    zipimport.zipimporter.invalidate_caches.__wrapped__(importer)
    assert (importer._files, archive in zipimport._zip_directory_cache) == guarded
    # a stale directory would list zc_probe_c and fail reading the archive
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_probe_c")


def test_guard_is_not_installed_from_3_12(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    stdlib = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert not _zipcache.installed()


@before_3_12
def test_reused_worker_skips_zip_rereads(spark):
    pages = pages_df(spark, 8, seed=5, partitions=2)
    assert A.fused_words(pages).count() > 0

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        # the body imports the package itself, so it is already loaded here
        # only if an earlier task of this worker process imported it
        reused = "nlp_cube_spark" in sys.modules
        from nlp_cube_spark import _zipcache

        reads = []
        stdlib_read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return stdlib_read(path)

        importers = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            guarded_reads = len(reads)
            # the counter sees the stdlib re-read the guard skips
            zipimport.zipimporter.invalidate_caches.__wrapped__(importers[0])
        finally:
            zipimport._read_directory = stdlib_read
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()], "reused": [reused], "guarded": [_zipcache.installed()],
            "rereads": [guarded_reads], "stdlib_rereads": [len(reads) - guarded_reads],
            "importers": [len(importers)],
        })

    schema = "pid long, reused boolean, guarded boolean, rereads long, stdlib_rereads long, importers long"
    rows = spark.range(0, 8, numPartitions=2).mapInPandas(probe, schema).collect()
    assert rows and all(r.guarded and r.stdlib_rereads == 1 and r.importers > 0 for r in rows)
    reused = [r for r in rows if r.reused]
    assert reused, rows
    assert all(r.rereads == 0 for r in reused), rows
