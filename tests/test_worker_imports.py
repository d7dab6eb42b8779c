"""The zip-archive re-read guard (`pisa_spark.worker_imports`).

The first four tests need no Spark: each puts a throwaway zip on `sys.path`
and counts `zipimport._read_directory` calls made by
`importlib.invalidate_caches()`. The last one checks the guard from inside a
Python worker of the session.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

from pisa_spark import worker_imports

pytestmark = pytest.mark.skipif(
    not worker_imports.APPLIES,
    reason="zipimporter.invalidate_caches is lazy outside CPython 3.10-3.11")


def _write_zip(path, *modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module `wi_probe_a`, on sys.path and already imported
    from, so `sys.path_importer_cache` holds its zipimporter."""
    path = tmp_path / "probe.zip"
    _write_zip(path, "wi_probe_a")
    monkeypatch.syspath_prepend(str(path))
    for name in ("wi_probe_a", "wi_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import wi_probe_a  # noqa: F401

    assert isinstance(sys.path_importer_cache[str(path)], zipimport.zipimporter)
    yield path
    sys.path_importer_cache.pop(str(path), None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths read by `zipimport._read_directory` while the test runs."""
    seen = []
    original = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(archive, reads):
    importlib.invalidate_caches()  # each importer's first guarded call reads
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_archive_rewritten_in_place_is_reread(archive, reads):
    importlib.invalidate_caches()
    _write_zip(archive, "wi_probe_a", "wi_probe_b")
    reads.clear()
    importlib.invalidate_caches()
    assert str(archive) in reads
    import wi_probe_b

    assert wi_probe_b.NAME == "wi_probe_b"


def test_deleted_archive_empties_importer(archive, reads):
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(archive)]
    assert importer._files
    archive.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_install_twice_wraps_once():
    worker_imports.install()
    worker_imports.install()
    guarded = zipimport.zipimporter.invalidate_caches
    assert not hasattr(guarded.__wrapped__, "__wrapped__")


def test_guard_runs_inside_python_worker(spark):
    """One mapInArrow task calls an engine function, then reports from its
    worker whether the guard is installed and how many archives a second
    `importlib.invalidate_caches()` re-reads (the first primes each
    importer)."""

    def probe(batches):
        import importlib as il
        import sys as worker_sys
        import zipimport as zi

        import pyarrow as pa

        from pisa_spark.config import IndexConfig
        from pisa_spark.functions.tokenize import analyze_query_terms

        for _ in batches:
            pass
        analyze_query_terms(["q1:worker probe"], IndexConfig())
        guarded = hasattr(zi.zipimporter.invalidate_caches, "__wrapped__")
        il.invalidate_caches()
        original, seen = zi._read_directory, []
        zi._read_directory = lambda path: seen.append(path) or original(path)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = original
        zips = sum(isinstance(f, zi.zipimporter)
                   for f in worker_sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict(
            {"guarded": [guarded], "reads": [len(seen)], "zips": [zips]})

    rows = (spark.range(1, numPartitions=1)
            .mapInArrow(probe, "guarded boolean, reads long, zips long")
            .collect())
    assert len(rows) == 1
    assert rows[0]["guarded"]
    assert rows[0]["reads"] == 0
    assert rows[0]["zips"] > 0
