"""forget_zip_importers: no zip importer survives it, the next
``importlib.invalidate_caches()`` re-reads no archive directory, and imports
from the same zip still work afterwards (no Spark needed)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from adsimportpipeline_spark.session import forget_zip_importers


@pytest.fixture
def zpkg_zip(tmp_path, monkeypatch):
    path = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/a.py", "NAME = 'a'\n")
        zf.writestr("zpkg/b.py", "NAME = 'b'\n")
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in ("zpkg", "zpkg.a", "zpkg.b"):
        sys.modules.pop(name, None)


def test_forget_zip_importers_stops_directory_rereads(zpkg_zip, monkeypatch):
    import zpkg.a

    assert zpkg.a.NAME == "a"
    assert any(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    path_before = list(sys.path)
    modules_before = set(sys.modules)

    forget_zip_importers()

    assert not any(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    assert sys.path == path_before
    assert set(sys.modules) == modules_before

    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads == []

    # a fresh importer over the same archive is built from zipimport's
    # cached directory: the import works and still reads nothing
    import zpkg.b

    assert zpkg.b.NAME == "b"
    assert reads == []
