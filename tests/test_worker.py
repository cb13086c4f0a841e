"""drop_zip_importers: after it, importlib.invalidate_caches() (which
PySpark's worker calls before every task) has no zip directory to re-read,
and imports from the zip still work."""

import importlib
import sys
import zipfile
import zipimport

from fuzzy_search_spark.spark.worker import drop_zip_importers


def _zip_importers():
    return [path for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)]


def test_drop_zip_importers(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/sub/__init__.py", "")
        zf.writestr("zpkg/sub/first.py", "VALUE = 1\n")
        zf.writestr("zpkg/sub/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zpkg.sub.first").VALUE == 1
        assert _zip_importers()

        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads, "invalidate_caches() re-read no zip directory"

        reads.clear()
        drop_zip_importers()
        assert _zip_importers() == []
        importlib.invalidate_caches()
        assert reads == []
        # the rebuilt importer serves the archive from zipimport's own
        # directory cache: still no read
        assert importlib.import_module("zpkg.sub.second").VALUE == 2
        assert reads == []
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        drop_zip_importers()
