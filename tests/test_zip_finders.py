"""The Arrow stage drops cached zip finders, so a Python worker's per-task
``importlib.invalidate_caches()`` re-reads no zip directory, and imports
from the zip keep working. No Spark needed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from ispaq_spark.functions.extraction import _drop_zip_finders


def _zip_finders():
    return [
        p
        for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/first.py", "VALUE = 1\n")
        z.writestr("zpkg/second.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    saved_modules = dict(sys.modules)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("zpkg.first").VALUE == 1
        assert _zip_finders()
        _drop_zip_finders()
        assert _zip_finders() == []
        assert importlib.import_module("zpkg.second").VALUE == 2
        assert sys.modules["zpkg.second"].__file__.startswith(str(archive))
        importlib.invalidate_caches()
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
