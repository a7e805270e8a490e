"""The zip-directory guard that ``import lsh_spark`` installs
(``lsh_spark/plans/zipcache.py``): ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed.  No
Spark session."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily; no guard")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_zips(tmp_path, monkeypatch):
    import lsh_spark  # noqa: F401  (installs the guard)

    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    names = ("zc_mod_a", "zc_mod_b", "zc_mod_c")
    try:
        assert importlib.import_module("zc_mod_a").X == 1
        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        # the first invalidate after the import has no stamp to compare
        importlib.invalidate_caches()
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert str(archive) not in reads

        # a rewritten archive is re-read, so its new module imports
        _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("zc_mod_b").Y == 2

        # a missing archive takes the stock path: dropped from the cache
        archive.unlink()
        importlib.invalidate_caches()
        assert str(archive) not in zipimport._zip_directory_cache
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module("zc_mod_c")
    finally:
        for name in names:
            sys.modules.pop(name, None)
