"""The enrich UDF's trim of zipimport finders that cost every task time."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pii_spark.spark.pipeline import _drop_nested_zip_finders


def test_drop_nested_zip_finders(tmp_path):
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/deep/__init__.py", "")
        z.writestr("zpkg/sub/deep/one.py", "X = 1\n")
        z.writestr("zpkg/sub/deep/two.py", "X = 2\n")
    root = str(archive)
    sys.path.insert(0, root)
    try:
        importlib.import_module("zpkg.sub.deep.one")

        def zip_finders():
            return {p: f for p, f in sys.path_importer_cache.items()
                    if isinstance(f, zipimport.zipimporter)
                    and p.startswith(root)}

        assert any(f.prefix for f in zip_finders().values())
        _drop_nested_zip_finders()
        left = zip_finders()
        assert list(left) == [root] and left[root].prefix == ""
        # a fresh submodule import rebuilds its nested finder on demand
        assert importlib.import_module("zpkg.sub.deep.two").X == 2
    finally:
        sys.path.remove(root)
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(root)]:
            del sys.path_importer_cache[p]


def test_drop_python_free_archives(tmp_path):
    """An archive without a Python module (Spark puts spark-core's jar on
    every worker's sys.path) leaves sys.path and the finder cache, so
    invalidate_caches() stops re-reading its directory; an archive that
    holds Python stays importable."""
    jar = tmp_path / "core.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
        for i in range(50):
            z.writestr(f"org/example/C{i}.class", b"\xca\xfe\xba\xbe")
    mods = tmp_path / "mods.zip"
    with zipfile.ZipFile(mods, "w") as z:
        z.writestr("zmod_kept.py", "X = 3\n")
    paths = [str(jar), str(mods)]
    sys.path[:0] = paths
    try:
        # a lookup that misses walks both archives, caching a finder each
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module("zmod_absent")
        assert all(isinstance(sys.path_importer_cache.get(p),
                              zipimport.zipimporter) for p in paths)
        _drop_nested_zip_finders()
        assert str(jar) not in sys.path
        assert str(jar) not in sys.path_importer_cache
        assert str(mods) in sys.path
        importlib.invalidate_caches()
        assert importlib.import_module("zmod_kept").X == 3
    finally:
        for p in paths:
            while p in sys.path:
                sys.path.remove(p)
            sys.path_importer_cache.pop(p, None)
        sys.modules.pop("zmod_kept", None)
