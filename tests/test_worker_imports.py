"""The enrich UDF's trim of nested zipimport finders."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

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
