"""dist/pii_spark.zip — the --py-files package the rule-only flavor runs
from — holds exactly the package's current sources. Rebuild it with
``python scripts/build_pyfiles.py`` after changing pii_spark/."""

import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_pyfiles_zip_matches_package_sources():
    with zipfile.ZipFile(ROOT / "dist" / "pii_spark.zip") as z:
        zipped = {name: z.read(name) for name in z.namelist()}
    sources = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in (ROOT / "pii_spark").rglob("*.py")
    }
    assert sorted(zipped) == sorted(sources), (
        "stale dist/pii_spark.zip member list; run "
        "scripts/build_pyfiles.py"
    )
    stale = sorted(n for n in sources if zipped[n] != sources[n])
    assert not stale, (
        f"stale dist/pii_spark.zip members {stale}; run "
        "scripts/build_pyfiles.py"
    )
