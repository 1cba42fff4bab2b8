"""The committed --py-files artifact must match the source tree — a
stale zip makes spark-submit run old code while local runs pass."""

from __future__ import annotations

import pathlib
import zipfile

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_pyfiles_zip_matches_source():
    z = zipfile.ZipFile(REPO / "dist" / "ocr_wrapper_spark.zip")
    zipped = {i.filename for i in z.infolist() if i.filename.endswith(".py")}
    source = {
        str(p.relative_to(REPO))
        for p in (REPO / "ocr_wrapper_spark").rglob("*.py")
        if "__pycache__" not in p.parts
    }
    assert zipped == source, (
        f"zip/source module sets differ: only-zip={sorted(zipped - source)}, "
        f"only-src={sorted(source - zipped)}; run scripts/make_pyfiles_zip.py"
    )
    for name in sorted(zipped):
        assert z.read(name) == (REPO / name).read_bytes(), (
            f"stale zip entry {name}; run scripts/make_pyfiles_zip.py"
        )
