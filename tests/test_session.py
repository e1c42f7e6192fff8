"""Worker package zip (session.package_zip): content-addressed, so two
checkouts never write the same path. Spark-free."""

from __future__ import annotations

import os
import time
import zipfile

from osm_spark.session import package_zip


def _tree(root, files):
    for rel, text in files.items():
        path = root / "osm_spark" / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    return str(root)


def test_package_zip_is_named_by_content(tmp_path):
    out = tmp_path / "out"
    out.mkdir()
    files = {"__init__.py": "", "geo/knn.py": "K = 1\n", "notes.txt": "skip"}
    a = _tree(tmp_path / "a", files)
    time.sleep(1.1)  # a later mtime must not change the bytes
    b = _tree(tmp_path / "b", files)
    za, zb = package_zip(a, str(out)), package_zip(b, str(out))
    assert za == zb
    with open(za, "rb") as f:
        first = f.read()
    assert package_zip(a, str(out)) == za
    with open(za, "rb") as f:
        assert f.read() == first
    with zipfile.ZipFile(za) as zf:
        assert sorted(zf.namelist()) == ["osm_spark/__init__.py", "osm_spark/geo/knn.py"]
        assert zf.read("osm_spark/geo/knn.py") == b"K = 1\n"

    c = _tree(tmp_path / "c", {**files, "geo/knn.py": "K = 2\n"})
    zc = package_zip(c, str(out))
    assert zc != za
    with zipfile.ZipFile(zc) as zf:
        assert zf.read("osm_spark/geo/knn.py") == b"K = 2\n"
    # no temp file is left behind
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(p) for p in (za, zc)
    )
