"""The committed ``spark-submit --py-files`` artifact ships exactly the
package source: rebuild it with ``python scripts/make_pyfiles_zip.py``
whenever a module changes."""

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_matches_package_source():
    pkg = os.path.join(REPO, "fs_crawler_spark")
    source = {}
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    source[os.path.relpath(full, REPO)] = fh.read()
    with zipfile.ZipFile(os.path.join(REPO, "dist", "fs_crawler_spark.zip")) as z:
        shipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    assert sorted(shipped) == sorted(source)
    stale = [n for n in source if shipped[n] != source[n]]
    assert not stale, f"rebuild dist/fs_crawler_spark.zip: {stale} differ"
