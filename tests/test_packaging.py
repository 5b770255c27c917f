from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP = os.path.join(REPO, "dist", "deduplicate_spark.zip")


def test_dist_zip_matches_working_tree():
    """``spark-submit --py-files dist/deduplicate_spark.zip`` ships the
    package from the zip, so it must hold exactly the working-tree sources
    (rebuild with ``python jobs/build_zip.py``)."""
    pkg = os.path.join(REPO, "deduplicate_spark")
    tree = {
        os.path.relpath(os.path.join(root, f), REPO)
        for root, _dirs, files in os.walk(pkg)
        if "__pycache__" not in root
        for f in files
        if f.endswith(".py")
    }
    with zipfile.ZipFile(ZIP) as zf:
        members = {n for n in zf.namelist() if n.endswith(".py")}
        assert members == tree
        for name in sorted(members):
            with open(os.path.join(REPO, name), "rb") as f:
                assert zf.read(name) == f.read(), f"{name} differs from the zip; rebuild it"
