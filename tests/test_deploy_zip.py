"""The executor zip belongs to the checkout it was built from.

``deploy.package_zip_path`` reuses a zip while it is newer than the
package's newest ``.py`` file. Executors import that zip whenever the
driver's cwd is outside the checkout, so two checkouts sharing one zip
path would run one tree on the driver and another on the executors.
Pure Python: two temporary package trees, no Spark session."""

import importlib.util
import os
import shutil
import tempfile
import zipfile

from dr_source_spark import deploy


def _checkout(root, mtime):
    """A package tree under ``root`` whose ``__init__`` names the tree, with
    its deploy module loaded from there."""
    pkg = root / "dr_source_spark"
    pkg.mkdir(parents=True)
    shutil.copy(deploy.__file__, pkg / "deploy.py")
    (pkg / "__init__.py").write_text(f"TREE = {root.name!r}\n")
    for fp in pkg.iterdir():
        os.utime(fp, (mtime, mtime))
    spec = importlib.util.spec_from_file_location(f"_deploy_{root.name}", pkg / "deploy.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree(zip_path):
    with zipfile.ZipFile(zip_path) as zf:
        return zf.read("dr_source_spark/__init__.py").decode()


def test_two_checkouts_ship_their_own_zip(tmp_path, monkeypatch):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    older = _checkout(tmp_path / "a", 1_700_000_000)
    newer = _checkout(tmp_path / "b", 1_700_100_000)

    # the newer checkout builds first; the older one must not reuse its zip
    zip_b = newer.package_zip_path()
    zip_a = older.package_zip_path()
    assert zip_a != zip_b
    assert _tree(zip_a) == "TREE = 'a'\n"
    assert _tree(zip_b) == "TREE = 'b'\n"
    # each rebuild is idempotent and still its own tree
    assert older.package_zip_path() == zip_a and _tree(zip_a) == "TREE = 'a'\n"
    assert newer.package_zip_path() == zip_b and _tree(zip_b) == "TREE = 'b'\n"
