"""Semantics of the stat-guarded zipimporter cache refresh (_zipguard).

Each case runs in a fresh interpreter: the guard patches a class
attribute process-wide, and the import system state it acts on
(``sys.path_importer_cache``, ``zipimport._zip_directory_cache``) must
start clean.
"""

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARD_FILE = os.path.join(REPO, "rust_diskann_spark", "_zipguard.py")


def _run(code: str, python: str = sys.executable, **env) -> str:
    proc = subprocess.run(
        [python, "-c", textwrap.dedent(code)],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO, **env},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


# a zip holding a package with a subpackage, so several zipimporters
# (one per package prefix) cover the same archive, as with pyspark.zip
_MAKE_ZIP = """
import importlib, os, sys, zipfile, zipimport

def write_zip(path, extra=None):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zgpkg/__init__.py", "")
        z.writestr("zgpkg/sub/__init__.py", "")
        z.writestr("zgpkg/sub/leaf.py", "X = 1\\n")
        if extra:
            z.writestr(extra + ".py", "VALUE = 42\\n")

archive = os.path.join(os.environ["ZG_DIR"], "lib.zip")
write_zip(archive)
sys.path.insert(0, archive)
import zgpkg.sub.leaf
importers = [
    imp for imp in sys.path_importer_cache.values()
    if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
]
assert len(importers) >= 3, importers

reads = []
_orig_read = zipimport._read_directory
def counting_read(path):
    reads.append(path)
    return _orig_read(path)
zipimport._read_directory = counting_read
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="guard is a no-op")
def test_unchanged_archive_is_not_reread(tmp_path):
    out = _run(
        _MAKE_ZIP
        + """
from rust_diskann_spark import _zipguard
assert _zipguard.installed()  # the package import installs it
importlib.invalidate_caches()  # first pass stamps the archive: one read
first = len(reads)
importlib.invalidate_caches()
print(first, len(reads) - first, len(importers))
""",
        ZG_DIR=str(tmp_path),
    )
    first, second, n_importers = map(int, out.split())
    assert first == 1 < n_importers
    assert second == 0


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="guard is a no-op")
def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path):
    """The ``sc.addPyFile`` case: an archive rewritten in place with a new
    module must be re-read on the next invalidate_caches()."""
    out = _run(
        _MAKE_ZIP
        + """
from rust_diskann_spark import _zipguard
importlib.invalidate_caches()
importlib.invalidate_caches()
before = len(reads)
write_zip(archive, extra="zgnew")
importlib.invalidate_caches()
import zgnew
print(zgnew.VALUE, len(reads) - before)
""",
        ZG_DIR=str(tmp_path),
    )
    value, rereads = map(int, out.split())
    assert value == 42
    assert rereads == 1  # one read, shared by every importer of the archive


_NO_OP_ON_313 = f"""
import importlib.util, sys, zipimport
original = zipimport.zipimporter.invalidate_caches
spec = importlib.util.spec_from_file_location("zg_probe", {GUARD_FILE!r})
guard = importlib.util.module_from_spec(spec)
spec.loader.exec_module(guard)
guard.install()
assert zipimport.zipimporter.invalidate_caches is original
assert not guard.installed()
print("ok")
"""


def test_no_op_on_313_and_later():
    """3.13 invalidates lazily, so the class method stays untouched. Runs
    under a real 3.13+ interpreter when one is on PATH, and always under
    this one with ``sys.version_info`` reporting 3.13."""
    faked = "import sys\nsys.version_info = (3, 13, 0, 'final', 0)\n"
    assert _run(faked + _NO_OP_ON_313).strip() == "ok"
    real = shutil.which("python3.13")
    if real is not None:
        assert _run(_NO_OP_ON_313, python=real).strip() == "ok"
