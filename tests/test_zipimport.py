"""The engine's lazy zip-directory invalidation (equi7grid_spark/_zipimport.py):
import semantics as before, and no archive re-read inside
importlib.invalidate_caches(), which pyspark calls before every task."""

from __future__ import annotations

import importlib
import os
import pkgutil
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

import equi7grid_spark  # noqa: F401  (installs the backport)
from equi7grid_spark import _zipimport

REPO = Path(__file__).resolve().parents[1]


@pytest.fixture
def zip_on_path(tmp_path):
    """An absolute archive path put on sys.path, and the modules imported
    from it, removed again afterwards."""
    path = str(tmp_path / "mods.zip")
    sys.path.insert(0, path)
    before = set(sys.modules)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for name in set(sys.modules) - before:
        del sys.modules[name]


def _write(path: str, **modules: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_install_is_idempotent():
    assert _zipimport.installed()
    invalidate = zipimport.zipimporter.invalidate_caches
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is invalidate
    if sys.version_info < (3, 13):
        assert invalidate is _zipimport._invalidate_caches


def test_rewritten_archive_is_read_on_next_lookup(zip_on_path):
    _write(zip_on_path, e7zip_a="X = 1\n")
    assert importlib.import_module("e7zip_a").X == 1
    _write(zip_on_path, e7zip_a="X = 1\n", e7zip_b="Y = 2\n")
    importlib.invalidate_caches()
    # pkgutil reads the dropped directory back, as a lookup would
    assert sorted(m.name for m in pkgutil.iter_modules([zip_on_path])) == ["e7zip_a", "e7zip_b"]
    assert importlib.import_module("e7zip_b").Y == 2


def test_deleted_archive_gives_module_not_found(zip_on_path):
    _write(zip_on_path, e7zip_c="Z = 3\n")
    assert importlib.import_module("e7zip_c").Z == 3
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("e7zip_d")
    # a failed read is not cached, and pkgutil lists nothing instead of
    # raising KeyError on the dropped directory
    assert zip_on_path not in zipimport._zip_directory_cache
    assert list(pkgutil.iter_modules([zip_on_path])) == []


COUNT_READS = """
import importlib, os, sys, zipfile, zipimport
path = os.path.abspath("mods.zip")
with zipfile.ZipFile(path, "w") as zf:
    zf.writestr("pkg/__init__.py", "")
    zf.writestr("pkg/m.py", "")
sys.path[:0] = [path, path + "/pkg"]   # two importers over one archive
import pkg, m
if sys.argv[1] == "engine":
    import equi7grid_spark
importers = [i for i in sys.path_importer_cache.values()
             if isinstance(i, zipimport.zipimporter)]
own_directory = sum("_files" in vars(i) for i in importers)
reads = 0
read_directory = zipimport._read_directory
def counting(archive):
    global reads
    reads += 1
    return read_directory(archive)
zipimport._read_directory = counting
importlib.invalidate_caches()
at_invalidate = reads
try:
    import e7zip_missing
except ModuleNotFoundError:
    pass
print(len(importers), own_directory, at_invalidate, reads)
"""


@pytest.mark.parametrize("mode", ["stock", "engine"])
def test_invalidate_caches_reads_no_archive(tmp_path, mode):
    """With the engine imported, invalidate_caches() reads no archive
    directory and the next lookup reads it once for both importers; a
    process without the engine re-reads it once per importer, at once,
    before Python 3.13."""
    script = tmp_path / "count.py"
    script.write_text(COUNT_READS)
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, str(script), mode], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=60, check=True,
    ).stdout.split()
    importers, own_directory, at_invalidate, total = map(int, out)
    assert importers == 2
    if sys.version_info >= (3, 13):  # lazy natively; may import importlib.metadata
        assert total == 1
    elif mode == "engine":
        # importers made before the engine was imported drop their copy
        assert (own_directory, at_invalidate, total) == (0, 0, 1)
    else:
        assert (own_directory, at_invalidate, total) == (2, 2, 2)
