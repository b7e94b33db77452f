"""Unit tests for what importing the package does (no Spark).

``importlib.invalidate_caches()`` makes every ``zipimporter`` re-read its
archive's central directory on CPython < 3.12; the shim skips the re-read
while the archive's stat stamp is unchanged. Each shim test counts calls
to ``zipimport._read_directory`` on a temp zip placed on ``sys.path``.
The import itself must leave the interpreter's search path and the
environment Python workers inherit untouched.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from datafusion_loki_spark import _zipcache

needs_shim = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the shim patches nothing on 3.12+"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def counted_reads(monkeypatch):
    """Record the archive path of every central-directory read."""
    reads: list = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zc_alpha``, on sys.path; cleaned up after."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zc_alpha.py", "VALUE = 'alpha'\n")
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zc_alpha", "zc_beta"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    _zipcache._read_at.pop(archive, None)


@needs_shim
def test_unchanged_archive_is_read_once(zip_on_path, counted_reads):
    _zipcache.install()
    assert importlib.import_module("zc_alpha").VALUE == "alpha"
    counted_reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    # the first call re-reads (nothing is seeded at install), later ones
    # find the same stamp and reuse the shared directory
    assert counted_reads.count(zip_on_path) == 1
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files is zipimport._zip_directory_cache[zip_on_path]
    assert "zc_alpha.py" in importer._files


@needs_shim
def test_rewritten_archive_is_reread(zip_on_path, counted_reads):
    _zipcache.install()
    importlib.import_module("zc_alpha")
    importlib.invalidate_caches()
    counted_reads.clear()
    with zipfile.ZipFile(zip_on_path, "a") as zf:
        zf.writestr("zc_beta.py", "VALUE = 'beta'\n")
    st = os.stat(zip_on_path)
    # a same-second rewrite must still change the stamp: bump mtime_ns
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    importlib.invalidate_caches()
    assert counted_reads.count(zip_on_path) == 1
    assert importlib.import_module("zc_beta").VALUE == "beta"
    importlib.invalidate_caches()
    assert counted_reads.count(zip_on_path) == 1


@pytest.fixture()
def unpatched(monkeypatch):
    """Put the stdlib method back for one test; the package import
    installed the shim already, and monkeypatch restores it afterwards."""
    current = zipimport.zipimporter.invalidate_caches
    raw = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", raw)
    return raw


@needs_shim
def test_install_twice_does_not_double_wrap(unpatched):
    _zipcache.install()
    once = zipimport.zipimporter.invalidate_caches
    assert once is not unpatched and once.__wrapped__ is unpatched
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is once


@needs_shim
def test_install_is_noop_on_312(unpatched, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is unpatched


@needs_shim
def test_install_is_noop_without_directory_cache(unpatched, monkeypatch):
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is unpatched


_IMPORT_PROBE = """
import json, os, sys
before = [list(sys.path), os.environ.get("PYTHONPATH")]
import datafusion_loki_spark
after = [list(sys.path), os.environ.get("PYTHONPATH")]
google = sorted(m for m in sys.modules if m.split(".")[0] == "google")
print(json.dumps({"before": before, "after": after, "google": google}))
"""


def test_package_import_leaves_path_and_environment_alone():
    # Python workers inherit the driver's environment, so an import that
    # edits sys.path or PYTHONPATH would leak into every worker.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["after"] == got["before"]
    assert got["before"][1] is None
    assert got["google"] == []
