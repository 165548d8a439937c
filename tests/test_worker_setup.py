"""Worker process setup (tokforge/worker_setup.py): per-task
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed, every importer over a changed archive still
re-reads, and a Spark Python worker that ran a tokforge function carries
the wrapper."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pyarrow as pa
import pytest

from tests.conftest import SF_SMALL
from tokforge import worker_setup
from tokforge.engine.config import EngineConfig
from tokforge.engine.transform_arrow import transform_requests_arrow
from tokforge.sources.requests import requests_df

PKG = "tfws_zip_pkg"
ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path, extra: bool = False) -> None:
    files = {
        f"{PKG}/__init__.py": "TOP = 1\n",
        f"{PKG}/mod_a.py": "A = 'a'\n",
        f"{PKG}/sub/__init__.py": "SUB = 1\n",
        f"{PKG}/sub/mod_b.py": "B = 'b'\n",
    }
    if extra:
        files[f"{PKG}/late.py"] = "LATE = 'top'\n"
        files[f"{PKG}/sub/late.py"] = "LATE = 'sub'\n"
    with zipfile.ZipFile(path, "w") as zf:  # rewrites in place: same inode
        for name, src in files.items():
            zf.writestr(name, src)


def _importers(archive: str) -> list:
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package with a sub-package in a zip on sys.path, imported from
    both levels; yields (archive path, list of directory reads)."""
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive)
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{PKG}.mod_a")
    importlib.import_module(f"{PKG}.sub.mod_b")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, reads
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_wrapper_installed_by_package_import():
    assert zipimport.zipimporter.invalidate_caches is worker_setup._invalidate_if_changed
    # a fresh interpreter: `import tokforge` alone installs it
    probe = "import zipimport, tokforge; print(zipimport.zipimporter.invalidate_caches.__module__)"
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "tokforge.worker_setup"


def test_unchanged_archive_is_not_reread(zipped_pkg):
    archive, reads = zipped_pkg
    # the top level, the package and the sub-package each have an importer
    assert len(_importers(archive)) == 3
    importlib.invalidate_caches()  # an importer's first call re-reads once
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread_by_every_importer(zipped_pkg):
    archive, reads = zipped_pkg
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, extra=True)
    importlib.invalidate_caches()
    importers = _importers(archive)
    assert reads.count(archive) == len(importers) == 3
    for imp in importers:
        assert f"{PKG}/late.py" in imp._files
        assert f"{PKG}/sub/late.py" in imp._files
    assert importlib.import_module(f"{PKG}.late").LATE == "top"
    assert importlib.import_module(f"{PKG}.sub.late").LATE == "sub"
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_failing_stat_falls_through_to_reread(zipped_pkg, tmp_path):
    archive, _ = zipped_pkg
    importlib.invalidate_caches()
    (tmp_path / "pkg.zip").unlink()
    importlib.invalidate_caches()
    # the original method ran: the vanished archive's directory is gone
    assert all(imp._files == {} for imp in _importers(archive))
    assert archive not in zipimport._zip_directory_cache


def test_spark_worker_carries_wrapper(spark):
    req = requests_df(spark, SF_SMALL, "rotate:90/format:png").limit(50)
    assert transform_requests_arrow(req, EngineConfig(), verify=False).count() == 50

    def probe(batches):
        # pickled by value: imports nothing from tokforge itself
        import os
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "module": [fn.__module__],
            "name": [fn.__qualname__],
            "tokforge_loaded": ["tokforge" in sys.modules],
        })

    reports = (
        spark.range(0, 4, 1, 4)
        .mapInArrow(probe, "pid long, module string, name string, tokforge_loaded boolean")
        .collect()
    )
    warm = [r for r in reports if r["tokforge_loaded"]]
    # the idle worker that ran the transform pass is reused for the probe
    assert warm, reports
    for r in warm:
        assert (r["module"], r["name"]) == ("tokforge.worker_setup", "_invalidate_if_changed")
