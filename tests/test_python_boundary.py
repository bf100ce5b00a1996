"""Fixed cost of a Python-worker invocation.

Two things keep it down, and both are checked here without Spark:

- the stat-gated ``zipimporter.invalidate_caches`` (``_zipcache``): a
  worker's ``importlib.invalidate_caches()`` must not re-read an unchanged
  zip archive, and must keep the stock behaviour for a rewritten or a
  removed one;
- the streaming source runner never loads pandas when it unpickles the
  Excel stream reader.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import pyspark_excel_datasource_spark  # noqa: F401  (installs the hook)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(archive: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"zpkg/{name}.py", src)


def _load_zpkg(archive: str, monkeypatch) -> None:
    """Write a zip package ``zpkg`` (modules ``a`` and ``b``), put it on
    ``sys.path`` and import ``zpkg.a``."""
    _write_zip(archive, {"__init__": "", "a": "X = 1", "b": "X = 2"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zpkg.a")


def _unload_zpkg(archive: str) -> None:
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """The archive path of a loaded ``zpkg`` (see ``_load_zpkg``)."""
    archive = str(tmp_path / "zpkg.zip")
    _load_zpkg(archive, monkeypatch)
    yield archive
    _unload_zpkg(archive)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    reads: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_read_once(zpkg, directory_reads):
    importlib.invalidate_caches()
    directory_reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert [a for a in directory_reads if a == zpkg] == []
    assert importlib.import_module("zpkg.b").X == 2


def test_rewritten_archive_is_reread(zpkg, directory_reads):
    importlib.invalidate_caches()
    _write_zip(
        zpkg, {"__init__": "", "a": "X = 1", "b": "X = 2", "c": "X = 3"}
    )
    directory_reads.clear()
    importlib.invalidate_caches()
    assert zpkg in directory_reads
    assert importlib.import_module("zpkg.c").X == 3


def _removal_outcome(archive: str, monkeypatch) -> tuple:
    """Load ``zpkg``, delete its archive, invalidate, import ``zpkg.b``:
    the import error and the importers' directories afterwards."""
    _load_zpkg(archive, monkeypatch)
    try:
        importlib.invalidate_caches()
        os.remove(archive)
        importlib.invalidate_caches()
        with pytest.raises(ImportError) as err:
            importlib.import_module("zpkg.b")
        files = [
            v._files
            for k, v in sys.path_importer_cache.items()
            if k.startswith(archive)
        ]
        cached = archive in zipimport._zip_directory_cache
        return err.type, str(err.value), files, cached
    finally:
        _unload_zpkg(archive)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the hook is installed below 3.13 only"
)
def test_removed_archive_fails_like_stock(tmp_path, monkeypatch):
    hooked = _removal_outcome(str(tmp_path / "hooked.zip"), monkeypatch)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches.__wrapped__,
    )
    stock = _removal_outcome(str(tmp_path / "stock.zip"), monkeypatch)
    assert hooked[0] is stock[0] is ModuleNotFoundError
    assert hooked[1] == stock[1] == "No module named 'zpkg.b'"
    assert hooked[2:] == stock[2:] == ([{}, {}], False)


def test_stream_runner_import_stays_pandas_free():
    code = (
        "import sys\n"
        "import pyspark.sql.streaming.python_streaming_source_runner\n"
        "import pyspark_excel_datasource_spark.sources.excel\n"
        "print('pandas' in sys.modules)\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    assert out.stdout.strip() == "False"
