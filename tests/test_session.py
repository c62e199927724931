"""Worker-process tuning in hll_spark/session.py, without Spark: the
stat-gated ``zipimporter.invalidate_caches`` re-reads an archive's
directory only after the archive changed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from hll_spark import session

ORIGINAL_INVALIDATE = getattr(
    zipimport.zipimporter.invalidate_caches,
    "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)


def write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture()
def fresh_hook(monkeypatch):
    """Undo the package-import install for the test's duration."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", ORIGINAL_INVALIDATE
    )
    monkeypatch.setattr(session, "_ZIP_LISTINGS", {})


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding one module, on sys.path and imported from there."""
    name = f"zmod_{tmp_path.name}".replace("-", "_")
    archive = tmp_path / "mods.zip"
    write_zip(archive, {f"{name}_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(f"{name}_a").VALUE == 1
    yield archive, name
    for key in (f"{name}_a", f"{name}_b"):
        sys.modules.pop(key, None)
    sys.path_importer_cache.pop(str(archive), None)


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


needs_eager = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zipimport invalidation is already lazy on this Python",
)


@needs_eager
def test_unchanged_archive_is_not_reread(fresh_hook, zip_on_path, reads):
    archive, _ = zip_on_path
    assert session.gate_zip_invalidation()
    # installing re-reads each cached archive once, so its stat is known
    assert reads.count(str(archive)) == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads


@needs_eager
def test_rewritten_archive_is_reread(fresh_hook, zip_on_path, reads):
    archive, name = zip_on_path
    session.gate_zip_invalidation()
    reads.clear()
    write_zip(
        archive,
        {f"{name}_a.py": "VALUE = 1\n", f"{name}_b.py": "VALUE = 2\n"},
    )
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module(f"{name}_b").VALUE == 2
    reads.clear()
    importlib.invalidate_caches()
    assert str(archive) not in reads


@needs_eager
def test_install_twice_wraps_once(fresh_hook):
    assert session.gate_zip_invalidation()
    gated = zipimport.zipimporter.invalidate_caches
    assert session.gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is gated
    assert gated.__wrapped__ is ORIGINAL_INVALIDATE


def test_noop_when_invalidation_is_lazy(fresh_hook, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "_get_files", lambda self: {}, raising=False
    )
    assert session.gate_zip_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is ORIGINAL_INVALIDATE


def test_package_import_installs_hook():
    cur = zipimport.zipimporter.invalidate_caches
    lazy = hasattr(zipimport.zipimporter, "_get_files")
    assert getattr(cur, "_stat_gated", False) is not lazy
