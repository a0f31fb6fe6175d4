"""chimp_spark._zipcache: invalidate_caches keeps an unchanged zip
archive's directory, and otherwise imports exactly like the stdlib.
No Spark: a zip on sys.path, imports from it, and a count of
zipimport._read_directory calls for that archive."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from chimp_spark import _zipcache

needs_wrapper = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the stdlib method is kept on 3.13+")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _run_sequence(tmp_path, prefix: str, reads: list[str]) -> dict:
    """Import from an archive, invalidate while unchanged, rewrite it
    with more modules, then delete it; record reads and outcomes."""
    arc = str(tmp_path / f"{prefix}.zip")
    one, two, three = (f"{prefix}_{k}" for k in ("one", "two", "three"))
    _write_zip(arc, {one: "X = 1\n"})
    sys.path.insert(0, arc)
    out: dict = {}
    try:
        out["one"] = importlib.import_module(one).X
        importer = sys.path_importer_cache[arc]
        n0 = reads.count(arc)
        for _ in range(3):
            importlib.invalidate_caches()
        out["unchanged_reads"] = reads.count(arc) - n0

        _write_zip(arc, {one: "X = 1\n", two: "Y = 2\n", three: "Z = 3\n"})
        n0 = reads.count(arc)
        importlib.invalidate_caches()
        out["rewritten_reads"] = reads.count(arc) - n0
        out["two"] = importlib.import_module(two).Y

        (tmp_path / f"{prefix}.zip").unlink()
        importlib.invalidate_caches()
        out["files_after_delete"] = importer._files
        try:
            importlib.import_module(three)
            out["three"] = "imported"
        except ImportError:
            out["three"] = "ImportError"
    finally:
        sys.path.remove(arc)
        sys.path_importer_cache.pop(arc, None)
        zipimport._zip_directory_cache.pop(arc, None)
        for name in (one, two, three):
            sys.modules.pop(name, None)
    return out


@needs_wrapper
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    assert zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_caches
    out = _run_sequence(tmp_path, "zc_wrapped", reads)
    assert out["unchanged_reads"] == 0
    assert out["rewritten_reads"] >= 1 and out["two"] == 2
    assert out["files_after_delete"] == {}
    assert out["three"] == "ImportError"


def test_import_outcomes_match_stdlib(tmp_path, reads, monkeypatch):
    ours = _run_sequence(tmp_path, "zc_ours", reads)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipcache._STDLIB)
    stdlib = _run_sequence(tmp_path, "zc_stdlib", reads)
    keys = ("one", "two", "files_after_delete", "three")
    assert {k: ours[k] for k in keys} == {k: stdlib[k] for k in keys}
    if sys.version_info < (3, 13):
        assert stdlib["unchanged_reads"] == 3  # the per-call cost removed


@needs_wrapper
def test_install_is_idempotent():
    assert _zipcache.install() and _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_caches
    assert zipimport._read_directory is _zipcache.read_directory
    # a reloaded module unwraps instead of wrapping its own wrapper
    mod = importlib.reload(_zipcache)
    assert zipimport.zipimporter.invalidate_caches is mod.invalidate_caches
    assert mod._STDLIB.__module__ == "zipimport"
    assert mod.invalidate_caches.__wrapped__ is mod._STDLIB
    assert mod._STDLIB_READ.__module__ == "zipimport"
    assert zipimport._read_directory.__wrapped__ is mod._STDLIB_READ


@pytest.mark.skipif(sys.version_info < (3, 13), reason="needs Python 3.13+")
def test_stdlib_method_kept_on_313():
    assert not _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is not _zipcache.invalidate_caches


@needs_wrapper
def test_install_stamps_cached_and_touch_rereads(tmp_path, monkeypatch):
    """An archive cached before install is read and stamped by install;
    afterwards a new mtime alone forces a re-read, and an unstamped
    archive that vanished is dropped like the stdlib does."""
    arc = str(tmp_path / "zc_pre.zip")
    _write_zip(arc, {"zc_pre_one": "X = 1\n"})
    try:
        with monkeypatch.context() as m:
            m.setattr(zipimport, "_read_directory", _zipcache._STDLIB_READ)
            early = zipimport.zipimporter(arc)
        assert arc not in _zipcache._STAMPS
        assert _zipcache.install()
        assert arc in _zipcache._STAMPS

        reads = []
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or _zipcache.read_directory(a))
        early.invalidate_caches()
        assert reads.count(arc) == 0
        st = os.stat(arc)
        os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        early.invalidate_caches()
        assert reads.count(arc) == 1
        early.invalidate_caches()
        assert reads.count(arc) == 1

        zipimport._zip_directory_cache.pop(arc)
        _zipcache._STAMPS.pop(arc)
        with monkeypatch.context() as m:
            m.setattr(zipimport, "_read_directory", _zipcache._STDLIB_READ)
            unstamped = zipimport.zipimporter(arc)
        os.unlink(arc)
        unstamped.invalidate_caches()
        assert unstamped._files == {}
        assert arc not in zipimport._zip_directory_cache
    finally:
        zipimport._zip_directory_cache.pop(arc, None)
