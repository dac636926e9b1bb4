"""pydeps: the package zip shipped to workers, and the worker-side
``keep_zip_directories`` helper.  No Spark session needed."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import tempfile
import types
import uuid
import zipfile
import zipimport

import pytest

from ocr_document_recognition_service_spark import pydeps

PKG_DIR = os.path.dirname(os.path.abspath(pydeps.__file__))


@pytest.fixture
def tmpdir_as_tempfile(tmp_path, monkeypatch):
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def _tree(root, name, files: dict[str, str]) -> str:
    pkg = root / name
    for rel, text in files.items():
        p = pkg / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)
    return str(pkg)


def _zip_contents(path: str) -> dict[str, bytes]:
    with zipfile.ZipFile(path) as zf:
        return {n: zf.read(n) for n in zf.namelist()}


def test_package_zip_named_by_content(tmp_path, tmpdir_as_tempfile):
    a = _tree(tmp_path / "a", "mypkg", {"__init__.py": "", "m.py": "X = 1\n",
                                        "sub/__init__.py": "", "notes.txt": "x"})
    b = _tree(tmp_path / "b", "mypkg", {"__init__.py": "", "m.py": "X = 2\n",
                                        "sub/__init__.py": "", "notes.txt": "x"})
    za, zb = pydeps.package_zip_path(a), pydeps.package_zip_path(b)
    assert za != zb
    assert pydeps.package_zip_path(a) == za  # same tree → same zip
    assert os.path.dirname(za) == str(tmpdir_as_tempfile)
    assert _zip_contents(za) == {
        "mypkg/__init__.py": b"",
        "mypkg/m.py": b"X = 1\n",
        "mypkg/sub/__init__.py": b"",
    }
    assert _zip_contents(zb)["mypkg/m.py"] == b"X = 2\n"
    # no partial files are left next to the zips
    assert sorted(os.listdir(tmpdir_as_tempfile)) == sorted(
        os.path.basename(z) for z in (za, zb)
    )
    # an edited tree gets a new zip; the old one is not reused
    (tmp_path / "a" / "mypkg" / "m.py").write_text("X = 3\n")
    za2 = pydeps.package_zip_path(a)
    assert za2 != za and _zip_contents(za2)["mypkg/m.py"] == b"X = 3\n"


def test_stale_pid_zip_is_never_shipped(tmpdir_as_tempfile):
    name = os.path.basename(PKG_DIR)
    planted = tmpdir_as_tempfile / f"{name}-{os.getpid()}.zip"
    with zipfile.ZipFile(planted, "w") as zf:
        zf.writestr(f"{name}/__init__.py", "raise ImportError('stale')\n")
    shipped = []
    sc = types.SimpleNamespace(addPyFile=shipped.append)
    pydeps.ensure_py_deps(types.SimpleNamespace(sparkContext=sc))
    pydeps.ensure_py_deps(types.SimpleNamespace(sparkContext=sc))
    assert len(shipped) == 1 and shipped[0] != str(planted)
    got = _zip_contents(shipped[0])
    with open(os.path.join(PKG_DIR, "__init__.py"), "rb") as f:
        assert got[f"{name}/__init__.py"] == f.read()
    with open(os.path.join(PKG_DIR, "sources", "warc.py"), "rb") as f:
        assert got[f"{name}/sources/warc.py"] == f.read()


@pytest.fixture
def isolated_imports():
    """Restore sys.path, the importer cache, the imported modules and
    every zipimporter's own invalidate_caches after the test."""
    path, modules = list(sys.path), set(sys.modules)
    cache = dict(sys.path_importer_cache)
    yield
    sys.path[:] = path
    for name in set(sys.modules) - modules:
        del sys.modules[name]
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter):
            finder.__dict__.pop("invalidate_caches", None)
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    importlib.invalidate_caches()


def test_keep_zip_directories(tmp_path, monkeypatch, isolated_imports):
    tag = uuid.uuid4().hex[:8]
    mod_a, mod_b, mod_c = (f"kzd_{x}_{tag}" for x in "abc")
    archive = tmp_path / "deps.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{mod_a}.py", "A = 1\n")
        zf.writestr(f"{mod_b}.py", "B = 2\n")
    plain = tmp_path / "plain"
    plain.mkdir()
    sys.path.insert(0, str(plain))
    sys.path.insert(0, str(archive))
    assert importlib.import_module(mod_a).A == 1
    assert importlib.util.find_spec(mod_c) is None  # lists `plain` once

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    eager = sys.version_info < (3, 13)
    if eager:
        importlib.invalidate_caches()
        assert str(archive) in reads  # the stdlib re-reads the archive

    pydeps.keep_zip_directories()
    pydeps.keep_zip_directories()  # idempotent
    reads.clear()
    importlib.invalidate_caches()
    if eager:
        assert reads == []
    assert importlib.import_module(mod_b).B == 2  # same zip, second module

    # plain directories keep the stdlib behaviour: a new file becomes
    # importable after invalidate_caches()
    (plain / f"{mod_c}.py").write_text("C = 3\n")
    importlib.invalidate_caches()
    assert importlib.import_module(mod_c).C == 3
