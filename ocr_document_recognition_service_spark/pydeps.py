"""Ship this package to Spark Python workers (``--py-files`` analog).

On a real cluster the job runs ``spark-submit --py-files pkg.zip``
(north rule); in-process, ``ensure_py_deps(spark)`` zips the package
and registers it with ``SparkContext.addPyFile`` so executor-side
pandas UDFs can import the extraction kernel regardless of the
driver's cwd/sys.path.

Worker side, ``keep_zip_directories()`` removes a fixed per-task cost
of the Python workers (see its docstring).
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import zipfile

from pyspark.sql import SparkSession

_FLAG = "_ocr_doc_spark_pydeps_added"

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _py_sources(pkg_dir: str) -> list[tuple[str, bytes]]:
    """(archive name, contents) of every ``.py`` file under *pkg_dir*,
    in a fixed order."""
    pkg_name = os.path.basename(pkg_dir)
    out = []
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.relpath(full, pkg_dir).replace(os.sep, "/")
                with open(full, "rb") as fh:
                    out.append((f"{pkg_name}/{rel}", fh.read()))
    return out


def package_zip_path(pkg_dir: str = _PKG_DIR) -> str:
    """Zip the package's ``.py`` sources into the temp dir and return
    the zip's path.

    The file is named by a hash of the archive names and contents, so
    one name always means one content: a zip left behind by another
    checkout, an older tree or another process is never shipped in
    place of this tree, and an unchanged tree reuses its zip.  The
    sources are read once, so the zip holds exactly what was hashed,
    and it is written under a private name and renamed into place, so
    a concurrent or interrupted build never leaves a partial file
    under the final name.
    """
    sources = _py_sources(pkg_dir)
    h = hashlib.sha256()
    for arc, data in sources:
        h.update(f"{arc}\0{len(data)}\0".encode())
        h.update(data)
    out = os.path.join(
        tempfile.gettempdir(),
        f"{os.path.basename(pkg_dir)}-{h.hexdigest()[:20]}.zip",
    )
    if not os.path.exists(out):
        fd, part = tempfile.mkstemp(suffix=".part", dir=os.path.dirname(out))
        try:
            with os.fdopen(fd, "wb") as raw, zipfile.ZipFile(
                raw, "w", zipfile.ZIP_DEFLATED
            ) as zf:
                for arc, data in sources:
                    zf.writestr(arc, data)
            os.chmod(part, 0o644)  # mkstemp's 0600 would hide it from others
            os.replace(part, out)
        except BaseException:
            os.unlink(part)
            raise
    return out


def ensure_py_deps(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _FLAG, False):
        return
    sc.addPyFile(package_zip_path())
    setattr(sc, _FLAG, True)


def _no_reread() -> None:
    return None


def keep_zip_directories() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading the zip
    archives already on this Python worker's import path.

    Call at the top of a worker-side UDF body.  The PySpark worker calls
    ``invalidate_caches()`` before every task; on Python < 3.13 each
    ``zipimporter`` in ``sys.path_importer_cache`` then re-reads its
    whole archive directory (Spark's ``pyspark.zip``, once per cached
    package prefix, and the Spark jar) — measured at 0.20-0.25 s a
    task, whatever its size.  Those archives do not change while a worker lives (a
    changed package zip arrives under a new hash name, see
    ``package_zip_path``), so their importers get a no-op.  Importers
    created later keep the stdlib behaviour until the next call, and
    plain directories keep theirs always.  Reused workers skip the
    re-read from their second task on.  Idempotent; a no-op on 3.13+,
    whose ``invalidate_caches`` only drops a cache entry.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches = _no_reread
