"""Python worker daemon of the engine's Spark sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module, so Spark starts each executor's Python daemon as
``python -m __spark_worker__ pyspark.worker``. Before anything imports
pyspark, the daemon takes the archives Spark prepends to the workers'
path (``pyspark.zip``, the py4j zip, the spark-core jar) off
``sys.path`` and evicts their ``zipimporter`` objects, then hands off
to ``pyspark.daemon.manager()``; forked workers inherit the trimmed
path. On CPython < 3.12 (gh-103200) PySpark's per-task
``importlib.invalidate_caches()`` makes every cached ``zipimporter``
re-read its archive's directory, about 0.2 s of CPU per task.

The two zips go only when unzipped copies of both packages, of the
zips' versions, are importable from the rest of the path (a
pip-installed pyspark); otherwise they stay, so a host with only the
Spark distribution still starts workers. Jars hold no Python modules
and always go. No engine module imports this one: the package
``__init__`` imports pyspark.
"""

from __future__ import annotations

import os
import re
import sys
import zipimport

_VERSION = re.compile(r"""__version__[^=]*=\s*["']([^"']+)["']""")


def _zip_package(entry: str) -> str | None:
    """The package a Spark-shipped zip carries, or None for any other entry."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zip_version(archive: str, pkg: str) -> str | None:
    try:
        data = zipimport.zipimporter(archive).get_data(f"{pkg}/version.py")
    except (OSError, zipimport.ZipImportError):
        return None
    return _version(data.decode("utf-8"))


def _dir_version(path: list[str], pkg: str) -> str | None:
    """Version of the first unzipped ``pkg`` a path search would find."""
    for entry in path:
        pkg_dir = os.path.join(entry or ".", pkg)
        if os.path.isfile(os.path.join(pkg_dir, "__init__.py")):
            try:
                with open(os.path.join(pkg_dir, "version.py"), encoding="utf-8") as fh:
                    return _version(fh.read())
            except OSError:
                return None
    return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without the Spark archives a worker does not need: every
    ``.jar``, and the pyspark and py4j zips when each zip's package is
    importable unzipped, at the zip's version, from what remains."""
    path = [e for e in path if not e.endswith(".jar")]
    zips = {e: pkg for e in path if (pkg := _zip_package(e))}
    rest = [e for e in path if e not in zips]

    def unzipped(archive: str, pkg: str) -> bool:
        version = _zip_version(archive, pkg)
        return version is not None and version == _dir_version(rest, pkg)

    return rest if all(unzipped(z, pkg) for z, pkg in zips.items()) else path


def _trim_sys_path() -> None:
    sys.path[:] = worker_path(sys.path)
    kept = set(sys.path)
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive not in kept:
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _trim_sys_path()
    from pyspark.daemon import manager

    manager()
