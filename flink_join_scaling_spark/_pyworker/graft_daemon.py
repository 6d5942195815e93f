"""Python-worker daemon for sessions built by ``session.get_spark``.

Spark starts the daemon as ``python -m <spark.python.daemon.module>``
with pyspark.zip, the py4j zip and the spark-core jar first on
``PYTHONPATH``. Every task then runs ``setup_spark_files``, which calls
``importlib.invalidate_caches()``; on CPython 3.10-3.12 each zipimporter
in ``sys.path_importer_cache`` re-reads its archive's whole central
directory there (CPython 3.13 made this lazy). A worker holds a dozen
such importers, so each task pays 0.15-0.3 s before it reads a row.

When the interpreter itself provides ``pyspark`` and ``py4j``, and its
pyspark is the archive's version, this module drops every ``.zip`` /
``.jar`` entry from ``sys.path`` (and their cached importers) before
anything imports pyspark, then runs ``pyspark.daemon`` unchanged as
``__main__``. Otherwise ``sys.path`` stays as Spark built it.

The file sits in a directory without ``__init__.py`` on purpose: as a
submodule of the engine package it would import the package first, and
the package imports pyspark, which would come from the zip.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVE_SUFFIXES = (".zip", ".jar")
_VERSION_FILE = "pyspark/version.py"
_VERSION_RE = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def _is_archive(entry: str) -> bool:
    return entry.lower().endswith(_ARCHIVE_SUFFIXES)


def worker_path(
    path: list[str],
    pyspark_version: str | None,
    has_py4j: bool,
    archive_version: str | None,
) -> list[str]:
    """``sys.path`` for the workers: ``path`` without its archives when
    the interpreter's own pyspark (``pyspark_version``, None if absent)
    equals the archive's (``archive_version``, None if no archive holds
    pyspark) and the interpreter also has py4j; else ``path`` as is."""
    if (
        pyspark_version is None
        or not has_py4j
        or archive_version is None
        or pyspark_version != archive_version
    ):
        return list(path)
    return [p for p in path if not _is_archive(p)]


def _parse_version(source: str) -> str | None:
    m = _VERSION_RE.search(source)
    return m.group(1) if m else None


def _archive_version(path: list[str]) -> str | None:
    """pyspark's version in the first archive on ``path`` that holds it."""
    for entry in filter(_is_archive, path):
        try:
            with zipfile.ZipFile(entry) as zf:
                source = zf.read(_VERSION_FILE).decode()
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
        return _parse_version(source)
    return None


def _interpreter_versions(path: list[str]) -> tuple[str | None, bool]:
    """(pyspark version, py4j present) found on ``path``'s non-archive
    entries, without importing either."""
    plain = [p for p in path if not _is_archive(p)]
    py4j = PathFinder.find_spec("py4j", plain) is not None
    spec = PathFinder.find_spec("pyspark", plain)
    if spec is None or not spec.submodule_search_locations:
        return None, py4j
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _parse_version(f.read()), py4j
    except OSError:
        return None, py4j


def main() -> None:
    path = worker_path(sys.path, *_interpreter_versions(sys.path), _archive_version(sys.path))
    dropped = set(sys.path) - set(path)
    if dropped:
        for key in list(sys.path_importer_cache):
            if any(key == d or key.startswith(d + os.sep) for d in dropped):
                del sys.path_importer_cache[key]
        sys.path[:] = path
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
