"""PySpark worker daemon that keeps Spark's archives off the workers'
import path.

Spark starts it as ``python -m spark_worker_daemon <worker module>``
when ``spark.python.daemon.module`` names it (``session.get_spark`` does
so on local masters). It fixes ``sys.path``, then runs PySpark's own
daemon, whose forked workers inherit the fixed path.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` once per
task, and under CPython 3.11 every ``zipimporter`` re-reads its whole
archive directory on that call (gh-103200, fixed in 3.12). Spark puts
``pyspark.zip``, the py4j zip and the spark-core jar (no ``.py`` files)
on the worker's path; importing pyspark from the zip leaves 16
zipimporters behind, ~0.2 CPU-s of every task.

This module must not import the engine package: its ``__init__``
imports pyspark, which would load it from the zip before the path is
fixed.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _spark_zip_package(entry: str) -> str | None:
    """The package a Spark-shipped archive holds, else None."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return None


def _same_install(archive: str, package: str, dirs: list[str]) -> bool:
    """True when the first directory in ``dirs`` holding ``package`` (the
    one Python imports once the archive is gone) has a ``version.py``
    byte-identical to the archive's."""
    try:
        with zipfile.ZipFile(archive) as z:
            zipped = z.read(f"{package}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    for d in dirs:
        if os.path.isfile(os.path.join(d, package, "__init__.py")):
            try:
                with open(os.path.join(d, package, "version.py"), "rb") as f:
                    return f.read() == zipped
            except OSError:
                return False
    return False


def worker_path(path: list[str]) -> list[str]:
    """``path`` without its ``.jar`` entries, and without Spark's
    ``pyspark.zip`` / ``py4j-*.zip`` when a directory install of the same
    version resolves from the entries left. Every other entry keeps its
    place."""
    kept = [p for p in path if not p.endswith(".jar")]
    dirs = [p or os.curdir for p in kept if _spark_zip_package(p) is None]
    return [
        p
        for p in kept
        if (pkg := _spark_zip_package(p)) is None or not _same_install(p, pkg, dirs)
    ]


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)
    # Importers made for the dropped entries while this module was found
    # would still be invalidated per task; finders are rebuilt on demand.
    sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()
