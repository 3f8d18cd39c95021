"""Local-mode Python worker daemon that imports pyspark from its install.

Spark starts Python workers with ``pyspark.zip``, the py4j zip and the
spark-core jar ahead of site-packages on ``sys.path``. PySpark's worker
calls ``importlib.invalidate_caches()`` once per task, and on Python
3.11 every ``zipimporter`` then re-reads its whole archive directory:
~0.27 s of CPU per task with the 16 importers a worker builds up.
When an installed pyspark is the same release as the zip, those
archives only duplicate it, so this daemon takes them off the path
before pyspark is first imported and then runs Spark's own daemon.
Each task's cache invalidation then touches only directory finders.

Spark runs it as ``python -m siren_spark.worker_daemon <worker module>``
(``spark.python.daemon.module``, set by ``session.get_spark`` for local
masters). Nothing here may import pyspark before ``drop_spark_archives``.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.endswith(".jar") or name == "pyspark.zip" or (
        name.startswith("py4j") and name.endswith(".zip"))


def _same_install(pkg: str, archive: str | None, path: list[str]) -> bool:
    """``pkg`` resolves from a directory on ``path`` and its
    ``version.py`` has the bytes of the one inside ``archive``."""
    spec = PathFinder.find_spec(pkg, path) if archive else None
    if spec is None or not spec.submodule_search_locations:
        return False
    try:
        with open(os.path.join(spec.submodule_search_locations[0],
                               "version.py"), "rb") as f:
            installed = f.read()
        with zipfile.ZipFile(archive) as zf:
            return zf.read(f"{pkg}/version.py") == installed
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def drop_spark_archives(path: list[str] | None = None,
                        cache: dict | None = None) -> bool:
    """Remove Spark's archives from ``path`` (default ``sys.path``) and
    their importers from ``cache`` (default ``sys.path_importer_cache``)
    if the directory installs of pyspark and py4j are the same releases.
    Returns whether it did; otherwise both are left as they were."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    archives = [p for p in path if _spark_archive(p)]
    rest = [p for p in path if not _spark_archive(p)]
    named = {os.path.basename(p).split("-")[0].removesuffix(".zip"): p
             for p in archives if p.endswith(".zip")}
    if not (_same_install("pyspark", named.get("pyspark"), rest)
            and _same_install("py4j", named.get("py4j"), rest)):
        return False
    path[:] = rest
    for key in [k for k in cache if isinstance(k, str)]:
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del cache[key]
    return True


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon  # reads sys.argv[1]: the worker module

    daemon.manager()
