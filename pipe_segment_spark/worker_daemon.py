"""Spark's Python daemon, run on the installed pyspark instead of Spark's
zipped copy.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
``spark-core`` jar first on every Python worker's path. Each task's
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and under Python 3.11 that makes every
cached ``zipimporter`` re-read its archive's directory: with the 16 a
worker holds, ``setup_spark_files`` took 0.28 s a task on 4 cores, and
0.0002 s with none. When the interpreter has the same pyspark installed
(and a py4j), this module drops the archives before anything imports
pyspark, then runs ``pyspark.daemon`` as Spark would have, with the
worker module still in ``sys.argv[1]``.

``session.build_session`` names it ``spark.python.daemon.module`` for a
local master only: on a cluster the package is not importable when the
daemon starts (``--py-files`` are added per task). Nothing here imports
pyspark before the path is settled, and neither does the package's
``__init__``.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str, lib_dirs: set[str]) -> bool:
    name = os.path.basename(entry)
    if os.path.dirname(entry) in lib_dirs and name.endswith(".zip"):
        return True
    return name.startswith("spark-core_") and name.endswith(".jar")


def unzipped_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives (the zips beside ``pyspark.zip``
    and the ``spark-core`` jar), if what is left resolves ``pyspark`` and
    ``py4j`` and that pyspark's ``version.py`` is the one inside
    ``pyspark.zip``. Otherwise ``path`` as it is."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return list(path)
    lib_dirs = {os.path.dirname(p) for p in zips}
    rest = [p for p in path if not _is_spark_archive(p, lib_dirs)]
    pyspark = PathFinder.find_spec("pyspark", rest)
    py4j = PathFinder.find_spec("py4j", rest)
    if pyspark is None or pyspark.origin is None or py4j is None:
        return list(path)
    try:
        with zipfile.ZipFile(zips[0]) as z:
            zipped = z.read("pyspark/version.py")
        installed = pyspark.loader.get_data(
            os.path.join(os.path.dirname(pyspark.origin), "version.py")
        )
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    return rest if zipped == installed else list(path)


def _within(entry: str, archives: list[str]) -> bool:
    return any(entry == a or entry.startswith(a + os.sep) for a in archives)


def drop_archives() -> None:
    """Apply ``unzipped_path`` to this interpreter: forget the dropped
    archives' cached importers and any namespace package that only they
    supplied (the stdlib ``copy`` module's probe for ``org.python.core``
    leaves an ``org`` package rooted in the jar)."""
    rest = unzipped_path(sys.path)
    dropped = [p for p in sys.path if p not in rest]
    if not dropped:
        return
    for name, module in list(sys.modules.items()):
        spec = getattr(module, "__spec__", None)
        if spec is None or spec.origin is not None:
            continue
        portions = list(spec.submodule_search_locations or ())
        if portions and all(_within(p, dropped) for p in portions):
            del sys.modules[name]
    for entry in list(sys.path_importer_cache):
        if _within(entry, dropped):
            del sys.path_importer_cache[entry]
    sys.path[:] = rest


if __name__ == "__main__":
    drop_archives()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
