"""Python-worker daemon of the sessions ``session.get_session`` launches.

Spark starts ``python -m <spark.python.daemon.module> pyspark.worker`` with a
PYTHONPATH that leads with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j
source zip and the spark-core jar, and the daemon forks every Python worker
from itself. Run from that path, each worker:

  * imports pyspark from the zip, compiling it from source because a zip
    holds no bytecode cache (~1.7 s of CPU, against ~0.7 s from the
    installed package);
  * re-reads the directory of every zip importer the path left in
    ``sys.path_importer_cache`` on each task, in the
    ``importlib.invalidate_caches()`` of ``pyspark.worker_util``: pyspark.zip
    alone holds one per subpackage imported from it.

This module trims the path first, then runs pyspark's own daemon, so the
workers it forks import pyspark from the installed package and inherit no
jar or pyspark.zip importer. It drops:

  * every ``.jar`` entry (the spark-core jar holds no ``.py`` file);
  * ``pyspark.zip``, but only when the pyspark installed on the rest of the
    path has the same ``version.py``, compared byte for byte without
    importing either. On a mismatch, or with no installed pyspark, the zip
    stays, and the workers run the pyspark the JVM shipped.

It lives in a directory of its own, outside any package, because importing
it through ``e2e_etl_pipeline_spark`` would import pyspark (the package's
``__init__`` does) before the path is trimmed. Nothing here may import
pyspark at module level.
"""

from __future__ import annotations

import os
import sys
import zipimport
from importlib.machinery import PathFinder

ZIP_NAME = "pyspark.zip"


def _zip_version(zip_path: str) -> bytes | None:
    try:
        return zipimport.zipimporter(zip_path).get_data("pyspark/version.py")
    except (OSError, zipimport.ZipImportError):
        return None


def _installed_version(path: list[str]) -> bytes | None:
    """``pyspark/version.py`` of the pyspark an import on ``path`` finds."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def lean_path(path: list[str]) -> list[str]:
    """``path`` without its jar entries, and without pyspark.zip when the
    pyspark installed on the rest of it has the same version."""
    kept = [p for p in path if not p.endswith(".jar")]
    zips = [p for p in kept if os.path.basename(p) == ZIP_NAME]
    if not zips:
        return kept
    rest = [p for p in kept if p not in zips]
    installed = _installed_version(rest)
    if installed is not None and all(_zip_version(z) == installed for z in zips):
        return rest
    return kept


def main() -> None:
    sys.path[:] = lean_path(sys.path)
    # Finders built for the dropped entries, and for the lookup above.
    sys.path_importer_cache.clear()
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
