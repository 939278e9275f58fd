"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Spark starts every Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip``, the py4j source zip and (Spark 4) the spark-core jar at the
head of ``PYTHONPATH``, so workers import pyspark from the archive. Every
task then runs ``worker_util.setup_spark_files``, whose
``importlib.invalidate_caches()`` makes each cached ``zipimporter`` re-read
its archive's directory: one per pyspark package directory, ~16 per task,
each re-reading pyspark.zip's 1328 entries on CPython 3.11. That is
0.15-0.25 s of worker CPU per task before any user code runs.

This module drops those archive entries from ``sys.path`` (and their
importers from ``sys.path_importer_cache``), so workers import pyspark
from the installed package directory the driver uses, then runs
``pyspark.daemon``. It does so only when a directory on the remaining
path holds the same ``pyspark.__version__`` as the archive, and a py4j
package; otherwise ``sys.path`` is left as it is, so an executor that only
has the archives keeps working.

It imports only the standard library: it must run before pyspark is
imported, and ``zonal_datacube_spark/__init__.py`` imports nothing eagerly
for the same reason.
"""

from __future__ import annotations

import os
import re
import sys
from importlib.machinery import PathFinder

MODULE = "zonal_datacube_spark.worker_daemon"
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _spark_archive(entry: str) -> bool:
    """The archives Spark puts on a Python worker's path: pyspark.zip, the
    py4j source zip, and the spark-core jar."""
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def _pyspark_version(path: list[str]) -> str | None:
    """``pyspark.__version__`` as ``path`` would import it, read from
    ``pyspark/version.py`` without importing pyspark."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    location = list(spec.submodule_search_locations)[0]
    try:
        text = spec.loader.get_data(os.path.join(location, "version.py")).decode()
    except (OSError, AttributeError):
        return None
    m = _VERSION.search(text)
    return m.group(1) if m else None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when a directory on the rest of it
    imports the same pyspark version and a py4j package; else ``path``."""
    rest = [p for p in path if not _spark_archive(p)]
    if len(rest) == len(path):
        return path
    from_archive = _pyspark_version(path)
    if from_archive is None or _pyspark_version(rest) != from_archive:
        return path
    if PathFinder.find_spec("py4j", rest) is None:
        return path
    return rest


def _drop_archives() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    # importers Spark's archives already got while this module was found
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.manager()
