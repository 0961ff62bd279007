"""Python-worker daemon: ``pyspark.daemon`` on the installed PySpark.

Spark starts its Python workers with three of SPARK_HOME's archives at
the front of ``sys.path``: ``python/lib/pyspark.zip`` (1,328 entries,
no bytecode), the py4j source zip and the spark-core jar (5,359
entries, no Python). Every task's setup ends in
``importlib.invalidate_caches()``, and on Python 3.11 each
``zipimporter`` answers that by re-reading its archive's whole central
directory. A pandas-UDF worker importing from the zip holds 16 of them
(one per pyspark subpackage): 0.15-0.25 s per task on a 4-core host,
most of a Python task's fixed cost, and each new worker compiles
pyspark's ``sql/pandas`` modules from source.

When the installed ``pyspark`` distribution is the version the zip
holds, this module drops the archives from ``sys.path`` and
``sys.path_importer_cache``, so the workers import the installed,
compiled package through plain directory finders. Any other case
(a different version, no installed PySpark) keeps Spark's own path.
It then imports the pandas-UDF stack once, before the daemon forks its
workers, and hands over to ``pyspark.daemon.manager()`` unchanged.

``session.get_spark`` sets it as ``spark.python.daemon.module``; Spark
runs it as ``python -m webscrape_neko_jirushi_spark.worker_daemon
<worker module>``.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile

_ARCHIVE_RE = re.compile(r"^(pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar)$")
_VERSION_RE = re.compile(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def _zip_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            src = z.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = _VERSION_RE.search(src)
    return m.group(1) if m else None


def drop_spark_archives(
    path: list[str], importer_cache: dict, installed: str | None
) -> list[str]:
    """Remove SPARK_HOME's archives from ``path`` and their importers
    (the archive's own and its subpackages') from ``importer_cache``, in
    place, when ``installed`` equals the ``__version__`` of every
    ``pyspark.zip`` on ``path``. Returns the removed ``path`` entries;
    empty (nothing touched) on any mismatch."""
    archives = [p for p in path if _ARCHIVE_RE.match(os.path.basename(p))]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if installed is None or not zips or any(_zip_version(z) != installed for z in zips):
        return []
    path[:] = [p for p in path if p not in archives]
    prefixes = tuple(a + os.sep for a in archives)
    for key in [k for k in importer_cache if k in archives or k.startswith(prefixes)]:
        del importer_cache[key]
    return archives


def main() -> None:
    try:
        installed = importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        installed = None
    drop_spark_archives(sys.path, sys.path_importer_cache, installed)

    # pyspark.daemon imports the worker module itself; the pandas-UDF
    # stack is imported here too, once, so every forked worker starts
    # with it (traced crawl_polite: engine.seed task time lower in 4
    # of 5 seeds, median 10.4 s -> 9.2 s)
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.daemon
    import pyspark.sql.pandas.serializers  # noqa: F401

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
