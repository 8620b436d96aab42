"""Python worker daemon with Spark's archives off the workers' path.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
JVM starts ``python -m zensearch_spark.worker_daemon`` instead of
``pyspark.daemon``. It fixes ``sys.path`` once and hands over to
``pyspark.daemon.manager()``; every forked worker inherits the path.

Why: every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that
makes every zipimporter re-read its archive's whole directory. The JVM
prepends ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar to the workers' PYTHONPATH, which left 16 zipimporters
per worker: the call took ~140 ms of CPU in every task, and a trivial
one-row task ~250 ms of worker CPU (4 vCPU, Python 3.11.7, PySpark
4.1.2); without them the call takes ~0.04 ms and the task ~40 ms.

Nothing here may import pyspark before the path is fixed.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the spark-core jar (it holds no ``.py`` file), and
    without ``$SPARK_HOME/python/lib``'s pyspark and py4j zips when pyspark
    and py4j import without them and that pyspark's ``version.py`` is
    byte-identical to the zip's. Other entries keep their order."""
    path = [
        p for p in path
        if not fnmatch.fnmatch(os.path.basename(p), "spark-core_*.jar")
    ]
    if not spark_home:
        return path
    lib = os.path.normpath(os.path.join(spark_home, "python", "lib"))
    zips = {
        p for p in path
        if os.path.dirname(os.path.normpath(p)) == lib
        and (os.path.basename(p) == "pyspark.zip"
             or fnmatch.fnmatch(os.path.basename(p), "py4j-*-src.zip"))
    }
    rest = [p for p in path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or spec.origin is None or not PathFinder.find_spec("py4j", rest):
        return path
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            installed = f.read()
        with zipfile.ZipFile(os.path.join(lib, "pyspark.zip")) as z:
            packed = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if installed == packed else path


def main() -> None:
    keep = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    gone = set(sys.path) - set(keep)
    sys.path[:] = keep
    # finding this module already opened a zipimporter per archive
    for entry, finder in list(sys.path_importer_cache.items()):
        if getattr(finder, "archive", None) in gone:
            del sys.path_importer_cache[entry]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
