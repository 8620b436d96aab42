"""Python worker daemon: Spark's archives off the workers' path, pandas
and pyarrow loaded before the fork, and the loaded heap frozen.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
JVM starts ``python -m zensearch_spark.worker_daemon`` instead of
``pyspark.daemon``. It fixes ``sys.path`` once, imports pandas and
pyarrow, runs ``gc.collect()`` + ``gc.freeze()`` and hands over to
``pyspark.daemon.manager()``; every forked worker inherits all three.

Why the path: every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that
makes every zipimporter re-read its archive's whole directory. The JVM
prepends ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar to the workers' PYTHONPATH, which left 16 zipimporters
per worker: the call took ~140 ms of CPU in every task, and a trivial
one-row task ~250 ms of worker CPU (4 vCPU, Python 3.11.7, PySpark
4.1.2); without them the call takes ~0.04 ms and the task ~40 ms.

Why the imports and the freeze: a freshly forked worker imported pandas
and pyarrow while unpickling its first pandas UDF (~0.25 s of CPU in
every new worker), and ``pyspark.daemon`` runs a full ``gc.collect()``
after every task of a reused worker. With numpy, pandas, pyarrow and
pyspark loaded that walks ~73,000 tracked objects, ~30 ms of CPU per
task. Frozen objects sit in the permanent generation, which no
collection walks, so a task's collection covers only what was created
after the fork (the fork pattern of the ``gc.freeze`` docs): the
collection takes ~0.2 ms and the trivial task ~11 ms of worker CPU
(was ~40 ms). Importing pyarrow
starts one ``jemalloc_bg_thd`` thread in the daemon before it forks;
numpy (imported by pyspark) already started its OpenBLAS threads.

Nothing here may import pyspark before the path is fixed.
"""

from __future__ import annotations

import fnmatch
import gc
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
    # every pandas/Arrow UDF unpickles into pandas and pyarrow: load them
    # once here, not in each forked worker, then freeze what is loaded so
    # the daemon's gc.collect() after each task walks only new objects
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
