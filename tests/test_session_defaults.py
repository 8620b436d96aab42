"""get_spark's default sizing comes from the host, not a fixed box, and
its Python workers start without Spark's archives on their path, with
pandas and pyarrow loaded and frozen out of the per-task collection, and
its status data is readable with the web UI off."""

from __future__ import annotations

import os
import uuid
import zipfile

import pytest

from zensearch_spark.session import default_sizing
from zensearch_spark.worker_daemon import worker_path


def test_default_sizing_follows_host():
    cores, mem = default_sizing({})
    assert cores == len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= max(1, phys_gb / 4 + 0.5)


def test_default_sizing_env_overrides():
    env = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    assert default_sizing(env) == (3, "2g")


VERSION_PY = b"__version__: str = '9.9.9'\n"


@pytest.fixture
def spark_layout(tmp_path):
    """A SPARK_HOME with pyspark / py4j zips and a spark-core jar, plus an
    empty site directory; returns (spark_home, site, path) where path is
    the worker path the JVM would hand over, around other entries."""
    home, site = tmp_path / "spark", tmp_path / "site"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    site.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", VERSION_PY)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    (home / "jars").mkdir()
    (home / "jars" / "spark-core_2.13-9.9.9.jar").write_bytes(b"")
    path = [
        str(tmp_path / "work"),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(home / "jars" / "spark-core_2.13-9.9.9.jar"),
        str(tmp_path / "repo"),
        str(site),
        str(tmp_path / "other"),
    ]
    return str(home), site, path


def _install(site, version_py: bytes) -> None:
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir()
        (site / pkg / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(version_py)


def test_worker_path_drops_archives_for_matching_install(spark_layout):
    home, site, path = spark_layout
    _install(site, VERSION_PY)
    assert worker_path(path, home) == path[:1] + path[4:]


@pytest.mark.parametrize("case", ["other_version", "no_install", "no_spark_home"])
def test_worker_path_keeps_zips_without_matching_install(spark_layout, case):
    """A differing version.py, no pyspark outside the zip, or no
    SPARK_HOME to find the zip by: only the jar goes, so a deployment
    without an installed pyspark still starts."""
    home, site, path = spark_layout
    if case == "other_version":
        _install(site, b"__version__: str = '9.9.8'\n")
    elif case == "no_spark_home":
        _install(site, VERSION_PY)
        home = None
    assert worker_path(path, home) == path[:3] + path[4:]


def test_workers_import_installed_pyspark(spark):
    """A Python task imports the driver's pyspark and holds no zipimporter
    for an archive of SPARK_HOME or a jar: a task's
    importlib.invalidate_caches() then re-reads no archive directory."""
    import pyspark

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        archives = [
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        yield pd.DataFrame({"file": [pyspark.__file__], "archives": [archives]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "file string, archives array<string>"
    ).collect()[0]
    assert row["file"] == pyspark.__file__
    home = os.environ.get("SPARK_HOME")
    # SPARK_HOME may be a link to the versioned directory the jar sits in
    homes = {os.path.join(h, "") for h in (home, os.path.realpath(home))} if home else set()
    for archive in row["archives"]:
        assert not archive.endswith(".jar"), archive
        for a in (archive, os.path.realpath(archive)):
            assert not any(a.startswith(h) for h in homes), archive


def test_workers_fork_from_frozen_heap(spark):
    """A Python task runs in a worker forked after the daemon froze its
    heap (pandas and pyarrow included), so the collection after each
    task walks only the objects made since the fork."""

    def probe(batches):
        import gc

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "frozen long").collect()[0]
    assert row["frozen"] > 0


def test_status_data_without_ui(spark):
    """The web UI is off, and the status data a harness reads is there
    anyway: a job group's jobs, their stages and each stage's tasks come
    from statusTracker(), which needs no UI."""
    sc = spark.sparkContext
    assert sc.uiWebUrl is None
    gid = f"zs-test-status-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        spark.range(100, numPartitions=2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(gid)
    assert len(jobs) == 1
    stages = tracker.getJobInfo(jobs[0]).stageIds
    assert len(stages) == 1
    assert tracker.getStageInfo(stages[0]).numTasks == 2
