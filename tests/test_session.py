"""Session settings: master resolution and the local worker daemon.

``session.get_spark`` starts local Python workers from
``siren_spark.worker_daemon``, which takes Spark's duplicate archives
(``pyspark.zip``, the py4j zip, the spark-core jar) off the worker path
when the installed pyspark and py4j are the same releases.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder
from pathlib import Path

import pytest

from siren_spark.session import _worker_daemon_conf
from siren_spark.worker_daemon import drop_spark_archives
from tests.test_spark_submit import REPO, SPARK_SUBMIT

DAEMON = {"spark.python.daemon.module": "siren_spark.worker_daemon"}


def _installed_version_py(pkg: str) -> bytes:
    spec = PathFinder.find_spec(pkg)
    return (Path(spec.submodule_search_locations[0]) / "version.py").read_bytes()


def _archive(path: Path, pkg: str, version_py: bytes) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/version.py", version_py)
    return str(path)


def _spark_like_path(tmp_path: Path, pyspark_version_py: bytes):
    archives = [
        _archive(tmp_path / "pyspark.zip", "pyspark", pyspark_version_py),
        _archive(tmp_path / "py4j-0.10.9.9-src.zip", "py4j",
                 _installed_version_py("py4j")),
        str(tmp_path / "spark-core_2.13-4.1.2.jar"),
    ]
    dirs = [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    cache = {archives[0]: object(),
             os.path.join(archives[0], "pyspark", "sql") + os.sep: object(),
             archives[2]: object(),
             dirs[-1]: object()}
    return archives, dirs, cache


def test_drop_rule_removes_matching_archives(tmp_path):
    archives, dirs, cache = _spark_like_path(
        tmp_path, _installed_version_py("pyspark"))
    path = archives + dirs
    keep = cache[dirs[-1]]
    assert drop_spark_archives(path, cache)
    assert path == dirs
    assert cache == {dirs[-1]: keep}


def test_drop_rule_keeps_path_when_versions_differ(tmp_path):
    archives, dirs, cache = _spark_like_path(
        tmp_path, b"__version__: str = '0.0.0'\n")
    path = archives + dirs
    path_before, cache_before = list(path), dict(cache)
    assert not drop_spark_archives(path, cache)
    assert path == path_before
    assert cache == cache_before


def test_worker_daemon_imports_no_pyspark_before_the_drop():
    """The daemon must be importable without importing pyspark or py4j:
    an import before the drop would load them from the archives."""
    code = ("import sys, siren_spark.worker_daemon; "
            "print(sorted({m.split('.')[0] for m in sys.modules} "
            "& {'pyspark', 'py4j'}))")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


def test_worker_daemon_only_for_local_masters_on_the_worker_path(
        tmp_path, monkeypatch):
    monkeypatch.chdir(REPO)
    monkeypatch.setenv("PYTHONPATH", "")
    assert _worker_daemon_conf("local[2]") == DAEMON
    assert _worker_daemon_conf("local") == DAEMON
    for master in ("local-cluster[2,1,1024]", "spark://h:7077", "yarn"):
        assert _worker_daemon_conf(master) == {}
    # workers started elsewhere cannot import the package before a task
    monkeypatch.chdir(tmp_path)
    assert _worker_daemon_conf("local[2]") == {}
    monkeypatch.setenv("PYTHONPATH", str(REPO))
    assert _worker_daemon_conf("local[2]") == DAEMON


def test_python_workers_hold_no_spark_archive_importers(spark):
    """A Python task of the shared local session sees no zipimporter for
    Spark's archives: PySpark's per-task ``invalidate_caches()`` would
    make each re-read its whole archive directory."""
    import pandas as pd

    def importers(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"key": [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)] or [None]})

    keys = {r.key for r in spark.range(4).repartition(2)
            .mapInPandas(importers, "key string").collect()} - {None}
    spark_archive = ("pyspark.zip", "py4j-", ".jar")
    assert not [k for k in keys if any(s in k for s in spark_archive)], keys


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not on this host")
def test_get_spark_honours_spark_submit_master(tmp_path):
    """``spark-submit --master local[3]`` of a job that calls
    ``get_spark`` without a master runs on local[3], not local[*]; its
    Python task runs in the local worker daemon."""
    job = tmp_path / "master_job.py"
    job.write_text(
        "from siren_spark.session import get_spark\n"
        "sc = get_spark(app_name='master_probe').sparkContext\n"
        "n = sc.parallelize(range(6), 3).map(lambda x: x + 1).sum()\n"
        "print('probe', sc.master,\n"
        "      sc.getConf().get('spark.python.daemon.module'), n)\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS")}
    env["PYTHONPATH"] = str(REPO)
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[3]", str(job)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    probe = [ln.split() for ln in proc.stdout.splitlines()
             if ln.startswith("probe ")]
    assert probe == [["probe", "local[3]", "siren_spark.worker_daemon",
                      "21"]], proc.stdout[-2000:]
