"""Session defaults that depend on the host (the RAM-backed scratch
dir, the driver heap, the CPU count), where host facts are monkeypatched
so no Spark starts; and the Python-worker daemon: its sys.path decision
as a pure function, then the workers of real sessions."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
from types import SimpleNamespace

import pytest

from flink_join_scaling_spark import session

GIB = 1 << 30
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_daemon():
    path = os.path.join(session._PYWORKER_DIR, session._DAEMON_MODULE + ".py")
    spec = importlib.util.spec_from_file_location(session._DAEMON_MODULE, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


graft_daemon = _load_daemon()


def _host(monkeypatch, ram_bytes: int, shm_free_bytes: int) -> None:
    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sysconf[name])
    monkeypatch.setattr(
        os,
        "statvfs",
        lambda path: SimpleNamespace(f_frsize=page, f_bavail=shm_free_bytes // page),
    )
    monkeypatch.setattr(os, "access", lambda path, mode: True)


@pytest.mark.parametrize(
    "ram_bytes, shm_free_bytes, local_dir, driver_mem",
    [
        # small host: /dev/shm too small to hold shuffle scratch, heap
        # is half of a 15 GiB machine rather than a fixed 16g
        (15 * GIB + GIB // 2, 2 * GIB, None, "7g"),
        (GIB, GIB, None, "1g"),
        # big host: /dev/shm has room, heap stays at the 16g ceiling
        (256 * GIB, 64 * GIB, "/dev/shm/fjss-spark-local", "16g"),
        (32 * GIB, 4 * GIB, "/dev/shm/fjss-spark-local", "16g"),
    ],
)
def test_defaults_fit_host(monkeypatch, ram_bytes, shm_free_bytes, local_dir, driver_mem):
    _host(monkeypatch, ram_bytes, shm_free_bytes)
    assert session._default_local_dir() == local_dir
    assert session._default_driver_memory() == driver_mem


def test_unwritable_shm_keeps_spark_default(monkeypatch):
    _host(monkeypatch, 256 * GIB, 64 * GIB)
    monkeypatch.setattr(os, "access", lambda path, mode: False)
    assert session._default_local_dir() is None


def test_default_cpus_is_the_affinity_mask(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert session._default_cpus() == 3


# ------------------------------------------------- Python-worker daemon

_SPARK_PATH = [
    "/work",
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
    "/repo",
    "/usr/lib/python3.11",
    "/usr/lib/python3.11/site-packages",
]


def test_daemon_drops_archives_at_equal_versions():
    assert graft_daemon.worker_path(_SPARK_PATH, "4.1.2", True, "4.1.2") == [
        "/work",
        "/repo",
        "/usr/lib/python3.11",
        "/usr/lib/python3.11/site-packages",
    ]


@pytest.mark.parametrize(
    "pyspark_version, has_py4j, archive_version",
    [
        ("4.1.1", True, "4.1.2"),  # version mismatch
        (None, True, "4.1.2"),  # no pyspark outside the archives
        ("4.1.2", False, "4.1.2"),  # no py4j outside the archives
        ("4.1.2", True, None),  # no archive holds pyspark/version.py
    ],
)
def test_daemon_keeps_archives(pyspark_version, has_py4j, archive_version):
    got = graft_daemon.worker_path(_SPARK_PATH, pyspark_version, has_py4j, archive_version)
    assert got == _SPARK_PATH


def _tree(root, files: dict[str, str]) -> str:
    for rel, text in files.items():
        os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
        with open(os.path.join(root, rel), "w") as f:
            f.write(text)
    return str(root)


def test_daemon_reads_versions_without_importing(tmp_path):
    """The facts the decision takes are read from files: the archive's
    ``pyspark/version.py`` and the one on the plain path entries."""
    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", '__version__: str = "9.0.1"\n')
    site = _tree(
        tmp_path / "site",
        {
            "pyspark/__init__.py": "raise ImportError",
            "pyspark/version.py": "__version__ = '9.0.1'\n",
            "py4j/__init__.py": "",
        },
    )
    bare = _tree(tmp_path / "bare", {"other/__init__.py": ""})
    assert graft_daemon._archive_version([bare, archive]) == "9.0.1"
    assert graft_daemon._archive_version([bare]) is None
    assert graft_daemon._interpreter_versions([archive, site]) == ("9.0.1", True)
    assert graft_daemon._interpreter_versions([archive, bare]) == (None, False)


def test_workers_import_pyspark_outside_archives(spark):
    """A task of a get_spark session: pyspark comes from the interpreter,
    no zipimporter is cached, and the per-task invalidate_caches() that
    ``setup_spark_files`` runs is cheap (0.15-0.3 s with the archives)."""

    def probe(batches):
        import importlib
        import sys
        import time
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        yield pd.DataFrame({"file": [pyspark.__file__], "zips": [zips], "ms": [ms]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "file string, zips long, ms double")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert not any(seg.endswith((".zip", ".jar")) for seg in r.file.split(os.sep)), r.file
        assert r.zips == 0
        assert r.ms < 5.0


def test_pandas_udf_from_any_cwd(tmp_path):
    """Workers find the daemon module through the session's worker
    PYTHONPATH: a driver started outside the repo, with PYTHONPATH unset
    and the repo only on its own sys.path, runs a pandas UDF. A worker
    PYTHONPATH the caller passes is kept beside the daemon's."""
    _tree(tmp_path / "lib", {"udf_helper.py": "def bump(s):\n    return s + 1\n"})
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from flink_join_scaling_spark.session import get_spark

        spark = get_spark(
            app_name="fjss-any-cwd", cpus=1, shuffle_partitions=1,
            extra_conf={{"spark.driver.memory": "1g",
                         "spark.sql.warehouse.dir": {str(tmp_path / "wh")!r},
                         "spark.executorEnv.PYTHONPATH": {str(tmp_path / "lib")!r}}},
        )

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            import udf_helper

            return udf_helper.bump(s)

        print("SUM", sum(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "SUM 6" in out.stdout, out.stderr[-4000:]
