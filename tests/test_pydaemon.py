"""The Python worker daemon shim (rsoup_spark/_pydaemon.py).

The shim replaces ``zipimporter.invalidate_caches`` so an importer
re-reads its archive only when the file changed.  These tests pin that
the session really runs it, that imports through zips still see new and
rewritten archives, and that a daemon module that cannot be imported
fails the job loudly instead of falling back.
"""

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from rsoup_spark import _pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def patched():
    """The patch in this process, removed afterwards."""
    original = zipimport.zipimporter.invalidate_caches
    _pydaemon.install()
    yield
    zipimport.zipimporter.invalidate_caches = original


def test_unchanged_archive_is_not_reread(tmp_path, patched, monkeypatch):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"shim_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    reads = []
    real = _pydaemon._original_invalidate
    monkeypatch.setattr(_pydaemon, "_original_invalidate",
                        lambda self: (reads.append(self.archive), real(self)))
    for _ in range(5):
        imp.invalidate_caches()
    assert reads == [path]  # first call stamps, the rest skip


def test_rewritten_archive_is_reread(tmp_path, patched):
    path = str(tmp_path / "b.zip")
    _write_zip(path, {"shim_mod_b1": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    assert imp.find_spec("shim_mod_b2") is None
    _write_zip(path, {"shim_mod_b2": "X = 2\n" + "#" * 64})
    imp.invalidate_caches()
    assert imp.find_spec("shim_mod_b2") is not None
    assert imp.find_spec("shim_mod_b1") is None


@pytest.mark.spark
def test_task_runs_the_shim(spark):
    def probe(_):
        from rsoup_spark import _pydaemon as d

        return d.installed()

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == (
        "rsoup_spark._pydaemon"
    )
    assert set(sc.parallelize(range(8), 8).map(probe).collect()) == {True}


@pytest.mark.spark
def test_add_py_file_zip_mid_session(spark, tmp_path):
    """A zip shipped with addPyFile after the workers started is
    importable in a task (it arrives as a new sys.path entry)."""
    path = str(tmp_path / "shim_added.zip")
    _write_zip(path, {"shim_added_mod": "VALUE = 41\n"})
    spark.sparkContext.addPyFile(path)

    def use(_):
        import shim_added_mod

        return shim_added_mod.VALUE + 1

    assert spark.sparkContext.parallelize([0], 1).map(use).collect() == [42]


@pytest.mark.spark
def test_rewritten_zip_is_reread_in_a_task(spark):
    """Inside a worker running the shim, a zip rewritten in place after
    its importer was cached is re-read by the per-task invalidation."""

    def rewrite_and_import(_):
        import importlib
        import os
        import sys
        import tempfile
        import zipfile

        def write(path, name, src):
            tmp = path + ".tmp"
            with zipfile.ZipFile(tmp, "w") as z:
                z.writestr(f"{name}.py", src)
            os.replace(tmp, path)

        path = os.path.join(tempfile.mkdtemp(), "rw.zip")
        write(path, "shim_rw_one", "V = 1\n")
        sys.path.insert(0, path)
        try:
            first = importlib.import_module("shim_rw_one").V
            write(path, "shim_rw_two", "V = 2\n" + "#" * 64)
            importlib.invalidate_caches()  # what every task start does
            second = importlib.import_module("shim_rw_two").V
        finally:
            sys.path.remove(path)
        return first, second

    got = spark.sparkContext.parallelize([0], 1).map(rewrite_and_import)
    assert got.collect() == [(1, 2)]


@pytest.mark.spark
def test_missing_daemon_module_fails_loudly(tmp_path):
    """A session whose daemon module cannot be imported fails its first
    Python job with the module's name in the error -- no silent
    fallback to the stock daemon.  Own process: it needs its own JVM."""
    script = textwrap.dedent("""
        import os, sys
        os.environ["SPARK_GRAFT_NO_WARM"] = "1"
        from rsoup_spark import session
        session.PYTHON_DAEMON_MODULE = "rsoup_spark._no_such_daemon"
        spark = session.get_spark("missing-daemon", master="local[1]")
        try:
            spark.sparkContext.parallelize([1], 1).map(lambda x: x).collect()
        except Exception as e:
            print("FAILED:", str(e)[:20000])
        else:
            print("RAN")
        finally:
            spark.stop()
    """)
    # a second JVM beside the suite's: keep its heap small
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path),
               SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "FAILED:" in out.stdout, out.stdout + out.stderr
    assert "rsoup_spark._no_such_daemon" in out.stdout, out.stdout

