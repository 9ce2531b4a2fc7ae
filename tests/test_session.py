"""Session defaults: the worker daemon that re-reads a zip-import
directory only when its archive changed (worker_daemon.py)."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from scalablevectorsearch_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("svs_zipmod_a.py", "VALUE = 1\n")
    reads = []
    original = worker_daemon._read

    def counting_read(importer):
        reads.append(importer.archive)
        return original(importer)

    monkeypatch.setattr(worker_daemon, "_read", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("svs_zipmod_a").VALUE == 1

        # rewritten archive: re-read, and the new module imports
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("svs_zipmod_a.py", "VALUE = 1\n")
            z.writestr("svs_zipmod_b.py", "VALUE = 2\n")
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("svs_zipmod_b").VALUE == 2

        # unchanged archive: the directory is not read again
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0
        importer = sys.path_importer_cache[archive]
        st = os.stat(archive)
        assert importer._svs_stamp == (st.st_mtime_ns, st.st_size, st.st_ino)

        # a failing stat counts as changed
        os.remove(archive)
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        for name in ("svs_zipmod_a", "svs_zipmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


# worker-side probe as source: exec'd here it pickles by value (a worker
# never imports this test module), and the fresh-process test reuses it
_REPORT = """
def report(batches):
    import sys
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    zips = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
    yield pa.RecordBatch.from_pydict({
        "fn": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
        "zips": [len(zips)],
        "stamped": [sum(hasattr(z, "_svs_stamp") for z in zips)],
    })
"""


def test_get_spark_workers_run_the_daemon(spark):
    env = {}
    exec(_REPORT, env)
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "scalablevectorsearch_spark.worker_daemon"
    )
    rows = spark.range(4, numPartitions=2).mapInArrow(
        env["report"], "fn string, zips long, stamped long"
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert os.path.basename(r["fn"]) == "worker_daemon.py"
        assert r["stamped"] == r["zips"]


def test_extra_conf_restores_the_stock_daemon(tmp_path):
    """A fresh process: the daemon is fixed when the SparkContext starts."""
    script = _REPORT + textwrap.dedent(
        """
        from scalablevectorsearch_spark.session import get_spark

        spark = get_spark(
            "svs-stock-daemon",
            extra_conf={"spark.python.daemon.module": "pyspark.daemon"},
        )
        print("CONF", spark.sparkContext.getConf().get("spark.python.daemon.module"))
        for r in spark.range(2, numPartitions=1).mapInArrow(
            report, "fn string, zips long, stamped long"
        ).collect():
            print("WORKER", r["fn"], r["stamped"], sep="|")
        spark.stop()
        """
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert "CONF pyspark.daemon" in lines
    workers = [ln.split("|") for ln in lines if ln.startswith("WORKER|")]
    assert len(workers) == 1
    _, fn, stamped = workers[0]
    assert os.path.basename(fn) != "worker_daemon.py"
    assert stamped == "0"
