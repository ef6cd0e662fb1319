"""The engine's Python worker daemon (``hyppo_worker_spark/pydaemon.py``):
a worker task re-reads a zip archive's directory only when the archive
changed, ``addPyFile`` still reaches warm workers, and the workers find
the daemon from any working directory."""

import importlib.util
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

from pyspark.sql import functions as F

from hyppo_worker_spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zmod_a": "VALUE = 1\n"})
    reads = []
    reread = pydaemon._reread

    def counting_reread(self):
        reads.append(self.archive)
        reread(self)

    monkeypatch.setattr(pydaemon, "_reread", counting_reread)
    monkeypatch.setattr(pydaemon, "_STAMPS", {})
    try:
        imp = zipimport.zipimporter(path)
        pydaemon.invalidate_caches(imp)  # first call stamps the archive
        files = imp._files
        pydaemon.invalidate_caches(imp)
        pydaemon.invalidate_caches(imp)
        assert reads == [path]
        assert imp._files is files

        # rewritten in place with a new module: read again, importable
        _write_zip(path, {"zmod_a": "VALUE = 1\n", "zmod_b": "VALUE = 2\n"})
        pydaemon.invalidate_caches(imp)
        assert reads == [path, path]
        assert imp._files is not files
        spec = imp.find_spec("zmod_b")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.VALUE == 2
    finally:
        zipimport._zip_directory_cache.pop(path, None)


def test_worker_keeps_zip_directories_across_tasks(spark):
    """Each task reports, from its Python worker, where
    ``zipimporter.invalidate_caches`` comes from and the directories its
    ``pyspark.zip`` importers hold: one shared directory, the same
    object in both tasks, means no task re-read the archive."""

    def probe(_):
        import sys as wsys
        import zipimport as wzip

        files = {
            id(f._files)
            for f in wsys.path_importer_cache.values()
            if isinstance(f, wzip.zipimporter)
            and f.archive.endswith("pyspark.zip")
        }
        fn = wzip.zipimporter.invalidate_caches
        return f"{fn.__code__.co_filename}|{len(files)}|{min(files)}"

    udf = F.udf(probe, "string")
    runs = [
        spark.range(1).select(udf("id")).collect()[0][0] for _ in range(2)
    ]
    origin, n_files, _ = runs[0].split("|")
    assert os.path.realpath(origin) == os.path.realpath(pydaemon.__file__)
    assert n_files == "1", runs[0]
    assert runs[1] == runs[0]


def test_add_py_file_reaches_warm_workers(spark, tmp_path):
    warm = F.udf(lambda x: x + 1, "long")
    assert spark.range(2).select(warm("id")).collect()[1][0] == 2

    name = f"hws_pyfile_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def shipped(x):
        return importlib.import_module(name).VALUE + x

    udf = F.udf(shipped, "long")
    assert [r[0] for r in spark.range(2).select(udf("id")).collect()] == [42, 43]


def test_workers_find_daemon_outside_checkout(tmp_path):
    """A driver started in a temp directory with no PYTHONPATH: the
    workers import the daemon through the path ``get_spark`` adds to
    the caller's ``spark.executorEnv.PYTHONPATH``."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from hyppo_worker_spark.session import get_spark

        spark = get_spark(
            "pydaemon-cwd",
            master="local[1]",
            extra_conf={{"spark.executorEnv.PYTHONPATH": "/caller/path"}},
        )
        print("PATH", spark.sparkContext.getConf().get(
            "spark.executorEnv.PYTHONPATH"))
        double = F.udf(lambda x: x * 2, "long")
        print("ROWS", [r[0] for r in spark.range(3).select(double("id")).collect()])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    assert lines["PATH"] == os.pathsep.join(["/caller/path", ROOT])
    assert lines["ROWS"] == "[0, 2, 4]"
