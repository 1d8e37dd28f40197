"""Python tasks run under the session's worker daemon.

`get_spark` starts Spark's Python workers from
`social_and_media_data_ingestion_spark.pyworker`, whose per-task
`invalidate_caches()` leaves the importers over the archives that were on
the worker's `sys.path` at start (pyspark.zip, the py4j zip, the
spark-core jar) alone. Each test runs its probe inside a real
`mapInPandas` task. The directory-read count is deterministic, so the
guard does not depend on machine load."""

from __future__ import annotations

import os
import zipfile

import social_and_media_data_ingestion_spark as pkg


def _task(spark, fn, schema):
    return spark.range(1, numPartitions=1).mapInPandas(fn, schema).collect()


def _probe_row(spark):
    """Run the archive-read probe in one task; module-level functions
    pickle by reference to this test module, which workers cannot
    import, so the task function is defined here."""

    def _probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd
        import pyspark.worker_util as wu
        from pyspark.core.files import SparkFiles

        for _ in batches:
            pass
        root = SparkFiles.getRootDirectory()
        startup = {
            p for p in sys.path
            if p.endswith((".zip", ".jar")) and not p.startswith(root)
        }
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            wu.importlib.invalidate_caches()
            shim_reads = sum(a in startup for a in reads)
            reads.clear()
            importlib.invalidate_caches()
            stdlib_reads = sum(a in startup for a in reads)
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({
            "module": [getattr(wu.importlib.invalidate_caches, "__module__", None)],
            "n_startup": [len(startup)],
            "shim_reads": [shim_reads],
            "stdlib_reads": [stdlib_reads],
        })

    (row,) = _task(
        spark, _probe,
        "module string, n_startup long, shim_reads long, stdlib_reads long",
    )
    return row


def test_task_invalidate_caches_is_the_daemon_shim(spark):
    row = _probe_row(spark)
    assert row.module == "social_and_media_data_ingestion_spark.pyworker"


def test_task_does_not_reread_startup_archives(spark):
    row = _probe_row(spark)
    # The worker starts with pyspark.zip and friends on sys.path, and the
    # stdlib call re-reads each of their central directories (the control
    # shows the counter sees those reads); the shim reads none of them.
    assert row.n_startup > 0
    assert row.stdlib_reads > 0
    assert row.shim_reads == 0


def test_add_py_file_after_first_task_is_importable(spark, tmp_path):
    tag = f"{os.getpid()}_{os.urandom(4).hex()}"
    py_mod, zip_mod = f"pyw_file_{tag}", f"pyw_zip_{tag}"

    def try_import(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        got = []
        for name in (py_mod, zip_mod):
            try:
                got.append(importlib.import_module(name).VALUE)
            except ImportError:
                got.append("missing")
        yield pd.DataFrame({"py": [got[0]], "zip": [got[1]]})

    schema = "py string, zip string"
    # A first task looks both names up (and misses), so the workers' path
    # finders hold state that must be invalidated for the later import.
    assert _task(spark, try_import, schema)[0].asDict() == {
        "py": "missing", "zip": "missing",
    }
    py_file = tmp_path / f"{py_mod}.py"
    py_file.write_text("VALUE = 'from py'\n")
    zip_file = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(zip_file, "w") as zf:
        zf.writestr(f"{zip_mod}.py", "VALUE = 'from zip'\n")
    spark.sparkContext.addPyFile(str(py_file))
    spark.sparkContext.addPyFile(str(zip_file))
    assert _task(spark, try_import, schema)[0].asDict() == {
        "py": "from py", "zip": "from zip",
    }


def test_task_invalidate_caches_still_refreshes_other_finders(spark):
    """Inside a task: a module written into a directory on `sys.path`
    after a missed lookup (directory mtime held, as within one mtime
    tick) and a module added to a zip already on `sys.path` both import
    after the shim's `invalidate_caches()`; only the startup archives
    keep their cached directories."""

    def probe(batches):
        import importlib
        import os
        import sys
        import tempfile
        import zipfile

        import pandas as pd
        import pyspark.worker_util as wu

        for _ in batches:
            pass
        tag = os.urandom(4).hex()
        root = tempfile.mkdtemp()
        zpath = os.path.join(root, "mods.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            zf.writestr(f"pyw_zfirst_{tag}.py", "VALUE = 1\n")
        sys.path[:0] = [root, zpath]
        try:
            importlib.import_module(f"pyw_zfirst_{tag}")
            for name in (f"pyw_dir_{tag}", f"pyw_zlater_{tag}"):
                try:
                    importlib.import_module(name)
                except ImportError:
                    pass
            st = os.stat(root)
            with open(os.path.join(root, f"pyw_dir_{tag}.py"), "w") as fh:
                fh.write("VALUE = 'dir'\n")
            with zipfile.ZipFile(zpath, "a") as zf:
                zf.writestr(f"pyw_zlater_{tag}.py", "VALUE = 'zip'\n")
            os.utime(root, ns=(st.st_atime_ns, st.st_mtime_ns))
            wu.importlib.invalidate_caches()
            got = []
            for name in (f"pyw_dir_{tag}", f"pyw_zlater_{tag}"):
                try:
                    got.append(importlib.import_module(name).VALUE)
                except ImportError:
                    got.append("missing")
        finally:
            sys.path.remove(root)
            sys.path.remove(zpath)
        yield pd.DataFrame({"dir": [got[0]], "zip": [got[1]]})

    (row,) = _task(spark, probe, "dir string, zip string")
    assert row.asDict() == {"dir": "dir", "zip": "zip"}


def test_udf_imports_the_driver_checkout(spark):
    def where(batches):
        import pandas as pd

        import social_and_media_data_ingestion_spark as p

        for _ in batches:
            pass
        yield pd.DataFrame({"file": [os.path.realpath(p.__file__)]})

    (row,) = _task(spark, where, "file string")
    assert row.file == os.path.realpath(pkg.__file__)
