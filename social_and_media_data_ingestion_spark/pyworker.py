"""Spark Python worker daemon that keeps the install-time archive caches.

`session.get_spark` names this module in `spark.python.daemon.module`.
It runs `pyspark.daemon` unchanged except for one call: before every
task, `pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`, which makes each `zipimporter` re-read
its archive's central directory. The worker's `sys.path` starts with
pyspark.zip (~1,300 entries), the py4j zip and the spark-core jar
(~5,400 entries), and there is one `zipimporter` per pyspark subpackage
imported from them, so that call cost 0.13-0.36 s per task on local[4].

The shim lifts the importers over the archives that were on `sys.path`
when the daemon started out of `sys.path_importer_cache` for the call
and puts them back after it. Those archives belong to the Spark install
and do not change while the session runs. Every other finder, including
`addPyFile` archives and directories under the SparkFiles root, is
invalidated exactly as before.
"""

from __future__ import annotations

import importlib
import sys
import types
import zipimport

import pyspark.daemon
import pyspark.worker_util

_STARTUP_ARCHIVES = frozenset(p for p in sys.path if p.endswith((".zip", ".jar")))


def invalidate_caches() -> None:
    """`importlib.invalidate_caches()` without re-reading the startup archives."""
    cache = sys.path_importer_cache
    kept = {
        path: finder
        for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter)
        and finder.archive in _STARTUP_ARCHIVES
    }
    for path in kept:
        del cache[path]
    try:
        importlib.invalidate_caches()
    finally:
        cache.update(kept)


def main() -> None:
    # Forked workers inherit the patched module attribute.
    pyspark.worker_util.importlib = types.SimpleNamespace(
        invalidate_caches=invalidate_caches
    )
    pyspark.daemon.manager()


if __name__ == "__main__":
    # `python -m` runs this file as `__main__`; start from the package
    # module so the shim is the one the tasks see under its own name.
    from social_and_media_data_ingestion_spark.pyworker import main as _main

    _main()
