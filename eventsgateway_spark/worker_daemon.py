"""Python worker daemon for local engine sessions: Spark's own
``pyspark.daemon``, minus the per-task re-read of every zip archive.

Every Python worker task runs ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython < 3.12 that
makes each ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
its whole archive directory (CPython gh-103200, fixed in 3.12). Workers
import pyspark from ``pyspark.zip``, so a task pays for about 16 full reads
of it (120-200 ms) before its UDF starts, even on a reused worker.

Here ``zipimporter.invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since that importer last read it, so a
rewritten or newly added zip is still picked up. The importers that exist
when the daemon starts are stamped first, so forked workers skip even
their first re-read. Before it forks, the daemon imports only the stdlib
and ``pyspark.daemon`` (the package ``__init__`` exports lazily), which
keeps its workers as light as those of Spark's default daemon.
``session.get_spark`` selects it through ``spark.python.daemon.module``.
"""

import os
import sys
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp(importer):
    try:
        st = os.stat(importer.archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(importer):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(importer)
    if stamp is None or stamp != getattr(importer, "_read_stamp", None):
        _read_archive(importer)
        importer._read_stamp = stamp


def install():
    """Stamp the live zip importers and replace the method for all."""
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._read_stamp = _stamp(importer)
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 12):
        # import by name, so the installed method names this module
        # rather than __main__
        from eventsgateway_spark.worker_daemon import install as _install

        _install()
    daemon.manager()
