"""Python worker daemon for the engine's Spark sessions.

Spark forks its Python workers from a daemon process.  Each task
starts with pyspark's `setup_spark_files`, which calls
`importlib.invalidate_caches()`; on CPython 3.11 that makes every
`zipimporter` re-read its archive's whole central directory.  A worker
holds about 16 of them, mostly over pyspark.zip's 1,328 entries, so
each task pays ~0.25 CPU-s whatever its UDF does.

Run as a module (`get_spark` names it in `spark.python.daemon.module`),
this installs a zip invalidation that re-reads an archive only when its
(mtime, size) stamp has changed, then runs the stock pyspark daemon, so
every forked worker inherits it.  A changed archive is still re-read.
"""

import os
import zipimport


def install():
    """Make `zipimporter.invalidate_caches` skip an archive whose stamp
    matches the one taken at that importer's last read; a failed stat
    always re-reads.  Returns the original method, to undo the patch."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            reread(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return reread


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon
    # stamp the importers the daemon already holds, so forked workers
    # start with them current
    importlib.invalidate_caches()
    daemon.manager()
