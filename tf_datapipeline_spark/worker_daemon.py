"""Python worker daemon: pyspark's own, with zip importers that re-read an
archive only when the file changed.

pyspark calls `importlib.invalidate_caches()` at the start of every task
(`worker_util.setup_spark_files`). Before Python 3.13 every zipimporter
answers by re-parsing its whole archive's central directory. A worker holds
16-18 of them (pyspark.zip, the spark-core jar, py4j), so each task burned
0.15-0.3 s of CPU on a 4-vCPU x86 host before its first line. Here an
importer re-reads only when the archive's (inode, size, mtime) differs from
its last read, so an `addPyFile` zip that changes is still picked up. 3.13+
invalidates lazily and is left alone. `session.get_spark` names this module
in `spark.python.daemon.module`.
"""

import os
import sys
import zipimport

if __name__ == "__main__":
    # `python -m` runs this file as __main__: install the patch under the
    # module's import name, then serve as the stock daemon.
    import tf_datapipeline_spark.worker_daemon  # noqa: F401
    from pyspark.daemon import manager

    manager()
elif sys.version_info < (3, 13):
    _reread = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_stamp", None) != stamp:
            _reread(self)  # stat first: a change during the read shows next time
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
