"""Python worker daemon: `pyspark.daemon`, minus the per-task zip re-reads.

Every task's `worker_util.setup_spark_files` ends in
`importlib.invalidate_caches()`. On CPython < 3.13 that makes each cached
`zipimporter` re-read its archive's central directory, and a worker holds
~15 importers for pyspark.zip (~1.3k entries): 0.24-0.38 s per task on a
4-core host. Here an importer skips the re-read while its archive's
(mtime_ns, size, inode) is what it was before the archive's latest read,
and takes that read's directory instead; a rewritten archive is re-read.
CPython >= 3.13 only drops the cache and is left alone. `session.get_spark`
names this module in `spark.python.daemon.module`.
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def skip_unchanged_zip_rereads() -> None:
    """Patch this process's zipimport; a no-op on CPython >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    reads = {}  # archive -> (stamp taken before its latest read, that read)

    def stamped_read(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        reads[archive] = (stamp, files)
        return files

    def invalidate_if_changed(self):
        stamp, files = reads.get(self.archive, (None, None))
        if stamp is None or stamp != _stamp(self.archive):
            invalidate(self)
        else:  # unchanged since the latest read: a re-read would return it
            self._files = zipimport._zip_directory_cache[self.archive] = files

    zipimport._read_directory = stamped_read
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    skip_unchanged_zip_rereads()

    from pyspark.daemon import manager

    manager()
