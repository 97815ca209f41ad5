"""Python worker daemon of local sessions (``spark.python.daemon.module``).

Before each task a PySpark worker calls ``importlib.invalidate_caches()``
to see files just added to SparkFiles. On CPython 3.11/3.12 that makes
every zipimporter re-read its archive's directory: ~250 ms of CPU per
task for ``pyspark.zip``, which never changes during a session. Run as
``python -m``, this module installs a stamp check and hands off to
``pyspark.daemon``, whose forked workers inherit it. Importing it
changes nothing.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stamp check."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_engine_stamp", None):
            reread(self)
            self._engine_stamp = stamp

    # under ``python -m`` this module's __name__ is "__main__"; name the
    # patch after the module so a worker can report which daemon it has
    invalidate_caches.__module__ = __spec__.name
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
