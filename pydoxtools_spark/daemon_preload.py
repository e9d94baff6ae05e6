"""Forked-worker preload daemon: identical to pyspark.daemon but does
the fixed per-worker and per-task setup ONCE in the daemon process,
before it forks; every worker inherits the result copy-on-write
(guide §4.5 taken one level up: heavyweight init once per EXECUTOR,
not per task).

1. Imports: numpy/pandas/pyarrow, the Arrow serializers and every
   module a kernel task imports (the kernel-defining pipeline and
   pdf_relational, the parsers, table layout, dispatch).  Without this
   a worker's first task imports them itself (dispatch alone 78 ms,
   pipeline 11 ms).

2. Zip directory reads: `pyspark.worker.main` calls
   `importlib.invalidate_caches()` at the start of EVERY task.  On an
   interpreter whose `zipimporter.invalidate_caches` re-reads eagerly
   (no lazy `_get_files`: 3.10-3.12), that re-parses the central
   directory of pyspark.zip (1,328 entries) once per zipimporter — one
   per package prefix the worker imported from, ~16 of them — and cost
   0.25-0.85 s of every task (host-dependent), more than most kernels.
   The guard below re-reads an archive only when its stat (inode,
   mtime_ns, ctime_ns, size) differs from the last read and otherwise
   rebinds the importer to the shared `zipimport._zip_directory_cache`
   entry; the daemon primes it once so forked workers inherit the
   stamps and the parsed directories.  An archive added later
   (addPyFile) still gets a fresh importer, and an archive replaced or
   rewritten is re-read — except an in-place rewrite to the same size
   within one filesystem timestamp tick, which the stat cannot see.  On
   an interpreter with lazy invalidation nothing is patched.

Select with spark.python.daemon.module=pydoxtools_spark.daemon_preload
(session.get_spark sets it when the package is importable).  Every
step is best effort: an import failure or a failure installing the
guard leaves the daemon behaving exactly like the stock pyspark.daemon.
"""

import importlib
import os
import zipimport

# modules kernel tasks import at run time: the modules that define the
# mapInPandas kernels (unpickled by reference) and what their bodies import
KERNEL_MODULES = (
    "pydoxtools_spark.dispatch",
    "pydoxtools_spark.functions.docx",
    "pydoxtools_spark.functions.htmlparse",
    "pydoxtools_spark.functions.markdown",
    "pydoxtools_spark.functions.odf",
    "pydoxtools_spark.functions.pdflayout",
    "pydoxtools_spark.functions.pdfparse",
    "pydoxtools_spark.functions.rtf",
    "pydoxtools_spark.functions.tablecells",
    "pydoxtools_spark.operators.pdf_relational",
    "pydoxtools_spark.pipeline",
)


def guard_zip_directory_reads() -> bool:
    """Make `zipimporter.invalidate_caches` re-read an archive only when
    its stat changed, then prime the stamps with one
    `importlib.invalidate_caches()`.  Returns False (and patches
    nothing) where the interpreter already invalidates lazily; on a
    failure while priming the stock method is put back and the error
    re-raised."""
    zi = zipimport.zipimporter
    stock = getattr(zi, "invalidate_caches", None)  # absent before 3.10
    if stock is None or hasattr(zi, "_get_files"):
        return False
    stamps: dict[str, tuple[int, int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_mtime_ns, st.st_ctime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    zi.invalidate_caches = invalidate_caches
    try:
        importlib.invalidate_caches()
    except BaseException:
        zi.invalidate_caches = stock
        raise
    return True


try:  # best effort — a missing optional dep must not kill the daemon
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401
except Exception:  # pragma: no cover
    pass

try:
    for _name in KERNEL_MODULES:
        importlib.import_module(_name)
except Exception:  # pragma: no cover
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    try:  # after the imports: prime every importer they created
        guard_zip_directory_reads()
    except Exception:  # pragma: no cover
        pass
    manager()
