"""The worker daemon's per-task setup: zip directory reads guarded by the
archive's stat, kernel modules imported before the fork."""

import importlib
import sys
import zipfile
import zipimport

import pytest

eager = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter invalidates lazily; no guard is installed",
)


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@eager
def test_zip_directory_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    from pydoxtools_spark.daemon_preload import guard_zip_directory_reads

    # the guard patches the zipimporter class; put the stock method back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {
        "zguard_mod.py": "VALUE = 1\n",
        "zguard_pkg/__init__.py": "",
        "zguard_pkg/sub.py": "NAME = 'sub'\n",
    })
    later = str(tmp_path / "later.zip")
    names = ("zguard_mod", "zguard_pkg", "zguard_pkg.sub", "zguard_later")
    monkeypatch.syspath_prepend(archive)
    try:
        import zguard_mod
        import zguard_pkg.sub

        assert (zguard_mod.VALUE, zguard_pkg.sub.NAME) == (1, "sub")
        assert guard_zip_directory_reads() is True

        reads = []
        stock_read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path) or stock_read(path))
        importlib.invalidate_caches()
        assert reads == []

        # a changed archive is re-read and serves its new content
        _write_zip(archive, {"zguard_mod.py": "VALUE = 22  # rewritten\n"})
        importlib.invalidate_caches()
        assert archive in reads
        del sys.modules["zguard_mod"]
        assert importlib.import_module("zguard_mod").VALUE == 22

        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        # an archive added later gets a fresh importer
        _write_zip(later, {"zguard_later.py": "OK = True\n"})
        monkeypatch.syspath_prepend(later)
        assert importlib.import_module("zguard_later").OK is True
        assert later in reads
    finally:
        for name in names:
            sys.modules.pop(name, None)
        for path in (archive, later):
            sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(later, None)


def test_worker_tasks_skip_zip_rereads_and_start_with_kernels_loaded(spark):
    from pydoxtools_spark.daemon_preload import KERNEL_MODULES

    wanted = list(KERNEL_MODULES)

    def probe(batches):
        import sys

        missing = [m for m in wanted if m not in sys.modules]

        import importlib
        import zipimport

        import pandas as pd

        stock = zipimport._read_directory
        reads = []

        def counting(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips],
                            "missing": [",".join(missing)]})

    rows = (spark.range(0, 8, numPartitions=8)
            .mapInPandas(probe, "reads long, zips long, missing string")
            .collect())
    assert len(rows) == 8
    if not any(r["zips"] for r in rows):
        pytest.skip("python workers import nothing from a zip archive here")
    assert [r["reads"] for r in rows] == [0] * 8
    assert [r["missing"] for r in rows] == [""] * 8
