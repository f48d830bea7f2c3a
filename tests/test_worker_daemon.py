"""lucene_spark.worker_daemon: zip archives on sys.path are re-read only when
they change, and local sessions start their Python workers through it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from lucene_spark import worker_daemon

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches is lazy from Python 3.12 on")


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a rewrite, as an addPyFile upload is


@needs_eager_zipimport
def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path,
                                                            monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wdprobe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("wdprobe_a", "wdprobe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wdprobe_a").VALUE == 1

    # restore the stock method after the test; _install replaces it
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    worker_daemon._install()
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importer = sys.path_importer_cache[archive]
    for _ in range(5):
        importlib.invalidate_caches()
    # one read records this importer's stamp; the rest see it unchanged
    assert reads.count(archive) == 1

    _write_zip(archive, {"wdprobe_a": "VALUE = 1\n",
                         "wdprobe_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert sys.path_importer_cache[archive] is importer
    assert importlib.import_module("wdprobe_b").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


def test_local_session_workers_run_the_daemon(spark):
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "lucene_spark.worker_daemon")

    def probe(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__qualname__

    got = set(spark.sparkContext.parallelize(range(4), 4).map(probe).collect())
    if sys.version_info < (3, 12):
        assert got == {"_install.<locals>.invalidate_caches"}
    else:
        assert got == {"zipimporter.invalidate_caches"}
