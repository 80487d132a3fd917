"""The zip-import cache guard installed by the package ``__init__``.

A PySpark worker calls ``importlib.invalidate_caches()`` once per task;
on CPython < 3.12 each cached ``zipimporter`` then re-parses its whole
archive directory. The guard re-reads an archive only when its
(mtime_ns, size, inode) stamp changed, so an unchanged archive costs
nothing and a rewritten one is still re-read."""

import importlib
import sys
import zipfile
import zipimport

import pyspark.sql.functions as F
import pyarrow as pa

import html5ever_elixir_spark
from html5ever_elixir_spark.operators.stage import row_stage


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zcg_mod_a"])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zcg_mod_a").NAME == "zcg_mod_a"
        # the first invalidation stamps the importer (and may re-read)
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert [p for p in reads if p == archive] == []

        # a rewritten archive is re-read: its new module imports
        _write_zip(archive, ["zcg_mod_a", "zcg_mod_b"])
        importlib.invalidate_caches()
        assert importlib.import_module("zcg_mod_b").NAME == "zcg_mod_b"
    finally:
        for name in ("zcg_mod_a", "zcg_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_guard_installs_once():
    method = zipimport.zipimporter.invalidate_caches
    html5ever_elixir_spark._install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is method
    expected = ("html5ever_elixir_spark" if sys.version_info < (3, 12)
                else "zipimport")
    assert method.__module__ == expected


def test_guard_is_installed_in_spark_workers(spark):
    def rows(key, _):
        import sys
        import zipimport

        return [(zipimport.zipimporter.invalidate_caches.__module__,
                 sys.version_info < (3, 12))]

    df = spark.range(0, 4, numPartitions=2).select("id", F.lit("x"))
    out = row_stage(df, rows, [("module", pa.string()),
                               ("guarded", pa.bool_())]).collect()
    assert len(out) == 4
    for r in out:
        assert r.module == ("html5ever_elixir_spark" if r.guarded
                            else "zipimport")
