"""html5ever_elixir_spark — a from-scratch PySpark-native HTML5 parse +
main-content extraction engine with the query capabilities of
rusterlium/html5ever_elixir (reference at /root/reference, studied for
behavior only; no code copied — the reference is an Elixir NIF over the
Rust ``html5ever`` crate, while this package re-implements the WHATWG
HTML §13.2 algorithm in pure Python and runs it inside Arrow-vectorized
Spark UDFs over a Common-Crawl-style pages table).

Public API parity (reference ``lib/html5ever.ex:40-129``):

* :func:`html5ever_elixir_spark.parser.api.parse`             — nested tree, attrs as pair lists
* :func:`html5ever_elixir_spark.parser.api.parse_attrs_maps`  — nested tree, attrs as first-wins maps
* :func:`html5ever_elixir_spark.parser.api.flat_parse`        — flat ``{root, nodes}`` map
* :func:`html5ever_elixir_spark.parser.api.flat_parse_attrs_maps`

Spark-side surface lives in :mod:`html5ever_elixir_spark.operators`.

Zip-import cache guard (CPython < 3.12). A PySpark worker calls
``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``). On 3.11 that makes every
cached ``zipimport.zipimporter`` re-parse its whole archive directory in
pure Python: a worker holds 16 of them, over ``pyspark.zip`` (1.3k
entries), the ``spark-core`` jar (5.4k entries) and the py4j zip, about
0.14–0.21 s of CPU per task before the first batch arrives. Importing
this package (cloudpickle does so in the worker when it unpickles any of
its functions) replaces ``zipimporter.invalidate_caches`` with a version
that keeps each importer's archive ``(st_mtime_ns, st_size, st_ino)``
stamp and re-reads the archive only when that stamp changed, so an
archive that is rewritten is still re-read. Workers are reused, so from
the second task on a worker the cost is gone. Installing is idempotent,
and nothing is installed on 3.12+, whose importers re-read lazily
(gh-103200).
"""

import sys

__version__ = "0.1.0"


def _install_zip_cache_guard() -> None:
    import os
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or original.__module__ == __name__:
        return

    def invalidate_caches(self):
        """Reload the archive directory only if the archive changed."""
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        # stamp before the read: a write racing it changes the stamp
        # again, so the next call re-reads
        if self.__dict__.get("_archive_stamp", ()) != stamp:
            original(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_cache_guard()
