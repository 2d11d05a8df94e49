"""Python worker daemon entry: PySpark's stock daemon without per-task
zip-archive rescans.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 that makes
every cached ``zipimporter`` re-read its archive's whole directory, and a
worker's import path holds ``pyspark.zip`` (one importer per imported
subpackage), the Spark core jar and the py4j zip. Measured on a 4-core
host: 16 archive re-reads per task were 98% of the worker's ``main()`` on
a no-op task, about 200 ms per task.

Skipping the zip rescan is safe because Spark never rewrites an archive in
place during a session: the pyspark, py4j and jar archives are fixed, and
an ``addPyFile`` archive arrives as a new path entry that gets a fresh
importer. Directory finders (where ``addPyFile`` ``.py`` files land) are
still invalidated.

Only the standard library is imported before ``pyspark.daemon``, so the
patch is in place before any worker forks. ``get_spark`` selects this
module through ``spark.python.daemon.module``.
"""

import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
