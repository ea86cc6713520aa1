"""Managed-table hygiene for the bucketed index builders
(``dedup.build_ensemble_index``, ``text.build_positional_index``).

A killed JVM can leave a managed table's warehouse directory
(``<warehouse>/<table>/``) on disk while a fresh Derby catalog has no
record of the table. ``DROP TABLE IF EXISTS`` is then a no-op, and the
next managed CREATE (``saveAsTable``) fails with
LOCATION_ALREADY_EXISTS — a stale-state failure that recurred twice
across rounds (``winidx_test_stream2``, ``ensemble_index_test``).
Every writer that (re)creates a managed table heals the location
first; deleting the directory is safe exactly when the catalog does
not know the table, because the files are unreachable garbage.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def heal_table_location(spark: SparkSession, *tables: str) -> None:
    """Remove orphaned warehouse directories for ``tables``.

    For each name: if the catalog knows the table, do nothing (a
    normal DROP/overwrite manages the location itself). Otherwise
    delete the default managed location if a stale directory exists,
    so a subsequent ``saveAsTable``/``ALTER TABLE .. RENAME TO`` can
    claim it. Uses the Hadoop FileSystem API, so any warehouse scheme
    works, not just ``file://``.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for table in tables:
        if spark.catalog.tableExists(table):
            continue
        if "." in table:
            db, name = table.rsplit(".", 1)
        else:
            db, name = spark.catalog.currentDatabase(), table
        try:
            loc = spark.catalog.getDatabase(db).locationUri
        except Exception:
            continue  # unknown database: nothing to heal
        # managed-table default location: <db location>/<name lowercased>
        path = jvm.org.apache.hadoop.fs.Path(loc, name.lower())
        fs = path.getFileSystem(hconf)
        if fs.exists(path):
            fs.delete(path, True)

