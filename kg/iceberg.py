"""Iceberg session seam (SURVEY §7.1 stage 4 / §7.4.7).

The Iceberg runtime jar (``iceberg-spark-runtime-*``) does not ship with
pyspark; a deployment that has it gets the catalog configured by the
session seam, and ``tests/test_iceberg.py`` checks that the probe and the
live session agree:

* :func:`find_iceberg_jar` — filesystem probe for the runtime jar
  (must run BEFORE the session is built: Iceberg needs session-level
  catalog conf);
* :func:`configure_builder` — adds the Iceberg extension + a local
  hadoop catalog to a SparkSession.Builder when the jar is present
  (wired into ``kg.session.get_spark``);
* :func:`iceberg_enabled` — runtime check on a live session.

The pipeline writes its tables as parquet directories only
(``kg.materialize``: explicit bucket column, staged and committed per
partition group). No Iceberg table writer ships: none could run or be
tested without the jar.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

CATALOG = "kg_ice"


def find_iceberg_jar() -> str | None:
    """Locate an iceberg-spark-runtime jar, or None. Checked locations:
    $ICEBERG_JAR, $SPARK_HOME/jars, the pyspark package's jars dir."""
    cand = os.environ.get("ICEBERG_JAR")
    if cand and os.path.exists(cand):
        return cand
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark

        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover
        pass
    for d in dirs:
        hits = sorted(glob.glob(os.path.join(d, "iceberg-spark-runtime*.jar")))
        if hits:
            return hits[0]
    return None


def configure_builder(builder, warehouse: str):
    """Add Iceberg extension + a local hadoop catalog iff the jar is
    present. Returns the (possibly updated) builder."""
    jar = find_iceberg_jar()
    if jar is None:
        return builder
    return (
        builder.config("spark.jars", jar)
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config(
            f"spark.sql.catalog.{CATALOG}",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        .config(f"spark.sql.catalog.{CATALOG}.type", "hadoop")
        .config(
            f"spark.sql.catalog.{CATALOG}.warehouse",
            os.path.join(warehouse, "iceberg"),
        )
    )


def iceberg_enabled(spark: SparkSession) -> bool:
    """True iff the session has the Iceberg catalog configured AND the
    runtime class actually loads."""
    if spark.conf.get(f"spark.sql.catalog.{CATALOG}", None) is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False
