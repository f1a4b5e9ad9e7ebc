"""Table IO: Iceberg when available, parquet-dir fallback.

The north rule targets Iceberg tables of Common-Crawl-style pages. This
container has no Iceberg runtime jar, so the repo runs on plain parquet
directories, with the Iceberg-specific behaviors mapped explicitly:

  parquet-dir analog            Iceberg behavior it stands in for
  ---------------------------   ------------------------------------------
  dynamic partition overwrite   overwritePartitions (idempotent re-run of
  (resume.py)                   one crawl partition)
  _lineage sidecar parquet      snapshot/commit metadata + metrics rows
  directory listing             table scan planning (manifest pruning)
  pushed filters on url/ts      partition pruning + data-file skipping

When a cluster has the runtime (`iceberg-spark-runtime` on the classpath
and a catalog configured), `read_table`/`write_table` switch to the real
thing with no pipeline changes: every operator in this repo consumes a
plain DataFrame and never assumes a file layout.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg Spark runtime is on the classpath. Only a
    ClassNotFoundException means "absent"; any other failure (a dead
    gateway, a broken jar) raises instead of silently routing every table
    to parquet."""
    try:
        # real class-load check: bare py4j attribute access returns a lazy
        # JavaPackage even for classes that don't exist
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Py4JJavaError as e:
        cls = e.java_exception.getClass().getName()
        if cls == "java.lang.ClassNotFoundException":
            return False
        raise


_FILE_EXTS = (".parquet", ".orc", ".avro", ".json", ".csv")


def _is_table_name(location: str) -> bool:
    """Heuristic: only the full ``catalog.db.tbl`` 3-part shape (dotted,
    path-separator-free, no known file extension) is treated as an Iceberg
    table name. Bare relative locations like ``out.parquet`` or a 2-part
    ``pages.v2`` stay on the parquet path — routing those to a catalog
    would fail or target a nonexistent table whenever the runtime jar
    happens to be present (ADVICE r02). Pass ``fmt="iceberg"`` explicitly
    for db.tbl names resolved against a default catalog."""
    if "/" in location or "\\" in location:
        return False
    if location.lower().endswith(_FILE_EXTS):
        return False
    parts = location.split(".")
    return len(parts) == 3 and all(p for p in parts)


def read_table(spark: SparkSession, location: str,
               fmt: str = "auto") -> DataFrame:
    """Read pages/labels from ``location``: an Iceberg table name
    (``catalog.db.tbl``, requires the runtime) or a parquet directory.
    ``fmt``: "auto" (heuristic + runtime detection), "iceberg", "parquet".
    """
    use_iceberg = fmt == "iceberg" or (
        fmt == "auto" and _is_table_name(location) and iceberg_available(spark)
    )
    if use_iceberg:
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


_WRITE_MODES = ("append", "overwrite", "overwrite_partitions")


def write_table(
    df: DataFrame,
    location: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
    fmt: str = "auto",
) -> None:
    """Write to an Iceberg table (by name, with the runtime) or a parquet
    directory; ``partition_by`` maps to the Iceberg partition spec / parquet
    subdirectories identically. Modes: ``append``, ``overwrite`` (replace
    the whole table), ``overwrite_partitions`` (replace only the partitions
    present in ``df`` — Iceberg overwritePartitions / parquet dynamic
    partition overwrite). Anything else raises."""
    from pyspark.sql import functions as F

    if mode not in _WRITE_MODES:
        raise ValueError(f"mode must be one of {_WRITE_MODES}, got {mode!r}")
    spark = df.sparkSession
    use_iceberg = fmt == "iceberg" or (
        fmt == "auto" and _is_table_name(location) and iceberg_available(spark)
    )
    if use_iceberg:
        w = df.writeTo(location)
        if mode == "overwrite_partitions":
            w.overwritePartitions()
        elif mode == "append":
            w.append()
        else:  # overwrite: replace table definition + data, WITH the spec
            # (partitionedBy belongs to the create/replace path only —
            # append/overwritePartitions write into the existing spec)
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        return
    if mode == "overwrite_partitions" and not partition_by:
        # fail loud: with no partition columns the parquet path would
        # silently degrade to a full-directory overwrite, diverging from
        # the "replace only the partitions present in df" contract
        # (ADVICE r02). Iceberg tables carry their own spec, so only the
        # parquet fallback needs the explicit columns.
        raise ValueError(
            "overwrite_partitions on a parquet location requires "
            "partition_by columns (otherwise it would overwrite the whole "
            "directory); pass partition_by or use mode='overwrite'"
        )
    writer = df.write.mode(
        "overwrite" if mode == "overwrite_partitions" else mode
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
        if mode == "overwrite_partitions":
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(location)
