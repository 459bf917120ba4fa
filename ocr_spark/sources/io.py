"""Sources & sinks.

The reference's only I/O is whole-file ``fread`` inside tasks and a packed
argv datablock (`/root/reference/src/driver/ocr-driver.c:225-277`,
`examples/smith-waterman/smithwaterman.c:62-75`). Here I/O is columnar and
declarative so Catalyst gets pushdown/pruning for free.

Iceberg is the production target (partitioned by days(warc_ts) +
bucket(url)); its runtime jar is not in this sandbox, so everything is
written through a format-neutral seam that prefers Iceberg when the
catalog is configured and falls back to plain Parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


ICEBERG_CATALOG = "ocr"
PAGES_TABLE = f"{ICEBERG_CATALOG}.db.pages"
# BASELINE.json partition spec: day-grain on crawl timestamp for pruning
# by crawl window, 16-way url-hash buckets so giant hosts cannot skew a
# partition and co-located joins on url need no shuffle
PAGES_PARTITION_SPEC = "days(warc_ts), bucket(16, url)"


def iceberg_session_conf(warehouse: str) -> dict:
    """Session conf wiring a local Hadoop-type Iceberg catalog named
    ``ocr`` (pass to build_session(extra_conf=...)). On a real cluster
    swap type/warehouse for the Glue/REST/Hive catalog of the
    environment; every reader/writer below is catalog-agnostic."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{ICEBERG_CATALOG}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{ICEBERG_CATALOG}.type": "hadoop",
        f"spark.sql.catalog.{ICEBERG_CATALOG}.warehouse": warehouse,
    }


def iceberg_jar_present() -> bool:
    """True iff an iceberg-spark-runtime jar is reachable (bundled with
    pyspark, or pointed to by SPARK_GRAFT_ICEBERG_JAR). The sandbox has
    none — the integration test skips, the seam stays exercised."""
    import glob

    import pyspark

    bundled = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "iceberg-spark-runtime*.jar")
    )
    extra = os.environ.get("SPARK_GRAFT_ICEBERG_JAR", "")
    return bool(bundled) or (bool(extra) and os.path.exists(extra))


def create_pages_table(spark: SparkSession, table: str = PAGES_TABLE) -> None:
    """DDL for the Common-Crawl-style pages table with the production
    partition spec (PAGES_PARTITION_SPEC)."""
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {table} (
          url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING
        ) USING iceberg
        PARTITIONED BY ({PAGES_PARTITION_SPEC})
        """
    )


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        return (
            spark.conf.get("spark.sql.catalog.ocr", None) is not None  # type: ignore[arg-type]
        )
    except Exception:
        return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated testdata table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES) -> dict:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_pages(spark: SparkSession, path: str, table: str | None = None) -> DataFrame:
    """Read the pages table — Iceberg table if a catalog is wired, else Parquet path."""
    if table and _iceberg_available(spark):
        return spark.read.format("iceberg").load(table)
    return spark.read.parquet(path)


def write_extracted(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by=None,
    table: str | None = None,
) -> None:
    """Write extraction output — Iceberg table when the catalog is wired
    (atomic snapshot commit, the production sink), else Parquet path."""
    if table and _iceberg_available(df.sparkSession):
        writer = df.writeTo(table)
        if mode == "overwrite":
            if partition_by:
                # honour the caller's partitioning when (re)creating the
                # table — previously createOrReplace() silently produced
                # an unpartitioned table; identity string columns are
                # wrapped, transform expressions (F.days(...)) pass through
                from pyspark.sql import functions as F

                cols = [F.col(c) if isinstance(c, str) else c for c in partition_by]
                writer = writer.partitionedBy(cols[0], *cols[1:])
            writer.createOrReplace()
        else:
            # append inherits the existing table's spec; partitioning of
            # a pre-existing table cannot be changed here by design
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
