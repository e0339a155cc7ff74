"""Table IO abstraction: Iceberg when the runtime has it, parquet
directories otherwise.

The production design (north_rule) is an Iceberg catalog: atomic
snapshot commits give exactly-once stage checkpoints, partition specs
give pruning on (block_bucket, lang), and time travel gives resume
audit. The Iceberg runtime jar is NOT in this container, so the same
interface is implemented over plain parquet dirs with an atomic
_SUCCESS-style commit marker; the Iceberg path is exercised only when
`spark.sql.catalog.*` confs are present (import-try gated, per repo
environment rules).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class TableIO:
    """write/read/exists over a warehouse root.

    Parquet mode: each table is `<root>/<name>/` with a `_COMMITTED`
    marker written AFTER the parquet job succeeds — a crash mid-write
    leaves no marker, so resume re-runs the stage (write-then-commit,
    the same contract an Iceberg snapshot commit gives atomically).
    Markers go through the Hadoop FileSystem API, so any root the
    parquet writer accepts (a local path, `file://`, `hdfs://`,
    `s3a://`) works.
    """

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.catalog = catalog if (catalog and iceberg_available(spark)) else None

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _marker(self, name: str):
        """(Hadoop FileSystem, Path) of the table's commit marker."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(
            os.path.join(self._path(name), "_COMMITTED")
        )
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration()), path

    def _commit(self, name: str) -> None:
        fs, path = self._marker(name)
        out = fs.create(path, True)
        try:
            out.writeBytes("ok\n")
        finally:
            out.close()

    def write(self, name: str, df: DataFrame):
        if self.catalog:
            writer = df.writeTo(f"{self.catalog}.{name}").using("iceberg")
            writer.createOrReplace()
            return
        df.write.mode("overwrite").parquet(self._path(name))
        self._commit(name)

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """The table as a DataFrame. Given the ``schema`` it was written
        with, a parquet read skips schema inference (a Spark job)."""
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.{name}")
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def file_row_counts(self, name: str, df: DataFrame) -> list[int]:
        """Row count of each data file behind ``df``, a fresh read of
        table ``name``. Parquet mode runs no Spark job: the file listing
        the read already holds, plus each file's footer. Catalog mode
        reads the Iceberg ``files`` metadata table."""
        if self.catalog:
            files = self.spark.read.table(f"{self.catalog}.{name}.files")
            return [r[0] for r in files.select("record_count").collect()]
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        counts = []
        for f in df.inputFiles():
            src = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(src)
            try:
                counts.append(reader.getRecordCount())
            finally:
                reader.close()
        return counts

    def exists(self, name: str) -> bool:
        if self.catalog:
            return self.spark.catalog.tableExists(f"{self.catalog}.{name}")
        fs, path = self._marker(name)
        return bool(fs.exists(path))

    def append(self, name: str, df: DataFrame):
        if self.catalog:
            df.writeTo(f"{self.catalog}.{name}").append()
            return
        df.write.mode("append").parquet(self._path(name))
        self._commit(name)
