"""Directory-backed parquet table store.

Parquet layout of the engine's tables (an Iceberg writer would need
its runtime jar, which is not part of this repository):
 - ``documents_extracted`` partitioned by ``bin`` (the deterministic
   doc_id-derived bucket — the analog of
   ``partitionedBy(bucket(N, doc_id))``)
 - ``checkpoint`` append-only table of per-partition lineage+metrics
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from . import schemas


class TableStore:
    """Directory-backed table namespace.

    ``codec``: parquet compression for every write (default zstd — the
    S6 compressed-sink analog of the reference's ``garbage=4, deflate``
    PDF save; zstd beats snappy ~30% on text-heavy span payloads at
    similar CPU, which is storage + scan I/O at 100 TB).  Readers are
    codec-agnostic, so mixed-codec tables from older runs stay valid."""

    def __init__(self, spark: SparkSession, root: str,
                 codec: str = "zstd"):
        self.spark = spark
        self.root = root
        self.codec = codec

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and any(
            not f.startswith(("_", ".")) for f in os.listdir(p))

    def write_partitioned(self, df: DataFrame, name: str, *cols: str,
                          mode: str = "overwrite") -> None:
        """The one partitioned writer of batch and streaming tables.

        Dynamic overwrite is a PER-WRITE option (never the session
        conf, which would silently change later mode('overwrite')
        writes in the same session — ADVICE r2 #3; asserted by
        tests/test_streaming.py): only the partitions present in df
        are replaced, which is what makes resume/replay idempotent."""
        (df.write.mode(mode).partitionBy(*cols)
         .option("partitionOverwriteMode", "dynamic")
         .option("compression", self.codec)
         .parquet(self.path(name)))

    def write_extracted(self, df: DataFrame, mode: str = "append") -> None:
        self.write_partitioned(df, "documents_extracted", "bin", mode=mode)

    def read_extracted(self) -> DataFrame:
        return self.spark.read.parquet(self.path("documents_extracted"))

    def write_bucketed(self, df: DataFrame, name: str,
                       n_buckets: int = 64,
                       bucket_col: str = "doc_id") -> str:
        """S6 bucketed sink — Spark-native ``bucketBy(N, doc_id)`` +
        ``sortBy``, the in-sandbox analog of Iceberg's
        ``partitionedBy(bucket(N, doc_id))`` transform (reference sink:
        /root/reference/main.py save path; SURVEY.md §2 S6).

        Why it matters at 100 TB: two tables bucketed the same way
        (same column, same N) join WITHOUT shuffling either side — the
        scan is already hash-partitioned by bucket file, so e.g.
        re-joining extracted spans to a doc-metadata table, or the
        resume anti-join against lineage, moves zero fact bytes across
        the wire.  Equality filters on the bucket column also prune to
        1/N of the files (``SelectedBucketsCount`` in the scan node).
        Both properties are asserted in tests/test_sources.py.

        Spark records bucket metadata in the session catalog, so the
        table is addressed via ``spark.table(name)``; the files live
        under the store root (external table).  On a durable deployment
        the catalog entry is what Iceberg/HMS would persist."""
        (df.write.format("parquet").mode("overwrite")
         .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
         .option("path", self.path(name))
         .option("compression", self.codec)
         .saveAsTable(name))
        return name

    def append_checkpoint(self, df: DataFrame) -> None:
        (df.write.mode("append").option("compression", self.codec)
         .parquet(self.path("checkpoint")))

    def read_checkpoint(self) -> DataFrame:
        if not self.exists("checkpoint"):
            # Arrow-backed, so the optimizer answers queries on it with
            # no Spark job (an empty list-built frame is an RDD scan)
            return self.spark.createDataFrame(
                to_arrow_schema(schemas.CHECKPOINT).empty_table())
        return self.spark.read.parquet(self.path("checkpoint"))
