"""Write-then-commit ledgers — the one storage layer under every crash
protocol in the engine (SURVEY §2.5; the reference's persistent queues all
sit on one storage API, extension/experimental/storage/storage.go:48-62).

A ledger is a parquet directory read under an explicit schema. Its holder
does its work, makes that work idempotent (dynamic partition overwrite),
and only then commits a ledger record — the delete-after-
OnProcessingFinished ordering of persistent_storage.go:268-273. A crash
before the commit redoes the work; the commit is the bookmark.

Two on-disk shapes share the format:

* **Append ledgers** (``IncrementalSource``'s processed files,
  ``CheckpointedRunner``'s committed buckets): driver-built rows plus a
  ``committed_at`` stamp, one ``coalesce(1)`` file per commit. Readers go
  through duplicates (a set of files or buckets), so a replayed commit is
  harmless; ``compact`` merges the one-file-per-commit history.
* **Tick ledgers** (the exact, curation and MinHash doc ledgers, the Bloom
  and HLL sketch ledgers): one ``tick_id=`` partition per tick, written by
  dynamic partition overwrite, so committing a tick twice replaces it
  rather than duplicating it. ``files`` fixes the file count per tick
  partition — the commit's fan-in and the ledger's read amplification.

Bootstrap rule: a ledger with no data file (``list_data_files`` — a Hadoop
metadata listing) reads as an empty frame of its schema. A missing path is
never inferred from exception text, so a transient read failure propagates
instead of looking like "nothing committed".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def list_data_files(spark: SparkSession, path: str) -> dict[str, int]:
    """{absolute file path: size} via the Hadoop FileSystem API — a metadata
    listing, no data read."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if not fs.exists(hpath):
        return {}
    out: dict[str, int] = {}
    it = fs.listFiles(hpath, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):  # _SUCCESS, hidden/temp files
            continue
        out[p] = st.getLen()
    return out


class Ledger:
    """One ledger directory: its schema, read, commits, compaction and
    gauges. ``schema`` is a StructType or DDL string; append ledgers end it
    with ``committed_at``, tick ledgers with ``tick_id``."""

    def __init__(self, spark: SparkSession, path: str, schema, files: int = 1):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.files = files

    def read(self) -> DataFrame:
        """Every committed row; an empty frame before the first commit."""
        if not list_data_files(self.spark, self.path):
            # limit(0) plans as an empty local relation: no Spark job runs
            return self.spark.createDataFrame([], self.schema).limit(0)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def read_excluding(self, tick_id: str | None) -> DataFrame:
        """Every committed row outside ``tick_id``'s partition: the ledger
        as it stood before that tick committed. A doc ledger probes this,
        so a tick retried after its ledger commit (but before the caller's
        own bookmark) recomputes the same accepted set instead of matching
        each doc against its own committed row."""
        led = self.read()
        if tick_id is None:
            return led
        return led.filter(F.col("tick_id") != tick_id)

    def append(self, rows: list[tuple]) -> None:
        """Commit driver-built rows (every field but ``committed_at``) as
        one new file."""
        (
            self.spark.createDataFrame(rows, schema=self.schema[:-1])
            .withColumn("committed_at", F.current_timestamp())
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )

    def commit_tick(self, df: DataFrame, tick_id: str) -> None:
        """Commit ``df`` (the schema's columns but ``tick_id``) as tick
        ``tick_id``'s partition, replacing any earlier commit of it."""
        (
            df.withColumn("tick_id", F.lit(tick_id))
            .coalesce(self.files)
            .write.mode("overwrite")
            .partitionBy("tick_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )

    def compact(self) -> dict:
        """Merge an append ledger's one-file-per-commit history in place
        (crash-safe rewrite-then-swap, operators/compact.py); reads are
        unchanged. Run between commits, never concurrently with one."""
        from opentelemetry_collector_spark.operators.compact import (
            compact_flat_dir,
        )

        return compact_flat_dir(self.spark, self.path, schema=self.schema)

    def gauges(self) -> dict:
        """Tick-ledger gauges (queue-gauge analog, queued_retry.go:209-223)."""
        led = self.read()
        return {
            "accepted_docs": led.count(),
            "ticks": led.select("tick_id").distinct().count(),
        }
