"""External connectors (SURVEY.md §2-A periphery): Kafka source, Delta /
Iceberg sinks — the attachment points a production deployment of this
engine uses, import-gated because none of the backing packages exist in
this container (task brief: stub, don't pip install).

Everything here either WORKS (when the package/classpath is present) or
fails immediately with an actionable error — never a silent parquet
masquerading as Delta.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import EVENTS_DDL

#: spark-submit coordinates a cluster deployment adds for each connector.
KAFKA_PKG = "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
DELTA_PKG = "io.delta:delta-spark_2.13:<delta-version>"
ICEBERG_PKG = "org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:<iceberg-version>"


def _has_jvm_class(spark: SparkSession, cls: str) -> bool:
    """Whether ``cls`` is on the driver classpath. Only the JVM's own
    ClassNotFoundException means "not installed"; any other failure
    (a dead gateway, say) propagates."""
    try:
        spark._jvm.java.lang.Class.forName(cls)  # type: ignore[union-attr]
        return True
    except Py4JJavaError:
        return False


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """A1 alternative front door: events as JSON records on a Kafka
    topic -> the canonical events frame, ready for every streaming op in
    streaming/ops.py.

    Scale notes (real cluster): source parallelism = topic partitions
    (match to executor cores); `maxOffsetsPerTrigger` bounds micro-batch
    size; the checkpoint holds offsets so restarts resume exactly-once,
    the same WAL contract the file source tests prove.
    """
    if not _has_jvm_class(
        spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    ):
        raise NotImplementedError(
            "Kafka connector not on the classpath in this container; deploy "
            f"with --packages {KAFKA_PKG}. The parse/transform stages below "
            "are the tested surface (see json round-trip sources)."
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), EVENTS_DDL).alias("e")
    ).select("e.*")


def write_table(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "append"
) -> None:
    """Format-dispatching batch sink: parquet always works; ``delta`` /
    ``iceberg`` require their runtime packages and fail loudly without
    them (a parquet write pretending to be Delta would silently drop the
    transaction log — worse than an error)."""
    spark = df.sparkSession
    if fmt == "parquet":
        df.write.mode(mode).parquet(path)
        return
    if fmt == "delta":
        if not _has_jvm_class(spark, "org.apache.spark.sql.delta.DeltaLog"):
            raise NotImplementedError(
                f"Delta runtime not installed; deploy with --packages {DELTA_PKG} "
                "and spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
            )
        df.write.format("delta").mode(mode).save(path)
        return
    if fmt == "iceberg":
        if not _has_jvm_class(
            spark, "org.apache.iceberg.spark.SparkSessionCatalog"
        ):
            raise NotImplementedError(
                f"Iceberg runtime not installed; deploy with --packages {ICEBERG_PKG} "
                "and an iceberg catalog in spark.sql.catalog.*"
            )
        df.writeTo(path).append()
        return
    raise ValueError(f"unknown sink format: {fmt!r}")
