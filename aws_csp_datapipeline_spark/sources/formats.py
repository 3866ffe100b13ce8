"""Additional storage formats beyond parquet/CSV/JSON.

ORC ships with Spark (read/write below). Avro and Delta need their
jars on the classpath — absent in this environment, so they are
import-gated: the functions raise a clear error instead of failing
deep inside py4j (the stub-don't-crash rule for optional backends).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source — requires the spark-avro package jar."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:  # pragma: no cover - jar not in this image
        raise NotImplementedError(
            "avro needs the spark-avro package on the classpath "
            "(--packages org.apache.spark:spark-avro_2.13:<spark-version>)"
        ) from e


def write_delta(df: DataFrame, path: str, mode: str = "append") -> None:
    """Delta Lake sink — requires the delta-spark package. This is the
    ACID upgrade path for the mutation layer (operators/crud.py): the
    same M1-M7 semantics become MERGE/DELETE against a transactional
    log instead of snapshot rewrites. With the jar absent, the SAME
    commit protocol (optimistic put-if-absent versioning + conflict
    retry) is implemented and exercised in ``snapshot_store.py`` /
    tests/test_concurrency.py, so the concurrent-writer guarantee is
    demonstrated in-repo rather than deferred to this gate."""
    try:
        df.write.format("delta").mode(mode).save(path)
    except Exception as e:  # pragma: no cover - jar not in this image
        raise NotImplementedError(
            "delta needs the delta-spark package on the classpath "
            "(--packages io.delta:delta-spark_2.13:<version>)"
        ) from e


def read_kafka_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """Kafka streaming source — requires the spark-sql-kafka package
    jar (absent in this environment; gated like avro/delta). The
    downstream pipeline is source-agnostic: the file-source ingest in
    ``plans/q_streaming.st1_stream_ingest_dedup`` consumes the same
    (key, value, timestamp) shape this returns."""
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .load()
        )
    except Exception as e:  # pragma: no cover - jar not in this image
        raise NotImplementedError(
            "kafka needs the spark-sql-kafka package on the classpath "
            "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)"
        ) from e
