"""Batch table catalog over the driver parquet testdata.

Maps to the reference's only "source" concept -- the Kafka scan at
Processor.java:118-139 -- generalized to a batch catalog (the reference has no
batch tables at all; see SURVEY.md section 1.3 for the engine data model).

Scale notes: tables are read with plain `spark.read.parquet` so Catalyst keeps
predicate pushdown / column pruning / partition pruning.  Do NOT cache or
materialize here -- at 100 TB the scan must stream through, and caching would
defeat pushdown.  `events.ts` needs a nanos->micros conversion because the
parquet files carry TIMESTAMP(NANOS) which Spark's vectorized reader rejects;
we read it as long (spark.sql.legacy.parquet.nanosAsLong) and integer-divide
to microseconds, which matches DuckDB's own nanos->micros truncation exactly
(verified bit-for-bit on the driver fixtures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune

TABLES = [
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
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with engine-canonical schema."""
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return nanos_ts_to_micros(df) if name == "events" else df


def nanos_ts_to_micros(df: DataFrame) -> DataFrame:
    """A TIMESTAMP(NANOS) `ts` read as long (nanosAsLong) becomes a
    timestamp truncated to micros (floor division; epoch-nanos are positive
    so this equals DuckDB's cast semantics).  Any other `ts` passes."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql queries)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a small input across the cluster's slots.

    Local-mode artifact guard (same rule as minhash_signatures): a small
    single-file parquet reads as fewer splits than the machine has cores,
    serializing any expensive per-row work (token explode + hashing) on a
    handful of tasks.  Self-disables when the input already has enough
    splits -- at 100 TB inputs arrive as thousands of splits and this
    repartition never fires.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
