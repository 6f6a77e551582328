"""Table loaders over the driver's parquet testdata, plus the
deterministic ``events -> prices`` mapping used to exercise the
reference's query semantics on driver-generated data.

The mapping (FIXTURES.md section 3: user_id -> symbol, value ->
current_price, ts -> timestamp) is defined twice — once as Spark
column expressions and once as an ANSI-SQL CTE for the DuckDB oracle
— and MUST stay in sync.  Null/zero market caps are injected
deterministically from ``event_type`` so that the reference's
null-handling paths (api/server.js:54-55, frontend/src/App.js:94,
NULLS-FIRST ordering api/server.js:76) are exercised.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType

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
    """Parquet loader.  An events.parquet may store ``ts`` as
    TIMESTAMP(NANOS), which Spark's parquet reader rejects.  The unit
    comes from the parquet footer, read on the driver (no Spark job);
    a nanosecond file is read with an explicit schema that types
    ``ts`` as its raw INT64 and truncates it to microseconds — the
    same truncation DuckDB applies when it maps parquet ns to its
    microsecond TIMESTAMP, so both engines see identical values.  No
    session conf is touched, so concurrent reads on one session stay
    independent."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        arrow = pads.dataset(path, format="parquet").schema
        ts = arrow.field("ts").type
        if pa.types.is_timestamp(ts) and ts.unit == "ns":
            schema = StructType(
                [
                    StructField(f.name, LongType(), f.nullable) if f.name == "ts" else f
                    for f in from_arrow_schema(arrow)
                ]
            )
            return spark.read.schema(schema).parquet(path).withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)")
            )
    return spark.read.parquet(path)


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure at least default-parallelism partitions before an
    expression-heavy map stage.  Small local parquet files arrive as
    ONE partition (a single row group), which serializes per-row
    compute onto one core; at cluster scale the input is already
    partitioned and this is a no-op.

    The partition estimate is plan-based (``inputFiles()`` walks the
    analyzed plan to its scans), NOT ``df.rdd.getNumPartitions()`` —
    the RDD conversion forces a full physical re-plan outside AQE on
    every call.  Every caller applies this directly to a scan or a
    narrow projection of one, where file count is the right proxy: a
    multi-file input is already parallel (Spark splits further by
    ``spark.sql.files.maxPartitionBytes``), while the pathological
    case — one small single-row-group file — is exactly
    ``len(inputFiles) == 1``."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # plan without file scans resolvable
        n_files = 0
    if n_files == 0:
        # non-file source (in-memory frames, streaming): parallelize()
        # already spreads over defaultParallelism — leave untouched
        return df
    if n_files < target:
        return df.repartition(target)
    return df


def prices_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference fact table (SURVEY.md section 1.1) derived from the
    ``events`` table.  Keeps ``event_id`` as a deterministic
    tiebreaker (the reference's ties-on-batch-timestamp semantics,
    etl/crypto_etl.py:82, need a total order for reproducible
    latest-per-group results)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("symbol"),
        F.concat(F.lit("Coin "), F.col("user_id").cast("string")).alias("name"),
        F.col("value").alias("current_price"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .when(F.col("event_type") == "signup", F.lit(0.0))
        .otherwise(F.col("value") * 1000000.0)
        .alias("market_cap"),
        F.when(F.col("event_type") == "click", F.lit(None).cast("double"))
        .otherwise(F.col("value") * 50000.0)
        .alias("total_volume"),
        F.col("ts").alias("timestamp"),
        F.col("event_id"),
    )


# Must mirror prices_from_events() exactly — the oracle runs this CTE.
PRICES_CTE_SQL = """
prices AS (
  SELECT
    concat('c', CAST(user_id AS VARCHAR))       AS symbol,
    concat('Coin ', CAST(user_id AS VARCHAR))   AS name,
    value                                       AS current_price,
    CASE WHEN event_type = 'error'  THEN NULL
         WHEN event_type = 'signup' THEN 0.0
         ELSE value * 1000000.0 END             AS market_cap,
    CASE WHEN event_type = 'click'  THEN NULL
         ELSE value * 50000.0 END               AS total_volume,
    ts                                          AS timestamp,
    event_id
  FROM events
)
"""
