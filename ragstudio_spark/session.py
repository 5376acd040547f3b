"""SparkSession factories with the engine's settings (SQL_CONF: bounded
Arrow batches, UTC, one optimizer-rule exclusion; local shuffle partitions
sized to cores), and literal_table, which builds tables of Python values.
AQE, its partition coalescing and skew-join splitting and the 128 MiB file
split are Spark's defaults, so SQL_CONF does not restate them."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, StructType

# spark.sql.* settings of every engine session (get_spark, submit_session)
SQL_CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.pyspark.selfDestruct.enabled": "true",
    # multi-KB turn payloads: keep Arrow batches bounded so a batch of
    # long transcripts fits executor memory
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate synthesizes size(expr)>0 below explode()
    # and pushdown then inlines the generator's (interpreted, higher-
    # order) expression several times per row — measured 6× slowdown on
    # shingle explosion. The inferred filter is a minor skip-empty
    # heuristic; dropping it is strictly cheaper for lambda-built arrays.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def get_spark(
    app_name: str = "ragstudio-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or max(cpus, 8)))
        .config(map=SQL_CONF)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=extra_conf or {})
        .getOrCreate()
    )


def submit_session(app_name: str) -> SparkSession:
    """The session of a spark-submit job: each SQL_CONF key keeps the
    value the submit command gave it (--conf wins), else takes SQL_CONF's."""
    spark = SparkSession.builder.appName(app_name).getOrCreate()
    submitted = dict(spark.sparkContext.getConf().getAll())
    for k, v in SQL_CONF.items():
        spark.conf.set(k, submitted.get(k, v))
    return spark


def literal_table(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """The table of Python ``rows`` with schema ``ddl`` (empty ``rows``:
    typed, zero rows), built JVM-side as one ``Range`` of one split plus
    ``inline(array(struct(lit…)))``. Never use ``createDataFrame`` for
    one: its relation has no size estimate, so an equi-join cannot
    broadcast it and shuffles the other side, and it ships as a pickled
    Python RDD (~5 s per write measured, against ~1 s JVM-side)."""
    schema = StructType.fromDDL(ddl)
    structs = [F.struct(*[F.lit(v).cast(f.dataType)
                          for v, f in zip(row, schema.fields, strict=True)])
               for row in rows]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs).cast(ArrayType(schema))))
