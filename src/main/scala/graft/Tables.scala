package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. Reads go through
  * Spark's vectorized parquet reader; filters/projections in the queries
  * are pushed down by Catalyst (verified via explain in the specs).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both TIMESTAMP(NANOS) (read as LongType
      // under the nanosAsLong conf the session builders set) and, since the
      // r7 regeneration, plain timestamp[us]. Adapt on the ACTUAL schema
      // rather than assuming one encoding (VERDICT r7 #1): LongType means
      // nanos — truncate to µs (same truncation DuckDB applies, so oracle
      // parity holds); NTZ is normalized to TIMESTAMP so downstream window/
      // date functions see one type regardless of the generator's encoding
      // (sessions run with UTC timezone, so the instant is unchanged).
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
}
