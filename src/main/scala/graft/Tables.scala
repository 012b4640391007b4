package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table access layer for the driver-provided parquet star schema
  * (see /root/repo/TESTDATA.md). Centralizing reads keeps every query's
  * scan declarative so Catalyst can push filters/prune columns into the
  * parquet reader — at 100 TB the scan is the dominant cost and pushdown
  * is the first-order optimization.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Load every table once, so session startup, codegen and parquet
    * footers are paid before the first measured query (and operators
    * that size-probe their inputs at build time see warm tables).
    * Missing tables are skipped: fixture-only runs have none.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n =>
      try load(spark, sfDir, n).count()
      catch { case _: Throwable => () })

  /** S9 (follower.py:77-95 DDL analog): register every table in the
    * session catalog so the surface is queryable via spark.sql. Edge
    * vs vertex collections are a column convention (_from/_to), not a
    * physical difference — no special DDL needed.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Event time in epoch MICROSECONDS from whichever physical encoding
    * the `ts` column arrives in. A 100 TB lake accumulates parquet
    * written by many producers over years, so the same logical column
    * shows up as INT64 TIMESTAMP(NANOS) (read as raw long under
    * `nanosAsLong` — see Sessions.tuned), TIMESTAMP(MICROS), or
    * TIMESTAMP_NTZ depending on the writer. The reference validates
    * types at the ingest boundary (models.py via pydantic, SURVEY
    * §1.2); the Spark-native equivalent is normalizing the
    * representation at the table boundary once, so every downstream
    * operator sees one unit (µs — the finest cross-engine-
    * deterministic granularity; DuckDB's `epoch_us(ts)` matches all
    * three encodings bit-for-bit).
    *
    * Column-valued (not a DataFrame rewrite) so consumers that hash or
    * re-emit the raw column (g05's content key) keep their bytes, and
    * streaming frames work unchanged (schema is known pre-start).
    */
  def tsUs(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case LongType         => expr(s"$name div 1000") // raw ns long
      case TimestampType    => unix_micros(col(name))
      case TimestampNTZType =>
        // session tz is pinned UTC (Sessions.tuned), so the NTZ→TZ
        // cast is the identity on the stored micros value
        unix_micros(col(name).cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"column `$name`: expected ns-long or timestamp, got $other")
    }

  /** Dimension tables small enough to broadcast at any scale factor.
    * region/nation are bounded (5/25 rows) regardless of SF; at 100 TB
    * they remain broadcast-joinable by construction.
    */
  val broadcastable: Set[String] = Set("region", "nation")
}
