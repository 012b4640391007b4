package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result to `outDir/<name>` parquet; returns the
    * failures as name → message, and writes them to `_errors.json` in
    * the dump dir. A failed query must be loud IN-BAND, not
    * stderr-only: r11's testdata type change silently dropped 11
    * queries from the dump (no parquet ⇒ no CORRECTNESS row ⇒ the
    * artifact read as all-green). The error artifact plus a final
    * `WARN verify-failed:` line (printed by main) make a missing gate
    * impossible to mistake for a pass.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce propagates up any
      // shuffle-free plan and single-threads the whole computation of
      // map-only queries; repartition inserts a shuffle so upstream
      // stays parallel and only the one-file write is serial.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeJson(s"$outDir/_errors.json", errors)
    errors.toMap
  }

  /** Writes `m` as one flat JSON object of strings, in `m`'s order.
    * Jackson escapes every quote, backslash and control char, so a tab
    * or CR in a message or in the oracle SQL cannot break a reader's
    * json.load (tools/check.py).
    */
  private def writeJson(path: String,
                        m: scala.collection.Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      new ObjectMapper().writeValueAsString(m.asJava))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg (local dev only; the driver passes two): a
    // comma-separated allowlist of query names to dump — fast iteration
    // on one oracle without running the whole surface.
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Sessions.local()
    val errors =
      dump(spark, sfDir, outDir, SparkEntry.queries.filter(kv => keep(kv._1)))
    writeJson(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter(kv => keep(kv._1)))
    spark.stop()
    if (errors.nonEmpty)
      println(s"WARN verify-failed: ${errors.keys.mkString(",")}")
  }
}
