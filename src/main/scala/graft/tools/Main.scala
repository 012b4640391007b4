package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Sessions, SparkEntry, Tables}
import graft.operators.Similarity

/** The dev-tools entry point (outside the Verify/Bench contract): one
  * main, one subcommand per instrument, one session built by
  * [[Sessions.local]] (`SPARK_GRAFT_CPUS` cores, else 4; `plancheck`
  * always local[8], the session PLANCHECK.json was recorded under).
  *
  * Usage: runMain graft.tools.Main <command> [args]
  */
object Main {
  /** (name, arguments, what it does); the usage text is built from it. */
  private val commands: Seq[(String, String, String)] = Seq(
    ("plancheck", "[--write] [path]",
      "sweep every query's plan red flags and diff them against " +
        "PLANCHECK.json (sf from SPARK_GRAFT_SF_DIR); --write re-records"),
    ("explain", "<sf> <names|all> <outDir> <suffix>",
      "write each query's static formatted plan to " +
        "<outDir>/<query>_<suffix>.txt"),
    ("final-plan", "<sf> <name>",
      "run one query and print its AQE-final plan"),
    ("rounds", "<sf> <outDir> <suffix>",
      "write the un-pinned beam-walk and NN-descent round plans"),
    ("time", "<sf> <names>",
      "wall-clock comma-separated queries into a noop sink"),
    ("show", "<sf> <names>", "show() comma-separated query results"))

  private def usage: String = commands.map { case (n, a, d) =>
    s"  $n $a\n      $d"
  }.mkString("usage: graft.tools.Main <command> [args]\n", "\n", "")

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val code =
      if (!commands.exists(_._1 == cmd)) badUsage()
      else {
        val spark =
          if (cmd == "plancheck") Sessions.local(8) else Sessions.local()
        try run(spark, cmd, args.toSeq.tail) finally spark.stop()
      }
    sys.exit(code)
  }

  /** Runs one subcommand on `spark` (left running) → exit code. */
  def run(spark: SparkSession, cmd: String, args: Seq[String]): Int =
    (cmd, args) match {
      case ("plancheck", _) => PlanCheck.check(spark, args)
      case ("explain", Seq(sf, names, outDir, suffix)) =>
        Tables.warm(spark, sf)
        val qs =
          if (names == "all") SparkEntry.queries.keys.toSeq.sorted
          else names.split(",").toSeq
        qs.foreach { n =>
          try write(outDir, n, suffix, SparkEntry.queries(n)(spark, sf))
          catch { case e: Throwable =>
            println(s"EXPLAIN ERROR $n: ${e.getMessage}")
          }
        }
        0
      case ("final-plan", Seq(sf, name)) =>
        val df = SparkEntry.queries(name)(spark, sf)
        // collect() drives THIS QueryExecution, so AQE finalizes it in
        // place (a noop write would build a separate one and leave this
        // plan un-executed, hiding runtime stage reuse)
        df.collect()
        println("=== AQE final plan ===")
        println(df.queryExecution.executedPlan.toString.take(12000))
        0
      case ("rounds", Seq(sf, outDir, suffix)) =>
        Similarity.debugRoundFrames(Tables.load(spark, sf, "embeddings"))
          .foreach { case (n, df) => write(outDir, n, suffix, df) }
        0
      case ("time", Seq(sf, names)) =>
        Tables.warm(spark, sf)
        names.split(",").foreach { n =>
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sf)
            .write.format("noop").mode("overwrite").save()
          println(f"TIME $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        0
      case ("show", Seq(sf, names)) =>
        Tables.warm(spark, sf)
        names.split(",").foreach { n =>
          println(s"== $n")
          SparkEntry.queries(n)(spark, sf).show(100, truncate = false)
        }
        0
      case _ => badUsage()
    }

  private def badUsage(): Int = { println(usage); 2 }

  private val lambdaId = """\$\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+""".r
  // JVM-wide counters a plan prints: exprIds, Exchange plan ids, RDD ids
  private val counters = Seq("""(#)(\d+)""".r, """(plan_id=)(\d+)""".r,
    """(RDD\[)(\d+)""".r)

  /** A plan text that is the same wherever and whenever it is planned.
    * A typed-Dataset lambda prints as its class and object id
    * (`…$$Lambda$6848/0x00007f8abe00d8d8@4383d762`); only the `$$Lambda`
    * stem is kept. exprIds, Exchange `plan_id`s and RDD ids come from
    * JVM-wide counters; each kind is renumbered 1, 2, … in order of
    * first appearance, so references between operators still read the
    * same.
    */
  private def stable(plan: String): String =
    counters.foldLeft(lambdaId.replaceAllIn(plan, "\\$\\$Lambda")) {
      (txt, counter) =>
        val ids = scala.collection.mutable.Map.empty[String, Int]
        counter.replaceAllIn(txt, m => Regex.quoteReplacement(
          m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }

  /** Static formatted plan (AQE not final: reproducible without running
    * the query; exchanges, join strategies and PushedFilters all show),
    * made [[stable]] → `<outDir>/<name>_<suffix>.txt`.
    */
  private def write(outDir: String, name: String, suffix: String,
                    df: DataFrame): Unit = {
    val out = Files.createDirectories(Paths.get(outDir))
      .resolve(s"${name}_$suffix.txt")
    val txt = stable(df.queryExecution.explainString(FormattedMode))
    Files.writeString(out, txt)
    println(s"wrote $out (${txt.length} chars)")
  }
}
