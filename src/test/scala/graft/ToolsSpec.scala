package graft

import java.nio.file.Files

import graft.tools.Main

/** The tools entry point's dispatch, driven in-JVM through
  * `Main.run` on the shared session (which it must leave running).
  */
class ToolsSpec extends SparkSpec {

  private def captured(f: => Int): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream
    val code = Console.withOut(out)(f)
    (code, out.toString("UTF-8"))
  }

  test("an unknown subcommand returns 2 and lists every subcommand") {
    val (code, text) = captured(Main.run(spark, "no-such-tool", Nil))
    assert(code === 2)
    Seq("plancheck", "explain", "final-plan", "rounds", "time", "show")
      .foreach(c => assert(text.contains(s"  $c "), s"usage lacks $c"))
    assert(!spark.sparkContext.isStopped)
  }

  test("explain writes the static formatted plan of a fixture-only " +
    "query to <outDir>/<query>_<suffix>.txt") {
    val out = Files.createTempDirectory("tools-explain")
    val (code, _) = captured(Main.run(spark, "explain",
      Seq(sf0001, "h01_payment_v1_edges", out.toString, "t")))
    assert(code === 0)
    val plan = out.resolve("h01_payment_v1_edges_t.txt")
    assert(Files.exists(plan))
    assert(Files.readString(plan).contains("== Physical Plan =="))
    assert(!spark.sparkContext.isStopped)
  }

  test("explain is byte-stable: typed-Dataset, Exchange-bearing and " +
    "materialized-input queries explained twice in one JVM write " +
    "identical files") {
    val out = Files.createTempDirectory("tools-explain-twice")
    val qs = Seq("m02_decode_stub", "h01_payment_v1_edges",
      "h04_account_vertices", "h08_account_flow")
    for (suffix <- Seq("a", "b")) {
      val (code, text) = captured(Main.run(spark, "explain",
        Seq(sf0001, qs.mkString(","), out.toString, suffix)))
      assert(code === 0)
      assert(!text.contains("EXPLAIN ERROR"), text)
    }
    val plans = qs.map { q =>
      val Seq(a, b) = Seq("a", "b").map(x =>
        Files.readString(out.resolve(s"${q}_$x.txt")))
      assert(a === b, q)
      q -> a
    }.toMap
    // what each query brings that a JVM-wide counter would number
    assert(plans("m02_decode_stub").contains("$$Lambda"))
    Seq("h01_payment_v1_edges", "h04_account_vertices", "h08_account_flow")
      .foreach(q => assert(plans(q).contains("[plan_id=1]"), q))
    assert(plans("h08_account_flow").contains("RDD[1]"))
  }

  test("time prints each query's wall clock and the Spark jobs it " +
    "started") {
    val (code, text) = captured(Main.run(spark, "time",
      Seq(sf0001, "h01_payment_v1_edges")))
    assert(code === 0)
    val line = """TIME h01_payment_v1_edges \d+\.\d\d s (\d+) jobs""".r
    val jobs = line.findFirstMatchIn(text).map(_.group(1).toInt)
    assert(jobs.exists(_ > 0), text)
    assert(!spark.sparkContext.isStopped)
  }
}
