package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("dump records a failing query in _errors.json and keeps going") {
    val outDir = Files.createTempDirectory("verify").toString
    val good: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq(1, 2, 3).toDF("x") }
    val bad: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("forced failure")
    // LinkedHashMap-backed Map preserves order: bad runs FIRST, so a
    // pass proves the loop survives a failure and still dumps `ok`.
    val errors = Verify.dump(spark, sf0001, outDir,
      scala.collection.immutable.ListMap("boom" -> bad, "ok" -> good))
    assert(errors.keySet === Set("boom"))
    assert(errors("boom").contains("forced failure"))
    assert(Files.exists(Paths.get(s"$outDir/ok")), "good query still dumped")
    assert(!Files.exists(Paths.get(s"$outDir/boom")))
    val errJson = Files.readString(Paths.get(s"$outDir/_errors.json"))
    assert(errJson.contains("\"boom\"") && errJson.contains("forced failure"))
    assert(spark.read.parquet(s"$outDir/ok").as[Int].collect().sorted
      === Array(1, 2, 3))
  }

  test("dump with no failures writes an empty _errors.json object") {
    val outDir = Files.createTempDirectory("verify").toString
    val good: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq(1).toDF("x") }
    val errors = Verify.dump(spark, sf0001, outDir, Map("ok" -> good))
    assert(errors.isEmpty)
    assert(Files.readString(Paths.get(s"$outDir/_errors.json")) === "{}")
  }

  test("_errors.json round-trips a message holding a quote, a " +
    "backslash, a tab, a CR and \\u0001") {
    val outDir = Files.createTempDirectory("verify").toString
    val msg = "a \"quoted\" \\path\tcol\rline\u0001end"
    val bad: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException(msg)
    val name = "bad\t\"name\""
    val errors = Verify.dump(spark, sf0001, outDir, Map(name -> bad))
    assert(errors(name) === s"IllegalStateException: $msg")
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(Paths.get(s"$outDir/_errors.json")))
    assert(back.size === 1)
    assert(back.get(name).asText === errors(name))
  }
}
