package graft
import java.nio.file.{Files, Paths}
object Bench {
  /** Fixture-only calibration queries (they read no sf-scaled
    * testdata — BASELINE.md §3.1): their medians separate machine
    * state from code regressions in round-over-round comparisons, so
    * they ride in the stdout JSON line even though the full per-query
    * median map only fits the file artifact.
    */
  private val calibrationSet = Seq(
    "h01_payment_v1_edges", "h02_payment_v2_edges", "h03_receipt_edges",
    "h04_account_vertices", "h05_gateway_inventory", "h06_hotspot_density",
    "h07_witness_graph", "h08_account_flow",
    "q30_null_semantics", "j01_jsonl_docs", "st07_stream_static")

  /** Parse the frozen-anchor medians map out of a baseline file
    * (writer-controlled format — flat regex read, same stance as
    * PlanCheck.committedPairs). The anchor is an sf0.1 run, so a
    * ratio against another SF's wall-clock is noise: off-SF files
    * disarm the guard entirely (empty map). The medians OBJECT is
    * sliced by a balanced-brace scan from its opening '{', NOT
    * medians-to-EOF: BENCH_LOCAL-format files carry host.cpu_mhz
    * numerics and baseline_ratios keyed by the SAME query names
    * after the medians map, and a regex-to-EOF read would let later
    * ratio values overwrite median values (ADVICE r16) — so a
    * baseline captured verbatim from a committed closing artifact
    * (BENCH_R17_CLOSING.json and successors) parses correctly.
    * Throws on a missing medians key; the caller's catch maps any
    * failure to "no anchor".
    */
  private[graft] def parseBaseline(txt: String,
                                   sfDir: String): Map[String, Double] = {
    val sfOk = """"sf"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt)
      .exists(_.group(1) == sfDir)
    if (!sfOk) Map.empty
    else {
      // ADVICE r17: anchor the key with a regex through its ':' and
      // require the value to OPEN with '{' — a bare indexOf('{', mk)
      // would slice whatever brace follows a "medians" occurrence,
      // so the literal word inside an earlier free-text source
      // narrative, or a null/numeric medians value, silently armed
      // the guard against the WRONG object. Non-object medians now
      // throw, which the caller already maps to "no anchor".
      val start = """"medians"\s*:\s*""".r.findAllMatchIn(txt)
        .map(_.end).find(e => e < txt.length && txt.charAt(e) == '{')
        .getOrElse(throw new NoSuchElementException(
          "no medians object (missing key or non-object value)"))
      var depth = 0
      var end = start
      while (end < txt.length && (depth > 0 || end == start)) {
        if (txt.charAt(end) == '{') depth += 1
        else if (txt.charAt(end) == '}') depth -= 1
        end += 1
      }
      val sect = txt.substring(start, end)
      """"([A-Za-z0-9_]+)"\s*:\s*([0-9][0-9.eE+-]*)""".r
        .findAllMatchIn(sect)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** JSON name-list for the summary stdout tier, CAPPED so the tier
    * can never outgrow the 2000-char stdout window itself (a
    * mass-trip event — say a broken Tables load tripping 200
    * queries — would otherwise reproduce the very parsed:null
    * failure the tier exists to end). Truncation is signalled by a
    * SEPARATE `<key>_truncated:true` field (ADVICE r19: an in-band
    * "..." element broke "array length == count" for consumers
    * iterating entries as query names), so the arrays stay pure
    * name lists; the exact counts ride beside them.
    */
  private[graft] def names(xs: Seq[String], key: String,
                           cap: Int = 20): String =
    xs.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]") +
      (if (xs.size > cap) s""","${key}_truncated":true""" else "")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Per-query medians of `reps` runs in ONE JVM (warm tables, warm
    // codegen) — the agreed round-over-round instrument after two
    // rounds were muddied by machine noise (r11's 367 s anomaly; r12
    // burned five full runs re-establishing the number).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Sessions.local()
    // Bench session only: the two-stage rank template's ~32-row _pid
    // windows are bounded by construction (PlanCheck traces them), and
    // their per-run WindowExec WARN spam buried the guard verdict in
    // the driver's 2000-char stdout tail (VERDICT r19 #6).
    Sessions.quietBoundedWindowWarns()
    // Warm up the JVM/codegen/scheduler and the parquet footers once so
    // whichever query the Map iterates first doesn't absorb session
    // startup (~5s) into its measurement.
    Tables.warm(spark, sfDir)
    // noop sink: forces FULL evaluation of every output column.
    // count() would let Catalyst prune the projections away and time
    // an empty scan for map-only queries.
    // Failures are tracked by name, not swallowed: a query that throws
    // "scores" its fast-fail wall time, which would otherwise read as a
    // speedup (r11: 11 broken queries at 0.1 s masked a contract break).
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val runs: Seq[Map[String, Double]] = (1 to reps).map { rep =>
      SparkEntry.queries.map { case (name, fn) =>
        System.gc() // isolate queries from each other's garbage
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => if (rep == 1) failed += name }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    // Run 1 keeps the historical single-shot semantics ("value",
    // "queries") so round-over-round totals stay comparable; the
    // medians ride beside them.
    val results = runs.head
    val medians: Map[String, Double] =
      results.keys.map(k => k -> median(runs.map(_(k)))).toMap
    // The harness records only the last 2000 chars of stdout (measured:
    // BENCH_r05's `tail` is exactly 2000 and the 2169-char full-precision
    // line lost its head → parsed:null). The stdout line must therefore
    // fit the window WHOLE. Cascade from millisecond precision down to
    // whatever fits a 1990-char budget: fewer decimals (trailing zeros
    // stripped — "0.5" not "0.500"), then the sf dir shortened to its
    // basename, then (last resort, never yet needed) the query keys cut
    // to their unique id prefix ("g10_pagerank" → "g10"). The FULL
    // 3-decimal, full-name line always goes to BENCH_LOCAL.json —
    // including the full per-query median map, which can NEVER fit the
    // stdout window next to the single-shot map (2 × ~170 entries);
    // stdout carries median_total + the calibration-set medians instead.
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val medianTotal = if (medians.nonEmpty) medians.values.sum else 0.0
    def fmt(v: Double, dp: Int, strip: Boolean): String = {
      val s = s"%.${dp}f".formatLocal(java.util.Locale.ROOT, v)
      if (!strip) s
      else {
        val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
        if (t.isEmpty || t == "-") "0" else t
      }
    }
    def qmap(m: Map[String, Double], dp: Int, strip: Boolean,
             key: String => String): String =
      m.map { case (k, v) =>
        "\"" + key(k) + "\":" + fmt(v, dp, strip)
      }.mkString("{", ",", "}")
    def line(dp: Int, strip: Boolean, sf: String,
             key: String => String, marker: String = ""): String = {
      s"""{"metric":"total","value":${fmt(total, 3, strip = false)},""" +
        s""""unit":"sec"$marker,"reps":$reps,""" +
        s""""median_total":${fmt(medianTotal, 3, strip = false)},""" +
        s""""medians_cal":${qmap(
          medians.view.filterKeys(calibrationSet.contains).toMap,
          dp, strip, key)},""" +
        s""""queries":${qmap(results, dp, strip, key)},"sf":"$sf"}"""
    }
    val sfShort = Paths.get(sfDir).getFileName.toString
    // The id-prefix tiers shorten "g10_pagerank" → "g10": the prefix
    // before the first underscore is each query's unique id (it matches
    // the full names in CORRECTNESS/BENCH_LOCAL artifacts 1:1), and the
    // "keys" marker says so in-band.
    val idKey = (k: String) => k.takeWhile(_ != '_')
    val idMark = ""","keys":"id-prefix""""
    val full = line(3, strip = false, sfDir, identity)
    // Belt and braces for the harness parse: also persist the FULL line
    // (with the complete per-query median map) to a file
    // (BENCH_LOCAL.json or args(0)).
    // Frozen per-query anchor (flat writer-controlled JSON; the regex
    // reads only the map after the "medians" key, so the metadata
    // fields can't contaminate it).
    val baseline: Map[String, Double] = try {
      parseBaseline(Files.readString(Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
          "BENCH_BASELINE.json"))), sfDir)
    } catch { case _: Throwable => Map.empty }
    val ratios: Map[String, Double] = medians.flatMap { case (k, v) =>
      baseline.get(k).filter(_ > 0).map(b => k -> v / b)
    }
    // The guard verdict, shared by the stdout WARN lines below and the
    // summary-only stdout tier: >2× the frozen median AND >1 s absolute
    // over it (the r13 #5 shape — see the guard comment below).
    val tripped: Seq[String] = medians.toSeq.collect {
      case (k, v) if baseline.get(k).exists(b => v > 2.0 * b && v - b > 1.0)
        => k
    }.sorted
    val newQueries: Seq[String] =
      if (baseline.isEmpty) Seq.empty
      else (medians.keySet -- baseline.keySet).toSeq.sorted
    // SUMMARY-ONLY stdout tier (VERDICT r18 #5): past ~240 queries no
    // per-query map fits the harness's 2000-char stdout window (every
    // BENCH_rNN since r14 recorded `parsed: null`). When none of the
    // per-query tiers fit, emit the aggregate contract instead —
    // total, median_total, the calibration medians, and the GUARD
    // VERDICT (trip count + names, new-entrant count + names) — so
    // the driver artifact regains an in-band parse while the full
    // per-query map continues to live in the file artifact.
    //
    // r21 (VERDICT r20 #3): the summary tier starved the driver's
    // per-query ground truth (`PERF_r20.per_query: {}`, empty scaling
    // block) even though the data existed in the file artifact. The
    // tier now carries a `queries` map again — the top-`topN` queries
    // by MEDIAN (the suite's cost lives in its heavy tail: at r20 the
    // 60 slowest of 250 queries held ~80% of median_total) plus every
    // guard-tripped query, values = the 3-rep medians (marked
    // `queries_are_medians:true`; rep-1 single-shot values stay in
    // the file artifact — nothing about the measurement changed, only
    // which numbers ride the stdout window). `topN` cascades down
    // with the usual precision/key tiers until the line fits.
    def summaryLine(dp: Int, strip: Boolean, sf: String, topN: Int,
                    key: String => String, marker: String): String = {
      val topQ: Map[String, Double] =
        if (topN == 0) Map.empty
        else {
          val top = medians.toSeq.sortBy { case (n, v) => (-v, n) }
            .take(topN).map(_._1).toSet ++ tripped
          medians.view.filterKeys(top).toMap
        }
      val truncated = topQ.size < medians.size
      s"""{"metric":"total","value":${fmt(total, 3, strip = false)},""" +
        s""""unit":"sec","summary_only":true,"reps":$reps,""" +
        s""""n_queries":${results.size},""" +
        s""""median_total":${fmt(medianTotal, 3, strip = false)},""" +
        (if (topQ.isEmpty) ""
         else s""""queries":${qmap(topQ, dp, strip, key)},""" +
           s""""queries_are_medians":true,""" +
           (if (truncated) s""""queries_top":${topQ.size},""" else "")) +
        marker +
        s""""medians_cal":${qmap(
          medians.view.filterKeys(calibrationSet.contains).toMap,
          dp, strip, key)},""" +
        s""""guard_anchored":${ratios.size},""" +
        s""""guard_trips":${tripped.size},""" +
        s""""tripped":${names(tripped, "tripped")},""" +
        s""""new_queries":${names(newQueries, "new_queries")},""" +
        s""""sf":"$sf"}"""
    }
    val candidates = Iterator(
      full,
      line(2, strip = true, sfDir, identity),
      line(1, strip = true, sfDir, identity),
      line(1, strip = true, sfShort, identity),
      line(3, strip = false, sfShort, idKey, idMark),
      line(1, strip = true, sfShort, idKey, idMark),
      summaryLine(2, strip = true, sfShort, 250, identity, ""),
      summaryLine(2, strip = true, sfShort, 80, identity, ""),
      summaryLine(1, strip = true, sfShort, 60, identity, ""),
      summaryLine(1, strip = true, sfShort, 40, identity, ""),
      summaryLine(1, strip = true, sfShort, 80, idKey, idMark.drop(1) + ","),
      summaryLine(1, strip = true, sfShort, 60, idKey, idMark.drop(1) + ","),
      summaryLine(1, strip = true, sfShort, 40, idKey, idMark.drop(1) + ","),
      summaryLine(1, strip = true, sfShort, 25, idKey, idMark.drop(1) + ","),
      summaryLine(3, strip = false, sfDir, 0, identity, ""),
      summaryLine(1, strip = true, sfShort, 0, identity, ""))
    val json = candidates.find(_.length <= 1990).getOrElse(
      summaryLine(1, strip = true, sfShort, 0, identity, ""))
    // Host state at capture time (VERDICT r15 #7): three rounds of
    // verdicts adjudicated "host band" drift by narrative; recording
    // loadavg, the cpu MHz spread, and the wall-clock timestamp in the
    // artifact lets the next reader separate host noise from code
    // drift mechanically. File artifact only — the stdout line has a
    // hard 2000-char budget.
    def hostState: String = {
      def slurp(p: String): String =
        try Files.readString(Paths.get(p)) catch { case _: Throwable => "" }
      val load = slurp("/proc/loadavg").trim.split("\\s+").take(3)
        .mkString(" ")
      val mhz = "cpu MHz\\s*:\\s*([0-9.]+)".r
        .findAllMatchIn(slurp("/proc/cpuinfo"))
        .map(_.group(1).toDouble).toSeq
      val mhzStr = if (mhz.isEmpty) "null"
        else s"""{"min":${fmt(mhz.min, 0, strip = false)},"max":${
          fmt(mhz.max, 0, strip = false)},"mean":${
          fmt(mhz.sum / mhz.size, 0, strip = false)}}"""
      s""""host":{"loadavg":"$load","cpu_mhz":$mhzStr,""" +
        s""""captured_at":"${java.time.Instant.now()}"}"""
    }
    val fullFile =
      full.dropRight(1) +
        s""","medians":${qmap(medians, 3, strip = false, identity)}""" +
        s""",$hostState""" +
        (if (ratios.isEmpty) "}"
         else s""","baseline_ratios":${
           qmap(ratios, 2, strip = false, identity)}}""")
    val outPath = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    try Files.writeString(Paths.get(outPath), fullFile + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    // Budget guard: any single query above 25% of the suite is the
    // next t10 — flag it in-band so it can't sit unnoticed for two
    // rounds again. Printed BEFORE the JSON line (which must stay the
    // final, whole line inside the harness's 2000-char stdout tail).
    // Guarded on MEDIANS: a one-off GC stall can't trip it, a real
    // regression can't hide behind one lucky run.
    medians.filter { case (_, v) => medianTotal > 0 && v > 0.25 * medianTotal }
      .foreach { case (k, v) =>
        println(f"WARN bench-budget: $k median ${v}%.1fs is ${v / medianTotal * 100}%.0f%% of the ${medianTotal}%.1fs suite")
      }
    // Per-query regression guard vs the FROZEN anchor
    // (BENCH_BASELINE.json = the r19 freeze: all 246 medians
    // transformed verbatim from the committed BENCH_R19_CLOSING.json,
    // per the freeze-from-committed-artifact ritual VERDICT r18 #1
    // established; prior-era maps stay in-repo as
    // BENCH_BASELINE_r13..r18.json for the cross-anchor ratchet.
    // VERDICT r13 #5 set the per-query shape: a scalar
    // "2× of total" bound degrades as the suite grows). A query >2×
    // its frozen median AND >1 s
    // absolute over it is flagged loudly; the absolute floor keeps
    // 0.1 s→0.25 s scheduler noise out (the calibration queries all
    // sit under it). Queries with no baseline row are new entrants —
    // named in-band so a grown total is attributable, never silent.
    if (baseline.nonEmpty) {
      tripped.foreach { k =>
        val (v, b) = (medians(k), baseline(k))
        println(f"WARN bench-vs-baseline: $k median ${v}%.2fs is ${v / b}%.1fx its frozen anchor median ${b}%.2fs")
      }
      if (newQueries.nonEmpty)
        println(s"INFO bench-new-queries (no frozen baseline): " +
          newQueries.mkString(","))
    }
    if (failed.nonEmpty)
      println(s"WARN bench-failed: ${failed.mkString(",")}")
    // Printed AFTER spark.stop() (and with build.sbt's showSuccess off)
    // so this is the final line on stdout.
    println(json)
  }
}
