package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Sessions, SparkEntry}
import graft.operators.HeliumGraph
import graft.sinks.GraphSink
import graft.streaming.HeliumStreamFollower

/** The benchmark's JVM side: one workload, one closed-loop client.
  *
  *   Bench <workload> <seed> <seconds> <trace 0|1> <cpus> <work-dir>
  *         <result.json> [<stub-port-file> | <data-dir> <short,..> <iter,..>]
  *
  * It writes the run's measurements to <result.json>; run.py turns
  * them into the benchmark's output line. With trace 1 the first half
  * of the run is measured untraced and the second half traced, so the
  * difference is the tracing overhead.
  */
object Bench {
  private val mapper = new ObjectMapper
  /** Set-up runs per chain run; set-up time is their median. */
  private val SetupRuns = 2

  final class Stub(portFile: Path) {
    private val http = HttpClient.newHttpClient()
    val endpoint: String = {
      val deadline = System.nanoTime() + 60e9.toLong
      while (!Files.exists(portFile)) {
        require(System.nanoTime() < deadline, "node stub did not start")
        Thread.sleep(20)
      }
      s"http://127.0.0.1:${Files.readString(portFile).trim}/"
    }
    private def send(path: String, body: Option[String]): String = {
      val b = HttpRequest.newBuilder(URI.create(endpoint + path))
      val req = body.fold(b.GET())(x =>
        b.POST(HttpRequest.BodyPublishers.ofString(x))).build()
      http.send(req, HttpResponse.BodyHandlers.ofString()).body()
    }
    def setTip(h: Long): Unit = send("control/tip", Some(h.toString))
    def reset(): Unit = send("control/reset", Some(""))
    def stats(): com.fasterxml.jackson.databind.JsonNode =
      mapper.readTree(send("control/stats", None))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One measured phase of a closed loop: its samples and failures. */
  final class Phase {
    val ops = ArrayBuffer.empty[Double]   // unit operation latencies
    val heavy = ArrayBuffer.empty[Double] // heavy operation latencies
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    def fail(what: String): Unit = {
      failed += 1; if (failures.size < 20) failures += what
    }
  }

  /** Builds a query and forces full evaluation through the noop sink, as
    * `Bench` does; when traced, inside `query.build` and `query.exec`
    * spans, with the codegen compile deltas appended to `codegens`.
    */
  private def runQuery(request: String, trace: Option[Trace],
                       codegens: ArrayBuffer[(String, Double, Double)])(
      build: => DataFrame): Unit = {
    val (cgMs0, cgN0) = codegen()
    val df = trace.fold(build)(_.span("query.build", request)(build))
    def exec(): Unit = df.write.format("noop").mode("overwrite").save()
    trace.fold(exec())(_.span("query.exec", request)(exec()))
    trace.foreach { _ =>
      val (cgMs1, cgN1) = codegen()
      codegens += ((request, cgMs1 - cgMs0, (cgN1 - cgN0).toDouble))
    }
  }

  /** Codegen compile time (ms) and compile count so far. */
  private def codegen(): (Double, Long) =
    (CodeGenerator.compileTime / 1e6, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpusS, workS, outS) = args.take(7)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = cpusS.toInt
    val work = Paths.get(workS)
    Files.createDirectories(work)

    val tSession = System.nanoTime()
    val spark = Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietBoundedWindowWarns()
    val sessionS = secs(tSession)

    val out = mapper.createObjectNode()
    out.put("workload", workload)
    out.put("session_s", sessionS)
    val res = workload match {
      case "chain-tip" =>
        chain(spark, seed, seconds, traced, cpus, work,
          new Stub(Paths.get(args(7))), out)
      case "analytics" =>
        analytics(spark, seconds, traced, work, args(7),
          args(8).split(',').filter(_.nonEmpty).toSeq,
          args(9).split(',').filter(_.nonEmpty).toSeq, out)
      case w => sys.error(s"unknown workload $w")
    }
    out.put("setup_s", sessionS + out.get("setup_work_s").asDouble())
    out.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    out.put("attempted", res.attempted)
    out.put("failed", res.failed)
    val f = out.putArray("failures"); res.failures.foreach(f.add)
    val s0 = System.nanoTime()
    spark.stop()
    out.put("stop_s", secs(s0))
    Files.writeString(Paths.get(outS), mapper.writeValueAsString(out))
  }

  /** The untraced half (or whole) and the traced half of a run. */
  private def phases(seconds: Double, traced: Boolean, trace: => Trace)(
      loop: (Double, Option[Trace]) => Phase): (Phase, Option[(Phase, Trace)]) =
    if (!traced) (loop(seconds, None), None)
    else {
      val plain = loop(seconds / 2, None)
      val t = trace
      t.register()
      val withTrace = loop(seconds / 2, Some(t))
      t.drain()
      (plain, Some(withTrace -> t))
    }

  /** Attempts and failures of the phases together. */
  private def merged(ps: Seq[Phase]): Phase = {
    val all = new Phase
    ps.foreach { p =>
      all.attempted += p.attempted; all.failed += p.failed
      all.failures ++= p.failures
    }
    all
  }

  private def putE2e(o: ObjectNode, p: Phase): Unit = {
    o.put("latency_p50_s", median(p.ops.toSeq))
    o.put("heavy_p50_s", median(p.heavy.toSeq))
  }

  private def named(o: ObjectNode, name: String, unit: String,
                    value: Double, n: Int): Unit = {
    val m = o.putObject(name)
    m.put("value", value); m.put("unit", unit); m.put("samples", n)
  }

  // ---------------------------------------------------------------- chain

  private val reads: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("witnessGraph", "poc_receipts", HeliumGraph.witnessGraph),
    ("accountFlow", "payments", HeliumGraph.accountFlow),
    ("witnessReach", "poc_receipts", HeliumGraph.witnessReach(_, 3)))

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).toVector
      finally s.close()
    }

  private def chain(spark: SparkSession, seed: Long,
                    seconds: Double, traced: Boolean, cpus: Int, work: Path,
                    stub: Stub, out: ObjectNode): Phase = {
    val prefix = 10L
    val gen = new ChainGen(seed)
    val target = GraphSink.ImportTarget(stub.endpoint, "helium")
    def start(dir: Path): StreamingQuery =
      HeliumStreamFollower.start(spark, stub.endpoint,
        dir.resolve("sink").toString, dir.resolve("ckpt").toString,
        startHeight = 0L, maxHeightsPerTrigger = 500L,
        numPartitions = cpus, maxRetries = 3, sleepMs = 100L,
        importTarget = Some(target))

    // set-up: the prefix catch-up, twice from an empty sink; the second
    // query stays up for the measured loop
    stub.setTip(prefix)
    var importBase: Map[String, Long] = Map.empty
    var q: StreamingQuery = null
    val dir = work.resolve("chain")
    val catchUps = (1 to SetupRuns).map { i =>
      val last = i == SetupRuns
      val d = if (last) dir else work.resolve(s"setup-$i")
      if (last) importBase = importDocsTotal(stub)
      val t0 = System.nanoTime()
      val qi = start(d)
      qi.processAllAvailable()
      val s = secs(t0)
      if (last) q = qi else { qi.stop(); deleteTree(d) }
      s
    }
    val sink = dir.resolve("sink")
    val codegens = ArrayBuffer.empty[(String, Double, Double)]
    def read(k: Int, request: String, trace: Option[Trace]): Unit = {
      val (_, coll, f) = reads(k)
      runQuery(request, trace, codegens)(
        f(spark.read.parquet(sink.resolve(coll).toString)))
    }
    // each read once, so the measured reads run warm
    val r0 = System.nanoTime()
    reads.indices.foreach(k => read(k, s"warm-$k", None))
    val readWarmS = secs(r0)
    out.put("setup_work_s", median(catchUps) + readWarmS)
    val sc = out.putArray("setup_catch_up_s"); catchUps.foreach(sc.add(_))
    out.put("setup_read_warmup_s", readWarmS)

    var tip = prefix
    var readNo = 0
    val stepLayers = ArrayBuffer.empty[ObjectNode]
    val readFiles = ArrayBuffer.empty[Int]
    val readKinds = reads.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    val (plain, tracedPart) = phases(seconds, traced, new Trace(spark)) {
      (secondsHere, trace) =>
        val p = new Phase
        val deadline = System.nanoTime() + (secondsHere * 1e9).toLong
        // whole rounds of the three reads, so every run weighs them alike
        while (System.nanoTime() < deadline || readNo % reads.size != 0) {
          tip += 1
          val request = s"h$tip"
          trace.foreach(_ => stub.reset())
          val filesBefore = trace.map(_ => parquetFiles(sink))
          val t0 = System.nanoTime()
          def commit(): Unit = { stub.setTip(tip); q.processAllAvailable() }
          trace.fold(commit())(_.span("block", request)(commit()))
          val lat = secs(t0)
          p.ops += lat
          val end = Option(q.lastProgress).flatMap(_.sources.headOption)
            .map(_.endOffset.trim)
          if (!end.contains(tip.toString))
            p.fail(s"height $tip not committed (end offset $end)")
          trace.foreach { _ =>
            val files = parquetFiles(sink)
            val o = mapper.createObjectNode()
            o.put("request", request)
            o.set("stub", stub.stats())
            o.put("files_written", files.size - filesBefore.get.size)
            o.put("bytes_written", files.map(Files.size).sum -
              filesBefore.get.map(Files.size).sum)
            o.put("files_live", files.size)
            stepLayers += o
          }
          // one read over the live sink, rotating over the three reads
          val k = readNo % reads.size
          readNo += 1
          p.attempted += 1
          val rq = s"read$readNo-${reads(k)._1}"
          trace.foreach(_ => readFiles += parquetFiles(sink.resolve(reads(k)._2)).size)
          val r0 = System.nanoTime()
          try {
            read(k, rq, trace)
            p.heavy += secs(r0)
            if (trace.isEmpty) readKinds(reads(k)._1) += secs(r0)
          } catch { case e: Exception => p.fail(s"$rq: ${e.getMessage.take(200)}") }
        }
        p
    }
    q.stop()

    // correctness, untimed: every height's rows, partitions, imports
    val all = merged(plain +: tracedPart.map(_._1).toSeq)
    val c0 = System.nanoTime()
    checkChain(spark, gen, sink, tip, stub, importBase, all)
    out.put("check_s", secs(c0))

    putE2e(out.putObject("e2e"), plain)
    val nm = out.putObject("named")
    named(nm, "tip_block_p50_s", "s", median(plain.ops.toSeq), plain.ops.size)
    named(nm, "tip_block_p90_s", "s", pct(plain.ops.toSeq, 0.9), plain.ops.size)
    named(nm, "sink_read_p50_s", "s", median(plain.heavy.toSeq), plain.heavy.size)
    named(nm, "sink_read_p90_s", "s", pct(plain.heavy.toSeq, 0.9), plain.heavy.size)
    readKinds.foreach { case (k, xs) =>
      named(nm, s"sink_read_${k}_p50_s", "s", median(xs.toSeq), xs.size) }
    named(nm, "heights_committed", "count", tip.toDouble, 1)
    tracedPart.foreach { case (tp, t) =>
      putE2e(out.putObject("e2e_traced"), tp)
      val layers = out.putObject("layers")
      chainLayers(layers, t, stepLayers.toSeq, readFiles.toSeq)
      queryLayers(layers, t, codegens.filterNot(_._1.startsWith("warm")).toSeq)
      writeTrace(work, t, tp, out, all)
    }
    all
  }

  private def importDocsTotal(stub: Stub): Map[String, Long] = {
    val d = stub.stats().get("import_docs_total")
    d.fieldNames().asScala.map(k => k -> d.get(k).asLong()).toMap
  }

  private def checkChain(spark: SparkSession, gen: ChainGen, sink: Path,
                         tip: Long, stub: Stub, importBase: Map[String, Long],
                         all: Phase): Unit = {
    val exp = gen.expected(0L, tip)
    val batches = Seq("payments", "poc_receipts", "accounts").flatMap { c =>
      val d = sink.resolve(c)
      if (!Files.isDirectory(d)) Nil
      else Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).toSeq
    }.distinct.sorted.toArray
    // the one partition a height may sit in: the first epoch end >= it
    def owner(h: Long): Long = {
      val i = java.util.Arrays.binarySearch(batches, h)
      val k = if (i >= 0) i else -i - 1
      if (k < batches.length) batches(k) else -1L
    }
    val got = Seq("payments" -> exp.payments, "poc_receipts" -> exp.receipts)
      .map { case (c, want) =>
        val rows = spark.read.parquet(sink.resolve(c).toString)
          .withColumn("batch", col("batch").cast("long"))
          .groupBy("block").agg(countDistinct("_key").as("n"),
            min("batch").as("lo"), max("batch").as("hi"), count(lit(1)).as("rows"))
          .collect()
        c -> (want, rows.map(r =>
          r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap,
          rows.map(_.getLong(4)).sum)
      }
    all.attempted += tip
    (1L to tip).foreach { h =>
      val bad = got.flatMap { case (c, (want, rows, _)) =>
        val w = want.getOrElse(h, 0)
        rows.get(h) match {
          case None if w == 0 => None
          case None => Some(s"$c: height $h missing ($w keys expected)")
          case Some((n, lo, hi)) =>
            if (n != w) Some(s"$c: height $h has $n keys, expected $w")
            else if (lo != hi || lo != owner(h))
              Some(s"$c: height $h in batches $lo..$hi, expected ${owner(h)}")
            else None
        }
      }
      if (bad.nonEmpty) all.fail(bad.head)
    }
    if (batches.isEmpty || batches.last != tip)
      all.fail(s"last epoch partition ${batches.lastOption} != tip $tip")
    all.attempted += 1
    val acc = spark.read.parquet(sink.resolve("accounts").toString)
      .agg(countDistinct("_key"), count(lit(1))).first()
    if (acc.getLong(0) != exp.accounts)
      all.fail(s"accounts: ${acc.getLong(0)} distinct keys, expected ${exp.accounts}")
    // every committed document reached the node's import endpoint
    val received = importDocsTotal(stub)
    val committed = got.map { case (c, (_, _, n)) => c -> n }.toMap +
      ("accounts" -> acc.getLong(1))
    committed.foreach { case (c, rows) =>
      all.attempted += 1
      val docs = received.getOrElse(c, 0L) - importBase.getOrElse(c, 0L)
      if (docs < rows) all.fail(s"$c: stub received $docs documents of $rows committed")
    }
  }

  private def chainLayers(o: ObjectNode, t: Trace, steps: Seq[ObjectNode],
                          readFiles: Seq[Int]): Unit = {
    def stub(f: com.fasterxml.jackson.databind.JsonNode => Double): Double =
      mean(steps.map(s => f(s.get("stub"))))
    def req(s: com.fasterxml.jackson.databind.JsonNode, m: String) =
      s.get(m).get("requests").asDouble()
    val epochs = t.epochs.toVector
    o.put("sources.rpc.transaction_get_per_txn",
      stub(s => if (req(s, "transaction_get") == 0) 1.0
        else s.get("distinct_txns_served").asDouble() / req(s, "transaction_get")))
    o.put("sources.rpc.block_get_per_height", stub(s => req(s, "block_get")))
    o.put("sources.rpc.errors", steps.map(s => Seq("block_height", "block_get",
      "transaction_get", "other").map(m => s.get("stub").get(m).get("errors")
      .asDouble()).sum).sum)
    o.put("sources.fetch_window_ms", stub(_.get("fetch_window_ms").asDouble()))
    o.put("sources.rpc.block_height_per_epoch", stub(s => req(s, "block_height")))
    o.put("sources.node_busy_ms", stub(s => Seq("block_height", "block_get",
      "transaction_get", "import").map(m => s.get(m).get("busy_ms").asDouble()).sum))
    def dur(k: String) = mean(epochs.map(_._3.getOrElse(k, 0.0)))
    o.put("streaming.latest_offset_ms", dur("latestOffset"))
    o.put("streaming.query_planning_ms", dur("queryPlanning"))
    o.put("streaming.add_batch_ms", dur("addBatch"))
    o.put("streaming.wal_commit_ms", dur("walCommit"))
    o.put("streaming.commit_offsets_ms", dur("commitOffsets"))
    o.put("streaming.trigger_ms", dur("triggerExecution"))
    o.put("streaming.heights_per_epoch", mean(epochs.map(_._4.toDouble)))
    val jobs = t.spans.filter(_.name == "job").toVector
    val perEpoch = epochs.map { case (s, e, _, _) =>
      val js = jobs.filter(j => j.start >= s && j.start <= e)
      val ts = t.tasks.count(k => k.time >= s && k.time <= e)
      (js.size.toDouble, ts.toDouble,
        (e - s) - Trace.union(js.map(j => (math.max(j.start, s), math.min(j.end, e)))))
    }
    o.put("streaming.epoch_jobs", mean(perEpoch.map(_._1)))
    o.put("streaming.epoch_tasks", mean(perEpoch.map(_._2)))
    o.put("streaming.epoch_driver_gap_ms", mean(perEpoch.map(_._3)))
    // the epoch's parquet writes: its sink partitions
    o.put("sinks.write_ms", mean(epochs.map { case (s, e, _, _) =>
      t.parquetWrites.filter(w => w._1 >= s && w._1 <= e).map(w => w._2 - w._1).sum }))
    o.put("sinks.files_written", mean(steps.map(_.get("files_written").asDouble())))
    o.put("sinks.bytes_written", mean(steps.map(_.get("bytes_written").asDouble())))
    o.put("sinks.import_ms", stub(_.get("import").get("busy_ms").asDouble()))
    o.put("sinks.import_docs", stub { s =>
      val d = s.get("import_docs"); d.fieldNames().asScala.map(d.get(_).asDouble()).sum })
    o.put("sinks.files_live", steps.lastOption.map(_.get("files_live").asDouble()).getOrElse(0.0))
    o.put("sinks.read_files_scanned", mean(readFiles.map(_.toDouble)))
  }

  // ------------------------------------------------------------ analytics

  private def analytics(spark: SparkSession, seconds: Double,
                        traced: Boolean, work: Path, data: String,
                        short: Seq[String], iterative: Seq[String],
                        out: ObjectNode): Phase = {
    val qs = SparkEntry.queries
    val outputs = work.resolve("outputs")
    val failedWarm = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // set-up: the untimed warm-up pass, two queries at a time, which also
    // writes each sampled query's output for the oracle check
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (short ++ iterative).distinct.map { name =>
      pool.submit(new Runnable { def run(): Unit =
        try qs(name)(spark, data).write.mode("overwrite")
          .parquet(outputs.resolve(name).toString)
        catch { case e: Exception =>
          failedWarm.add(name)
          System.err.println(s"warm-up $name: ${e.getMessage.take(300)}")
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    out.put("setup_work_s", secs(t0))
    val oracle = out.putObject("oracle_sql")
    (short ++ iterative).distinct.foreach(n =>
      SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _)))

    val queryRecords = ArrayBuffer.empty[(String, Double, Double)]
    val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def run(name: String, request: String, trace: Option[Trace], p: Phase): Double = {
      p.attempted += 1
      val q0 = System.nanoTime()
      try runQuery(request, trace, queryRecords)(qs(name)(spark, data))
      catch { case e: Exception => p.fail(s"$name: ${e.getMessage.take(200)}") }
      val s = secs(q0)
      if (trace.isEmpty) perQuery.getOrElseUpdate(name, ArrayBuffer.empty) += s
      s
    }
    var pass = 0
    val (plain, tracedPart) = phases(seconds, traced, new Trace(spark)) {
      (secondsHere, trace) =>
        val p = new Phase
        val deadline = System.nanoTime() + (secondsHere * 1e9).toLong
        while (System.nanoTime() < deadline) {
          pass += 1
          short.foreach(n => p.ops += run(n, s"$n@$pass", trace, p))
          p.heavy += iterative.map(n => run(n, s"$n@$pass", trace, p)).sum
        }
        p
    }
    val all = merged(plain +: tracedPart.map(_._1).toSeq)
    failedWarm.forEach(n => all.fail(s"warm-up $n"))
    putE2e(out.putObject("e2e"), plain)
    val nm = out.putObject("named")
    named(nm, "short_query_p50_s", "s", median(plain.ops.toSeq), plain.ops.size)
    named(nm, "short_query_p90_s", "s", pct(plain.ops.toSeq, 0.9), plain.ops.size)
    named(nm, "iterative_pass_s", "s", median(plain.heavy.toSeq), plain.heavy.size)
    val pq = out.putObject("query_median_s")
    perQuery.foreach { case (n, xs) => pq.put(n, median(xs.toSeq)) }
    tracedPart.foreach { case (tp, t) =>
      putE2e(out.putObject("e2e_traced"), tp)
      val layers = out.putObject("layers")
      queryLayers(layers, t, queryRecords.toSeq)
      writeTrace(work, t, tp, out, all)
    }
    all
  }

  /** Per-query layer counters (analytics queries, or chain sink reads):
    * every listener event is charged to the query whose spans hold it.
    */
  private def queryLayers(o: ObjectNode, t: Trace,
                          codegens: Seq[(String, Double, Double)]): Unit = {
    val roots = t.spans.filter(s => s.request.nonEmpty &&
      s.name.startsWith("query.")).toVector.groupBy(_.request)
    val jobs = t.spans.filter(_.name == "job").toVector
    val stages = t.spans.filter(_.name == "stage").toVector
    val per = roots.toVector.map { case (rq, rs) =>
      val s = rs.map(_.start).min; val e = rs.map(_.end).max
      def in(x: Double) = x >= s && x <= e
      val js = jobs.filter(j => in(j.start))
      val ts = t.tasks.filter(k => in(k.time))
      val phases = t.executions.filter(x => in(x._1)).map(_._2)
      def ph(k: String) = phases.map(_.getOrElse(k, 0.0)).sum
      Map(
        "SparkEntry.build_ms" -> rs.filter(_.name == "query.build").map(_.ms).sum,
        "plans.analysis_ms" -> ph("analysis"),
        "plans.optimization_ms" -> ph("optimization"),
        "plans.planning_ms" -> ph("planning"),
        "operators.jobs" -> js.size.toDouble,
        "operators.stages" -> stages.count(x => in(x.start)).toDouble,
        "operators.tasks" -> ts.size.toDouble,
        "operators.driver_gap_ms" -> ((e - s) - Trace.union(js.map(j => (j.start, j.end)))),
        "operators.executor_run_ms" -> ts.map(_.runMs).sum,
        "operators.executor_cpu_ms" -> ts.map(_.cpuMs).sum,
        "operators.gc_ms" -> ts.map(_.gcMs).sum,
        "operators.shuffle_read_bytes" -> ts.map(_.shuffleRead.toDouble).sum,
        "operators.shuffle_write_bytes" -> ts.map(_.shuffleWrite.toDouble).sum,
        "operators.spill_bytes" -> ts.map(_.spill.toDouble).sum,
        "operators.peak_execution_memory_bytes" ->
          (0L +: ts.map(_.peakMem)).max.toDouble,
        "Materialize.pins" -> t.persisted.filter(x => in(x._1)).map(_._2)
          .distinct.size.toDouble,
        "Tables.input_bytes" -> ts.map(_.inputBytes.toDouble).sum)
    }
    val keys = Seq("SparkEntry.build_ms", "plans.analysis_ms",
      "plans.optimization_ms", "plans.planning_ms", "operators.jobs",
      "operators.stages", "operators.tasks", "operators.driver_gap_ms",
      "operators.executor_run_ms", "operators.executor_cpu_ms", "operators.gc_ms",
      "operators.shuffle_read_bytes", "operators.shuffle_write_bytes",
      "operators.spill_bytes", "operators.peak_execution_memory_bytes",
      "Materialize.pins", "Tables.input_bytes")
    keys.foreach(k => o.put(k, mean(per.map(_(k)))))
    if (codegens.nonEmpty) {
      o.put("plans.codegen_compile_ms", mean(codegens.map(_._2)))
      o.put("plans.codegen_compiles", mean(codegens.map(_._3)))
    }
  }

  /** Writes every span, the per-request blocking-path breakdown and the
    * per-kind self times; puts the totals into `out`. The self times of
    * all requests must sum to within 10% of the latencies the traced
    * phase measured on its own clock; a run outside that fails in `all`.
    */
  private def writeTrace(work: Path, t: Trace, tp: Phase, out: ObjectNode,
                         all: Phase): Unit = {
    val placed = t.assign()
    val byReq = placed.groupBy(_.request)
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val reqs = mapper.createArrayNode()
    byReq.toSeq.sortBy(_._2.map(_.start).min).foreach { case (rq, ss) =>
      val roots = ss.filter(_.parent == 0L)
      val r = reqs.addObject()
      r.put("request", rq)
      val st = r.putObject("self_ms")
      roots.foreach { root =>
        val members = descendants(root, ss)
        Trace.selfTimes(root, members).foreach { case (k, v) =>
          val name = if (Trace.depth(k) == 0) "client" else k
          self(name) += v
          st.put(name, st.path(name).asDouble(0.0) + v)
        }
      }
      r.put("wall_ms", roots.map(_.ms).sum)
    }
    val root = mapper.createObjectNode()
    val sp = root.putArray("spans")
    placed.sortBy(_.start).foreach { s =>
      val o = sp.addObject()
      o.put("name", s.name); o.put("start", s.start); o.put("end", s.end)
      o.put("id", s.id); o.put("parent", s.parent); o.put("request", s.request)
    }
    root.set("requests", reqs)
    Files.writeString(work.resolve("spans.json"), mapper.writeValueAsString(root))
    val l = out.get("layers").asInstanceOf[ObjectNode]
    val n = math.max(1, byReq.size)
    Seq("client", "epoch", "sql_execution", "job", "stage").foreach(k =>
      l.put(s"trace.self_ms.$k", self(k) / n))
    val clientMs = (tp.ops.sum + tp.heavy.sum) * 1000
    val coverage = if (clientMs == 0) 0.0 else self.values.sum / clientMs
    l.put("trace.blocking_path_coverage", coverage)
    out.put("traced_client_ms", clientMs)
    all.attempted += 1
    if (math.abs(coverage - 1) > 0.1)
      all.fail(f"blocking-path self times cover $coverage%.3f of the traced latencies")
    l.put("jvm.heap_after_gc_peak_mb", t.heapAfterGcPeakMb)
    out.put("spans_file", work.resolve("spans.json").toString)
    out.put("spans", placed.size)
  }

  private def descendants(root: Span, ss: Seq[Span]): Seq[Span] = {
    val kids = ss.groupBy(_.parent)
    def go(id: Long): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(k => k +: go(k.id))
    go(root.id)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
}
