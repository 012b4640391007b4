package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

case class Ev(event_id: Long, ts: Long, user_id: Long)

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private val hourNs = 3600L * 1000 * 1000 * 1000

  test("tumblingWindowStats: identical plan over batch and stream") {
    val rows = Seq(
      Ev(1, 0L, 10), Ev(2, hourNs / 2, 11), Ev(3, hourNs + 1, 10))
    // batch anchor
    val batch = StreamingOps
      .tumblingWindowStats(rows.toDF(), "1 hour", exactDistinct = true)
      .orderBy("window_start")
      .select("n_events", "n_users").as[(Long, Long)].collect()
    assert(batch === Array((2L, 2L), (1L, 1L)))

    // same function over an unbounded source, complete mode
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps
      .tumblingWindowStats(mem.toDF(), "1 hour", exactDistinct = false)
      .writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT n_events FROM win ORDER BY window_start")
        .as[Long].collect()
      assert(got === Array(2L, 1L))
    } finally q.stop()
  }

  test("file-source streaming run of the follower transform (AvailableNow)") {
    // stream the fixture envelopes through the follower's payment
    // transform — the unified-API path: readStream + foreachBatch +
    // Trigger.AvailableNow drains and stops.
    val dir = java.nio.file.Files.createTempDirectory("stream").toString
    val src = graft.sources.HeliumFixtures.txnEnvelopes(spark)
    src.write.mode("overwrite").parquet(s"$dir/in")
    val counts = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.schema(src.schema).parquet(s"$dir/in")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        counts.addAndGet(
          FixtureReference.collection(batch, "payments").count())
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(counts.get() === 5L) // every payment edge, deduped keys unique
  }

  test("watermark drops late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps
      .tumblingWindowStream(mem.toDF(), "1 hour", lateness = "1 hour")
      .writeStream.format("memory").queryName("late")
      .outputMode("append").start()
    try {
      // watermark advances to 3h - 1h = 2h: windows [0,1h) and [1,2h)
      // finalize and emit
      mem.addData(Ev(1, 0L, 10), Ev(2, hourNs / 2, 11),
        Ev(3, hourNs + 1, 10), Ev(4, 3 * hourNs, 12))
      q.processAllAvailable()
      // a late event inside the already-finalized first window: dropped
      mem.addData(Ev(5, hourNs / 4, 13))
      q.processAllAvailable()
      val got = spark.sql("SELECT n_events FROM late ORDER BY window_start")
        .as[Long].collect()
      assert(got.toSeq === Seq(2L, 1L)) // late event never counted
    } finally q.stop()
  }

  test("native session_window (st10) agrees with gaps-and-islands " +
    "sessionize on membership, and runs unbounded") {
    import org.apache.spark.sql.functions._
    val ev = table("events")
    val gi = StreamingOps.sessionize(ev, 30L * 60 * 1000000)
    val sw = StreamingOps.sessionWindowStats(ev, "30 minutes")
    assert(sw.count() === gi.count())
    val giStarts = gi.select(col("user_id"), col("session_start"))
      .as[(Long, Long)].collect().toSet
    val swStarts = sw.select(col("user_id"), col("session_start"))
      .as[(Long, Long)].collect().toSet
    assert(swStarts === giStarts)
    // end convention: last event + gap, never the last event time
    assert(sw.filter(col("session_end") <= col("session_start")).isEmpty)

    // the same function over an unbounded source (complete mode):
    // engine-managed session merge, no batch-side window machinery
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.sessionWindowStats(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      mem.addData(Ev(1, 0L, 10), Ev(2, hourNs / 4, 10),
        Ev(3, 3 * hourNs, 10))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT session_start, n_events FROM sess ORDER BY session_start")
        .as[(Long, Long)].collect()
      // events at 0 and 15min merge (diff < 1h); the 3h event opens
      // a second session
      assert(got === Array((0L, 2L), (3L * 3600000000L, 1L)))
    } finally q.stop()
  }

  test("session boundary at diff == gap: BOTH forms merge (strict >)") {
    // Spark's session_window expands when the next start <= current
    // end (UpdatingSessionsIterator), so events exactly gap apart
    // merge — same strict-> boundary as sessionize. Pin it so a
    // coarser-ts testdata regen can't silently diverge the st10
    // oracle mirror.
    val atGap = Seq(Ev(1, 0L, 10), Ev(2, hourNs, 10)).toDF()
    assert(StreamingOps.sessionize(atGap, 3600L * 1000000).count() === 1)
    assert(StreamingOps.sessionWindowStats(atGap, "1 hour").count() === 1)
    val pastGap =
      Seq(Ev(1, 0L, 10), Ev(2, hourNs + 1000L, 10)).toDF() // gap + 1us
    assert(StreamingOps.sessionize(pastGap, 3600L * 1000000).count() === 2)
    assert(
      StreamingOps.sessionWindowStats(pastGap, "1 hour").count() === 2)
  }

  test("sessionWindowStream (append mode): a session is emitted once " +
    "the watermark passes its end, then its state is gone") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.sessionWindowStream(mem.toDF(), "1 hour",
      lateness = "0 seconds")
      .writeStream.format("memory").queryName("sessap")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, 0L, 10), Ev(2, hourNs / 4, 10))
      q.processAllAvailable()
      // session [0, 15min+1h) still open: nothing emitted yet
      assert(spark.sql("SELECT * FROM sessap").isEmpty)
      // an event far past the session end advances the watermark:
      // the first session finalizes and its state is evicted
      mem.addData(Ev(3, 5 * hourNs, 10))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT session_start, session_end, n_events FROM sessap")
        .as[(Long, Long, Long)].collect()
      assert(got === Array(
        (0L, hourNs / 4 / 1000 + 3600000000L, 2L)))
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("intervalJoinStream matches the batch range join and evicts state") {
    // batch anchor: same semantics as AsOf.rangeCountJoin (a02) on
    // the events table — count build matches per probe
    val minNs = 60L * 1000 * 1000 * 1000
    // offset from the epoch: the initial watermark is 0 and Spark's
    // late-row filter drops input AT the watermark, so a ts of 0
    // would vanish as a boundary artifact unrelated to the operator
    val t0 = 24 * 60 * minNs
    val clicks = Seq(
      Ev(1, t0, 10), Ev(2, t0 + 30 * minNs, 10), // in window of p100
      Ev(3, t0 + 61 * minNs, 10),                 // after p100: no
      Ev(4, t0 + 30 * minNs, 11))                 // other user
    val purchases = Seq(Ev(100, t0 + 60 * minNs, 10))
    val batchOut = StreamingOps.intervalJoinStream(
      purchases.toDF(), clicks.toDF(),
      windowSeconds = 3600L, latenessSeconds = 3600L)
    assert(batchOut.select("build_id").as[Long].collect().toSet
      === Set(1L, 2L))
    // batch cross-check vs the a02 operator on the same frames
    val a02 = graft.operators.AsOf.rangeCountJoin(
      purchases.toDF().select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us")),
      clicks.toDF().select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us")), 3600L * 1000000)
    assert(a02.filter(col("event_id") === 100).select("n_in_window")
      .as[Long].head() === 2L)

    // streaming run: same function, MemoryStream both sides
    implicit val sqlCtx = spark.sqlContext
    val cMem = MemoryStream[Ev]
    val pMem = MemoryStream[Ev]
    val q = StreamingOps.intervalJoinStream(pMem.toDF(), cMem.toDF(),
      windowSeconds = 3600L, latenessSeconds = 3600L)
      .writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try {
      cMem.addData(clicks: _*)
      pMem.addData(purchases: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT build_id FROM ivj").as[Long]
        .collect().toSet
      assert(got === Set(1L, 2L))
      // join state is watermarked on both sides (bounded)
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal >= 0))
    } finally q.stop()
  }

  test("intervalJoinOuterStream null-pads unmatched probes after the watermark") {
    val minNs = 60L * 1000 * 1000 * 1000
    val t0 = 24 * 60 * minNs
    val clicks = Seq(Ev(1, t0, 10), Ev(2, t0 + 30 * minNs, 10))
    val purchases = Seq(
      Ev(100, t0 + 60 * minNs, 10),  // 2 clicks in its look-back hour
      Ev(101, t0 + 60 * minNs, 12))  // no clicks at all
    // batch anchor: plain left join — nulls immediately
    val batch = StreamingOps.intervalJoinOuterStream(
      purchases.toDF(), clicks.toDF(), 3600L, 0L)
      .select("probe_id", "build_id").as[(Long, Option[Long])]
      .collect().toSet
    assert(batch === Set((100L, Some(1L)), (100L, Some(2L)),
      (101L, None)))

    // streaming: the unmatched probe is HELD until the watermark
    // proves no match can arrive, then emitted null-padded
    implicit val sqlCtx = spark.sqlContext
    val cMem = MemoryStream[Ev]
    val pMem = MemoryStream[Ev]
    val q = StreamingOps.intervalJoinOuterStream(pMem.toDF(), cMem.toDF(),
      windowSeconds = 3600L, latenessSeconds = 0L)
      .writeStream.format("memory").queryName("ivjo")
      .outputMode("append").start()
    try {
      cMem.addData(clicks: _*)
      pMem.addData(purchases: _*)
      q.processAllAvailable()
      // advance BOTH watermarks (global watermark = min) past the
      // probes' eviction point with one far-future event per side
      cMem.addData(Ev(900, t0 + 24 * 60 * minNs, 90))
      pMem.addData(Ev(901, t0 + 24 * 60 * minNs, 91))
      q.processAllAvailable()
      val got = spark.sql("SELECT probe_id, build_id FROM ivjo")
        .as[(Long, Option[Long])].collect().toSet
      assert(got.contains((100L, Some(1L))) && got.contains((100L, Some(2L))))
      assert(got.contains((101L, None)),
        "unmatched probe must surface null-padded after the watermark")
    } finally q.stop()
  }

  test("enrichStream: identical columns over batch and MemoryStream, " +
    "stateless broadcast join") {
    val dim = Seq((10L, "gold"), (11L, "basic")).toDF("cust_id", "tier")
    val rows = Seq(Ev(1, 0L, 10), Ev(2, 1L, 11), Ev(3, 2L, 99))
    val batch = StreamingOps.enrichStream(rows.toDF(), dim,
      "user_id", "cust_id")
      .select("event_id", "tier").as[(Long, String)].collect().toSet
    assert(batch === Set((1L, "gold"), (2L, "basic"))) // 99: no dim row

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.enrichStream(mem.toDF(), dim,
      "user_id", "cust_id")
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, tier FROM enrich")
        .as[(Long, String)].collect().toSet
      assert(got === batch)
      // stateless: a broadcast lookup keeps no state-store rows
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("dedupFirstBatch: (ts, event_id)-min per key, audit count, " +
    "tie on event_id") {
    val events = Seq(
      (1L, 5000L, 10L, "click", 1.0),
      (2L, 3000L, 10L, "click", 2.0), // earlier ts wins over event_id 1
      (3L, 3000L, 10L, "view", 3.0),
      (5L, 3000L, 11L, "view", 5.0),  // same ts as 6: lower id wins
      (6L, 3000L, 11L, "view", 6.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = StreamingOps.dedupFirstBatch(events)
      .as[(Long, String, Long, Long, Double, Long)].collect().toSet
    assert(got === Set(
      (10L, "click", 2L, 3L, 2.0, 2L),
      (10L, "view", 3L, 3L, 3.0, 1L),
      (11L, "view", 5L, 3L, 5.0, 2L)))
    // partitioning-independent: min_by is order-insensitive
    val rep = StreamingOps.dedupFirstBatch(events.repartition(7))
      .as[(Long, String, Long, Long, Double, Long)].collect().toSet
    assert(rep === got)
  }

  test("streamingDedupFirst keeps only the first row per key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = StreamingOps.streamingDedupFirst(mem.toDS())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData(("k1", 1L), ("k1", 2L), ("k2", 3L))
      q.processAllAvailable()
      mem.addData(("k1", 4L), ("k3", 5L)) // k1 already seen: dropped
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM dedup").as[(String, Long)]
        .collect().toSet
      assert(got === Set(("k1", 1L), ("k2", 3L), ("k3", 5L)))
    } finally q.stop()
  }

  test("streamingDedupFirst is provider-agnostic: RocksDB state store") {
    implicit val sqlCtx = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    // provider is read at query START, so a per-query override in a
    // shared session exercises RocksDB without rebuilding the session
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Long)]
      val q = StreamingOps.streamingDedupFirst(mem.toDS())
        .writeStream.format("memory").queryName("dedup_rocks")
        .outputMode("append").start()
      try {
        mem.addData(("k1", 1L), ("k1", 2L), ("k2", 3L))
        q.processAllAvailable()
        mem.addData(("k1", 4L), ("k3", 5L)) // state survives the batch
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.nonEmpty)
        val got = spark.sql("SELECT * FROM dedup_rocks")
          .as[(String, Long)].collect().toSet
        assert(got === Set(("k1", 1L), ("k2", 3L), ("k3", 5L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  test("resampleForwardFill: dense grid, gaps carry the last value") {
    val h = 3600000000L // 1 hour in µs
    def ns(hour: Long, off: Long) = (hour * h + off) * 1000L
    val events = Seq(
      // user 1: data in hour 0 (two events; later one wins) and
      // hour 3 — hours 1 and 2 are gaps that must carry 2.0
      (10L, ns(0, 5), 1L, "c", 1.0),
      (11L, ns(0, 9), 1L, "c", 2.0),
      (12L, ns(3, 1), 1L, "c", 9.0),
      // user 2: single bucket, no gaps
      (13L, ns(1, 0), 2L, "c", 7.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = StreamingOps.resampleForwardFill(events)
      .select(col("user_id"), col("bucket_start").cast("long"),
        col("n_events"), col("filled_value"))
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out === Array(
      (1L, 0L, 2L, 2.0), (1L, h / 1000000 * 1, 0L, 2.0),
      (1L, h / 1000000 * 2, 0L, 2.0), (1L, h / 1000000 * 3, 1L, 9.0),
      (2L, h / 1000000 * 1, 1L, 7.0)))
  }

  test("latenessProfile: lag behind the arrival-order high-water mark") {
    // arrival order = event_id; ts in ns, profile works in µs.
    // Event-time µs sequence: 100, 50, 200, 150, 30, 250.
    // Exclusive running max:   -1, 100, 100, 200, 200, 200.
    val events = Seq(
      (1L, 100L), (2L, 50L), (3L, 200L),
      (4L, 150L), (5L, 30L), (6L, 250L))
      .map { case (id, us) => (id, us * 1000L) }
      .toDF("event_id", "ts")
    val out = StreamingOps.latenessProfile(events, delayUs = 60L)
      .orderBy("event_id")
      .select(col("lateness_us"), col("is_late"))
      .as[(Long, Boolean)].collect()
    assert(out === Array((0L, false), (50L, false), (0L, false),
      (50L, false), (170L, true), (0L, false)))
  }

  test("latenessProfile: result independent of the partition count") {
    val events = table("events")
      .select(col("event_id"), col("ts"))
    def run(parts: Int) =
      StreamingOps.latenessProfile(events, 5000000L, parts)
        .select("event_id", "ts_us", "lateness_us", "is_late")
        .as[(Long, Long, Long, Boolean)].collect().sorted
    assert(run(1) === run(7))
  }

  test("streamingLatestWins: stream final state ≡ batch cdcSnapshot " +
    "≡ reversed-order sequential replay; late arrival counted, not won") {
    import StreamingOps.CdcRow
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      CdcRow(7L, 1000L, 1L, "signup", 1.0),
      CdcRow(7L, 2000L, 2L, "purchase", 2.0),
      CdcRow(7L, 2000L, 3L, "error", 3.0), // ts tie → event_id wins
      CdcRow(7L, 1500L, 4L, "late", 4.0),  // late arrival: bumps the
                                           // version, must not win
      CdcRow(8L, 5000L, 5L, "signup", 5.0))

    def streamFinal(batches: Seq[Seq[CdcRow]], name: String)
        : Set[(Long, Long, String, Double, Long, Long)] = {
      val mem = MemoryStream[CdcRow]
      val q = StreamingOps.streamingLatestWins(mem.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        // update mode appends one refreshed row per touched key per
        // batch; the final state is the highest-version row per key
        spark.sql(s"SELECT * FROM $name")
          .as[(Long, Long, String, Double, Long, Long)].collect()
          .groupBy(_._1).values.map(_.maxBy(_._5)).toSet
      } finally q.stop()
    }

    val streamed = streamFinal(
      Seq(Seq(evs(0), evs(1)), Seq(evs(2), evs(4)), Seq(evs(3))), "cdc_a")
    // one event per micro-batch, reversed arrival — same fixpoint
    val replayed = streamFinal(evs.reverse.map(Seq(_)), "cdc_b")
    assert(streamed === replayed)

    // batch anchor: cdcSnapshot over the same changes as an
    // events-shaped DataFrame (ns-long ts = 1000 × the µs values)
    val batchDf = evs.map(r =>
        (r.eventId, r.tsUs * 1000L, r.userId, r.eventType, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val anchor = graft.operators.Pipeline.cdcSnapshot(batchDf)
      .select("user_id", "event_id", "event_type", "value", "version",
        "valid_from_us")
      .as[(Long, Long, String, Double, Long, Long)].collect().toSet
    assert(streamed === anchor)
    // the winner under the tie is the higher event_id, not the late row
    assert(streamed.find(_._1 == 7L).get ===
      ((7L, 3L, "error", 3.0, 4L, 2000L)))
  }

  test("horizonDedupBatch: greedy horizon spacing, suppression does " +
    "not extend, keys independent; stream ≡ batch ≡ one-event replay") {
    import StreamingOps.HorizonEvent
    val H = 100L
    // user 7 / "a": t=0 kept; 50,100 suppressed (≤ 0+H); 101 kept
    // (re-arm); 150 suppressed — the window did NOT slide to 100+H;
    // 250 kept. user 7 / "b" and user 8 are independent keys.
    val evs = Seq(
      HorizonEvent(7L, "a", 0L, 1L, 1.0),
      HorizonEvent(7L, "a", 50L, 2L, 2.0),
      HorizonEvent(7L, "a", 100L, 3L, 3.0),
      HorizonEvent(7L, "a", 101L, 4L, 4.0),
      HorizonEvent(7L, "a", 150L, 5L, 5.0),
      HorizonEvent(7L, "a", 250L, 6L, 6.0),
      HorizonEvent(7L, "b", 50L, 7L, 7.0),
      HorizonEvent(8L, "a", 60L, 8L, 8.0))
    val expected = Set(1L, 4L, 6L, 7L, 8L)

    // batch anchor over an events-shaped frame (ns-long ts)
    val batchDf = evs.map(e =>
        (e.event_id, e.ts_us * 1000L, e.user_id, e.event_type, e.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = StreamingOps.horizonDedupBatch(batchDf, H)
      .select("event_id").as[Long].collect().toSet
    assert(batch === expected)

    // stream twin: event-time-ordered batches, then one-event-per-batch
    implicit val sqlCtx = spark.sqlContext
    def streamKept(batches: Seq[Seq[HorizonEvent]], name: String)
        : Set[Long] = {
      val mem = MemoryStream[HorizonEvent]
      val q = StreamingOps.streamingHorizonDedup(mem.toDS(), H)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.sql(s"SELECT event_id FROM $name").as[Long].collect().toSet
      } finally q.stop()
    }
    val ordered = evs.sortBy(e => (e.ts_us, e.event_id))
    assert(streamKept(Seq(ordered.take(4), ordered.drop(4)), "hz_a")
      === expected)
    assert(streamKept(ordered.map(Seq(_)), "hz_b") === expected)
  }

  test("streamingFunnel: stream final state ≡ batch eventFunnel ≡ " +
    "one-event replay; out-of-order purchase never converts") {
    import StreamingOps.FunnelEvent
    implicit val sqlCtx = spark.sqlContext
    // user 1: full ordered funnel; user 2: purchase precedes view →
    // stage 1; user 4: view+click → stage 2; user 5: click only,
    // never views → stage 0 (present in the STATE table, absent from
    // the a03 analytics frame)
    val evs = Seq(
      FunnelEvent(1L, "view", 10L, 1L), FunnelEvent(1L, "click", 20L, 2L),
      FunnelEvent(1L, "purchase", 30L, 3L),
      FunnelEvent(2L, "purchase", 5L, 4L), FunnelEvent(2L, "click", 8L, 6L),
      FunnelEvent(2L, "view", 10L, 5L),
      FunnelEvent(4L, "view", 10L, 9L), FunnelEvent(4L, "click", 15L, 10L),
      FunnelEvent(5L, "click", 7L, 11L))
    def streamFinal(batches: Seq[Seq[FunnelEvent]], name: String)
        : Map[Long, (Int, Long, Long, Long)] = {
      val mem = MemoryStream[FunnelEvent]
      val q = StreamingOps.streamingFunnel(mem.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.sql(s"SELECT * FROM $name")
          .as[(Long, Int, Long, Long, Long)].collect()
          .groupBy(_._1).view
          .mapValues(rows => {
            val r = rows.maxBy(_._2); (r._2, r._3, r._4, r._5)
          }).toMap
      } finally q.stop()
    }
    val ordered = evs.sortBy(e => (e.ts_us, e.event_id))
    val streamed = streamFinal(Seq(ordered.take(4), ordered.drop(4)), "fn_a")
    val replayed = streamFinal(ordered.map(Seq(_)), "fn_b")
    assert(streamed === replayed)
    // batch anchor over the events-shaped frame (ns-long ts)
    val batchDf = evs.map(e =>
        (e.event_id, e.ts_us * 1000L, e.user_id, e.event_type))
      .toDF("event_id", "ts", "user_id", "event_type")
    val anchor = graft.operators.AsOf.eventFunnel(batchDf)
      .as[(Long, Long, Option[Long], Option[Long], Long)].collect()
      .map(r => r._1 -> ((r._5.toInt, r._2, r._3.getOrElse(-1L),
        r._4.getOrElse(-1L)))).toMap
    // eventFunnel omits stage-0 users: the stream agrees on its keys
    assert(streamed.filter(_._2._1 > 0) === anchor)
    assert(streamed(2L) === ((1, 10L, -1L, -1L)))
    // the STATE-table anchor (st14's gated frame) matches the stream
    // on EVERY key, including the never-viewed stage-0 user
    val stateAnchor = StreamingOps.funnelStateBatch(batchDf)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2.toInt, r._3, r._4, r._5))).toMap
    assert(streamed === stateAnchor)
    assert(stateAnchor(5L) === ((0, -1L, -1L, -1L)))
  }

  test("horizonDedupBatch: ts tie keeps only the lower event_id; " +
    "boundary ts == kept + H is suppressed") {
    import StreamingOps.HorizonEvent
    val evs = Seq(
      HorizonEvent(1L, "x", 10L, 2L, 0.0),
      HorizonEvent(1L, "x", 10L, 1L, 0.0), // tie: id 1 first, keeps
      HorizonEvent(1L, "x", 110L, 3L, 0.0), // == 10 + H: suppressed
      HorizonEvent(1L, "x", 111L, 4L, 0.0)) // > 10 + H: kept
    val df = evs.map(e =>
        (e.event_id, e.ts_us * 1000L, e.user_id, e.event_type, e.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val kept = StreamingOps.horizonDedupBatch(df, 100L)
      .select("event_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
  }

  test("windowTopKBatch / streamingWindowTopK: stream final top-k ≡ " +
    "batch anchor ≡ one-event replay (counts commute)") {
    import StreamingOps.BucketEvent
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000000L
    // hour 0: a×3 b×2 c×1 d×1 → top3 (a,3)(b,2)(c,1); hour 1: b×2 a×1
    val evs = Seq(
      (0L, "a"), (0L, "a"), (0L, "a"), (0L, "b"), (0L, "b"),
      (0L, "c"), (0L, "d"), (1L, "b"), (1L, "b"), (1L, "a"))
      .map { case (wi, t) => BucketEvent(wi * H, t) }
    def streamFinal(batches: Seq[Seq[BucketEvent]], name: String)
        : Map[Long, Seq[(String, Long)]] = {
      val mem = MemoryStream[BucketEvent]
      val q = StreamingOps.streamingWindowTopK(mem.toDS(), 3)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        // per bucket, the final emission is the one with the largest
        // total count (totals grow strictly per emission)
        spark.sql(s"SELECT * FROM $name")
          .as[(Long, Seq[(String, Long)])].collect()
          .groupBy(_._1).view
          .mapValues(rows => rows.maxBy(_._2.map(_._2).sum)._2.toSeq)
          .toMap
      } finally q.stop()
    }
    val streamed = streamFinal(Seq(evs.take(5), evs.drop(5)), "tk_a")
    val replayed = streamFinal(evs.map(Seq(_)), "tk_b")
    assert(streamed === replayed)
    assert(streamed(0L) === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
    assert(streamed(H) === Seq(("b", 2L), ("a", 1L)))
    // batch anchor over an events-shaped frame (ns-long ts)
    val batchDf = evs.zipWithIndex.map { case (e, i) =>
        (i.toLong, e.bucket_us * 1000L, 1L, e.event_type) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val anchor = StreamingOps.windowTopKBatch(batchDf)
      .select(unix_micros(col("window_start")).as("b"),
        col("event_type"), col("n"), col("rank"))
      .as[(Long, String, Long, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    assert(anchor === streamed)
  }
}
