package perfbench

/** Seeded synthetic Helium chain. Every block is a pure function of
  * (seed, height), so the node stub serves any height without holding
  * the chain, and the benchmark recomputes what a height must commit.
  *
  * Shape:
  *  - a heavy-tailed number of transactions per block (Pareto, mean
  *    about 16, capped at 160);
  *  - all reference types, including `add_gateway_v1`, which the
  *    follower does not dispatch;
  *  - Zipf-skewed payer, payee, challengee and witness keys, so a few
  *    accounts and hotspots are hubs;
  *  - `payment_v2` legs that repeat inside one transaction (the
  *    content key collapses them) and PoC paths whose receipt is null.
  *
  * Only that qualitative shape is specified. The numbers are not
  * measured on a real chain and come from no cited source: the type mix
  * (30/25/20/17/8% payment_v1/v2, poc_receipts_v1/v2, add_gateway_v1),
  * the Pareto block size (x_min 6, alpha 1.6, cap 160), the Zipf keys
  * (s 1.1 over 4000 accounts, 1.05 over 2500 hotspots), 0-8 witnesses
  * and 30% null receipts. They are placeholders until a recorded chain
  * sample is in the repository, so where the follower spends its time on
  * this chain need not match where it spends it on a real one.
  */
final class ChainGen(seed: Long) {
  import ChainGen._

  private val accounts = new Zipf(4000, 1.1)
  private val hotspots = new Zipf(2500, 1.05)

  def blockTime(height: Long): Long = Genesis + height * 60L

  /** The block listing as block_get returns it. */
  def blockJson(height: Long): String = {
    val b = new StringBuilder(64 + 60 * 16)
    b ++= s"""{"hash":"${blockHash(height)}","height":$height,"""
    b ++= s""""prev_hash":"${blockHash(height - 1)}","time":${blockTime(height)},"transactions":["""
    var i = 0
    val n = txnCount(height)
    while (i < n) {
      if (i > 0) b += ','
      b ++= s"""{"hash":"${txnHash(height, i)}","type":"${txnType(height, i)}"}"""
      i += 1
    }
    b ++= "]}"
    b.toString
  }

  def txnCount(height: Long): Int = {
    val r = new SplitMix(mix(seed, height, -1L))
    val u = 1.0 - r.nextDouble()
    math.min(160, (6.0 / math.pow(u, 1.0 / 1.6)).toInt)
  }

  def txnHash(height: Long, i: Int): String =
    f"$height%dx$i%dx${mix(seed, height, i.toLong) & 0xffffffffL}%08x"

  def txnType(height: Long, i: Int): String = {
    val u = new SplitMix(mix(seed, height, i.toLong)).nextDouble()
    if (u < 0.30) "payment_v1"
    else if (u < 0.55) "payment_v2"
    else if (u < 0.75) "poc_receipts_v1"
    else if (u < 0.92) "poc_receipts_v2"
    else "add_gateway_v1"
  }

  /** transaction_get for a listed hash, None for an unknown one. */
  def payloadFor(hash: String): Option[String] = hash.split('x') match {
    case Array(h, i, _) if h.forall(_.isDigit) && i.forall(_.isDigit) &&
        h.nonEmpty && i.nonEmpty && h.length < 16 && i.length < 6 =>
      val height = h.toLong
      val idx = i.toInt
      if (height >= 1 && idx < txnCount(height) &&
        txnHash(height, idx) == hash) Some(txn(height, idx).payload)
      else None
    case _ => None
  }

  /** One transaction: its payload and the documents it must commit. */
  def txn(height: Long, i: Int): Txn = {
    val hash = txnHash(height, i)
    val tpe = txnType(height, i)
    // the type draw used this stream's first value; skip it
    val r = new SplitMix(mix(seed, height, i.toLong)); r.nextDouble()
    val t = blockTime(height)
    tpe match {
      case "payment_v1" =>
        val payer = acct(r); val payee = acct(r)
        val amount = 1L + r.nextInt(1000000)
        Txn(tpe,
          s"""{"hash":"$hash","amount":$amount,"fee":${r.nextInt(50)},""" +
            s""""nonce":${r.nextInt(1000)},"payer":"$payer","payee":"$payee"}""",
          Set(PayEdge(payer, payee, hash, amount, height, t)),
          Set.empty, Set(payer, payee))
      case "payment_v2" =>
        val payer = acct(r)
        val n = 1 + r.nextInt(5)
        val legs = (0 until n).map { _ =>
          (acct(r), 1L + r.nextInt(100000),
            if (r.nextInt(3) == 0) None else Some(s"m${r.nextInt(100)}"))
        }
        // a repeated leg inside one payment: same payee and amount
        val all = if (r.nextInt(4) == 0) legs :+ legs.head else legs
        val body = all.map { case (payee, amount, memo) =>
          s"""{"amount":$amount,"memo":${memo.fold("null")(m => s""""$m"""")},"payee":"$payee"}"""
        }.mkString(",")
        Txn(tpe,
          s"""{"hash":"$hash","fee":${r.nextInt(50)},"nonce":${r.nextInt(1000)},""" +
            s""""payer":"$payer","payments":[$body]}""",
          all.map { case (payee, amount, _) =>
            PayEdge(payer, payee, hash, amount, height, t) }.toSet,
          Set.empty, Set(payer) ++ all.map(_._1))
      case "poc_receipts_v1" | "poc_receipts_v2" =>
        val v2 = tpe.endsWith("v2")
        val pathLen = 1 + r.nextInt(3)
        val edges = Set.newBuilder[RcptEdge]
        val path = (0 until pathLen).map { p =>
          val challengee = hot(r)
          val tsBase = t * 1000000000L + p * 10000000L
          val receipt =
            if (r.nextInt(10) < 3) "null"
            else s"""{"channel":${r.nextInt(8)},"data":"d${r.nextInt(99)}",""" +
              s""""datarate":${if (r.nextInt(5) == 0) "null" else "\"SF9BW125\""},""" +
              s""""frequency":${freq(r)},"gateway":"$challengee","origin":"p2p",""" +
              s""""signal":${-60 - r.nextInt(60)},"snr":${snr(r)},""" +
              s""""timestamp":${tsBase + r.nextInt(1000)},""" +
              s""""tx_power":${if (r.nextInt(6) == 0) "null" else (10 + r.nextInt(20)).toString}}"""
          val nw = r.nextInt(9)
          val ws = (0 until nw).map { w =>
            val gw = hot(r)
            val ts = tsBase + 1000000L + w * 1000L + r.nextInt(1000)
            if (p == 0) edges += RcptEdge(challengee, gw, hash, height, ts)
            val valid = r.nextInt(4) match {
              case 0 => "null"; case 1 => "false"; case _ => "true" }
            s"""{"channel":${r.nextInt(8)},"datarate":"SF10BW125","frequency":${freq(r)},""" +
              s""""gateway":"$gw","is_valid":$valid,"packet_hash":"ph${r.nextInt(9999)}",""" +
              s""""signal":${-70 - r.nextInt(60)},"snr":${snr(r)},"timestamp":$ts""" +
              (if (v2) s""","invalid_reason":${if (valid == "false") "\"too_far\"" else "null"}}"""
              else "}")
          }.mkString(",")
          s"""{"challengee":"$challengee","receipt":$receipt,"witnesses":[$ws]}"""
        }.mkString(",")
        val head = if (v2) "" else s""""hash":"$hash","""
        Txn(tpe,
          s"""{$head"challenger":"${hot(r)}","fee":0,"onion_key_hash":"ok${r.nextInt(9999)}",""" +
            s""""path":[$path],"request_block_hash":${if (v2) "null" else s""""rb$height""""},""" +
            s""""secret":"s${r.nextInt(9999)}"}""",
          Set.empty, edges.result(), Set.empty)
      case _ =>
        Txn(tpe,
          s"""{"hash":"$hash","gateway":"${hot(r)}","owner":"${acct(r)}",""" +
            s""""payer":${if (r.nextInt(2) == 0) "null" else s""""${acct(r)}""""},""" +
            s""""staking_fee":40000}""",
          Set.empty, Set.empty, Set.empty)
    }
  }

  private def acct(r: SplitMix): String = f"acct${accounts.sample(r)}%05d"
  private def hot(r: SplitMix): String = f"hs${hotspots.sample(r)}%05d"
  private def freq(r: SplitMix): String = s"90${r.nextInt(10)}.${r.nextInt(10)}"
  private def snr(r: SplitMix): String = s"${r.nextInt(40) - 20}.${r.nextInt(4) * 25}"

  private def blockHash(height: Long): String =
    f"bh$height%d${mix(seed, height, -2L) & 0xffffffL}%06x"

  /** What the heights (lo, hi] must commit, per collection, as the
    * identity tuples the content keys hash (distinct tuples = distinct
    * `_key`s).
    */
  def expected(lo: Long, hi: Long): Expected = {
    val pay = Map.newBuilder[Long, Int]
    val rcp = Map.newBuilder[Long, Int]
    val accts = scala.collection.mutable.HashSet.empty[String]
    var h = lo + 1
    while (h <= hi) {
      val txns = (0 until txnCount(h)).map(txn(h, _))
      val p = txns.iterator.flatMap(_.payments).toSet.size
      val e = txns.iterator.flatMap(_.receipts).toSet.size
      if (p > 0) pay += h -> p
      if (e > 0) rcp += h -> e
      txns.foreach(accts ++= _.accounts)
      h += 1
    }
    Expected(pay.result(), rcp.result(), accts.size)
  }
}

object ChainGen {
  val Genesis = 1700000000L

  final case class PayEdge(payer: String, payee: String, hash: String,
                           amount: Long, block: Long, time: Long)
  final case class RcptEdge(challengee: String, gateway: String,
                            hash: String, block: Long, ts: Long)
  final case class Txn(tpe: String, payload: String,
                       payments: Set[PayEdge], receipts: Set[RcptEdge],
                       accounts: Set[String])
  /** Per-height distinct payment and receipt keys, and distinct accounts. */
  final case class Expected(payments: Map[Long, Int],
                            receipts: Map[Long, Int], accounts: Int)

  def mix(seed: Long, a: Long, b: Long): Long =
    SplitMix.stafford(seed * 0x9E3779B97F4A7C15L + SplitMix.stafford(
      a * 0xBF58476D1CE4E5B9L + SplitMix.stafford(b + 0x632BE59BD9B4E019L)))

  /** SplitMix64: fixed algorithm, so a seed means the same chain on
    * every JVM.
    */
  final class SplitMix(private var state: Long) {
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; SplitMix.stafford(state) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  }
  object SplitMix {
    def stafford(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  /** Zipf(n, s) over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplitMix): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
