package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Helium node stub, run as its own process: serves a [[ChainGen]]
  * chain over the reference JSON-RPC protocol (result unwrap, error
  * -100 for a missing block or transaction) and acknowledges
  * ArangoDB-style bulk imports.
  *
  *   POST /                  block_height | block_get | transaction_get
  *   POST /_db/<db>/_api/import?collection=<c>   counted, body dropped
  *   POST /control/tip       body = new tip height
  *   GET  /control/stats     counters since the last reset, as JSON
  *   POST /control/reset     zero the counters
  *
  * It exits when its standard input closes, that is, with its parent.
  * Requests run on a fixed pool, so the stub never grows threads with
  * the follower's fan-out.
  */
final class StubNode(seed: Long, initialTip: Long) {
  private val gen = new ChainGen(seed)
  private val mapper = new ObjectMapper
  private val json = new JsonFactory
  val tip = new AtomicLong(initialTip)

  private final class Counter {
    val requests = new LongAdder
    val errors = new LongAdder
    val busyNs = new LongAdder
  }
  private val methods = Seq("block_height", "block_get",
    "transaction_get", "import", "other")
  private var counters: Map[String, Counter] = fresh()
  private var servedHashes = ConcurrentHashMap.newKeySet[String]()
  private var importDocs = new ConcurrentHashMap[String, LongAdder]()
  /** Import documents per collection since start; never reset. */
  private val importDocsTotal = new ConcurrentHashMap[String, LongAdder]()
  private val firstFetchNs = new AtomicLong(Long.MaxValue)
  private val lastFetchNs = new AtomicLong(Long.MinValue)
  private def fresh() = methods.map(_ -> new Counter).toMap

  def reset(): Unit = synchronized {
    counters = fresh()
    servedHashes = ConcurrentHashMap.newKeySet[String]()
    importDocs = new ConcurrentHashMap[String, LongAdder]()
    firstFetchNs.set(Long.MaxValue); lastFetchNs.set(Long.MinValue)
  }

  def stats(): String = synchronized {
    val m = mapper.createObjectNode()
    counters.foreach { case (k, c) =>
      val o = m.putObject(k)
      o.put("requests", c.requests.sum())
      o.put("errors", c.errors.sum())
      o.put("busy_ms", c.busyNs.sum() / 1e6)
    }
    m.put("distinct_txns_served", servedHashes.size.toLong)
    val d = m.putObject("import_docs")
    importDocs.forEach((k, v) => d.put(k, v.sum()))
    val dt = m.putObject("import_docs_total")
    importDocsTotal.forEach((k, v) => dt.put(k, v.sum()))
    val first = firstFetchNs.get(); val last = lastFetchNs.get()
    m.put("fetch_window_ms", if (last >= first) (last - first) / 1e6 else 0.0)
    m.put("tip", tip.get())
    mapper.writeValueAsString(m)
  }

  /** Documents in an importBulk JSON array, counted without keeping it. */
  private def countDocs(body: Array[Byte]): Long = {
    val p = json.createParser(body)
    try {
      var depth = 0; var n = 0L
      var t = p.nextToken()
      while (t != null) {
        t match {
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
            if (depth == 1 && t == JsonToken.START_OBJECT) n += 1
            depth += 1
          case JsonToken.END_OBJECT | JsonToken.END_ARRAY => depth -= 1
          case _ =>
        }
        t = p.nextToken()
      }
      n
    } finally p.close()
  }

  private def rpc(raw: Array[Byte]): (String, Either[Int, String]) = {
    val req = mapper.readTree(raw)
    val method = req.get("method").asText()
    val params = req.get("params")
    method match {
      case "block_height" => method -> Right(tip.get().toString)
      case "block_get" =>
        val h = params.get("height").asLong()
        method -> (if (h >= 1 && h <= tip.get()) Right(gen.blockJson(h))
                   else Left(-100))
      case "transaction_get" =>
        val hash = params.get("hash").asText()
        val r = gen.payloadFor(hash)
          .filter(_ => hash.takeWhile(_ != 'x').toLong <= tip.get())
        r.foreach(_ => servedHashes.add(hash))
        method -> r.toRight(-100)
      case _ => "other" -> Left(-32601)
    }
  }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val raw = ex.getRequestBody.readAllBytes()
    val path = ex.getRequestURI.getPath
    if (path.startsWith("/control/")) {
      path match {
        case "/control/tip" =>
          tip.set(new String(raw, StandardCharsets.UTF_8).trim.toLong)
          reply(ex, 200, tip.get().toString)
        case "/control/stats" => reply(ex, 200, stats())
        case "/control/reset" => reset(); reply(ex, 200, "{}")
        case _ => reply(ex, 404, "{}")
      }
      return
    }
    if (path.startsWith("/_db/")) {
      val c = counters("import")
      val coll = Option(ex.getRequestURI.getQuery).toSeq
        .flatMap(_.split('&')).find(_.startsWith("collection="))
        .map(_.stripPrefix("collection=")).getOrElse("?")
      val n = countDocs(raw)
      importDocs.computeIfAbsent(coll, _ => new LongAdder).add(n)
      importDocsTotal.computeIfAbsent(coll, _ => new LongAdder).add(n)
      // count before replying, so a client that reads /control/stats
      // right after its last response sees that request
      c.requests.increment()
      reply(ex, 201, s"""{"error":false,"created":$n}""")
      c.busyNs.add(System.nanoTime() - t0)
      return
    }
    val (method, result) =
      try rpc(raw) catch { case _: Exception => "other" -> Left(-32700) }
    val body = result match {
      case Right(r) => s"""{"jsonrpc":"2.0","id":0,"result":$r}"""
      case Left(code) =>
        s"""{"jsonrpc":"2.0","id":0,"error":{"code":$code,"message":"not found"}}"""
    }
    val c = counters(method)
    c.requests.increment()
    if (result.isLeft) c.errors.increment()
    if (method == "block_get" || method == "transaction_get") {
      firstFetchNs.accumulateAndGet(t0, math.min)
      lastFetchNs.accumulateAndGet(System.nanoTime(), math.max)
    }
    reply(ex, 200, body)
    c.busyNs.add(System.nanoTime() - t0)
  }
}

object StubNode {
  /** `StubNode <seed> <tip> <threads> <port-file>`: serves on an
    * ephemeral localhost port, written to <port-file> once listening.
    */
  def main(args: Array[String]): Unit = {
    val Array(seed, tip, threads, portFile) = args
    val node = new StubNode(seed.toLong, tip.toLong)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
    server.createContext("/", ex =>
      try node.handle(ex)
      catch { case e: Exception =>
        System.err.println(s"stub: ${e.getMessage}"); ex.close() })
    server.setExecutor(Executors.newFixedThreadPool(threads.toInt))
    server.start()
    val tmp = Paths.get(portFile + ".tmp")
    Files.writeString(tmp, server.getAddress.getPort.toString)
    Files.move(tmp, Paths.get(portFile))
    while (System.in.read() >= 0) {}
    sys.exit(0)
  }
}
