package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

/** Live JSON-RPC node client (SURVEY.md §2.1 S1-S3; reference
  * client.py:13-82): POST {"method", "jsonrpc":"2.0", "id", "params"}
  * to the node, unwrap `result`; error code −100 means "block/txn not
  * available" and surfaces as None (client.py:77-80), any other error
  * throws. The HTTP transport is injectable so specs can run against
  * an in-process stub server — or fail deterministically.
  *
  * The stream source uses it on both sides: the driver probes the tip
  * (`block_height`) on every trigger, and every executor-side
  * [[HeliumBlockPartitionReader]] builds its own client for the
  * block_get / transaction_get fetches of its height slice.
  */
final class JsonRpcClient(endpoint: String,
                          post: (String, String) => String =
                            JsonRpcClient.httpPost) {
  private val mapper = new ObjectMapper
  private var nextId = 0L

  /** One RPC round-trip → Some(result JSON subtree) | None (−100). */
  def call(method: String, params: Map[String, Any]): Option[String] = {
    val body = mapper.createObjectNode()
    body.put("method", method)
    body.put("jsonrpc", "2.0")
    nextId += 1
    body.put("id", nextId)
    if (params.nonEmpty) {
      val p = body.putObject("params")
      params.foreach {
        case (k, v: Long)   => p.put(k, v)
        case (k, v: Int)    => p.put(k, v.toLong)
        case (k, v: String) => p.put(k, v)
        case (k, v)         => p.put(k, String.valueOf(v))
      }
    }
    val resp = mapper.readTree(post(endpoint, mapper.writeValueAsString(body)))
    val result = resp.get("result")
    if (result != null) Some(mapper.writeValueAsString(result))
    else {
      val err = resp.get("error")
      if (err != null && err.get("code") != null &&
        err.get("code").asInt() == -100) None // missing (client.py:78-79)
      else sys.error(s"rpc $method failed: $resp")
    }
  }

  /** S3 (client.py:22-23): chain tip. */
  def height(): Long = {
    val r = call("block_height", Map.empty)
      .getOrElse(sys.error("block_height returned no result"))
    mapper.readTree(r).asLong()
  }

  /** S1 (client.py:25-36): raw block JSON by height; None if missing. */
  def blockGet(height: Long): Option[String] =
    call("block_get", Map("height" -> height))

  /** S2 (client.py:39-51): raw txn payload JSON by hash. Type dispatch
    * happens downstream via schema-on-read (HeliumGraph P1), not here.
    */
  def transactionGet(hash: String): Option[String] =
    call("transaction_get", Map("hash" -> hash))
}

object JsonRpcClient {
  /** Default transport: JDK HttpClient, synchronous POST. */
  def httpPost(endpoint: String, body: String): String = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }
}
