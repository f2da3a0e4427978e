package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Data Export API serving pre-generated gzipped JSON bundles
  * from memory. It speaks the four calls of the live protocol (create,
  * poll, results, signed-location download). Every poll answers COMPLETED,
  * so the service never sleeps. The server runs on one dispatcher thread,
  * like a single remote endpoint, and counts requests and bytes served. */
final class StubApi(bundles: Map[(Instant, Instant), Array[Byte]]) {
  private val server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
  private val mapper = new ObjectMapper()
  private val ops = scala.collection.mutable.Map[String, (Instant, Instant)]()
  private var nextOp = 0L

  @volatile var requests = 0L
  @volatile var bytesServed = 0L

  def url: String = s"http://localhost:${server.getAddress.getPort}"

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    requests += 1
    bytesServed += body.length
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  private def json(ex: HttpExchange, s: String): Unit =
    respond(ex, 200, s.getBytes(UTF_8))

  server.createContext("/segments/v1/exports", (ex: HttpExchange) => {
    val req = mapper.readTree(ex.getRequestBody.readAllBytes())
    val range = (Instant.parse(req.path("timeRange").path("start").asText()),
      Instant.parse(req.path("timeRange").path("end").asText()))
    nextOp += 1
    val id = s"op-$nextOp"
    ops(id) = range
    json(ex, s"""{"operationId":"$id"}""")
  })

  server.createContext("/operations/v1/", (ex: HttpExchange) => {
    val id = ex.getRequestURI.getPath.stripPrefix("/operations/v1/")
    if (!ops.contains(id)) respond(ex, 404, Array.emptyByteArray)
    else json(ex, s"""{"type":"SEARCH_EXPORT","state":"COMPLETED",""" +
      s""""estimatePctComplete":100,"results":{"searchExportId":"$id"}}""")
  })

  server.createContext("/search/v1/exports/", (ex: HttpExchange) => {
    val id = ex.getRequestURI.getPath
      .stripPrefix("/search/v1/exports/").stripSuffix("/results")
    json(ex, s"""{"location":"$url/dl/$id"}""")
  })

  server.createContext("/dl/", (ex: HttpExchange) => {
    val id = ex.getRequestURI.getPath.stripPrefix("/dl/")
    ops.get(id).flatMap(bundles.get) match {
      case Some(gz) => respond(ex, 200, gz)
      case None => respond(ex, 404, Array.emptyByteArray)
    }
  })

  server.start()

  def stop(): Unit = server.stop(0)
}
