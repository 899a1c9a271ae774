package graft.pipeline

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.file.Files
import java.time.LocalDateTime
import java.util.zip.GZIPOutputStream
import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Scratch

/** Bronze ingestion (R1/R2) against a local HTTP server — covers what the
  * reference leaves untested: URL construction, streaming download, key
  * layout, and fail-fast on non-200.
  */
class IngesterSpec extends AnyFunSuite {

  private def gzBytes(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8")); gz.close()
    bos.toByteArray
  }

  test("ingest streams the hour file into the bronze key layout") {
    val body = gzBytes("""{"id":1}""")
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", { exchange =>
      if (exchange.getRequestURI.getPath == "/2023-01-01-7.json.gz") {
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
      } else exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.start()
    try {
      val root = Scratch.fresh("graft_ingest").toString
      val config = LakeConfig(s"$root/bronze", s"$root/silver", s"$root/gold")
      val ingester = new Ingester(config,
        sourceBaseUrl = s"http://localhost:${server.getAddress.getPort}")
      val sink = ingester.ingestHourlyGharchive(LocalDateTime.of(2023, 1, 1, 7, 0))
      assert(sink.endsWith(
        "bronze/gharchive/events/2023-01-01/07/2023-01-01-7.json.gz"))
      val written = Files.readAllBytes(java.nio.file.Paths.get(sink))
      assert(written.sameElements(body))
    } finally server.stop(0)
  }

  test("non-200 fails fast instead of exiting 0") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", { exchange =>
      exchange.sendResponseHeaders(503, -1); exchange.close()
    })
    server.start()
    try {
      val root = Scratch.fresh("graft_ingest2").toString
      val config = LakeConfig(s"$root/bronze", s"$root/silver", s"$root/gold")
      val ingester = new Ingester(config,
        sourceBaseUrl = s"http://localhost:${server.getAddress.getPort}")
      val e = intercept[RuntimeException] {
        ingester.ingestHourlyGharchive(LocalDateTime.of(2023, 1, 1, 7, 0))
      }
      assert(e.getMessage.contains("503"))
    } finally server.stop(0)
  }
}
