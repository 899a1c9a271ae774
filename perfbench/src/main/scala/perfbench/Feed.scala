package perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import com.sun.net.httpserver.HttpServer

/** A local stand-in for data.gharchive.org: serves the generated hourly
  * files by name over HTTP, so the Ingester downloads them as in production.
  */
final class Feed(dir: Path) extends AutoCloseable {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", exchange => {
    val file = dir.resolve(exchange.getRequestURI.getPath.stripPrefix("/"))
    try {
      if (Files.isRegularFile(file)) {
        exchange.sendResponseHeaders(200, Files.size(file))
        val out = exchange.getResponseBody
        try Files.copy(file, out) finally out.close()
      } else exchange.sendResponseHeaders(404, -1)
    } finally exchange.close()
  })
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def close(): Unit = server.stop(0)
}
