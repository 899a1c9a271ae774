package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.LocalDateTime
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Bronze ingestion: HTTP download of one hourly GHArchive dump, streamed
  * to the lake path (reference: /root/reference/data_lake_ingester.py —
  * driver-side by design; ingestion predates the engine). The JDK
  * HttpClient streams the body straight into the Hadoop FS output stream,
  * unlike the reference's whole-body-in-RAM BytesIO
  * (data_lake_ingester.py:41-43) — same layout, bounded memory.
  */
class Ingester(
    config: LakeConfig,
    hadoopConf: Configuration = graft.core.NioLocal.hadoopConf(),
    sourceBaseUrl: String = "http://data.gharchive.org") {

  private val http = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  /** Download the hour's dump and store it under the bronze key layout.
    * Returns the sink path. Throws on any non-200 (fail fast; the
    * reference's entry point swallows errors and exits 0 — a wart we do
    * not copy, SURVEY.md §3.1).
    */
  def ingestHourlyGharchive(processDate: LocalDateTime): String = {
    val url = PathLayout.sourceUrl(processDate)
      .replace("http://data.gharchive.org", sourceBaseUrl)
    val fileName = PathLayout.extractFilename(url)
    val key = PathLayout.ingestKey(config.basePath, processDate, fileName)
    val sink = s"${config.bronzeRoot}/$key"
    val request = HttpRequest.newBuilder(URI.create(url)).GET().build()
    val response = http.send(request, HttpResponse.BodyHandlers.ofInputStream())
    if (response.statusCode() != 200)
      sys.error(s"GET $url failed: HTTP ${response.statusCode()}")
    val path = new Path(sink)
    val fs = path.getFileSystem(hadoopConf)
    val out = fs.create(path, true)
    // manual copy loop so transfer progress is observable (reference's
    // upload callback, data_lake_ingester.py:116-120) — still streaming,
    // still bounded memory
    try {
      // fresh hook per download: the hook carries a mutable high-water
      // mark, so sharing one across downloads would keep the second
      // transfer silent until it passed the first file's size
      val onProgress = Ingester.logEvery64MiB()
      val in = response.body()
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        total += n
        onProgress(total)
        n = in.read(buf)
      }
    } finally { out.close(); response.body().close() }
    sink
  }
}

object Ingester {
  /** Progress hook: one log line per 64 MiB transferred. */
  private def logEvery64MiB(): Long => Unit = {
    val step = 64L << 20
    var nextMark = step
    total => if (total >= nextMark) {
      println(s"ingest progress: ${total >> 20} MiB")
      nextMark = (total / step + 1) * step
    }
  }
}

/** Cron entry point (reference scripts/run_ingest_source_data.py).
  * `--source-url <base>` overrides the gharchive host — the operational
  * knob for mirrors, and what lets the e2e spec serve the dump from a
  * local fixture server.
  */
object RunIngest {
  def main(args: Array[String]): Unit = {
    val date = BatchKeys.parseArg(args, BatchKeys.previousHour())
    val base = args.sliding(2).collectFirst { case Array("--source-url", v) => v }
      .getOrElse("http://data.gharchive.org")
    val sink = new Ingester(ConfigFromArgs(args), sourceBaseUrl = base)
      .ingestHourlyGharchive(date)
    println(s"bronze written: $sink")
  }
}
