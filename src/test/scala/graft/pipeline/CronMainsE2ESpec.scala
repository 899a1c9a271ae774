package graft.pipeline

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util.zip.GZIPOutputStream
import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Round-15 (verdict ask 7): the three cron ENTRY POINTS — RunIngest,
  * RunSerialise, RunAggregate — driven end to end as binaries (their
  * main(args), including arg parsing, config resolution and batch-key
  * handling), not as library calls: a local HTTP server serves the
  * hourly dump fixture, RunIngest streams it to the bronze key layout,
  * RunSerialise parses bronze → silver parquet, RunAggregate rolls
  * silver → gold daily counts. The reference leaves its ingester
  * untested upstream (SURVEY.md §5); IngesterSpec covers the class,
  * this covers the cron surface.
  */
class CronMainsE2ESpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def gzipped(lines: Seq[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(lines.mkString("\n").getBytes("UTF-8"))
    gz.close()
    bos.toByteArray
  }

  test("RunIngest → RunSerialise → RunAggregate: fixture-served HTTP " +
      "dump through the three mains lands correct gold counts") {
    spark.sparkContext // ensure the shared session exists before the mains run
    val payload = gzipped(Seq(
      """{"id":1,"actor":{"id":101,"login":"user1","display_login":"User One"},"type":"PushEvent","repo":{"id":201,"name":"repo1","url":"https://github.com/user1/repo1"},"created_at":"2023-01-01 12:00:00"}""",
      """{"id":2,"actor":{"id":101,"login":"user1","display_login":"User One"},"type":"PushEvent","repo":{"id":201,"name":"repo1","url":"https://github.com/user1/repo1"},"created_at":"2023-01-01 13:00:00"}""",
      """{"id":3,"actor":{"id":102,"login":"user2","display_login":"User Two"},"type":"WatchEvent","repo":{"id":202,"name":"repo2","url":"https://github.com/user2/repo2"},"created_at":"2023-01-01 13:30:00"}""",
      "not json: the malformed line DROPMALFORMED must drop, not fail"))
    val requested = scala.collection.mutable.ArrayBuffer.empty[String]
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", ex => {
      requested.synchronized { requested += ex.getRequestURI.getPath }
      ex.sendResponseHeaders(200, payload.length)
      try ex.getResponseBody.write(payload) finally ex.close()
    })
    server.start()
    val root = Scratch.fresh("graft_cron_e2e").toString
    try {
      // hour 7 on 2023-01-01 — exercises the reference's unpadded-%-H
      // source URL vs zero-padded %H partition-path quirk end to end
      RunIngest.main(Array(
        "--lake-root", root,
        "--process-date", "2023-01-01T07:00",
        "--source-url", s"http://localhost:${server.getAddress.getPort}"))
      assert(requested.toSeq == Seq("/2023-01-01-7.json.gz"),
        s"source URL must use the UNPADDED hour (got $requested)")
      val bronzeFile = new java.io.File(
        s"$root/bronze/gharchive/events/2023-01-01/07/2023-01-01-7.json.gz")
      assert(bronzeFile.isFile, "bronze key layout: padded day/hour dirs")
      assert(bronzeFile.length() == payload.length.toLong)

      RunSerialise.main(Array(
        "--lake-root", root, "--process-date", "2023-01-01T07:00"))
      val silver = spark.read.parquet(
        s"$root/silver/gharchive/events/2023-01-01/07/clean_20230101_07.parquet")
      assert(silver.count() == 3, "malformed line dropped, 3 events kept")

      RunAggregate.main(Array(
        "--lake-root", root, "--process-date", "2023-01-01T00:00"))
      val gold = spark.read.parquet(
        s"$root/gold/gharchive/events/2023-01-01/agg_20230101.parquet")
      val byKey = gold.collect().map(r =>
        (r.getAs[String]("repo_name"), r.getAs[String]("event_type")) ->
          r.getAs[Long]("event_count")).toMap
      assert(byKey(("repo1", "PushEvent")) == 2L)
      assert(byKey(("repo2", "WatchEvent")) == 1L)
      // the shared session must survive the mains (they only stop a
      // session they themselves created)
      assert(!spark.sparkContext.isStopped,
        "mains must not stop a pre-existing host session")
    } finally server.stop(0)
  }
}
