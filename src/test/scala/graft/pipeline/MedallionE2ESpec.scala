package graft.pipeline

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.time.LocalDateTime
import java.util.zip.GZIPOutputStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** End-to-end medallion smoke (SURVEY.md §5 t1): gzipped JSON-lines bronze
  * fixture (with one malformed line → DROPMALFORMED) → silver → gold.
  */
class MedallionE2ESpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bronze json.gz → silver parquet → gold parquet") {
    val root = Scratch.fresh("graft_lake").toString
    val config = LakeConfig(s"$root/bronze", s"$root/silver", s"$root/gold")
    val date = LocalDateTime.of(2023, 1, 1, 7, 0)

    // bronze fixture at the exact ingest layout (FIXTURES.md A3)
    val bronzeDir = new java.io.File(
      s"${config.bronzeRoot}/${config.basePath}/2023-01-01/07")
    bronzeDir.mkdirs()
    val gz = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
      new FileOutputStream(s"$bronzeDir/2023-01-01-7.json.gz")), "UTF-8"))
    gz.write("""{"id":1,"actor":{"id":101,"login":"user1","display_login":"User One"},"type":"PushEvent","repo":{"id":201,"name":"repo1","url":"https://github.com/user1/repo1"},"created_at":"2023-01-01 12:00:00"}""")
    gz.newLine()
    gz.write("""{"id":2,"actor":{"id":101,"login":"user1","display_login":"User One"},"type":"PushEvent","repo":{"id":201,"name":"repo1","url":"https://github.com/user1/repo1"},"created_at":"2023-01-01 13:00:00"}""")
    gz.newLine()
    gz.write("this line is not json and must be dropped, not fail the job")
    gz.newLine()
    gz.close()

    val medallion = new Medallion(spark, config)
    val silverPath = medallion.serialiseRawData(date)
    val silver = spark.read.parquet(silverPath)
    assert(silver.count() == 2) // malformed line dropped
    assert(silver.columns.head == "event_id")

    val goldPath = medallion.aggregateSilverData(date)
    val gold = spark.read.parquet(goldPath)
    val rows = gold.collect()
    assert(rows.length == 1) // same repo+type+day collapses
    assert(rows(0).getLong(5) == 2L)
  }
}
