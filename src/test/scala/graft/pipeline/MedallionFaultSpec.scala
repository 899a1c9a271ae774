package graft.pipeline

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Fault injection on the medallion sinks: a silver or gold rerun that
  * fails midway leaves the previous output byte-identical and no staging
  * dir beside it, and the rerun after the fault is cleared reproduces the
  * first run. One lake, the gzipped bronze shape of MedallionE2ESpec; the
  * tests run in order and share it.
  */
class MedallionFaultSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val root = Scratch.fresh("graft_fault").toString
  private lazy val config =
    LakeConfig(s"$root/bronze", s"$root/silver", s"$root/gold")
  private lazy val medallion = new Medallion(spark, config)
  private val date = LocalDateTime.of(2023, 1, 1, 7, 0)
  private lazy val bronze = Paths.get(
    s"${config.bronzeRoot}/${config.basePath}/2023-01-01/07/2023-01-01-7.json.gz")
  private lazy val badSilver = Paths.get(
    s"${config.silverRoot}/${config.basePath}/2023-01-01/23/bad.parquet")

  /** 300 events over 3 types and 10 repos in hour 07, gzipped. */
  private lazy val goodBronze: Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(buf)
    for (i <- 0 until 300) {
      val (r, t) = (i % 10, Seq("PushEvent", "WatchEvent", "ForkEvent")(i % 3))
      gz.write((s"""{"id":$i,"actor":{"id":${100 + i % 7},"login":"u${i % 7}",""" +
        s""""display_login":"U${i % 7}"},"type":"$t","repo":{"id":$r,""" +
        s""""name":"repo$r","url":"https://github.com/o/repo$r"},""" +
        f""""created_at":"2023-01-01 07:${i % 60}%02d:00"}""" + "\n")
        .getBytes("UTF-8"))
    }
    gz.close()
    buf.toByteArray
  }

  private case class Run(silver: String, gold: String,
      silverRows: Seq[String], goldRows: Seq[String])

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  /** Every file in a sink dir: name -> bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] =
    new File(dir).listFiles().map(f =>
      f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  /** Neither the staging dir nor the swap's backup is left beside `sink`. */
  private def assertNoStaging(sink: String): Unit = {
    val siblings = new File(sink).getParentFile.list().toSeq
    assert(!siblings.exists(n =>
      n.endsWith("__rewrite_tmp") || n.endsWith("__rewrite_old")), siblings)
  }

  private lazy val firstRun: Run = {
    Files.createDirectories(bronze.getParent)
    Files.write(bronze, goodBronze)
    val silver = medallion.serialiseRawData(date)
    val gold = medallion.aggregateSilverData(date)
    Run(silver, gold, rows(silver), rows(gold))
  }

  test("a silver rerun over a truncated bronze file keeps the previous hour") {
    val before = snapshot(firstRun.silver)
    assert(firstRun.silverRows.size == 300)
    Files.write(bronze, goodBronze.take(goodBronze.length / 2))
    intercept[Exception](medallion.serialiseRawData(date))
    assert(snapshot(firstRun.silver) == before)
    assertNoStaging(firstRun.silver)
    val gold = spark.read.parquet(medallion.aggregateSilverData(date))
    assert(gold.agg(sum("event_count")).head.getLong(0) == 300L)
  }

  test("a gold rerun over a corrupt silver file keeps the previous day") {
    val before = snapshot(firstRun.gold)
    Files.createDirectories(badSilver.getParent)
    Files.writeString(badSilver, "this is not a parquet file")
    intercept[Exception](medallion.aggregateSilverData(date))
    assert(snapshot(firstRun.gold) == before)
    assertNoStaging(firstRun.gold)
  }

  test("reruns after the faults are cleared reproduce the first run") {
    val first = firstRun
    Files.write(bronze, goodBronze)
    Files.deleteIfExists(badSilver)
    val silver = medallion.serialiseRawData(date)
    val gold = medallion.aggregateSilverData(date)
    assert(rows(silver) == first.silverRows)
    assert(rows(gold) == first.goldRows)
    Seq(silver, gold).foreach(assertNoStaging)
  }
}
