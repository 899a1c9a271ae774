package graft.pipeline

import java.nio.file.Files
import java.time.LocalDateTime
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Scratch

class ConfigAndKeysSpec extends AnyFunSuite {

  test("INI loader parses the reference config shape") {
    val ini = Scratch.fresh("graft_ini").resolve("config.ini")
    Files.writeString(ini,
      """[aws]
        |aws_access_key_id = AKIA123
        |aws_secret_access_key = secret
        |
        |[datalake]
        |bronze_bucket = my-bronze
        |silver_bucket = my-silver
        |gold_bucket = my-gold
        |""".stripMargin)
    val c = LakeConfig.fromIni(ini.toString)
    assert(c.bronzeRoot == "s3a://my-bronze")
    assert(c.silverRoot == "s3a://my-silver")
    assert(c.goldRoot == "s3a://my-gold")
  }

  test("INI loader fails fast on a missing key (reference swallows this)") {
    val ini = Scratch.fresh("graft_ini2").resolve("config.ini")
    Files.writeString(ini, "[datalake]\nbronze_bucket = only-one\n")
    val e = intercept[RuntimeException](LakeConfig.fromIni(ini.toString))
    assert(e.getMessage.contains("silver_bucket"))
  }

  test("batch keys mirror the reference cron arithmetic") {
    val now = LocalDateTime.of(2023, 6, 15, 14, 37, 22)
    assert(BatchKeys.previousHour(now) == LocalDateTime.of(2023, 6, 15, 13, 0))
    assert(BatchKeys.previousMidnight(now) == LocalDateTime.of(2023, 6, 14, 0, 0))
  }

  test("--process-date beats the wall-clock default") {
    val got = BatchKeys.parseArg(
      Array("--other", "x", "--process-date", "2023-01-01T07:00"),
      sys.error("default must not be evaluated"))
    assert(got == LocalDateTime.of(2023, 1, 1, 7, 0))
    val dflt = BatchKeys.parseArg(Array(), LocalDateTime.of(2020, 1, 1, 0, 0))
    assert(dflt == LocalDateTime.of(2020, 1, 1, 0, 0))
  }
}
