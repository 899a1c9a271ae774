package graft.llmops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class BitextSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("mining recovers every planted pair and rejects every unaligned source") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val out = Bitext.xBitextMine.build(spark, dir)
        .as[(Long, Long, Long)].collect()
      val n = graft.core.Tables(spark, dir, "embeddings").count()
      // recall 1: every even source mined to its planted target
      assert(out.length == n / 2, s"$dir: mined ${out.length} of ${n / 2}")
      out.foreach { case (src, tgt, m) =>
        assert(src % 2 == 0, s"$dir: unaligned source $src mined (margin $m)")
        assert(src == tgt, s"$dir: source $src mined to $tgt")
        assert(m >= Bitext.MARGIN_TH)
      }
      info(s"$dir: ${out.length} pairs, margins " +
        s"${out.map(_._3).min}..${out.map(_._3).max}")
    }
  }

  test("margin separation: the threshold sits in a measured dead zone") {
    val dir = "/root/testdata/sf0.01"
    val (g, _) = Bitext.grid(spark, dir)
    val fwd = g.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src_id"))
          .orderBy(col("cos_fix").desc, col("tgt_id"))))
      .filter(col("rn") <= Bitext.K)
      .groupBy(col("src_id")).agg(sum(col("cos_fix")).as("kf"))
    val bwd = g.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("tgt_id"))
          .orderBy(col("cos_fix").desc, col("src_id"))))
      .filter(col("rn") <= Bitext.K)
      .groupBy(col("tgt_id")).agg(sum(col("cos_fix")).as("kb"))
    val best = g.join(fwd, "src_id").join(bwd, "tgt_id")
      .select(col("src_id"),
        expr(s"(2 * ${Bitext.K} * ${Bitext.SCALE} * cos_fix) div (kf + kb)")
          .as("m"))
      .groupBy(col("src_id")).agg(max(col("m")).as("best"))
      .as[(Long, Long)].collect()
    val aligned = best.filter(_._1 % 2 == 0).map(_._2)
    val unaligned = best.filter(_._1 % 2 == 1).map(_._2)
    assert(aligned.min > Bitext.MARGIN_TH, s"aligned min ${aligned.min}")
    assert(unaligned.max < Bitext.MARGIN_TH, s"unaligned max ${unaligned.max}")
    info(f"dead zone: unaligned ≤ ${unaligned.max} < TH ${Bitext.MARGIN_TH} " +
      f"< ${aligned.min} ≤ aligned")
  }
}
