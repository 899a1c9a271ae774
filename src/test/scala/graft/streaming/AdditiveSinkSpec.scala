package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Round-13: the transactional additive foreachBatch sink + the sampled
  * dup-rate estimator.
  */
class AdditiveSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mv(prefix: String): String =
    Scratch.fresh(prefix).toString + "/mv"

  private def batchDf(rows: (String, Double)*) =
    rows.toDF("event_type", "value")

  private def state(dir: String): Map[String, (Long, Long)] =
    spark.read.parquet(graft.sources.Lake.currentVersion(spark, dir).get)
      .select("event_type", "n", "cents").as[(String, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("additive sink: replayed batch ids are no-ops, new ids apply") {
    val dir = mv("graft_addmv_spec")
    assert(StreamOps.applyAdditiveBatch(spark, dir,
      batchDf("a" -> 1.00, "a" -> 2.00, "b" -> 3.00), 0L))
    assert(state(dir) == Map("a" -> (2L, 300L), "b" -> (1L, 300L)))
    // exact replay of batch 0: skipped, state unchanged
    assert(!StreamOps.applyAdditiveBatch(spark, dir,
      batchDf("a" -> 1.00, "a" -> 2.00, "b" -> 3.00), 0L))
    assert(state(dir) == Map("a" -> (2L, 300L), "b" -> (1L, 300L)))
    // a DIFFERENT payload under an old id is still a replay (the ledger
    // keys on batch id, the unit Structured Streaming replays)
    assert(!StreamOps.applyAdditiveBatch(spark, dir,
      batchDf("z" -> 9.99), 0L))
    assert(state(dir) == Map("a" -> (2L, 300L), "b" -> (1L, 300L)))
    // the next id applies and merges additively
    assert(StreamOps.applyAdditiveBatch(spark, dir,
      batchDf("a" -> 0.50, "c" -> 1.00), 1L))
    assert(state(dir) == Map("a" -> (3L, 350L), "b" -> (1L, 300L),
      "c" -> (1L, 100L)))
    // and a replay of THAT id is again a no-op
    assert(!StreamOps.applyAdditiveBatch(spark, dir,
      batchDf("a" -> 0.50, "c" -> 1.00), 1L))
    assert(state(dir) == Map("a" -> (3L, 350L), "b" -> (1L, 300L),
      "c" -> (1L, 100L)))
  }

  test("sample estimate: observed equals the brute within-sample pair count") {
    val sf = "/root/testdata/sf0.001"
    val row = graft.llmops.MinHashLSH.xDedupSampleEstimate.build(spark, sf)
      .collect().head
    // brute force: exact Jaccard >= 1/2 over 3-gram shingle sets,
    // restricted to the deterministic hash sample
    val docs = graft.core.Tables(spark, sf, "documents")
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 10), 16, 10) as bigint)"))
      .select("doc_id", "text", "h").as[(Long, String, Long)].collect()
    val sets = docs.map { case (id, t, h) =>
      (id, h, t.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet)
    }.filter(_._3.nonEmpty)
    def pairs(rows: Seq[(Long, Long, Set[String])]): Long =
      (for {
        (a, _, sa) <- rows; (b, _, sb) <- rows if a < b
        i = (sa & sb).size.toLong
        if 10 * i >= 5 * (sa.size + sb.size - i)
      } yield 1L).sum
    val inSample = sets.filter(_._2 % graft.llmops.MinHashLSH.SMP_MOD == 0)
    assert(row.getAs[Long]("observed_pairs") == pairs(inSample.toIndexedSeq))
    assert(row.getAs[Long]("true_pairs") == pairs(sets.toIndexedSeq))
    assert(row.getAs[Long]("est_pairs") ==
      graft.llmops.MinHashLSH.SMP_MOD * graft.llmops.MinHashLSH.SMP_MOD *
        row.getAs[Long]("observed_pairs"))
  }
}
