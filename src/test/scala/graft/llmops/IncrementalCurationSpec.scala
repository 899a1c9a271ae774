package graft.llmops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** x_incremental_curation: every verdict class proven on a synthetic
  * lake — the sf fixtures never fire 'exact_dup' (no cross-watermark
  * exact copies) or 'contaminated' (no verbatim 8-gram overlap with the
  * holdout), so this spec plants one of each and checks the whole
  * decision table, including stage precedence (first failing stage wins)
  * and the keep-lowest rule within a batch.
  */
class IncrementalCurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def words(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("batchVerdicts: all six verdicts, planted one per doc") {
    val s1 = words("s1w", 25)
    val bench1 = words("bbw", 25)
    val twin = words("twinw", 25)
    val contam = words("cw", 12) + " " +
      (1 to 8).map(i => s"bbw$i").mkString(" ") + " " + words("cx", 5)

    val standing = Seq((1L, "en", s1)).toDF("doc_id", "lang", "text")
    val batch = Seq(
      (101L, "en", s1),                        // exact copy of standing
      (102L, "en", s1 + " extraword"),         // J = 23/24 near-dup of s1
      (103L, "en", twin),                      // within-batch twin, lower id
      (104L, "en", twin),                      // within-batch twin, higher id
      (105L, "en", contam),                    // verbatim 8-gram from bench
      (106L, "en", words("semw", 25)),         // embedding matches bench
      (107L, "en", "too short text here now"), // fails the token floor
      (108L, "en", words("admw", 25))          // clean
    ).toDF("doc_id", "lang", "text")
    val bench = Seq((900L, "en", bench1)).toDF("doc_id", "lang", "text")

    val scratch = Scratch.fresh("graft-inccur-spec").toString
    IncrementalCuration.bootstrapIndexes(standing, scratch)

    val benchGrams = bench.select(
      explode(graft.functions.ArrayOps.wordShingleHashes(col("text"), 8))
        .as("g")).distinct()
    val eb = Seq((106L, Seq(1.0, 0.0)), (900L, Seq(0.9, 0.1)))
      .toDF("vec_id", "emb")
    val benchEmb = Seq(Tuple1(Seq(0.9, 0.1))).toDF("b_emb")

    val got = IncrementalCuration
      .batchVerdicts(spark, batch, scratch, benchGrams, benchEmb, eb)
      .as[(Long, String, Long, String)].collect()
      .map(r => r._1 -> r._4).toMap

    assert(got == Map(
      101L -> "exact_dup",    // digest hit in the persisted standing index
      102L -> "near_dup",     // band-index probe + exact Jaccard verify
      103L -> "admitted",     // keep-lowest of the twin pair
      104L -> "exact_dup",    // within-batch duplicate of 103
      105L -> "contaminated", // shares bbw1..bbw8 with the benchmark
      106L -> "sem_dup",      // cosine 1.0 against the benchmark vector
      107L -> "quality",      // 5 tokens < MIN_TOKENS
      108L -> "admitted"))
  }

  test("the appended index generation is LIVE: batch 2 dups of batch-1 " +
    "ADMITTED docs are caught by the updated store") {
    val b1Clean = words("b1w", 25)
    val standing = Seq((1L, "en", words("s1w", 25)))
      .toDF("doc_id", "lang", "text")
    val scratch = Scratch.fresh("graft-inccur-spec3").toString
    IncrementalCuration.bootstrapIndexes(standing, scratch)
    val benchGrams = Seq.empty[Long].toDF("g")
    val eb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "emb")
    val benchEmb = Seq.empty[Tuple1[Seq[Double]]].toDF("b_emb")

    // batch 1: one clean doc -> admitted; append it (the graded query's
    // index-update step)
    val batch1 = Seq((101L, "en", b1Clean)).toDF("doc_id", "lang", "text")
    val v1 = IncrementalCuration
      .batchVerdicts(spark, batch1, scratch, benchGrams, benchEmb, eb)
      .as[(Long, String, Long, String)].collect()
    assert(v1.toSeq == Seq((101L, "en", 25L, "admitted")))
    MinHashLSH.bandIndex(MinHashLSH.wordSets(batch1, 3))
      .write.mode("append").parquet(s"$scratch/bands")
    batch1.select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("digest"))
      .write.mode("append").parquet(s"$scratch/digests")

    // batch 2: an exact copy and a near-dup of the batch-1 admit — both
    // must be rejected BY THE INDEX (they never saw batch 1's rows)
    val batch2 = Seq(
      (201L, "en", b1Clean),                 // exact dup of the admit
      (202L, "en", b1Clean + " extraword"),  // J = 23/24 near-dup of it
      (203L, "en", words("b2w", 25))         // genuinely new
    ).toDF("doc_id", "lang", "text")
    val v2 = IncrementalCuration
      .batchVerdicts(spark, batch2, scratch, benchGrams, benchEmb, eb)
      .as[(Long, String, Long, String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(v2 == Map(201L -> "exact_dup", 202L -> "near_dup",
      203L -> "admitted"),
      s"updated index did not serve batch 2: $v2")
  }

  test("stage precedence: a doc failing quality is 'quality' even when " +
    "it also exact-duplicates the standing lake") {
    val shortText = "tiny shared text"
    val standing = Seq((1L, "en", shortText)).toDF("doc_id", "lang", "text")
    val batch = Seq((101L, "en", shortText)).toDF("doc_id", "lang", "text")
    val scratch = Scratch.fresh("graft-inccur-spec2").toString
    IncrementalCuration.bootstrapIndexes(standing, scratch)
    val benchGrams = Seq.empty[Long].toDF("g")
    val eb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "emb")
    val benchEmb = Seq.empty[Tuple1[Seq[Double]]].toDF("b_emb")
    val got = IncrementalCuration
      .batchVerdicts(spark, batch, scratch, benchGrams, benchEmb, eb)
      .as[(Long, String, Long, String)].collect()
    assert(got.toSeq == Seq((101L, "en", 3L, "quality")))
  }
}
