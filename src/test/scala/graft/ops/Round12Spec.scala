package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Round-12 additions beyond the per-operator specs: the right-outer
  * Q11 spelling's null side, the GDPR-erasure audit's fully-tombstoned
  * group, and the pass@k under-sampling guard.
  */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q11_join_right: preserved side is customer — order-less " +
    "customers survive with n_orders = 0 and NULL spend") {
    val dir = "/root/testdata/sf0.001"
    val got = Relational.q11c.build(spark, dir)
      .as[(Long, Long, Option[Double])].collect()
    val nCust = graft.core.Tables(spark, dir, "customer").count()
    assert(got.length == nCust, "every customer must survive the right join")
    // mirrored spelling ⇔ the left-outer query, row for row
    val left = Relational.q11.build(spark, dir)
      .as[(Long, Long, Option[Double])].collect()
    assert(got.sameElements(left))
    // the fixture lake has no order-less customer at any SF, so prove the
    // preserved/null sides on a synthetic pair with the same join shape
    val c = Seq(1L, 2L).toDF("c_custkey")
    val o = Seq((10L, 1L, 5.0)).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val r = o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        graft.core.Exact.sumd(col("o_totalprice")).as("spent"))
      .orderBy("c_custkey")
      .as[(Long, Long, Option[Double])].collect()
    assert(r.toSeq == Seq((1L, 1L, Some(5.0)), (2L, 0L, None)),
      "order-less customer must survive with n_orders = 0 and NULL spend")
  }

  test("x_forget_user: an event_type whose rows are ALL tombstoned " +
    "still reports rows_after = 0 (left join, not inner)") {
    val G = graft.llmops.Governance
    val scratch = Scratch.fresh("graft-forget-spec").toString
    val rows = (0L until 100L).map { i =>
      // type "gone": every row erased (user_id multiple of 37);
      // type "stay": none erased
      if (i < 40) (i, new java.sql.Timestamp(i * 1000), 37L * (i + 1), "gone")
      else (i, new java.sql.Timestamp(i * 1000), 37L * i + 1, "stay")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$scratch/events.parquet")
    val got = G.xForgetUser.build(spark, scratch)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.keySet == Set("gone", "stay"),
      "the fully-erased type must not vanish from the audit")
    assert(got("gone") == ((40L, 0L, 40L, 0L)))
    assert(got("stay") == ((60L, 60L, 0L, 0L)))
  }

  test("LSH autotune: the chooser derives the shipped banding from the " +
    "design targets, and moves when the design point moves") {
    val M = graft.llmops.MinHashLSH
    // first principles -> the shipped 8x4 (not the other way around)
    assert(M.chooseBanding() == ((M.BANDS, M.ROWS_PER_BAND)))
    // a softer dup regime (s_hi = 0.7) disqualifies 8x4 (P = 0.889 <
    // 0.99) and the verifier-load argmin moves to 16x2 — the choice is
    // live, not a constant in disguise
    assert(M.chooseBanding(sHiPpm = 700000L) == ((16, 2)))
    assert(M.sCurvePpm(8, 4, 700000L) < M.R_MIN_PPM)
    // an impossible floor fails loudly instead of shipping silent recall
    intercept[IllegalArgumentException] {
      M.chooseBanding(rMinPpm = 1000001L)
    }
    // driver-side curve mirrors the graded fixed-point table at the
    // shipped config's design points
    assert(M.sCurvePpm(8, 4, M.S_HI_PPM) == 999804L)
    assert(M.sCurvePpm(8, 4, M.S_LO_PPM) == 12727L)
  }

  test("pass@k: n < k reports NULL (undefined estimator), not 1.0") {
    val E = graft.llmops.Evals
    val df = Seq((3L, 0L), (3L, 3L), (20L, 5L), (10L, 10L))
      .toDF("n", "c")
      .select(col("n"), col("c"),
        expr(E.passSpark(5)).as("p5"),
        expr(E.passSpark(10)).as("p10"))
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
    def binom(n: Long, k: Long): BigInt =
      if (k < 0 || k > n) BigInt(0)
      else (0L until k).map(i => BigInt(n - i)).product /
        (1L to k).map(BigInt(_)).product
    def want(n: Long, c: Long, k: Long): Option[Long] =
      if (n < k) None
      else Some((BigInt(1000000) -
        BigInt(1000000) * binom(n - c, k) / binom(n, k)).toLong)
    for ((n, c, p5, p10) <- df) {
      assert(p5 == want(n, c, 5), s"pass@5 for (n=$n,c=$c)")
      assert(p10 == want(n, c, 10), s"pass@10 for (n=$n,c=$c)")
    }
    // the guard rows specifically: n=3 < k → NULL even at c=0 and c=n
    assert(df.filter(_._1 == 3L).forall(r => r._3.isEmpty && r._4.isEmpty))
  }
}
