package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The optimistic-concurrency commit protocol: the lost update must be
  * IMPOSSIBLE, under both a pinned adversarial interleave and a real
  * two-thread race (nondeterministic schedule, deterministic outcome).
  */
class ConcurrentCommitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def freshRoot(): String =
    s"${graft.core.Scratch.fresh("cc_spec")}/store"

  private def orders = graft.core.Tables(spark, sf, "orders")
    .select(col("o_orderkey"), col("o_totalprice"))

  test("claim CAS: exactly one winner for the same version") {
    val root = freshRoot()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    assert(Lake.tryClaim(fs, root, 0L, "first"))
    assert(!Lake.tryClaim(fs, root, 0L, "second"))
    assert(Lake.tryClaim(fs, root, 1L, "second"))
  }

  test("pinned interleave: stale writer detects the conflict and rebases") {
    val root = freshRoot()
    val base = orders.filter(col("o_orderkey") % 3 === 0)
    val bA = orders.filter(col("o_orderkey") % 3 === 1)
    val bB = orders.filter(col("o_orderkey") % 3 === 2)
    ConcurrentCommit.commitAppend(spark, root, base, "w0")

    // A snapshots v0, then B commits v1 under A's feet
    val aSnap = Lake.versions(spark, root).last
    val aMerged = spark.read.parquet(s"$root/v=$aSnap").unionByName(bA)
    val cB = ConcurrentCommit.commitAppend(spark, root, bB, "B")
    assert(cB.version == 1L && cB.retries == 0)

    // the lost-update attempt: A tries to publish v1 from its stale
    // snapshot — the CAS must reject it, leaving B's v1 untouched
    assert(!ConcurrentCommit.tryCommitAt(spark, root, aMerged, aSnap + 1, "A"))
    assert(Lake.readCurrent(spark, root).count() ==
      base.count() + bB.count(), "B's committed version must survive")

    // the rebase lands everything exactly once
    val cA = ConcurrentCommit.commitAppend(spark, root, bA, "A")
    assert(cA.version == 2L)
    val fin = Lake.readCurrent(spark, root)
    assert(fin.count() == orders.count())
    assert(fin.select(countDistinct(col("o_orderkey"))).head.getLong(0)
      == orders.count(), "no key may land twice")
  }

  test("two-thread race: both batches land exactly once, versions distinct") {
    val root = freshRoot()
    ConcurrentCommit.commitAppend(spark, root,
      orders.filter(col("o_orderkey") % 3 === 0), "w0")
    val batches = Seq(
      "A" -> orders.filter(col("o_orderkey") % 3 === 1),
      "B" -> orders.filter(col("o_orderkey") % 3 === 2))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val commits = Await.result(
      Future.sequence(batches.map { case (id, b) =>
        Future(ConcurrentCommit.commitAppend(spark, root, b, id))
      }), 120.seconds)
    assert(commits.map(_.version).toSet == Set(1L, 2L),
      s"racers must take distinct versions, got $commits")
    val fin = Lake.readCurrent(spark, root)
    assert(fin.count() == orders.count(), s"lost update: $commits")
    assert(fin.select(countDistinct(col("o_orderkey"))).head.getLong(0)
      == orders.count(), "duplicate append")
    // exactly 3 committed versions, and the claim audit trail matches
    assert(Lake.versions(spark, root) == Seq(0L, 1L, 2L))
  }

  test("compactor racing a live appender loses nothing") {
    val root = freshRoot()
    ConcurrentCommit.commitAppend(spark, root,
      orders.filter(col("o_orderkey") % 3 === 0).repartition(16), "w0")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val appender = Future(ConcurrentCommit.commitAppend(spark, root,
      orders.filter(col("o_orderkey") % 3 =!= 0), "A"))
    val compactor = Future(ConcurrentCommit.commitTransform(spark, root,
      _.repartition(4), "C"))
    val Seq(cA, cC) = Await.result(Future.sequence(Seq(appender, compactor)),
      120.seconds)
    assert(Seq(cA.version, cC.version).sorted == Seq(1L, 2L))
    val fin = Lake.readCurrent(spark, root)
    // whichever order they landed in, the append is present exactly once
    assert(fin.count() == orders.count(), s"maintenance erased data: $cA $cC")
    assert(fin.select(countDistinct(col("o_orderkey"))).head.getLong(0)
      == orders.count())
  }

  test("stale claim from a dead writer times out rather than steals") {
    val root = freshRoot()
    ConcurrentCommit.commitAppend(spark, root,
      orders.filter(col("o_orderkey") % 3 === 0), "w0")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a claimant that died between claim and commit
    assert(Lake.tryClaim(fs, root, 1L, "dead-writer"))
    val e = intercept[IllegalStateException] {
      ConcurrentCommit.commitAppend(spark, root,
        orders.filter(col("o_orderkey") % 3 === 1), "live",
        maxRetries = 2, claimWaitMs = 200)
    }
    assert(e.getMessage.contains("presumed dead"))
    // the committed state is untouched by the failed attempt
    assert(Lake.versions(spark, root) == Seq(0L))
  }
}
