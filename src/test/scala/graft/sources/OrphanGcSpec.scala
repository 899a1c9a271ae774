package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Round-13: orphan-file GC semantics. */
class OrphanGcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("orphan GC removes only unreferenced paths; claims survive") {
    val root = Scratch.fresh("graft_ogc_spec").toString + "/s"
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ConcurrentCommit.commitAppend(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "w0")

    // plant: a dead uncommitted v=1 (claim kept, no _SUCCESS) + litter
    assert(Lake.tryClaim(fs, root, 1L, "dead"))
    Seq((9L, "x")).toDF("k", "v").write.parquet(s"$root/v=1")
    fs.delete(new HPath(s"$root/v=1/_SUCCESS"), false)
    fs.mkdirs(new HPath(s"$root/junk"))

    val (live, removed) = OrphanGc.collect(spark, root)
    assert(live == 1 && removed == 2)
    assert(fs.exists(new HPath(root, "_claim_v=0")), "commit audit kept")
    assert(fs.exists(new HPath(root, "_claim_v=1")), "dead claim kept")
    assert(!fs.exists(new HPath(s"$root/v=1")), "dead version collected")
    assert(!fs.exists(new HPath(s"$root/junk")))
    assert(Lake.readCurrent(spark, root).count() == 2, "committed data intact")
    // GC is idempotent: a second pass finds nothing
    assert(OrphanGc.collect(spark, root) == ((1L, 0L)))
  }

  test("x_orphan_gc graded row: four orphan classes, consumed version skipped") {
    val row = OrphanGc.xOrphanGc.build(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(row.getAs[Long]("live_versions") == 2)
    assert(row.getAs[Long]("orphans_removed") == 4)
    assert(row.getAs[Boolean]("dead_claim_preserved"))
    assert(row.getAs[Long]("next_version") == 3)
  }

  test("metadata count equals the scan on every SF's events file") {
    for (sf <- Seq("0.001", "0.01")) {
      val row = graft.ops.Observe.xMetadataCount
        .build(spark, s"/root/testdata/sf$sf").collect().head
      assert(row.getAs[Boolean]("footer_matches_scan"))
      assert(row.getAs[Long]("footer_rows") == row.getAs[Long]("scan_rows"))
    }
  }
}
