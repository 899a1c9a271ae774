package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Round-13: lake branching/merge semantics + the multiprobe twin. */
class BranchingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def store(prefix: String): String =
    Scratch.fresh(prefix).toString + "/s"

  test("merge fast-forwards when main has not moved") {
    val root = store("graft_br_ff")
    ConcurrentCommit.commitAppend(spark, root,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"), "w0")
    val base = Branching.fork(spark, root, "f")
    Branching.commitToBranch(spark, root, "f",
      Branching.readBranch(spark, root, "f")
        .unionByName(Seq((3L, 30.0)).toDF("k", "p")))
    val m = Branching.merge(spark, root, "f", base, "k", Seq("p"), "w1")
    assert(m.fastForward && m.conflicts == 0L && m.version == 1L)
    assert(Lake.readCurrent(spark, root).count() == 3)
  }

  test("three-way merge: delete semantics and delete-vs-update conflicts") {
    val root = store("graft_br_del")
    ConcurrentCommit.commitAppend(spark, root,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("k", "p"), "w0")
    val base = Branching.fork(spark, root, "f")
    // branch: delete k=1 (main leaves it), delete k=3 (main repriced it
    // → delete-vs-update CONFLICT, branch-wins = stays deleted),
    // reprice k=4
    Branching.commitToBranch(spark, root, "f",
      Seq((2L, 20.0), (4L, 44.0)).toDF("k", "p"))
    // main: delete k=2 (branch left it), reprice k=3
    ConcurrentCommit.commitTransform(spark, root,
      _ => Seq((1L, 10.0), (3L, 33.0), (4L, 40.0)).toDF("k", "p"), "main")
    val m = Branching.merge(spark, root, "f", base, "k", Seq("p"), "w1")
    assert(!m.fastForward)
    assert(m.conflicts == 1L, "k=3 delete-vs-update is the one conflict")
    val got = Lake.readCurrent(spark, root).as[(Long, Double)].collect().toSet
    // k=1 branch-deleted (main unchanged) → gone; k=2 main-deleted
    // (branch unchanged) → gone; k=3 conflict → branch-wins deleted;
    // k=4 branch reprice survives
    assert(got == Set((4L, 44.0)))
  }

  test("merge CAS: a merge racing a fresh append must not land silently") {
    val root = store("graft_br_race")
    ConcurrentCommit.commitAppend(spark, root,
      Seq((1L, 10.0)).toDF("k", "p"), "w0")
    val base = Branching.fork(spark, root, "f")
    Branching.commitToBranch(spark, root, "f",
      Seq((1L, 10.0), (2L, 2.0)).toDF("k", "p"))
    // main moves AFTER the merger read its head: simulate by claiming
    // the merge's target version first (what a racing append does)
    ConcurrentCommit.commitAppend(spark, root,
      Seq((9L, 9.0)).toDF("k", "p"), "racer")
    // merge now computes against head v1 and lands at v2 — but k=9 from
    // the racer must survive in the merged snapshot (rebase semantics:
    // merge reads the CURRENT head, not the fork-time head)
    val m = Branching.merge(spark, root, "f", base, "k", Seq("p"), "w1")
    val got = Lake.readCurrent(spark, root).as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 10.0), (2L, 2.0), (9L, 9.0)))
    assert(!m.fastForward)
  }

  test("fork copies no data: only the _base marker, reads resolve to main") {
    val root = store("graft_br_nocopy")
    ConcurrentCommit.commitAppend(spark, root,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"), "w0")
    val base = Branching.fork(spark, root, "f")
    assert(base == 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/branches/f")).map(_.getPath.getName)
    assert(entries.toSet == Set("_base"), "a fork is one marker file, no snapshot copy")
    assert(Branching.baseOf(spark, root, "f") == 0L)
    // a fresh fork reads as main's pinned base — even after main moves on
    ConcurrentCommit.commitAppend(spark, root, Seq((3L, 30.0)).toDF("k", "p"), "w1")
    val got = Branching.readBranch(spark, root, "f").as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 10.0), (2L, 20.0)))
    // double-fork of the same name must fail, not silently repin
    intercept[Exception](Branching.fork(spark, root, "f"))
  }

  test("degenerate three-way merge (empty key union) returns 0 conflicts") {
    val root = store("graft_br_empty")
    val empty = Seq.empty[(Long, Double)].toDF("k", "p")
    ConcurrentCommit.commitAppend(spark, root, empty, "w0")
    val base = Branching.fork(spark, root, "f")
    Branching.commitToBranch(spark, root, "f", empty)
    ConcurrentCommit.commitTransform(spark, root, identity, "main")
    val m = Branching.merge(spark, root, "f", base, "k", Seq("p"), "w1")
    assert(!m.fastForward && m.conflicts == 0L)
  }

  test("fork pin survives retention: base stays readable while main " +
      "advances 2+ versions on a retiring (writeVersioned) root; " +
      "deleteBranch releases the pin") {
    val root = store("graft_br_pin")
    ConcurrentCommit.commitAppend(spark, root,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"), "w0")
    val base = Branching.fork(spark, root, "f")
    // three retiring publishes: grace alone keeps only the PREVIOUS
    // committed version, so without the pin v=0 dies at the second one
    Lake.writeVersioned(Seq((3L, 3.0)).toDF("k", "p"), root)
    Lake.writeVersioned(Seq((4L, 4.0)).toDF("k", "p"), root)
    Lake.writeVersioned(Seq((5L, 5.0)).toDF("k", "p"), root)
    val got = Branching.readBranch(spark, root, "f")
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 10.0), (2L, 20.0)),
      "commit-less fork must read its pinned base after main moved 3x")
    // release the pin: the next publish retires the base
    assert(Branching.deleteBranch(spark, root, "f"))
    Lake.writeVersioned(Seq((6L, 6.0)).toDF("k", "p"), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=$base")),
      "a released pin must return the base to normal retention")
  }

  test("fresh-fork read applies the committedness (_SUCCESS) check") {
    val root = store("graft_br_succ")
    ConcurrentCommit.commitAppend(spark, root,
      Seq((1L, 10.0)).toDF("k", "p"), "w0")
    Branching.fork(spark, root, "f")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/v=0/_SUCCESS"), false)
    intercept[IllegalStateException](
      Branching.readBranch(spark, root, "f").collect())
  }

  test("multiprobe banding returns exactly the 4-band pairs") {
    import graft.llmops.SimHash
    val sf = "/root/testdata/sf0.001"
    val four = SimHash.xSimhashNeardup.build(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val multi = SimHash.xSimhashMultiprobe.build(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(multi == four)
    assert(multi.nonEmpty)
  }
}
