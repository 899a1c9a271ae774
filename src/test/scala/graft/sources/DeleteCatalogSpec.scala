package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Round-13 lake additions: merge-on-read equality deletes and the
  * multi-table catalog transaction.
  */
class DeleteCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("equality deletes: merge-on-read excludes keys; data files untouched") {
    val root = Scratch.fresh("graft_eqdel_spec").toString + "/s"
    val data = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    ConcurrentCommit.commitAppend(spark, root, data.repartition(4), "w0")
    DeleteVectors.commitDelete(Seq(3L, 5L).toDF("k"), root)
    DeleteVectors.commitDelete(Seq(5L, 7L).toDF("k"), root) // overlap: ∪
    val live = DeleteVectors.read(spark, root, "k")
      .as[(Long, String)].collect().map(_._1).toSet
    assert(live == (1L to 100L).toSet -- Set(3L, 5L, 7L))
    assert(DeleteVectors.sidecarCount(spark, root) == 2)
  }

  test("equality deletes: compaction folds + retires; idempotent re-apply") {
    val root = Scratch.fresh("graft_eqdel_spec2").toString + "/s"
    val data = (1L to 50L).map(k => (k, k * 10)).toDF("k", "x")
    ConcurrentCommit.commitAppend(spark, root, data, "w0")
    DeleteVectors.commitDelete(Seq(2L, 4L).toDF("k"), root)
    val before = DeleteVectors.read(spark, root, "k")
      .as[(Long, Long)].collect().toSet
    val v = DeleteVectors.compact(spark, root, "k", "maint")
    assert(v == 1L)
    assert(DeleteVectors.sidecarCount(spark, root) == 0)
    val after = DeleteVectors.read(spark, root, "k")
      .as[(Long, Long)].collect().toSet
    assert(after == before, "compaction must not change the visible rows")
    // idempotence: re-applying the same delete keys to the compacted
    // snapshot is a no-op (the reader-ordering safety argument)
    DeleteVectors.commitDelete(Seq(2L, 4L).toDF("k"), root)
    assert(DeleteVectors.read(spark, root, "k")
      .as[(Long, Long)].collect().toSet == before)
  }

  test("equality deletes: a sidecar whose commit died mid-write is ignored") {
    val root = Scratch.fresh("graft_eqdel_spec3").toString + "/s"
    val data = (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
    ConcurrentCommit.commitAppend(spark, root, data, "w0")
    DeleteVectors.commitDelete(Seq(3L).toDF("k"), root)
    DeleteVectors.commitDelete(Seq(9L).toDF("k"), root)
    // the second delete commit died before its marker: plant that the way
    // OrphanGcSpec plants a dead version
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = fs.listStatus(new org.apache.hadoop.fs.Path(root, "deletes"))
      .filter(_.isDirectory).map(_.getPath).maxBy(_.getName)
    assert(fs.delete(new org.apache.hadoop.fs.Path(dead, "_SUCCESS"), false))
    assert(DeleteVectors.sidecarCount(spark, root) == 1)
    val live = DeleteVectors.read(spark, root, "k")
      .as[(Long, String)].collect().map(_._1).toSet
    assert(live == (1L to 20L).toSet - 3L)
  }

  test("catalog: versions resolve atomically; a stale publisher loses") {
    val root = Scratch.fresh("graft_cat_spec").toString + "/lake"
    Catalog.writeTable(Seq((1L, "a")).toDF("k", "v"), root, "t1", 0L)
    Catalog.writeTable(Seq((1L, "x")).toDF("k", "w"), root, "t2", 0L)
    val v0 = Catalog.publish(spark, root, Map("t1" -> 0L, "t2" -> 0L),
      base = -1L, "w0").get
    Catalog.writeTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "t1", 1L)
    Catalog.writeTable(Seq((1L, "x"), (2L, "y")).toDF("k", "w"), root, "t2", 1L)
    val v1 = Catalog.publish(spark, root, Map("t1" -> 1L, "t2" -> 1L),
      base = v0, "w1").get

    // pinned reads: old pair at v0, new pair at v1 — never mixed
    assert(Catalog.readAt(spark, root, v0, "t1").count() == 1)
    assert(Catalog.readAt(spark, root, v0, "t2").count() == 1)
    assert(Catalog.readAt(spark, root, v1, "t1").count() == 2)
    assert(Catalog.readAt(spark, root, v1, "t2").count() == 2)

    // stale transaction against base v0 after v1 landed: CAS loss
    assert(Catalog.publish(spark, root, Map("t1" -> 0L, "t2" -> 1L),
      base = v0, "late").isEmpty)
    assert(Catalog.versions(spark, root) == Seq(0L, 1L))
    // every committed catalog version maps BOTH tables to ONE txn's
    // versions — the mixed state is unrepresentable
    Catalog.versions(spark, root).foreach { cv =>
      val m = Catalog.mappingAt(spark, root, cv)
      assert(m("t1") == m("t2"), s"catalog v=$cv mixes table versions")
    }
  }

  test("x_join_cardinality: the histogram identity equals a real join") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.Skew.xJoinCardinality.build(spark, sf)
      .collect().map(r => r.getAs[String]("jname") -> r).toMap
    val ev = graft.core.Tables(spark, sf, "events")
    val selfUser = ev.select(col("user_id"))
      .join(ev.select(col("user_id").as("u2")),
        col("user_id") === col("u2")).count()
    assert(rows("events_user_self").getAs[Long]("exact_rows") == selfUser)
    val fk = graft.core.Tables(spark, sf, "lineitem").select(col("l_orderkey"))
      .join(graft.core.Tables(spark, sf, "orders").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(rows("lineitem_orders_fk").getAs[Long]("exact_rows") == fk)
    // the FK join's uniformity estimate is near-exact; the self-joins
    // over-disperse (err_ppm ≥ 10⁶ exactly when Σn² ≥ n²/ndv — always,
    // by Cauchy-Schwarz)
    rows.values.foreach(r => assert(r.getAs[Long]("err_ppm") >= 1000000L))
  }
}
