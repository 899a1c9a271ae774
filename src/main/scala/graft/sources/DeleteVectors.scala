package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact => E, Q, Scratch, Tables => T}

/** Merge-on-read equality deletes — the modern table-format answer
  * (Iceberg v2 delete files, Delta deletion vectors) to "delete 0.1% of
  * rows from a petabyte without rewriting it". A delete COMMIT writes a
  * small sidecar file of deleted KEYS next to the data; the data files
  * themselves are immutable. Readers merge on read: scan ∖ (∪ delete
  * files), an anti-join against a set small enough to broadcast. A
  * later COMPACTION folds the deletes into a rewritten snapshot and
  * retires the sidecars — copy-on-write deferred to maintenance hours.
  *
  * Contrast with the inventory's copy-on-write deletes: x_forget_user /
  * Lake.upsert rewrite the dataset at delete time (right for GDPR-grade
  * "bytes must be gone", wrong for high-frequency row retraction), and
  * x_gold_retraction re-aggregates. This op grades the third discipline:
  * deletes as DATA, applied lazily.
  *
  * Correctness properties the spec pins: delete application is
  * IDEMPOTENT (anti-join of an already-absent key is a no-op, so a
  * reader that observes the compacted snapshot together with not-yet-
  * retired sidecars still returns the exact result — there is no
  * ordering window) and COMMUTATIVE across sidecars (∪ before ∖).
  *
  * Scale posture: a delete commit costs one small-file write regardless
  * of table size; the read-path anti-join broadcasts the key set (the
  * sidecars are small by contract — when they stop being small, that is
  * the compaction trigger, which this op also measures); compaction is
  * one full rewrite, the same cost a copy-on-write delete would have
  * paid PER delete commit.
  */
object DeleteVectors {

  /** The sidecars form a version store of their own under the data
    * root: each delete commit is one claimed version, and only committed
    * sidecars are applied or counted — a delete commit that died
    * mid-write is neither a broken read nor a partial key set.
    */
  private def sidecars(root: String): String = s"$root/deletes"

  /** Commit a delete sidecar of `keys` (one column, the equality key). */
  def commitDelete(keys: DataFrame, root: String): Long =
    Lake.commitNext(keys.coalesce(1), sidecars(root), "delete")

  /** All deleted keys (∪ of committed sidecars); None if there are none. */
  def deletedKeys(spark: SparkSession, root: String, keyCol: String)
      : Option[DataFrame] = {
    val dir = sidecars(root)
    Lake.committed(Lake.fsOf(spark, dir), new HPath(dir))
      .map { case (_, p) => spark.read.parquet(p.toString) }
      .reduceOption(_ unionByName _)
      .map(_.select(keyCol).distinct())
  }

  /** Merge-on-read scan: current data version ∖ deleted keys. */
  def read(spark: SparkSession, root: String, keyCol: String): DataFrame = {
    val data = Lake.readCurrent(spark, root)
    deletedKeys(spark, root, keyCol)
      .map(d => data.join(broadcast(d), Seq(keyCol), "left_anti"))
      .getOrElse(data)
  }

  /** Fold outstanding deletes into a new committed snapshot, then retire
    * the sidecars. Retirement AFTER the commit is safe because delete
    * application is idempotent: a reader pairing the new snapshot with
    * the old sidecars gets the same rows.
    */
  def compact(spark: SparkSession, root: String, keyCol: String,
      writerId: String): Long = {
    val del = deletedKeys(spark, root, keyCol)
    val c = ConcurrentCommit.commitTransform(spark, root,
      base => del.map(d => base.join(broadcast(d), Seq(keyCol), "left_anti"))
        .getOrElse(base),
      writerId)
    Lake.fsOf(spark, root).delete(new HPath(sidecars(root)), true)
    c.version
  }

  /** Number of committed delete sidecars currently outstanding. */
  def sidecarCount(spark: SparkSession, root: String): Long =
    Lake.versions(spark, sidecars(root)).size.toLong

  /** X — the merge-on-read lifecycle end to end: v0 = orders in 8
    * immutable files; two delete commits (keys ≡0 mod 13, then mod 17 —
    * overlapping, exercising the ∪); the live read excludes both sets
    * while THE DATA FILES ARE UNTOUCHED (file count unchanged — the
    * merge-on-read proof); compaction folds deletes into v1 and retires
    * the sidecars; the post-compaction read is bit-identical to the
    * pre-compaction live read. Graded facts: file counts before/after
    * deletes, sidecar counts before/after compaction, live rows + exact
    * total, post-compaction rows, version count.
    */
  val xEqualityDeletes = Q(
    "x_equality_deletes",
    """SELECT CAST(8 AS BIGINT) AS files_v0,
              CAST(8 AS BIGINT) AS files_after_deletes,
              CAST(2 AS BIGINT) AS sidecars,
              CAST(count(*) AS BIGINT) AS rows_live,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS total_live,
              CAST(count(*) AS BIGINT) AS rows_after_compact,
              CAST(0 AS BIGINT) AS sidecars_after_compact,
              CAST(2 AS BIGINT) AS n_versions
       FROM orders
       WHERE o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 0""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = s"${Scratch.fresh("graft_eqdel")}/store"

    ConcurrentCommit.commitAppend(s, root, orders.repartition(8), "w0")
    val filesV0 = Lake.readVersion(s, root, 0L).inputFiles.length.toLong

    commitDelete(orders.filter(col("o_orderkey") % 13 === 0)
      .select("o_orderkey"), root)
    commitDelete(orders.filter(col("o_orderkey") % 17 === 0)
      .select("o_orderkey"), root)
    val filesAfter = // data immutable
      Lake.readVersion(s, root, 0L).inputFiles.length.toLong
    val sidecars = sidecarCount(s, root)

    val live = read(s, root, "o_orderkey")
      .agg(count(lit(1)).as("rows_live"),
        E.sumd(col("o_totalprice")).as("total_live"))
      .collect().head

    compact(s, root, "o_orderkey", "maint")
    val after = read(s, root, "o_orderkey").count()
    val sidecarsAfter = sidecarCount(s, root)
    val nVersions = Lake.versions(s, root).size.toLong

    import s.implicits._
    Seq((filesV0, filesAfter, sidecars, live.getAs[Long]("rows_live"),
        live.getAs[Double]("total_live"), after, sidecarsAfter, nVersions))
      .toDF("files_v0", "files_after_deletes", "sidecars", "rows_live",
        "total_live", "rows_after_compact", "sidecars_after_compact",
        "n_versions")
  }

  val all: Seq[Q] = Seq(xEqualityDeletes)
}
