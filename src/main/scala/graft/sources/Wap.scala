package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact => E, Q, Scratch, Tables => T}

/** Write-Audit-Publish (WAP) on the versioned lake — the deployment
  * gate pattern (Netflix's Iceberg workflow): a writer never exposes a
  * new snapshot directly; it STAGES the candidate table state as real
  * files outside the version namespace, runs audit gates against those
  * staged files (the audit sees exactly the bytes readers would see,
  * not the writer's in-memory plan), and only a passing candidate is
  * PUBLISHED — an atomic metadata move. A failing candidate is
  * rejected with its violation counts as the audit record, and the
  * published table never observes it.
  *
  * This closes the gap the other lake ops leave open: x_concurrent_commit
  * makes commits exactly-once, x_quarantine_replay handles bad ROWS
  * already diverted, but nothing yet prevents a structurally-bad BATCH
  * (null join keys, duplicated primary keys — the classic upstream-bug
  * signatures) from becoming the current version in the first place.
  *
  * Publish atomicity: [[Lake.publishStaged]], the version store's one
  * staged publish (format and claim described once, in Lake's
  * version-store section): a stage without the commit marker is
  * refused, otherwise one claim and one directory rename of the staged
  * snapshot into place, so readers never see a half-published version.
  * Under contention a claim loss means the staged state was computed
  * against a stale base: the caller re-stages against the new base and
  * re-audits (same rebase discipline as ConcurrentCommit.commitAppend);
  * publish() returns None rather than guessing.
  *
  * Scale posture: the audit is two hash aggregations over the staged
  * snapshot (null-key count is map-side combined; duplicate-key count
  * shuffles on the key like any distinct); staging writes the data once
  * — the same write a direct commit would do, so WAP's marginal cost is
  * the audit scan, not a second copy. The publish itself is one
  * metadata round-trip + one rename regardless of data size.
  */
object Wap {

  /** Audit verdict over a staged snapshot. */
  final case class Audit(nullKeys: Long, dupKeys: Long, rows: Long,
      ok: Boolean)

  /** Stage `snapshot` (the full candidate table state) as real files
    * under `root/_staged/<name>`. Returns the staged path.
    */
  def stage(snapshot: DataFrame, root: String, name: String): String = {
    val path = s"$root/_staged/$name"
    snapshot.write.mode("overwrite").parquet(path)
    path
  }

  /** Audit gates over the STAGED FILES: null keys, duplicate non-null
    * keys (nulls are counted once by the null gate, not again as one
    * giant duplicate group), and a row floor (a candidate that LOST
    * rows vs `minRows` signals a broken merge, not a valid state).
    */
  def audit(spark: SparkSession, stagedPath: String, keyCol: String,
      minRows: Long): Audit = {
    // all three gates from ONE pass over the staged files (one keyed
    // hash agg + one scalar re-agg) instead of three separate scans:
    // null rows are the null group's count, total rows the sum of group
    // counts, duplicates the non-null groups with count > 1
    val staged = spark.read.parquet(stagedPath)
    val r = staged.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum(when(col(keyCol).isNull, col("c"))), lit(0L))
          .as("nulls"),
        coalesce(sum(when(col(keyCol).isNotNull && col("c") > 1, 1L)),
          lit(0L)).as("dups"),
        coalesce(sum(col("c")), lit(0L)).as("rows"))
      .head()
    val (nulls, dups, rows) = (r.getLong(0), r.getLong(1), r.getLong(2))
    Audit(nulls, dups, rows, nulls == 0 && dups == 0 && rows >= minRows)
  }

  /** Atomically publish a staged snapshot as version `baseVersion + 1`,
    * where `baseVersion` is the version the candidate was STAGED
    * against (−1 for an empty store). The claim being pinned to the
    * staging base IS the conflict detection — if anything committed
    * after staging, base+1 is already claimed (or the about-to-stale
    * racer loses the CAS) and publish returns None: a snapshot audited
    * against an old base must never overwrite newer commits (re-stage,
    * re-audit, retry). Claiming "current+1" instead would let the stale
    * snapshot land as a later version and silently erase them. A stage
    * whose write died partway is refused (None) and uses up no claim.
    */
  def publish(spark: SparkSession, root: String, stagedPath: String,
      writerId: String, baseVersion: Long): Option[Long] = {
    Option.when(Lake.publishStaged(spark, stagedPath, root, baseVersion + 1,
      writerId))(baseVersion + 1)
  }

  /** X — the WAP gate end to end against real files, interleave pinned
    * so every number is deterministic:
    *
    *   v0 = orders where key % 3 = 0 (the committed base);
    *   candidate BAD = base ∪ the key % 3 = 2 batch with planted
    *     upstream-bug signatures — keys NULLed where key % 7 = 0 and a
    *     second copy of rows where key % 7 ≠ 0 ∧ key % 5 = 0 — staged,
    *     audited, REJECTED (both gates fire); main is untouched;
    *   candidate GOOD = base ∪ the clean key % 3 = 1 batch — staged,
    *     audited clean, published as v1.
    *
    * The graded row reads only the store + audit records: both
    * candidates' violation counts, the reject leaving main at the base
    * row count, version count, and the final snapshot's rows + exact
    * total. If the bad candidate leaked into main, rows_after_reject
    * and n_rows both shift and the hash fails.
    */
  val xWapPublish = Q(
    "x_wap_publish",
    """SELECT CAST(sum(CASE WHEN o_orderkey % 3 = 2 AND o_orderkey % 7 = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS bad_null_keys,
              CAST(sum(CASE WHEN o_orderkey % 3 = 2 AND o_orderkey % 7 <> 0
                AND o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS bad_dup_keys,
              FALSE AS bad_published,
              CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_after_reject,
              CAST(0 AS BIGINT) AS good_null_keys,
              CAST(0 AS BIGINT) AS good_dup_keys,
              CAST(2 AS BIGINT) AS n_versions,
              CAST(sum(CASE WHEN o_orderkey % 3 <= 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN o_orderkey % 3 <= 1
                THEN CAST(o_totalprice AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total
       FROM orders""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = s"${Scratch.fresh("graft_wap")}/store"

    // the committed base
    ConcurrentCommit.commitAppend(s, root,
      orders.filter(col("o_orderkey") % 3 === 0), "base")

    // candidate 1: the bad batch (planted null keys + duplicated keys)
    val raw2 = orders.filter(col("o_orderkey") % 3 === 2)
    val badBatch = raw2
      .withColumn("o_orderkey",
        when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_orderkey")))
      .unionByName(raw2.filter(col("o_orderkey") % 7 =!= 0 &&
        col("o_orderkey") % 5 === 0))
    val v0 = Lake.versions(s, root).last
    // both candidates are staged AGAINST THE SAME BASE (v0) — that is
    // WAP's whole point (uncoordinated writers, serialized publishes) —
    // so the two staging writes and the base row count are independent
    // jobs and overlap (core.Par, guide §2.6)
    val Seq(badStaged, goodStaged) = graft.core.Par.run[String](
      () => stage(Lake.readCurrent(s, root).unionByName(badBatch),
        root, "cand_bad"),
      () => stage(
        Lake.readCurrent(s, root)
          .unionByName(orders.filter(col("o_orderkey") % 3 === 1)),
        root, "cand_good"))
    val baseRows = Lake.readCurrent(s, root).count()
    // the two audits read disjoint immutable staged dirs — overlap too
    val (badAudit, goodAudit) = graft.core.Par.run2(
      () => audit(s, badStaged, "o_orderkey", minRows = baseRows),
      () => audit(s, goodStaged, "o_orderkey", minRows = baseRows))
    val badPublished =
      if (badAudit.ok) publish(s, root, badStaged, "wA", v0).isDefined
      else false
    val rowsAfterReject = Lake.readCurrent(s, root).count()
    if (goodAudit.ok) publish(s, root, goodStaged, "wB", v0)

    val nVersions = Lake.versions(s, root).size
    Lake.readCurrent(s, root)
      .agg(count(lit(1)).as("n_rows"), E.sumd(col("o_totalprice")).as("total"))
      .select(
        lit(badAudit.nullKeys).as("bad_null_keys"),
        lit(badAudit.dupKeys).as("bad_dup_keys"),
        lit(badPublished).as("bad_published"),
        lit(rowsAfterReject).as("rows_after_reject"),
        lit(goodAudit.nullKeys).as("good_null_keys"),
        lit(goodAudit.dupKeys).as("good_dup_keys"),
        lit(nVersions.toLong).as("n_versions"),
        col("n_rows"), col("total"))
  }

  val all: Seq[Q] = Seq(xWapPublish)
}
