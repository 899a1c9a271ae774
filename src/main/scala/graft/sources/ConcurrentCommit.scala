package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact => E, Q, Scratch, Tables => T}

/** Optimistic concurrency for the versioned lake (`Lake.writeVersioned` /
  * `readCurrent`): two writers appending against the same snapshot must
  * BOTH land, exactly once — the naive "read current, write version
  * N+1" races to the same version number and the slower writer silently
  * overwrites the faster one's files (the classic lost update; real
  * table formats hit this on day one of multi-pipeline writes).
  *
  * A writer reads the latest COMMITTED version N and commits its plan
  * over N as version N+1 through [[Lake.commit]], the claimed commit
  * (the format, the claim and why claims are never deleted are
  * described once, in Lake's version-store section). A claim LOSS is
  * the conflict detection: the writer waits for the claimant's commit to
  * become visible, then retries REBASED on the new committed version. A
  * claimant that dies still consumes its number (see the liveness note
  * on [[commitAppend]]).
  *
  * Scale posture: the CAS is one metadata round-trip per commit attempt;
  * the retry cost is re-running the append plan against the new base —
  * one extra pass over base ∪ batch, measured in docs/SCALING.md
  * (SCALE-CCOMMIT). Contention grows with writer count, not data size:
  * at 100 TB the batches are large but the claim is still one create()
  * call.
  */
object ConcurrentCommit {

  /** A successful commit: the version landed and how many claim losses
    * (detected conflicts, each followed by a rebase) preceded it.
    */
  final case class Commit(version: Long, retries: Int)

  /** One optimistic attempt at a PRE-COMPUTED next version:
    * [[Lake.commit]] of `merged`. Returns false on a claim loss (the
    * caller's snapshot went stale — rebase and retry). This is the seam
    * the graded query drives directly to exhibit a DETECTED conflict
    * deterministically; [[commitAppend]] is this in a retry loop.
    */
  def tryCommitAt(spark: SparkSession, root: String, merged: DataFrame,
      next: Long, writerId: String): Boolean =
    Lake.commit(merged, root, next, writerId)

  /** Append `batch` to the versioned dataset at `root` under optimistic
    * concurrency; returns the committed version and the conflict/retry
    * count. Liveness caveat, stated honestly: a claimant that DIES
    * between claim and commit wedges the version number — waiters time
    * out after `claimWaitMs` and throw rather than guess (stealing the
    * claim without a lease would re-open the lost update the protocol
    * exists to close); a production deployment attaches a lease/janitor
    * that expires dead claims. The spec covers live racers and the
    * timeout path.
    */
  def commitAppend(spark: SparkSession, root: String, batch: DataFrame,
      writerId: String, maxRetries: Int = 10,
      claimWaitMs: Long = 30000): Commit =
    // rebase: the merge plan is recomputed from the CURRENT committed
    // base on every attempt — a stale snapshot can win nothing
    retrying(spark, root, writerId, maxRetries, claimWaitMs)(
      _.fold(batch)(v => Lake.readVersion(spark, root, v).unionByName(batch)))

  /** Optimistic commit of an arbitrary snapshot TRANSFORM — compaction,
    * re-clustering, schema maintenance: the OTHER conflict class, where
    * a maintenance job races the appenders. Like [[commitAppend]] but
    * the merged plan is `transform(current committed base)`, recomputed
    * from the new base on every retry — a compactor that loses its CAS
    * re-compacts INCLUDING the rows the winning append just landed, so
    * maintenance can never erase data. Requires an existing committed
    * version (there is nothing to transform otherwise).
    */
  def commitTransform(spark: SparkSession, root: String,
      transform: DataFrame => DataFrame, writerId: String,
      maxRetries: Int = 10, claimWaitMs: Long = 30000): Commit =
    retrying(spark, root, writerId, maxRetries, claimWaitMs) { cur =>
      transform(Lake.readVersion(spark, root, cur.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))))
    }

  /** The retry loop both commits share: `plan` builds the candidate from
    * the current committed version (None for an empty store), committed
    * as the next one; a claim loss waits for the claimant's commit
    * ([[Lake.awaitCommit]]) and rebases.
    */
  private def retrying(spark: SparkSession, root: String, writerId: String,
      maxRetries: Int, claimWaitMs: Long)(plan: Option[Long] => DataFrame)
      : Commit = {
    var retries = 0
    while (retries <= maxRetries) {
      val cur = Lake.versions(spark, root).lastOption
      val next = cur.fold(0L)(_ + 1)
      if (Lake.commit(plan(cur), root, next, writerId))
        return Commit(next, retries)
      retries += 1
      Lake.awaitCommit(spark, root, next, claimWaitMs)
    }
    throw new IllegalStateException(
      s"writer $writerId: gave up after $maxRetries conflicts at $root")
  }

  /** X — the maintenance-vs-append race: a compactor snapshots v0 (16
    * deliberately small files), an append commits v1 under it, and the
    * compactor's optimistic attempt at v1 LOSES the CAS — had it won,
    * the freshly appended batch would have been erased by a rewrite of
    * the stale snapshot (the classic table-format OPTIMIZE conflict).
    * The rebase re-compacts the NEW base, so v2 = base ∪ batch in
    * exactly 4 files (repartition(4), not coalesce: tiny-file packing
    * makes coalesce's output count input-partition-dependent, and the
    * graded fact must be deterministic). The graded row reads only the
    * store: version count, the compactor's conflict count, final
    * rows + exact total, file counts before/after, and the lost-append
    * flag spelled as an explicit boolean.
    */
  val xCompactCommitRace = Q(
    "x_compact_commit_race",
    """SELECT CAST(3 AS BIGINT) AS n_versions,
              CAST(1 AS BIGINT) AS compactor_retries,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
              CAST(16 AS BIGINT) AS n_files_before,
              CAST(4 AS BIGINT) AS n_files_after,
              FALSE AS lost_append
       FROM orders WHERE o_orderkey % 3 IN (0, 1)""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = s"${Scratch.fresh("graft_ccrace")}/store"

    // v0: the small-files base the compactor wants to fix
    commitAppend(s, root,
      orders.filter(col("o_orderkey") % 3 === 0).repartition(16), "w0")
    val nFilesBefore = Lake.readVersion(s, root, 0L).inputFiles.length.toLong

    // the compactor snapshots v0 and builds its rewrite plan...
    val cSnap = Lake.versions(s, root).last
    val cPlan = Lake.readVersion(s, root, cSnap).repartition(4)

    // ...an append lands first
    commitAppend(s, root, orders.filter(col("o_orderkey") % 3 === 1), "A")

    // the stale rewrite MUST lose the CAS (else the append is erased)
    val cFirstWon = tryCommitAt(s, root, cPlan, cSnap + 1, "C")
    val cC = commitTransform(s, root, _.repartition(4), "C")
    val cRetries = (if (cFirstWon) 0 else 1) + cC.retries

    val versions = Lake.versions(s, root)
    val nFilesAfter =
      Lake.readVersion(s, root, versions.last).inputFiles.length.toLong
    val expected = orders.filter(col("o_orderkey") % 3 <= 1).count()
    Lake.readCurrent(s, root)
      .agg(count(lit(1)).as("n_rows"), E.sumd(col("o_totalprice")).as("total"))
      .select(
        lit(versions.size.toLong).as("n_versions"),
        lit(cRetries.toLong).as("compactor_retries"),
        col("n_rows"), col("total"),
        lit(nFilesBefore).as("n_files_before"),
        lit(nFilesAfter).as("n_files_after"),
        (col("n_rows") =!= lit(expected)).as("lost_append"))
  }

  /** X — the two-writer conflict, end to end against real files, with
    * the interleave pinned so every number is deterministic:
    *
    *   v0 = orders where key % 3 = 0 (the base snapshot);
    *   writer A snapshots v0 and computes its merged plan (v0 ∪ the
    *     key % 3 = 1 batch) — then stalls;
    *   writer B commits its batch (key % 3 = 2) → v1;
    *   A's optimistic attempt at v1 LOSES the CAS (conflict DETECTED —
    *     B's claim file is the manifest A's snapshot didn't know about);
    *   A retries rebased on v1 → commits v2.
    *
    * The graded row reads ONLY the store: version count, both writers'
    * retry counts, and the final snapshot's row count + exact decimal
    * total — if the lost update happened (A's stale v0 ∪ A overwriting
    * B's v1), n_rows comes up a third short and the hash fails; the
    * `lost_update` flag spells the same check as an explicit boolean.
    * The threaded (non-deterministic schedule) race is exercised in
    * ConcurrentCommitSpec, where exactly-once is asserted under real
    * concurrency.
    */
  val xConcurrentCommit = Q(
    "x_concurrent_commit",
    """SELECT CAST(3 AS BIGINT) AS n_versions,
              CAST(1 AS BIGINT) AS a_retries,
              CAST(0 AS BIGINT) AS b_retries,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
              FALSE AS lost_update
       FROM orders""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = s"${Scratch.fresh("graft_ccommit")}/store"

    // the base snapshot
    commitAppend(s, root, orders.filter(col("o_orderkey") % 3 === 0), "w0")

    // writer A reads its snapshot and builds its merged plan...
    val aSnap = Lake.versions(s, root).last
    val aBatch = orders.filter(col("o_orderkey") % 3 === 1)
    val aMerged = Lake.readVersion(s, root, aSnap).unionByName(aBatch)

    // ...writer B commits first — A's snapshot is now stale
    val cB = commitAppend(s, root, orders.filter(col("o_orderkey") % 3 === 2), "B")

    // A's optimistic attempt at its stale next version: CAS loss = conflict
    val aFirstWon = tryCommitAt(s, root, aMerged, aSnap + 1, "A")
    // loser retries REBASED on the new committed base
    val cA = commitAppend(s, root, aBatch, "A")
    val aRetries = (if (aFirstWon) 0 else 1) + cA.retries

    val versions = Lake.versions(s, root)
    val expected = orders.count()
    Lake.readCurrent(s, root)
      .agg(count(lit(1)).as("n_rows"), E.sumd(col("o_totalprice")).as("total"))
      .select(
        lit(versions.size.toLong).as("n_versions"),
        lit(aRetries.toLong).as("a_retries"),
        lit(cB.retries.toLong).as("b_retries"),
        col("n_rows"), col("total"),
        (col("n_rows") =!= lit(expected)).as("lost_update"))
  }

  val all: Seq[Q] = Seq(xConcurrentCommit, xCompactCommitRace)
}
