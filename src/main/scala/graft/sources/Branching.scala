package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact => E, Q, Scratch, Tables => T}

/** Git-style BRANCHES over the versioned lake (the Nessie / Iceberg-ref
  * model): a branch is an isolated line of snapshots forked from a main
  * version; work proceeds on the branch (experiments, backfills, risky
  * rewrites) without main ever observing it, and MERGE brings it back —
  * fast-forward when main has not moved, three-way by key when it has:
  *
  *   for each key, with S = value at the fork base, M = at main head,
  *   B = at branch head (each possibly absent):
  *     only branch changed (M = S) → take B
  *     only main changed  (B = S) → take M
  *     both changed, agree (M = B) → take it
  *     both changed, differ       → CONFLICT — resolved branch-wins
  *                                   here, and COUNTED (a real system
  *                                   surfaces the count for review)
  *
  * "Changed" covers updates, inserts and deletes uniformly by treating
  * absence as a state: the three-way runs over base ∪ main ∪ branch via
  * two full-outer joins on the key, one row per key ever seen — no
  * driver state, no ordering assumption. This is the standard
  * last-writer-wins register CRDT shape, made deterministic by fixing
  * the winner side instead of a timestamp.
  *
  * Scale posture: a branch snapshot is an ordinary versioned write (no
  * copy of main — the fork records the BASE VERSION NUMBER, and the
  * lake's version dirs are immutable so the base stays readable);
  * fast-forward is one CAS + pointer write with zero data movement;
  * the three-way is two key-partitioned joins over exactly the three
  * snapshots involved. The merge commit lands on main through the same
  * claimed commit as every other writer ([[Lake.commit]]), so merges
  * race appends safely.
  */
object Branching {

  /** Fork a branch at main's current head; returns the base version the
    * fork is pinned to. Data is NOT copied — a fork is one tiny marker
    * file recording the base version number; reads resolve to main's
    * immutable base snapshot until the branch's first own commit. (At
    * lake scale a fork that copied the snapshot would be a full table
    * rewrite — the entire point of the ref model is that it is not.)
    */
  def fork(spark: SparkSession, root: String, branch: String): Long = {
    val base = Lake.versions(spark, root).last
    Lake.pinBase(Lake.fsOf(spark, root), root, branch, base) // fails if taken
    base
  }

  /** The base version a branch was forked from (its pin). */
  def baseOf(spark: SparkSession, root: String, branch: String): Long =
    Lake.pinnedBase(Lake.fsOf(spark, root), root, branch).getOrElse(
      throw new IllegalStateException(s"branch $branch has no readable base pin"))

  /** Commit a full snapshot to the branch (branch lines are single-
    * writer here; the commit is still claimed, so a racing committer
    * fails loudly instead of overwriting).
    */
  def commitToBranch(spark: SparkSession, root: String, branch: String,
      snapshot: DataFrame): Long =
    Lake.commitNext(snapshot, Lake.branchRoot(root, branch), "branch:" + branch)

  /** Branch head as a DataFrame: the branch's own latest commit, or —
    * for a fresh fork with no commits yet — main's pinned base snapshot.
    * The fresh-fork path resolves the pin through [[Lake.readVersion]],
    * which admits only committed (marker-carrying) version dirs —
    * the same committedness check every other read path applies; the
    * pin itself is protected from retention by Lake.writeVersioned's
    * keep-set, so the read cannot race a publish that
    * would have retired the base.
    */
  def readBranch(spark: SparkSession, root: String, branch: String): DataFrame =
    Lake.currentVersion(spark, Lake.branchRoot(root, branch)) match {
      case Some(head) => spark.read.parquet(head)
      case None => Lake.readVersion(spark, root, baseOf(spark, root, branch))
    }

  /** Delete a branch: removes its directory — commits AND the base
    * pin — releasing the base version back to normal retention
    * (the next publish may retire it). The merge protocol does not
    * auto-delete: a merged branch's history stays inspectable until the
    * owner deletes it, matching the Nessie/Iceberg ref lifecycle.
    */
  def deleteBranch(spark: SparkSession, root: String, branch: String): Boolean = {
    Lake.fsOf(spark, root).delete(
      new org.apache.hadoop.fs.Path(Lake.branchRoot(root, branch)), true)
  }

  /** Merge result: the landed main version, whether it fast-forwarded,
    * and the key-level conflict count (0 for fast-forward).
    */
  final case class Merge(version: Long, fastForward: Boolean, conflicts: Long)

  /** Merge `branch` into main. `keyCol` identifies rows; `valCols` are
    * the compared payload. Branch-wins conflict resolution, counted.
    */
  def merge(spark: SparkSession, root: String, branch: String,
      baseVersion: Long, keyCol: String, valCols: Seq[String],
      writerId: String): Merge = {
    val head = Lake.versions(spark, root).last
    val branchHead = readBranch(spark, root, branch)
    if (head == baseVersion) {
      // fast-forward: main has not moved since the fork
      if (!Lake.commit(branchHead, root, head + 1, writerId))
        throw new IllegalStateException(
          s"fast-forward lost its claim on version ${head + 1}; re-merge on the new head")
      return Merge(head + 1, fastForward = true, conflicts = 0L)
    }
    val stv = struct(valCols.map(col): _*)
    def keyed(df: DataFrame, name: String): DataFrame =
      df.select(col(keyCol), stv.as(name))
    val three = keyed(Lake.readVersion(spark, root, baseVersion), "s")
      .join(keyed(Lake.readVersion(spark, root, head), "m"),
        Seq(keyCol), "full_outer")
      .join(keyed(branchHead, "b"), Seq(keyCol), "full_outer")
    // null-safe change tests: <=> treats absent (null struct) as a value
    val mChanged = !(col("m") <=> col("s"))
    val bChanged = !(col("b") <=> col("s"))
    val conflict = mChanged && bChanged && !(col("m") <=> col("b"))
    val resolved = three.select(col(keyCol),
      when(!bChanged, col("m")) // covers main-only change AND no change
        .otherwise(col("b"))    // branch changed: branch-wins (incl. conflicts)
        .as("v"),
      conflict.cast("long").as("is_conflict"))
    // coalesce: a degenerate merge (empty three-way key union) sums over
    // zero rows → null; that is 0 conflicts, not an NPE
    val conflicts = resolved
      .agg(coalesce(sum(col("is_conflict")), lit(0L))).collect()
      .head.getLong(0)
    val merged = resolved.filter(col("v").isNotNull) // both-deleted keys drop
      .select(col(keyCol) +: valCols.map(c => col(s"v.$c").as(c)): _*)
    if (!Lake.commit(merged, root, head + 1, writerId))
      throw new IllegalStateException(
        s"merge lost its claim on version ${head + 1}; re-merge on the new head")
    Merge(head + 1, fastForward = false, conflicts = conflicts)
  }

  /** X — the divergent-history merge end to end on real version dirs:
    *
    *   main v0 = keys ≡0 (mod 3);
    *   branch forks at v0, commits: +5.00 on its keys ≡0 (mod 5), plus
    *     the ≡1 (mod 3) keyspace INSERTED;
    *   main moves on: +1.00 on its keys ≡0 (mod 7), plus ≡2 (mod 3)
    *     INSERTED — the fork base is now stale;
    *   merge: three-way by key. Conflicts are exactly the keys ≡0
    *     (mod 3·5·7=105, within the v0 keyspace) both sides repriced —
    *     branch-wins keeps +5.00 there; main's +1.00 survives where the
    *     branch left the key alone; both insert sets land.
    *
    * The graded row reads the merged head: row count (all three key
    * classes), the exact repriced total, the conflict count, ff=false,
    * and version counts on both lines. The oracle reprices every key in
    * plain SQL — any wrong arm of the resolution CASE shifts the total.
    */
  val xLakeBranch = Q(
    "x_lake_branch",
    """SELECT FALSE AS fast_forward,
              CAST(sum(CASE WHEN o_orderkey % 105 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_conflicts,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                + CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 5 = 0
                    THEN CAST(5.00 AS DECIMAL(18,2))
                  WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
                    THEN CAST(1.00 AS DECIMAL(18,2))
                  ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE) AS total,
              CAST(3 AS BIGINT) AS main_versions,
              CAST(1 AS BIGINT) AS branch_versions
       FROM orders""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = s"${Scratch.fresh("graft_branch")}/store"
    val plus = (df: DataFrame, m: Int, amt: String) => df.select(
      col("o_orderkey"),
      when(col("o_orderkey") % m === 0,
        (col("o_totalprice").cast("decimal(18,2)") +
          expr(s"cast($amt as decimal(18,2))")).cast("double"))
        .otherwise(col("o_totalprice")).as("o_totalprice"))

    ConcurrentCommit.commitAppend(s, root,
      orders.filter(col("o_orderkey") % 3 === 0), "w0")
    val base = fork(s, root, "feature")

    // branch work: reprice mod-5 keys, insert the mod-3=1 keyspace
    commitToBranch(s, root, "feature",
      plus(readBranch(s, root, "feature"), 5, "5.00")
        .unionByName(orders.filter(col("o_orderkey") % 3 === 1)))

    // main moves on: reprice mod-7 keys, insert the mod-3=2 keyspace
    ConcurrentCommit.commitTransform(s, root,
      cur => plus(cur, 7, "1.00")
        .unionByName(orders.filter(col("o_orderkey") % 3 === 2)),
      "main")

    val m = merge(s, root, "feature", base, "o_orderkey",
      Seq("o_totalprice"), "merger")

    val mainVersions = Lake.versions(s, root).size.toLong
    val branchVersions =
      Lake.versions(s, Lake.branchRoot(root, "feature")).size.toLong
    Lake.readCurrent(s, root)
      .agg(count(lit(1)).as("n_rows"), E.sumd(col("o_totalprice")).as("total"))
      .select(lit(m.fastForward).as("fast_forward"),
        lit(m.conflicts).as("n_conflicts"),
        col("n_rows"), col("total"),
        lit(mainVersions).as("main_versions"),
        lit(branchVersions).as("branch_versions"))
  }

  val all: Seq[Q] = Seq(xLakeBranch)
}
