package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.core.{Exact => E, Q, Scratch, Tables => T}

/** Orphan-file garbage collection — the OTHER half of lake maintenance
  * beside snapshot expiry (x_vacuum_audit): expiry removes versions the
  * retention policy aged out; orphan GC removes files NO version ever
  * referenced — the droppings of dead writers and aborted jobs
  * (an uncommitted version directory whose writer died before its
  * commit marker, an abandoned WAP staging dir, a crashed compaction's
  * `__rewrite_tmp`, stray tool litter at the root). Left alone they
  * grow without bound and, worse, a half-written version dir can shadow
  * a version number forever. Iceberg ships this as
  * `remove_orphan_files`, separate from `expire_snapshots`, for exactly
  * this reason.
  *
  * The live set is derived from the commit protocol (Lake's
  * version-store section), not guesswork: committed versions (the
  * store's one listing, `Lake.committed`) are live; claims are PRESERVED even when their
  * version died — a claim is the audit record that consumed the version
  * number, and deleting it would re-open the lost-update window
  * ConcurrentCommit closes. Everything else under the root is an
  * orphan.
  *
  * Scale posture: GC is listing + deletes — metadata work proportional
  * to file count, never a data scan; the safety argument (a file is
  * orphan iff unreachable from any committed manifest) is a set
  * difference over directory listings. Production adds an age floor
  * (don't collect files younger than the longest plausible in-flight
  * write) — noted; the fixture's orphans are all planted post-commit.
  */
object OrphanGc {

  /** Auxiliary roots owned by sibling lake ops — live state that is NOT
    * reachable from any version manifest and must never be collected:
    * delete-vector sidecars (merge-on-read scans resolve them at read
    * time), branch lines, the catalog's table/pointer stores.
    */
  private val auxRoots = Set("deletes", "branches", "tables", "catalog")

  /** Delete everything under `root` that is not a committed version
    * dir, not inside one, not a claim marker, and not live auxiliary
    * state. WAP staging entries under `_staged/` are in-flight writes by
    * design, so they are collected only past `stagedGraceMs` — the
    * longest plausible in-flight write — never merely for existing.
    * Callers can extend the keep-set (`keep`, root-entry names) for
    * tool-specific litter they own. Returns (liveDirs,
    * orphanPathsRemoved).
    */
  def collect(spark: org.apache.spark.sql.SparkSession, root: String,
      stagedGraceMs: Long = 24L * 3600 * 1000,
      keep: Set[String] = Set.empty): (Long, Long) = {
    val rootP = new HPath(root)
    val fs = Lake.fsOf(spark, root)
    val entries = fs.listStatus(rootP).toSeq
    val live = Lake.committed(fs, rootP).map(_._2.getName)
    val keepNames = live.toSet ++ auxRoots ++ keep
    val now = System.currentTimeMillis()
    val (stagedRoot, others) =
      entries.partition(_.getPath.getName == "_staged")
    val orphans = others.filter { st =>
      val n = st.getPath.getName
      !keepNames.contains(n) && !Lake.isClaim(n)
    }
    // inside _staged/: collect only entries past the age floor — a young
    // entry is (or may be) a writer mid-stage, not an abandonment
    val staleStaged = stagedRoot.flatMap(st => fs.listStatus(st.getPath))
      .filter(st => now - st.getModificationTime >= stagedGraceMs)
    orphans.foreach(st => fs.delete(st.getPath, true))
    staleStaged.foreach(st => fs.delete(st.getPath, true))
    (live.size.toLong, (orphans.size + staleStaged.size).toLong)
  }

  /** X — plant every orphan class a real lake accumulates, collect, and
    * prove the survivors are exactly the committed history: v0 and v1
    * committed (orders thirds ≡0,1 mod 3); then a dead writer's
    * uncommitted version 2 (claim + files, no marker), an abandoned WAP
    * staging dir, a crashed rewrite's `__rewrite_tmp`, and a stray
    * root-level litter dir. GC must remove the four orphans, keep both
    * committed versions intact (exact rows + total re-read after), and
    * PRESERVE the dead claim — the next writer must still skip the
    * consumed version number.
    */
  val xOrphanGc = Q(
    "x_orphan_gc",
    """SELECT CAST(2 AS BIGINT) AS live_versions,
              CAST(4 AS BIGINT) AS orphans_removed,
              TRUE AS dead_claim_preserved,
              CAST(sum(CASE WHEN o_orderkey % 3 <= 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN o_orderkey % 3 <= 1
                THEN CAST(o_totalprice AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total,
              CAST(3 AS BIGINT) AS next_version
       FROM orders""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = s"${Scratch.fresh("graft_orphan")}/store"
    val fs = Lake.fsOf(s, root)

    ConcurrentCommit.commitAppend(s, root,
      orders.filter(col("o_orderkey") % 3 === 0), "w0")
    ConcurrentCommit.commitAppend(s, root,
      orders.filter(col("o_orderkey") % 3 === 1), "w1")

    // orphan 1: dead writer — claim taken, files written, no marker
    assert(Lake.tryClaim(fs, root, 2L, "dead"))
    val dead = Lake.versionPath(root, 2L)
    orders.limit(10).write.mode("overwrite").parquet(dead)
    fs.delete(Lake.markerOf(new HPath(dead)), false)
    // orphan 2: abandoned WAP staging — aged past the grace floor
    Wap.stage(orders.limit(5), root, "abandoned")
    fs.setTimes(new HPath(s"$root/_staged/abandoned"),
      System.currentTimeMillis() - 7L * 24 * 3600 * 1000, -1)
    // orphan 3: crashed rewrite temp
    orders.limit(5).write.mode("overwrite").parquet(s"$root/__rewrite_tmp")
    // orphan 4: stray litter at the root
    fs.mkdirs(new HPath(s"$root/tool_scratch"))
    // live state GC must NOT touch: an in-flight (young) WAP stage, a
    // delete-vector sidecar, a branch line — each owned by a sibling op
    Wap.stage(orders.limit(3), root, "inflight")
    DeleteVectors.commitDelete(orders.limit(2).select(col("o_orderkey")), root)
    Branching.commitToBranch(s, root, "wip", orders.limit(2))

    val (liveDirs, removed) = collect(s, root, stagedGraceMs = 3600 * 1000L)
    val claimKept = Lake.claimed(fs, root, 2L)
    assert(fs.exists(new HPath(s"$root/_staged/inflight")),
      "young in-flight WAP stage must survive GC")
    assert(DeleteVectors.sidecarCount(s, root) == 1,
      "delete-vector sidecars must survive GC")
    assert(Lake.versions(s, Lake.branchRoot(root, "wip")) == Seq(0L),
      "branch lines must survive GC")
    assert(!fs.exists(new HPath(s"$root/_staged/abandoned")),
      "aged-out staged entry must be collected")
    // the consumed version number stays consumed: the next CLAIMABLE
    // number (what any correct writer's CAS probe finds) skips the dead
    // claim and lands on 3, even though v=2's data was collected
    val next = Iterator.from(Lake.versions(s, root).last.toInt + 1)
      .find(v => !Lake.claimed(fs, root, v)).get.toLong

    // v1 = v0 ∪ batch, so the current committed state IS the survivors
    val state = Lake.readCurrent(s, root)
      .agg(count(lit(1)).as("n_rows"), E.sumd(col("o_totalprice")).as("total"))
    state.select(
      lit(liveDirs).as("live_versions"),
      lit(removed).as("orphans_removed"),
      lit(claimKept).as("dead_claim_preserved"),
      col("n_rows"), col("total"),
      lit(next).as("next_version"))
  }

  val all: Seq[Q] = Seq(xOrphanGc)
}
