package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Exact => E, Q, Tables => T}

/** Snapshot versioning / time travel — the table-format semantics a
  * lake needs beyond single-table upsert (x_upsert) and change
  * application (x_cdc_apply): every write produces a NEW immutable
  * version, old versions stay readable (snapshot isolation for running
  * readers + reproducible training runs pinned to a version), and the
  * version diff is an audit artifact.
  *
  * End-to-end against real files:
  *   v1 = the orders table, written whole;
  *   v2 = v1 with a deterministic change batch applied — deletes
  *        (key % 101 = 0), updates (key % 97 = 0, unless deleted —
  *        delete wins, the CDC precedence rule), and 3 appended rows
  *        above the key domain;
  *   both version directories coexist; the graded query READS THE
  *   STORE (never the change batch) and emits per version: row count,
  *   exact decimal value total, and the diff vs the previous version
  *   (added / removed / changed keys) computed by joining the two
  *   version reads.
  *
  * The oracle recomputes every number arithmetically from the raw
  * orders table — any row lost or doubled by the version write, any
  * precedence mistake, any diff-join defect lands in the hash.
  *
  * Scale posture: a version write is one pass over the previous
  * version plus the (small) batch; the diff is a full-outer equi-join
  * on the key with partial-agg counts — no windows, no driver state.
  * A real deployment adds a manifest listing data files per version so
  * old-version vacuuming and metadata-only diffs work; the store here
  * is the lake's version store (`Lake.commit`), one committed directory
  * per version, which is that manifest's simplest spelling.
  */
object TimeTravel {

  /** Fresh version-store root PER INVOCATION (the Compaction
    * discipline): a JVM-wide singleton store would let two concurrent
    * sessions overwrite each other's versions between the version writes
    * and the audit re-read. Shutdown-hook cleanup, not eager — the
    * audit DataFrame reads the store lazily.
    */
  private def freshStore(): String =
    s"${graft.core.Scratch.fresh("graft_ttravel")}/orders"

  /** Commit `df` as version `v` of a fresh store (no rival claimant). */
  private def put(df: DataFrame, store: String, v: Long): Unit =
    if (!Lake.commit(df, store, v, "time_travel"))
      throw new IllegalStateException(s"version $v of $store already claimed")

  val xTimeTravel = Q(
    "x_time_travel",
    """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
       mx AS (SELECT CAST(max(k) AS BIGINT) AS mk FROM o),
       dels AS (SELECT k FROM o WHERE k % 101 = 0),
       upds AS (SELECT k FROM o WHERE k % 97 = 0 AND k % 101 <> 0),
       ins AS (SELECT mk + i AS k, CAST(100.00 * i AS DOUBLE) AS v
               FROM mx, LATERAL (SELECT unnest(generate_series(1, 3)) AS i)),
       v1 AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total FROM o),
       v2s AS (SELECT CAST((SELECT count(*) FROM o)
                      - (SELECT count(*) FROM dels)
                      + 3 AS BIGINT) AS n_rows,
                CAST((SELECT sum(CAST(v AS DECIMAL(18,2))) FROM o)
                   - (SELECT coalesce(sum(CAST(v AS DECIMAL(18,2))), 0) FROM o WHERE k % 101 = 0)
                   + (SELECT count(*) FROM upds) * CAST(1000.00 AS DECIMAL(18,2))
                   + (SELECT sum(CAST(v AS DECIMAL(18,2))) FROM ins) AS DOUBLE) AS total)
       SELECT * FROM (
         SELECT CAST(1 AS BIGINT) AS version, n_rows, total,
                CAST(0 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed,
                CAST(0 AS BIGINT) AS n_changed
         FROM v1
         UNION ALL
         SELECT CAST(2 AS BIGINT), n_rows, total,
                CAST(3 AS BIGINT),
                (SELECT CAST(count(*) AS BIGINT) FROM dels),
                (SELECT CAST(count(*) AS BIGINT) FROM upds)
         FROM v2s)
       ORDER BY version""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
    val store = freshStore()

    // version 1: the full table
    put(orders, store, 1L)

    // the change batch (delete wins over update on overlap)
    val v1 = Lake.readVersion(s, store, 1L)
    val maxK = orders.agg(max(col("k"))).head().getLong(0)
    val applied = v1
      .filter(col("k") % 101 =!= 0)
      .withColumn("v", when(col("k") % 97 === 0, col("v") + 1000.0)
        .otherwise(col("v")))
      .unionByName(s.range(1, 4)
        .select((col("id") + maxK).as("k"), (col("id") * 100.0).as("v")))
    put(applied, store, 2L)

    // the graded audit reads ONLY the store
    def stats(ver: Int) = Lake.readVersion(s, store, ver)
      .agg(count(lit(1)).as("n_rows"), E.sumd(col("v")).as("total"))
      .select(lit(ver.toLong).as("version"), col("n_rows"), col("total"))
    val r1 = Lake.readVersion(s, store, 1L)
      .select(col("k").as("k1"), col("v").as("va"))
    val r2 = Lake.readVersion(s, store, 2L)
      .select(col("k").as("k2"), col("v").as("vb"))
    val diff = r1.join(r2, col("k1") === col("k2"), "full_outer")
      .agg(sum(when(col("k1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("k2").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("k1").isNotNull && col("k2").isNotNull &&
          col("va") =!= col("vb"), 1L).otherwise(0L)).as("n_changed"))
    stats(1)
      .withColumn("n_added", lit(0L))
      .withColumn("n_removed", lit(0L))
      .withColumn("n_changed", lit(0L))
      .unionByName(stats(2).crossJoin(broadcast(diff)))
      .orderBy("version")
  }

  /** X — snapshot expiry / VACUUM audit: the retention half of time
    * travel (a real lake expires old snapshots to reclaim storage and
    * bound the manifest; the audit proves expiry removed EXACTLY the
    * expired version's files while every retained version still reads
    * back intact). Three versions are written (v1 = full orders, v2 =
    * the x_time_travel change batch, v3 = v2 minus the k % 113 keys),
    * then v1 is expired — its directory REALLY deleted through the
    * Hadoop FileSystem — and the graded audit re-reads the store:
    * version, still-available flag, and exact row/total stats for the
    * survivors (zeros for the expired snapshot).
    *
    * The oracle recomputes every surviving version's stats
    * arithmetically from raw orders (delete-wins precedence, update
    * bump, inserts, then the second delete wave), so a vacuum that
    * removes too much (v2/v3 rows lost) or too little cannot hash
    * green; the spec additionally asserts the v1 directory is gone
    * from disk.
    *
    * Scale posture: expiry is file-manifest work (one directory/prefix
    * delete per expired snapshot), never a data scan; the audit scans
    * only retained versions.
    */
  val xVacuumAudit = Q(
    "x_vacuum_audit",
    """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
       mx AS (SELECT CAST(max(k) AS BIGINT) AS mk FROM o),
       v2k AS (SELECT k,
                 CAST(v AS DECIMAL(18,2))
                 + CASE WHEN k % 97 = 0 THEN CAST(1000.00 AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END AS v
               FROM o WHERE k % 101 <> 0
               UNION ALL
               SELECT mk + i, CAST(100.00 * i AS DECIMAL(18,2))
               FROM mx, LATERAL (SELECT unnest(generate_series(1, 3)) AS i)),
       v3k AS (SELECT * FROM v2k WHERE k % 113 <> 0),
       s2 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS DOUBLE) AS t
              FROM v2k),
       s3 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS DOUBLE) AS t
              FROM v3k)
       SELECT * FROM (
         SELECT CAST(1 AS BIGINT) AS version, FALSE AS available,
                CAST(0 AS BIGINT) AS n_rows, CAST(0 AS DOUBLE) AS total
         UNION ALL SELECT 2, TRUE, n, t FROM s2
         UNION ALL SELECT 3, TRUE, n, t FROM s3)
       ORDER BY version""") { (s, dir) =>
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
    val store = freshStore()
    put(orders, store, 1L)
    val v1 = Lake.readVersion(s, store, 1L)
    val maxK = orders.agg(max(col("k"))).head().getLong(0)
    val v2 = v1
      .filter(col("k") % 101 =!= 0)
      .withColumn("v", when(col("k") % 97 === 0, col("v") + 1000.0)
        .otherwise(col("v")))
      .unionByName(s.range(1, 4)
        .select((col("id") + maxK).as("k"), (col("id") * 100.0).as("v")))
    put(v2, store, 2L)
    put(Lake.readVersion(s, store, 2L).filter(col("k") % 113 =!= 0), store, 3L)

    // expire v1: the store's one expiry step, a real prefix delete
    // through the FileSystem
    Lake.expire(Lake.fsOf(s, store), store, 1L)
    val live = Lake.versions(s, store).toSet

    def audit(ver: Int) =
      if (live.contains(ver.toLong))
        Lake.readVersion(s, store, ver)
          .agg(count(lit(1)).as("n_rows"), E.sumd(col("v")).as("total"))
          .select(lit(ver.toLong).as("version"), lit(true).as("available"),
            col("n_rows"), col("total"))
      else
        s.range(1).select(lit(ver.toLong).as("version"),
          lit(false).as("available"), lit(0L).as("n_rows"),
          lit(0.0).as("total"))
    audit(1).unionByName(audit(2)).unionByName(audit(3)).orderBy("version")
  }

  val all: Seq[Q] = Seq(xTimeTravel, xVacuumAudit)
}
