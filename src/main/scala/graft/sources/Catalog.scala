package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Scratch, Tables => T}

/** Multi-table atomic commits via a versioned CATALOG pointer — the
  * missing transaction scope above single-table versioning. The
  * single-table ops (ConcurrentCommit, Wap) make ONE table's snapshot
  * atomic; but gold tables come in consistent FAMILIES (a fact table
  * and its aggregate, an index and its corpus): a reader that sees
  * table A at its new version and table B at its old one observes a
  * state that never existed. The catalog closes this the way lakehouse
  * catalogs do (Iceberg REST catalog's multi-table commit,
  * Delta-on-Unity): table versions are only ADDRESSED through a
  * catalog version — one tiny manifest mapping table → version —
  * published with the same claimed commit pinned to its base as
  * ConcurrentCommit, so the pair (A@x, B@y) becomes visible in one
  * atomic step or not at all.
  *
  * Table data writes are un-coordinated and cheap to retry (a written
  * but never-referenced table version is garbage, not corruption — the
  * vacuum discipline collects it); ONLY the catalog pointer needs
  * consensus. That is the scale story: the coordination cost is one
  * k-row manifest write + one CAS per transaction, independent of how
  * many terabytes the member tables moved.
  */
object Catalog {

  /** Write `df` as version `v` of `table` under the catalog root.
    * Un-coordinated: visibility comes only from a catalog publish.
    */
  def writeTable(df: DataFrame, root: String, table: String, v: Long): Unit =
    df.write.mode("overwrite").parquet(Lake.versionPath(tableRoot(root, table), v))

  private def tableRoot(root: String, table: String): String =
    s"$root/tables/$table"

  /** Committed catalog versions, oldest first. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    Lake.versions(spark, s"$root/catalog")

  /** Atomically publish a new catalog version mapping table → version.
    * `base` is the catalog version the transaction READ (−1 for an
    * empty catalog); the claimed commit is pinned to base+1, so any
    * concurrent publish since the read makes this one lose (None) —
    * the Wap.publish discipline lifted to the catalog.
    */
  def publish(spark: SparkSession, root: String,
      mapping: Map[String, Long], base: Long, writerId: String)
      : Option[Long] = {
    import spark.implicits._
    val manifest = mapping.toSeq.sortBy(_._1)
      .toDF("table_name", "table_version").coalesce(1)
    Option.when(Lake.commit(manifest, s"$root/catalog", base + 1, writerId))(
      base + 1)
  }

  /** The table→version mapping at a catalog version. */
  def mappingAt(spark: SparkSession, root: String, v: Long)
      : Map[String, Long] =
    Lake.readVersion(spark, s"$root/catalog", v)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Read `table` as pinned by catalog version `v`. */
  def readAt(spark: SparkSession, root: String, v: Long,
      table: String): DataFrame = {
    val tv = mappingAt(spark, root, v).getOrElse(table,
      throw new IllegalStateException(s"catalog version $v has no table $table"))
    Lake.readVersion(spark, tableRoot(root, table), tv)
  }

  /** X — the two-table transaction end to end, with the consistency
    * invariant a catalog exists to protect measured on BOTH sides:
    *
    *   txn 0: orders_gold@0 = even-key orders, lineitem_gold@0 = their
    *     lineitems → catalog v0. Invariant: zero orphan lineitems.
    *   txn 1: both tables rewritten to the full keyspace → catalog v1.
    *     Invariant still zero, ATOMICALLY.
    *   the hazard, quantified: a NON-transactional reader mixing
    *     orders_gold@0 with lineitem_gold@1 (exactly what independent
    *     per-table pointers allow mid-publish) sees mixed_orphans > 0 —
    *     lineitems whose order does not exist in its paired table.
    *   a stale writer publishes against base 0 after v1 landed: CAS
    *     loss, catalog unchanged (stale_published = false).
    *
    * Orphan counts are computed by REAL anti-joins over the
    * catalog-resolved reads, not key arithmetic; the oracle recomputes
    * them from the raw tables.
    */
  val xCatalogTxn = Q(
    "x_catalog_txn",
    """SELECT
         (SELECT CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) FROM orders) AS c0_orders,
         (SELECT CAST(sum(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) FROM lineitem) AS c0_line,
         CAST(0 AS BIGINT) AS orphans_v0,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS c1_orders,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS c1_line,
         CAST(0 AS BIGINT) AS orphans_v1,
         (SELECT CAST(sum(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) FROM lineitem) AS mixed_orphans,
         FALSE AS stale_published,
         CAST(2 AS BIGINT) AS n_catalog_versions""") { (s, dir) =>
    val orders = T(s, dir, "orders").select(col("o_orderkey"))
    val line = T(s, dir, "lineitem").select(col("l_orderkey"))
    val root = s"${Scratch.fresh("graft_catalog")}/lake"

    // txn 0: the consistent even-key pair. The two member-table writes
    // are UN-COORDINATED by design (visibility comes only from the
    // publish), so they overlap (core.Par, guide §2.6) — the exact
    // concurrency a real multi-writer transaction has before its one
    // serialized catalog CAS.
    graft.core.Par.run(
      () => writeTable(orders.filter(col("o_orderkey") % 2 === 0), root,
        "orders_gold", 0L),
      () => writeTable(line.filter(col("l_orderkey") % 2 === 0), root,
        "lineitem_gold", 0L))
    val v0 = publish(s, root, Map("orders_gold" -> 0L, "lineitem_gold" -> 0L),
      base = -1L, "txn0").get

    // txn 1: both tables move to the full keyspace, atomically
    graft.core.Par.run(
      () => writeTable(orders, root, "orders_gold", 1L),
      () => writeTable(line, root, "lineitem_gold", 1L))
    val v1 = publish(s, root, Map("orders_gold" -> 1L, "lineitem_gold" -> 1L),
      base = v0, "txn1").get

    // a stale writer that read v0 must lose, not fork history
    val stale = publish(s, root,
      Map("orders_gold" -> 0L, "lineitem_gold" -> 1L), base = v0, "late")

    def orphans(cv: Long): Long =
      readAt(s, root, cv, "lineitem_gold")
        .join(readAt(s, root, cv, "orders_gold"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .count()
    // the mixed read a non-transactional reader could observe
    def mixedOrphans: Long =
      Lake.readVersion(s, tableRoot(root, "lineitem_gold"), 1L)
        .join(Lake.readVersion(s, tableRoot(root, "orders_gold"), 0L),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .count()

    import s.implicits._
    // the seven audit reads are independent snapshot reads of an
    // already-published (immutable) store — overlap them (guide §2.6)
    val audits = graft.core.Par.run[Long](
      () => readAt(s, root, v0, "orders_gold").count(),
      () => readAt(s, root, v0, "lineitem_gold").count(),
      () => orphans(v0),
      () => readAt(s, root, v1, "orders_gold").count(),
      () => readAt(s, root, v1, "lineitem_gold").count(),
      () => orphans(v1),
      () => mixedOrphans)
    Seq((
      audits(0), audits(1), audits(2), audits(3), audits(4), audits(5),
      audits(6),
      stale.isDefined,
      versions(s, root).size.toLong))
      .toDF("c0_orders", "c0_line", "orphans_v0", "c1_orders", "c1_line",
        "orphans_v1", "mixed_orphans", "stale_published",
        "n_catalog_versions")
  }

  val all: Seq[Q] = Seq(xCatalogTxn)
}
