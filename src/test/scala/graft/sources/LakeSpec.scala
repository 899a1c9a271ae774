package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

class LakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("date-partitioned write produces hive dirs and prunes on read") {
    val out = Scratch.fresh("graft_part").toString + "/events"
    val events = graft.core.Tables(spark, sf, "events")
    Lake.writeDatePartitioned(events, "ts", out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("event_date=")))
    val pruned = spark.read.parquet(out).filter(col("event_date") === "2024-01-03")
    assert(pruned.count() > 0)
    // partition filter must appear as a partition filter, not a data filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("bucketed co-located join plans with no shuffle exchange") {
    val orders = graft.core.Tables(spark, sf, "orders")
    val customer = graft.core.Tables(spark, sf, "customer")
    Lake.writeBucketed(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders_b", "o_custkey", 8)
    Lake.writeBucketed(customer.select("c_custkey", "c_name"),
      "customer_b", "c_custkey", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == orders.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("compact merges small files, preserves rows, and is idempotent") {
    val events = graft.core.Tables(spark, sf, "events")
    val dir = Scratch.fresh("graft_compact").toString + "/events"
    events.repartition(40).write.parquet(dir) // simulate micro-batch litter
    def nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val n = events.count()
    assert(nFiles == 40)
    Lake.compact(spark, dir, targetBytes = 512L << 20)
    assert(nFiles == 1)
    assert(spark.read.parquet(dir).count() == n)
    Lake.compact(spark, dir, targetBytes = 512L << 20) // no-op second pass
    assert(nFiles == 1 && spark.read.parquet(dir).count() == n)
  }

  test("compact recovers a half-swapped directory from a prior crash") {
    val events = graft.core.Tables(spark, sf, "events")
    val dir = Scratch.fresh("graft_compact_rec").toString + "/events"
    events.repartition(8).write.parquet(dir)
    val n = events.count()
    // simulate a crash between the two swap renames: source gone,
    // data stranded in __compact_old
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    Lake.renameOrThrow(fs, new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__rewrite_old"))
    assert(!new java.io.File(dir).exists())
    Lake.compact(spark, dir, targetBytes = 512L << 20)
    assert(spark.read.parquet(dir).count() == n)
    assert(!new java.io.File(dir + "__rewrite_old").exists())
  }

  test("upsert replaces same-key rows and appends new keys") {
    val nation = graft.core.Tables(spark, sf, "nation")
    val dir = Scratch.fresh("graft_upsert").toString + "/nation"
    nation.write.parquet(dir)
    val updates = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(0, "RENAMED", 0, "updated row"),
        org.apache.spark.sql.Row(99, "NEWLAND", 1, "appended row"))),
      nation.schema)
    Lake.upsert(spark, dir, updates, Seq("n_nationkey"))
    val back = spark.read.parquet(dir)
    assert(back.count() == nation.count() + 1)
    assert(back.filter(col("n_nationkey") === 0).head().getString(1) == "RENAMED")
    assert(back.filter(col("n_nationkey") === 99).count() == 1)
    // idempotent: same upsert again changes nothing
    Lake.upsert(spark, dir, updates, Seq("n_nationkey"))
    assert(spark.read.parquet(dir).count() == nation.count() + 1)
  }

  test("clustered write narrows per-file min/max bands for pruning") {
    val orders = graft.core.Tables(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dir = Scratch.fresh("graft_cluster").toString + "/orders"
    Lake.writeClustered(orders, dir, numFiles = 4, "o_custkey")
    // each output file must cover a disjoint o_custkey range
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 4)
    val bands = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("o_custkey")), max(col("o_custkey"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    bands.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"bands overlap: ${bands.toSeq}")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == orders.count())
  }

  test("versioned dataset: compact publishes a new version while a reader " +
      "of the old version is undisturbed") {
    val events = graft.core.Tables(spark, sf, "events")
    val root = Scratch.fresh("graft_versioned").toString + "/events"
    val n = events.count()
    val v0 = Lake.writeVersioned(events.repartition(40), root)
    assert(v0 == 0)
    val v0Dir = Lake.currentVersion(spark, root).get
    // a reader that resolved v=0 BEFORE the compaction starts
    val inFlight = spark.read.parquet(v0Dir)
    Lake.compactVersioned(spark, root, targetBytes = 512L << 20)
    // new version is current...
    val v1Dir = Lake.currentVersion(spark, root).get
    assert(v1Dir != v0Dir && v1Dir.endsWith("v=1"))
    assert(Lake.readCurrent(spark, root).count() == n)
    // ...and the in-flight reader still scans v=0 intact (grace generation)
    assert(inFlight.count() == n)
    assert(new java.io.File(v0Dir.stripPrefix("file:")).exists())
    // the NEXT rewrite retires v=0 but keeps v=1
    Lake.writeVersioned(events.limit(10), root)
    assert(!new java.io.File(v0Dir.stripPrefix("file:")).exists())
    assert(new java.io.File(v1Dir.stripPrefix("file:")).exists())
    assert(Lake.readCurrent(spark, root).count() == 10)
    // time travel: both on-disk committed versions are addressable, and
    // diffing current against previous is the dataset-diff input shape
    assert(Lake.versions(spark, root) == Seq(1L, 2L))
    assert(Lake.readVersion(spark, root, 1L).count() == n)
    assert(Lake.readVersion(spark, root, 2L).count() == 10)
    val diff = graft.ops.Extra.datasetDiff(
      Lake.readVersion(spark, root, 1L).select("event_id", "value"),
      Lake.readVersion(spark, root, 2L).select("event_id", "value"),
      Seq("event_id"))
    assert(diff.filter(col("op") === "removed").count() == n - 10)
    // a retired version fails loudly, naming what IS available
    val err = intercept[IllegalStateException] {
      Lake.readVersion(spark, root, 0L)
    }
    assert(err.getMessage.contains("have: 1, 2"))
  }

  test("versioned reader ignores an uncommitted (no _SUCCESS) version") {
    val nation = graft.core.Tables(spark, sf, "nation")
    val root = Scratch.fresh("graft_versioned2").toString + "/nation"
    Lake.writeVersioned(nation, root)
    // simulate a writer that died mid-publish: v=1 exists without _SUCCESS
    val half = new java.io.File(s"$root/v=1")
    assert(half.mkdirs())
    assert(Lake.currentVersion(spark, root).get.endsWith("v=0"))
    assert(Lake.readCurrent(spark, root).count() == nation.count())
    // the next publish skips past the dead dir's number...
    val next = Lake.writeVersioned(nation, root)
    assert(next == 2)
    // ...keeps the COMMITTED v=0 as the grace generation for in-flight
    // readers (the dead writer's dir must never displace it), and
    // removes the dead dir
    assert(new java.io.File(s"$root/v=0").exists(),
      "committed grace version was retired in favor of a dead writer's dir")
    assert(!half.exists(), "uncommitted dead dir should be cleaned up")
    assert(Lake.currentVersion(spark, root).get.endsWith("v=2"))
    // stray non-numeric "v=..." litter must not crash any entry point
    assert(new java.io.File(s"$root/v=backup").mkdirs())
    assert(Lake.currentVersion(spark, root).get.endsWith("v=2"))
    assert(Lake.readCurrent(spark, root).count() == nation.count())
  }

  test("manifest-pruned read skips non-overlapping files and loses no rows") {
    val orders = graft.core.Tables(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dir = Scratch.fresh("graft_manifest").toString + "/orders"
    Lake.writeClusteredWithManifest(orders, dir, 8, "o_custkey")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val entries = Lake.manifestEntries(fs,
      new org.apache.hadoop.fs.Path(dir, "_manifest.json"), "o_custkey")
    assert(entries.length == 8)
    // a narrow band must touch a strict subset of files (bands disjoint);
    // sf0.001 custkeys span ~1-150, so stay low in the range
    val (lo, hi) = (40L, 70L)
    val touched = entries.count { case (_, flo, fhi) => fhi >= lo && flo <= hi }
    assert(touched < 8, s"expected pruning, manifest=$entries")
    val pruned = Lake.readPruned(spark, dir, "o_custkey", lo, hi)
    val full = spark.read.parquet(dir)
      .filter(col("o_custkey") >= lo && col("o_custkey") <= hi)
    assert(pruned.count() == full.count())
    // the pruned plan reads fewer files than the directory holds
    assert(pruned.queryExecution.executedPlan.toString.contains("Scan parquet"))
    // an empty band yields an empty frame, not an error
    assert(Lake.readPruned(spark, dir, "o_custkey", -10L, -5L).count() == 0)
    // plain readers are unaffected by the underscore manifest file
    assert(spark.read.parquet(dir).count() == orders.count())
  }

  test("z-order prunes on BOTH dimensions where linear clustering can't") {
    val orders = graft.core.Tables(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val files = 16
    val zdir = Scratch.fresh("graft_z").toString + "/orders"
    Lake.writeZOrdered(orders, zdir, files, "o_custkey", "o_totalprice")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(zdir, "_zmanifest.json")
    // narrow bands on each dimension, sized to the sf0.001 domain
    // (custkey ~1-150, totalprice ~1k-500k)
    val ck = "o_custkey" -> (40L, 70L)
    val tp = "o_totalprice" -> (20000L, 120000L)
    val byCust = Lake.prunedFiles(fs, mPath, Seq(ck)).length
    val byPrice = Lake.prunedFiles(fs, mPath, Seq(tp)).length
    val byBoth = Lake.prunedFiles(fs, mPath, Seq(ck, tp)).length
    // the z-curve gives EVERY dimension locality: each single-column
    // band must already skip files, and the conjunction skips more
    assert(byCust < files, s"custkey band touched all $files files")
    assert(byPrice < files, s"price band touched all $files files")
    assert(byBoth <= math.min(byCust, byPrice))
    // linear clustering on (custkey, price) gives price NO locality:
    // the same price band touches every linearly-clustered file
    val ldir = Scratch.fresh("graft_lin").toString + "/orders"
    Lake.writeClustered(orders, ldir, files, "o_custkey", "o_totalprice")
    val linTouched = spark.read.parquet(ldir)
      .groupBy(input_file_name())
      .agg(min(col("o_totalprice").cast("long")).as("lo"),
        max(col("o_totalprice").cast("long")).as("hi"))
      .filter(col("hi") >= tp._2._1 && col("lo") <= tp._2._2)
      .count()
    assert(byPrice < linTouched,
      s"z-order ($byPrice files) should beat linear clustering " +
        s"($linTouched files) on the trailing dimension")
    // and pruning never changes the answer
    val pruned = Lake.readZPruned(spark, zdir, Seq(ck, tp))
    val full = spark.read.parquet(zdir)
      .filter(col("o_custkey").between(40, 70) &&
        col("o_totalprice").cast("long").between(20000L, 120000L))
    assert(pruned.count() == full.count() && pruned.count() > 0)
    // plain readers are unaffected by the underscore manifest
    assert(spark.read.parquet(zdir).count() == orders.count())
    // an EMPTY input writes a readable plain layout (no manifest, no NPE)
    val edir = Scratch.fresh("graft_zempty").toString + "/orders"
    Lake.writeZOrdered(orders.limit(0), edir, files, "o_custkey", "o_totalprice")
    assert(Lake.readZPruned(spark, edir, Seq(ck, tp)).count() == 0)
    // a band on a column the manifest doesn't carry degrades to a full
    // filtered scan (keeps every file) — never silently-zero rows
    val ok = "o_orderkey" -> (1L, 100L)
    assert(Lake.prunedFiles(fs, mPath, Seq(ok)).length == files)
    assert(Lake.readZPruned(spark, zdir, Seq(ok)).count() ==
      orders.filter(col("o_orderkey").between(1, 100)).count())
  }

  test("csv/json/orc round-trips preserve rows") {
    val nation = graft.core.Tables(spark, sf, "nation")
    val n = nation.count()
    Seq("csv", "json", "orc").foreach { fmt =>
      val out = Scratch.fresh(s"graft_$fmt").toString + "/nation"
      Lake.writeAs(nation, fmt, out)
      val back = Lake.readAs(spark, fmt, out, Some(nation.schema))
      assert(back.count() == n, s"$fmt round-trip lost rows")
      assert(back.schema.fieldNames.sameElements(nation.schema.fieldNames))
    }
  }

  test("compaction: file count collapses, rows conserved, bins within bound") {
    import spark.implicits._
    val out = Compaction.xCompactionPlan.build(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // every group rewrote to exactly one file, from more than one input
    // file for at least one group per partition (the point of the op)
    assert(out.forall(_._5 == 1L), "a group split into multiple files")
    out.groupBy(_._1).foreach { case (part, gs) =>
      assert(gs.exists(_._3 > 1L), s"$part: no group merged anything")
      // contiguous-fill bound: every non-final group holds >= TARGET
      // only via its last file's spillover, i.e. < TARGET + FILE_ROWS
      val last = gs.map(_._2).max
      gs.filter(_._2 != last).foreach { g =>
        assert(g._4 >= Compaction.TARGET_ROWS - Compaction.FILE_ROWS &&
          g._4 < Compaction.TARGET_ROWS + Compaction.FILE_ROWS,
          s"$part grp ${g._2}: ${g._4} rows outside the fill bound")
      }
    }
    // row conservation against the raw table
    val want = graft.core.Tables(spark, sf, "events")
      .filter(col("event_id") < Compaction.SLICE)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    out.groupBy(_._1).foreach { case (part, gs) =>
      assert(gs.map(_._4).sum == want(part), s"$part: rows not conserved")
    }
  }

  test("time travel: old version stays readable and diff matches arithmetic") {
    import spark.implicits._
    val out = TimeTravel.xTimeTravel.build(spark, sf)
      .as[(Long, Long, Double, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length == 2)
    val orders = graft.core.Tables(spark, sf, "orders")
    val n = orders.count()
    val nDel = orders.filter(col("o_orderkey") % 101 === 0).count()
    val nUpd = orders.filter(col("o_orderkey") % 97 === 0 &&
      col("o_orderkey") % 101 =!= 0).count()
    val (v1, v2) = (out(0), out(1))
    // v1 snapshot unchanged by the v2 write (snapshot isolation)
    assert(v1._2 == n && v1._4 == 0 && v1._5 == 0 && v1._6 == 0)
    assert(v2._2 == n - nDel + 3, "v2 row count")
    assert(v2._4 == 3 && v2._5 == nDel && v2._6 == nUpd, "diff counts")
    info(s"v1=$n rows, v2=${v2._2} rows, +3/-$nDel/~$nUpd")
  }

  /** Rows the parquet reader actually produced (post format-level
    * skipping, pre Spark FilterExec) — the measured skip evidence for
    * the parquet-native pruning tests. AQE is disabled by the caller so
    * the scan leaf is reachable.
    */
  private def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.sum
  }

  test("parquet-native bloom filter: written to the footer and measured " +
    "to skip row groups that stats cannot") {
    import scala.jdk.CollectionConverters._
    val sfDir = "/root/testdata/sf0.01"
    val orders = graft.core.Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dir = Scratch.fresh("graft_pqbloom").toString + "/orders"
    Lake.writeClusteredParquetNative(orders, dir, 8, "o_custkey",
      Seq("o_orderkey" -> 200000L))
    // 1) the filter is physically in every footer (parquet-mr skips
    //    writing blooms for dictionary-encoded chunks — the per-column
    //    dictionary disable is load-bearing)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 8)
    var groups = 0
    files.foreach { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try rd.getRowGroups.asScala.foreach { bd =>
        groups += 1
        val cc = bd.getColumns.asScala
          .find(_.getPath.toDotString == "o_orderkey").get
        assert(rd.readBloomFilter(cc) != null, s"$f: no bloom on o_orderkey")
      } finally rd.close()
    }
    // 2) measured skip: same data, same plan, reader bloom flag flipped.
    //    The cluster sort scatters o_orderkey, so min/max stats and the
    //    column index are useless for the point probes — any reduction
    //    is the bloom filter's.
    val aqePrior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def probe(bloom: Boolean): Long = scannedRows(
        spark.read.option("parquet.filter.bloom.enabled", bloom.toString)
          .parquet(dir)
          .filter(col("o_orderkey").isin(7L, 777L, 1477L))
          .groupBy().count())
      val withBloom = probe(true)
      val without = probe(false)
      val total = orders.count()
      // negative control: keys absent from the data — every row group's
      // bloom answers definite-no, so the scan reads NOTHING
      val absent = scannedRows(
        spark.read.option("parquet.filter.bloom.enabled", "true")
          .parquet(dir)
          .filter(col("o_orderkey").isin(-1L, -2L, -3L))
          .groupBy().count())
      assert(absent == 0, s"absent-key probe scanned $absent rows")
      // control: with the bloom off, stats/column-index are near-useless
      // on the scattered key (a boundary page or two may still trim)
      assert(without >= total * 95 / 100,
        s"control: stats/column-index skipped real volume (got $without " +
          s"of $total) — the scattered-key premise broke")
      assert(withBloom < total / 2,
        s"bloom skipped too little: $withBloom of $total")
      info(s"$groups row groups; rows scanned: bloom=$withBloom, " +
        s"no-bloom=$without of $total " +
        f"(${100.0 * (1 - withBloom.toDouble / total)}%.0f%% skipped)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrior)
  }

  test("parquet column index: page-level skipping measured on a sorted " +
    "single-file layout where file/row-group pruning cannot help") {
    val sfDir = "/root/testdata/sf0.01"
    val orders = graft.core.Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dir = Scratch.fresh("graft_pqpage").toString + "/orders"
    Lake.writeClusteredParquetNative(orders, dir, 1, "o_custkey",
      Seq.empty, pageRows = 500)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, "single file by construction")
    val aqePrior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def band(colIdx: Boolean): Long = scannedRows(
        spark.read
          .option("parquet.filter.columnindex.enabled", colIdx.toString)
          .parquet(dir)
          .filter(col("o_custkey").between(25L, 60L))
          .groupBy().count())
      val withIdx = band(true)
      val without = band(false)
      val total = orders.count()
      val trueRows = orders.filter(col("o_custkey").between(25L, 60L)).count()
      assert(without == total,
        s"control: without the column index the single row group is " +
          s"read whole (got $without of $total)")
      assert(withIdx < total / 4,
        s"column index skipped too little: $withIdx of $total")
      assert(withIdx >= trueRows, "pages are a superset of the band's rows")
      info(s"rows scanned: colindex=$withIdx, off=$without of $total " +
        s"(band holds $trueRows rows; " +
        f"${100.0 * (1 - withIdx.toDouble / total)}%.0f%% skipped)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrior)
  }
}
