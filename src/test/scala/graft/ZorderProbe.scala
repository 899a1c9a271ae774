package graft

import org.apache.spark.sql.functions._
import graft.sources.Lake
import graft.core.Scratch

/** Dev probe (Test/runMain graft.ZorderProbe): measure file skipping of
  * the z-order layout vs linear clustering at sf0.1, across band widths
  * on both dimensions. Results are recorded in docs/SCALING.md. File
  * counts are what transfers to cluster scale: each skipped file is a
  * skipped S3 GET + footer read + scan task, independent of file size.
  */
object ZorderProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    val orders = graft.core.Tables(spark, "/root/testdata/sf0.1", "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val files = 64
    val zdir = Scratch.fresh("zprobe_z").toString + "/orders"
    val ldir = Scratch.fresh("zprobe_l").toString + "/orders"
    Lake.writeZOrdered(orders, zdir, files, "o_custkey", "o_totalprice")
    Lake.writeClustered(orders, ldir, files, "o_custkey", "o_totalprice")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(zdir, "_zmanifest.json")

    def linearTouched(bands: Seq[(String, (Long, Long))]): Long = {
      val stats = spark.read.parquet(ldir)
        .groupBy(input_file_name().as("f"))
        .agg(
          min(col("o_custkey").cast("long")).as("clo"),
          max(col("o_custkey").cast("long")).as("chi"),
          min(col("o_totalprice").cast("long")).as("plo"),
          max(col("o_totalprice").cast("long")).as("phi"))
      bands.foldLeft(stats) { case (df, (c, (lo, hi))) =>
        val (l, h) = if (c == "o_custkey") ("clo", "chi") else ("plo", "phi")
        df.filter(col(h) >= lo && col(l) <= hi)
      }.count()
    }

    // selectivity sweep: ~4%, ~20%, ~50% of each dimension's domain
    // (custkey 1..15000, totalprice ~1k..560k at sf0.1)
    val cases = Seq(
      "custkey 4%" -> Seq("o_custkey" -> (1000L, 1600L)),
      "custkey 20%" -> Seq("o_custkey" -> (1000L, 4000L)),
      "price 4%" -> Seq("o_totalprice" -> (100000L, 122000L)),
      "price 20%" -> Seq("o_totalprice" -> (100000L, 212000L)),
      "both 20%x20%" -> Seq("o_custkey" -> (1000L, 4000L),
        "o_totalprice" -> (100000L, 212000L)))
    println(s"ZPROBE files=$files rows=${orders.count()}")
    cases.foreach { case (label, bands) =>
      val z = Lake.prunedFiles(fs, mPath, bands).length
      val l = linearTouched(bands)
      val full = spark.read.parquet(zdir)
      val expect = bands.foldLeft(full) { case (df, (c, (lo, hi))) =>
        df.filter(col(c).cast("long") >= lo && col(c).cast("long") <= hi)
      }.count()
      val got = Lake.readZPruned(spark, zdir, bands).count()
      assert(got == expect, s"$label: pruned read lost rows ($got vs $expect)")
      println(f"ZPROBE $label%-14s z=$z%3d/$files linear=$l%3d/$files rows=$got")
    }
    spark.stop()
  }
}
