package graft.streaming

import java.net.URI
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.{Scratch, Tables}

/** A lake whose events table is a partitioned DIRECTORY, the layout of
  * real lake generations (the fixture lakes hold one parquet file per
  * table). The streaming replay must link every visible part file under
  * its `key=value` dir, and the footer count must read exactly the
  * scan's files; a hidden `_junk/x.parquet` planted in the table holds
  * valid rows that neither may read.
  */
class DirectoryLakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  // the sf0.001 lake of TESTDATA.md, under the home directory
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private lazy val lake: String = {
    val dir = Scratch.fresh("graft_dir_lake").toString
    val table = s"$dir/events.parquet"
    Tables(spark, sf, "events").write.partitionBy("event_type").parquet(table)
    val part = spark.read.parquet(table).inputFiles.head
    Files.createDirectories(Paths.get(s"$table/_junk"))
    Files.copy(Paths.get(new URI(part)), Paths.get(s"$table/_junk/x.parquet"))
    assert(spark.read.parquet(s"$table/_junk/x.parquet").count() > 0)
    dir
  }

  test("q28 over a partitioned directory equals q28 over the fixture") {
    def rows(dir: String) = StreamOps.q28.build(spark, dir).collect().toSeq
    val fromDir = rows(lake)
    assert(fromDir.nonEmpty)
    assert(fromDir == rows(sf))
  }

  test("x_metadata_count reads the footers of exactly the scan's files") {
    val r = graft.ops.Observe.xMetadataCount.build(spark, lake).head()
    val n = Tables(spark, sf, "events").count()
    assert((r.getLong(0), r.getLong(1), r.getBoolean(2)) == ((n, n, true)))
  }
}
