package graft.core

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The one scratch policy (core.Scratch), the one session builder
  * (Sessions.local), the one measurement tool (graft.Profile), the one
  * growth tool (graft.InventoryCensus), the one version store
  * (sources.Lake) and the one session memo (core.SessionMemo): every
  * transient path hangs off one swept root, and no other source file
  * builds a session, creates a temp dir, picks a tmpfs path, registers a
  * shutdown hook, attaches a listener, adds a dev main under src/test,
  * renames a file, swaps a dataset into place, spells the version-store
  * format, keys state by an identity hash or builds a Hadoop conf of its
  * own (core.NioLocal picks the local filesystem). Streams drain through
  * one runner (core.Streams), tables list their files only through
  * Spark's file index, per-session state lives only in core's memo, and
  * the nanos read conf is set only where the session is built. No llmops
  * file but the owning one spells the quality signals, the stopword
  * language vote, the regex token count or the exact set-overlap
  * verifier.
  */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("fresh dirs are distinct and share the one root") {
    val a = Scratch.fresh("spec_a")
    val b = Scratch.fresh("spec_b")
    assert(a != b)
    assert(Files.isDirectory(a) && Files.isDirectory(b))
    assert(a.getParent == b.getParent)
    assert(Paths.get(Scratch.path(spark, "x")).getParent.getParent == a.getParent)
    assert(Paths.get(Scratch.sparkLocalDir).getParent == a.getParent)
  }

  test("the session-keyed path is stable per session and differs across sessions") {
    val p1 = Scratch.path(spark, "staged/t")
    assert(Scratch.path(spark, "staged/t") == p1)
    val other = spark.newSession()
    assert(Scratch.path(other, "staged/t") != p1)
    assert(Scratch.path(other, "staged/t") == Scratch.path(other, "staged/t"))
  }

  test("rmTree removes a symlink, never what it points at") {
    val outside = Scratch.fresh("spec_outside")
    val keep = Files.writeString(outside.resolve("lake.parquet"), "data")
    val dir = Scratch.fresh("spec_rm")
    Files.createDirectories(dir.resolve("nested"))
    Files.writeString(dir.resolve("nested/own.txt"), "x")
    Files.createSymbolicLink(dir.resolve("to_dir"), outside)
    Files.createSymbolicLink(dir.resolve("nested/to_file"), keep)
    Scratch.rmTree(dir)
    assert(!Files.exists(dir))
    assert(Files.readString(keep) == "data")
    Scratch.rmTree(outside)
    assert(!Files.exists(outside))
    Scratch.rmTree(outside) // a missing path is fine
  }

  // the source lint's view: every .scala file, and per pattern the files
  // that contain it with their occurrence counts
  private lazy val sources = Seq("src/main", "src/test").flatMap { root =>
    val w = Files.walk(Paths.get(root))
    try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally w.close()
  }
  private def where(pattern: String): Map[String, Int] =
    sources.map(f => f.toString -> (Files.readString(f)
      .split(java.util.regex.Pattern.quote(pattern), -1).length - 1))
      .filter(_._2 > 0).toMap

  // patterns are split so this file does not match them
  test("only Sessions builds a session and only core.Scratch owns tmpfs and exit hooks") {
    assert(sources.nonEmpty)
    assert(where("SparkSession" + ".builder") ==
      Map("src/main/scala/graft/Sessions.scala" -> 1))
    assert(where("\"/dev/" + "shm\"") == Map("src/main/scala/graft/core/Core.scala" -> 1))
    assert(where("addShutdown" + "Hook") == Map("src/main/scala/graft/core/Core.scala" -> 1))
  }

  test("only core.Scratch creates temp dirs and only Profile attaches listeners") {
    assert(where("createTemp" + "Directory").keySet ==
      Set("src/main/scala/graft/core/Core.scala"))
    assert(where("listenerManager" + ".register") ==
      Map("src/main/scala/graft/Profile.scala" -> 1))
    assert(where("addSpark" + "Listener") ==
      Map("src/main/scala/graft/Profile.scala" -> 1))
  }

  // an unchecked rename returns false and silently skips a swap
  test("only sources.Lake renames files") {
    assert(where("." + "rename(").keySet ==
      Set("src/main/scala/graft/sources/Lake.scala"))
  }

  // a dataset dir is replaced in place one way, Lake.replace: it stages
  // beside the path and swaps, so a failed rerun keeps the previous
  // generation; a delete-first overwrite of a pipeline sink loses it
  test("only sources.Lake swaps a dataset into place") {
    assert(where("swap" + "Into(").keySet.filter(_.startsWith("src/main")) ==
      Set("src/main/scala/graft/sources/Lake.scala"))
    assert(!where("mode(\"" + "overwrite\")").contains(
      "src/main/scala/graft/pipeline/Medallion.scala"))
  }

  // the version-store format (the version dir, its commit marker, the
  // claim file and the branch pin) is spelled only in sources.Lake;
  // specs may still plant dead writers by hand
  test("only sources.Lake spells the version-store format") {
    val lake = "src/main/scala/graft/sources/Lake.scala"
    for (p <- Seq("_SUCCESS" + "\"", "\"_claim" + "_", "\"v" + "=",
        "v=" + "$", "_base" + "\""))
      assert(where(p).keySet.filter(_.startsWith("src/main")) == Set(lake), p)
  }

  // Hadoop's JVM-wide FileSystem cache keeps the first `file:` instance
  // whatever conf later asks for one, so a stock conf built elsewhere
  // could install the forking local filesystem for the whole JVM
  test("only core picks the local filesystem or builds a Hadoop conf") {
    for (p <- Seq("new Configuration" + "()", "\"fs.file" + ".impl\"",
        "\"fs.AbstractFileSystem" + ".file.impl\""))
      assert(where(p).keySet.filter(_.startsWith("src/main"))
        .forall(_.startsWith("src/main/scala/graft/core/")), p)
  }

  // a curation stage has one spelling, beside the graded operator that
  // owns it: the quality signals, the stopword language vote and the
  // regex token count live in TextStats, the exact set-overlap verifier
  // in MinHashLSH, and every composite calls them
  test("llmops spells the quality signals, token count and overlap verifier once") {
    val llmops = "src/main/scala/graft/llmops/"
    def spelledIn(p: String) = where(p).keySet.filter(_.startsWith(llmops))
    assert(spelledIn("size(regexp_extract_all(text, " +
      "'[a-z]+|[0-9]+|[^a-z0-9 ]'") == Set(llmops + "TextStats.scala"))
    assert(spelledIn("isIn" + "Collection(") ==
      Set(llmops + "TextStats.scala"))
    assert(spelledIn("sortedIntersect" + "Count(") ==
      Set(llmops + "MinHashLSH.scala"))
  }

  // a search stage has one spelling, in VectorSearch: the probe set,
  // the per-probe (sim DESC, vec_id) ranker and the coarse-list pick, so
  // a query and the exact twin it is graded by cannot drift apart
  // (LabelProp's `< cut` is a train/test split, not a probe set)
  test("llmops spells the probe set, the per-probe ranker and the list pick once") {
    val llmops = "src/main/scala/graft/llmops/"
    def spelledIn(p: String) = where(p).filter(_._1.startsWith(llmops))
    assert(spelledIn("col(\"vec_id\") " + "< ") ==
      Map(llmops + "VectorSearch.scala" -> 1, llmops + "LabelProp.scala" -> 1))
    for (p <- Seq("col(\"vec_id\") < " + "5", "col(\"vec_id\") < " + "NPROBE"))
      assert(spelledIn(p).isEmpty, p)
    for (p <- Seq("orderBy(col(\"sim\").desc, " + "col(\"vec_id\"))",
        "orderBy(col(\"csim\").desc, " + "col(\"ccid\"))"))
      assert(spelledIn(p) == Map(llmops + "VectorSearch.scala" -> 1), p)
  }

  // an identity hash recurs once its session is collected, so a memo
  // keyed by one can serve a dead session's state to a new session;
  // per-session state goes through core.SessionMemo, keyed by the
  // session itself, and only Scratch.path names a directory by the hash
  test("only core keys anything by a session's identity hash") {
    assert(where("System.identity" + "HashCode").keySet
      .filter(_.startsWith("src/main")) ==
      Set("src/main/scala/graft/core/Core.scala"))
  }

  // growth is measured by one tool, through Profile.Recorder's counters;
  // a one-off probe main beside it would be a second measurement path
  test("src/test has one dev main") {
    assert(where("def " + "main(").keySet.filter(_.startsWith("src/test")) ==
      Set("src/test/scala/graft/InventoryCensus.scala"))
  }

  private def inMain(pattern: String): Set[String] =
    where(pattern).keySet.filter(_.startsWith("src/main"))

  // a JVM-wide map outlives the session whose state it holds; state that
  // lives longer than one call goes through core.SessionMemo
  test("only core holds a concurrent map") {
    assert(inMain("Trie" + "Map") == Set("src/main/scala/graft/core/Core.scala"))
  }

  // a FileSystem looked up by hand can miss the session's conf; the
  // Ingester alone runs on its own Hadoop conf
  test("only Lake.fsOf and the Ingester look up a FileSystem") {
    assert(inMain("getFile" + "System(") == Set(
      "src/main/scala/graft/sources/Lake.scala",
      "src/main/scala/graft/pipeline/Ingester.scala"))
    assert(where("getFile" + "System(")("src/main/scala/graft/sources/Lake.scala") == 1)
  }

  // a hand-rolled walk has to copy Spark's hidden-path rule and its
  // partition-dir recursion; a table's files are its scan's inputFiles
  test("no source walks a directory by hand") {
    assert(inMain("listFiles" + "(").isEmpty)
  }

  test("every stream drains through core.Streams") {
    for (p <- Seq("awaitTermination" + "(", "Trigger" + ".AvailableNow"))
      assert(inMain(p) == Set("src/main/scala/graft/core/Core.scala"), p)
  }

  // a conf flipped at run time holds for whoever reads next; set where
  // the session is built, it holds for every session from the start
  test("only Sessions sets the parquet nanos conf") {
    assert(inMain("nanos" + "AsLong") == Set("src/main/scala/graft/Sessions.scala"))
  }
}
