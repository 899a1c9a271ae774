package graft.core

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The one scratch policy (core.Scratch) and the one session builder
  * (Sessions.local): every transient path hangs off one swept root, and
  * no other source file builds a session, picks a tmpfs path or
  * registers a shutdown hook.
  */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("fresh dirs are distinct and share the one root") {
    val a = Scratch.fresh("spec_a")
    val b = Scratch.fresh("spec_b")
    assert(a != b)
    assert(Files.isDirectory(a) && Files.isDirectory(b))
    assert(a.getParent == b.getParent)
    assert(Paths.get(Scratch.path("x")).getParent == a.getParent)
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

  test("only Sessions builds a session and only core.Scratch owns tmpfs and exit hooks") {
    // split so this file does not match its own patterns
    val builder = "SparkSession" + ".builder"
    val shm = "\"/dev/" + "shm\""
    val hook = "addShutdown" + "Hook"
    val files = Seq("src/main", "src/test").flatMap { root =>
      val w = Files.walk(Paths.get(root))
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    assert(files.nonEmpty)
    def where(pattern: String): Map[String, Int] =
      files.map(f => f.toString -> (Files.readString(f)
        .split(java.util.regex.Pattern.quote(pattern), -1).length - 1))
        .filter(_._2 > 0).toMap
    assert(where(builder) == Map("src/main/scala/graft/Sessions.scala" -> 1))
    assert(where(shm) == Map("src/main/scala/graft/core/Core.scala" -> 1))
    assert(where(hook) == Map("src/main/scala/graft/core/Core.scala" -> 1))
  }
}
