package graft.core

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The one scratch policy (core.Scratch), the one session builder
  * (Sessions.local) and the one measurement tool (graft.Profile): every
  * transient path hangs off one swept root, and no other source file
  * builds a session, creates a temp dir, picks a tmpfs path, registers a
  * shutdown hook or attaches a listener.
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
}
