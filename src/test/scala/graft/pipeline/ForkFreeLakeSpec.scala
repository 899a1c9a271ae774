package graft.pipeline

import java.io.{ByteArrayOutputStream, RandomAccessFile}
import java.net.{InetSocketAddress, URI}
import java.nio.file.{Files, Path => JPath}
import java.time.LocalDateTime
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.HttpServer
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem,
  Scratch}

/** The session's local filesystem (core.NioLocal) starts no process: one
  * ingested hour, its silver and gold jobs and the streaming twin run
  * under an in-process JFR recording of `jdk.ProcessStart`, and none of
  * Hadoop's `Shell` commands shows up. It also keeps what the stock
  * filesystem gives: permission bits after the umask, the sticky bit,
  * `.crc` sidecars and their verification on read, and symlink status.
  */
class ForkFreeLakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val fs = FileSystem.get(URI.create("file:///"), conf)
  private lazy val fc = FileContext.getFileContext(URI.create("file:///"), conf)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** 40 events in hour 07 over 4 repos, gzipped. */
  private val bronze: Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(buf)
    for (i <- 0 until 40)
      gz.write((s"""{"id":$i,"actor":{"id":1,"login":"u","display_login":"U"},""" +
        s""""type":"PushEvent","repo":{"id":${i % 4},"name":"r${i % 4}",""" +
        s""""url":"x"},"created_at":"2023-01-01 07:00:00"}""" + "\n")
        .getBytes("UTF-8"))
    gz.close()
    buf.toByteArray
  }

  test("the session's Hadoop conf resolves file: to the NIO local filesystem") {
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[NioLocalFileSystem])
    assert(fc.getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("an ingested hour, its silver and gold and the streaming twin fork no Shell command") {
    val root = Scratch.fresh("graft_forkfree")
    val config = LakeConfig(s"$root/bronze", s"$root/silver", s"$root/gold")
    val date = LocalDateTime.of(2023, 1, 1, 7, 0)
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", { exchange =>
      exchange.sendResponseHeaders(200, bronze.length)
      exchange.getResponseBody.write(bronze)
      exchange.close()
    })
    server.start()
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      new Ingester(config,
        sourceBaseUrl = s"http://localhost:${server.getAddress.getPort}")
        .ingestHourlyGharchive(date)
      val medallion = new Medallion(spark, config)
      medallion.serialiseRawData(date)
      medallion.aggregateSilverData(date)
      val twin = new Medallion(spark, config.copy(
        silverRoot = s"$root/stream_silver", goldRoot = s"$root/stream_gold"))
      twin.serialiseRawDataStreaming(s"$root/ckpt_silver")
      val gold = twin.aggregateGoldStreaming(s"$root/ckpt_gold")
      assert(spark.read.parquet(gold).count() == 4)
    } finally {
      recording.stop()
      server.stop(0)
    }
    val dump = root.resolve("forks.jfr")
    recording.dump(dump)
    recording.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
      .map(_.getString("command"))
    val shell = commands.filter { c =>
      val exe = c.trim.split("\\s+").head
      Set("chmod", "readlink", "ls", "stat")(exe.substring(exe.lastIndexOf('/') + 1))
    }
    assert(shell.isEmpty,
      s"${shell.size} Hadoop Shell forks, e.g. ${shell.take(3).mkString("; ")}")
  }

  test("created files and dirs read back the stock modes, sticky bit included") {
    val dir = Scratch.fresh("graft_nio_mode")
    val file = dir.resolve("a/b/part.bin")
    val out = fs.create(new Path(file.toString))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    assert(mode(file) == Integer.parseInt("644", 8))
    assert(mode(dir.resolve("a/b/.part.bin.crc")) == Integer.parseInt("644", 8))
    assert(mode(dir.resolve("a/b")) == Integer.parseInt("755", 8))
    assert(fs.mkdirs(new Path(s"$dir/c/d")))
    assert(mode(dir.resolve("c/d")) == Integer.parseInt("755", 8))
    val sticky = Integer.parseInt("1777", 8)
    fs.setPermission(new Path(s"$dir/c/d"), new FsPermission(sticky.toShort))
    assert(mode(dir.resolve("c/d")) == sticky)
  }

  // FileContext reads do not verify `.crc` in stock Hadoop either
  // (LocalFs reads a flipped byte back silently), so that API is held
  // to writing the sidecar
  test("a flipped byte still fails the checksum on read; both APIs write .crc") {
    val dir = Scratch.fresh("graft_nio_crc")
    val file = new Path(s"$dir/data.bin")
    val out = fs.create(file)
    out.write(Array.tabulate[Byte](4096)(_.toByte))
    out.close()
    val raf = new RandomAccessFile(s"$dir/data.bin", "rw")
    try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
    finally raf.close()
    val in = fs.open(file)
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    fc.create(new Path(s"$dir/fc.bin"), java.util.EnumSet.of(CreateFlag.CREATE))
      .close()
    assert(Files.exists(dir.resolve(".fc.bin.crc")))
  }

  test("a real symlink still reads as a symlink with its target") {
    val dir = Scratch.fresh("graft_nio_link")
    val target = Files.writeString(dir.resolve("target.txt"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(plain.isFile && !plain.isSymlink)
  }
}
