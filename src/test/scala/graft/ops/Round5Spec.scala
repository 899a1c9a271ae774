package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.TextNormalize
import graft.llmops.{HeavyHitters, WebClean}
import graft.core.Scratch

/** Round-5 additions: SCD2 + point-in-time join, Unicode normalization,
  * web cleaning, Misra-Gries heavy hitters, ORC round-trip.
  *
  * All non-ASCII test strings are written as \u escapes so no editor or
  * toolchain can silently re-normalize the source file.
  */
class Round5Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // --- Unicode normalization expression ---

  private val decomposed = "áb ç"  // a+ACUTE b, c+CEDILLA
  private val precomposed = "áb ç"   // same string, NFC

  test("NFC composes decomposed accents; NFD reverses; nulls pass through") {
    val df = Seq(Some(decomposed), Some("plain"), None).toDF("s")
    val got = df.select(
      TextNormalize.normalize(col("s"), "NFC").as("nfc"),
      TextNormalize.normalize(col("s"), "NFD").as("nfd"))
      .as[(Option[String], Option[String])].collect().toSeq
    assert(got(0)._1.contains(precomposed))
    assert(got(0)._2.contains(decomposed)) // NFD keeps decomposed
    assert(got(1)._1.contains("plain"))
    assert(got(2)._1.isEmpty && got(2)._2.isEmpty)
  }

  test("NFKC folds compatibility forms (ligature fi, fullwidth A)") {
    val got = Seq("ﬁ Ａ").toDF("s")
      .select(TextNormalize.normalize(col("s"), "NFKC")).as[String].head()
    assert(got == "fi A")
  }

  test("stripAccents folds accented letters to ASCII, leaves ASCII alone") {
    val got = Seq("á é ñ ok").toDF("s")
      .select(TextNormalize.stripAccents(col("s"))).as[String].head()
    assert(got == "a e n ok")
  }

  test("normalize agrees between codegen projection and filter paths") {
    val df = Seq("é").toDF("s")
    val proj = df.select(TextNormalize.normalize(col("s"), "NFC")).as[String].head()
    val filt = df.filter(TextNormalize.normalize(col("s"), "NFC") === "é")
    assert(proj == "é" && filt.count() == 1)
  }

  // --- SCD2 ---

  test("scd2 collapses repeats and tiles each key's timeline exactly") {
    val e = graft.core.Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val scd = Scd.scd2(e, "user_id", "ts", "event_id", "event_type")
      .select("user_id", "event_type", "effective_from", "effective_to", "is_current")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().groupBy(_._1)
    assert(scd.nonEmpty)
    scd.foreach { case (user, rows) =>
      val sorted = rows.sortBy(_._3.getTime)
      // exactly one open (current) version per user, and it is the last
      assert(sorted.count(_._5) == 1, s"user $user current-version count")
      assert(sorted.last._4.isEmpty && sorted.last._5)
      // repeats collapsed; intervals tile (close exactly where next opens)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._2 != b._2, s"user $user adjacent versions share value")
          assert(a._4.contains(b._3), s"user $user gap/overlap in timeline")
        case _ =>
      }
    }
  }

  test("point-in-time join yields at most one state per purchase") {
    val out = Scd.xScd2Pit.build(spark, sf)
    val n = out.count()
    assert(n > 0)
    assert(out.select("purchase_id").distinct().count() == n)
  }

  // --- heavy hitters ---

  test("MisraGries candidates are a superset of true heavy items") {
    val rnd = new scala.util.Random(7)
    // skewed stream: item i chosen with weight concentrated near 0
    val stream = Seq.fill(20000)(s"t${(math.pow(rnd.nextDouble(), 3) * 50).toInt}")
    val k = 20
    val mg = new HeavyHitters.MisraGries(k)
    stream.foreach(mg.add)
    val cands = mg.candidates.toSet
    val exact = stream.groupBy(identity).view.mapValues(_.size).toMap
    val heavy = exact.filter(_._2 > stream.size / (k + 1)).keySet
    assert(heavy.nonEmpty)
    assert(heavy.subsetOf(cands), s"missed heavy items: ${heavy -- cands}")
  }

  test("x_heavy_hitters equals the brute-force count") {
    val got = HeavyHitters.xHeavyHitters.build(spark, sf)
      .as[(String, Long)].collect().toMap
    val toks = graft.core.Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").as[String].collect()
    val brute = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter { case (_, c) => c * 50 > toks.length }
    assert(got == brute)
    assert(got.nonEmpty)
  }

  // --- web cleaning ---

  test("x_normalize_text: composed length + accent fold recover the original") {
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    WebClean.xNormalizeText.build(spark, sf)
      .select("doc_id", "nfc", "n_decomposed", "n_composed", "folded")
      .as[(Long, String, Int, Int, String)].collect().foreach {
        case (id, nfc, nDec, nComp, folded) =>
          val (orig, n) = docs(id)
          val accents = orig.count(_ == 'a')
          assert(nComp == n, s"doc $id composed length")
          assert(nDec == n + accents, s"doc $id decomposed length")
          assert(folded == orig, s"doc $id accent fold did not round-trip")
          assert(!nfc.contains('́'), s"doc $id still decomposed")
      }
  }

  test("x_html_strip recovers the original text plus the fixed tail") {
    val docs = graft.core.Tables(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    WebClean.xHtmlStrip.build(spark, sf)
      .select("doc_id", "clean").as[(Long, String)].collect().foreach {
        case (id, clean) =>
          assert(clean == s"Doc${docs(id)} & tail <end>", s"doc $id")
      }
  }

  test("x_url_parse extracts host/path/params") {
    val (url, host, path, page, ref) = WebClean.xUrlParse.build(spark, sf)
      .filter(col("doc_id") === 7)
      .select("url", "host", "path", "page", "ref")
      .as[(String, String, String, String, String)].head()
    assert(host.endsWith(".example.com"))
    assert(url == s"https://$host$path?page=$page&ref=$ref")
    assert(path.endsWith("/doc/7") && page == "7")
  }

  test("x_span_dedup: kept <= total, and a duplicated doc loses all spans") {
    val rows = graft.llmops.Chunking.xSpanDedup.build(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, kept) =>
      assert(kept >= 0 && kept <= n, s"doc $id kept $kept of $n")
    }
    // the fixture corpus contains exact duplicate texts (x_exact_dedup
    // relies on them) — their later copies must keep zero spans
    val dupIds = graft.core.Tables(spark, sf, "documents")
      .groupBy(col("text")).agg(min(col("doc_id")).as("first"),
        max(col("doc_id")).as("last"), count(lit(1)).as("c"))
      .filter(col("c") > 1).select("last").as[Long].collect()
    if (dupIds.nonEmpty) {
      val byId = rows.map(r => r._1 -> r._3).toMap
      dupIds.foreach(id => assert(byId(id) == 0, s"dup doc $id kept spans"))
    }
  }

  test("x_provenance derives the real scan file name per row") {
    val got = graft.ops.Extra.xProvenance.build(spark, sf)
      .select("file_name").distinct().as[String].collect()
    assert(got.toSeq == Seq("documents.parquet"))
  }

  // --- ORC round-trip ---

  test("ORC round-trip is lossless for lineitem") {
    val li = graft.core.Tables(spark, sf, "lineitem")
    val out = Scratch.fresh("orc_spec").toString
    try {
      graft.sources.Lake.writeAs(li, "orc", s"$out/li")
      val back = graft.sources.Lake.readAs(spark, "orc", s"$out/li")
      assert(back.schema == li.schema)
      assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(out))
    }
  }
}
