package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.core.Exact
import graft.core.Scratch

/** Property-based laws (SURVEY.md §5.3): round-trip identity, dedup
  * idempotence, streaming/batch window equivalence, decimal-sum order
  * independence, path-function invariants. Sample counts kept small —
  * each sample runs real Spark jobs.
  */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rowGen = Gen.listOfN(40, for {
    id <- Gen.choose(0L, 1000L)
    user <- Gen.choose(0L, 20L)
    value <- Gen.choose(0, 99999).map(_ / 100.0) // 2-decimal money
    typ <- Gen.oneOf("click", "view", "error")
  } yield (id, user, value, typ))

  property("parquet round-trip identity") = forAll(rowGen) { rows =>
    val df = rows.toDF("id", "user_id", "value", "event_type")
    val path = Scratch.fresh("graft_prop").toString + "/t"
    df.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    back.count() == rows.length &&
      back.as[(Long, Long, Double, String)].collect().toList.sorted ==
        rows.sorted
  }

  property("exact dedup is idempotent") = forAll(rowGen) { rows =>
    val df = rows.toDF("id", "user_id", "value", "event_type")
    val once = df.dropDuplicates("id")
    val twice = once.dropDuplicates("id")
    once.count() == twice.count()
  }

  property("decimal-exact sum is row-order independent") = forAll(rowGen) { rows =>
    def total(rs: Seq[(Long, Long, Double, String)]): java.math.BigDecimal =
      rs.toDF("id", "user_id", "value", "event_type")
        .agg(Exact.sumd(col("value")).as("s"))
        .head().getDouble(0) match { case d => java.math.BigDecimal.valueOf(d) }
    total(rows) == total(rows.reverse)
  }

  property("tumbling-window counts equal date_trunc group counts") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 72L * 3600))) { offsets =>
      val df = offsets
        .map(o => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + o)))
        .toDF("ts")
      val viaWindow = df.groupBy(window(col("ts"), "1 hour"))
        .count().select(col("window.start").as("s"), col("count"))
        .as[(java.sql.Timestamp, Long)].collect().toMap
      val viaTrunc = df.groupBy(date_trunc("hour", col("ts")).as("s"))
        .count().as[(java.sql.Timestamp, Long)].collect().toMap
      viaWindow == viaTrunc
    }

  property("extractFilename never contains a slash and strips scheme") =
    forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))) { segs =>
      val p = "s3://" + segs.mkString("/")
      val f = pipeline.PathLayout.extractFilename(p)
      !f.contains("/") && f == segs.last
    }

  // (user, event_id, epoch-seconds) with distinct event ids per sample
  private val tsEventGen = Gen.listOfN(30, for {
    user <- Gen.choose(0L, 4L)
    off <- Gen.choose(0L, 6L * 3600)
  } yield (user, off)).map(_.zipWithIndex.map {
    case ((u, o), i) => (u, i.toLong, java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + o)))
  })

  property("sessionize conserves events; gaps split iff > threshold") =
    forAll(tsEventGen) { rows =>
      val df = rows.toDF("user_id", "event_id", "ts")
      val out = ops.Extra.sessionize(df, gapMinutes = 30)
        .select("user_id", "event_id", "ts", "session_id")
        .as[(Long, Long, java.sql.Timestamp, Long)].collect()
      val conserved = out.length == rows.length
      val lawful = out.groupBy(_._1).forall { case (_, g) =>
        val sorted = g.sortBy(r => (r._3.getTime, r._2))
        sorted.zip(sorted.tail).forall { case (a, b) =>
          val gap = b._3.getTime - a._3.getTime
          if (b._4 == a._4) gap <= 30 * 60 * 1000L
          else b._4 == a._4 + 1 && gap > 30 * 60 * 1000L
        }
      }
      conserved && lawful
    }

  // z-order laws: the Column-expression interleave must equal an
  // independent bit-twiddling reference, and the curve must preserve
  // per-dimension monotonicity at fixed other-dimension (the property
  // file skipping relies on)
  private def refZ(x: Long, y: Long): Long =
    (0 until 16).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)

  property("zvalue2 equals the bit-twiddling reference on [lo,hi] grids") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.choose(0L, 5000L), Gen.choose(-300L, 300L)))) { pts =>
      val df = pts.toDF("a", "b")
      val got = df.select(sources.Lake.zvalue2(
          col("a"), 0L, 5000L, col("b"), -300L, 300L).as("z"))
        .as[Long].collect().toSeq
      val want = pts.map { case (a, b) =>
        refZ(a * 65535L / 5000L, (b + 300L) * 65535L / 600L)
      }
      got == want
    }

  // random tiny corpora over a tiny vocabulary (dense overlaps — the
  // adversarial regime for prefix completeness: many pairs sit exactly
  // at the threshold) — the prefix-filtered joins must equal brute force
  private val corpusGen = Gen.listOfN(12, for {
    len <- Gen.choose(3, 9)
    ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e"))
  } yield ws.mkString(" ")).map(_.zipWithIndex.map {
    case (t, i) => (i.toLong, t)
  })

  private def shingleSets(docs: Seq[(Long, String)]) =
    docs.map { case (id, t) =>
      id -> t.split(" ").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)

  property("prefix-filtered Jaccard join equals brute force") =
    forAll(corpusGen) { docs =>
      val sets = llmops.MinHashLSH.wordSets(docs.toDF("doc_id", "text"), 3)
      val got = llmops.SetSim.similarPairs(sets, 3, 5)
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = (for {
        (a, sa) <- shingleSets(docs); (b, sb) <- shingleSets(docs) if a < b
        inter = (sa & sb).size.toLong
        uni = sa.size + sb.size - inter
        if 5 * inter >= 3 * uni
      } yield (a, b, inter, uni)).toSet
      got == want
    }

  property("prefix-filtered containment join equals brute force") =
    forAll(corpusGen) { docs =>
      val sets = llmops.MinHashLSH.wordSets(docs.toDF("doc_id", "text"), 3)
      val got = llmops.SetSim.containedPairs(sets, 4, 5)
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = (for {
        (a, sa) <- shingleSets(docs); (b, sb) <- shingleSets(docs) if a != b
        inter = (sa & sb).size.toLong
        if 5 * inter >= 4 * sa.size
      } yield (a, b, inter, sa.size.toLong)).toSet
      got == want
    }

  property("fillForward equals driver-side last-non-null scan") =
    forAll(tsEventGen) { rows =>
      // null out ~half the values deterministically by event id parity
      val df = rows.toDF("user_id", "event_id", "ts")
        .withColumn("k", when(col("event_id") % 2 === 0, col("event_id")))
      val got = ops.Extra.fillForward(df, "k")
        .select("user_id", "event_id", "k_filled")
        .as[(Long, Long, Option[Long])].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val want = rows.groupBy(_._1).flatMap { case (u, g) =>
        var lastK: Option[Long] = None
        g.sortBy(r => (r._3.getTime, r._2)).map { case (_, id, _) =>
          if (id % 2 == 0) lastK = Some(id)
          (u, id) -> lastK
        }
      }
      got == want
    }

  // adversarial token-budget corpora: empty texts (0 tokens), skewed
  // language sizes, single-language cases, budgets that round to 0
  private val budgetCorpusGen = Gen.listOfN(15, for {
    lang <- Gen.oneOf("en", "de", "fr")
    len <- Gen.choose(0, 8)
    ws <- Gen.listOfN(len, Gen.oneOf("tok", "word", "x9", "!!"))
  } yield (lang, ws.mkString(" "))).map(_.zipWithIndex.map {
    case ((l, t), i) => (i.toLong, l, t)
  })

  property("token budget: bucket decomposition equals naive greedy on adversarial corpora") =
    forAll(budgetCorpusGen) { docs =>
      val got = llmops.Chunking.tokenBudgetSelect(
          docs.toDF("doc_id", "lang", "text"))
        .as[(Long, String, Long, Long)].collect().toSeq
      // driver-side naive reference (the oracle's spelling)
      def md5hex(s: String) =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      def nTok(t: String) =
        "[a-z]+|[0-9]+|[^a-z0-9 ]".r.findAllIn(t).length.toLong
      val toks = docs.map { case (id, l, t) => (id, l, nTok(t)) }
      val btot = toks.map(_._3).sum / llmops.Chunking.BUDGET_DEN
      val langs = toks.map(_._2).distinct.sorted
      val budget = langs.zipWithIndex.map { case (l, i) =>
        l -> (btot / langs.length + (if (i < btot % langs.length) 1L else 0L))
      }.toMap
      val want = toks.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
        var cum = 0L
        ds.sortBy(d => (md5hex(d._1.toString), d._1)).flatMap { case (id, _, n) =>
          cum += n
          if (cum <= budget(lang)) Some((id, lang, n, cum)) else None
        }
      }.sortBy(_._1)
      got == want
    }

  // (hi32, lo32, distinct bit positions to flip) — one planted pair per
  // case; k ≤ MAX_HAMMING_IMG must ALWAYS be found (pigeonhole over the
  // 8 bands), k > it must always be rejected by the verify stage
  private val phashCaseGen: Gen[(Long, Long, List[Int])] = for {
    hi <- Gen.choose(0L, 0xffffffffL)
    lo <- Gen.choose(0L, 0xffffffffL)
    k <- Gen.choose(0, 10)
    pos <- Gen.pick(k, 0 until 64)
  } yield (hi, lo, pos.toList)

  property("phash banding: <=6 flips always found with exact hamming, >6 never") =
    forAll(Gen.listOfN(10, phashCaseGen)) { cases =>
      val rows = cases.zipWithIndex.flatMap { case ((hi, lo, pos), i) =>
        var h2 = hi; var l2 = lo
        pos.foreach { p =>
          if (p < 32) h2 ^= 1L << p else l2 ^= 1L << (p - 32) }
        Seq((2L * i, hi, lo), (2L * i + 1, h2, l2))
      }
      val found = graft.llmops.ImagePhash.neardupPairsFromHashes(
          spark.createDataFrame(rows).toDF("img_id", "hi", "lo"))
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      cases.zipWithIndex.forall { case ((_, _, pos), i) =>
        val k = pos.length
        val got = found.get((2L * i, 2L * i + 1))
        if (k <= graft.llmops.ImagePhash.MAX_HAMMING_IMG) got.contains(k.toLong)
        else got.isEmpty
      }
    }

}

/** Shingle-hash expression laws — PURE JVM (no Spark jobs per sample),
  * so these afford 1000 samples where the frame-level laws above afford
  * 8. Each law races ShingleHashImpl's byte-range hashing against an
  * independent split/mkString (resp. codepoint-window) reference over
  * random unicode text with empty tokens, multi-byte chars, and
  * surrogate pairs.
  */
object ShingleHashProps extends Properties("shingle") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(1000)

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 30)
    words <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.const(""), // consecutive/leading/trailing spaces
      Gen.oneOf("héllo", "日本語", "χ", "🙂x")))
  } yield words.mkString(" ")

  private def hash(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
  }

  private def refWordGrams(text: String, k: Int): Seq[Long] = {
    val words = text.split(" ", -1)
    if (words.length < k) Seq.empty
    else words.sliding(k).map(w => hash(w.mkString(" ")))
      .toSeq.distinct.sorted
  }

  private def refCharGrams(text: String, k: Int): Seq[Long] = {
    val cps = text.codePoints().toArray
    if (cps.length < k) Seq.empty
    else (0 to cps.length - k)
      .map(i => hash(new String(cps, i, k))).distinct.sorted
  }

  property("wordGrams == split/mkString reference") =
    forAll(textGen, Gen.choose(1, 5)) { (text, k) =>
      graft.functions.ShingleHashImpl.wordGrams(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), k)
        .toSeq == refWordGrams(text, k)
    }

  property("charGrams == codepoint-window reference") =
    forAll(textGen, Gen.choose(1, 5)) { (text, k) =>
      graft.functions.ShingleHashImpl.charGrams(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), k)
        .toSeq == refCharGrams(text, k)
    }
}

/** PNG container demux + bench confirmation-rep laws — pure JVM, cheap
  * samples.
  */
object DemuxBenchProps extends Properties("demux_bench") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(200)

  /** A structurally valid grayscale PNG (same construction as the .mpng
    * fixture generator, independent of the demuxer under test).
    */
  private def png(w: Int, h: Int, seed: Int): Array[Byte] = {
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val tb = tag.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(tb).put(data).putInt(crc.getValue.toInt)
        .array()
    }
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      raw.write(0)
      for (x <- 0 until w) raw.write((x * 31 + y * 17 + seed) % 256)
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw.toByteArray); d.finish()
    val buf = new Array[Byte](raw.size() + 64)
    val idat = java.util.Arrays.copyOf(buf, d.deflate(buf))
    d.end()
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.empty)
  }

  private val framesGen: Gen[List[(Int, Int, Int)]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, for {
      w <- Gen.choose(1, 24); h <- Gen.choose(1, 24); s <- Gen.choose(0, 255)
    } yield (w, h, s)))

  property("pngFrameBounds recovers every concatenated frame exactly") =
    forAll(framesGen) { specs =>
      val parts = specs.map { case (w, h, s) => png(w, h, s) }
      val blob = parts.reduce(_ ++ _)
      val bounds = graft.llmops.Multimodal.pngFrameBounds(blob)
      val lengths = parts.map(_.length)
      val starts = lengths.scanLeft(0)(_ + _).init
      bounds == starts.zip(lengths).map { case (a, l) => (a, a + l) }
    }

  property("truncated tail frame is dropped, earlier frames intact") =
    forAll(framesGen, Gen.choose(1, 11)) { (specs, cut) =>
      val parts = specs.map { case (w, h, s) => png(w, h, s) }
      val blob = parts.reduce(_ ++ _)
      val trunc = blob.dropRight(math.min(cut, parts.last.length - 1))
      graft.llmops.Multimodal.pngFrameBounds(trunc).length == parts.length - 1
    }

  property("corrupt bytes anywhere never hang, throw, or emit bad bounds") =
    forAll(framesGen, Gen.choose(0, Int.MaxValue),
      Gen.listOfN(4, Gen.choose(0, 255))) { (specs, posSeed, junk) =>
      // clobber 4 bytes at an arbitrary offset past the first signature —
      // when they land on a chunk-length field this used to spin forever
      // (len = -12) or overflow into an AIOOBE
      val parts = specs.map { case (w, h, s) => png(w, h, s) }
      val blob = parts.reduce(_ ++ _).clone()
      val i = 8 + posSeed % math.max(1, blob.length - 12)
      junk.zipWithIndex.foreach { case (b, j) => blob(i + j) = b.toByte }
      val bounds = graft.llmops.Multimodal.pngFrameBounds(blob)
      bounds.forall { case (a, b) => a >= 0 && a < b && b <= blob.length } &&
        bounds.sliding(2).forall {
          case Seq((_, e), (s2, _)) => e == s2
          case _ => true
        }
    }

  private val timesGen: Gen[Map[String, Double]] =
    Gen.mapOfN(6, for {
      n <- Gen.identifier.map(_.take(6)); t <- Gen.choose(0.01, 10.0)
    } yield (n, t)).suchThat(_.nonEmpty)

  property("confirmation rep: survivors are flagged, times never worsen") =
    forAll(timesGen, Gen.choose(0.5, 3.0)) { (times, factor) =>
      val prev = times.map { case (k, v) => k -> v / factor }
      val flagged = times.keys.filter(n =>
        Bench.isRegression(times(n), prev(n))).toSeq
      val (updated, survived) = Bench.confirmRegressions(
        flagged, times, prev, n => times(n) * 0.9)
      survived.forall(flagged.contains) &&
        updated.forall { case (k, v) => v <= times(k) } &&
        (times.keySet -- flagged).forall(k => updated(k) == times(k))
    }

  // x_domain_cap's bounded heap: for ANY input order and ANY split into
  // partial buffers, reduce+merge equals the brute-force sort-take — the
  // law that makes the map-side partial sound (no ordering or grouping
  // assumption survives a shuffle).
  private val scoredGen = Gen.listOf(for {
    s <- Gen.choose(-5L, 5L) // narrow range → plenty of score ties
    id <- Gen.choose(0L, 100L)
  } yield graft.functions.ScoredId(s, id))

  // the shared decomposition behind x_shard_assign / x_dense_ids (and,
  // with a lang dimension, x_token_budget): `before` must equal the
  // naive global running total in (md5(id), id) order for ANY id set
  // and ANY measure values, including duplicates-of-measure and zeros
  private val cumsumGen = Gen.listOf(for {
    id <- Gen.choose(0L, 500L)
    m <- Gen.oneOf(0L, 1L, 7L, 100L)
  } yield (id, m)).map(_.distinctBy(_._1)).suchThat(_.nonEmpty)

  property("BucketCumsum.before equals the naive global running total") =
    forAll(cumsumGen) { rows =>
      val df = SparkTestSession.spark.createDataFrame(rows)
        .toDF("doc_id", "m")
      val got = graft.core.BucketCumsum.before(df, "doc_id", col("m"))
        .select("doc_id", "before").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      val ordered = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
      val expect = ordered.scanLeft(0L)(_ + _._2).zip(ordered)
        .map { case (before, (id, _)) => id -> before }.toMap
      got == expect
    }

  property("topK aggregator equals brute force under any partition split") =
    forAll(scoredGen, Gen.choose(1, 4), Gen.choose(1, 5)) { (xs, k, nSplits) =>
      val agg = new graft.functions.TopKByScore(k)
      // duplicates allowed: the heap must tolerate repeated (score,id)
      // rows exactly like a sort would
      val brute = xs.sortWith((a, b) =>
        a.score > b.score || (a.score == b.score && a.id < b.id)).take(k)
      val buffers = (0 until nSplits).map(i =>
        xs.zipWithIndex.collect { case (x, j) if j % nSplits == i => x })
      val merged = buffers
        .map(part => part.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      merged.toList == brute
    }

  property("bitmap agg+rollup equals exact distinct under any partition split") =
    forAll(Gen.listOf(Gen.choose(0L, 5000L)), Gen.choose(1, 5)) { (ids, nSplits) =>
      val B = graft.functions.BitmapFns
      val agg = new B.BitmapAgg
      val parts = (0 until nSplits).map(i =>
        ids.zipWithIndex.collect { case (x, j) if j % nSplits == i => x })
      // stage 1: OR-merge across arbitrary splits, serialize
      val bytes = agg.finish(parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)((a, b) => agg.merge(a, b)))
      // stage 2: rollup of the per-split bitsets must give (true distinct,
      // Σ per-split distincts) regardless of split shape
      val ru = new B.BitmapRollup
      val splitBlobs = parts.map(p =>
        agg.finish(p.foldLeft(agg.zero)(agg.reduce)))
      val (orDistinct, sumParts) = ru.finish(
        splitBlobs.foldLeft(ru.zero)(ru.reduce))
      val trailing = bytes.isEmpty || bytes.takeRight(8).exists(_ != 0)
      B.popcount(B.fromBytes(bytes)) == ids.distinct.length.toLong &&
        orDistinct == ids.distinct.length.toLong &&
        sumParts == parts.map(_.distinct.length.toLong).sum &&
        trailing // serialization trims trailing zero words canonically
    }
}
