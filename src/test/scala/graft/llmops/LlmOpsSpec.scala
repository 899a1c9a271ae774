package graft.llmops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = (0 until 40).map(i => s"tok${i * 7 % 31}").mkString(" ")
    val nearDup = base.split(" ").updated(5, "CHANGED").mkString(" ")
    val unrelated = (0 until 40).map(i => s"other${i}").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("doc_id", "text")
    val sh = Shingles.wordShingles(docs, 3)
    val cand = MinHashLSH.candidates(MinHashLSH.bandKeys(MinHashLSH.signatures(sh)))
    val pairs = MinHashLSH.exactJaccard(cand, sh)
      .filter(col("jaccard") >= MinHashLSH.TAU)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("cosine similarity matches hand-computed values") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),   // identical → 1
      (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal → 0
      (3L, Array(1.0f, 0.0f), Array(-1.0f, 0.0f)))  // opposite → -1
      .toDF("id", "a", "b")
      .select(col("id"), VectorSearch.cosine(col("a"), col("b")).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(df(1L) - 1.0) < 1e-12)
    assert(math.abs(df(2L)) < 1e-12)
    assert(math.abs(df(3L) + 1.0) < 1e-12)
  }

  test("topPerProbe keeps k per probe, the lower vec_id winning a sim tie " +
      "at the k boundary; a probe with fewer than k rows keeps them all") {
    val scored = Seq(
      (1L, 7L, 0.8), (1L, 5L, 0.9), (1L, 3L, 0.8), (1L, 2L, 0.5),
      (2L, 9L, 0.1)
    ).toDF("probe_id", "vec_id", "sim")
    val got = VectorSearch.topPerProbe(scored, 2)
      .select(col("probe_id"), col("rank"), col("vec_id"))
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set((1L, 1, 5L), (1L, 2, 3L), (2L, 1, 9L)))
  }

  test("semantic dedup survivors equal ids minus higher-id cosine partners (brute force)") {
    val sf = "/root/testdata/sf0.001"
    val got = VectorSearch.xSemDedup.build(spark, sf).as[Long].collect().toSet
    val e = graft.core.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val losers = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(VectorSearch.cosine(col("a.emb"), col("b.emb")) >= VectorSearch.COSINE_TAU)
      .select(col("b.vec_id")).as[Long].collect().toSet
    val all = e.select(col("vec_id")).as[Long].collect().toSet
    assert(got == all -- losers)
    assert(losers.nonEmpty) // the fixture plants cosine-dups: test has teeth
  }

  test("k-means cluster assignment separates two planted clusters") {
    // two tight clusters on the unit circle: around (1,0) and (0,1);
    // lowest-id init seeds one centroid in each
    val pts = (0 until 10).map { i =>
      val base = if (i % 2 == 0) (1.0, 0.001 * i) else (0.001 * i, 1.0)
      val n = math.sqrt(base._1 * base._1 + base._2 * base._2)
      (i.toLong, Array(base._1 / n, base._2 / n))
    }
    val df = pts.toDF("vec_id", "n_emb")
    val got = VectorSearch.clusterAssignments(df, k = 2, iterations = 2)
      .as[(Long, Int, Double)].collect()
    assert(got.length == 10)                       // every vector assigned once
    val byCid = got.groupBy(_._2).view.mapValues(_.map(_._1 % 2).toSet)
    assert(byCid.size == 2)                        // both clusters used
    assert(byCid.values.toSet == Set(Set(0L), Set(1L))) // parity = planted cluster
    assert(got.forall(_._3 > 0.9))                 // tight: own-centroid sim high
  }

  test("embed near-dup list-pair pruning returns exactly the brute-force pairs") {
    val sf = "/root/testdata/sf0.001"
    val pruned = VectorSearch.xEmbedNearDup.build(spark, sf)
      .as[(Long, Long)].collect().toSet
    val e = graft.core.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val a = e.select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("emb").as("b_emb"))
    val brute = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .filter(VectorSearch.cosine(col("a_emb"), col("b_emb")) >= VectorSearch.COSINE_TAU)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(pruned == brute, s"missing=${brute -- pruned} extra=${pruned -- brute}")
    assert(brute.nonEmpty)
  }

  test("exact dedup is idempotent") {
    val out1 = Dedup.q32.build(spark, "/root/testdata/sf0.001")
    val n1 = out1.count()
    // dedup of the already-deduped set changes nothing
    out1.createOrReplaceTempView("documents_tmp")
    assert(n1 == out1.dropDuplicates("digest").count())
  }

  test("LSH recall: randomly edited near-dups are always found (20 trials)") {
    val rng = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    (1 to 20).foreach { trial =>
      val base = Array.fill(50)(vocab(rng.nextInt(vocab.size)))
      val edited = base.clone()
      edited(rng.nextInt(50)) = "EDIT" + trial // one random word swap
      val docs = Seq((0L, base.mkString(" ")), (1L, edited.mkString(" ")))
        .toDF("doc_id", "text")
      val sets = MinHashLSH.hashSets(Shingles.wordShingles(docs, 3))
      val cand = MinHashLSH.candidates(
        MinHashLSH.bandKeys(MinHashLSH.signaturesFromSets(sets)))
      val found = MinHashLSH.exactJaccardFromSets(cand, sets)
        .filter(col("jaccard") >= MinHashLSH.TAU).count()
      assert(found == 1, s"trial $trial: near-dup pair missed by LSH")
    }
  }

  test("IVF ANN recall@10 vs the exact twin meets the bar for every probe") {
    val res = VectorSearch.xAnnIvf.build(spark, "/root/testdata/sf0.001")
      .as[(Long, Boolean)].collect()
    assert(res.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))
    res.foreach { case (probe, ok) =>
      assert(ok, s"probe $probe: recall@10 below ${VectorSearch.ANN_RECALL_BAR}")
    }
  }

  test("dedup pipeline removes exact dups, near-dups, and short docs") {
    val base = (0 until 40).map(i => s"tok${i * 7 % 31}").mkString(" ")
    val nearDup = base.split(" ").updated(5, "CHANGED").mkString(" ")
    val docs = Seq(
      (0L, base),            // survives
      (1L, base),            // exact dup of 0 -> removed
      (2L, nearDup),         // near-dup of 0 -> removed
      (3L, "too short"),     // quality-filtered
      (4L, (0 until 40).map(i => s"other$i").mkString(" ")) // survives
    ).toDF("doc_id", "text")
    val survivors = DedupPipeline.run(docs, minTokens = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(0L, 4L))
    // idempotence: running again on survivors removes nothing
    val again = DedupPipeline.run(
      docs.filter(col("doc_id").isin(survivors.toSeq: _*)), minTokens = 10)
    assert(again.count() == survivors.size)
  }

  test("PNG container demux cuts frames at real chunk boundaries; 2x resize halves dims") {
    // bounds walker against the committed fixture: clip_doc_302.mpng is 5
    // concatenated PNG streams; every cut must land on a signature and
    // every frame must independently re-decode with the generator's dims
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${Multimodal.blobDir}/clip_doc_302.mpng"))
    val bounds = Multimodal.pngFrameBounds(bytes)
    assert(bounds.length == 5)
    assert(bounds.head._1 == 0 && bounds.last._2 == bytes.length)
    assert(bounds.sliding(2).forall { case Seq((_, e), (s2, _)) => e == s2 })
    // a truncated tail frame (torn write) is dropped, not mis-cut
    assert(Multimodal.pngFrameBounds(bytes.dropRight(7)).length == 4)

    val frames = Multimodal.demuxPngFrames(
      spark.read.format("binaryFile").load(s"${Multimodal.blobDir}/*.mpng"))
    val f302 = frames.filter(col("file_name") === "clip_doc_302.mpng")
      .orderBy("frame_idx").collect()
    assert(f302.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 3, 4))
    val dims = f302.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      (img.getWidth, img.getHeight)
    }
    assert(dims.toSeq == Seq((31, 9), (31, 9), (37, 19), (41, 23), (43, 29)))

    val rs = Multimodal.resize(frames, 2)
      .filter(col("file_name") === "clip_doc_302.mpng")
      .orderBy("frame_idx").collect()
    val rsDims = rs.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      (img.getWidth, img.getHeight)
    }
    assert(rsDims.toSeq == Seq((15, 4), (15, 4), (18, 9), (20, 11), (21, 14)))
  }

  test("mpng fixtures hold the invariants the oracle contract assumes") {
    // x_media_frames' DuckDB oracle is weaker than the engine on purpose
    // (it counts a torn tail as a frame, treats ANY embedded signature
    // byte-pattern as a frame start, and computes dims // 2 where resize
    // clamps max(1, d / factor)); the hash contract holds only while the
    // committed fixtures are pristine. Pin those invariants so a fixture
    // regeneration can't silently diverge the two sides.
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    val dirFiles = new java.io.File(Multimodal.blobDir).listFiles()
      .filter(_.getName.endsWith(".mpng")).sortBy(_.getName)
    assert(dirFiles.length == 3)
    for (f <- dirFiles) {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val bounds = Multimodal.pngFrameBounds(bytes)
      // no torn tail: chunk-walked frames tile the file exactly
      assert(bounds.nonEmpty && bounds.head._1 == 0 && bounds.last._2 == bytes.length,
        s"${f.getName}: frames must cover the whole file")
      // no embedded signature: the byte-pattern occurs ONLY at frame starts
      val sigOffsets = (0 to bytes.length - 8)
        .filter(i => sig.indices.forall(j => bytes(i + j) == sig(j)))
      assert(sigOffsets == bounds.map(_._1),
        s"${f.getName}: PNG signature must appear exactly at frame starts")
      // dims in [factor, 256): the oracle reads single IHDR LSBs and
      // computes d // 2 with no clamp
      for (((st, _), idx) <- bounds.zipWithIndex) {
        val w = java.nio.ByteBuffer.wrap(bytes, st + 16, 4).getInt
        val h = java.nio.ByteBuffer.wrap(bytes, st + 20, 4).getInt
        assert(w >= 2 && w < 256 && h >= 2 && h < 256,
          s"${f.getName} frame $idx: dims ($w x $h) outside [2, 256)")
      }
    }
  }

  test("media feature extraction: real byte metadata, null dims for raw blobs") {
    val feats = Multimodal.extractFeatures(
      spark.read.format("binaryFile").load(s"${Multimodal.blobDir}/*.bin"))
      .orderBy("file_name").collect()
    assert(feats.length == 6)
    assert(feats(0).getString(0) == "doc_0.bin")
    assert(feats(0).getLong(1) == 1000L)
    val mean = feats(0).getDouble(2)
    assert(mean > 0 && mean < 255)
    assert(feats.forall(r => r.isNullAt(3) && r.isNullAt(4))) // no decoder
  }

  test("audio feature extraction decodes WAV headers via javax.sound") {
    val feats = Multimodal.extractAudioFeatures(
      spark.read.format("binaryFile").load(s"${Multimodal.blobDir}/*.wav"))
      .orderBy("file_name").collect()
    assert(feats.map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq ==
      Seq(("audio_doc_201.wav", 1L, 8000L, 800L),
        ("audio_doc_202.wav", 2L, 16000L, 1600L),
        ("audio_doc_203.wav", 1L, 44100L, 2205L),
        ("mel_doc_401.wav", 1L, 8000L, 1600L),
        ("mel_doc_402.wav", 1L, 8000L, 1600L),
        ("mel_doc_403.wav", 1L, 8000L, 1600L)))
  }

  test("media feature extraction decodes PNG dimensions via javax.imageio") {
    val feats = Multimodal.extractFeatures(
      spark.read.format("binaryFile").load(s"${Multimodal.blobDir}/*.png"))
      .orderBy("file_name").collect()
    assert(feats.map(r => (r.getString(0), r.getInt(3), r.getInt(4))).toSeq ==
      Seq(("img_doc_101.png", 17, 9), ("img_doc_102.png", 33, 21),
        ("img_doc_103.png", 120, 77), ("img_doc_104.png", 120, 77),
        ("img_doc_105.png", 90, 60), ("img_doc_106.png", 90, 60),
        ("img_doc_107.png", 64, 48)))
    assert(feats.forall(_.getString(5).matches("[0-9a-f]{32}")))
  }

  test("dedup threshold curve: cumulative slices of one pair set, and " +
    "the documented plateau is a corpus fact (all pairs J >= 0.9)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = MinHashLSH.xDedupThresholdCurve.build(spark, dir)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(5L, 6L, 7L, 8L, 9L))
      // cumulative: pair/loser counts are non-increasing in tau,
      // retention non-decreasing
      rows.sliding(2).foreach { case Array(a, b) =>
        assert(b._2 <= a._2 && b._3 <= a._3 && b._4 >= a._4)
      case _ => }
      // the near-plateau: >=96% of this lake's planted pairs sit at
      // J >= 0.9 (27/28 at sf0.001, 25/25 at sf0.01) — if the fixture
      // grows a real mid-similarity tail this flags the scaladoc finding
      assert(rows.last._2 * 100 >= rows.head._2 * 96,
        s"$dir: curve grew a mid-similarity tail — update the scaladoc")
      info(s"$dir: ${rows.head._2} pairs at tau=0.5 -> ${rows.last._2} " +
        s"at tau=0.9; retention ${rows.head._4}..${rows.last._4} ppm")
    }
  }
}
