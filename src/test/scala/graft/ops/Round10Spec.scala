package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Round-10 additions beyond the per-operator specs. */
class Round10Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("full curation: card invariants hold at sf0.001 and sf0.01") {
    val F = graft.llmops.FullCuration
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val card = F.curate(spark, dir).collect()
      assert(card.nonEmpty, s"$dir: empty card")

      // lang-id is threaded through to the end: on this fixture the vote
      // says 'en' for every doc, so every non-en group is 100% mispredicted
      // and the en group is 0% — any other value means lang_pred was lost
      // or recomputed between stages
      card.foreach { r =>
        val (lang, nDocs, nMispred) =
          (r.getString(0), r.getLong(2), r.getLong(6))
        if (lang == "en") assert(nMispred == 0L, s"$dir en mispred=$nMispred")
        else assert(nMispred == nDocs, s"$dir $lang mispred=$nMispred/$nDocs")
      }

      // contiguous-fill shard balance: summing across languages, every
      // shard except the last holds SHARD_TOKENS tokens give-or-take one
      // document (the x_shard_assign contract, surviving the composition)
      val sem = F.semStage(spark, dir)
      val maxDoc = sem.agg(max(col("n_tok"))).as[Long].head()
      val byShard = card.groupBy(_.getLong(1)).view
        .mapValues(_.map(_.getLong(3)).sum).toMap
      val last = byShard.keys.max
      byShard.foreach { case (shard, toks) =>
        if (shard != last)
          assert(math.abs(toks - graft.llmops.Chunking.SHARD_TOKENS) < maxDoc,
            s"$dir shard $shard holds $toks tokens (target " +
              s"${graft.llmops.Chunking.SHARD_TOKENS} ± <$maxDoc)")
      }

      // elimination is strictly monotone and non-trivial: the mixture is
      // a proper subset of the stage-8 survivors, which are a proper
      // subset of the train split
      val semN = sem.count()
      val mixN = card.map(_.getLong(2)).sum
      val trainN = graft.core.Tables(spark, dir, "documents")
        .filter(!graft.llmops.Incremental.holdoutColumn).count()
      assert(mixN < semN && semN < trainN,
        s"$dir funnel not strict: train=$trainN sem=$semN mix=$mixN")
      info(s"$dir funnel: train=$trainN sem=$semN mix=$mixN " +
        s"shards=${byShard.size} maxDoc=$maxDoc")
    }
  }

  test("full curation: survivors carry no exact duplicates and no residual high-J near-dup pairs (sf0.001 brute force)") {
    val F = graft.llmops.FullCuration
    val dir = "/root/testdata/sf0.001"
    val sem = F.semStage(spark, dir)

    val ids = sem.select(col("doc_id")).as[Long].collect()
    val fullText = graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap

    // stage-4 contract propagated: no two survivors share the same FULL
    // text (line dedup may legitimately make CLEANED texts collide; the
    // exact-dedup contract is on the pre-line-removal document)
    val texts = ids.map(fullText)
    assert(texts.distinct.length == texts.length,
      "exact duplicates survived the pipeline")

    // brute-force 3-shingle Jaccard over the PRE-line-dedup text of the
    // survivors: stage 5 must have removed every pair >= TAU (survivor
    // sets here are small enough to verify exhaustively)
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = ids.map(id => id -> shingles(fullText(id))).toMap
    var bad = List.empty[(Long, Long, Double)]
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val (sa, sb) = (sets(a), sets(b))
      if (sa.nonEmpty && sb.nonEmpty) {
        val inter = (sa & sb).size
        val jac = inter.toDouble / (sa.size + sb.size - inter)
        if (jac >= graft.llmops.MinHashLSH.TAU) bad ::= (a, b, jac)
      }
    }
    assert(bad.isEmpty, s"surviving near-dup pairs: ${bad.take(5)}")
    info(s"checked ${ids.length * (ids.length - 1) / 2} survivor pairs, 0 >= TAU")
  }

  test("cdc incremental: lake round trip is lossless and chunk-dedup cost is O(edits)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = graft.llmops.Chunking.cdcIncremental(spark, dir)
        .as[(Long, Boolean, Long, Long)].collect()
      val (edited, clean) = rows.partition(_._2)
      assert(edited.nonEmpty && clean.nonEmpty)
      // storage round trip: an UNEDITED doc re-chunks to exactly its
      // stored digests — any serialization drift would show as n_new > 0
      clean.foreach { case (id, _, _, nNew) =>
        assert(nNew == 0, s"$dir: unedited doc $id has $nNew new chunks")
      }
      // O(edits): one inserted word perturbs at most the chunk it lands
      // in plus its hash-window neighbors — never the rest of the doc
      edited.foreach { case (id, _, nChunks, nNew) =>
        assert(nNew >= 1 && nNew <= 3,
          s"$dir: edited doc $id has $nNew new chunks of $nChunks")
      }
      info(s"$dir: ${clean.length} unedited docs all 0-new; " +
        s"${edited.length} edited docs max ${edited.map(_._4).max} new " +
        s"of ~${edited.map(_._3).sum / edited.length} chunks each")
    }
  }

  test("semdedup incremental: flags have precision 1 vs brute force; replica recall is 1.0; control recall recorded") {
    import graft.llmops.VectorSearch
    val V = VectorSearch
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = V.embeddingsBase(spark, dir)
        .select(col("vec_id"), col("n_emb"))
      val batch = V.incrementalScreenBatch(spark, dir)
      val truth = batch.select(col("vec_id").as("probe_id"),
          col("n_emb").as("b_emb"))
        .crossJoin(e)
        .groupBy(col("probe_id"))
        .agg(max(when(V.cosine(col("b_emb"), col("n_emb")) >= V.COSINE_TAU,
          1L).otherwise(0L)).as("t"))
      val got = V.semDedupIncrementalFlags(spark, dir)
      val joined = truth.join(got, Seq("probe_id"), "left")
        .select(col("probe_id"), col("t"), coalesce(col("dup"), lit(0L)).as("d"))
        .as[(Long, Long, Long)].collect()
      // precision 1: a flag implies a true duplicate (the screen uses
      // exact cosine over a SUBSET of the corpus)
      joined.foreach { case (id, t, d) =>
        assert(d <= t, s"$dir: false flag on $id")
      }
      val (rep, ctl) = joined.partition(_._1 < 2 * V.INCR_OFFSET)
      def recall(xs: Array[(Long, Long, Long)]) = {
        val dups = xs.filter(_._2 == 1)
        (dups.count(_._3 == 1), dups.length)
      }
      val (rHit, rTot) = recall(rep)
      val (cHit, cTot) = recall(ctl)
      info(f"$dir replica recall $rHit/$rTot; control recall $cHit/$cTot " +
        f"(${cHit.toDouble / math.max(cTot, 1)}%.2f)")
      assert(rHit == rTot, s"$dir: planted duplicates escaped the screen")
    }
  }

  test("unigram tokenizer: segmentations reconstruct words, scores are exact piece sums, pieces are in-vocab, and the DP is optimal") {
    val U = graft.llmops.Unigram
    val (vocab, segs) = U.train(
      graft.core.Tables(spark, "/root/testdata/sf0.01", "documents"))
    val lp = vocab.map { case (p, _, l) => p -> l }.toMap
    val rows = segs.select("w", "n_pieces", "score_fix", "seg")
      .as[(String, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (w, n, score, seg) =>
      val pieces = seg.split('|')
      assert(pieces.mkString("") == w, s"$w: seg '$seg' does not reconstruct")
      assert(pieces.length == n, s"$w: n_pieces=$n but seg has ${pieces.length}")
      assert(pieces.forall(lp.contains), s"$w: out-of-vocab piece in '$seg'")
      assert(pieces.map(lp).sum == score, s"$w: score mismatch")
    }
    // DP optimality: a driver-side exhaustive segmentation search agrees
    // on (max score, then fewest pieces) for every corpus word
    def allSegs(w: String): Seq[List[String]] =
      if (w.isEmpty) Seq(Nil)
      else (1 to math.min(U.MAX_PIECE, w.length)).flatMap { l =>
        val (h, t) = w.splitAt(l)
        if (lp.contains(h)) allSegs(t).map(h :: _) else Nil
      }
    rows.foreach { case (w, n, score, _) =>
      val best = allSegs(w).map(s => (s.map(lp).sum, s.length))
        .sortBy { case (sc, np) => (-sc, np) }.head
      assert(best._1 == score && best._2 == n,
        s"$w: DP says ($score, $n), brute force says $best")
    }
    info(s"verified ${rows.length} words against exhaustive segmentation; " +
      s"vocab=${vocab.length} pieces")
  }

  test("IVF-PQ persistence: loaded artifacts equal built ones; incremental codes are O(batch); recall gate holds") {
    val V = graft.llmops.VectorSearch
    val dir = "/root/testdata/sf0.01"

    // storage round trip is lossless: the code table read back from
    // parquet is row-identical to the built one, and the stored coarse
    // centroids equal the in-memory k-means output element-wise
    val path = V.persistPqIndex(spark, dir)
    val (cents, cbL, codesL) = V.loadPqIndex(spark, path)
    val (cbBuilt, codesBuilt) = V.pqIndex(spark, dir)
    assert(codesL.count() == codesBuilt.count())
    assert(codesL.exceptAll(codesBuilt).isEmpty && codesBuilt.exceptAll(codesL).isEmpty,
      "stored code table differs from the built one")
    assert(cbL.exceptAll(cbBuilt).isEmpty, "stored codebooks differ")
    val memCents = V.sharedCentroids(spark, dir)
    assert(cents.length == memCents.length &&
      cents.zip(memCents).forall { case (a, b) => a == b.toSeq },
      "stored coarse centroids differ")

    // no-retrain batch coding is O(batch): exactly PQ_BLOCKS code rows
    // per new vector, nothing recomputed over the base corpus
    val batch = V.replicaBatch(spark, dir)
    val nBatch = batch.count()
    val bcodes = V.incrementalCodes(batch, cents, cbL)
    assert(bcodes.count() == nBatch * V.PQ_BLOCKS)

    // the end-to-end gate: every probe clears the bar on the merged
    // corpus after the storage round trip (measured floor 1.0)
    val rec = V.ivfpqIncrementalRecall(spark, dir).collect()
    assert(rec.length == 5 && rec.forall(_.getBoolean(2)),
      s"recalls: ${rec.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(" ")}")
    info("recalls: " + rec.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(" "))
  }

  test("retrieval eval: metric invariants and non-vacuity") {
    val R = graft.llmops.RetrievalEval
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = R.xRetrievalEval.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(rows.length == R.NPROBE)
      rows.foreach { case (p, nRel, hits, first, rr) =>
        assert(hits <= math.min(R.TOPK, nRel), s"probe $p: hits $hits")
        assert(first >= 0 && first <= R.TOPK, s"probe $p: first $first")
        if (first > 0) assert(rr == R.RR_SCALE / first, s"probe $p: rr $rr")
        else assert(rr == 0 && hits == 0)
      }
      // the retriever is not vacuous on this data: something is found
      assert(rows.map(_._3).sum > 0, s"$dir: zero hits across all probes")
    }
  }

  test("url canonicalization collapses every 4-variant group") {
    val W = graft.llmops.WebClean
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val nDocs = graft.core.Tables(spark, dir, "documents").count()
      val rows = W.xUrlCanon.build(spark, dir)
        .as[(String, Long, Long)].collect()
      assert(rows.length == (nDocs + 3) / 4, s"$dir: group count")
      assert(rows.map(_._2).sum == nDocs, s"$dir: variants not conserved")
      rows.foreach { case (canon, n, rep) =>
        assert(n <= 4, s"$dir: $canon n=$n")
        assert(rep % 4 == 0, s"$dir: $canon rep=$rep not the v=0 variant")
        assert(!canon.contains("utm_") && !canon.contains("#") &&
          !canon.contains(":443") && !canon.exists(_.isUpper), canon)
      }
    }
  }

  test("AUC matches the brute-force pairwise definition") {
    val R = graft.llmops.RetrievalEval
    val dir = "/root/testdata/sf0.001"
    val V = graft.llmops.VectorSearch
    val e = V.embeddingsBase(spark, dir)
      .select(col("vec_id"), col("label"), col("n_emb"))
      .as[(Long, Int, Seq[Double])].collect()
    val out = R.xAucEval.build(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    out.foreach { case (p, nPos, nNeg, u, aucFix) =>
      val probe = e.find(_._1 == p).get
      // the scorer's deterministic total order, brute-forced
      val scored = e.filter(_._1 != p).map { case (v, l, emb) =>
        val s = BigDecimal(emb.zip(probe._3).map { case (a, b) => a * b }.sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        (v, l == probe._2, s)
      }
      val pos = scored.filter(_._2)
      val neg = scored.filterNot(_._2)
      assert(nPos == pos.length && nNeg == neg.length)
      // AUC numerator = # (pos, neg) pairs the scorer orders correctly,
      // under the (sim, vec_id) total order — the statistic U counts
      val correct = (for (a <- pos; b <- neg) yield {
        if (a._3 != b._3) if (a._3 > b._3) 1L else 0L
        else if (a._1 < b._1) 1L else 0L
      }).sum
      assert(u == correct, s"probe $p: U=$u vs brute $correct")
      assert(aucFix == 1000000L * u / (nPos * nNeg))
    }
  }

  test("chi-square verdict matches a driver-side exact computation") {
    val E = EventAnalytics
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val out = E.xAbChisq.build(spark, dir)
        .as[(Long, Long, Long, Long, Long, Boolean)].head()
      val (a, b, c, d, delta, sig) = out
      assert(delta == a * d - b * c)
      val num = BigInt(1000) * BigInt(a + b + c + d) * BigInt(delta) * BigInt(delta)
      val den = BigInt(3841) * BigInt(a + b) * BigInt(c + d) * BigInt(a + c) * BigInt(b + d)
      assert(sig == (num >= den), s"$dir: verdict $sig vs ${num >= den}")
      info(s"$dir: table=($a,$b,$c,$d) delta=$delta significant=$sig")
    }
  }

  test("KS drift statistic matches a driver-side reference") {
    val D = graft.llmops.Drift
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = graft.core.Tables(spark, dir, "documents")
      val cut = graft.llmops.Incremental.cutoffValue(docs)
      val vals = docs.select(
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
            .cast("long").as("v"),
          (col("doc_id") <= cut).as("ref"))
        .as[(Long, Boolean)].collect()
      val refS = vals.filter(_._2).map(_._1).sorted
      val newS = vals.filterNot(_._2).map(_._1).sorted
      val (ta, tb) = (refS.length.toLong, newS.length.toLong)
      val ks = vals.map(_._1).distinct.sorted.map { x =>
        val ca = refS.count(_ <= x).toLong
        val cb = newS.count(_ <= x).toLong
        (math.abs(ca * tb - cb * ta), x)
      }.maxBy { case (d, x) => (d, -x) }
      val got = D.xKsDrift.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].head()
      assert(got == ((ks._2, ks._1, ta, tb, 1000000L * ks._1 / (ta * tb))),
        s"$dir: got $got want $ks")
    }
  }

  test("l-diversity matches a driver-side brute force and k-anon is consistent") {
    val G = graft.llmops.Governance
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = graft.core.Tables(spark, dir, "documents")
        .select(col("source"), (col("n_chars") / G.QI_BUCKET)
          .cast("long").as("len_bucket"), col("lang"))
        .as[(String, Long, String)].collect()
      val expect = docs.groupBy(t => (t._1, t._2)).view.mapValues { rows =>
        val byLang = rows.groupBy(_._3).view.mapValues(_.length.toLong)
        (rows.length.toLong, byLang.size.toLong, byLang.values.max)
      }.toMap
      val out = G.xLDiversity.build(spark, dir)
        .as[(String, Long, Long, Long, Long, Boolean, Boolean)].collect()
      assert(out.length == expect.size)
      out.foreach { case (src, lb, n, dl, top, l3, mb) =>
        val (en, edl, etop) = expect((src, lb))
        assert((n, dl, top) == ((en, edl, etop)), s"$dir ($src,$lb)")
        assert(l3 == (dl >= 3) && mb == (top * 2 <= n))
      }
      // the flags must actually partition the groups on this fixture
      assert(out.exists(_._6) && out.exists(!_._6),
        s"$dir: l3_diverse never varies — flag untested")
      info(s"$dir: ${out.length} QI groups, " +
        s"${out.count(_._6)} l3-diverse, ${out.count(_._7)} majority-bounded")
    }
  }

  test("bitmap distinct rollup equals COUNT(DISTINCT) at both levels") {
    val H = graft.llmops.HeavyHitters
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val orders = graft.core.Tables(spark, dir, "orders")
      val expectQ = orders
        .groupBy(trunc(col("o_orderdate"), "quarter").as("quarter"))
        .agg(countDistinct(col("o_custkey")).as("qd"))
        .as[(java.sql.Date, Long)].collect().toMap
      val expectSum = orders
        .groupBy(trunc(col("o_orderdate"), "quarter").as("quarter"),
          trunc(col("o_orderdate"), "month").as("mo"))
        .agg(countDistinct(col("o_custkey")).as("md"))
        .groupBy("quarter").agg(sum("md").as("s"), count(lit(1)).as("nm"))
        .as[(java.sql.Date, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      val out = H.xBitmapDistinct.build(spark, dir)
        .as[(java.sql.Date, Long, Long, Long, Long)].collect()
      assert(out.length == expectQ.size)
      out.foreach { case (q, nm, sumMd, qd, overlap) =>
        assert(qd == expectQ(q), s"$dir $q: quarterly distinct")
        assert((sumMd, nm) == expectSum(q), s"$dir $q: month roll")
        assert(overlap == sumMd - qd && overlap >= 0)
      }
      // double-counting must actually occur (repeat customers in a quarter)
      assert(out.exists(_._5 > 0), s"$dir: no overlap — rollup untested")
      info(s"$dir: ${out.length} quarters, " +
        s"max overlap ${out.map(_._5).max}")
    }
  }

  test("readability fixed point matches a driver-side recompute") {
    val T = graft.llmops.TextStats
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val texts = graft.core.Tables(spark, dir, "documents")
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      val out = T.xReadability.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(out.length == texts.size)
      val vowels = "[aeiouy]+".r
      val sents = "[.!?]+".r
      out.foreach { case (id, w, s, y, fre) =>
        val t = texts(id)
        val ew = t.split(" ", -1).length.toLong
        val es = math.max(1L, sents.findAllIn(t).length.toLong)
        val ey = t.toLowerCase.split(" ", -1)
          .map(tok => math.max(1L, vowels.findAllIn(tok).length.toLong)).sum
        assert((w, s, y) == ((ew, es, ey)), s"$dir doc $id counts")
        val num = 206835L * es * ew - 1015L * ew * ew - 84600L * ey * es
        val den = es * ew
        val want = if (num >= 0) num / den else -((-num) / den)
        assert(fre == want, s"$dir doc $id: fre $fre vs $want")
      }
      // the corpus must exercise both signs of the truncating division
      assert(out.exists(_._5 < 0) && out.exists(_._5 > 0),
        s"$dir: FRE sign never varies — sign-split division untested")
      info(s"$dir: ${out.length} docs, FRE range " +
        s"[${out.map(_._5).min}, ${out.map(_._5).max}] milli")
    }
  }

  test("CUSUM changepoint matches a driver-side argmax") {
    val TS = Timeseries
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val days = graft.core.Tables(spark, dir, "orders")
        .groupBy(col("o_orderdate").cast("string").as("day"))
        .agg(count(lit(1)).as("y"))
        .as[(String, Long)].collect().sortBy(_._1)
      val tt = days.length.toLong
      val st = days.map(_._2).sum
      var cum = 0L
      val devs = days.zipWithIndex.map { case ((d, y), i) =>
        cum += y
        (d, y, i + 1L, cum, math.abs(tt * cum - (i + 1L) * st))
      }
      val flag = devs.maxBy { case (_, _, t, _, dev) => (dev, -t) }._3
      val out = TS.xChangepoint.build(spark, dir)
        .withColumn("day", col("day").cast("string"))
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
      assert(out.length == days.length)
      out.foreach { case (d, y, t, c, dev, isCp) =>
        val (ed, ey, et, ec, edev) = devs((t - 1).toInt)
        assert((d, y, c, dev) == ((ed, ey, ec, edev)), s"$dir t=$t")
        assert(isCp == (t == flag), s"$dir t=$t flag")
      }
      assert(out.count(_._6) == 1, "exactly one changepoint")
      info(s"$dir: $tt days, changepoint at t=$flag " +
        s"(${devs((flag - 1).toInt)._1})")
    }
  }

  test("triangle count matches a driver-side enumeration") {
    val G = graft.llmops.Graph
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val op = graft.core.Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct().as[(Long, Long)].collect()
      val edges = op.groupBy(_._1).values.toSeq
        .flatMap { basket =>
          val ps = basket.map(_._2).distinct.sorted
          for (i <- ps.indices; j <- (i + 1) until ps.length)
            yield (ps(i), ps(j))
        }
        .groupBy(identity)
        .filter { case (_, hits) => hits.length >= G.COOC_MIN }
        .keySet
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val wedges = deg.values.map(d => d * (d - 1) / 2).sum
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val tri = edges.toSeq.map { case (a, b) =>
        (adj.getOrElse(a, Set.empty) & adj.getOrElse(b, Set.empty)).size.toLong
      }.sum
      val Array(r) = G.xTriangleCount.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(r == ((deg.size.toLong, edges.size.toLong, wedges, tri,
        if (wedges == 0) 0L else 3000000L * tri / wedges)), s"$dir: $r")
      assert(tri > 0, s"$dir: no triangles — closure join untested")
      info(s"$dir: ${edges.size} edges, $wedges wedges, $tri triangles, " +
        s"gcc=${r._5} ppm")
    }
  }

  test("custom HLL registers and estimates match a driver-side recompute") {
    val K = graft.llmops.Kmv
    var branches = Set.empty[Boolean]
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val cust = graft.core.Tables(spark, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"))
        .as[(Long, Long)].collect()
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      val expect = cust.groupBy(_._1).view.mapValues { rows =>
        val regs = scala.collection.mutable.Map.empty[Long, Long]
        rows.foreach { case (_, ck) =>
          val h = java.lang.Long.parseLong(md5hex(ck.toString).take(15), 16)
          val j = h / K.HLL_W
          val w = h % K.HLL_W
          val m = if (w == 0) 55L
            else 55L - (64 - java.lang.Long.numberOfLeadingZeros(w))
          regs(j) = math.max(regs.getOrElse(j, 0L), m)
        }
        val v = 64L - regs.size
        val z55 = regs.values.map(m => 1L << (55 - m)).sum + v * K.HLL_Z1
        val raw = (K.HLL_ANUM / (BigInt(z55) * 1000000)).toLong
        val est = if (v > 0 && raw <= K.HLL_LC_CUT)
          64L * K.HLL_LN_TABLE((v - 1).toInt) / 1000000L
        else raw
        val n = rows.map(_._2).distinct.length.toLong
        (n, v, z55, raw, est, (est - n).abs * 1000000 / n)
      }.toMap
      val out = K.xHllCustom.build(spark, dir)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      assert(out.length == expect.size)
      out.foreach { case (nat, n, v, z55, raw, est, err) =>
        assert((n, v, z55, raw, est, err) == expect(nat), s"$dir nation $nat")
        branches += (est == raw)
        assert(err <= 500000L, s"$dir nation $nat: err ${err} ppm > 50%")
      }
      info(s"$dir: ${out.length} nations, max err " +
        s"${out.map(_._7).max} ppm, " +
        s"${out.count(o => o._6 != o._5)} linear-counting corrections")
    }
    assert(branches == Set(true, false),
      "both estimator branches must bind across the SF sweep")
  }

  test("priority sample matches a driver-side brute force") {
    val C = graft.llmops.Curation
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = graft.core.Tables(spark, dir, "documents")
        .select("doc_id", "n_chars").as[(Long, Long)].collect()
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      val pri = docs.map { case (id, w) =>
        val h = java.lang.Long.parseLong(md5hex(id.toString).take(10), 16)
        (id, w, w * C.PS_DOM / (h + 1))
      }.sortBy { case (id, _, q) => (-q, id) }
      val tau = if (pri.length > C.PS_K) pri(C.PS_K)._3 else 0L
      val out = C.xPrioritySample.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(out.length == C.PS_K)
      out.zipWithIndex.foreach { case ((rank, id, w, q, est), i) =>
        val (eid, ew, eq) = pri(i)
        assert((rank, id, w, q) == ((i + 1L, eid, ew, eq)), s"$dir rank $rank")
        assert(est == math.max(ew, tau))
      }
      // τ must actually lift some small-weight estimates
      assert(out.exists(o => o._5 > o._3),
        s"$dir: no estimate lifted to τ — estimator untested")
      info(s"$dir: τ=$tau, ${out.count(o => o._5 > o._3)} of ${C.PS_K} " +
        "estimates lifted")
    }
  }

  test("diversity indices match a driver-side recompute") {
    val T = graft.llmops.TextStats
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val words = graft.core.Tables(spark, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").as[(String, String)].collect()
      val expect = words.groupBy(_._1).view.mapValues { ws =>
        val counts = ws.groupBy(_._2).view.mapValues(_.length.toLong).values
        val n = counts.sum
        val types = counts.size.toLong
        val hapax = counts.count(_ == 1L).toLong
        val simp = counts.map(c => c * (c - 1)).sum
        (n, types, hapax, 1000000L * simp / (n * (n - 1)),
          1000000L * types / n, 1000000L * hapax / types)
      }.toMap
      val out = T.xDiversityIndex.build(spark, dir)
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      assert(out.length == expect.size)
      out.foreach { case (src, n, ty, ha, si, tt, hp) =>
        assert((n, ty, ha, si, tt, hp) == expect(src), s"$dir $src")
      }
      info(s"$dir: ${out.length} sources, simpson range " +
        s"[${out.map(_._5).min}, ${out.map(_._5).max}] ppm")
    }
  }

  test("epoch schedule matches a driver-side waterfill and both regimes bind") {
    val C = graft.llmops.Curation
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ts = graft.core.Tables(spark, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("t"))
        .groupBy("source").agg(sum("t").as("t"))
        .as[(String, Long)].collect().toMap
      val budget = ts.values.sum * C.BUDGET_PERMILLE / 1000
      val want = budget / ts.size
      val got1 = ts.view.mapValues(t => math.min(want, C.EPOCH_MAX * t)).toMap
      val excess = ts.keys.map(s => want - got1(s)).sum
      val uncapped = ts.filter { case (_, t) => want < C.EPOCH_MAX * t }.keySet
      val expect = ts.map { case (s, t) =>
        val alloc = if (uncapped(s) && uncapped.nonEmpty)
          math.min(got1(s) + excess / uncapped.size, C.EPOCH_MAX * t)
        else got1(s)
        s -> (t, want, alloc, 1000 * alloc / t, alloc == C.EPOCH_MAX * t)
      }
      val out = C.xEpochSchedule.build(spark, dir)
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
      assert(out.length == expect.size)
      out.foreach { case (src, t, w, alloc, em, capped) =>
        assert((t, w, alloc, em, capped) == expect(src), s"$dir $src")
      }
      assert(out.exists(_._6) && out.exists(!_._6),
        s"$dir: cap never varies — one regime untested")
      info(s"$dir: ${out.count(_._6)} capped of ${out.length}, " +
        s"epochs range [${out.map(_._5).min}, ${out.map(_._5).max}] milli")
    }
  }

  test("MAD outliers match a driver-side double-median recompute") {
    val TS = Timeseries
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val days = graft.core.Tables(spark, dir, "orders")
        .groupBy(col("o_orderdate").cast("string").as("day"))
        .agg(count(lit(1)).as("y"))
        .as[(String, Long)].collect()
      val n = days.length
      def med2(xs: Seq[Long]): Long = {
        val s = xs.sorted
        s((n + 1) / 2 - 1) + s(n / 2)
      }
      val m = med2(days.map(_._2).toSeq)
      val devs = days.map { case (d, y) => (d, y, (2 * y - m).abs) }
      val mad4 = med2(devs.map(_._3).toSeq)
      val expect = devs.map { case (d, y, d2) =>
        d -> (y, d2, m, mad4, 2 * d2 > 3 * mad4)
      }.toMap
      val out = TS.xAnomalyMad.build(spark, dir)
        .withColumn("day", col("day").cast("string"))
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
      assert(out.length == n)
      out.foreach { case (d, y, d2, me, ma, f) =>
        assert((y, d2, me, ma, f) == expect(d), s"$dir $d")
      }
      assert(out.exists(_._6) && out.exists(!_._6),
        s"$dir: outlier flag never varies")
      info(s"$dir: ${out.count(_._6)} outliers of $n days, " +
        s"med2=$m mad4=$mad4")
    }
  }

  test("day-of-week decomposition matches a driver-side recompute") {
    val TS = Timeseries
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val days = graft.core.Tables(spark, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
        .as[(java.sql.Date, Long)].collect()
      val withDow = days.map { case (d, y) =>
        (d.toString, y, d.toLocalDate.toEpochDay % 7)
      }
      val prof = withDow.groupBy(_._3).view.mapValues(rows =>
        (rows.length.toLong, rows.map(_._2).sum)).toMap
      val resid = withDow.map { case (d, y, dow) =>
        val (cnt, s) = prof(dow)
        val rn = y * cnt - s
        val rm = if (rn >= 0) 1000 * rn / cnt else -(1000 * -rn / cnt)
        (d, y, dow, rm)
      }
      val top5 = resid.sortBy { case (d, _, _, rm) => (-rm.abs, d) }
        .take(5).map(_._1).toSet
      val out = TS.xSeasonalDow.build(spark, dir)
        .withColumn("day", col("day").cast("date").cast("string"))
        .as[(String, Long, Long, Long, Boolean)].collect()
      assert(out.length == days.length)
      val expect = resid.map(r => r._1 -> r).toMap
      out.foreach { case (d, y, dow, rm, anom) =>
        val (_, ey, edow, erm) = expect(d)
        assert((y, dow, rm) == ((ey, edow, erm)), s"$dir $d")
        assert(anom == top5(d), s"$dir $d anomaly flag")
      }
      assert(out.count(_._5) == 5)
      info(s"$dir: top-5 anomalies ${out.filter(_._5).map(_._1).mkString(", ")}")
    }
  }

  test("interval join matches a driver-side session coverage count") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ev = graft.core.Tables(spark, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, Long)].collect()
      // sessions: 30-min gap, (ts, event_id) order
      val sessions = ev.groupBy(_._1).values.flatMap { rows =>
        val sorted = rows.sortBy(r => (r._3, r._2))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var s0 = -1L; var s1 = -1L
        sorted.foreach { case (_, _, us) =>
          if (s0 < 0) { s0 = us; s1 = us }
          else if (us - s1 > 1800000000L) { out += ((s0, s1)); s0 = us; s1 = us }
          else s1 = us
        }
        if (s0 >= 0) out += ((s0, s1))
        out
      }.toSeq
      val hourUs = 3600000000L
      def hourOf(us: Long) = us / hourUs
      val hourCounts = ev.groupBy(e => hourOf(e._3)).view
        .mapValues(_.length.toLong).toMap
      val incidents = hourCounts.toSeq
        .sortBy { case (h, c) => (-c, h) }.take(Extra.INCIDENT_TOP)
      val expect = incidents.map { case (h, c) =>
        h -> (c, sessions.count { case (a, b) =>
          hourOf(a) <= h && h <= hourOf(b) })
      }.toMap
      val out = Extra.xIntervalJoin.build(spark, dir)
        .select(unix_micros(col("hour")).as("h"), col("n_events"),
          col("n_sessions"))
        .as[(Long, Long, Long)].collect()
      assert(out.length == expect.size)
      out.foreach { case (h, ne, ns) =>
        assert((ne, ns) == expect(h / hourUs), s"$dir hour $h")
      }
      info(s"$dir: ${out.length} incidents, sessions overlapping " +
        s"[${out.map(_._3).min}, ${out.map(_._3).max}]")
    }
  }

  test("dp budget composition matches a driver-side recompute") {
    val G = graft.llmops.Governance
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ks = graft.core.Tables(spark, dir, "events")
        .filter(col("user_id") < 60)
        .groupBy("user_id")
        .agg(countDistinct(col("ts").cast("date")).as("k"))
        .as[(Long, Long)].collect().toMap
      val out = G.xDpBudget.build(spark, dir)
        .as[(Long, Long, Long, Long, Boolean)].collect()
      assert(out.length == ks.size)
      out.foreach { case (u, k, basic, adv, tighter) =>
        assert(k == ks(u))
        assert(basic == 10000 * k)
        val want = math.round(1e6 * (math.sqrt(2.0 * k * G.DP_LN_INV_DELTA) *
          G.DP_EPS + k * G.DP_EPS * G.DP_EGROW))
        assert(adv == want, s"$dir user $u")
        assert(tighter == (adv < basic))
      }
      if (dir.endsWith("0.01"))
        assert(out.exists(_._5) && out.exists(!_._5),
          s"$dir: advanced_tighter never varies at oracle scale")
      info(s"$dir: ${out.count(_._5)} of ${out.length} users past the " +
        "advanced-composition crossover")
    }
  }

  test("Mann-Whitney U matches a driver-side midrank recompute") {
    val D = graft.llmops.Drift
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = graft.core.Tables(spark, dir, "documents")
      val cut = graft.llmops.Incremental.cutoffValue(docs)
      val vals = docs.select(col("n_chars"), (col("doc_id") <= cut).as("ref"))
        .as[(Long, Boolean)].collect()
      val sorted = vals.map(_._1).sorted
      def midrank2(v: Long): Long = {
        val less = sorted.count(_ < v).toLong
        val eq = sorted.count(_ == v).toLong
        2 * less + eq + 1
      }
      val n1 = vals.count(_._2).toLong
      val n2 = vals.length - n1
      val r2 = vals.filter(_._2).map(v => midrank2(v._1)).sum
      val u2 = r2 - n1 * (n1 + 1)
      // BigInt recompute mirrors the DECIMAL(38,0)/HUGEINT routing
      val z2n = BigInt(u2 - n1 * n2) * BigInt(u2 - n1 * n2) * 30000
      val z2d = BigInt(38416L) * n1 * n2 * (n1 + n2 + 1)
      val ratio = (z2n * 1000 / z2d).toLong
      val got = D.xMannWhitney.build(spark, dir)
        .as[(Long, Long, Long, Long, Boolean)].head()
      assert(got == ((n1, n2, u2, ratio, z2n > z2d)), s"$dir: $got")
      info(f"$dir: U2=$u2 z²=${(z2n.toDouble / z2d.toDouble)}%.3f " +
        s"significant=${z2n > z2d}")
    }
  }

  test("event paths match a driver-side session trigram count") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ev = graft.core.Tables(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, String, Long)].collect()
      val paths = ev.groupBy(_._1).values.flatMap { rows =>
        val sorted = rows.sortBy(r => (r._4, r._2))
        // split into 30-min-gap sessions, then per-session trigrams
        val sessions = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer.empty[String])
        var prev = Long.MinValue
        sorted.foreach { case (_, _, t, us) =>
          if (prev != Long.MinValue && us - prev > 1800000000L)
            sessions += scala.collection.mutable.ArrayBuffer.empty[String]
          sessions.last += t
          prev = us
        }
        sessions.flatMap(s => s.sliding(3).filter(_.length == 3)
          .map(_.mkString(">")))
      }.toSeq
      val expect = paths.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
      val got = EventAnalytics.xEventPaths.build(spark, dir)
        .as[(Long, String, Long)].collect()
      assert(got.length == math.min(10, expect.length))
      got.zipWithIndex.foreach { case ((rank, path, n), i) =>
        assert((rank, path, n) == ((i + 1L, expect(i)._1, expect(i)._2)),
          s"$dir rank ${i + 1}")
      }
      info(s"$dir: top path ${got.head._2} ×${got.head._3}")
    }
  }

  test("negative-sampling table and draws match a driver-side recompute") {
    val L = graft.llmops.LangModel
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val counts = graft.core.Tables(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().sortBy(_._1)
      val table = counts.map { case (w, n) =>
        (w, n, math.round(1e6 * math.pow(n.toDouble, 0.75)))
      }
      val cums = table.scanLeft(0L)(_ + _._3)
      val tw = cums.last
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      val expect = (0 until L.NEG_DRAWS).map { j =>
        val h = java.lang.Long.parseLong(md5hex(j.toString).take(12), 16) % tw
        val idx = cums.lastIndexWhere(_ <= h) // cums(idx) <= h < cums(idx+1)
        j.toLong -> table(idx)
      }.toMap
      val out = L.xNegativeSampling.build(spark, dir)
        .as[(Long, String, Long, Long)].collect()
      assert(out.length == L.NEG_DRAWS, "every draw resolves exactly once")
      out.foreach { case (j, w, n, pw) =>
        assert((w, n, pw) == expect(j), s"$dir draw $j")
      }
      // the power flattening must actually bias draws away from raw
      // counts: the drawn multiset should include at least one word
      // whose count is below the vocabulary median
      val medianN = counts.map(_._2).sorted.apply(counts.length / 2)
      assert(out.exists(_._3 < medianN),
        s"$dir: draws never hit the tail — flattening untested")
      info(s"$dir: ${counts.length}-word vocab, tw=$tw, " +
        s"${out.map(_._2).distinct.length} distinct words drawn")
    }
  }

  test("gini concentration matches a driver-side recompute") {
    val G = graft.llmops.Governance
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ts = graft.core.Tables(spark, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("t"))
        .groupBy("source").agg(sum("t").as("t"))
        .as[(String, Long)].collect()
      val sorted = ts.sortBy { case (s, t) => (t, s) }
      val n = sorted.length.toLong
      val total = sorted.map(_._2).sum
      val wsum = sorted.zipWithIndex.map { case ((_, t), i) =>
        (i + 1) * t
      }.sum
      val gNum = 2 * wsum - (n + 1) * total
      val got = G.xGiniConcentration.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].head()
      assert(got == ((n, total, gNum, n * total,
        1000000L * gNum / (n * total))), s"$dir: $got")
      info(s"$dir: gini=${got._5} ppm over $n sources")
    }
  }

  test("zipf fit matches a driver-side least squares") {
    val T = graft.llmops.TextStats
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val counts = graft.core.Tables(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect()
        .sortBy { case (w, n) => (-n, w) }
      val pts = counts.zipWithIndex.map { case ((_, n), i) =>
        (math.round(1e6 * math.log(i + 1.0)),
          math.round(1e6 * math.log(n.toDouble)))
      }
      val k = pts.length.toLong
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val num = BigInt(k) * sxy - BigInt(sx) * sy
      val den = BigInt(k) * sxx - BigInt(sx) * sx
      def sdiv(a: BigInt, b: BigInt): Long =
        (if (a >= 0) a / b else -((-a) / b)).toLong
      val slope = sdiv(BigInt(1000000) * num, den)
      val icept = sdiv(BigInt(sy) * den - num * sx, BigInt(k) * den)
      val got = T.xZipfFit.build(spark, dir)
        .as[(Long, Long, Long)].head()
      assert(got == ((k, slope, icept)), s"$dir: $got vs ($k,$slope,$icept)")
      assert(slope < 0, "Zipf slope must be negative")
      info(f"$dir: slope=${slope / 1e6}%.4f intercept=${icept / 1e6}%.3f " +
        s"over $k vocab entries")
    }
  }

  test("Wilson lower bounds match a driver-side recompute and reorder rates") {
    val E = EventAnalytics
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val a = graft.core.Tables(spark, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 50, 1L).otherwise(0L)).as("s"))
        .as[(String, Long, Long)].collect()
      val expect = a.map { case (t, n, s) =>
        val p = s.toDouble / n
        val lb = (p + 1.9208 / n -
          1.96 * math.sqrt(p * (1.0 - p) / n + 0.9604 / (n.toDouble * n))) /
          (1.0 + 3.8416 / n)
        t -> (n, s, 1000000 * s / n, math.round(1e6 * lb))
      }.toMap
      val out = E.xCtrWilson.build(spark, dir)
        .as[(Long, String, Long, Long, Long, Long)].collect()
      assert(out.length == expect.size)
      out.foreach { case (_, t, n, s, rate, lb) =>
        assert((n, s, rate, lb) == expect(t), s"$dir $t")
        assert(lb < rate, s"$dir $t: LB must sit under the raw rate")
      }
      val ranked = expect.toSeq.sortBy { case (t, v) => (-v._4, t) }.map(_._1)
      assert(out.sortBy(_._1).map(_._2).toSeq == ranked)
      info(s"$dir: ranks ${out.sortBy(_._1).map(_._2).mkString(" > ")}")
    }
  }

  test("coverage curve matches a driver-side cumulative share") {
    val G = graft.llmops.Governance
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ts = graft.core.Tables(spark, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("t"))
        .groupBy("source").agg(sum("t").as("t"))
        .as[(String, Long)].collect()
        .sortBy { case (s, t) => (-t, s) }
      val total = ts.map(_._2).sum
      var cum = 0L
      val expect = ts.zipWithIndex.map { case ((s, t), i) =>
        cum += t
        (i + 1L, s, t, cum, 1000000L * cum / total)
      }
      val out = G.xCoverageCurve.build(spark, dir)
        .as[(Long, String, Long, Long, Long)].collect()
      assert(out.toSeq == expect.toSeq, s"$dir")
      assert(out.last._5 == 1000000L, "curve must end at 100%")
      info(s"$dir: top source holds ${out.head._5} ppm")
    }
  }

  test("rolling correlation matches a driver-side recompute") {
    val TS = Timeseries
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val d = graft.core.Tables(spark, dir, "events")
        .groupBy(col("ts").cast("date").cast("string").as("day"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
        .as[(String, Long, Long)].collect().sortBy(_._1)
      val expect = d.indices.map { i =>
        val win = d.slice(math.max(0, i - TS.CORR_WIN + 1), i + 1)
        val n = win.length.toLong
        val sx = win.map(_._2).sum; val sy = win.map(_._3).sum
        val sxy = win.map(r => r._2 * r._3).sum
        val sxx = win.map(r => r._2 * r._2).sum
        val syy = win.map(r => r._3 * r._3).sum
        val cov = n * sxy - sx * sy
        val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
        val corr = if (n < TS.CORR_WIN || vx == 0 || vy == 0) None
          else Some(math.round(1e6 *
            (cov.toDouble / math.sqrt(vx.toDouble * vy.toDouble))))
        d(i)._1 -> (d(i)._2, d(i)._3, cov, vx, vy, corr)
      }.toMap
      val out = TS.xRollingCorr.build(spark, dir)
        .withColumn("day", col("day").cast("string"))
        .collect()
      assert(out.length == expect.size)
      out.foreach { r =>
        val day = r.getString(0)
        val corr = if (r.isNullAt(6)) None else Some(r.getLong(6))
        assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), corr) == expect(day), s"$dir $day")
      }
      val defined = out.count(!_.isNullAt(6))
      assert(defined == out.length - (TS.CORR_WIN - 1),
        "exactly the full-window days carry a correlation")
      info(s"$dir: $defined full windows, corr range " +
        s"[${out.filter(!_.isNullAt(6)).map(_.getLong(6)).min}, " +
        s"${out.filter(!_.isNullAt(6)).map(_.getLong(6)).max}] micro")
    }
  }

  test("k-core peeling matches a driver-side iteration") {
    val G = graft.llmops.Graph
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val op = graft.core.Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct().as[(Long, Long)].collect()
      val edges0 = op.groupBy(_._1).values.toSeq
        .flatMap { basket =>
          val ps = basket.map(_._2).distinct.sorted
          for (i <- ps.indices; j <- (i + 1) until ps.length)
            yield (ps(i), ps(j))
        }
        .groupBy(identity)
        .filter { case (_, hits) => hits.length >= G.COOC_MIN }
        .keySet
      def degrees(es: Set[(Long, Long)]): Map[Long, Long] =
        es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.length.toLong).toMap
      var cur = edges0
      for (_ <- 1 to G.PEEL_ROUNDS) {
        val deg = degrees(cur)
        val keep = deg.filter(_._2 >= G.K_CORE).keySet
        cur = cur.filter(e => keep(e._1) && keep(e._2))
      }
      val d0 = degrees(edges0)
      val df = degrees(cur)
      val out = G.xKcore.build(spark, dir)
        .as[(Long, Long, Long, Boolean)].collect()
      assert(out.length == d0.size)
      out.foreach { case (node, deg0, degF, inCore) =>
        assert(deg0 == d0(node), s"$dir node $node deg0")
        assert(degF == df.getOrElse(node, 0L), s"$dir node $node degF")
        assert(inCore == df.contains(node), s"$dir node $node flag")
      }
      if (dir.endsWith("0.01"))
        assert(out.exists(_._4) && out.exists(!_._4),
          s"$dir: peeling never splits the graph at oracle scale")
      info(s"$dir: ${out.count(_._4)} of ${out.length} nodes in the " +
        s"${G.K_CORE}-core after ${G.PEEL_ROUNDS} rounds")
    }
  }

  test("burstiness top-10 matches a driver-side VMR recompute") {
    val T = graft.llmops.TextStats
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val perDoc = graft.core.Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .as[(Long, String, Long)].collect()
      val dTotal = graft.core.Tables(spark, dir, "documents").count()
      val expect = perDoc.groupBy(_._2).view.mapValues { rows =>
        val tot = rows.map(_._3).sum
        val sq = rows.map(r => r._3 * r._3).sum
        (rows.length.toLong, tot,
          1000000L * (dTotal * sq - tot * tot) / (dTotal * tot))
      }.toSeq.sortBy { case (w, v) => (-v._3, w) }.take(10)
      val out = T.xBurstiness.build(spark, dir)
        .as[(Long, String, Long, Long, Long)].collect()
      assert(out.length == 10)
      out.zipWithIndex.foreach { case ((rank, w, df, tot, vmr), i) =>
        val (ew, (edf, etot, evmr)) = expect(i)
        assert((rank, w, df, tot, vmr) == ((i + 1L, ew, edf, etot, evmr)),
          s"$dir rank ${i + 1}")
      }
      // burstiness must actually separate: the top word clumps harder
      // than Poisson (VMR > 1)
      assert(out.head._5 > 1000000L, s"$dir: top VMR ${out.head._5} ≤ 1")
      info(s"$dir: burstiest '${out.head._2}' VMR=${out.head._5} ppm " +
        s"(df ${out.head._3} of $dTotal docs)")
    }
  }

  test("Brier score matches a driver-side recompute and beats climatology check") {
    val G = graft.llmops.Governance
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val t = graft.core.Tables(spark, dir, "documents")
        .select(expr("(1000 * n_chars) div (n_chars + 300)").as("conf"),
          when(size(split(col("text"), " ")) >= 50, 1L).otherwise(0L).as("y"))
        .as[(Long, Long)].collect()
      val n = t.length.toLong
      val pos = t.map(_._2).sum
      val sq = t.map { case (c, y) => (c - 1000 * y) * (c - 1000 * y) }.sum
      val brier = sq / n
      val ref = 1000000L * pos * (n - pos) / (n * n)
      val got = G.xBrierScore.build(spark, dir)
        .as[(Long, Long, Long, Long, Long, Boolean)].head()
      assert(got == ((n, pos, sq, brier, ref, brier < ref)), s"$dir: $got")
      info(s"$dir: brier=$brier ref=$ref skillful=${brier < ref}")
    }
  }

  test("skyline equals the O(n²) dominance definition") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pts = graft.core.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("d"))
        .as[(Long, Long, Long)].collect()
      def dominates(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean =
        a._2 <= b._2 && a._3 >= b._3 && (a._2 < b._2 || a._3 > b._3)
      val expect = pts.filter(p => !pts.exists(q => dominates(q, p)))
        .map(p => (p._1, p._2, p._3)).sortBy(p => (p._2, p._1))
      val out = Extra.xSkyline.build(spark, dir)
        .as[(Long, Long, Long)].collect()
      assert(out.toSeq == expect.toSeq, s"$dir")
      assert(out.length > 1 && out.length < pts.length,
        s"$dir: degenerate skyline of ${out.length}")
      info(s"$dir: ${out.length} non-dominated of ${pts.length} docs")
    }
  }

  test("json roundtrip is lossless against the parquet original") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val direct = graft.core.Tables(spark, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n"),
          graft.core.Exact.sumd(col("c_acctbal")).as("total"),
          max(col("c_name")).as("last_name"))
        .orderBy("nation")
        .as[(Long, Long, Double, String)].collect()
      val rt = Extra.xJsonRoundtrip.build(spark, dir)
        .as[(Long, Long, Double, String)].collect()
      assert(rt.toSeq == direct.toSeq,
        s"$dir: JSON round-trip diverged from the parquet aggregate")
      info(s"$dir: ${rt.length} nations identical through JSONL")
    }
  }
}
