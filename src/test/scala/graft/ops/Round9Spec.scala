package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Round-9 additions beyond the per-operator specs. */
class Round9Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("IVF-PQ: composed search clears the recall bar; code scan is the probed fraction") {
    val V = graft.llmops.VectorSearch
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rec = V.ivfpqRecall(spark, dir, V.IVFPQ_NPROBE)
        .as[(Long, Double, Boolean)].collect()
      info(s"$dir IVF-PQ recalls: ${rec.map(r => s"${r._1}:${r._2}").mkString(" ")}")
      assert(rec.length == 5)
      assert(rec.forall(_._3),
        s"$dir: probes below bar: ${rec.filterNot(_._3).mkString(",")}")

      // the IVF-PQ claim itself: the ADC stage reads ~nprobe/nlists of
      // the code table per probe, not all of it (measured 0.363-0.388 vs
      // ideal 0.375 across SFs; generous slack here so an
      // unlucky quantizer re-train can't flake the suite)
      val total = V.pqIndex(spark, dir)._2.count()
      val scanned = V.ivfpqScannedCodes(spark, dir, V.IVFPQ_NPROBE).count()
      val frac = scanned.toDouble / (total * 5)
      val ideal = V.IVFPQ_NPROBE.toDouble / V.ANN_K
      info(f"$dir scanned-code fraction $frac%.3f (ideal $ideal%.3f)")
      assert(frac < 0.6, s"$dir: prune not engaged — scanning $frac of codes")
      assert(frac > 0.05, s"$dir: scan fraction implausibly low ($frac)")
    }
  }

  test("image phash: decoded dHashes equal the closed form; banded join finds exactly the planted pairs") {
    import org.apache.spark.sql.functions._
    val P = graft.llmops.ImagePhash

    // the generator's closed form, recomputed driver-side: the decode +
    // pool + hash path must land on bit-identical hashes
    def formulaHash(w: Int, h: Int, kx: Int, ky: Int, seed: Int,
        px: Int, py: Int, delta: Int): (Long, Long) = {
      val sums = Array.ofDim[Long](8, 9); val ns = Array.ofDim[Long](8, 9)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * kx + y * ky + seed +
          (if (x < px && y < py) delta else 0)) % 256
        sums(y * 8 / h)(x * 9 / w) += v; ns(y * 8 / h)(x * 9 / w) += 1
      }
      var hi = 0L; var lo = 0L
      for (cy <- 0 until 8; i <- 0 until 8) {
        val bit = if (sums(cy)(i) * ns(cy)(i + 1) > sums(cy)(i + 1) * ns(cy)(i)) 1L else 0L
        if (cy < 4) hi |= bit << (cy * 8 + i) else lo |= bit << ((cy - 4) * 8 + i)
      }
      (hi, lo)
    }
    val expected = P.fixtureSpec.map { case (id, w, h, kx, ky, sd, px, py, d) =>
      id.toLong -> formulaHash(w, h, kx, ky, sd, px, py, d) }.toMap
    val got = P.dhashes(spark).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expected,
      s"decoded hashes diverge from the closed form: got $got")

    val pairs = P.xImagePhashNeardup.build(spark, "/root/testdata/sf0.001")
    // banded, never O(n²): the candidate join must be an equi-join on
    // the band keys, not a cartesian/nested-loop product
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate join is not banded:\n$plan")
    val found = pairs.as[(Long, Long, Long)].collect().toSeq
    assert(found == Seq((103L, 104L, 4L), (105L, 106L, 4L)),
      s"unexpected near-dup pairs: $found")
  }

  test("dsir: every fixed-point weight sits far from its round-half boundary") {
    // The only float crossing engines in x_dsir_weights is
    // round(1e6·ln(ratio)) over DSIR_DIM bucket weights; a libm 1-ulp
    // disagreement can only flip a weight whose raw value lies within
    // ~1 ulp of a (k+0.5) boundary (the bm25 discipline — distance is
    // measured to the HALF boundary, not the nearest integer, which is
    // the safe direction). The per-doc score is an exact integer dot
    // product, so these 64 values are the entire exposure.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val raw = graft.llmops.TextStats.dsirRawWeights(spark, dir)
        .select("raw_wgt").as[Double].collect()
      // only buckets some word actually hashes to exist (25 of 64 at
      // sf0.001); those are exactly the weights either engine evaluates
      assert(raw.nonEmpty && raw.length <= graft.llmops.TextStats.DSIR_DIM)
      val dists = raw.map { s =>
        val f = s - math.floor(s)
        math.abs(f - 0.5)
      }
      info(f"$dir: min distance to a round-half boundary: ${dists.min}%.3e (of 1.0)")
      // a few-ulp libm wobble on a magnitude-~1e5 scaled weight moves it
      // by ~1e-11; require 6 orders more margin than that threat
      assert(dists.min > 1e-5,
        s"$dir: weight within 1e-5 of a round-half boundary — " +
          "cross-engine rounding not safe on this corpus")
    }
  }

  test("domain cap: bounded-heap agg equals the window top-k and runs as a partial ObjectHashAggregate") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.01"
    val capped = graft.llmops.Curation.xDomainCap.build(spark, dir)
      .select("source", "rnk", "doc_id", "n_chars")

    // independent spelling: the window plan this Aggregator replaces
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val windowed = graft.core.Tables(spark, dir, "documents")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
    assert(capped.collect().toSeq == windowed.orderBy("source", "rnk").collect().toSeq)

    // plan shape: ObjectHashAggregate with a partial pass (map-side
    // top-k) — the reason the shuffle stays k-bounded per group per
    // partition; a window plan here would shuffle and sort every row
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate in:\n$plan")
    assert(!plan.contains("Window"), "cap must not fall back to a window")

    // the heap really is bounded: reduce/merge never grow past k
    val agg = new graft.functions.TopKByScore(2)
    val grown = (1L to 100L).foldLeft(agg.zero) { (b, i) =>
      agg.reduce(b, graft.functions.ScoredId(i, i))
    }
    assert(grown.length == 2 && grown.map(_.score) == Seq(100L, 99L))
    val other = (101L to 200L).foldLeft(agg.zero) { (b, i) =>
      agg.reduce(b, graft.functions.ScoredId(i, i))
    }
    val merged = agg.merge(grown, other)
    assert(merged.length == 2 && merged.map(_.id) == Seq(200L, 199L))
  }

  test("count-min: bounds hold, and the narrow grid really collides (non-vacuous)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val out = graft.llmops.HeavyHitters.xCountMin.build(spark, dir)
    val rows = out.collect()
    assert(rows.length > 5)
    assert(rows.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "CMS bound violated on the fixed-seed sketch")

    // non-vacuity: with width 27 < vocabulary size, at least one probe's
    // estimate must strictly overcount (a pure-equality pass would mean
    // the test can't distinguish CMS from an exact count)
    val toks = graft.core.Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val H = graft.llmops.HeavyHitters
    val width = math.ceil(2.0 / H.CMS_EPS).toLong
    val vocab = toks.distinct().count()
    assert(vocab > width, s"vocabulary $vocab no longer exceeds CMS width $width")
    val sketch = toks.stat.countMinSketch("w", H.CMS_EPS, H.CMS_CONF, H.CMS_SEED)
    val exact = toks.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val over = exact.count { case (w, c) => sketch.estimateCount(w) > c }
    info(s"vocab=$vocab, strict overcounts=$over of ${exact.size}")
    assert(over > 0, "no collisions — CMS width too generous for the test to bite")
  }

  test("cdc chunking: one inserted word perturbs O(1) chunks; a fixed grid diverges downstream") {
    import org.apache.spark.sql.functions._
    // a long pseudo-document from the real corpus vocabulary
    val base = graft.core.Tables(spark, "/root/testdata/sf0.01", "documents")
      .orderBy("doc_id").limit(8).collect().map(_.getAs[String]("text"))
      .mkString(" ").split(" ").take(400)
    val mid = 200
    val edited = (base.take(mid) :+ "INSERTED") ++ base.drop(mid)
    val docs = Seq((0L, base.mkString(" ")), (1L, edited.mkString(" ")))
      .toDF("doc_id", "text")

    val ch = graft.llmops.Chunking.cdcChunks(docs)
      .select("doc_id", "h").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    def multiset(s: Seq[String]) = s.groupBy(identity).view.mapValues(_.size).toMap
    val a = multiset(ch(0L)); val b = multiset(ch(1L))
    val changed = (a.keySet ++ b.keySet)
      .count(k => a.getOrElse(k, 0) != b.getOrElse(k, 0))
    info(s"cdc: ${ch(0L).size}/${ch(1L).size} chunks, $changed differing")
    // the insert can split/alter at most the chunk it lands in plus its
    // two hash-window neighbors — everything after re-synchronizes
    assert(changed <= 6, s"CDC failed to re-synchronize: $changed chunks differ")
    assert(changed >= 1, "edit invisible — test is vacuous")

    // the fixed 8-word grid: every chunk from the edit onward shifts
    def grid(ws: Array[String]) = ws.grouped(8).map(_.mkString(" ")).toSeq
    val ga = multiset(grid(base)); val gb = multiset(grid(edited.toArray))
    val gridChanged = (ga.keySet ++ gb.keySet)
      .count(k => ga.getOrElse(k, 0) != gb.getOrElse(k, 0))
    info(s"fixed grid: $gridChanged of ${ga.size}+${gb.size} differing")
    assert(gridChanged > (base.length - mid) / 8,
      "fixed grid unexpectedly robust — comparison claim doesn't hold")
  }

  test("shard assign: contiguous fill, every non-final shard within one document of target") {
    import org.apache.spark.sql.functions._
    val C = graft.llmops.Chunking
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.01", "documents")
    val out = C.shardAssign(docs)
    val shards = out.groupBy("shard")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("docs"))
      .orderBy("shard").collect()
    val maxDoc = out.agg(max("n_tokens")).head().getLong(0)
    val last = shards.last.getLong(0)
    info(s"${shards.length} shards, max doc $maxDoc tokens, " +
      s"totals ${shards.map(_.getLong(1)).mkString(",")}")
    assert(shards.length > 5, "budget too large to exercise sharding at sf0.01")
    // shard ids are dense 0..last (contiguous fill leaves no holes)
    assert(shards.map(_.getLong(0)).toSeq == (0L to last))
    // balance contract: a shard's docs START inside its budget-wide token
    // interval, so totals stay within one document length of the target
    shards.dropRight(1).foreach { r =>
      val tok = r.getLong(1)
      assert(tok < C.SHARD_TOKENS + maxDoc && tok > C.SHARD_TOKENS - maxDoc,
        s"shard ${r.getLong(0)} total $tok outside ±maxdoc of ${C.SHARD_TOKENS}")
    }
  }

  test("rrf fusion: both retrievers contribute, and the lists come from TakeOrdered, not a corpus window") {
    val T = graft.llmops.TextStats
    val dir = "/root/testdata/sf0.01"
    val fused = T.xRrfFusion.build(spark, dir)
    val rows = fused.collect()
    assert(rows.length == 20)
    // a doc in BOTH top-100s scores ≥ 2/(60+100); a doc in one list at
    // rank 1 scores 1/61 — the top of the fused list should be dual-listed
    val best = rows.head.getDouble(2)
    assert(best > 1.0 / (T.RRF_K + T.RRF_TOPK) * 2 - 1e-12,
      s"fused head $best implies no document appears in both lists — fusion vacuous")
    // single-list docs exist in the fused tail (the lists genuinely differ)
    val single = rows.count(_.getDouble(2) < 1.0 / T.RRF_K + 1e-12)
    info(s"fused top-20: head=$best, single-list entries=$single")

    // scale posture: both candidate lists are TakeOrderedAndProject; the
    // only Window ops run AFTER a limit (≤100-row frames)
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$plan")
  }

  test("bloom join: the prefilter cuts the fact exchange to ~the matching fraction, losslessly") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val li = graft.core.Tables(spark, dir, "lineitem")
    val dim = graft.core.Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val bloom = dim.agg(
      graft.functions.Bloom.bloomAgg(col("o_orderkey"), 200000L, 1600000L).as("bf"))
    val total = li.count()
    val kept = li.filter(
      graft.functions.Bloom.mightContain(bloom, col("l_orderkey"))).count()
    val matching = li.join(dim, col("l_orderkey") === col("o_orderkey")).count()
    info(s"fact rows $total, bloom-kept $kept, true matches $matching")
    // lossless: every matching row survives the prefilter
    assert(kept >= matching)
    // effective: the exchange carries ~the matching fraction, not the table
    // (1600k bits for ~3k keys → fp rate well under 1%)
    assert(kept < matching + total / 20,
      s"bloom cut ineffective: kept $kept of $total for $matching matches")
    // the probe is the native codegen'd expression, not a UDF
    val plan = graft.ops.Skew.xBloomJoin.build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
  }

  test("winnowing: planted 6-word passage is detected; density near 2/(w+1)") {
    import org.apache.spark.sql.functions._
    val D = graft.llmops.Dedup
    // two otherwise-disjoint docs sharing exactly one 6-word passage
    // (w+k-1 = 6 — the guarantee's minimum detectable run)
    val passage = "alpha beta gamma delta epsilon zeta"
    val a = (1 to 40).map(i => s"a$i").mkString(" ") + " " + passage +
      " " + (41 to 80).map(i => s"a$i").mkString(" ")
    val b = (1 to 40).map(i => s"b$i").mkString(" ") + " " + passage +
      " " + (41 to 80).map(i => s"b$i").mkString(" ")
    val sel = D.winnowSelect(Seq((0L, a), (1L, b)).toDF("doc_id", "text"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    val sharedFps = sel(0L) intersect sel(1L)
    assert(sharedFps.nonEmpty,
      "detection guarantee broken: shared 6-word passage left no shared fingerprint")

    // density: selected fraction of gram positions ≈ 2/(w+1) = 0.4
    // (expected under random hashes; generous band)
    val dir = "/root/testdata/sf0.01"
    val docs = graft.core.Tables(spark, dir, "documents")
    val grams = docs.select(
      (size(split(col("text"), " ")) - 2).as("g")).agg(sum("g")).head().getLong(0)
    val fps = D.winnowSelect(docs).count()
    val density = fps.toDouble / grams
    info(f"density $density%.3f vs theoretical 2/(w+1)=${2.0 / (D.WINNOW_W + 1)}%.3f")
    assert(density < 0.55 && density > 0.2,
      s"winnowing density $density outside the plausible band")

    // the native expression reproduces the explode+window spelling it
    // replaced, doc for doc (md5 strings, per-window min, distinct)
    val reference = D.winnowSelectWindowed(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val native = D.winnowSelect(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(native == reference,
      s"native winnow diverges from the window spelling: " +
        s"${(native diff reference).take(3)} vs ${(reference diff native).take(3)}")
  }

  test("temperature mix: upsamples the tail") {
    val C = graft.llmops.Curation
    // (the pow-weight rounding-margin audit moved to RoundingMarginSpec's
    // table — rows temperature-pow / temperature-threshold)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // the semantic point: keep FRACTION of the smallest language must
      // exceed that of the largest (α < 1 flattens the distribution)
      val kept = C.xTemperatureMix.build(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
      val byN = kept.sortBy(_._2)
      val (smallFrac, bigFrac) =
        (byN.head._3.toDouble / byN.head._2, byN.last._3.toDouble / byN.last._2)
      info(f"$dir keep fractions: smallest-lang $smallFrac%.2f, largest-lang $bigFrac%.2f")
      assert(smallFrac > bigFrac,
        s"$dir: temperature scaling failed to upsample the tail language")
    }
  }

  test("minhash estimate audit: errors are real but inside the bound, with margin") {
    import org.apache.spark.sql.functions._
    val M = graft.llmops.MinHashLSH
    val dir = "/root/testdata/sf0.01"
    val sets = M.wordSetsBase(spark, dir)
    val sig = sets.select(col("doc_id"),
      graft.functions.ArrayOps.minhashSignature(col("hs"), M.NUM_HASHES).as("sig"))
    val errs = M.candidates(M.bandKeys(M.signaturesFromSets(sets)))
      .join(sets.select(col("doc_id").as("a_id"), col("hs").as("ha"), col("c").as("ca")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("hs").as("hb"), col("c").as("cb")), "b_id")
      .withColumn("inter", graft.functions.ArrayOps.sortedIntersectCount(col("ha"), col("hb")))
      .withColumn("uni", col("ca") + col("cb") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= M.TAU)
      .join(sig.select(col("doc_id").as("a_id"), col("sig").as("sa")), "a_id")
      .join(sig.select(col("doc_id").as("b_id"), col("sig").as("sb")), "b_id")
      .withColumn("err", abs(
        expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)") /
          lit(M.NUM_HASHES.toDouble) -
        col("inter").cast("double") / col("uni")))
      .select("err").as[Double].collect()
    info(f"${errs.length} pairs, max |est-exact| ${errs.max}%.3f (bound ${M.EST_BOUND})")
    assert(errs.nonEmpty)
    assert(errs.max <= M.EST_BOUND, "a pair violates the estimate bound")
    // non-vacuity: the sketch is an ESTIMATE — at least one pair must
    // actually miss (est != exact), or the audit can't detect regressions
    assert(errs.exists(_ > 1e-9), "every estimate exact — audit is vacuous")
    // and the bound is not absurdly loose relative to observed errors
    assert(errs.max > M.EST_BOUND / 10,
      f"observed max ${errs.max}%.3f — bound ${M.EST_BOUND} is >10x slack, tighten it")
  }

  test("cdc apply: deletes gone, inserts present, the seq-2 update wins") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val out = graft.ops.Scd.xCdcApply.build(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val orders = graft.core.Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deleted = orders.keys.filter(_ % 11 == 0)
    val updated = orders.keys.filter(k => k % 13 == 0 && k % 11 != 0)
    assert(deleted.nonEmpty && updated.nonEmpty, "fixture exercises nothing")
    assert(deleted.forall(!out.contains(_)), "a deleted key survived")
    assert(out(-1L) == 11111L && out(-2L) == 22222L, "inserts missing")
    assert(updated.forall(k => out(k) == orders(k) + 100000L),
      "an update applied seq-1 instead of the winning seq-2")
    val untouched = orders.keys.filter(k => k % 11 != 0 && k % 13 != 0)
    assert(untouched.forall(k => out(k) == orders(k)), "an untouched row changed")
  }

  test("dense ids: exactly 0..N-1, and the heavy rank window is bucket-partitioned") {
    val out = graft.ops.Extra.xDenseIds.build(spark, "/root/testdata/sf0.01")
    val ids = out.select("new_id").as[Long].collect().sorted
    assert(ids.toSeq == (0L until ids.length), "ids not dense 0..N-1")
    // the only unpartitioned window runs on the 256-row bucket frame; the
    // row-level rank must be partitioned (spot-check via plan text: a
    // per-bucket sort, not one corpus-wide sort task)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Window [") || plan.contains("RunningWindowFunction") ||
      plan.contains("Window"), "expected window nodes in plan")
    assert(plan.contains("partial_sum") || plan.contains("bkt"),
      s"bucket column missing from plan:\n$plan")
  }
}
