package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.Scratch

/** Round-11 additions beyond the per-operator specs. */
class Round11Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  test("t-closeness: TV distance matches a driver-side recompute and " +
    "brackets l-diversity") {
    val G = graft.llmops.Governance
    for (dir <- dirs) {
      val docs = graft.core.Tables(spark, dir, "documents")
        .select(col("source"), (col("n_chars") / G.QI_BUCKET).cast("long"),
          col("lang"))
        .as[(String, Long, String)].collect()
      val n = docs.length.toLong
      val globalDist = docs.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val expect = docs.groupBy(d => (d._1, d._2)).map { case (k, rows) =>
        val ng = rows.length.toLong
        val inGrp = rows.groupBy(_._3).view.mapValues(_.length.toLong).toMap
        val num = globalDist.map { case (v, nv) =>
          math.abs(n * inGrp.getOrElse(v, 0L) - ng * nv)
        }.sum
        k -> ((ng, num, 1000000L * num / (2 * n * ng),
          5 * num <= 2 * n * ng))
      }
      val got = G.xTCloseness.build(spark, dir)
        .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
      assert(got.length == expect.size)
      got.foreach { case (src, lb, ngot, num, den, tfix, close) =>
        val (ng, enum_, efix, eclose) = expect((src, lb))
        assert(ngot == ng && num == enum_ && tfix == efix && close == eclose,
          s"$dir ($src,$lb): got ($ngot,$num,$tfix,$close) want " +
            s"($ng,$enum_,$efix,$eclose)")
        assert(den == 2 * n * ng)
      }
      // the audit must discriminate at oracle scale: some groups close,
      // some not (a constant column would grade nothing)
      if (dir.endsWith("0.01"))
        assert(got.exists(_._7) && got.exists(!_._7),
          s"$dir: t02_close never varies")
      info(s"$dir: ${got.length} QI groups, ${got.count(_._7)} t<=0.2-close")
    }
  }

  test("pass@k: product-ratio estimator equals the BigInt binomial form " +
    "and is monotone in k") {
    val E = graft.llmops.Evals
    def binom(n: Long, k: Long): BigInt =
      if (k < 0 || k > n) BigInt(0)
      else (0L until k).map(i => BigInt(n - i)).product /
        (1L to k).map(BigInt(_)).product
    for (dir <- dirs) {
      val ev = graft.core.Tables(spark, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .as[(String, Long, Double)].collect()
      val expect = ev.groupBy(_._1).map { case (t, rows) =>
        val cap = rows.sortBy(_._2).take(E.SAMPLE_CAP)
        val n = cap.length.toLong
        val c = cap.count(_._3 > E.PASS_VALUE).toLong
        def pak(k: Long): Long =
          if (n - c < k) 1000000L
          else (BigInt(1000000) -
            BigInt(1000000) * binom(n - c, k) / binom(n, k)).toLong
        t -> ((n, c, 1000000L * c / n, pak(5), pak(10)))
      }
      val got = E.xPassAtK.build(spark, dir)
        .as[(String, Long, Long, Long, Long, Long)].collect()
      assert(got.length == expect.size)
      got.foreach { case (t, n, c, p1, p5, p10) =>
        assert((n, c, p1, p5, p10) == expect(t), s"$dir $t")
        // pass@k is monotone nondecreasing in k (more draws can only help)
        assert(p1 <= p5 + 1 && p5 <= p10 + 1, s"$dir $t: $p1 $p5 $p10")
        assert(p10 < 1000000L, s"$dir $t: saturated pass@10 grades nothing")
      }
      info(s"$dir: " + got.sortBy(_._1).map(g =>
        f"${g._1}=${g._6 / 1e6}%.3f").mkString("pass@10 ", " ", ""))
    }
  }

  test("conformal: q_hat is the exact order statistic and coverage is " +
    "near the nominal 90%") {
    val E = graft.llmops.Evals
    for (dir <- dirs) {
      val r = graft.core.Tables(spark, dir, "documents")
        .select(col("doc_id"),
          abs(col("n_chars") -
            lit(6L) * size(split(col("text"), " ")).cast("long")).as("res"))
        .as[(Long, Long)].collect()
      val cal = r.filter(_._1 % 2 == 0).map(_._2).sorted
      val test_ = r.filter(_._1 % 2 != 0).map(_._2)
      val m = ((cal.length + 1) * 9 + 9) / 10
      val qHat = cal(m - 1) // m-th smallest, 1-indexed
      val nCov = test_.count(_ <= qHat).toLong
      val got = E.xConformal.build(spark, dir)
        .as[(Long, Long, Long, Long, Long, Long, Boolean)].head()
      assert(got == ((cal.length.toLong, m.toLong, qHat, test_.length.toLong,
        nCov, 1000000L * nCov / test_.length, 10 * nCov >= 9 * test_.length)),
        s"$dir: $got")
      // distribution-free guarantee holds in expectation; on one fixed
      // split allow +-5% slack around the nominal 90% (sf0.01 lands at
      // exactly 0.860)
      val cov = nCov.toDouble / test_.length
      assert(cov >= 0.85 && cov < 1.0, s"$dir: coverage $cov out of band")
      info(f"$dir: q_hat=$qHat coverage=$cov%.3f (nominal 0.90)")
    }
  }

  test("binary + matryoshka funnels: recall gate holds and the cheap " +
    "stage alone is genuinely lossy") {
    val Qz = graft.llmops.Quantize
    for (dir <- dirs) {
      // driver-side ground model
      val vecs = graft.core.Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      def norm(v: Seq[Double]): Seq[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      val unit = vecs.map { case (id, v) => (id, norm(v)) }
      def top10(score: Long => Double): Seq[Long] =
        unit.map(u => (math.round(score(u._1) * 1e6), u._1))
          .sortBy { case (sc, id) => (-sc, id) }.take(10).map(_._2)
      for (p <- 0L until 5L) {
        val pv = unit.find(_._1 == p).get._2
        val praw = vecs.find(_._1 == p).get._2
        val byId = unit.toMap
        val exact = top10(id => (byId(id), pv).zipped.map(_ * _).sum)
        // the cheap stages ALONE (no re-rank) must miss neighbors on at
        // least one probe overall — otherwise the funnel grades nothing
        val asymTop = top10(id =>
          vecs.find(_._1 == id).get._2.map(x => if (x > 0) 1.0 else -1.0)
            .zip(praw).map { case (a, b) => a * b }.sum)
        val mrlTop = top10 { id =>
          val a = norm(byId(id).take(32)); val b = norm(pv.take(32))
          a.zip(b).map { case (x, y) => x * y }.sum
        }
        lossyHits += (if (asymTop.toSet != exact.toSet) 1 else 0)
        lossyHits += (if (mrlTop.toSet != exact.toSet) 1 else 0)
      }
      // graded gate: every probe recall_ok at the oracle SFs
      for (q <- Seq(Qz.xBinaryQuantize, Qz.xMatryoshkaRecall)) {
        val rows = q.build(spark, dir).as[(Long, Long, Boolean)].collect()
        assert(rows.length == 5, s"$dir ${q.name}")
        rows.foreach { case (pid, n, ok) =>
          assert(ok && n >= 9, s"$dir ${q.name} probe $pid: overlap $n")
        }
        info(s"$dir ${q.name}: overlaps " +
          rows.sortBy(_._1).map(_._2).mkString(","))
      }
    }
    assert(lossyHits > 0,
      "cheap stages never diverged from exact — the re-rank grades nothing")
  }
  private var lossyHits = 0

  test("fuzzy join: blocked plan equals brute force and both block arms " +
    "are load-bearing") {
    val E = graft.llmops.EntityResolution
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (dir <- dirs) {
      val vocab = graft.core.Tables(spark, dir, "customer")
        .select(expr("""CASE CAST(c_custkey % 3 AS INT)
            WHEN 0 THEN substring(md5(cast(c_custkey div 3 as string)), 1, 8)
            WHEN 1 THEN concat('z', substring(md5(cast(c_custkey div 3 as string)), 2, 7))
            ELSE substring(md5(cast(c_custkey div 3 as string)), 1, 7) END"""))
        .as[String].collect().distinct.sorted
      val brute = (for {
        i <- vocab.indices; j <- (i + 1) until vocab.length
        if lev(vocab(i), vocab(j)) <= 1
      } yield (vocab(i), vocab(j))).toSet
      val got = E.xFuzzyJoin.build(spark, dir)
        .as[(String, String)].collect().toSet
      assert(got == brute, s"$dir: blocked != brute " +
        s"(missing ${(brute -- got).take(3)}, extra ${(got -- brute).take(3)})")
      // both arms load-bearing: pairs exist whose first chars differ
      // (prefix arm alone would miss them) and whose last chars differ
      assert(brute.exists { case (a, b) => a.head != b.head }, s"$dir")
      assert(brute.exists { case (a, b) => a.last != b.last }, s"$dir")
      info(s"$dir: ${brute.size} d<=1 pairs, blocked plan exhaustive")
    }
  }

  test("RAKE: top-10 phrases match a driver-side recompute") {
    val Ts = graft.llmops.TextStats
    for (dir <- dirs) {
      val stops = Set("the", "a", "of", "and", "to")
      val docs = graft.core.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      // phrase segmentation + word scores, straight from the paper
      val phrases = docs.flatMap { case (_, text) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
        var cur = Vector.empty[String]
        text.split(" ", -1).foreach { w =>
          if (stops(w)) { if (cur.nonEmpty) out += cur; cur = Vector.empty }
          else if (w.nonEmpty) cur :+= w
        }
        if (cur.nonEmpty) out += cur
        out
      }
      val freq = phrases.flatten.groupBy(identity).view.mapValues(_.length.toLong)
      val deg = phrases.flatMap(p => p.map(w => (w, p.length.toLong)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      val wsc = freq.keys.map(w => w -> 1000000L * deg(w) / freq(w)).toMap
      val expect = phrases.map(p => (p.mkString(" "), p.map(wsc).sum))
        .groupBy(_._1).map { case (ph, occ) =>
          (ph, occ.head._2, occ.length.toLong)
        }.toSeq.sortBy { case (ph, sc, _) => (-sc, ph) }.take(10)
      val got = Ts.xRakeKeywords.build(spark, dir)
        .as[(String, Long, Long)].collect().toSeq
      assert(got == expect, s"$dir:\n got    $got\n expect $expect")
      info(s"$dir: top phrase score=${got.head._2} " +
        s"(${got.head._1.split(" ").length} words)")
    }
  }

  test("stream late-data accounting: emitted = on-time closed windows, " +
    "engine drop metric = late group count, open windows stay unemitted") {
    val S = graft.streaming.StreamOps
    for (dir <- Seq("/root/testdata/sf0.001")) {
      val ev = graft.core.Tables(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)].collect()
      val cut = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      val (late, ontime) = ev.partition(e =>
        e._2.before(cut) && e._1 % 7 == 0)
      val wm = ontime.map(_._2.getTime).max - 3600000L
      def hour(t: java.sql.Timestamp): Long = t.getTime / 3600000L * 3600000L
      val expect = ontime.groupBy(e => (hour(e._2), e._3)).view
        .mapValues(_.length.toLong).toMap
        .filter { case ((h, _), _) => h + 3600000L <= wm }
      val lateGroups = late.map(e => (hour(e._2), e._3)).distinct.length.toLong
      val got = S.xStreamLate.build(spark, dir)
        .as[(java.sql.Timestamp, String, Long, Long)].collect()
      assert(got.length == expect.size, s"$dir: ${got.length} vs ${expect.size}")
      got.foreach { case (ws, et, n, dropped) =>
        assert(expect((ws.getTime, et)) == n, s"$dir ($ws,$et)")
        assert(dropped == lateGroups, s"$dir: dropped=$dropped")
        assert(ws.getTime + 3600000L <= wm, s"$dir: open window $ws emitted")
      }
      // boundary audit: no window end collides with the watermark, so
      // the <=-vs-< eviction convention cannot flip the result
      assert(!expect.keys.exists(_._1 + 3600000L == wm), s"$dir boundary")
      info(s"$dir: ${got.length} closed windows, $lateGroups late groups " +
        "dropped by the engine")
    }
  }

  test("Hilbert index: bijective on the grid and unit-step adjacent " +
    "(the locality property Z-order lacks)") {
    val bits = 4
    val n = 1 << bits
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).as("x"), expr(s"id div $n").as("y"))
      .select(col("x"), col("y"),
        graft.functions.Hilbert.index2(col("x"), col("y"), bits).as("d"))
      .as[(Long, Long, Long)].collect()
    assert(grid.map(_._3).sorted.toSeq == (0L until n.toLong * n),
      "not a bijection onto [0, 4^bits)")
    val walk = grid.sortBy(_._3)
    walk.sliding(2).foreach { case Array(a, b) =>
      assert(math.abs(a._1 - b._1) + math.abs(a._2 - b._2) == 1,
        s"curve jumps between d=${a._3} and d=${b._3}")
    }
    // Z-order, by contrast, jumps: max manhattan step on the same grid
    val zWalk = grid.map { case (x, y, _) =>
      val z = (0 until bits).map(i =>
        (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
      (x, y, z)
    }.sortBy(_._3)
    val zMax = zWalk.sliding(2).map { case Array(a, b) =>
      math.abs(a._1 - b._1) + math.abs(a._2 - b._2) }.max
    assert(zMax > 1, "expected Z-curve jumps on this grid")
    info(s"hilbert max step 1, z-order max step $zMax on a ${n}x$n grid")
  }

  test("Hilbert vs Z-order file pruning: measured on staged orders " +
    "layouts across box predicates") {
    import org.apache.hadoop.fs.Path
    val dir = "/root/testdata/sf0.01"
    val orders = graft.core.Tables(spark, dir, "orders")
    val root = Scratch.fresh("hvz").toString
    graft.sources.Lake.writeZOrdered(orders, s"$root/z", 16,
      "o_custkey", "o_totalprice")
    graft.sources.Lake.writeHilbertOrdered(orders, s"$root/h", 16,
      "o_custkey", "o_totalprice")
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val boxes = Seq(
      Seq("o_custkey" -> (100L, 400L), "o_totalprice" -> (20000L, 120000L)),
      Seq("o_custkey" -> (700L, 1000L), "o_totalprice" -> (150000L, 300000L)),
      Seq("o_custkey" -> (0L, 150L)),
      Seq("o_totalprice" -> (400000L, 460000L)),
      Seq("o_custkey" -> (500L, 600L), "o_totalprice" -> (0L, 50000L)))
    val rows = boxes.map { box =>
      val z = graft.sources.Lake.prunedFiles(fs,
        new Path(s"$root/z/_zmanifest.json"), box).size
      val h = graft.sources.Lake.prunedFiles(fs,
        new Path(s"$root/h/_hmanifest.json"), box).size
      assert(z < 16 && h < 16, s"box $box prunes nothing (z=$z h=$h)")
      // correctness: pruned scans agree with the full filtered scan
      val full = box.foldLeft(orders) { case (df, (c, (lo, hi))) =>
        df.filter(col(c).cast("long") >= lo && col(c).cast("long") <= hi)
      }.count()
      val hv = box.foldLeft(graft.sources.Lake.readHPruned(spark,
        s"$root/h", box))((df, _) => df).count()
      assert(hv == full, s"box $box: hilbert pruned scan lost rows")
      (box.map(_._1).mkString("+"), z, h)
    }
    rows.foreach { case (b, z, h) => info(f"$b%-28s z=$z%2d h=$h%2d") }
    val (zTot, hTot) = (rows.map(_._2).sum, rows.map(_._3).sum)
    info(s"total files scanned over ${boxes.size} boxes: z=$zTot h=$hTot")
    assert(hTot <= zTot + 2,
      s"hilbert materially worse than z-order ($hTot vs $zTot)")
  }

  test("Hill tail index matches a driver-side recompute off the top-k " +
    "order statistics") {
    val Ts = graft.llmops.TextStats
    for (dir <- dirs) {
      val counts = graft.core.Tables(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect()
      assert(counts.length >= Ts.HILL_K + 1,
        s"$dir: vocabulary smaller than k+1")
      val top = counts.sortBy { case (w, n) => (-n, w) }
        .take(Ts.HILL_K + 1)
        .map { case (_, n) => math.round(1e6 * math.log(n.toDouble)) }
      val sy = top.take(Ts.HILL_K).sum
      val yk = top.last
      val inv = (sy - Ts.HILL_K * yk) / Ts.HILL_K
      val alpha =
        if (sy - Ts.HILL_K * yk > 0)
          1000000000L * Ts.HILL_K / (sy - Ts.HILL_K * yk)
        else 0L
      val got = Ts.xTailIndex.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].head()
      assert(got == ((Ts.HILL_K.toLong, sy, yk, inv, alpha)), s"$dir: $got")
      info(f"$dir: alpha=${alpha / 1000.0}%.3f (near-uniform spectrum is " +
        "heavy alpha, as expected on this fixture)")
    }
  }

  test("EWMA: integer dot product equals the float filter within fixed-" +
    "point resolution and reacts to level shifts") {
    val Ti = graft.ops.Timeseries
    for (dir <- dirs) {
      val series = graft.core.Tables(spark, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .as[(String, java.sql.Timestamp, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime).map(_._3)).toMap
      val got = Ti.xEwma.build(spark, dir)
        .as[(String, java.sql.Timestamp, Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime)).toMap
      for ((et, xs) <- series) {
        val rows = got(et)
        assert(rows.length == xs.length)
        rows.zipWithIndex.foreach { case ((_, _, x, num, milli), t) =>
          assert(x == xs(t))
          // exact integer recompute
          val expect = (0 until Ti.EWMA_LAGS).map { i =>
            if (t - i >= 0)
              xs(t - i) * BigInt(3).pow(i).toLong *
                (1L << (2 * (Ti.EWMA_LAGS - 1 - i)))
            else 0L
          }.sum
          assert(num == expect, s"$dir $et t=$t")
          assert(milli == BigInt(num) * 1000 / (1L << 32), s"$dir $et t=$t")
          // float cross-check: same filter in doubles, within 1 milli
          val f = (0 until Ti.EWMA_LAGS).map(i =>
            if (t - i >= 0) xs(t - i) * 0.25 * math.pow(0.75, i) else 0.0).sum
          assert(math.abs(milli / 1000.0 - f) < 0.002 * math.max(1.0, f),
            s"$dir $et t=$t: $milli vs $f")
        }
      }
      info(s"$dir: ${got.values.map(_.length).sum} EWMA points exact")
    }
  }

  test("span corruption: mask matches a sequential driver-side replay " +
    "and the rate lands near the T5 target") {
    val C = graft.llmops.Chunking
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    for (dir <- dirs) {
      val docs = graft.core.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      val expect = docs.map { case (id, text) =>
        val n = text.split(" ", -1).length
        // SEQUENTIAL reference: walk positions, paint spans forward
        val mask = Array.fill(n)(false)
        for (p <- 1 to n)
          if (md5hex(s"$id:$p").take(2) < C.SPAN_SEL)
            for (q <- p until math.min(p + C.SPAN_LEN, n + 1))
              mask(q - 1) = true
        val nMasked = mask.count(identity).toLong
        val nRuns = mask.zipWithIndex.count { case (m, i) =>
          m && (i == 0 || !mask(i - 1)) }.toLong
        id -> ((n.toLong, nMasked, nRuns, 1000000L * nMasked / n))
      }.toMap
      val got = C.xSpanCorruption.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(got.length == expect.size)
      got.foreach { case (id, n, m, sent, ppm) =>
        assert(expect(id) == ((n, m, sent, ppm)), s"$dir doc $id")
      }
      val rate = got.map(_._3).sum.toDouble / got.map(_._2).sum
      assert(rate > 0.08 && rate < 0.22, s"$dir: corruption rate $rate")
      info(f"$dir: corpus corruption rate $rate%.3f, " +
        s"${got.map(_._4).sum} sentinels")
    }
  }

  test("LSH band tuning: fixed-point S-curve tracks the analytic curve " +
    "and the shipped config is anchored") {
    val M = graft.llmops.MinHashLSH
    assert(M.TUNE_CONFIGS.head == ((M.BANDS, M.ROWS_PER_BAND)),
      "first tuned config must be the shipped banding")
    val rows = M.xLshBandTuning.build(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to 9).map(_ * 100000L))
    for ((s_ppm, p1, p2, p3) <- rows; (p, (b, r)) <- Seq(p1, p2, p3)
        .zip(M.TUNE_CONFIGS)) {
      val s = s_ppm / 1e6
      val truth = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      assert(math.abs(p / 1e6 - truth) < 1e-4,
        s"(b=$b r=$r s=$s): $p vs $truth")
    }
    // monotone in s, and wide bands dominate narrow at low similarity
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4)
    }
    val low = rows.head
    assert(low._3 > low._2 && low._2 > low._4,
      "expected p(16x2) > p(8x4) > p(4x8) at s=0.1")
    info("S-curve exact to 1e-4 of analytic; shipped 8x4 crossover " +
      f"s50=${rows.find(_._2 >= 500000).map(_._1.toDouble / 1e6).getOrElse(-1.0)}%.1f")
  }

  test("crossval folds: hash split is near-even, cells tile each fold, " +
    "accuracy is fold-stable") {
    val E = graft.llmops.Evals
    for (dir <- dirs) {
      val rows = E.xCrossvalFolds.build(spark, dir)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      assert(rows.map(_._1).toSeq == (0L to 4L))
      val total = rows.map(_._2).sum
      rows.foreach { case (f, n, tp, fp, fn, tn, acc) =>
        assert(tp + fp + fn + tn == n, s"$dir fold $f cells")
        assert(acc == 1000000L * (tp + tn) / n, s"$dir fold $f acc")
        // hash split: each fold within 2x of the ideal fifth
        assert(n > total / 10 && n < total * 2 / 5, s"$dir fold $f size $n")
      }
      val accs = rows.map(_._7)
      info(s"$dir: fold sizes ${rows.map(_._2).mkString(",")}, " +
        s"acc spread ${(accs.max - accs.min) / 1e6}")
    }
  }

  test("log-odds: delta matches a driver-side recompute and flags " +
    "genuinely en-skewed terms") {
    val Ts = graft.llmops.TextStats
    for (dir <- dirs) {
      val cs = graft.core.Tables(spark, dir, "documents")
        .select((col("lang") === "en").as("g"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(
          sum(when(col("g"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("g"), 1L).otherwise(0L)).as("b"))
        .as[(String, Long, Long)].collect()
      val ta = cs.map(_._2).sum; val tb = cs.map(_._3).sum
      def lnfix(m: Long) = math.round(1e6 * math.log(m.toDouble))
      val expect = cs.map { case (w, a, b) =>
        (w, a, b, lnfix(a + 1) - lnfix(ta - a + 1) -
          lnfix(b + 1) + lnfix(tb - b + 1))
      }.sortBy { case (w, _, _, d) => (-d, w) }.take(10).toSeq
      val got = Ts.xLogOdds.build(spark, dir)
        .as[(String, Long, Long, Long)].collect().toSeq
      assert(got == expect, s"$dir")
      // discrimination: the top term must actually lean en
      val (w0, a0, b0, d0) = got.head
      assert(a0.toDouble / ta > b0.toDouble / tb,
        s"$dir: top term $w0 does not lean en")
      assert(d0 > 0, s"$dir")
      info(s"$dir: top en-leaning terms " +
        got.take(3).map(g => s"${g._1}(${g._4 / 1e6})").mkString(", "))
    }
  }

  test("vacuum audit: expired snapshot directory is really gone, " +
    "survivors read back exactly") {
    val Tt = graft.sources.TimeTravel
    for (dir <- dirs) {
      val rows = Tt.xVacuumAudit.build(spark, dir)
        .as[(Long, Boolean, Long, Double)].collect().sortBy(_._1)
      assert(rows.map(r => (r._1, r._2)).toSeq ==
        Seq((1L, false), (2L, true), (3L, true)), s"$dir: $rows")
      val (_, _, n2, t2) = rows(1); val (_, _, n3, t3) = rows(2)
      // v3 strictly shrinks v2 (the second delete wave must bite)
      assert(n3 < n2 && t3 < t2, s"$dir: v3 did not shrink ($n3/$n2)")
      assert(rows(0)._3 == 0L && rows(0)._4 == 0.0)
      info(s"$dir: v2=$n2 rows, v3=$n3 rows after expiry of v1")
    }
  }

  test("tpch q8: market share brackets [0,1] and numerator is a real " +
    "subset of the denominator") {
    val R = graft.ops.Relational
    for (dir <- dirs) {
      val rows = R.xTpchQ8.build(spark, dir)
        .as[(Long, Double)].collect()
      assert(rows.nonEmpty)
      rows.foreach { case (y, sh) =>
        assert(sh >= 0.0 && sh <= 1.0, s"$dir year $y share $sh")
      }
      // the tiny SF's supplier draw can miss NATION_7 entirely; require
      // a non-trivial share at the oracle SF
      if (dir.endsWith("0.01"))
        assert(rows.exists(r => r._2 > 0.0 && r._2 < 1.0),
          s"$dir: share never non-trivial")
      info(s"$dir: shares " + rows.sortBy(_._1)
        .map(r => f"${r._1}:${r._2}%.3f").mkString(" "))
    }
  }

  test("dyadic bootstrap: multiplicities recompute exactly, the CI " +
    "covers the true mean, and replicates genuinely vary") {
    val E = graft.llmops.Evals
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    for (dir <- dirs) {
      val docs = graft.core.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
      val expect = (0 until E.BOOT_B).map { b =>
        var ne = 0L; var ws = 0L
        docs.foreach { case (id, nc) =>
          val c = md5hex(s"$id:$b").charAt(0)
          val m = if (c < '4') 0L else if (c < 'c') 1L else 2L
          ne += m; ws += m * nc
        }
        (b.toLong, ne, 1000L * ws / ne)
      }
      val sorted = expect.map(_._3).sorted
      val (lo, hi) = (sorted(1), sorted(E.BOOT_B - 2))
      val got = E.xDyadicBootstrap.build(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(got.length == E.BOOT_B)
      got.zip(expect).foreach { case ((b, ne, m, l, h), (eb, ene, em)) =>
        assert((b, ne, m) == ((eb, ene, em)), s"$dir rep $b")
        assert(l == lo && h == hi, s"$dir rep $b ci")
      }
      // replicate means genuinely vary and the 80% interval covers the
      // plain corpus mean on this fixture
      assert(got.map(_._3).distinct.length > 1, s"$dir: degenerate reps")
      val trueMean = 1000L * docs.map(_._2).sum / docs.length
      assert(lo <= trueMean && trueMean <= hi,
        s"$dir: CI [$lo,$hi] misses $trueMean")
      info(s"$dir: mean CI [${lo / 1000.0}, ${hi / 1000.0}] covers " +
        s"${trueMean / 1000.0}; n_eff spread " +
        s"${got.map(_._2).min}..${got.map(_._2).max} over ${docs.length}")
    }
  }

  test("optimize pipeline: band read skips files and the rank-cut " +
    "rewrite yields contiguous per-file user ranges") {
    val C = graft.sources.Compaction
    val dir = "/root/testdata/sf0.01"
    val rows = C.xOptimizePipeline.build(spark, dir)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(rows.length == 5)
    rows.foreach { case (p, n, fb, fa, bn, _) =>
      assert(fb == (n + C.FILE_ROWS - 1) / C.FILE_ROWS, s"$p before")
      assert(fa == (n + C.TARGET_ROWS - 1) / C.TARGET_ROWS, s"$p after")
      assert(fb > fa, s"$p: compaction did not reduce file count")
      assert(bn > 0 && bn < n, s"$p: band trivial ($bn of $n)")
    }
    info(s"files before=${rows.map(_._3).sum} after=${rows.map(_._4).sum} " +
      s"across ${rows.length} partitions")
  }

  test("SPRT: cumulative LLR matches a driver-side recompute and the " +
    "walk crosses into accept_h1") {
    val E = graft.ops.EventAnalytics
    for (dir <- dirs) {
      val days = graft.core.Tables(spark, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 90, 1L).otherwise(0L)).as("k"))
        .as[(java.sql.Timestamp, Long, Long)].collect().sortBy(_._1.getTime)
      var cum = 0L
      val expect = days.map { case (d, n, k) =>
        cum += k * E.SPRT_LS + (n - k) * E.SPRT_LF
        val v = if (cum >= E.SPRT_A) "accept_h1"
          else if (cum <= -E.SPRT_A) "accept_h0" else "continue"
        (d, n, k, cum, v)
      }.toSeq
      val got = E.xSprtAb.build(spark, dir)
        .as[(java.sql.Timestamp, Long, Long, Long, String)].collect().toSeq
        .sortBy(_._1.getTime)
      assert(got == expect, s"$dir")
      // the empirical rate sits in (p0, p1): the walk must eventually
      // accept H1 at the oracle SF (and the column must genuinely vary)
      if (dir.endsWith("0.01")) {
        assert(got.exists(_._5 == "continue") &&
          got.exists(_._5 == "accept_h1"), s"$dir: verdict never varies")
        val cross = got.indexWhere(_._5 == "accept_h1")
        info(s"$dir: H1 accepted on day $cross of ${got.length}")
      }
    }
  }

  test("forget-user: erasure is complete (leftover 0 measured from the " +
    "rewritten store) and counts reconcile") {
    val G = graft.llmops.Governance
    for (dir <- dirs) {
      val rows = G.xForgetUser.build(spark, dir)
        .as[(String, Long, Long, Long, Long)].collect()
      assert(rows.length == 5)
      rows.foreach { case (t, before, after, erased, leftover) =>
        assert(leftover == 0L, s"$dir $t: $leftover tombstoned rows remain")
        assert(before == after + erased, s"$dir $t reconcile")
        assert(erased > 0, s"$dir $t: erasure trivially empty")
      }
      info(s"$dir: erased ${rows.map(_._4).sum} of ${rows.map(_._2).sum} rows")
    }
  }

  test("benford: chi-square matches a BigInt recompute and correctly " +
    "flags the synthetic price distribution") {
    val G = graft.llmops.Governance
    for (dir <- dirs) {
      val obs = graft.core.Tables(spark, dir, "orders")
        .filter(col("o_totalprice") >= 1)
        .select(expr("""CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
          AS STRING), 1, 1) AS BIGINT)""").as("d"))
        .groupBy("d").agg(count(lit(1)).as("c"))
        .as[(Long, Long)].collect().toMap
      val n = obs.values.sum
      val terms = (1 to 9).map { d =>
        val o = obs.getOrElse(d.toLong, 0L)
        val p = G.BENFORD_PPM(d - 1)
        val diff = BigInt(1000000L * o - n * p)
        (d.toLong, o, p, (diff * diff / BigInt(n * p)).toLong)
      }
      val chi2 = terms.map(_._4).sum
      val got = G.xBenford.build(spark, dir)
        .as[(Long, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
      got.zip(terms).foreach { case ((d, o, p, term, tot, dev), e) =>
        assert((d, o, p, term) == e, s"$dir digit $d")
        assert(tot == chi2 && dev == (chi2 > G.BENFORD_CRIT_MICRO))
      }
      // the synthetic uniform prices MUST deviate, with digits 5-9
      // depressed relative to 1-4 (the uniform-range signature)
      assert(chi2 > G.BENFORD_CRIT_MICRO, s"$dir: audit failed to flag")
      assert((5 to 9).map(d => obs(d.toLong)).max <
        (1 to 4).map(d => obs(d.toLong)).min, s"$dir")
      info(f"$dir: chi2=${chi2 / 1e6}%.0f vs crit 15.5 — flagged")
    }
  }
}
