package graft

import org.apache.spark.sql.functions._
import graft.core.Scratch
import graft.llmops.{MinHashLSH, Shingles}

/** Dev probe (Test/runMain graft.ScaleProbe): measure the near-dup LSH
  * pipeline's growth on K×-replicated corpora. Replicas get every word
  * prefixed with a replica tag, so cross-replica Jaccard is 0 and the
  * true-pair density stays constant — the corpus grows, the answer set
  * grows proportionally, and a linear data path should show ~linear time
  * (vs the oracle's brute-force pair join growing quadratically).
  * Results are recorded in docs/SCALING.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    // comma-separated section filter for re-measuring one family without
    // paying the whole probe:
    // neardup,setsim,nn,km,inc,lm,bpe,contam,pr,qc,evt,cn,cnskew,budget,
    // cap,winnow,cdc,cumsum,cumsumN,linededup,substr,triangles,inccur,fuzzy2,sil,ccommit
    val only = sys.env.get("SPARK_GRAFT_PROBE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(section: String): Boolean = only.forall(_.contains(section))
    val base = graft.core.Tables(spark, "/root/testdata/sf0.1", "documents")
      .select(col("doc_id"), col("text")).cache()
    val baseN = base.count()

    def corpus(k: Int) = (0 until k).map { i =>
      base.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), w -> concat('r$i', w)), ' ')")
          .as("text"))
    }.reduce(_ union _)

    def timeNearDup(k: Int): (Long, Double) = {
      val t0 = System.nanoTime()
      val sets = MinHashLSH.wordSets(corpus(k), 3).cache()
      val cand = MinHashLSH.candidates(
        MinHashLSH.bandKeys(MinHashLSH.signaturesFromSets(sets, 32), 8, 4))
      val pairs = MinHashLSH.exactJaccardFromSets(cand, sets)
        .filter(col("jaccard") >= MinHashLSH.TAU).count()
      sets.unpersist()
      (pairs, (System.nanoTime() - t0) / 1e9)
    }

    // warm codegen + shuffle machinery before measuring — only for the
    // sections that time the near-dup machinery (a filtered run of other
    // sections must not pay a full LSH pass). Consequence: a FILTERED
    // run's first data point carries the JVM/codegen warm-up its section
    // didn't pre-pay — same convention as the "(first-run warmup)" rows
    // already annotated in docs/SCALING.md; compare growth from the
    // second point, or run unfiltered for publication numbers.
    if (want("neardup") || want("inc")) timeNearDup(1)
    if (want("neardup")) Seq(1, 2, 5, 10).foreach { k =>
      val (pairs, sec) = timeNearDup(k)
      println(f"SCALE k=$k%2d docs=${baseN * k}%6d pairs=$pairs%5d sec=$sec%7.2f")
    }

    // ---- exact prefix-filtered set-similarity join ----
    // replicas share no shingles (per-replica word prefix), so the true
    // pair set grows k-fold; sub-quadratic time = the prefix filter is
    // doing its job (brute force would grow k² in candidate volume)
    if (want("setsim")) Seq(1, 2, 5, 10).foreach { k =>
      import graft.llmops.SetSim
      val t0 = System.nanoTime()
      val sets = MinHashLSH.wordSets(corpus(k), 3).cache()
      val pairs = SetSim.similarPairs(sets, SetSim.T_NUM, SetSim.T_DEN).count()
      val sec = (System.nanoTime() - t0) / 1e9
      sets.unpersist()
      println(f"SCALE-SETSIM k=$k%2d docs=${baseN * k}%6d pairs=$pairs%5d sec=$sec%7.2f")
    }

    // ---- domain cap: partial top-k agg vs the window plan ----
    // the structural claim of x_domain_cap: the bounded-heap Aggregator's
    // map-side partial emits ≤ k rows per (group, partition) into the
    // shuffle, while the window plan exchanges EVERY row; the skew variant
    // routes half the corpus to one "hub" source, which serializes the
    // window's hub partition on one task but leaves the partial bound
    // untouched. partial_out is read from the executed plan's partial
    // ObjectHashAggregate numOutputRows metric — the measured row bound,
    // not an inference.
    if (want("cap")) {
      import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.expressions.Window
      // AQE wraps materialized stages in QueryStageExec leaves, which
      // plan.collect does not descend into — turn it off so the partial
      // agg's metric is reachable (the row bound is AQE-independent);
      // restored to the PRIOR value in a finally so a mid-loop failure
      // can't skew every later section's numbers
      val aqePrior = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
      val topkF = graft.functions.TopKByScore.topK(3)
      for (k <- Seq(1, 5, 20); skew <- Seq(false, true)) {
        val srcCol =
          if (skew) when(col("doc_id") % 2 === 0, lit("hub"))
            .otherwise(concat(lit("s"), col("doc_id") % 20))
          else concat(lit("s"), col("doc_id") % 20)
        val docs = corpus(k).select(col("doc_id"), srcCol.as("source"),
          length(col("text")).cast("long").as("n_chars")).cache()
        val n = docs.count()
        val t0 = System.nanoTime()
        val agg = docs.groupBy("source")
          .agg(topkF(col("n_chars"), col("doc_id")).as("kept"))
        agg.collect()
        val aggSec = (System.nanoTime() - t0) / 1e9
        val finalPlan = agg.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val partialOut = finalPlan.collect {
          case a: ObjectHashAggregateExec
              if a.aggregateExpressions.exists(_.mode.toString == "Partial") =>
            a.metrics("numOutputRows").value
        }.sum
        val t1 = System.nanoTime()
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        docs.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3).count()
        val winSec = (System.nanoTime() - t1) / 1e9
        println(f"SCALE-CAP k=$k%2d skew=$skew%5s rows=$n%8d " +
          f"partial_out=$partialOut%6d agg=$aggSec%5.2f win=$winSec%5.2f")
        docs.unpersist()
      }
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrior)
    }

    // ---- winnowing: native per-row expression vs explode+window ----
    // the structural claim of the WinnowFingerprints rewrite: the window
    // spelling explodes one row per 3-gram (≈ n_words rows), exchanges
    // the whole gram stream on doc_id, and sorts each doc's grams; the
    // native expression computes the per-doc fingerprint set inside the
    // scan projection, so the only exchanged rows are the ~0.4/gram
    // SELECTED fingerprints feeding the digest agg.
    if (want("winnow")) {
      for (k <- Seq(1, 5, 20)) {
        val docs = corpus(k).cache(); docs.count()
        val t0 = System.nanoTime()
        val nNative = graft.llmops.Dedup.winnowSelect(docs).count()
        val nativeSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nWin = graft.llmops.Dedup.winnowSelectWindowed(docs).count()
        val winSec = (System.nanoTime() - t1) / 1e9
        println(f"SCALE-WINNOW k=$k%2d fps=$nNative%8d native=$nativeSec%5.2f " +
          f"window=$winSec%5.2f agree=${nNative == nWin}%5s")
        docs.unpersist()
      }
    }

    // ---- content-defined chunking: growth ----
    // replicas share no words (per-replica prefix), so chunk counts and
    // dup chunks grow ~k-fold; near-linear wall = the per-doc windows
    // and the single digest agg are doing their job (no corpus-wide
    // window, no pairwise work)
    if (want("cdc")) {
      for (k <- Seq(1, 5, 20)) {
        val docs = corpus(k).cache(); docs.count()
        val t0 = System.nanoTime()
        val ch = graft.llmops.Chunking.cdcChunks(docs).cache()
        val nChunks = ch.count()
        val nDup = ch.groupBy(col("h")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE-CDC k=$k%2d chunks=$nChunks%8d dup_digests=$nDup%6d sec=$sec%5.2f")
        ch.unpersist(); docs.unpersist()
      }
    }

    // ---- token-budget subsampling: growth + bucket parallelism ----
    // replicated docs keep their language (the budget splits by lang), so
    // corpus tokens, per-lang budgets, and the selected set all grow ~k×;
    // the heavy window partitions by (lang, md5-prefix bucket), so the
    // largest single window partition is ~1/256 of a language regardless
    // of corpus size — the claim that distinguishes this spelling from
    // the naive one-window-per-language form
    if (want("budget")) {
      val langBase = graft.core.Tables(spark, "/root/testdata/sf0.1", "documents")
        .select(col("doc_id"), col("lang"), col("text")).cache()
      langBase.count()
      def budgetCorpus(k: Int) = (0 until k).map { i =>
        langBase.select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          col("lang"),
          expr(s"array_join(transform(split(text, ' '), w -> concat('r$i', w)), ' ')")
            .as("text"))
      }.reduce(_ union _)
      Seq(1, 2, 5, 10).foreach { k =>
        val t0 = System.nanoTime()
        val sel = graft.llmops.Chunking.tokenBudgetSelect(budgetCorpus(k))
        val n = sel.count()
        val toks = sel.agg(sum(col("n_tokens"))).head().getLong(0)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE-BUDGET k=$k%2d docs=${baseN * k}%6d selected=$n%6d " +
          f"tokens=$toks%9d sec=$sec%7.2f")
      }
      langBase.unpersist()
    }

    // ---- bucket-refined global cumsum family (round 10): shard assign
    // (sum-cumsum) and dense ids (count-rank), the two BucketCumsum
    // instantiations without measured growth curves. Replicated docs
    // spread uniformly over the md5 order, so the 256-bucket partition
    // stays balanced as the corpus grows; the claim is ~linear wall AND
    // a bounded gap vs the naive corpus-wide single-task window (whose
    // sort serializes — the plan this decomposition exists to avoid).
    if (want("cumsum")) {
      import org.apache.spark.sql.expressions.Window
      // constant 32-way input parallelism at every k: corpus(1) is ONE
      // parquet split, so without this the k=1 point measures a
      // single-task narrow stage and growth curves read as flat
      for (k <- Seq(1, 2, 5, 10)) {
        val docs = corpus(k).repartition(32).cache(); val n = docs.count()
        val t0 = System.nanoTime()
        val shards = graft.llmops.Chunking.shardAssign(docs)
          .agg(max(col("shard")), sum(col("n_tokens"))).first()
        val shardSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        graft.core.BucketCumsum.before(
            docs.select(col("doc_id")), "doc_id", lit(1L))
          .agg(max(col("before"))).first()
        val idSec = (System.nanoTime() - t1) / 1e9
        // the naive spelling both queries refuse to run: one global
        // window, all rows through a single sort task
        val t2 = System.nanoTime()
        val w = Window.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        docs.select(col("doc_id"),
            length(col("text")).cast("long").as("m"))
          .withColumn("before", coalesce(sum(col("m")).over(w), lit(0L)))
          .agg(max(col("before"))).first()
        val naiveSec = (System.nanoTime() - t2) / 1e9
        println(f"SCALE-CUMSUM k=$k%2d docs=$n%6d " +
          f"shards=${shards.getLong(0) + 1}%5d shard=$shardSec%6.2f " +
          f"dense_ids=$idSec%6.2f naive_window=$naiveSec%6.2f")
        docs.unpersist()
      }
    }

    // ---- BucketCumsum vs the naive global window at row counts where
    // the single sort task actually matters (round 10): the 50k-doc
    // corpus probe above shows the naive window WINNING on constant
    // factors (0.2 s vs 1+ s — 50k rows through one task is trivial), so
    // this section drives both spellings over synthetic row counts up to
    // 20M to locate the crossover. Measure = id % 997 (arbitrary longs),
    // id = the unique key; no text needed.
    if (want("cumsumN")) {
      import org.apache.spark.sql.expressions.Window
      for (n <- Seq(1000000L, 5000000L, 20000000L)) {
        val rows = spark.range(n).select(col("id").as("doc_id"),
          (col("id") % 997).as("m")).cache()
        rows.count()
        val t0 = System.nanoTime()
        graft.core.BucketCumsum.before(rows, "doc_id", col("m"))
          .agg(max(col("before"))).first()
        val bucketSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val w = Window.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        rows.withColumn("before", coalesce(sum(col("m")).over(w), lit(0L)))
          .agg(max(col("before"))).first()
        val naiveSec = (System.nanoTime() - t1) / 1e9
        println(f"SCALE-CUMSUM-N n=$n%9d bucket=$bucketSec%7.2f " +
          f"naive_window=$naiveSec%7.2f")
        rows.unpersist()
      }
    }

    // ---- line dedup (round 10): cross-doc boilerplate line removal +
    // per-doc reassembly. Replica-tagged words mean lines never collide
    // ACROSS replicas, so the duplicate-line set and the reassembly work
    // both grow k-fold — the hard direction for the line-key hash agg.
    // The claim: ~linear wall (one explode, one line-key agg, one join,
    // one per-doc collect — no corpus-wide window).
    if (want("linededup")) {
      for (k <- Seq(1, 2, 5, 10)) {
        val docs = corpus(k).repartition(32).cache(); val n = docs.count()
        val t0 = System.nanoTime()
        val r = graft.llmops.Chunking.lineDedup(docs)
          .agg(count(lit(1)), sum(col("n_dropped"))).first()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE-LINEDEDUP k=$k%2d docs=$n%6d out=${r.getLong(0)}%6d " +
          f"dropped_lines=${r.getLong(1)}%7d sec=$sec%6.2f")
        docs.unpersist()
      }
    }

    // ---- substring dedup (round 10): sliding char-window digests +
    // per-doc island merge. The window stream is ~n_chars rows per doc
    // (the family's most expensive narrow stage by construction); the
    // repeat set is one digest agg; the island merge is per-doc
    // partitioned. Replicas share no 40-char windows (word tags), so
    // digests grow k-fold. The claim: ~linear wall in total chars.
    if (want("substr")) {
      for (k <- Seq(1, 2, 5, 10)) {
        val docs = corpus(k).repartition(32).cache(); val n = docs.count()
        val t0 = System.nanoTime()
        val r = graft.llmops.Chunking.substrStats(docs)
          .agg(sum(col("n_regions")), sum(col("n_repeated_chars"))).first()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE-SUBSTR k=$k%2d docs=$n%6d regions=${r.getLong(0)}%6d " +
          f"rep_chars=${r.getLong(1)}%8d sec=$sec%6.2f")
        docs.unpersist()
      }
    }

    // ---- triangle counting (round 10): degree orientation vs naive id
    // orientation on a HUB graph. The synthetic graph is a uniform
    // random background plus one mid-id hub wired to every 3rd node
    // (capped at 20k spokes). Under id orientation the hub sits in the
    // middle of the order, so ~half its spokes point in and half out —
    // the v==u wedge join materializes in(hub)·out(hub) ≈ (spokes/2)²
    // intermediate rows from that ONE node. Degree orientation points
    // every hub edge INTO the hub (it has max degree), out(hub) = 0, and
    // the same join is bounded by the background degree. Both paths
    // must report the identical triangle count.
    if (want("triangles")) {
      val G = graft.llmops.Graph
      val e = 250000L
      val n = e / 10
      val hub = n / 2
      for (spokes <- Seq(4000L, 8000L, 16000L, 24000L)) {
        val bg = spark.range(e).select(
          (abs(xxhash64(col("id"))) % n).as("a"),
          (abs(xxhash64(col("id") + e)) % n).as("b"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("p1"),
            greatest(col("a"), col("b")).as("p2"))
        // the hub is wired to `spokes` evenly-spread nodes; id order puts
        // it mid-sequence so naive orientation splits its edges ~half in,
        // half out — the (spokes/2)² wedge blowup degree orientation kills
        val star = spark.range(spokes)
          .select(((col("id") * (n / spokes)) % n).as("s"))
          .filter(col("s") =!= hub)
          .select(least(col("s"), lit(hub)).as("p1"),
            greatest(col("s"), lit(hub)).as("p2"))
        val pr = bg.union(star).distinct().repartition(32).cache()
        val nEdges = pr.count()
        val deg = G.degreesOf(pr).cache(); deg.count()
        val t0 = System.nanoTime()
        val triDeg = G.closureCount(G.orient(pr, deg, byDegree = true))
          .first().getLong(0)
        val degSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val triNaive = G.closureCount(G.orient(pr, deg, byDegree = false))
          .first().getLong(0)
        val naiveSec = (System.nanoTime() - t1) / 1e9
        require(triDeg == triNaive, s"orientation changed the count: " +
          s"$triDeg vs $triNaive")
        println(f"SCALE-TRIANGLES edges=$nEdges%8d hub_spokes=$spokes%6d " +
          f"tri=$triDeg%7d deg_oriented=$degSec%7.2f naive_id=$naiveSec%7.2f")
        deg.unpersist(); pr.unpersist()
      }
    }

    // ---- exact nearest-neighbor: IVF radius-bound vs all-pairs ----
    // replicas get cyclically-rotated vectors: distinct clusters per
    // replica (norm-preserving), which is the clustered regime real
    // embedding corpora live in — pruning strength is the whole point.
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.1", "embeddings")
      .select(col("vec_id"),
        graft.functions.ArrayOps.l2normalize(col("embedding")).as("n_emb"))
      .cache()
    val embN = emb.count()

    // uniform mode: cyclic rotations stay near-orthogonal (uniform sphere);
    // clustered mode: replicas are tiny perturbations of the base vector
    // (tight 50-vector clusters — the near-dup corpus regime)
    def embCorpus(k: Int, clustered: Boolean) = (0 until k).map { i =>
      val shifted = s"concat(slice(n_emb, ${i % 63 + 1}, ${64 - i % 63}), slice(n_emb, 1, ${i % 63}))"
      val vec =
        if (i == 0) "n_emb"
        else if (clustered) s"zip_with(n_emb, $shifted, (a, b) -> 0.999*a + 0.001*b)"
        else shifted
      emb.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        graft.functions.ArrayOps.l2normalize(expr(vec)).as("n_emb"))
    }.reduce(_ union _).cache()

    def timeAllPairsNN(c: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val a = c.select(col("vec_id"), col("n_emb").as("a_emb"))
      val b = c.select(col("vec_id").as("nn_id"), col("n_emb").as("b_emb"))
      a.join(b, col("vec_id") =!= col("nn_id"))
        .select(col("vec_id"),
          org.apache.spark.sql.functions.struct(
            graft.functions.ArrayOps.dot(col("a_emb"), col("b_emb")).as("sim"),
            (-col("nn_id")).as("neg_id")).as("cand"))
        .groupBy(col("vec_id")).agg(max(col("cand")).as("best")).count()
      (System.nanoTime() - t0) / 1e9
    }

    def timeIvfNN(c: org.apache.spark.sql.DataFrame, lists: Int): Double = {
      val t0 = System.nanoTime()
      graft.llmops.VectorSearch.exactNearestNeighbor(c, lists).count()
      (System.nanoTime() - t0) / 1e9
    }

    for (clustered <- Seq(false, true); k <- Seq(10, 25, 50); if want("nn")) {
      val c = embCorpus(k, clustered)
      c.count() // materialize the corpus outside both timings
      val lists = math.max(16, math.sqrt((embN * k).toDouble).toInt) // ~√n lists
      val ivf = timeIvfNN(c, lists)
      val brute = timeAllPairsNN(c)
      val mode = if (clustered) "clustered" else "uniform"
      println(f"SCALE-NN $mode%-9s k=$k%2d vecs=${embN * k}%6d lists=$lists%3d ivf=$ivf%7.2f allpairs=$brute%7.2f")
      c.unpersist()
    }

    // ---- k-means cluster assignment (x_embed_cluster's plan): per-vector
    // work is two narrow passes per Lloyd iteration plus the assignment
    // rollup; driver state is the k×dim centroid table. Clustered regime
    // (tight replica clusters) — the corpus real embedding sets live in.
    for (k <- Seq(10, 25, 50); if want("km")) {
      val c = embCorpus(k, clustered = true)
      val n = c.count() // materialize outside the timing
      val t0 = System.nanoTime()
      val assigned = graft.llmops.VectorSearch
        .clusterAssignments(c, 16, 2)
        .groupBy(col("cid")).agg(count(lit(1)).as("sz"))
        .agg(sum(col("sz")), count(lit(1))).first()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SCALE-KM k=$k%2d vecs=$n%6d assigned=${assigned.getLong(0)}%6d " +
        f"nonempty=${assigned.getLong(1)}%2d sec=$sec%6.2f")
      c.unpersist()
    }

    // ---- incremental near-dup: fixed batch probed against a growing
    // corpus index. The claim to verify: per-batch probe cost is governed
    // by the BATCH, not the corpus (index build is the one-time linear
    // part). Replica 0 keeps the original words, so the fixed batch keeps
    // finding its planted pairs there; other replicas only grow the index.
    val batchCut = (baseN * 0.9).toLong
    val batch = base.filter(col("doc_id") >= batchCut).cache()
    if (want("inc")) batch.count()
    for (k <- Seq(1, 2, 5, 10); if want("inc")) {
      val corpusDocs = (0 until k).map { i =>
        val text =
          if (i == 0) col("text")
          else expr(s"array_join(transform(split(text, ' '), w -> concat('r$i', w)), ' ')")
        base.filter(col("doc_id") < batchCut)
          .select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            text.as("text"))
      }.reduce(_ union _)
      val t0 = System.nanoTime()
      val cSets = MinHashLSH.wordSets(corpusDocs, 3).cache()
      val index = MinHashLSH.bandIndex(cSets)
        .select(col("band"), col("bh"), col("doc_id").as("a_id"),
          col("hs").as("ha"), col("c").as("ca"))
        .cache()
      val idxRows = index.count() // one-time index build, timed separately
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val probe = MinHashLSH.bandIndex(MinHashLSH.wordSets(batch, 3))
        .select(col("band"), col("bh"), col("doc_id").as("b_id"),
          col("hs").as("hb"), col("c").as("cb"))
      val pairs = index.join(probe, Seq("band", "bh"))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          graft.functions.ArrayOps.sortedIntersectCount(col("ha"), col("hb"))
            .as("i"), col("ca"), col("cb"))
        .filter(col("i").cast("double") / (col("ca") + col("cb") - col("i"))
          >= MinHashLSH.TAU)
        .select("a_id", "b_id").distinct().count()
      val tProbe = (System.nanoTime() - t1) / 1e9
      println(f"SCALE-INC k=$k%2d corpus=${idxRows / MinHashLSH.BANDS}%7d build=$tBuild%6.2f probe=$tProbe%6.2f pairs=$pairs%4d")
      cSets.unpersist(); index.unpersist()
    }

    // ---- bigram-LM perplexity: train + score on a k×-replicated corpus.
    // Replica-tagged words mean the vocabulary AND the bigram model grow
    // k× with the corpus (the hard direction — a shared vocab would make
    // the model constant-size); a linear pipeline shows ~linear time.
    for (k <- Seq(1, 2, 5, 10); if want("lm")) {
      val c = corpus(k).cache()
      val n = c.count() // materialize outside the timing
      val t0 = System.nanoTime()
      val top = graft.llmops.LangModel.avgNll(c)
        .orderBy(col("nll").desc, col("doc_id")).limit(20).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SCALE-LM k=$k%2d docs=$n%6d top=$top%2d sec=$sec%6.2f")
      c.unpersist()
    }

    // ---- BPE merge training: the word histogram (and so the driver-side
    // merge-loop state) grows k× with the corpus because replica-tagged
    // words never collide across replicas — the hard direction for the
    // histogram formulation. Same merge count as x_bpe_tokenize (24).
    for (k <- Seq(1, 2, 5, 10); if want("bpe")) {
      val c = corpus(k).cache()
      val n = c.count() // materialize outside the timing
      val t0 = System.nanoTime()
      val merges = graft.llmops.Bpe.trainMerges(c, "text", 24)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SCALE-BPE k=$k%2d docs=$n%6d merges=${merges.length}%2d sec=$sec%6.2f")
      c.unpersist()
    }

    // ---- n-gram contamination: per-row gram-set build + hashed
    // membership join (x_ngram_contamination's plan). The holdout split
    // is doc_id-hashed, so BOTH sides grow k× — bench grams and train
    // grams alike — the worst direction for the gram join.
    for (k <- Seq(1, 2, 5, 10); if want("contam")) {
      val c = corpus(k).cache()
      val n = c.count()
      val t0 = System.nanoTime()
      val gramSets = c.select(col("doc_id"),
        graft.llmops.Incremental.holdoutColumn.as("holdout"),
        graft.functions.ArrayOps.wordShingleHashes(col("text"), 8).as("hs"))
        .cache()
      val bench = gramSets.filter(col("holdout"))
        .select(explode(col("hs")).as("g")).distinct()
      val flagged = gramSets.filter(!col("holdout"))
        .select(col("doc_id"), explode(col("hs")).as("g"))
        .join(bench, "g")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SCALE-CONTAM k=$k%2d docs=$n%6d flagged=$flagged%5d sec=$sec%6.2f")
      gramSets.unpersist()
      c.unpersist()
    }

    // ---- pagerank: fixed 3-iteration budget over a k×-replicated
    // purchase graph (disjoint replicas — node ids offset per replica, so
    // edges and nodes both grow k× while the structure stays constant).
    // The claim to verify: time tracks the edge list ~linearly, because
    // the iteration count is a fixed budget and each iteration is one
    // join + one agg over the cached edges.
    if (want("pr")) {
      val li = graft.core.Tables(spark, "/root/testdata/sf0.1", "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val o = graft.core.Tables(spark, "/root/testdata/sf0.1", "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val fwd = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      val base0 = fwd
        .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().cache()
      val e0 = base0.count()
      for (k <- Seq(1, 2, 5, 10)) {
        val edges = (0 until k).map { i =>
          base0.select((col("src") + lit(i.toLong * 10000000L)).as("src"),
            (col("dst") + lit(i.toLong * 10000000L)).as("dst"))
        }.reduce(_ union _)
        val t0 = System.nanoTime()
        val n = graft.llmops.Graph
          .pagerank(edges, 3, cacheKey = "probe.pagerank").count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE-PR k=$k%2d edges=${e0 * k}%8d nodes=$n%7d sec=$sec%6.2f")
      }
      base0.unpersist()
    }

    // ---- event analytics (round 7): the pack's two heaviest shapes on a
    // k×-replicated events table (disjoint replicas — user_id and
    // event_id offset per replica, so users AND events grow k× with
    // constant per-user density). (a) the per-type rank pass behind
    // x_outlier_iqr / x_winsorize — a corpus-scale window sort, the
    // pack's only full-data window; (b) x_retention's day-grain dedup +
    // per-user cohort join. Both should track events ~linearly.
    if (want("evt")) {
      val ev0 = graft.core.Tables(spark, "/root/testdata/sf0.1", "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value")).cache()
      val evN = ev0.count()
      for (k <- Seq(1, 2, 5, 10)) {
        val ev = (0 until k).map { i =>
          ev0.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
            (col("user_id") + lit(i.toLong * 10000000L)).as("user_id"),
            col("event_type"), col("ts"), col("value"))
        }.reduce(_ union _)
        val t0 = System.nanoTime()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("cents"), col("event_id"))
        val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
        val e = ev.select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val fences = e.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wn))
          .groupBy("event_type")
          .agg(min(when(expr("rn = (n + 3) div 4"), col("cents"))).as("lo"),
            min(when(expr("rn = (3 * n + 3) div 4"), col("cents"))).as("hi"))
        val outliers = e.join(broadcast(fences), Seq("event_type"))
          .filter(lit(2) * col("cents") > lit(2) * col("hi") + lit(3) * (col("hi") - col("lo")))
          .count()
        val tOut = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val du = ev.select(col("user_id"), col("ts").cast("date").as("d")).distinct()
        val coh = du.groupBy("user_id").agg(min(col("d")).as("c0"))
        val retRows = du.join(coh, Seq("user_id"))
          .groupBy(col("c0"), datediff(col("d"), col("c0")).as("off"))
          .agg(count(lit(1))).count()
        val tRet = (System.nanoTime() - t1) / 1e9
        println(f"SCALE-EVT k=$k%2d events=${evN * k}%8d outliers=$outliers%6d " +
          f"rank_pass=$tOut%6.2f retention=$tRet%6.2f (ret_rows=$retRows)")
      }
      ev0.unpersist()
    }

    // ---- common neighbors (round 7): the co-occurrence pair join on a
    // k×-replicated purchase graph (disjoint replicas — constant
    // per-customer degree). The claim: candidate pairs and time grow k×
    // (linear), NOT k² — the blowup only comes from degree growth, which
    // the documented hub-cap bounds.
    if (want("cn")) {
      val li = graft.core.Tables(spark, "/root/testdata/sf0.1", "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val o = graft.core.Tables(spark, "/root/testdata/sf0.1", "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val e0 = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct().cache()
      val n0 = e0.count()
      for (k <- Seq(1, 2, 5, 10)) {
        val e = (0 until k).map { i =>
          e0.select((col("c") + lit(i.toLong * 10000000L)).as("c"),
            (col("s") + lit(i.toLong * 10000000L)).as("s"))
        }.reduce(_ union _)
        val t0 = System.nanoTime()
        val pairs = e.as("a").join(e.as("b"),
            col("a.c") === col("b.c") && col("a.s") < col("b.s"))
          .groupBy(col("a.s"), col("b.s")).agg(count(lit(1)).as("common"))
          .count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE-CN k=$k%2d edges=${n0 * k}%8d pairs=$pairs%9d sec=$sec%6.2f")
      }
      e0.unpersist()
    }

    // ---- degree-capped common neighbors on a HUB-SKEWED graph (round
    // 9): inject h hub customers, each connected to EVERY supplier —
    // the regime disjoint-replica SCALE-CN can't produce (constant
    // degree) and the one that breaks uncapped pair generation: each
    // hub alone contributes S(S-1)/2 pairs. The claim under test:
    // uncapped candidates grow ~500k per hub while the capped variant's
    // stay EXACTLY flat (hubs are dropped whole before pair generation).
    if (want("cnskew")) {
      val li = graft.core.Tables(spark, "/root/testdata/sf0.1", "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val o = graft.core.Tables(spark, "/root/testdata/sf0.1", "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val e0 = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          col("l_suppkey").cast("long").as("s"))
        .distinct().cache()
      e0.count()
      val sup = e0.select(col("s")).distinct().cache()
      val nSup = sup.count()
      for (h <- Seq(0, 4, 16)) {
        val hubs = spark.range(h)
          .select((col("id") + 900000000L).as("c")).crossJoin(sup)
        val e = e0.select(col("c"), col("s")).union(hubs)
        def pairsOf(capped: Boolean): (Long, Double) = {
          val t0 = System.nanoTime()
          val sets = e.repartition(col("c")).groupBy(col("c"))
            .agg(sort_array(collect_set(col("s"))).as("ss"))
          val kept = if (capped)
            sets.filter(size(col("ss")) <= graft.llmops.Graph.DEGREE_CAP)
          else sets
          // candidate volume = the exploded pair STREAM (what the agg
          // shuffle carries), not the distinct group count (saturates
          // at S(S-1)/2 and would hide the hub blowup)
          val n = kept
            .select(explode(graft.functions.ArrayOps.packedPairs(col("ss"))).as("p"))
            .count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
        val (pu, su) = pairsOf(capped = false)
        val (pc, sc) = pairsOf(capped = true)
        println(f"SCALE-CN-SKEW hubs=$h%2d sup=$nSup uncapped_pairs=$pu%9d " +
          f"sec=$su%6.2f capped_pairs=$pc%9d sec=$sc%6.2f")
      }
      sup.unpersist(); e0.unpersist()
    }

    // ---- quality classifier: accuracy margin over the 0.9 gate at the
    // bench SF (the contract hashes acc_ok, so the slack matters)
    if (want("qc")) {
      val (nDocs, acc) = graft.llmops.QualityModel.trainAccuracy(
        graft.core.Tables(spark, "/root/testdata/sf0.1", "documents"))
      println(f"SCALE-QC docs=$nDocs acc=$acc%.4f (gate 0.9)")
    }

    // ---- audio fingerprint match join (round 10): the scale question
    // is the inverted-index pair join, and its lever is the LANDMARK
    // HASH SPACE. Synthetic per-file peak sequences (16 windows,
    // deterministic md5 peaks) at two spectral resolutions: the
    // fixture's toy K=13 (169 possible transition hashes — posting
    // lists grow ~N/169, pair stream ~N²/169: the hot-bucket regime)
    // vs a production-grade space (64 bins + 4 dt values ≈ 16k hashes:
    // posting lists stay short, pair stream ~linear until N approaches
    // the space size). Same code path as x_audio_neardup's join.
    if (want("audio")) {
      for ((bins, tag) <- Seq((13, "K13"), (64 * 4, "K64dt"))) {
        for (n <- Seq(2000, 8000, 32000)) {
          val t0 = System.nanoTime()
          val files = spark.range(n.toLong).select(col("id").as("f"),
            expr(s"""transform(sequence(0, 15), i ->
              1 + pmod(conv(substring(md5(concat(cast(id as string), ':', cast(i as string))), 1, 6), 16, 10), $bins))""")
              .as("peaks"))
          val h = files.select(col("f"), explode(expr(
              s"transform(sequence(0, 14), i -> peaks[i] * ${bins + 1} + peaks[i + 1])"))
              .as("h")).distinct()
          val pairs = h.as("a").join(h.as("b"),
              col("a.h") === col("b.h") && col("a.f") < col("b.f"))
            .groupBy(col("a.f"), col("b.f")).agg(count(lit(1)).as("c"))
            .filter(col("c") >= 3).count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"SCALE-AUDIO $tag%-6s files=$n%6d matches=$pairs%9d sec=$sec%6.2f")
        }
      }
    }

    // ---- WordPiece train + apply (round 10): tokenization work rides
    // the WORD HISTOGRAM; replicas multiply the histogram (r-prefixed
    // words are all new), so this measures the worst case — an open
    // vocabulary growing linearly with the corpus. Expect ~linear wall;
    // the corpus-pass count stays fixed at two.
    if (want("wp")) {
      for (k <- Seq(1, 2, 5, 10)) {
        val c = corpus(k)
        val t0 = System.nanoTime()
        val (vocab, segs) = graft.llmops.WordPiece.train(c)
        val applied = c
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .join(broadcast(segs.select(col("w"), col("n_pieces"))), "w")
          .groupBy(col("doc_id")).agg(sum(col("n_pieces")).as("np"))
          .count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE-WP k=$k%2d docs=${baseN * k}%7d vocab=${vocab.length}%5d " +
          f"applied=$applied%7d sec=$sec%6.2f")
      }
    }

    // ---- round-10 third wave: overlap metrics, KMV sketch, KN bigram,
    // coreset k-center, SQ8 scan — growth on replicated corpora ----

    // ROUGE/BLEU: the (doc_id, gram) count-join pipeline; linear path
    if (want("overlap")) for (k <- Seq(1, 2, 5, 10)) {
      val t0 = System.nanoTime()
      val rows = graft.llmops.Overlap.unigramStatsFrom(corpus(k)).count()
      val b = graft.llmops.Overlap.bleuPartsFrom(corpus(k)).collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SCALE-OVERLAP k=$k%2d docs=${baseN * k}%6d rouge_rows=$rows%6d " +
        f"m2=${b.getLong(2)}%8d sec=$sec%6.2f")
    }

    // KMV: hash-distinct agg + three TakeOrdered(k) heads; per-replica
    // word prefixes make the distinct-shingle domain grow k-fold
    if (want("kmv")) for (k <- Seq(1, 2, 5, 10)) {
      val t0 = System.nanoTime()
      val r = graft.llmops.Kmv.estimateFrom(corpus(k)).collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SCALE-KMV k=$k%2d docs=${baseN * k}%6d est_u=${r.getLong(3)}%8d " +
        f"est_i=${r.getLong(4)}%8d exact_i=${r.getLong(5)}%8d sec=$sec%6.2f")
    }

    // Kneser-Ney: model shuffle + vocabulary-sized aggs (prefixed words
    // grow the bigram-type domain k-fold). Replica ids INTERLEAVE
    // (doc_id·k + i) so the 80% train/20% eval cut slices every replica
    // — the offset layout would put whole replicas past the cut and
    // empty the eval join.
    if (want("kn")) for (k <- Seq(1, 2, 5, 10)) {
      val ck = (0 until k).map { i =>
        base.select((col("doc_id") * k + i).as("doc_id"),
          expr(s"array_join(transform(split(text, ' '), w -> concat('r$i', w)), ' ')")
            .as("text"))
      }.reduce(_ union _)
      val t0 = System.nanoTime()
      val rows = graft.llmops.LangModel.knFrom(ck).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SCALE-KN k=$k%2d docs=${baseN * k}%6d eval_types=$rows%6d " +
        f"sec=$sec%6.2f")
    }

    // coreset + SQ8 over replicated embeddings (identical vectors under
    // offset ids — geometry unchanged, corpus size grows)
    def vecs(m: Int) = {
      val b = graft.llmops.VectorSearch
        .embeddingsBase(spark, "/root/testdata/sf0.1")
        .select("vec_id", "n_emb")
      (0 until m).map(i => b.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        col("n_emb"))).reduce(_ union _)
    }
    if (want("coreset")) for (m <- Seq(1, 4, 16)) {
      val base = vecs(m).cache(); val n = base.count()
      val t0 = System.nanoTime()
      val cs = graft.llmops.Coreset.centersFrom(base)
      val sec = (System.nanoTime() - t0) / 1e9
      base.unpersist()
      println(f"SCALE-CORESET m=$m%2d vecs=$n%6d last_far=${cs.last._3}%8d " +
        f"sec=$sec%6.2f")
    }
    if (want("sq8")) for (m <- Seq(1, 4, 16)) {
      val base = vecs(m).cache(); val n = base.count()
      val t0 = System.nanoTime()
      val c = graft.llmops.Quantize.codesFrom(base)
      val probes = c.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"))
      val cands = c.crossJoin(broadcast(probes))
        .select(col("probe_id"), col("vec_id"),
          expr("""aggregate(zip_with(q, pq, (a, b) -> cast(a as bigint) * b),
                  0L, (acc, v) -> acc + v)""").as("iscore"))
        .groupBy("probe_id")
        .agg(graft.functions.TopKByScore.topK(graft.llmops.Quantize.CAND)(
          col("iscore"), col("vec_id")).as("top"))
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      base.unpersist()
      println(f"SCALE-SQ8 m=$m%2d vecs=$n%6d probes=$cands%2d sec=$sec%6.2f")
    }

    // ---- compaction planning (round 10): the plan is a window over
    // the MANIFEST (one row per file) — synthetic manifests at 1e4/1e5/
    // 1e6 files (far beyond any staged fixture) measure the planning
    // cost alone growing ~linearly; data rewrite cost is orthogonal
    // (it reads each input file once regardless of plan shape).
    if (want("compactplan")) {
      import org.apache.spark.sql.expressions.Window
      for (n <- Seq(10000, 100000, 1000000)) {
        val t0 = System.nanoTime()
        val m = spark.range(n.toLong).select(
          (col("id") % 256).cast("string").as("part"),
          concat(lit("f"), col("id")).as("fn"),
          (lit(64L) + pmod(hash(col("id")), lit(64))).as("rows_f"))
        val w = Window.partitionBy(col("part"))
          .orderBy(col("rows_f").desc, col("fn"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val groups = m
          .withColumn("before", coalesce(sum(col("rows_f")).over(w), lit(0L)))
          .select(col("part"), expr("before div 1000").as("grp"))
          .groupBy(col("part"), col("grp")).count().count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE-COMPACT files=$n%8d groups=$groups%8d sec=$sec%6.2f")
      }
    }

    // fuzzy: blocked vs brute d<=1 join growth. Vocabulary replicated by
    // generating dirty records from DISJOINT entity key ranges (fresh md5
    // words per replica — block diversity preserved; a tag-character
    // decoration would create artificial cross-replica d=1 pairs).
    if (want("fuzzy")) {
      val cust = graft.core.Tables(spark, "/root/testdata/sf0.1", "customer")
        .select(col("c_custkey"))
      def vocab(k: Int) = graft.llmops.EntityResolution.dirtyVocab(
        (0 until k).map(i => cust.select(
          (col("c_custkey") + lit(i.toLong * 10000000L)).as("c_custkey")))
          .reduce(_ union _)).cache()
      for (k <- Seq(1, 2, 4)) {
        val v = vocab(k)
        val nv = v.count()
        val t0 = System.nanoTime()
        val blocked = graft.llmops.EntityResolution.fuzzyPairs(v).count()
        val tb = (System.nanoTime() - t0) / 1e9
        val (brute, tr) = if (k <= 2) {
          val t1 = System.nanoTime()
          val b = v.select(col("w").as("a"))
            .join(v.select(col("w").as("b")), col("a") < col("b"))
            .filter(levenshtein(col("a"), col("b")) <= 1).count()
          (b, (System.nanoTime() - t1) / 1e9)
        } else (-1L, -1.0)
        println(f"SCALE-FUZZY k=$k vocab=$nv%7d pairs=$blocked%7d " +
          f"blocked_s=$tb%6.2f brute_pairs=$brute%7d brute_s=$tr%7.2f")
        v.unpersist()
        ()
      }
    }

    // ---- d≤2 fuzzy join: SymSpell deletion-neighborhood blocking vs
    // brute force on the same growing vocabularies. The claim: blocked
    // pair count EQUALS brute (the deletion-cover theorem, re-verified
    // beyond the graded SF) while blocked wall stays near-linear and
    // brute grows quadratically.
    if (want("fuzzy2")) {
      val cust = graft.core.Tables(spark, "/root/testdata/sf0.1", "customer")
        .select(col("c_custkey"))
      def vocab(k: Int) = graft.llmops.EntityResolution.dirtyVocab(
        (0 until k).map(i => cust.select(
          (col("c_custkey") + lit(i.toLong * 10000000L)).as("c_custkey")))
          .reduce(_ union _)).cache()
      // default decade 1–4; SPARK_GRAFT_FUZZY2_KS=1,2,4,8 extends one
      // more doubling (round-12 verdict item 5) — blocked arm only at
      // k=8 unless BRUTE_CAP is raised too (brute is quadratic)
      val fuzzy2Ks = sys.env.getOrElse("SPARK_GRAFT_FUZZY2_KS", "1,2,4")
        .split(",").map(_.trim.toInt).toSeq
      for (k <- fuzzy2Ks) {
        val v = vocab(k)
        val nv = v.count()
        val t0 = System.nanoTime()
        val blocked = graft.llmops.EntityResolution.fuzzyPairs2(v).count()
        val tb = (System.nanoTime() - t0) / 1e9
        // routine runs stop brute at k=2 (quadratic); SPARK_GRAFT_BRUTE_CAP=4
        // measures the expensive endpoint on demand
        val bruteCap = sys.env.get("SPARK_GRAFT_BRUTE_CAP")
          .map(_.toInt).getOrElse(2)
        val (brute, tr) = if (k <= bruteCap) {
          val t1 = System.nanoTime()
          val b = v.select(col("w").as("a"))
            .join(v.select(col("w").as("b")), col("a") < col("b"))
            .filter(levenshtein(col("a"), col("b")) <= 2).count()
          (b, (System.nanoTime() - t1) / 1e9)
        } else (-1L, -1.0)
        println(f"SCALE-FUZZY2 k=$k vocab=$nv%7d pairs=$blocked%7d " +
          f"blocked_s=$tb%6.2f brute_pairs=$brute%7d brute_s=$tr%7.2f")
        v.unpersist()
        ()
      }
    }
    // ---- silhouette: dense pair grid vs simplified (centroid) spelling
    // on k×-replicated embeddings. Replicas reuse the label space, so
    // the centroid table stays k_labels-sized while points grow — dense
    // is n², simplified is n·k_labels.
    if (want("sil")) {
      val emb0 = graft.llmops.VectorSearch
        .embeddingsBase(spark, "/root/testdata/sf0.1")
        .select(col("vec_id"), col("label"), col("emb"))
      // the O(n²) dense arm stops at k=5 by default (the k=10 endpoint
      // is quadratic and only needed when re-measuring the full growth
      // table — raise the cap explicitly, the fuzzy2 bruteCap pattern)
      val denseCap = sys.env.getOrElse("SPARK_GRAFT_SIL_DENSE_CAP", "5").toInt
      for (k <- Seq(1, 2, 5, 10)) {
        val emb = (0 until k).map(i => emb0.select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          col("label"), col("emb"))).reduce(_ union _).cache()
        val n = emb.count()
        val t1 = System.nanoTime()
        val simp = graft.llmops.Silhouette.simplifiedSilhouette(emb).count()
        val ts = (System.nanoTime() - t1) / 1e9
        val (dense, td) = if (k <= denseCap) {
          val t0 = System.nanoTime()
          val e = emb.select(col("vec_id"), col("label"),
            graft.functions.ArrayOps.l2normalize(col("emb")).as("n_emb"))
          val g = e.select(col("vec_id").as("i"), col("label").as("own"),
              col("n_emb").as("ei"))
            .join(e.select(col("vec_id").as("j"), col("label").as("grp"),
              col("n_emb").as("ej")), col("i") =!= col("j"))
            .select(col("i"), col("own"), col("grp"),
              round(graft.llmops.VectorSearch.dot(col("ei"), col("ej"))
                * 1000000L).cast("long").as("sij"))
            .groupBy("i", "own", "grp")
            .agg(sum(col("sij")).as("s"), count(lit(1)).as("cnt"))
            .count()
          (g, (System.nanoTime() - t0) / 1e9)
        } else (-1L, -1.0)
        println(f"SCALE-SIL k=$k%2d points=$n%6d simplified_s=$ts%6.2f " +
          f"dense_grid_s=$td%7.2f dense_rows=$dense%8d")
        emb.unpersist()
        ()
      }
    }

    // ---- incremental CURATION: the full per-batch admission DAG
    // (x_incremental_curation's batchVerdicts) against a k×-replicated
    // standing index. Replica 0 keeps the original words (the fixed batch
    // keeps finding its true standing dups there); replicas 1..k-1 are
    // word-tagged so cross-replica similarity is 0 — the index grows k×,
    // the answer stays IDENTICAL, and a batch-proportional pipeline
    // shows ~flat per-batch wall. Index build is the one-time linear
    // part, timed separately.
    if (want("inccur")) {
      val dirX = "/root/testdata/sf0.1"
      val docsFull = graft.core.Tables(spark, dirX, "documents")
        .select(col("doc_id"), col("lang"), col("text")).cache()
      val cutX = graft.llmops.Incremental.cutoffValue(docsFull)
      val hold = graft.llmops.Incremental.holdoutColumn
      val standing0 = docsFull.filter(col("doc_id") < cutX && !hold)
      val batchX = docsFull.filter(col("doc_id") >= cutX && !hold).cache()
      val batchXN = batchX.count()
      val benchX = docsFull.filter(hold)
      val benchGramsX = benchX.select(
          explode(graft.functions.ArrayOps.wordShingleHashes(col("text"), 8))
            .as("g")).distinct().cache()
      benchGramsX.count()
      val ebX = graft.llmops.VectorSearch.embeddingsBase(spark, dirX)
      val benchEmbX = ebX
        .filter(substring(md5(col("vec_id").cast("string")), 1, 2) <= "19")
        .select(col("emb").as("b_emb")).cache()
      benchEmbX.count()
      var admitted0 = -1L
      // default decade 1–10; SPARK_GRAFT_INCCUR_KS=1,10,100 runs the
      // 100× standing-index endpoint (round-12 verdict item 5). The
      // replica fan-out is a crossJoin against range(k), not a k-arm
      // union — at k=100 a 100-branch union plan would dominate
      // analysis time; the crossJoin keeps the plan O(1) in k.
      val inccurKs = sys.env.getOrElse("SPARK_GRAFT_INCCUR_KS", "1,2,5,10")
        .split(",").map(_.trim.toInt).toSeq
      for (k <- inccurKs) {
        val standingK =
          if (k == 1) standing0
          else standing0
            .crossJoin(spark.range(k).select(col("id").as("rep")))
            .select(
              (col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
              col("lang"),
              expr("""CASE WHEN rep = 0 THEN text
                      ELSE array_join(transform(split(text, ' '),
                                      w -> concat('r', rep, w)), ' ')
                      END""").as("text"))
        val scratch = Scratch.fresh("graft_inccur_probe").toString
        val t0 = System.nanoTime()
        graft.llmops.IncrementalCuration.bootstrapIndexes(standingK, scratch)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val standN = spark.read.parquet(s"$scratch/bands").count() /
          MinHashLSH.BANDS
        val t1 = System.nanoTime()
        val verd = graft.llmops.IncrementalCuration
          .batchVerdicts(spark, batchX, scratch, benchGramsX, benchEmbX, ebX)
        val adm = verd.filter(col("verdict") === "admitted").count()
        val tBatch = (System.nanoTime() - t1) / 1e9
        // invariant: replicas can't match the batch, so the admission
        // decision must be IDENTICAL at every k
        if (admitted0 < 0) admitted0 = adm
        val ok = if (adm == admitted0) "ok" else s"MISMATCH(vs $admitted0)"
        println(f"SCALE-INCCUR k=$k%2d standing=$standN%7d batch=$batchXN%5d " +
          f"build=$tBuild%6.2f batch_wall=$tBatch%6.2f admitted=$adm%5d $ok")
      }
    }

    // ---- optimistic commit: the cost of a detected conflict (retry =
    // one extra pass over base ∪ batch) vs the uncontended commit, on
    // k×-replicated orders — the SCALE-CCOMMIT note in SCALING.md.
    if (want("ccommit")) {
      val orders0 = graft.core.Tables(spark, "/root/testdata/sf0.1", "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      for (k <- Seq(1, 4, 16)) {
        val orders = (0 until k).map(i => orders0.select(
          (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
          col("o_totalprice"))).reduce(_ union _).cache()
        orders.count()
        val base = orders.filter(col("o_orderkey") % 3 === 0)
        val bA = orders.filter(col("o_orderkey") % 3 === 1)
        val bB = orders.filter(col("o_orderkey") % 3 === 2)

        // uncontended: claim wins first try
        val root1 = s"${graft.core.Scratch.fresh("ccprobe")}/s"
        graft.sources.ConcurrentCommit.commitAppend(spark, root1, base, "w0")
        val t0 = System.nanoTime()
        graft.sources.ConcurrentCommit.commitAppend(spark, root1, bA, "A")
        val tClean = (System.nanoTime() - t0) / 1e9

        // contended: A loses the CAS once (stale attempt), rebases, lands
        val root2 = s"${graft.core.Scratch.fresh("ccprobe")}/s"
        graft.sources.ConcurrentCommit.commitAppend(spark, root2, base, "w0")
        val aMerged = spark.read.parquet(s"$root2/v=0").unionByName(bA)
        graft.sources.ConcurrentCommit.commitAppend(spark, root2, bB, "B")
        val t1 = System.nanoTime()
        val won = graft.sources.ConcurrentCommit
          .tryCommitAt(spark, root2, aMerged, 1L, "A")
        graft.sources.ConcurrentCommit.commitAppend(spark, root2, bA, "A")
        val tRetry = (System.nanoTime() - t1) / 1e9
        val n = orders.count()
        println(f"SCALE-CCOMMIT k=$k%2d rows=$n%8d clean_s=$tClean%6.2f " +
          f"conflict_retry_s=$tRetry%6.2f stale_won=$won")
        orders.unpersist()
        ()
      }

      // contention sweep: W writers race to append W disjoint batches
      // against one store — total wall, summed conflicts, and the
      // exactly-once check under a real nondeterministic schedule
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      for (writers <- Seq(2, 4, 8)) {
        val root = s"${graft.core.Scratch.fresh("ccprobe_w")}/s"
        graft.sources.ConcurrentCommit.commitAppend(spark, root,
          orders0.filter(col("o_orderkey") % 100 === 99), "w0")
        val t0 = System.nanoTime()
        val commits = Await.result(Future.sequence((0 until writers).map(i =>
          Future(graft.sources.ConcurrentCommit.commitAppend(spark, root,
            orders0.filter(col("o_orderkey") % 100 === i), s"w$i",
            maxRetries = 4 * writers)))), 600.seconds)
        val wall = (System.nanoTime() - t0) / 1e9
        val retries = commits.map(_.retries).sum
        val fin = graft.sources.Lake.readCurrent(spark, root)
        val expect = orders0
          .filter(col("o_orderkey") % 100 <= writers - 1 ||
            col("o_orderkey") % 100 === 99).count()
        val ok = fin.count() == expect &&
          commits.map(_.version).toSet.size == writers
        println(f"SCALE-CCOMMIT-W writers=$writers%2d wall_s=$wall%6.2f " +
          f"total_conflicts=$retries%3d exactly_once=$ok")
      }
    }

    spark.stop()
  }
}
