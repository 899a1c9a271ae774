package graft

/** Dev probe (Test/runMain graft.StreamFloorProbe): dissect where the
  * per-query wall time of a streaming replay goes, using the engine's own
  * q28 via SparkEntry (so the measured path IS the bench path) plus the
  * StreamingQueryProgress breakdown of a hand-rolled copy.
  */
object StreamFloorProbe {
  // tmpfs is RAM: scratch dirs come from core.Scratch (its JVM-exit
  // sweep is the backstop) and are also deleted eagerly in the finally
  // below
  private val scratch =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private def tmpDir(prefix: String): java.nio.file.Path = {
    val p = graft.core.Scratch.fresh(prefix)
    scratch += p
    p
  }

  private def sweep(): Unit =
    scratch.foreach(graft.core.Scratch.rmTree)

  def main(args: Array[String]): Unit = try {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // warm: one full replay (codegen, state-store classes, sink machinery)
    SparkEntry.queries("q28_stream_tumbling")(spark, dir).count()

    // steady-state floor: five replays of the same query
    (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries("q28_stream_tumbling")(spark, dir).count()
      println(f"PROBE q28 rep$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    // progress breakdown of one replay, via a listener-free direct run
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val ckpt = tmpDir("probe_ckpt").toString
    val streamDir = tmpDir("probe_src")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val t0 = System.nanoTime()
    val src0 = spark.readStream
      .schema(spark.read.parquet(s"$dir/events.parquet").schema)
      .parquet(streamDir.toString)
    val src = src0.withColumn("ts", graft.core.Tables.normTs(src0, "ts"))
    val tSrc = System.nanoTime()
    val agg = src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("probe_mem")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val tStart = System.nanoTime()
    q.awaitTermination()
    val tDone = System.nanoTime()
    println(f"PROBE build=${(tSrc - t0) / 1e9}%.3f start=${(tStart - tSrc) / 1e9}%.3f run=${(tDone - tStart) / 1e9}%.3f")
    q.recentProgress.foreach { p =>
      println(s"PROBE batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
    }

    // variant: stateless passthrough (no agg, append) — separates the
    // stateful-agg machinery from the plain micro-batch floor
    (1 to 3).foreach { i =>
      val ckpt2 = tmpDir("probe_ckpt2").toString
      val t1 = System.nanoTime()
      val q2 = src.select(col("event_id"), col("event_type"))
        .writeStream.format("memory").queryName(s"probe_pass$i")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
      println(f"PROBE passthrough rep$i ${(System.nanoTime() - t1) / 1e9}%.3f s")
      q2.recentProgress.foreach { p =>
        println(s"PROBE pass batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
      }
    }

    // variant: stateful agg with whole-stage codegen off — if the floor
    // collapses, the per-run cost is Janino re-compilation (cache miss)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    (1 to 3).foreach { i =>
      val ckpt4 = tmpDir("probe_ckpt4").toString
      val t1 = System.nanoTime()
      val q4 = agg.writeStream.format("memory").queryName(s"probe_nocg$i")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt4)
        .trigger(Trigger.AvailableNow()).start()
      q4.awaitTermination()
      println(f"PROBE agg-nocodegen rep$i ${(System.nanoTime() - t1) / 1e9}%.3f s")
      q4.recentProgress.foreach { p =>
        println(s"PROBE nocg batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
      }
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "true")

    // variant: stateful agg, repeated with fresh checkpoints (same plan)
    val aggReps = sys.env.getOrElse("SPARK_GRAFT_PROBE_AGG_REPS", "3").toInt
    (1 to aggReps).foreach { i =>
      val ckpt3 = tmpDir("probe_ckpt3").toString
      val t1 = System.nanoTime()
      val q3 = agg.writeStream.format("memory").queryName(s"probe_agg$i")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt3)
        .trigger(Trigger.AvailableNow()).start()
      q3.awaitTermination()
      println(f"PROBE agg rep$i ${(System.nanoTime() - t1) / 1e9}%.3f s")
      q3.recentProgress.foreach { p =>
        println(s"PROBE agg batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
      }
    }

    // conf sweep: candidate floor cuts, 3 fresh-checkpoint reps each
    // (min reported) — anything that moves the stateful floor by >10%
    // graduates into the replay harness
    val sweepConfs: Seq[(String, Seq[(String, String)])] = Seq(
      "baseline" -> Seq(),
      "schemaCheckOff" -> Seq(
        "spark.sql.streaming.stateStore.stateSchemaCheck" -> "false"),
      "maint10m" -> Seq(
        "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s"),
      "retain1" -> Seq(
        "spark.sql.streaming.minBatchesToRetain" -> "1"),
      "allThree" -> Seq(
        "spark.sql.streaming.stateStore.stateSchemaCheck" -> "false",
        "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s",
        "spark.sql.streaming.minBatchesToRetain" -> "1"))
    sweepConfs.foreach { case (label, confs) =>
      val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val times = (1 to 3).map { _ =>
        val c = tmpDir("probe_sweep").toString
        val t1 = System.nanoTime()
        val q = agg.writeStream.format("memory")
          .queryName(s"probe_sweep_${label}_${System.nanoTime()}")
          .outputMode(OutputMode.Complete())
          .option("checkpointLocation", c)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        (System.nanoTime() - t1) / 1e9
      }
      olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      println(f"PROBE sweep $label%-15s min=${times.min}%.3f s reps=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  } finally sweep()
}
