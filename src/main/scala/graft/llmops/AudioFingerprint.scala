package graft.llmops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Q, SessionMemo}

/** Audio fingerprinting — the constellation-hash near-dup detector for
  * audio corpora (Wang 2003's landmark idea, the Shazam shape), closing
  * the modality trio beside the text near-dup family (q33/x_simhash/…)
  * and the image family (x_image_phash_neardup):
  *
  *   1. decode PCM      — real decode via javax.sound (channel 0 of
  *                        each frame; torn trailing window dropped, the
  *                        pngFrameBounds convention)
  *   2. band energies   — a W-sample window DFT at K bins, computed as
  *                        EXACT int64 arithmetic: trig weights are
  *                        fixed-point integers round(100·cos/sin), so
  *                        a_k/b_k are integer dot products and the band
  *                        energy a_k²+b_k² is exact (≤ 2·(32767·100·W)²
  *                        < 2⁶³ for any 16-bit PCM)
  *   3. spectral peaks  — argmax band per window, ties to the lower
  *                        bin; amplitude-INVARIANT by construction, so
  *                        the same melody at different volume
  *                        fingerprints identically
  *   4. landmark hashes — consecutive-peak pairs (peak_t·16 + peak_t+1)
  *                        — the time-ordered transition set; a held
  *                        note and a note CHANGE hash differently
  *   5. match           — files sharing ≥ MIN_COMMON distinct hashes
  *
  * Scale posture: the corpus-side work is one narrow aggregation chain
  * (samples → per-(file,window,bin) partial sums → per-window argmax →
  * per-file hash set); the trig weight table is W·K rows, broadcast.
  * The pair join is the inverted-index shape of every near-dup family
  * here: hash → files, pairs generated WITHIN a posting list only —
  * never all-pairs — and a billion-file corpus would cap posting-list
  * length exactly like the LSH band-bucket cap.
  *
  * Cross-engine: the oracle re-derives everything from the SAME bytes —
  * DuckDB hex-slices the PCM samples straight out of the canonical
  * 44-byte-header WAVs (the x_audio_features discipline) and replays
  * steps 2-5 in SQL; every graded value is an exact integer. The 2·K·W
  * rounded trig weights are covered by the rounding-margin audit
  * (RoundingMarginSpec).
  */
object AudioFingerprint {

  val blobDir = Multimodal.blobDir
  val W = 100        // analysis window, samples
  val K = 13         // DFT bins 1..K
  val TRIG_SCALE = 100L
  val MIN_COMMON = 3 // shared-hash threshold for a match

  // ---------------------------------------------------------------- Spark

  private val sampleSchema = StructType(Seq(
    StructField("file_name", StringType),
    StructField("idx", LongType),       // sample index, complete windows only
    StructField("val", LongType)))      // signed 16-bit channel-0 sample

  /** Real PCM decode (javax.sound): channel 0 of every frame, truncated
    * to whole analysis windows.
    */
  def samples(binaryFiles: DataFrame): DataFrame = {
    val spark = binaryFiles.sparkSession
    val rdd = binaryFiles.select(col("path"), col("content")).rdd
      .mapPartitions { it =>
        it.flatMap { row =>
          val path = row.getString(0)
          val bytes = row.getAs[Array[Byte]](1)
          val name = path.substring(path.lastIndexOf('/') + 1)
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
              s"$name: expected 16-bit LE PCM")
            val frameSize = fmt.getFrameSize
            val data = ais.readAllBytes()
            val nFrames = data.length / frameSize
            val nKeep = (nFrames / W) * W // drop the torn tail window
            (0 until nKeep).iterator.map { i =>
              val off = i * frameSize
              val v = ((data(off) & 0xff) | (data(off + 1) << 8)).toLong
              Row(name, i.toLong, v)
            }
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException =>
              Iterator.empty // not an audio container
          }
        }
      }
    spark.createDataFrame(rdd, sampleSchema)
  }

  /** Fixed-point DFT weight rows (n, k, cw, sw) — W·K rows, broadcast. */
  def weights(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for (n <- 0 until W; k <- 1 to K) yield {
      val th = 2.0 * math.Pi * k * n / W
      (n.toLong, k.toLong,
        math.round(TRIG_SCALE * math.cos(th)),
        math.round(TRIG_SCALE * math.sin(th)))
    }
    broadcast(rows.toDF("n", "k", "cw", "sw"))
  }

  /** Session-memoized peaks frame: the fixture corpus is dir-independent
    * and both graded queries derive from the same peak table, so it
    * materializes once per session (localCheckpoint — tiny).
    */
  private val peaksMemo = new SessionMemo[DataFrame]

  def peaks(spark: SparkSession): DataFrame =
    peaksMemo(spark, blobDir)(peaksUncached(spark).localCheckpoint())

  /** Per-(file, window) spectral peak bin — exact-integer argmax. */
  private def peaksUncached(spark: SparkSession): DataFrame = {
    val sm = samples(
        spark.read.format("binaryFile").load(s"$blobDir/*.wav"))
      .withColumn("win", expr(s"idx div $W"))
      .withColumn("n", col("idx") % W)
    val ab = sm.join(weights(spark), "n")
      .groupBy(col("file_name"), col("win"), col("k"))
      .agg(sum(col("val") * col("cw")).as("a"),
        sum(col("val") * col("sw")).as("b"))
      .withColumn("e", col("a") * col("a") + col("b") * col("b"))
    ab.groupBy(col("file_name"), col("win"))
      .agg(graft.functions.ArgMax.argmaxDoubleLong(
        col("e"), -col("k")).as("m"))
      .select(col("file_name"), col("win"), (-col("m.nt")).as("peak"))
  }

  /** Per-file DISTINCT landmark hashes (consecutive-peak transitions). */
  def hashes(spark: SparkSession): DataFrame = {
    val w = Window.partitionBy("file_name").orderBy("win")
    peaks(spark)
      .withColumn("nxt", lead(col("peak"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("file_name"), (col("peak") * 16 + col("nxt")).as("h"))
      .distinct()
  }

  // ---------------------------------------------------------------- SQL

  /** Shared CTE chain through per-file distinct hashes `fp` — hex-slices
    * the PCM out of the canonical 44-byte-header WAV, then replays the
    * integer DFT / argmax / landmark steps.
    */
  private def fpSql: String = {
    def hexAt(p: String): String =
      s"strpos('0123456789ABCDEF', substr(hx, $p, 1)) - 1"
    s"""WITH f AS (SELECT parse_filename(filename) AS fn, hex(content) AS hx
              FROM read_blob('$blobDir/*.wav')),
       hdr AS (SELECT fn, hx,
                 (${hexAt("65")}) * 16 + (${hexAt("66")})
                   + 256 * ((${hexAt("67")}) * 16 + (${hexAt("68")})) AS block,
                 (${hexAt("81")}) * 16 + (${hexAt("82")})
                   + 256 * ((${hexAt("83")}) * 16 + (${hexAt("84")}))
                   + 65536 * ((${hexAt("85")}) * 16 + (${hexAt("86")}))
                   + 16777216 * ((${hexAt("87")}) * 16 + (${hexAt("88")})) AS data_size
               FROM f),
       sm AS (SELECT fn, i,
                CASE WHEN hi >= 128 THEN lo + 256 * hi - 65536
                     ELSE lo + 256 * hi END AS val
              FROM (SELECT fn, i,
                      (${hexAt("89 + 2 * i * block")}) * 16
                        + (${hexAt("90 + 2 * i * block")}) AS lo,
                      (${hexAt("91 + 2 * i * block")}) * 16
                        + (${hexAt("92 + 2 * i * block")}) AS hi
                    FROM hdr,
                         LATERAL (SELECT unnest(generate_series(0,
                           ((data_size // block) // $W) * $W - 1)) AS i))),
       ws AS (SELECT n, k,
                CAST(round($TRIG_SCALE * cos(2 * pi() * k * n / $W)) AS BIGINT) AS cw,
                CAST(round($TRIG_SCALE * sin(2 * pi() * k * n / $W)) AS BIGINT) AS sw
              FROM (SELECT unnest(generate_series(0, ${W - 1})) AS n),
                   (SELECT unnest(generate_series(1, $K)) AS k)),
       ab AS (SELECT fn, sm.i // $W AS win, k,
                CAST(sum(val * cw) AS BIGINT) AS a,
                CAST(sum(val * sw) AS BIGINT) AS b
              FROM sm JOIN ws ON ws.n = sm.i % $W
              GROUP BY 1, 2, 3),
       pk AS (SELECT fn, win, k AS peak FROM (
                SELECT fn, win, k,
                  row_number() OVER (PARTITION BY fn, win
                    ORDER BY a * a + b * b DESC, k ASC) AS rn
                FROM ab) WHERE rn = 1),
       lm AS (SELECT fn, peak * 16 + lead(peak) OVER
                (PARTITION BY fn ORDER BY win) AS h FROM pk),
       fp AS (SELECT DISTINCT fn, h FROM lm WHERE h IS NOT NULL)"""
  }

  // ---------------------------------------------------------------- Qs

  /** X — the fingerprint itself: per file, window count, distinct
    * landmark-hash count, and the full peak sequence (any decode, DFT,
    * argmax, or hashing divergence lands here).
    */
  val xAudioFingerprint = Q(
    "x_audio_fingerprint",
    s"""$fpSql,
       pseq AS (SELECT fn, CAST(count(*) AS BIGINT) AS n_windows,
                  string_agg(CAST(peak AS VARCHAR), '|' ORDER BY win) AS peaks
                FROM pk GROUP BY fn),
       hc AS (SELECT fn, CAST(count(*) AS BIGINT) AS n_hashes FROM fp GROUP BY fn)
       SELECT pseq.fn AS file_name, n_windows, n_hashes, peaks
       FROM pseq JOIN hc ON pseq.fn = hc.fn ORDER BY file_name""") { (s, dir) =>
    val pseq = peaks(s)
      .groupBy(col("file_name"))
      .agg(count(lit(1)).as("n_windows"),
        array_join(transform(array_sort(
            collect_list(struct(col("win"), col("peak")))),
          x => x.getField("peak").cast("string")), "|").as("peaks"))
    val hc = hashes(s).groupBy(col("file_name"))
      .agg(count(lit(1)).as("n_hashes"))
    pseq.join(hc, "file_name")
      .select(col("file_name"), col("n_windows"), col("n_hashes"),
        col("peaks"))
      .orderBy("file_name")
  }

  /** X — the match: file pairs sharing ≥ MIN_COMMON landmark hashes
    * (the same melody at different volume matches on its full
    * transition set; different melodies share almost none). Inverted-
    * index join: pairs form within a hash's posting list only.
    */
  val xAudioNeardup = Q(
    "x_audio_neardup",
    s"""$fpSql
       SELECT a.fn AS file_a, b.fn AS file_b,
              CAST(count(*) AS BIGINT) AS n_common
       FROM fp a JOIN fp b ON a.h = b.h AND a.fn < b.fn
       GROUP BY 1, 2 HAVING count(*) >= $MIN_COMMON
       ORDER BY file_a, file_b""") { (s, dir) =>
    val h = hashes(s)
    val a = h.select(col("file_name").as("file_a"), col("h"))
    val b = h.select(col("file_name").as("file_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("file_a") < col("file_b"))
      .groupBy(col("file_a"), col("file_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= MIN_COMMON)
      .orderBy("file_a", "file_b")
  }

  val all: Seq[Q] = Seq(xAudioFingerprint, xAudioNeardup)
}
