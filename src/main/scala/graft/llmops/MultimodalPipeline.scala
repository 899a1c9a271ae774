package graft.llmops

import org.apache.spark.sql.functions._
import graft.core.{Q, Tables => T}
import TextStats.{MIN_TOKENS, STOP_MAX, sqlList, stopEn}

/** The composed image-text curation pipeline — the multimodal twin of
  * x_full_curation: everything a pre-training pipeline runs to turn raw
  * image blobs plus candidate captions into a shippable pair manifest,
  * graded as ONE query under ONE oracle:
  *
  *   1. decode: real PNG decode (javax.imageio) → 9×8 dHash
  *      ([[ImagePhash.dhashes]]);
  *   2. image near-dup: banded candidate join + exact Hamming verify;
  *   3. dedup families: connected components, min-id survivor per
  *      family ([[DedupFamilies.components]]);
  *   4. caption attach: join the image to its caption document
  *      (doc_id = img_id in the fixture layout);
  *   5. caption quality: the keep-gate's token floor and stopword cap
  *      (TextStats.MIN_TOKENS, TextStats.STOP_MAX);
  *   6. manifest: every image with its family, survivor flag, caption
  *      stats, and the final ship/drop decision.
  *
  * The oracle replays ALL SIX stages without a PNG decoder: fixture
  * pixels are closed-form (ImagePhash.fixtureSpec), so DuckDB rebuilds
  * pixels → hashes → pairs → recursive-CTE families → caption join →
  * quality flags and must match the decoded path bit-for-bit — the
  * strongest end-to-end check the multimodal family has.
  *
  * Scale posture: decode is per-partition batch work (no shuffle);
  * near-dup is the banded LSH equi-join (never all-pairs); families
  * bound driver state via the DedupFamilies threshold; caption attach
  * is a key equi-join; quality is a narrow projection. No stage
  * recomputes a previous stage's base.
  */
object MultimodalPipeline {

  val xMultimodalPipeline = Q(
    "x_multimodal_pipeline",
    s"""WITH RECURSIVE ${ImagePhash.hashCte},
       pairs AS (SELECT a.img_id AS a_id, b.img_id AS b_id
                 FROM hashes a JOIN hashes b ON a.img_id < b.img_id
                 WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                       <= ${ImagePhash.MAX_HAMMING_IMG}),
       edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                 UNION ALL SELECT b_id, a_id FROM pairs),
       r(id, label) AS (SELECT src, src FROM edges
                        UNION
                        SELECT e.dst, r.label FROM edges e JOIN r ON e.src = r.id),
       fam AS (SELECT id, min(label) AS family FROM r GROUP BY id),
       lab AS (SELECT s.img_id,
                 CAST(coalesce(f.family, s.img_id) AS BIGINT) AS family
               FROM spec s LEFT JOIN fam f ON f.id = s.img_id),
       fsz AS (SELECT family, CAST(count(*) AS BIGINT) AS family_size
               FROM lab GROUP BY family),
       cap AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w IN (${sqlList(stopEn)}))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stop_ratio
               FROM documents)
       SELECT CAST(lab.img_id AS BIGINT) AS img_id, lab.family,
              fsz.family_size,
              lab.img_id = lab.family AS is_survivor,
              cap.n_tokens,
              (cap.n_tokens >= $MIN_TOKENS AND cap.stop_ratio <= $STOP_MAX) AS caption_ok,
              (lab.img_id = lab.family AND cap.n_tokens >= $MIN_TOKENS
               AND cap.stop_ratio <= $STOP_MAX) AS ship
       FROM lab JOIN fsz USING (family)
       JOIN cap ON cap.doc_id = lab.img_id
       ORDER BY img_id""") { (s, dir) =>
    // stages 1-3: decode → banded near-dup → families (shared engines)
    val imgs = ImagePhash.dhashes(s).select(col("img_id"))
    val labels = DedupFamilies.components(
      ImagePhash.neardupPairs(s).select(col("a_id"), col("b_id")))
    val lab = imgs.join(labels, imgs("img_id") === labels("id"), "left")
      .select(col("img_id"),
        coalesce(col("label"), col("img_id")).as("family"))
    val fsz = lab.groupBy("family").agg(count(lit(1)).as("family_size"))
    // stages 4-5: caption attach + quality rules
    val words = split(col("text"), " ")
    val cap = T(s, dir, "documents").select(
      col("doc_id"),
      TextStats.nTokens(words).as("n_tokens"),
      TextStats.stopRatio(words).as("stop_ratio"))
    // stage 6: manifest
    val survivor = col("img_id") === col("family")
    val captionOk = !TextStats.tooShort(col("n_tokens")) &&
      !TextStats.stopwordHeavy(col("stop_ratio"))
    lab.join(broadcast(fsz), "family")
      .join(cap, lab("img_id") === cap("doc_id"))
      .select(col("img_id"), col("family"), col("family_size"),
        survivor.as("is_survivor"),
        col("n_tokens"),
        captionOk.as("caption_ok"),
        (survivor && captionOk).as("ship"))
      .orderBy("img_id")
  }

  val all: Seq[Q] = Seq(xMultimodalPipeline)
}
