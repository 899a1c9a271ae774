package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, SessionMemo}

/** Semi-supervised label propagation over the embedding kNN graph —
  * the standard trick for stretching a small labeled seed across a
  * large corpus (weak supervision for quality/domain classifiers):
  * only the first 10% of vectors keep their labels; every other node
  * takes the majority label of its K nearest neighbors, in two
  * synchronous iterations (iteration 2 sees iteration 1's assignments,
  * so labels reach nodes whose neighborhoods contain no seed at all).
  *
  * Determinism: neighbor ranking is the q34 discipline (1e6 fixed-point
  * cosine DESC, vec_id tiebreak — grid margins audited as the
  * labelprop-grid family); votes are integer counts with ties broken
  * toward the smaller label; unreached nodes emit (-1, iter 0).
  *
  * Scale posture: the kNN edges are built ONCE with the bounded-heap
  * TopKByScore aggregation (≤K rows per node per partition in the
  * shuffle — never a corpus window) and reused by both iterations;
  * each iteration is then one equi-join of those edges against the
  * current label table plus a vote agg. The dense unlabeled×all grid
  * here is the audit-sized spelling — at corpus scale the same edges
  * come pre-pruned from the IVF index (x_ann_ivf's lists), which
  * changes the candidate generator and nothing downstream.
  *
  * Oracle-performance note (measured at sf0.1): the grid window must
  * rank a PROJECTED similarity column — putting round(list_cosine…)
  * directly in the window's ORDER BY made DuckDB re-evaluate it inside
  * the sort comparator (22 s); and MATERIALIZED on the grid CTE forced
  * its evaluation single-threaded (6.8 s). The shipped spelling
  * (inline subquery projection, knn un-materialized, only the tiny
  * p1/l1/p2 stages materialized) runs in ~1 s.
  */
object LabelProp {

  /** Neighbors per node. */
  val K_LP = 5

  /** Labeled-seed fraction denominator (first 1/10 of ids). */
  val SEED_DEN = 10L

  private[llmops] def seedCut(e: DataFrame): Long = {
    val mx = e.agg(max("vec_id")).collect()(0).getLong(0)
    (mx + 1) / SEED_DEN
  }

  /** The shared oracle CTE chain: seed cut → grid kNN → two vote
    * iterations → `pred(vec_id, pred_label, iter)` over the unlabeled
    * slice. Reused verbatim by all three label-prop queries. */
  private val oracleCtes =
    s"""WITH cut AS (SELECT (max(vec_id) + 1) // $SEED_DEN AS c FROM embeddings),
       e AS (SELECT vec_id, label,
              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       knn AS (SELECT u, v FROM (
           SELECT u, v2 AS v, row_number() OVER (PARTITION BY u
                    ORDER BY s DESC, v2) AS rn
           FROM (SELECT a.vec_id AS u, b.vec_id AS v2,
                   round(list_cosine_similarity(b.v, a.v), 6) AS s
                 FROM e a JOIN e b ON a.vec_id <> b.vec_id, cut
                 WHERE a.vec_id >= cut.c))
         WHERE rn <= $K_LP),
       l0 AS (SELECT vec_id, label FROM e, cut WHERE vec_id < cut.c),
       p1 AS MATERIALIZED (SELECT u AS vec_id, label FROM (
           SELECT u, l0.label, count(*) AS c,
                  row_number() OVER (PARTITION BY u
                    ORDER BY count(*) DESC, l0.label) AS rr
           FROM knn JOIN l0 ON knn.v = l0.vec_id
           GROUP BY u, l0.label)
         WHERE rr = 1),
       l1 AS MATERIALIZED (SELECT * FROM l0 UNION ALL SELECT * FROM p1),
       p2 AS MATERIALIZED (SELECT u AS vec_id, label FROM (
           SELECT knn.u, l1.label, count(*) AS c,
                  row_number() OVER (PARTITION BY knn.u
                    ORDER BY count(*) DESC, l1.label) AS rr
           FROM knn JOIN l1 ON knn.v = l1.vec_id
           WHERE knn.u NOT IN (SELECT vec_id FROM p1)
           GROUP BY knn.u, l1.label)
         WHERE rr = 1),
       pred AS MATERIALIZED (SELECT e.vec_id,
              CAST(coalesce(p1.label, p2.label, -1) AS BIGINT) AS pred_label,
              CAST(CASE WHEN p1.vec_id IS NOT NULL THEN 1
                        WHEN p2.vec_id IS NOT NULL THEN 2
                        ELSE 0 END AS BIGINT) AS iter
       FROM e
       LEFT JOIN p1 ON e.vec_id = p1.vec_id
       LEFT JOIN p2 ON e.vec_id = p2.vec_id, cut
       WHERE e.vec_id >= cut.c)"""

  val xLabelProp = Q(
    "x_label_prop",
    s"""$oracleCtes
       SELECT vec_id, pred_label, iter FROM pred ORDER BY vec_id""") {
    (s, dir) => predictions(s, dir).orderBy("vec_id")
  }

  /** (vec_id, pred_label, iter) over the unlabeled slice — the engine
    * half shared by all three queries. Memoized per (session, dir):
    * plan-level cache dedup does NOT work here because the TopKByScore
    * UDAF compares by instance, so two builds of the same propagation
    * never canonicalize equal — without the memo every
    * query invocation re-paid the full kNN grid (measured ~4 s each in
    * bench run 49; the memo makes the grid a once-per-session cost). */
  private val preds = new SessionMemo[DataFrame]

  private[llmops] def predictions(s: SparkSession, dir: String): DataFrame =
    preds(s, dir)(buildPredictions(s, dir).cache())

  private def buildPredictions(s: SparkSession, dir: String): DataFrame = {
    val e = VectorSearch.embeddingsBase(s, dir).select("vec_id", "label", "n_emb")
    val cut = seedCut(e)
    val unl = e.filter(col("vec_id") >= cut)
      .select(col("vec_id").as("u"), col("n_emb").as("u_emb"))
    // kNN edges once, bounded-heap per node
    val topk = graft.functions.TopKByScore.topK(K_LP)
    val knn = e.select(col("vec_id").as("v"), col("n_emb").as("v_emb"))
      .join(broadcast(unl), col("u") =!= col("v"))
      .select(col("u"), col("v"),
        round(VectorSearch.dot(col("u_emb"), col("v_emb")) * 1000000L)
          .cast("long").as("s"))
      .groupBy("u").agg(topk(col("s"), col("v")).as("top"))
      .select(col("u"), explode(col("top.id")).as("v"))
      .cache()
    def vote(labels: DataFrame, nodes: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      knn.join(nodes, "u")
        .join(labels, col("v") === labels("vec_id"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("rr", row_number().over(Window.partitionBy(col("u"))
          .orderBy(col("c").desc, col("label"))))
        .filter(col("rr") === 1)
        .select(col("u").as("vec_id"), col("label"))
    }
    val l0 = e.filter(col("vec_id") < cut).select("vec_id", "label")
    val p1 = vote(l0, unl.select("u")).cache()
    val rest = unl.select("u")
      .join(p1.select(col("vec_id").as("u")), Seq("u"), "left_anti")
    val p2 = vote(l0.union(p1), rest)
    e.filter(col("vec_id") >= cut).select(col("vec_id"))
      .join(p1.select(col("vec_id"), col("label").as("lab1")), Seq("vec_id"), "left")
      .join(p2.select(col("vec_id"), col("label").as("lab2")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("lab1"), col("lab2"), lit(-1)).cast("long")
          .as("pred_label"),
        when(col("lab1").isNotNull, 1L)
          .when(col("lab2").isNotNull, 2L).otherwise(0L).as("iter"))
  }

  /** X — multiclass confusion matrix of the propagated labels against
    * the held-out truth (reached nodes only): the cell counts every
    * classifier eval starts from. Pure integer; the cell table also
    * quantifies the fixture's measured label-geometry independence
    * (near-uniform rows). */
  val xConfusionMatrix = Q(
    "x_confusion_matrix",
    s"""$oracleCtes
       SELECT CAST(e.label AS BIGINT) AS true_label, pred.pred_label,
              CAST(count(*) AS BIGINT) AS n
       FROM pred JOIN e ON pred.vec_id = e.vec_id
       WHERE pred.iter > 0
       GROUP BY 1, 2 ORDER BY true_label, pred_label""") { (s, dir) =>
    val e = VectorSearch.embeddingsBase(s, dir).select("vec_id", "label")
    predictions(s, dir).filter(col("iter") > 0)
      .join(e, "vec_id")
      .groupBy(col("label").cast("long").as("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  /** X — per-class precision/recall/F1 from the same confusion cells,
    * as exact 1e6 integer quotients (F1 = 2tp/(2tp+fp+fn) needs no
    * float). Classes with no predictions emit 0 precision by the
    * 0-denominator convention (guarded CASE, both engines). */
  val xClassMetrics = Q(
    "x_class_metrics",
    s"""$oracleCtes,
       cells AS (SELECT CAST(e.label AS BIGINT) AS t, pred.pred_label AS p,
              CAST(count(*) AS BIGINT) AS n
            FROM pred JOIN e ON pred.vec_id = e.vec_id
            WHERE pred.iter > 0 GROUP BY 1, 2),
       cls AS (SELECT CAST(label AS BIGINT) AS label FROM e, cut
               WHERE vec_id >= cut.c GROUP BY 1),
       m AS (SELECT cls.label,
               CAST(coalesce(sum(CASE WHEN cells.t = cls.label
                   AND cells.p = cls.label THEN n END), 0) AS BIGINT) AS tp,
               CAST(coalesce(sum(CASE WHEN cells.t <> cls.label
                   AND cells.p = cls.label THEN n END), 0) AS BIGINT) AS fp,
               CAST(coalesce(sum(CASE WHEN cells.t = cls.label
                   AND cells.p <> cls.label THEN n END), 0) AS BIGINT) AS fn
             FROM cls LEFT JOIN cells ON TRUE GROUP BY cls.label)
       SELECT label, tp, fp, fn,
              CASE WHEN tp + fp = 0 THEN 0
                   ELSE (1000000 * tp) // (tp + fp) END AS prec_fix,
              CASE WHEN tp + fn = 0 THEN 0
                   ELSE (1000000 * tp) // (tp + fn) END AS rec_fix,
              CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                   ELSE (2000000 * tp) // (2 * tp + fp + fn) END AS f1_fix
       FROM m ORDER BY label""") { (s, dir) =>
    val e = VectorSearch.embeddingsBase(s, dir).select("vec_id", "label")
    val cut = seedCut(e.select(col("vec_id")))
    val cells = predictions(s, dir).filter(col("iter") > 0)
      .join(e, "vec_id")
      .groupBy(col("label").cast("long").as("t"), col("pred_label").as("p"))
      .agg(count(lit(1)).as("n"))
    val cls = e.filter(col("vec_id") >= cut)
      .select(col("label").cast("long").as("label")).distinct()
    cls.crossJoin(cells)
      .groupBy("label")
      .agg(
        coalesce(sum(when(col("t") === col("label") &&
          col("p") === col("label"), col("n"))), lit(0L)).as("tp"),
        coalesce(sum(when(col("t") =!= col("label") &&
          col("p") === col("label"), col("n"))), lit(0L)).as("fp"),
        coalesce(sum(when(col("t") === col("label") &&
          col("p") =!= col("label"), col("n"))), lit(0L)).as("fn"))
      .select(col("label"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0, 0L)
          .otherwise(expr("(1000000 * tp) div (tp + fp)")).as("prec_fix"),
        when(col("tp") + col("fn") === 0, 0L)
          .otherwise(expr("(1000000 * tp) div (tp + fn)")).as("rec_fix"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, 0L)
          .otherwise(expr("(2000000 * tp) div (2 * tp + fp + fn)"))
          .as("f1_fix"))
      .orderBy("label")
  }

  val all: Seq[Q] = Seq(xLabelProp, xConfusionMatrix, xClassMetrics)
}
