package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for graft's native expressions, so the Spark SQL
  * surface (not just the Column API) can call them:
  *
  *   SELECT array_dot(a, b) FROM ...
  *
  * Installed at session build time by `GraftExtensions`, which
  * `graft.Sessions.local` passes to `withExtensions`.
  */
object GraftFunctions {

  /** Evaluate a foldable literal argument (the k of the shingle/signature
    * functions) at registration-call time — fails fast with the function
    * name if the argument isn't a constant.
    */
  private def litInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: the k argument must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "array_dot" -> { exprs => ArrayDotProduct(exprs(0), exprs(1)) },
    "sorted_intersect_count" -> { exprs => SortedLongArrayIntersect(exprs(0), exprs(1)) },
    "jaro_winkler_similarity" -> { exprs => JaroWinkler(exprs(0), exprs(1)) },
    "word_shingle_hashes" -> { exprs =>
      WordShingleHashes(exprs(0), litInt(exprs(1), "word_shingle_hashes")) },
    "char_shingle_hashes" -> { exprs =>
      CharShingleHashes(exprs(0), litInt(exprs(1), "char_shingle_hashes")) },
    "minhash_signature" -> { exprs =>
      MinHashSignature(exprs(0), litInt(exprs(1), "minhash_signature")) },
    "winnow_fingerprints" -> { exprs =>
      // First 3-arg registered function: check arity BEFORE indexing so a
      // 2-arg SQL call gets a named error, not IndexOutOfBoundsException.
      require(exprs.length == 3,
        s"winnow_fingerprints takes (text, k, w); got ${exprs.length} args")
      WinnowFingerprints(exprs(0), litInt(exprs(1), "winnow_fingerprints"),
        litInt(exprs(2), "winnow_fingerprints")) })

  private[functions] def injections
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    fns.map { case (name, builder) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[ArrayDotProduct].getName, name),
        builder)
    }
}

/** graft's engine extensions: the SQL functions above and the as-of
  * join's planner strategy. `graft.Sessions.local` installs them with
  * `.withExtensions(new GraftExtensions)`; another deployment sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftFunctions.injections.foreach { case (id, info, builder) =>
      extensions.injectFunction((id, info, builder))
    }
    extensions.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
  }
}
