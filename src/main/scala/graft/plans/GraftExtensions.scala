package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one install path for the engine's session-wide pieces: the
  * graft_* SQL functions ([[GraftFunctions.descriptors]], so
  * `SELECT graft_dot(a.embedding, b.embedding)` and `call_function`
  * resolve) and the TopKPerKey planner pair ([[TopKStrategy]] +
  * [[TopKRewriteRule]]).
  *
  * An install on a built session, not `spark.sql.extensions`: callers
  * of [[graft.SparkEntry]] hand it their own, already-built
  * SparkSession. SparkEntry runs the install before every query body,
  * so a query plans the same alone as after any other query in its
  * session. Library entry points that callers reach without SparkEntry
  * (TopK.perKey, IncrementalDedup, the dedup signature helpers) call it
  * themselves.
  *
  * Idempotent, and synchronized: concurrent query construction must
  * not lose a check-then-append to the session's `experimental` lists.
  * Re-registering a function is a no-op (same info, same builder).
  */
object GraftExtensions {
  def install(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    GraftFunctions.descriptors.foreach { case (ident, info, builder) =>
      reg.registerFunction(ident, info, builder)
    }
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(TopKStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKStrategy
    if (!exp.extraOptimizations.contains(TopKRewriteRule))
      exp.extraOptimizations = exp.extraOptimizations :+ TopKRewriteRule
  }
}

object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  /** Constant int argument of a kernel expression — must be a foldable
    * literal so the value can be baked into the expression (and its
    * generated code) at build time.
    */
  private def litInt(e: Expression, fn: String): Int = e match {
    case f if f.foldable => f.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$fn constant argument must be int, got $other")
    }
    case _ => throw new IllegalArgumentException(
      s"$fn constant argument must be a literal")
  }

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("graft_norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "graft_norm"),
      (args: Seq[Expression]) => L2Norm(args.head)),
    (FunctionIdentifier("graft_hash64"),
      new ExpressionInfo(classOf[TextHash64].getName, "graft_hash64"),
      (args: Seq[Expression]) => TextHash64(args.head)),
    (FunctionIdentifier("graft_mix64"),
      new ExpressionInfo(classOf[Mix64].getName, "graft_mix64"),
      (args: Seq[Expression]) => Mix64(args.head)),
    (FunctionIdentifier("graft_sorted_overlap"),
      new ExpressionInfo(classOf[SortedOverlap].getName, "graft_sorted_overlap"),
      (args: Seq[Expression]) => SortedOverlap(args(0), args(1), args(2))),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashes(args(0),
        litInt(args(1), "graft_shingle_hashes"))),
    (FunctionIdentifier("graft_shingle_hashes_pos"),
      new ExpressionInfo(classOf[ShingleHashesPos].getName,
        "graft_shingle_hashes_pos"),
      (args: Seq[Expression]) => ShingleHashesPos(args(0),
        litInt(args(1), "graft_shingle_hashes_pos"))),
    (FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[MinhashBands].getName, "graft_minhash_bands"),
      (args: Seq[Expression]) => MinhashBands(args(0),
        litInt(args(1), "graft_minhash_bands"),
        litInt(args(2), "graft_minhash_bands"),
        litInt(args(3), "graft_minhash_bands"))),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => MinhashSig(args(0),
        litInt(args(1), "graft_minhash_sig"),
        litInt(args(2), "graft_minhash_sig"))),
    (FunctionIdentifier("graft_lsh_bands"),
      new ExpressionInfo(classOf[LshBandsOf].getName, "graft_lsh_bands"),
      (args: Seq[Expression]) => LshBandsOf(args(0),
        litInt(args(1), "graft_lsh_bands"))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(args(0),
        litInt(args(1), "graft_simhash"))),
    (FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[Fingerprint].getName, "graft_fingerprint"),
      (args: Seq[Expression]) => Fingerprint(args(0),
        litInt(args(1), "graft_fingerprint"))),
    (FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "graft_lsh_bucket"),
      (args: Seq[Expression]) => LshBucket(args(0),
        litInt(args(1), "graft_lsh_bucket"))),
    (FunctionIdentifier("graft_bigram_census"),
      new ExpressionInfo(classOf[BigramCensus].getName, "graft_bigram_census"),
      (args: Seq[Expression]) => BigramCensus(args.head)),
    (FunctionIdentifier("graft_sig_pack"),
      new ExpressionInfo(classOf[SigPack].getName, "graft_sig_pack"),
      (args: Seq[Expression]) => SigPack(args(0),
        litInt(args(1), "graft_sig_pack"),
        litInt(args(2), "graft_sig_pack"),
        litInt(args(3), "graft_sig_pack"),
        litInt(args(4), "graft_sig_pack"))))
}
