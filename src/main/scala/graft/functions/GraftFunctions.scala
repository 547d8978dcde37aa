package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.expressions.{CosineSim, NfcNormalize, PolyHash, TokenCount}

/** SQL registration for graft's native Catalyst expressions via the
  * public SparkSessionExtensions API (GraftSession wires this into every
  * builder). Usable from SQL and via functions.call_function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(ext)
    ext.injectPlannerStrategy(_ => graft.plans.TopNPerKeyStrategy)
    // materialized-view substitution (opt-in via spark.graft.mv.enabled)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
  }
}

object GraftFunctions {
  def inject(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("token_count"),
      new ExpressionInfo(classOf[TokenCount].getName, "token_count"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => TokenCount(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => PolyHash(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => NfcNormalize(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSim(exprs(0), exprs(1))))
  }
}
