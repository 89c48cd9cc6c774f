package graft

import graft.functions.{CosineSim, DotProduct, SimHash64, WinnowFingerprint}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: exposes graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT simhash64(...)")`
  * works next to the DataFrame API, and plans the [[graft.operators.Stage]]
  * barrier. [[GraftSession.create]] installs it; elsewhere use
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions` at session creation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => graft.operators.StageStrategy)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    ("winnow_fingerprint",
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fingerprint"),
      (args: Seq[Expression]) => args match {
        case Seq(text)       => WinnowFingerprint(text, 8, 16)
        case Seq(text, k, w) =>
          WinnowFingerprint(text, intArg(k, "k"), intArg(w, "w"))
        case _ => throw new IllegalArgumentException(
          "winnow_fingerprint(text[, k, w])")
      }),
    ("dot_product",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("cosine_sim",
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))),
    ("cdc_cuts",
      new ExpressionInfo(
        classOf[graft.functions.CdcCuts].getName, "cdc_cuts"),
      (args: Seq[Expression]) => args match {
        case Seq(text)    => graft.functions.CdcCuts(text, 8)
        case Seq(text, k) => graft.functions.CdcCuts(text, intArg(k, "k"))
        case _ => throw new IllegalArgumentException("cdc_cuts(text[, k])")
      }),
    ("gram_run_stats",
      new ExpressionInfo(
        classOf[graft.functions.GramRunStats].getName, "gram_run_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(toks, n) => graft.functions.GramRunStats(toks, intArg(n, "n"))
        case _ => throw new IllegalArgumentException("gram_run_stats(tokens, n)")
      }),
    ("media_byte_features",
      new ExpressionInfo(
        classOf[graft.multimodal.MediaByteFeatures].getName, "media_byte_features"),
      (args: Seq[Expression]) => args match {
        case Seq(bytes) => graft.multimodal.MediaByteFeatures(bytes)
        case _ => throw new IllegalArgumentException("media_byte_features(bytes)")
      }),
  )
}
