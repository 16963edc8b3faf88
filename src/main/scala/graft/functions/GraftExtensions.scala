package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Graft's native functions by SQL name, each with the builder that binds
  * the call's argument expressions. Both registration routes read this
  * one table, so plans are identical either way.
  */
object GraftFunctions {

  private[functions] val Table: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "array_dot" -> (es => ArrayDotProduct(es.head, es(1))),
      "simhash63" -> (es => SimHash63(es.head)),
      "minhash_bands16x2" -> (es => MinHashBands(es.head, 16, 2)),
      "shingles3" -> (es => Shingles3(es.head)),
      "norm_text" -> (es => NormText(es.head)),
      "winnow_fps" -> (es => WinnowFps(es.head)),
      "winnow_fps64" -> (es => WinnowFps64(es.head)),
      "norm_tokens" -> (es => NormTokens(es.head)),
      "scrub_spans64" -> (es => ScrubSpans64(es.head, es(1))),
      "bpe_merge" -> (es => BpeMergePass(es.head, es(1), es(2))),
      "pair_expand_sz" -> (es => PairExpandSz(es.head,
        litInt(es(1), "pair_expand_sz p"), litInt(es(2), "pair_expand_sz q"))),
      "pair_expand_cap" -> (es => PairExpandCap(es.head,
        litInt(es(1), "pair_expand_cap cap"))))

  /** Registers the functions into an existing session's registry, for
    * sessions not built through `GraftConf.tune` (which installs
    * [[GraftExtensions]]). Idempotent: a name the session already
    * resolves is left alone, so no replacement WARN is logged.
    */
  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    for ((name, build) <- Table
         if !registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, build, "built-in")
  }

  /** Fold a literal int argument at registration time (the generator's
    * thresholds are plan constants, not per-row expressions).
    */
  private def litInt(e: Expression, what: String): Int = e match {
    case lit if lit.foldable =>
      lit.eval(null) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$what must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$what must be a literal")
  }
}

/** Registration of graft's native expressions via the extensions
  * mechanism. `GraftConf.tune` installs it on every session it builds
  * (and `newSession()` children inherit it); a deployment that does not
  * build through `tune` enables it with
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions …
  * }}}
  *
  * Either way every graft function resolves in plain SQL
  * (`spark.sql("SELECT array_dot(a,b) …")`), also on executors-only
  * deployments like Thrift/Connect servers (GraftExtensionsSpec asserts
  * resolution and result parity).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, build) <- GraftFunctions.Table)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
}
