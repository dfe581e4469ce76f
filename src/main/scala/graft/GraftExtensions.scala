package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: injects the engine's native
  * Catalyst functions and optimizer rule into every session built with
  * `.withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.GraftExtensions` — the deployment path for
  * spark-submit clusters where builder code isn't ours to edit. Reads the
  * same table as [[graft.core.Normalize.register]] (the builder-code
  * path), so the two paths cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Functions.foreach { case (name, build, exprClass) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(exprClass.getName, name), build))
    }
    ext.injectOptimizerRule(_ => graft.plans.IdempotentAliasKey)
  }
}

object GraftExtensions {
  import graft.core.{Normalize, NtCodec}
  import graft.functions.VectorOps
  import graft.ingest.TextExtract

  /** Every native function the library calls by name (`call_function`):
    * (SQL name, builder, expression class). The one function table. */
  val Functions: Seq[(String, Seq[Expression] => Expression, Class[_])] = Seq(
    ("alias_key", es => Normalize.AliasKeyExpr(es.head),
     classOf[Normalize.AliasKeyExpr]),
    ("canonical_label", es => Normalize.CanonicalLabelExpr(es.head),
     classOf[Normalize.CanonicalLabelExpr]),
    ("plural_lexhead", es => Normalize.PluralLexheadExpr(es.head),
     classOf[Normalize.PluralLexheadExpr]),
    ("nt_encode_resource", es => NtCodec.NtEncodeResourceExpr(es.head),
     classOf[NtCodec.NtEncodeResourceExpr]),
    ("nt_escape_literal", es => NtCodec.NtEscapeLiteralExpr(es.head),
     classOf[NtCodec.NtEscapeLiteralExpr]),
    ("nt_decode_resource", es => NtCodec.NtDecodeResourceExpr(es.head),
     classOf[NtCodec.NtDecodeResourceExpr]),
    ("nt_unescape_literal", es => NtCodec.NtUnescapeLiteralExpr(es.head),
     classOf[NtCodec.NtUnescapeLiteralExpr]),
    ("html_to_text", es => TextExtract.HtmlToTextExpr(es.head),
     classOf[TextExtract.HtmlToTextExpr]),
    ("vec_dot", es => VectorOps.DotExpr(es(0), es(1)),
     classOf[VectorOps.DotExpr]))
}
