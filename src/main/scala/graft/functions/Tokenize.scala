package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}

/** X1/X2 — the reference's only UDF surface: `ik_analyze`, an IK-segmenter
  * table function emitting one row per token (ref
  * RT/app/func/KeywordUDTF.java:14-22, RT/util/KeywordUtil.java:17-31).
  *
  * The IK jar is external infrastructure; the faithful stand-in keeps the
  * same contract (string → token rows via explode) with a pluggable
  * strategy: whitespace/punctuation splitting for alphabetic text plus a
  * CJK bigram fallback (the standard IK-less approximation — each pair of
  * consecutive CJK ideographs is a token).
  *
  * Used as `explode(tokenize(col))` — semantically identical to a lateral
  * UDTF join; a Catalyst Generator is not required (SURVEY §2.12).
  */
object Tokenize {

  private def isCjk(c: Char): Boolean =
    Character.UnicodeScript.of(c) == Character.UnicodeScript.HAN

  /** Pure tokenizer: latin runs split on non-alphanumerics, CJK runs into
    * bigrams (single ideograph when run length is 1).
    */
  def analyze(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    val out = Seq.newBuilder[String]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (isCjk(c)) {
        var j = i
        while (j < n && isCjk(text.charAt(j))) j += 1
        if (j - i == 1) out += text.substring(i, i + 1)
        else for (k <- i until j - 1) out += text.substring(k, k + 2)
        i = j
      } else if (Character.isLetterOrDigit(c)) {
        var j = i
        while (j < n && Character.isLetterOrDigit(text.charAt(j)) &&
          !isCjk(text.charAt(j))) j += 1
        out += text.substring(i, j).toLowerCase
        i = j
      } else i += 1
    }
    out.result()
  }

  /** Column form (Scala UDF baseline; prefer [[tokenizeNative]] in hot
    * paths — same semantics, stays inside whole-stage codegen).
    */
  val tokenize: Column => Column = {
    val u = udf((s: String) => analyze(s))
    (c: Column) => u(c)
  }

  /** The one codegen tokenizer expression: a `StaticInvoke` calling
    * [[TokenizeCodegenEntry.analyzeUtf8]] directly on internal UTF8String
    * data — no closure serialization or Row conversion per record. Both
    * [[tokenizeNative]] and the SQL `tokenize` function build it here.
    */
  private[graft] def tokenizeExpr(args: Seq[Expression]): Expression =
    StaticInvoke(
      TokenizeCodegenEntry.getClass,
      ArrayType(StringType),
      "analyzeUtf8",
      args,
      Seq(StringType))

  /** Codegen form: [[tokenizeExpr]] over a column. */
  def tokenizeNative(c: Column): Column =
    ColumnBridge.column(tokenizeExpr(Seq(ColumnBridge.expression(c))))
}
