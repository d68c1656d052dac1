package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the graft expressions, for sessions built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — makes
  * `graft_dot`, `graft_poly_hash`, `graft_simhash64` callable from
  * `spark.sql(...)`. The DataFrame API ([[GraftFunctions]]) does not
  * require this. For an already-built session, use
  * [[GraftExtensions.registerAll]] instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "")

  /** The single source of truth for the SQL surface — consumed both by
    * session-build injection (the class above) and by runtime
    * registration on existing sessions ([[registerAll]]).
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - double dot product of two array<float>"),
      (children: Seq[Expression]) => ArrayDotFloat(children(0), children(1))),
    (
      FunctionIdentifier("graft_poly_hash"),
      info("graft_poly_hash", "graft_poly_hash(s, mult, mod) - rolling polynomial hash"),
      (children: Seq[Expression]) => StrPolyHash(
        children(0),
        children(1).eval().asInstanceOf[Number].longValue(),
        children(2).eval().asInstanceOf[Number].longValue())),
    (
      FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(s) - one-pass 64-bit SimHash over whitespace tokens"),
      (children: Seq[Expression]) => SimHash64(children(0))),
    (
      FunctionIdentifier("graft_char_entropy"),
      info("graft_char_entropy",
        "graft_char_entropy(s) - character-distribution Shannon entropy (nats, shared ln table)"),
      (children: Seq[Expression]) => CharEntropy(children(0))),
    (
      FunctionIdentifier("graft_ln_int"),
      info("graft_ln_int",
        "graft_ln_int(k) - ln of a positive integer (shared table; StrictMath beyond; NULL at k <= 0)"),
      (children: Seq[Expression]) => LnInt(children(0))),
    (
      FunctionIdentifier("graft_distinct_ngrams"),
      info("graft_distinct_ngrams",
        "graft_distinct_ngrams(s, n) - distinct token n-grams in first-occurrence order"),
      (children: Seq[Expression]) => DistinctNgrams(
        children(0), children(1).eval().asInstanceOf[Number].intValue())),
    (
      FunctionIdentifier("graft_gunzip"),
      info("graft_gunzip",
        "graft_gunzip(b) - inflate a gzip member to UTF-8 text; NULL on corruption"),
      (children: Seq[Expression]) => GunzipUtf8(children(0))),
    (
      FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(s) - Unicode NFC normalization (UAX #15)"),
      (children: Seq[Expression]) => NfcNormalize(children(0))),
    (
      FunctionIdentifier("graft_url_canon"),
      info("graft_url_canon",
        "graft_url_canon(s) - RFC 3986 canonical http(s) URL; NULL out of contract"),
      (children: Seq[Expression]) => UrlCanonicalize(children(0))),
    (
      FunctionIdentifier("graft_surt"),
      info("graft_surt",
        "graft_surt(s) - SURT index key of an http(s) URL (public CDX canonicalization)"),
      (children: Seq[Expression]) => SurtKey(children(0))),
    (
      FunctionIdentifier("graft_html_anchors"),
      info("graft_html_anchors",
        "graft_html_anchors(s) - <a href> pairs with visible anchor text"),
      (children: Seq[Expression]) => HtmlAnchors(children(0))))

  /** Register the SQL functions on an existing session (no
    * `spark.sql.extensions` rebuild needed).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, i, builder) =>
      org.apache.spark.sql.graft.ColumnBridge.registerFunction(spark, ident, i, builder)
    }
}
