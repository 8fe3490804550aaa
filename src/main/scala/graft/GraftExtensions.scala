package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GetStructField}
import graft.functions.Expressions._

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions so `spark.sql` users get the
  * same tight-loop implementations as the Column API.
  *
  * Activate with:
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions") ...
  * or programmatically via `.withExtensions(new GraftExtensions)`.
  */
object GraftExtensions {
  /** Session configs the engine's operators are designed around. The
    * object-buffered aggregates (Expressions.MaxByRow) hold ONE row per
    * group, but ObjectHashAggregate's sort-based fallback threshold
    * defaults to 128 distinct keys per task — sized for collect_list
    * buffers — so without this raise any high-cardinality keepBest
    * quietly sorts its tail, re-buying the sort MaxByRow exists to
    * drop. Applied by [[register]] and (via a one-shot optimizer rule)
    * by the builder-installed extension, in both cases only when the
    * user has not set the key explicitly.
    */
  val recommendedConfs: Map[String, String] = Map(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000")

  private[graft] def applyRecommendedConfs(
      spark: org.apache.spark.sql.SparkSession): Unit =
    recommendedConfs.foreach { case (k, v) =>
      // contains() sees only explicitly-set values, never defaults, so a
      // user's deliberate setting survives
      if (!spark.sessionState.conf.contains(k)) spark.conf.set(k, v)
    }

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def str(e: Expression): String = e.eval().toString
  // the one-field HtmlExtract behind html_text / html_attr
  private def firstMatch(html: Expression, selector: Expression,
                         attr: Option[String]): Expression =
    GetStructField(HtmlExtract(html, Seq(("v", str(selector), attr))), 0, Some("v"))

  /** Every SQL function, as (name, usage, builder): the one table both
    * [[register]] and the builder-installed [[GraftExtensions]] install.
    */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("float_vector_dot",
      "_FUNC_(a, b) - sequential double dot product of two float vectors",
      a => FloatVectorDot(a(0), a(1))),
    ("minhash_signature", "_FUNC_(tokens, k) - k-component minhash signature",
      a => MinHashSignature(a(0), int(a(1)))),
    ("simhash60", "_FUNC_(tokens) - 60-bit md5-derived simhash of a token array",
      a => SimHash60(a(0))),
    ("md5_bits", "_FUNC_(str, nibbles) - value of the first n hex digits of md5(str)",
      a => Md5Bits(a(0), int(a(1)))),
    ("max_by_row",
      "_FUNC_(value, ord[, tie]) - hash-aggregable argmax: value of the row with the greatest ord; ord-ties to the smallest tie (nulls first)",
      a => (if (a.length > 2) MaxByRow(a(0), a(1), a(2)) else MaxByRow(a(0), a(1)))
        .toAggregateExpression(isDistinct = false)),
    ("word_shingles", "_FUNC_(tokens, n) - distinct word n-gram shingles",
      a => WordShingles(a(0), int(a(1)))),
    ("hyperplane_signatures",
      "_FUNC_(vec, dim, bits, bands[, seed]) - per-band random-hyperplane LSH signatures",
      a => HyperplaneSignatures(a(0), int(a(1)), int(a(2)), int(a(3)),
        if (a.length > 4) int(a(4)) else 42)),
    ("signature_agreement",
      "_FUNC_(sig_a, sig_b) - count of agreeing components of two long-array signatures",
      a => SignatureAgreement(a(0), a(1))),
    ("sorted_intersect_count",
      "_FUNC_(a, b) - count of common distinct values of two SORTED long arrays",
      a => SortedIntersectCount(a(0), a(1))),
    ("sorted_id_pairs", "_FUNC_(ids) - strictly-ordered (a,b) pairs of a long-id array",
      a => SortedIdPairs(a(0))),
    ("simhash_id_pairs",
      "_FUNC_(members, max_hamming) - bucket-local simhash pairs within a hamming radius",
      a => SimhashIdPairs(a(0), int(a(1)))),
    ("ngram_stats",
      "_FUNC_(tokens, n) - (total, n_distinct, top_freq) over overlapping word n-grams",
      a => NgramStats(a(0), int(a(1)))),
    ("z_value", "_FUNC_(coords, n_cols, bits) - bit-interleaved z-order value",
      a => ZValue(a(0), int(a(1)), int(a(2)))),
    ("html_text",
      "_FUNC_(html, selector) - trimmed text of the first CSS-selector match, null when absent",
      a => firstMatch(a(0), a(1), None)),
    ("html_attr",
      "_FUNC_(html, selector, attr) - attribute of the first CSS-selector match, null when absent",
      a => firstMatch(a(0), a(1), Some(str(a(2))))),
    ("html_to_text",
      "_FUNC_(html) - whole-page visible text, script/style excluded, whitespace-collapsed",
      a => HtmlToText(a(0))),
    ("html_links", "_FUNC_(html) - non-empty anchor hrefs in document order",
      a => HtmlLinks(a(0))),
    ("nfc_normalize", "_FUNC_(text) - Unicode NFC canonical composition (UAX #15)",
      a => NfcNormalize(a(0))))

  /** Runtime registration for sessions that already exist (builder
    * extensions only apply at construction time).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    applyRecommendedConfs(spark)
    // runtime parity with the builder-installed extension: the strategy
    // and the rank-filter -> heap-top-k rewrite rule (both idempotent)
    graft.plans.TopKRewrite.install(spark)
    functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, builder)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // one-shot conf application for builder-installed sessions: the
    // extension hook has no direct conf access at construction time, so
    // a no-op optimizer rule applies recommendedConfs on its first
    // invocation (the session is fully built by then). Explicit user
    // settings are never overridden — see applyRecommendedConfs.
    e.injectOptimizerRule { session =>
      new org.apache.spark.sql.catalyst.rules.Rule[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
        private val applied = new java.util.concurrent.atomic.AtomicBoolean(false)
        override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
          if (applied.compareAndSet(false, true))
            GraftExtensions.applyRecommendedConfs(session)
          plan
        }
      }
    }
    e.injectPlannerStrategy(_ => org.apache.spark.sql.graftbridge.TopKStrategy)
    // declarative row_number()-rank filters rewrite to the bounded-heap
    // top-k operator when provably semantics-preserving (see TopKRewrite)
    e.injectOptimizerRule(session => graft.plans.TopKRewrite(session))
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), builder))
    }
  }
}
