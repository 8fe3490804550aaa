package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** As-of (most-recent-prior) join: for each left row, the right row with
  * the greatest timestamp <= the left timestamp within the same key
  * group — the standard event-attribution / time-series alignment
  * operator (DuckDB/kdb ASOF JOIN semantics with `>=`).
  *
  * Formulation: union both sides tagged, one window pass per key ordered
  * by (ts, side) with right rows sorting first on ties, carry the right
  * payload forward with last(ignoreNulls). ONE shuffle (the window
  * partitioning) regardless of table sizes — no range-explode, no
  * per-row probing; at scale this is a single sort-based pass, and skew
  * is bounded by the hottest key's event count.
  *
  * The payload travels as ONE struct column, so every output field comes
  * from the same matched right row even when that row has NULLs in some
  * payload fields — and the matched/unmatched distinction is the struct's
  * own nullness (a real match marker), never payload non-nullness.
  */
object AsOf {

  /** Shared union+window pass. `forward = false`: latest right row with
    * right.ts <= left.ts (right rows sort first on ties, payload carried
    * forward with last(ignoreNulls)). `forward = true`: earliest right
    * row with right.ts >= left.ts (left rows sort first on ties, payload
    * pulled backward with first(ignoreNulls)). Emits a trailing
    * `__matched` marker column the public variants drop or filter on.
    */
  private def asofImpl(left: DataFrame, right: DataFrame, keyCol: String,
                       tsCol: String, rightPayload: Seq[(String, String)],
                       forward: Boolean): DataFrame = {
    val leftCols = left.columns.toSeq
    val otherLeft = leftCols.filterNot(c => c == keyCol || c == tsCol)
    val payloadSrc = rightPayload.map(_._1)
    val payloadType = StructType(payloadSrc.map(c => right.schema(c)))
    // tie order: the side whose row should match at an equal timestamp
    // sorts first — right before left for backward (>=), left before
    // right for forward (<=)
    val leftSide = if (forward) 0 else 1
    val rightSide = 1 - leftSide

    val taggedLeft = left.select((col(keyCol) +: col(tsCol).as("__ts") +:
      lit(leftSide).as("__side") +: otherLeft.map(col) ++:
      Seq(lit(null).cast(payloadType).as("__r"))): _*)
    val taggedRight = right.select((col(keyCol) +: col(tsCol).as("__ts") +:
      lit(rightSide).as("__side") +:
      otherLeft.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++:
      Seq(struct(payloadSrc.map(col): _*).as("__r"))): _*)

    val ordered = Window.partitionBy(col(keyCol)).orderBy(col("__ts"), col("__side"))
    val carriedPayload =
      if (forward)
        first(col("__r"), ignoreNulls = true)
          .over(ordered.rowsBetween(0, Window.unboundedFollowing))
      else
        last(col("__r"), ignoreNulls = true)
          .over(ordered.rowsBetween(Window.unboundedPreceding, 0))

    taggedLeft.unionByName(taggedRight)
      .withColumn("__rm", carriedPayload)
      .filter(col("__side") === leftSide)
      .select((col(keyCol) +: col("__ts").as(tsCol) +: otherLeft.map(col) ++:
        (rightPayload.map { case (src, out) => col("__rm").getField(src).as(out) } :+
          col("__rm").isNotNull.as("__matched"))): _*)
  }

  /** @param rightPayload (rightColumn -> outputName) columns carried from
    *   the matched right row; NULL where no prior right row exists.
    */
  def join(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
           rightPayload: Seq[(String, String)]): DataFrame =
    asofImpl(left, right, keyCol, tsCol, rightPayload, forward = false)
      .drop("__matched")

  /** Inner forward variant: drop left rows with no following right row —
    * gated on the match marker, so matched rows with legitimately-NULL
    * payload fields survive.
    */
  def joinForwardMatched(left: DataFrame, right: DataFrame, keyCol: String,
                         tsCol: String,
                         rightPayload: Seq[(String, String)]): DataFrame =
    asofImpl(left, right, keyCol, tsCol, rightPayload, forward = true)
      .filter(col("__matched")).drop("__matched")

  /** Inner variant: drop left rows with no prior right row. */
  def joinMatched(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
                  rightPayload: Seq[(String, String)]): DataFrame =
    asofImpl(left, right, keyCol, tsCol, rightPayload, forward = false)
      .filter(col("__matched")).drop("__matched")
}
