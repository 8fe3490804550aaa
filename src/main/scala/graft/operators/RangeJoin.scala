package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval range join with bin partitioning. The naive plan for
  * `p.ts BETWEEN i.lo AND i.hi` is a broadcast nested loop (O(points x
  * intervals)); binning turns it into an equi-join: intervals replicate
  * into every fixed-width bin they overlap, points land in exactly one
  * bin, the join key is the bin id, and the residual BETWEEN predicate
  * filters within the bin. Replication factor = avg interval length /
  * binWidth + 1, chosen so the per-bin work is bounded — the standard
  * interval-join strategy at scale.
  */
object RangeJoin {

  /** @param binWidth bin size as a Spark SQL interval duration in
    *   microseconds (e.g. 7 days = 7L*24*3600*1000000).
    *   Semantics: match where pointTs >= lo AND pointTs < hi.
    */
  def pointInInterval(points: DataFrame, pointTs: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      binWidth: Long): DataFrame = {
    require(binWidth > 0)
    val p = points.withColumn("__bin", floor(unix_micros(col(pointTs).cast("timestamp")) / binWidth))
    // hi is exclusive: the last overlapped bin is the one containing hi-1us.
    // Degenerate intervals (hi <= lo) can match nothing, but an unguarded
    // sequence(lo, hi) with start > stop generates a DESCENDING range —
    // replicating the inverted interval into every bin between the
    // reversed endpoints (possible OOM) instead of zero rows. Guard to an
    // empty array, which explode() drops.
    val loBin = floor(unix_micros(col(loCol).cast("timestamp")) / binWidth)
    val hiBin = floor((unix_micros(col(hiCol).cast("timestamp")) - 1) / binWidth)
    val i = intervals.withColumn("__bin", explode(
      when(col(hiCol) > col(loCol), sequence(loBin, hiBin))
        .otherwise(array().cast("array<bigint>"))))
    p.join(i, Seq("__bin"))
      .filter(col(pointTs) >= col(loCol) && col(pointTs) < col(hiCol))
      .drop("__bin")
  }
}
