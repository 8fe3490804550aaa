package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's only temporal semantics: a weekly incremental window
  * (`start_date = today - 7d`, cron weekly — /root/reference/main.py:27-29,
  * prefect.yaml:52-56) with idempotent re-runs via dup-tolerant sinks.
  *
  * Batch + Structured Streaming share one transform (`weeklyCounts` works
  * on both a static and a streaming DataFrame); the streaming variants add
  * watermarking and within-watermark dedup, which is the at-least-once +
  * dedup discipline the reference approximates with unique constraints.
  */
object Incremental {

  /** C14 get_previous_week (utils/etl.py:122-127): filter to the trailing
    * window ending at `asOf` (exclusive start, inclusive end to mirror the
    * reference's [today-7d, today] params).
    */
  def trailingWindow(df: DataFrame, tsCol: String, asOf: String, days: Int = 7): DataFrame =
    df.filter(col(tsCol) > to_timestamp(lit(asOf)) - expr(s"INTERVAL $days DAYS") &&
              col(tsCol) <= to_timestamp(lit(asOf)))

  /** Weekly tumbling aggregation — the engine analog of the reference's
    * weekly batch. `date_trunc('week', …)` (Monday-anchored) so batch and
    * oracle agree; works unchanged on a streaming DataFrame.
    */
  def weeklyCounts(events: DataFrame, tsCol: String, keyCol: String): DataFrame =
    events
      .groupBy(date_trunc("week", col(tsCol)).as("week_start"), col(keyCol))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))

  /** Hopping (sliding) window aggregation: overlapping windows of
    * `sizeSec` seconds every `slideSec` seconds, epoch-aligned like
    * Spark's `window()`. Contract: both durations must be positive and
    * `sizeSec` must be an exact multiple of `slideSec` — anything else
    * throws `IllegalArgumentException` at plan-build time (a
    * non-multiple size would silently mis-bucket boundary events, so
    * the operator refuses it rather than guessing). Each
    * event lands in size/slide windows; count plus min/max value per
    * (window, key) — selection-only measures, so doubles stay
    * engine-exact. Window bounds emit as EPOCH SECONDS, sidestepping
    * timestamp-type drift between engines. Works unchanged on a
    * streaming frame under a watermark; batch is the replayable oracle.
    *
    * Shape at 100 TB: the size/slide fan-out happens map-side inside
    * `window()`'s expand, the aggregate is map-side combinable, and the
    * exchange is (window, key)-bounded — the standard sliding-metric
    * plan. Never a self-join on time ranges.
    */
  def hoppingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    sizeSec: Long, slideSec: Long): DataFrame = {
    require(sizeSec > 0 && slideSec > 0, "size and slide must be positive")
    require(sizeSec % slideSec == 0, "size must be a multiple of slide")
    events
      .groupBy(window(col(tsCol), s"$sizeSec seconds", s"$slideSec seconds"),
        col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("window.start").cast("long").as("hop_start"),
        col("window.end").cast("long").as("hop_end"),
        col(keyCol), col("n_events"), col("min_value"), col("max_value"))
  }

  /** At-least-once -> exactly-once: drop duplicate event ids within the
    * watermark horizon (the streaming analog of the reference's
    * dup-tolerant CREATE).
    */
  def dedupStream(events: DataFrame, tsCol: String, idCol: String,
                  watermark: String = "1 day"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Bounded-memory streaming dedup: per-shard bloom filters held in
    * flatMapGroupsWithState, emitting only first-seen ids. State is
    * FIXED (shards × words × 8 bytes) no matter how many distinct keys
    * flow through — the answer when even watermarked exact dedup state
    * ([[dedupStream]]) outgrows the cluster (an unbounded-horizon id
    * space at 100 TB/day). The trade is explicit and one-sided: a
    * duplicate is NEVER emitted twice; a ~fpp fraction of true uniques
    * is wrongly dropped as the filter fills. Shard count spreads both
    * the state and the per-batch CPU across tasks.
    */
  def bloomDedupStream(ids: org.apache.spark.sql.Dataset[Long], shards: Int,
                       numWords: Int, numHashes: Int):
      org.apache.spark.sql.Dataset[Long] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import ids.sparkSession.implicits._
    ids.groupByKey(id => (id % shards + shards) % shards)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[Long],
         state: org.apache.spark.sql.streaming.GroupState[Array[Long]]) =>
          val bits = state.getOption.getOrElse(new Array[Long](numWords))
          val bloom = new graft.functions.Expressions.LongBloom(numHashes, bits)
          val fresh = batch.filter { id =>
            val unseen = !bloom.mightContain(id)
            if (unseen) bloom.add(id)
            unseen
          }.toVector
          state.update(bits)
          fresh.iterator
      }
  }

  /** Streaming -> partition-scoped MERGE: each micro-batch upserts
    * through [[graft.operators.Sinks.mergeUpsertPartitioned]], touching
    * only the partitions the batch's rows land in — the weekly
    * incremental shape (reference cron: prefect.yaml:52-56) as a
    * continuous query. Matched keys take the newest batch's row, so
    * overlapping or replayed micro-batches converge to the same table
    * one big batch merge would produce, PROVIDED a key's partition
    * value is stable (the merge's documented contract; pass
    * `strict = true` to pay a remainder probe per batch that fails
    * loudly on a violation).
    */
  def foreachBatchMergePartitioned(stream: DataFrame, path: String,
                                   keys: Seq[String], partCol: String,
                                   strict: Boolean = false):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        graft.operators.Sinks.mergeUpsertPartitioned(
          batch, path, keys, partCol, strict = strict)
    }
}
