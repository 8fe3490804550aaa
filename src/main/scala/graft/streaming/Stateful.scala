package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** Arbitrary cross-batch state via Spark 4's `transformWithState` — the
  * successor of `flatMapGroupsWithState` with named, independently-typed
  * state variables, TTL, and timers. The engine exercises the API with
  * the canonical shape: a per-key running aggregate whose state is a
  * versioned value the processor owns outright (exactly what the
  * mapGroupsWithState operators here cannot express once state needs
  * several independently-evolving variables or TTL).
  *
  * Requires the RocksDB state store provider (a transformWithState
  * contract, enforced by Spark at query start) — callers scope
  * `spark.sql.streaming.stateStore.providerClass` around the stream the
  * way Queries.runAvailableNow scopes partition sizing.
  */
object Stateful {

  /** Per-key running (count, integer-unit sum) carried across
    * micro-batches in a ValueState; emits the key's UPDATED totals once
    * per batch in which the key appears. Counts are strictly monotone
    * per key, so the final converged row for a key is its max-count row
    * — the downstream `max_by` contract the driver query pins.
    */
  class RunningTotals
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var totals: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var (n, s) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { case (_, unit) => n += 1; s += unit }
      totals.update((n, s))
      Iterator.single((key, n, s))
    }
  }

  /** Running per-key totals over a stream of (key, integerUnit) pairs. */
  def runningTotals(pairs: Dataset[(Long, Long)]): Dataset[(Long, Long, Long)] = {
    import pairs.sparkSession.implicits._
    pairs.groupByKey(_._1)
      .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Append())
  }

  /** Streaming per-key leaderboard via MapState — the multi-entry
    * state shape ValueState cannot hold: per stream key a persistent
    * `member -> count` map accumulates across micro-batches, and each
    * batch a key appears in emits that key's CURRENT top-`k` members
    * by (count desc, member asc) stamped with the key's monotone
    * processed-row total, so the converged leaderboard is the
    * max-stamp row set (the RunningTotals selection contract, extended
    * to row SETS). State is exact and member-cardinality-sized —
    * right when members per key are bounded (users per event type
    * here); at open-world cardinality swap the map body for a
    * [[graft.functions.Aggregators.MisraGries]]-style bounded summary
    * in the same MapState and the emission contract is unchanged.
    */
  class TopKMembers(k: Int)
      extends StatefulProcessor[String, (String, Long), (String, Long, Long, Long, Int)] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[Long, Long]("counts",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timerValues: TimerValues)
        : Iterator[(String, Long, Long, Long, Int)] = {
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { case (_, member) =>
        val cur = if (counts.containsKey(member)) counts.getValue(member) else 0L
        counts.updateValue(member, cur + 1L)
        n += 1L
      }
      seen.update(n)
      val top = counts.iterator().toSeq
        .sortBy { case (m, c) => (-c, m) }.take(k)
      top.zipWithIndex.map { case ((m, c), i) => (key, n, m, c, i + 1) }.iterator
    }
  }

  /** Streaming top-k leaderboard per key over (key, member) pairs. */
  def topKMembers(pairs: Dataset[(String, Long)], k: Int)
      : Dataset[(String, Long, Long, Long, Int)] = {
    import pairs.sparkSession.implicits._
    pairs.groupByKey(_._1)
      .transformWithState(new TopKMembers(k), TimeMode.None(), OutputMode.Append())
  }
}
