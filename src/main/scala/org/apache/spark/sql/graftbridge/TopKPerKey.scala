package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.util.CompletionIterator
import org.apache.spark.util.collection.ExternalSorter

/** Group-wise top-k as a first-class physical operator.
  *
  * The declarative formulation — `row_number().over(Window.partitionBy(
  * keys).orderBy(score))` + filter — must fully sort every partition's
  * rows per key before ranking; at k << group size that is wasted work
  * and wasted memory. This operator keeps a bounded k-element heap per
  * key: O(n log k) time, O(#keys * k) state, no sort buffer.
  *
  * Contract:
  *  - rows whose score is NULL or NaN are DROPPED (they cannot rank);
  *  - with `tieBreak` set, equal scores keep the row with the SMALLEST
  *    tie-break value — the output row set is then deterministic and
  *    matches `row_number() over (order by score desc, tieBreak asc)`;
  *    without it, ties are broken arbitrarily;
  *  - output order within a partition is unspecified (set semantics);
  *  - if a partition accumulates more than `maxKeys` distinct keys, the
  *    heap map would no longer be bounded, so the partition degrades to
  *    a SPILLABLE sort (ExternalSorter on (key, score, tie)) + first-k
  *    walk — same rows, disk-backed memory, the window-sort fallback the
  *    heap path is normally cheaper than.
  *
  * Planner integration (the (c) path of the build brief): a logical node,
  * a strategy that plans it as a two-level PARTIAL + FINAL pair (the
  * TakeOrdered treatment per key: the partial pass shrinks every input
  * partition to <= k rows per key BEFORE the exchange, so the shuffle
  * carries k-bounded survivors, not the full candidate set), and a
  * physical node that streams each partition once. The final pass
  * requires ClusteredDistribution, so Spark inserts the hash exchange
  * only when the partial output isn't already partitioned on the keys.
  * Registered via `TopKPerKey.install(spark)` (experimental
  * extraStrategies), which [[TopKPerKey.apply]] and
  * `graft.plans.TopKRewrite.install` call on first use; the strategy
  * then stays on the session.
  */
case class TopKPerKeyPlan(keys: Seq[Expression], score: Expression, k: Int,
                          smallest: Boolean, tieBreak: Option[Expression],
                          maxKeys: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, score, k, smallest, tieBreak, maxKeys, child) =>
      // two-level selection, the TakeOrdered treatment applied per key:
      // a PARTIAL pass runs on whatever partitioning the child already
      // has (no distribution requirement, so no exchange below it) and
      // shrinks each partition to <= k rows per key it holds; the FINAL
      // pass then requires clustering on the keys, so the exchange
      // EnsureRequirements inserts between the two carries at most
      // k * (keys present in the partition) rows instead of every
      // candidate row. Local-then-global top-k is exact: a row in the
      // global top-k is necessarily in its own partition's top-k.
      val base = planLater(child)
      val pre =
        if (keys.nonEmpty)
          TopKPerKeyExec(keys, score, k, smallest, tieBreak, maxKeys, base,
            partial = true)
        else base
      TopKPerKeyExec(keys, score, k, smallest, tieBreak, maxKeys, pre) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], score: Expression, k: Int,
                          smallest: Boolean, tieBreak: Option[Expression],
                          maxKeys: Int, child: SparkPlan,
                          partial: Boolean = false) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty || partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // row-set shrink, no row movement: the child's partitioning survives,
  // so a FINAL pass directly over an already-clustered child (or over a
  // PARTIAL pass whose input was clustered) plans without an exchange
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  /** Entry = (score, tieBreak, row). */
  private type Entry = (Double, Long, UnsafeRow)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val scoreExpr = score
    val tieExpr = tieBreak
    val limit = k
    val takeSmallest = smallest
    val keyCap = maxKeys
    val childOutput = child.output
    val isPartial = partial
    child.execute().mapPartitionsInternal { rows =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val boundScore = BindReferences.bindReference(scoreExpr, childOutput)
      val boundTie = tieExpr.map(BindReferences.bindReference(_, childOutput))
      // "keep-priority" ordering: greater = more worth keeping. Head of
      // the priority queue is the least = the current evictee.
      val keepOrd: Ordering[Entry] = new Ordering[Entry] {
        def compare(a: Entry, b: Entry): Int = {
          val c = if (takeSmallest) java.lang.Double.compare(b._1, a._1)
                  else java.lang.Double.compare(a._1, b._1)
          if (c != 0) c else java.lang.Long.compare(b._2, a._2) // smaller tie wins
        }
      }
      def evalEntry(row: InternalRow): Entry = {
        val s = boundScore.eval(row) match {
          case null => Double.NaN
          case v: java.lang.Number => v.doubleValue()
        }
        if (s.isNaN) null
        else {
          val t = boundTie.map(_.eval(row) match {
            case null => Long.MaxValue
            case v: java.lang.Number => v.longValue()
          }).getOrElse(0L)
          (s, t, null)
        }
      }

      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[Entry]]()
      var spilled: Iterator[InternalRow] = null
      while (rows.hasNext && spilled == null) {
        val row = rows.next()
        val e = evalEntry(row)
        if (e != null) {
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            if (heaps.size() >= keyCap) {
              if (isPartial) {
                // the partial pass is an optimization, not a
                // correctness gate: past the key cap, stop filtering
                // and stream the remainder through unchanged — the
                // FINAL pass enforces top-k after the exchange, and a
                // spill sort here would be redone there anyway. Rows
                // already dominated inside their key's heap stay
                // dropped (they are not in the global top-k either);
                // memory stays bounded by the cap.
                import scala.jdk.CollectionConverters._
                spilled = heaps.values().iterator().asScala
                  .flatMap(_.iterator().asScala.map(_._3: InternalRow)) ++
                  Iterator.single(row.copy()) ++ rows
              } else {
                // key-cardinality guard tripped: hand everything seen so
                // far plus the rest of the input to a disk-backed sort
                spilled = spillPath(heaps, rows, row, keyProj, evalEntry,
                  takeSmallest, limit)
              }
            } else {
              heap = new java.util.PriorityQueue[Entry](limit + 1, keepOrd)
              heaps.put(key.copy(), heap)
            }
          }
          if (spilled == null) {
            if (heap.size < limit) {
              heap.add((e._1, e._2, row.copy().asInstanceOf[UnsafeRow]))
            } else if (keepOrd.compare(e, heap.peek()) > 0) {
              heap.poll()
              heap.add((e._1, e._2, row.copy().asInstanceOf[UnsafeRow]))
            }
          }
        }
      }
      if (spilled != null) spilled
      else {
        import scala.jdk.CollectionConverters._
        heaps.values().iterator().asScala.flatMap(_.iterator().asScala.map(_._3))
      }
    }
  }

  /** Degraded path: all heap contents + the unconsumed remainder go
    * through a spillable ExternalSorter keyed (keyBytes, score, tie);
    * equal keys come out adjacent, best score first, so one forward walk
    * emits the first k rows per key. Memory is bounded by the sorter's
    * spill threshold, not by key cardinality.
    */
  private def spillPath(
      heaps: java.util.HashMap[UnsafeRow, java.util.PriorityQueue[Entry]],
      rest: Iterator[InternalRow], pending: InternalRow,
      keyProj: UnsafeProjection, evalEntry: InternalRow => Entry,
      takeSmallest: Boolean, limit: Int): Iterator[InternalRow] = {
    type K = (Array[Byte], Double, Long)
    val ord: Ordering[K] = new Ordering[K] {
      def compare(a: K, b: K): Int = {
        val ab = a._1; val bb = b._1
        val n = math.min(ab.length, bb.length)
        var i = 0
        while (i < n) {
          val c = java.lang.Byte.compare(ab(i), bb(i))
          if (c != 0) return c
          i += 1
        }
        if (ab.length != bb.length) return ab.length - bb.length
        val c = if (takeSmallest) java.lang.Double.compare(a._2, b._2)
                else java.lang.Double.compare(b._2, a._2) // best first
        if (c != 0) c else java.lang.Long.compare(a._3, b._3)
      }
    }
    val sorter = new ExternalSorter[K, UnsafeRow, UnsafeRow](
      TaskContext.get(), None, None, Some(ord))
    import scala.jdk.CollectionConverters._
    val fromHeaps = heaps.entrySet().iterator().asScala.flatMap { kv =>
      val kb = kv.getKey.getBytes
      kv.getValue.iterator().asScala.map(e => ((kb, e._1, e._2), e._3))
    }
    val fromRest = (Iterator.single(pending) ++ rest).flatMap { row =>
      val e = evalEntry(row)
      if (e == null) Iterator.empty
      else {
        // keyProj reuses its output buffer, and getBytes on an exact-size
        // UnsafeRow returns the LIVE backing array — clone, or every
        // inserted key aliases one mutating buffer
        val kb = keyProj(row).getBytes.clone()
        Iterator.single(((kb, e._1, e._2), row.copy().asInstanceOf[UnsafeRow]))
      }
    }
    sorter.insertAll(fromHeaps ++ fromRest)
    heaps.clear()
    var curKey: Array[Byte] = null
    var emitted = 0
    val out = sorter.iterator.flatMap { case ((kb, _, _), row) =>
      if (curKey == null || !java.util.Arrays.equals(curKey, kb)) {
        curKey = kb; emitted = 0
      }
      emitted += 1
      if (emitted <= limit) Iterator.single(row: InternalRow) else Iterator.empty
    }
    CompletionIterator[InternalRow, Iterator[InternalRow]](out, sorter.stop())
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

object TopKPerKey {
  /** Install the strategy on a running session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(TopKStrategy)) {
      spark.experimental.extraStrategies = cur :+ TopKStrategy
    }
  }

  /** Keep the k rows with the largest (or smallest) `scoreCol` per key
    * group. Name-based: attributes are resolved here against the child's
    * analyzed output (the Spark 4 Column bridge yields lazy column nodes
    * the analyzer will not resolve inside a foreign logical node).
    * `tieBreakCol` (long-valued; smaller kept first on equal scores)
    * makes the output row set deterministic; `maxKeys` bounds the heap
    * map per partition before degrading to the spillable sort.
    */
  def apply(df: DataFrame, keyCols: Seq[String], scoreCol: String, k: Int,
            smallest: Boolean = false, tieBreakCol: Option[String] = None,
            maxKeys: Int = 4 << 20): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val out = classic.queryExecution.analyzed.output
    def attr(n: String): Attribute = out.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not in ${out.map(_.name)}"))
    val plan = TopKPerKeyPlan(keyCols.map(attr), attr(scoreCol), k, smallest,
      tieBreakCol.map(attr), maxKeys, classic.queryExecution.analyzed)
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }
}
