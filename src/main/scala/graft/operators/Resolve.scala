package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity resolution: blocked pairwise fuzzy matching. The quadratic
  * all-pairs comparison is confined to caller-chosen blocks (the
  * standard ER contract — a block key bounds the fan-out the same way
  * `maxBucket` bounds LSH buckets; at 100 TB the block key comes from a
  * coarse cluster/phonetic/LSH signature, never a full cross join), and
  * the expensive string distance runs only inside a block after the
  * cheap equality prune.
  */
object Resolve {

  /** All within-block pairs (id_a < id_b) whose `nameCol` edit distance
    * is at most `maxEdit`, with the distance attached for downstream
    * scoring. The levenshtein runs post-join inside whole-stage codegen
    * in its THRESHOLD form — the banded DP visits O(len * maxEdit)
    * cells and abandons early instead of filling the O(len^2) matrix,
    * returning -1 past the threshold (then filtered); pairs inside the
    * threshold get the exact distance, so the result set is identical
    * to the unbounded form. The join itself shuffles only
    * (block, id, name).
    */
  def blockedFuzzyPairs(df: DataFrame, idCol: String, blockCol: String,
                        nameCol: String, maxEdit: Int): DataFrame = {
    // pin the pair stage's parallelism (the simhashPairs pattern): the
    // in-block join's OUTPUT dwarfs its input — Σ|block|² candidate rows
    // each paying a levenshtein — which byte-based planning cannot see,
    // so a small probe side broadcasts and the whole pair loop runs in
    // the scan's task count (r18 JobProfile: 3 tasks, wall == task time
    // at sf0.1; the imbalance persists at any scale because one input
    // split fans out to GBs of pairs). An explicit-count repartition on
    // the block key is exempt from AQE coalescing and spreads the pair
    // generation across the shuffle width.
    val shuffleN = df.sparkSession.sessionState.conf.defaultNumShufflePartitions
    val a = df.select(col(blockCol).as("block"), col(idCol).as("id_a"),
      col(nameCol).as("__name_a"))
      .repartition(shuffleN, col("block"))
    val b = df.select(col(blockCol).as("block"), col(idCol).as("id_b"),
      col(nameCol).as("__name_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("edit_dist",
        levenshtein(col("__name_a"), col("__name_b"), maxEdit).cast("long"))
      .filter(col("edit_dist").between(0, maxEdit))
      .select("id_a", "id_b", "block", "edit_dist")
  }
}
