package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

class SkewExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("salted sum/count equals plain aggregation") {
    val df = (1 to 10000).map(i => (if (i <= 9000) 1L else i.toLong, i.toDouble))
      .toDF("k", "v") // key 1 holds 90% of rows — the hot-key shape
    val plain = df.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSumCount(df, $"k", "v", $"v", salts = 16)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet == plain.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(n == plain(k)._2)
      assert(math.abs(s - plain(k)._1) < 1e-6)
    }
  }

  test("salted join equals plain join") {
    val large = (1 to 5000).map(i => (if (i % 10 != 0) 7L else i.toLong, i)).toDF("k", "v")
    val medium = (1L to 500L).map(k => (k, s"m$k")).toDF("k", "name")
    val plain = large.join(medium, "k").count()
    val salted = Skew.saltedJoin(large, medium, "k", col("v"), salts = 8).count()
    assert(salted == plain)
  }

  test("adaptive salted join: hot key salted, cold keys plain, result equals plain join") {
    val large = (1 to 5000).map(i => (if (i % 10 != 0) 7L else i.toLong, i)).toDF("k", "v")
    val medium = (1L to 500L).map(k => (k, s"m$k")).toDF("k", "name")
    val plain = large.join(medium, "k").select("k", "v", "name")
      .as[(Long, Int, String)].collect().toSet
    // key 7 has 4500 rows; every other key has 1 — only 7 clears the bar
    val adaptive = Skew.saltedJoinAdaptive(large, medium, "k", col("v"),
      salts = 8, hotKeyMinRows = 100, sampleFraction = 0.5)
    assert(adaptive.select("k", "v", "name").as[(Long, Int, String)]
      .collect().toSet == plain)
    val plan = adaptive.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"the hot branch must be salted; plan:\n$plan")

    // no keys hot -> degenerates to exactly the plain join (no salt column)
    val uniform = (1 to 2000).map(i => (i.toLong % 500, i)).toDF("k", "v")
    val noneHot = Skew.saltedJoinAdaptive(uniform, medium, "k", col("v"),
      salts = 8, hotKeyMinRows = 1000, sampleFraction = 0.5)
    assert(!noneHot.queryExecution.executedPlan.toString.contains("__salt"))
    assert(noneHot.count() == uniform.join(medium, "k").count())

    // everything hot -> degrades to the unconditional salted join, same rows
    val allHot = Skew.saltedJoinAdaptive(large, medium, "k", col("v"),
      salts = 4, hotKeyMinRows = 1, sampleFraction = 1.0, maxHotKeys = 3)
    assert(allHot.select("k", "v", "name").as[(Long, Int, String)]
      .collect().toSet == plain)
  }

  test("non-broadcast salted join shuffles on (key, salt) — hot key spread over tasks") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val large = (1 to 5000).map(i => (if (i % 10 != 0) 7L else i.toLong, i)).toDF("k", "v")
      val medium = (1L to 500L).map(k => (k, s"m$k")).toDF("k", "name")
      val joined = Skew.saltedJoin(large, medium, "k", col("v"), salts = 8)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"broadcast disabled -> shuffle join; plan:\n$plan")
      assert(plan.contains("__salt"),
        s"join keys must include the salt so the hot key splits; plan:\n$plan")
      assert(joined.count() == large.join(medium, "k").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("adaptive salted join x AQE skew split: no double mitigation, equal results") {
    // AQE's own skew-join split and the planner-side salt must compose:
    // salting spreads the hot key over (key, salt) partitions BEFORE the
    // exchange, so AQE should find nothing left to split — and the
    // result must equal the plain join with AQE on or off.
    // Threshold calibration, MEASURED by a SkewProbe run (map-output
    // bytesByPartitionId on this exact fixture): the hot key carries 90%
    // of 200k rows -> the unsalted join's hot post-shuffle partition is
    // ~962KB; after 16 salts the largest partition (3 colliding salts)
    // is ~279KB. 512KB sits in that gap with ~1.9x margin on both sides
    // (the toy analogue of the 256MB production default).
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "512KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val large = (1 to 200000)
        .map(i => (if (i % 10 != 0) 7L else i.toLong, i)).toDF("k", "v")
      val medium = (1L to 500L).map(k => (k, s"m$k")).toDF("k", "name")
      val plain = large.join(medium, "k").select("k", "v", "name")
        .as[(Long, Int, String)].collect().toSet

      // positive control: the UNSALTED shuffle join on this fixture does
      // trip AQE's skew split under these thresholds (key 7 carries 180k
      // rows in one post-shuffle partition), proving the thresholds bite
      // NOTE: inspect the SAME Dataset that executed — .as/.select build
      // a fresh QueryExecution whose AQE plan is never finalized
      val unsalted = large.join(medium, Seq("k")).select("k", "v", "name")
        .as[(Long, Int, String)]
      assert(unsalted.collect().toSet == plain)
      val unsaltedPlan = unsalted.queryExecution.executedPlan.toString
      assert(unsaltedPlan.contains("skew=true"),
        s"control must show AQE's skew split; plan:\n$unsaltedPlan")

      // the salted join: equal rows, and NO AQE skew split on top of the
      // salt (the hot key's rows are already spread over `salts` keys)
      val adaptive = Skew.saltedJoinAdaptive(large, medium, "k", col("v"),
        salts = 16, hotKeyMinRows = 100, sampleFraction = 0.5)
        .select("k", "v", "name").as[(Long, Int, String)]
      assert(adaptive.collect().toSet == plain)
      val saltedPlan = adaptive.queryExecution.executedPlan.toString
      assert(!saltedPlan.contains("skew=true"),
        s"salting already spread the hot key — AQE must find nothing to " +
          s"split (no double mitigation); plan:\n$saltedPlan")

      // AQE off: same operator, same rows
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val aqeOff = Skew.saltedJoinAdaptive(large, medium, "k", col("v"),
        salts = 16, hotKeyMinRows = 100, sampleFraction = 0.5)
        .select("k", "v", "name").as[(Long, Int, String)]
      assert(aqeOff.collect().toSet == plain)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
