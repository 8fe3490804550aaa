package graft

import org.apache.spark.sql.SparkSession
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

  test("extensions register SQL functions with tight-loop implementations") {
    // getOrCreate returns the suite session, which Bench.session builds
    // without extensions, so use runtime registration (the next test
    // checks the builder path installs the same functions)
    val s2 = spark
    GraftExtensions.register(s2)
    val r = s2.sql(
        """SELECT float_vector_dot(array(cast(1.0 as float), cast(2.0 as float)),
          |                        array(cast(3.0 as float), cast(4.0 as float))) AS d,
          |       simhash60(array('a','b')) AS sh,
          |       size(minhash_signature(array('x','y'), 8)) AS mk,
          |       size(word_shingles(array('a','b','c'), 2)) AS ws,
          |       signature_agreement(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS sa
          |""".stripMargin).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) != 0L)
    assert(r.getInt(2) == 8)
    assert(r.getInt(3) == 2)
    assert(r.getLong(4) == 2L)

    val r2 = s2.sql(
        """SELECT size(sorted_id_pairs(array(3L, 1L, 2L))) AS np,
          |       ngram_stats(array('a','b','a','b'), 2).total AS nt,
          |       z_value(array(3L, 1L), 2, 2) AS z
          |""".stripMargin).collect().head
    assert(r2.getInt(0) == 3)
    assert(r2.getLong(1) == 3L)

    // aggregate + hash-derivation registrations
    val r3 = s2.sql(
        """SELECT md5_bits('probe', 2) AS mb,
          |       max_by_row(named_struct('v', x), named_struct('q', q)).v AS best
          |FROM VALUES (1L, 10L), (2L, 30L), (3L, 20L) AS t(x, q)
          |""".stripMargin).collect().head
    assert(r3.getLong(0) >= 0L && r3.getLong(0) <= 255L)
    assert(r3.getLong(1) == 2L, "argmax by q picks x=2")
    assert(r2.getLong(2) == 7L)
  }

  test("builder extension and runtime register install the same SQL functions") {
    val injected =
      org.apache.spark.sql.graftbridge.InjectedFunctions.names(new GraftExtensions)
    // a fresh session of the suite's context: its registry holds only the
    // builtins, and register's confs and rules stay off the suite session
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val builtins = registry.listFunction().map(_.funcName).toSet
    GraftExtensions.register(fresh)
    val registered = registry.listFunction().map(_.funcName).toSet -- builtins
    assert(registered.contains("nfc_normalize") && registered.contains("max_by_row"))
    assert(injected == registered,
      s"builder only: ${injected -- registered}; register only: ${registered -- injected}")
  }
}
