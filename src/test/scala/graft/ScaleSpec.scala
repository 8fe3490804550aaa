package graft

import org.apache.spark.sql.functions._
import graft.operators.Sinks

/** Plan-shape regression tests: the physical properties that keep the
  * engine viable at 100 TB must hold, not just the row values —
  * shuffle-free bucketed joins, partition pruning, filter pushdown,
  * broadcast dims, whole-stage codegen over the custom dot product.
  */
class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("writeBucketedAt (external path): co-located join plans without a shuffle exchange") {
    Seq("bk_ext_left", "bk_ext_right").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt_ext_").toString
    val left = (1 to 5000).map(i => (i.toLong % 300, i)).toDF("k", "v1")
    val right = (1 to 4000).map(i => (i.toLong % 300, i * 2)).toDF("k", "v2")
    Sinks.writeBucketedAt(left, "bk_ext_left", "k", 8, s"$dir/left")
    Sinks.writeBucketedAt(right, "bk_ext_right", "k", 8, s"$dir/right")
    val joined = spark.table("bk_ext_left")
      .join(spark.table("bk_ext_right").hint("merge"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"externally-located bucketed join must not shuffle; plan:\n$plan")
    // the files really landed at the explicit path, not the warehouse
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/left"))
      .anyMatch(p => p.toString.contains("part-")), "parquet under the external path")
    assert(joined.count() == left.join(right, "k").count(),
      "bucketed round trip preserves the join cardinality")
  }

  test("snapshot diff over bucketed snapshots plans without a shuffle exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt_snap_").toString
    val prev = (1 to 5000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val cur = (3 to 5002).map(i => (i.toLong, if (i % 10 == 0) "CHANGED" else s"v$i"))
      .toDF("k", "v")
    Sinks.writeBucketedAt(prev, "bk_snap_prev", "k", 8, s"$dir/prev")
    Sinks.writeBucketedAt(cur, "bk_snap_cur", "k", 8, s"$dir/cur")
    val diff = Sinks.diffSnapshots(
      spark.table("bk_snap_prev"), spark.table("bk_snap_cur").hint("merge"), Seq("k"))
    val plan = diff.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed snapshot diff must not shuffle; plan:\n$plan")
    val byChange = diff.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange("added") == 2 && byChange("removed") == 2)
    assert(byChange("changed") == 500)
  }

  test("partitioned write prunes partitions at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_").toString + "/events"
    Sinks.writePartitioned(Tables.events(spark, sf("sf0.001")), dir, "event_type")
    val one = spark.read.parquet(dir).filter(col("event_type") === "click")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter must prune directories; plan:\n$scan")
    val all = spark.read.parquet(dir).count()
    assert(one.count() < all)
  }

  test("s1 scan pushes all predicates and prunes columns") {
    val q = Queries.all.find(_.name == "s1_discover_scan").get
    val plan = q.fn(spark, sf("sf0.001")).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(o_orderdate") &&
      plan.contains("GreaterThanOrEqual(o_totalprice"))
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderdate"))
  }

  test("q5 join chain broadcasts the dimension sides") {
    val q = Queries.all.find(_.name == "q5_join_chain").get
    val plan = q.fn(spark, sf("sf0.001")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"dims must broadcast; plan:\n$plan")
  }

  test("q7 broadcasts the nation legs and pushes the shipdate range to the scan") {
    val q = Queries.all.find(_.name == "q7_nation_volume").get
    val exec = q.fn(spark, sf("sf0.001")).queryExecution
    val plan = exec.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"nation legs must broadcast; plan:\n$plan")
    val scan = exec.sparkPlan.collectLeaves().map(_.toString)
      .find(_.contains("lineitem")).getOrElse("")
    assert(scan.contains("l_shipdate"),
      s"shipdate range must reach the lineitem scan; scan:\n$scan")
  }

  test("event transitions and bigram LM scan their source exactly once") {
    // context totals must derive from the aggregated pair table (window
    // sum), not from a second aggregation of the source — which would
    // duplicate the whole scan+window subtree in the plan
    val trans = graft.ops.EventAnalytics.eventTransitions(
      Tables.events(spark, sf("sf0.001")), "user_id", "ts", "event_type", "event_id")
    val tPlan = trans.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(tPlan).length == 1,
      s"event log must scan once:\n$tPlan")
    assert("Exchange hashpartitioning".r.findAllIn(tPlan).length <= 3,
      s"expected <=3 hash exchanges:\n$tPlan")
    val lm = graft.ops.TextAnalysis.bigramLm(
      Tables.documents(spark, sf("sf0.001")), "text")
    val lmPlan = lm.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(lmPlan).length == 1,
      s"corpus must scan once:\n$lmPlan")
  }

  test("no query ever plans a cartesian product") {
    Queries.all.foreach { q =>
      val plan = q.fn(spark, sf("sf0.001")).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product:\n$plan")
    }
  }

  test("keepBest and duplicateSpans plan sort-free (aggregate, not window)") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val kb = graft.ops.Dedup.keepBest(
      docs.withColumn("q", col("doc_id") % 100), "doc_id", "text", "q")
    val kbPlan = kb.queryExecution.executedPlan.toString
    assert(!kbPlan.contains("Window"), s"keepBest must not window:\n$kbPlan")
    assert(!kbPlan.contains("Sort "), s"keepBest must not sort:\n$kbPlan")
    assert(kbPlan.contains("Aggregate"),
      s"keepBest is one max_by aggregation:\n$kbPlan")

    val spans = graft.ops.Dedup.duplicateSpans(docs, "doc_id", "text", 8)
    val spPlan = spans.queryExecution.executedPlan.toString
    assert(!spPlan.contains("Window"), s"duplicateSpans must not window:\n$spPlan")
    assert(!spPlan.contains("Sort "), s"duplicateSpans must not sort:\n$spPlan")

    // the profile's split-aggregation design: string min/max in the same
    // agg as the multi-column distinct would demote the Expand's grouped
    // phase to SortAggregate and sort rows x profiled-columns
    val prof = graft.ops.DataQuality.profile(
      graft.Tables.orders(spark, sf("sf0.001")),
      Seq("o_custkey", "o_orderkey", "o_orderstatus"))
    val prPlan = prof.queryExecution.executedPlan.toString
    assert(!prPlan.contains("Sort ["),
      s"profile must not sort the expanded input:\n$prPlan")
  }

  test("multi-band LSH plans bucket equi-joins with broadcast probes, never all-pairs") {
    import spark.implicits._
    val corpus = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i + j).toFloat))).toDF("vec_id", "embedding")
    val df = graft.ops.Similarity.lshTopK(corpus, corpus.limit(5), "vec_id",
      "embedding", dim = 8, k = 3, bits = 6, bands = 4, multiProbe = true)
    val exec = df.queryExecution.executedPlan
    val plan = exec.toString
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"probe side must broadcast; plan:\n$plan")
    // the candidate join is keyed on (band, bucket) — a hash join, not NLJ
    assert(plan.contains("band"), s"bucket join key missing; plan:\n$plan")
    // the hot-bucket guard is an aggregate + anti-join and selection is
    // the bounded-heap operator, so the ONLY sort left is the rank
    // window over the <= k survivors per probe — never the corpus
    // bucket table or the candidate set
    val sorts = exec.collect { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.size <= 1,
      s"only the k-row rank window may sort; found ${sorts.size}:\n$plan")
    assert(plan.contains("TopKPerKey"),
      s"candidate selection must use the bounded-heap operator; plan:\n$plan")
    assert(df.count() > 0)
  }

  test("runtime bloom-filter pruning injects might_contain on a selective shuffle join") {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creation side must fit UNDER this cap; application side must be
      // OVER the scan-size floor — tiny test tables need both relaxed
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Tables.lineitem(spark, sf("sf0.001"))
      val dim = Tables.orders(spark, sf("sf0.001"))
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 200000)
        .select("o_orderkey")
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .select("l_orderkey", "l_quantity")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"bloom filter must be injected on the fact scan; plan:\n$plan")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("signature expressions stay inside whole-stage codegen (no fallback)") {
    val df = spark.range(100).select(
      col("id"),
      graft.functions.Expressions.minhash_signature(
        array(concat(lit("tok"), col("id") % 7), concat(lit("w"), col("id") % 3)), 8).as("mh"),
      graft.functions.Expressions.simhash60(
        array(concat(lit("tok"), col("id") % 7))).as("sh"),
      graft.functions.Expressions.hyperplane_signatures(
        array((col("id") % 5).cast("float"), lit(1f)), 2, 4, 2).as("hp"),
      graft.functions.Expressions.ngram_stats(
        array(concat(lit("t"), col("id") % 7), lit("w"), lit("w")), 2).as("ng"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"),
      s"signing projection must stay in a codegen span; plan:\n$plan")
    assert(df.count() == 100)
  }

  test("z_value and bloom probe participate in whole-stage codegen") {
    val bloom = graft.functions.Expressions.LongBloom.sized(100, 0.01)
    (0L until 50L).foreach(bloom.add)
    val bc = spark.sparkContext.broadcast(bloom)
    val df = spark.range(200).select(
      graft.functions.Expressions.z_value(
        array(col("id") % 64, (col("id") * 7) % 64), 2, 6).as("z"),
      graft.functions.Expressions.bloom_might_contain(col("id"), bc).as("in_bloom"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"),
      s"layout/probe projection must stay in a codegen span; plan:\n$plan")
    assert(df.filter(col("in_bloom")).count() >= 50, "no false negatives")
  }

  test("gopher rules and URL normalization plan shuffle-free") {
    // both are row-level batteries — any Exchange in the plan means a
    // scan-speed operator silently grew a shuffle
    for (name <- Seq("gopher_quality_rules", "url_normalize")) {
      val plan = SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$name must stream at scan speed; plan:\n$plan")
      assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"),
        s"$name expected a codegen span; plan:\n$plan")
    }
  }

  test("linear scorer and line dedup plan bounded exchanges, no sort") {
    // quality_score_linear: explode + (doc,bucket) agg + doc agg — two
    // doc-keyed exchanges, both map-side combinable, nothing else
    val score = SparkEntry.queries("quality_score_linear")(spark, sf("sf0.001"))
    val scoreExec = score.queryExecution.executedPlan
    val scoreExchanges = scoreExec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(scoreExchanges.size <= 2,
      s"scorer must shuffle at most twice:\n$scoreExec")
    assert(!scoreExec.toString.contains("Window"),
      s"scorer must not window:\n$scoreExec")

    // dedup_lines_within_doc: (doc,line) agg + doc agg — the explode
    // never leaves the document, so again at most two exchanges and the
    // reassembly is an array_sort inside the aggregate, not a SortExec
    val lines = SparkEntry.queries("dedup_lines_within_doc")(spark, sf("sf0.001"))
    val linesExec = lines.queryExecution.executedPlan
    val lineExchanges = linesExec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(lineExchanges.size <= 2,
      s"line dedup must shuffle at most twice:\n$linesExec")
    val sorts = linesExec.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.isEmpty,
      s"line reassembly must sort inside the aggregate, not the plan:\n$linesExec")
  }

  test("custom dot product participates in whole-stage codegen") {
    // non-literal input so the projection cannot constant-fold away
    val df = spark.range(3).select(
      array(col("id").cast("float"), lit(2f)).as("a"),
      array(lit(3f), lit(4f)).as("b"))
      .select(col("a"), graft.functions.Expressions.float_vector_dot(col("a"), col("b")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"),
      s"expected codegen span; plan:\n$plan")
    assert(df.filter(col("d") === 11.0).count() == 1) // id=1: 1*3 + 2*4
  }

  test("nfc_normalize composes combining sequences inside codegen") {
    import graft.functions.Expressions.nfc_normalize
    val df = spark.range(3).select(
      concat(lit("éclair"), col("id").cast("string")).as("raw"))
      .select(col("raw"), nfc_normalize(col("raw")).as("nfc"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"),
      s"expected codegen span; plan:\n$plan")
    val row = df.filter(col("nfc") === "\u00e9clair0").head()
    assert(row.getString(0).length == 8 && row.getString(1).length == 7,
      "combining pair composed to one precomposed codepoint")
    // already-NFC text passes through byte-identical (the fast path)
    assert(spark.range(1).select(nfc_normalize(lit("plain ascii")))
      .head().getString(0) == "plain ascii")
  }

  test("sweep-line and streak operators keep bounded exchange counts") {
    // sweep-line pair: netting agg on (key, t) + key window = 2 exchanges,
    // and the final rollup reuses the window's key partitioning
    def exchanges(name: String): Int =
      SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution
        .executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
    assert(exchanges("max_concurrency") <= 2,
      "max_concurrency must net map-side then window once")
    assert(exchanges("interval_coverage") <= 2,
      "interval_coverage must net map-side then window once")
    // streaks: distinct + user window; islands/rollup reuse the user hash
    assert(exchanges("activity_streaks") <= 2,
      "activity_streaks must reuse the user partitioning after the window")
    // attribution: one user window + one channel rollup
    assert(exchanges("attribution_last_touch") <= 2,
      "attribution_last_touch is one window plus one rollup exchange")
  }

  test("session-additions keep bounded exchange counts and scan shapes") {
    def exchanges(name: String): Int =
      SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution
        .executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
    // cusum: per-key mean agg (broadcast back) + ONE key-ordered window
    assert(exchanges("cusum_drift") <= 3,
      "cusum is one mean aggregate plus one ordered window")
    // OLS: per-key min window + one moment aggregation on the same key
    assert(exchanges("trend_ols") <= 2,
      "olsTrend reuses the key partitioning for window and aggregate")
    // priority sampling: ONE group window carrying (id, grp, w, q) only
    assert(exchanges("priority_sample") <= 2,
      "prioritySample is one rank window plus its threshold pass")
    // U-attribution: user window -> refined (user, conv) window ->
    // conv join on the same user key -> channel rollup
    assert(exchanges("attribution_position") <= 5,
      "positionAttribution must stay in the windows-plus-one-join envelope")
    // binary ANN: corpus side never shuffles before the candidate join
    // (probes broadcast); the two rank windows share the probe key
    val binPlan = SparkEntry.queries("ann_binary_hamming")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(binPlan.contains("BroadcastExchange"),
      "probe side of the Hamming prefilter must broadcast")
    // JL projection is a narrow map: zero shuffles
    assert(exchanges("embedding_random_projection") == 0,
      "randomProjection must plan as a pure narrow projection")
    // hilbert is a narrow projection exactly like zorder
    assert(exchanges("hilbert_value") == 0,
      "hilbertColumn must not shuffle")
  }

  test("closing-batch queries keep bounded exchange counts") {
    def exchanges(name: String): Int =
      SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution
        .executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
    // rank window + rollup reuse one key partitioning each
    assert(exchanges("trimmed_mean") <= 2)
    assert(exchanges("gini_dispersion") <= 2)
    // weekly lag: one (week, type) aggregate + one type-keyed window
    assert(exchanges("weekly_growth") <= 2)
    // both windows share the (type, hour-of-day) partitioning
    assert(exchanges("seasonal_residual_outliers") <= 2)
    // one conditional-count aggregate + a broadcast one-row totals join
    assert(exchanges("histogram_drift") <= 2)
    // drift alarms: per-key mean + ONE ordered window (plus its
    // broadcast-back); the lang screen is a pure narrow projection
    assert(exchanges("cusum_drift") <= 3)
    assert(exchanges("text_lang_consistency") == 0,
      "per-half language ID must not shuffle")
  }

  test("pareto_front and er_fuzzy_pairs execute their explicit-count repartition") {
    // REPARTITION_BY_NUM is exempt from AQE coalescing: losing it (e.g. a
    // repartition by column alone) lets AQE collapse the row-count-heavy
    // sweep or pair stage back to a few tasks (r18's serial hot spots)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val aqe = new AdaptiveSparkPlanHelper {}
    val width = spark.sessionState.conf.defaultNumShufflePartitions
    Seq("pareto_front", "er_fuzzy_pairs").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      df.collect() // finalizes the adaptive plan
      val pinned = aqe.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }
      assert(pinned.nonEmpty, s"$name lost its explicit-count repartition")
      assert(pinned.forall(_.numPartitions == width), s"$name repartition width")
    }
  }

  test("small-graph personalized_pagerank answers from a LocalRelation (driver path)") {
    val df = SparkEntry.queries("personalized_pagerank")(spark, sf("sf0.001"))
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"expected the driver twin's LocalRelation, got: ${leaves.map(_.nodeName)}")
  }

  test("prefix-filtered set-sim join: banded vocab rank, no forced broadcast") {
    val ab = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (1 to 300).map(i =>
        (i.toLong, s"w${i % 40} w${(i + 1) % 40} w${(i + 2) % 40} w${(i + 3) % 40} w${i % 7}"))
        .toDF("doc_id", "text")
      val out = graft.ops.Dedup.prefixFilteredJaccardPairs(
        docs, "doc_id", "text", 3, 0.5)
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"vocab + verification joins must be free to shuffle; plan:\n$plan")
      // the checkpointed `ordered` table hides the vocab subtree from
      // this plan — assert the banded rank on the subtree directly
      val sh = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("shingle"))
      val vocabPlanHost = sh.groupBy(col("shingle"))
        .agg(count(lit(1)).as("__df"))
        .withColumn("__band", substring(col("shingle"), 1, 1))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__df"), col("__band")).orderBy(col("shingle"))
      val banded = vocabPlanHost.withColumn("__code", row_number().over(w))
      assert(banded.queryExecution.executedPlan.toString
          .contains("hashpartitioning(__df"),
        "the vocabulary rank must partition by (df, band), never one global sort")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", ab)
  }

  test("marginMineAnn carries no forced broadcast: plan shuffles when broadcast is off") {
    // With the broadcast threshold disabled a broadcast() HINT would
    // still force a BroadcastExchange (hints override the threshold) —
    // so "zero BroadcastExchange under threshold -1" proves the cell
    // join and both mass re-joins are free to shuffle at corpus scale,
    // exactly what the operator's scale contract promises.
    val ab = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aab = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = Tables.embeddings(spark, sf("sf0.001"))
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      // candidate stage: visible pre-checkpoint, so the cell join's
      // exchanges can be asserted directly
      val cand = graft.ops.Similarity.annCandidates(
        src, tgt, "vec_id", "embedding", kCells = 4, nProbe = 2, iters = 2)
      cand.collect()
      val candPlan = cand.queryExecution.executedPlan.toString
      assert(!candPlan.contains("BroadcastExchange"),
        s"the cell join must not force a broadcast; plan:\n$candPlan")
      assert(candPlan.contains("Exchange hashpartitioning(cell"),
        s"the cell join must shuffle both sides on the cell id; plan:\n$candPlan")
      // full mining entry: the mass re-joins downstream of the
      // checkpoint are likewise hint-free
      val out = graft.ops.Similarity.marginMineAnn(
        src, tgt, "vec_id", "embedding", k = 4, kCells = 4, nProbe = 2)
      out.collect() // execute so AQE finalizes the plan
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"no join in the ANN mining path may force a broadcast; plan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", ab)
      aab match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("corpus-derived re-join sides carry no broadcast hint: plans shuffle when broadcast is off") {
    // Same proof shape as the marginMineAnn test above: a broadcast()
    // HINT overrides the disabled threshold, so a hash exchange on the
    // join key under threshold -1 proves the corpus-sized side (a token
    // dictionary, a per-group stats table, a domain blocklist) is free
    // to shuffle at scale instead of being forced through the driver.
    // The surviving BroadcastExchanges in these plans are the
    // documented 1-row aggregates (corpus totals), which are bounded by
    // construction.
    val ab = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aab = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Seq(
        (1L, "alpha beta gamma alpha", "web"),
        (2L, "beta gamma delta beta beta", "web"),
        (3L, "alpha delta epsilon", "books"),
        (4L, "gamma gamma epsilon alpha", "books"),
        (5L, "delta alpha beta", "web")).toDF("doc_id", "text", "source")
      def assertShuffles(df: org.apache.spark.sql.DataFrame, key: String,
                         what: String): Unit = {
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains(s"Exchange hashpartitioning($key"),
          s"$what must be free to shuffle on $key; plan:\n$plan")
      }
      assertShuffles(
        graft.ops.TextAnalysis.ccnetPplBuckets(docs, "doc_id", "text", "source"),
        "term", "ccnet unigram-dictionary join")
      assertShuffles(
        graft.ops.TextAnalysis.cooccurrenceLift(docs, "doc_id", "text",
          minSupport = 1L),
        "term_a", "cooccurrence df re-join")
      val vals = (1 to 400).map(i => (s"g${i % 7}", i.toDouble)).toDF("g", "v")
      assertShuffles(graft.ops.Features.winsorize(vals, "g", "v", 5, 95),
        "g", "winsorize bounds re-join")
      val urls = Seq((1L, "http://www.ads.example.com/x"),
        (2L, "https://ok.org/y")).toDF("id", "url")
      val block = Seq("example.com").toDF("domain")
      assertShuffles(graft.ops.Urls.blocklistFilter(urls, "id", "url", block),
        "suffix", "blocklist suffix join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", ab)
      aab match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }
}
