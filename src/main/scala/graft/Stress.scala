package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress evidence for the heavy operators: generates synthetic
  * corpora at 1x and 10x the sf0.1 row counts and measures how runtime
  * grows, asserting near-linear scaling (10x rows => at most ~12x time)
  * and that no plan degenerates (no CartesianProduct; no SortAggregate —
  * the hash-aggregate demotion this engine hunts down — anywhere in the
  * executed plan).
  *
  * Synthetic shape notes (deterministic arithmetic, never rand()):
  *  - documents: ~40-100 words per doc drawn from a vocabulary sized so
  *    trigram-shingle saturation matches the harness corpus at EVERY
  *    scale (vocab ~ cube root of total shingles => df stays ~constant;
  *    a fixed vocab would make the inverted index quadratically denser
  *    at 10x and measure the corpus, not the operator). Every 50th doc
  *    is a near-dup of its predecessor so pair output stays non-empty
  *    and linear.
  *  - customers: TPC-H-shaped Customer#%09d names, 25 nations — the
  *    er_fuzzy_pairs block key (nation | name substring) works as-is.
  *  - lineitem-like: zipf-ish key skew (5% of rows on one key) so the
  *    adaptive salted join's hot path is actually exercised.
  *
  * Run: sbt "runMain graft.Stress" (optionally SPARK_GRAFT_STRESS_BASE
  * to change the 1x doc count). Prints one JSON line per operator plus
  * a PASS/FAIL summary; exits nonzero on any violation.
  */
object Stress {

  private def docsAt(spark: SparkSession, n: Long): DataFrame = {
    // vocab ~ (total shingles / target df)^(1/3): harness sf0.1 has
    // ~5000 docs x ~70 shingles at df~10 with a ~33-word vocabulary;
    // this reproduces that saturation at any n
    val vocab = math.max(8L, math.cbrt(n * 70.0 / 10.0).round)
    spark.range(n)
      .withColumn("base",
        when(pmod(col("id"), lit(50)) === 49, col("id") - 1).otherwise(col("id")))
      .select(col("id").as("doc_id"), concat(
        concat_ws(" ", expr(
          s"transform(sequence(1, 40 + CAST(base % 60 AS INT)), " +
          s"p -> concat('w', pmod(hash(base, p), $vocab)))")),
        when(pmod(col("id"), lit(50)) === 49,
          concat(lit(" uniq"), col("id"))).otherwise(lit(""))).as("text"))
  }

  /** Fixed-degree circulant graph on n vertices (the bench graph
    * family's shape): edges i->i+1, i->i+2, i->7i+3 (mod n), so degree
    * stays ~6 and triangle/wedge volume is edge-linear at every scale.
    */
  private def circulantEdges(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("src"),
        pmod(col("id") + 1, lit(n)).as("dst"))
      .union(spark.range(n).select(col("id").as("src"),
        pmod(col("id") + 2, lit(n)).as("dst")))
      .union(spark.range(n).select(col("id").as("src"),
        pmod(col("id") * 7 + 3, lit(n)).as("dst")))

  private def customersAt(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(col("id"), lit(25)).as("c_nationkey"))

  private def lineitemAt(spark: SparkSession, n: Long): (DataFrame, DataFrame) = {
    val keys = math.max(4L, n / 4)
    val li = spark.range(n).select(
      when(pmod(col("id"), lit(20)) === 0, lit(7L))
        .otherwise(pmod(col("id"), lit(keys))).as("l_orderkey"),
      (pmod(col("id"), lit(50)) + 1).cast("double").as("l_quantity"))
    val ord = spark.range(keys).select(col("id").as("l_orderkey"),
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        pmod(col("id"), lit(1000)).cast("int")).as("o_orderdate"))
    (li, ord)
  }

  /** (seconds best-of-2, output rows, executed plan string). Each run
    * starts from a cleared cache: operators persist their narrow
    * intermediates internally, and Spark's cache manager matches them
    * across cases by logical plan — measured times must not depend on
    * which case ran first.
    */
  /** Synthetic event log: 5 types, second-spaced timestamps, a
    * deterministic sawtooth value — the cusum/attribution/covariance
    * shape at any n. */
  private def eventsAt(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
      pmod(col("id"), lit(997)).as("user_id"),
      concat(lit("t"), pmod(col("id"), lit(5))).as("event_type"),
      (pmod(hash(col("id")), lit(1000)).cast("double") / 10.0 + 50.0).as("value"))

  /** Synthetic unit-cube embeddings, hash-deterministic per (id, dim). */
  private def embeddingsAt(spark: SparkSession, n: Long, dim: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(1, $dim), " +
        "p -> CAST(pmod(hash(id, p), 1000) / 500.0 - 1.0 AS FLOAT))")
        .as("embedding"))

  private def time(spark: SparkSession)(df: => DataFrame): (Double, Long, String) = {
    var rows = 0L
    var plan = ""
    val secs = (1 to 2).map { _ =>
      spark.catalog.clearCache()
      // construction is INSIDE the timed region: the iterative operators
      // (connected components' convergence loop, the adaptive join's
      // hot-key sample) do their heavy lifting eagerly while the
      // DataFrame is being built
      val t0 = System.nanoTime()
      val d = df
      rows = d.count()
      val s = (System.nanoTime() - t0) / 1e9
      plan = d.queryExecution.executedPlan.toString
      s
    }.min
    (secs, rows, plan)
  }

  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    spark.range(1000000L).selectExpr("sum(id)").collect() // warmup

    val baseDocs = sys.env.getOrElse("SPARK_GRAFT_STRESS_BASE", "5000").toLong
    val maxRatio = 12.0

    import graft.ops.{Dedup, Skew}
    import graft.operators.Resolve

    def erInput(n: Long): DataFrame =
      customersAt(spark, n).withColumn("block_key",
        concat_ws("|", col("c_nationkey"), substring(col("c_name"), 13, 3)))

    val cases: Seq[(String, Long => DataFrame)] = Seq(
      ("dedup_ngram_jaccard", n =>
        Dedup.ngramJaccardPairs(docsAt(spark, n), "doc_id", "text", 3, 0.1,
          maxDf = 10)),
      ("dedup_clusters", n =>
        Dedup.clustersFromPairs(
          Dedup.ngramJaccardPairs(docsAt(spark, n), "doc_id", "text", 3, 0.1,
            maxDf = 10),
          docsAt(spark, n), "doc_id")),
      ("dedup_span_exact", n =>
        Dedup.duplicateSpans(docsAt(spark, n), "doc_id", "text", 8)),
      ("er_fuzzy_pairs", n =>
        Resolve.blockedFuzzyPairs(erInput(n * 3), "c_custkey", "block_key",
          "c_name", 2)),
      ("skew_salted_join", n => {
        val (li, ord) = lineitemAt(spark, n * 120)
        Skew.saltedJoinAdaptive(li, ord, "l_orderkey", col("l_quantity"),
            salts = 8, hotKeyMinRows = 13, sampleFraction = 0.5)
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_lines"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      }),
      // per-row DOM parse must scale with corpus bytes, nothing else
      // (×40: at the base doc count the parse finishes inside the
      // fixed job-launch floor and the ratio measures nothing)
      ("html_to_text", n =>
        docsAt(spark, n * 40).select(
          graft.functions.Expressions.html_to_text(concat(
            lit("<html><head><script>x()</script></head><body><div id=m><p>"),
            col("text"), lit("</p></div></body></html>"))).as("t"))
          // the count must DEPEND on the parse result: a bare count over
          // an aggregate lets the optimizer prune the projection and
          // measure nothing
          .filter(length(col("t")) > 0)),
      // blocked kNN graph: block SIZE is held at ~200 while block COUNT
      // scales with n, so the per-block quadratic is a constant factor
      // and total runtime must track n — the exact contract the
      // operator's 100 TB story makes ("cap block sizes upstream")
      ("knn_graph_blocked", n => {
        val nBlocks = math.max(n / 200, 1L)
        val emb = spark.range(n).select(
          col("id").as("vec_id"),
          expr("transform(sequence(1, 16), " +
            "p -> CAST(pmod(hash(id, p), 97) AS FLOAT))").as("embedding"),
          pmod(col("id"), lit(nBlocks)).as("label"))
        graft.ops.Similarity.knnGraphBlocked(emb, "vec_id", "embedding",
          "label", 5)
      }),
      // the DISTRIBUTED min-label loop (driverRows=0 disables the
      // union-find driver path): fixed diameter-10 components, so round
      // count is constant and runtime must track edge volume
      ("components_distributed", n => {
        val e = spark.range(n * 4).select(
          col("id").as("src"),
          when(pmod(col("id"), lit(10)) === 9, col("id") - 9)
            .otherwise(col("id") + 1).as("dst"))
        graft.operators.Graph.connectedComponents(e, driverRows = 0)
      }),
      // the DISTRIBUTED closure loop (driverRows=0 disables the
      // small-hierarchy driver path): linear in path count at a fixed
      // 2-level depth
      ("ancestor_closure", n => {
        val sup = spark.range(n * 4).select(
          concat(lit("S"), col("id")).as("child"),
          concat(lit("N"), pmod(col("id"), lit(25))).as("parent"))
        val nat = spark.range(25L).select(
          concat(lit("N"), col("id")).as("child"),
          concat(lit("R"), pmod(col("id"), lit(5))).as("parent"))
        graft.operators.Graph.ancestorClosure(sup.unionByName(nat),
          driverRows = 0)
      }),
      // within-doc line dedup: per-document work only (the explode never
      // leaves the doc), so runtime must track total line volume (x8 so
      // the base run clears the job-launch floor)
      ("dedup_lines_within_doc", n =>
        graft.ops.Dedup.dedupLinesWithinDoc(docsAt(spark, n * 8), "doc_id",
          transform(
            regexp_extract_all(lower(trim(col("text"))),
              lit("\\S+(?:\\s+\\S+)?"), lit(0)),
            c => regexp_replace(c, "\\s+", " ")))),
      // hashed-feature linear scorer: explode + two map-side-combinable
      // doc-keyed aggregations — token volume is the only driver
      ("quality_score_linear", n =>
        graft.ops.TextAnalysis.linearQualityScore(
          docsAt(spark, n * 8), "doc_id", "text", 64)),
      // PQ at a FIXED (m, subDim, kSub): every phase — fused Lloyd
      // rounds, code assignment, reconstruction error — is n x constant
      // work, so runtime must track the corpus (the codebook is model
      // state, not data)
      ("embedding_pq_codes", n => {
        val emb = spark.range(n * 4).select(
          col("id").as("vec_id"),
          expr("transform(sequence(1, 16), " +
            "p -> CAST(pmod(hash(id, p), 97) AS FLOAT))").as("embedding"))
        graft.ops.Similarity.pqCodes(emb, "vec_id", "embedding",
          m = 4, subDim = 4, kSub = 8, iters = 2)
      }),
      // cross-source span matrix: one span-digest aggregation (linear in
      // token volume) + a self-join of the tiny (span, source) count
      // table — source count is constant, so output stays bounded
      ("dedup_cross_source", n =>
        graft.ops.Dedup.crossSourceSpanMatrix(
          docsAt(spark, n * 4)
            .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(20)))),
          "doc_id", "text", "source", 8)),
      // length-bucketed batching: one exchange on the near-uniform
      // bucket key, two window passes — token counting dominates
      ("length_bucket_batches", n =>
        graft.ops.Splits.lengthBucketBatches(docsAt(spark, n * 8),
          "doc_id", "text", bucketWidth = 16, batchSize = 32)),

      // ---- round-11 additions: the heaviest BENCH queries' cores ----
      // (streaming entries are excluded by design: their cost is state
      //  store/checkpoint I/O per micro-batch, priced in BASELINE.md's
      //  round-11 note, not row-scaling behavior)

      // bounded SSSP over a fixed-degree circulant graph: 3 relaxation
      // rounds of one frontier join + min-aggregate each — edge-linear
      // per round, round count the contract (bench: sssp_bounded)
      ("sssp_bounded", n => {
        val e = circulantEdges(spark, n * 2)
        val seeds = spark.range(10L).select(col("id").as("n"))
        graft.operators.Graph.ssspBounded(
          e.withColumn("w", pmod(col("src") + col("dst"), lit(9)) + 1),
          "src", "dst", "w", seeds, "n", maxHops = 3)
      }),
      // bounded synchronous LPA, 3 rounds: adjacency join + mode
      // argmax per vertex per round (bench: label_propagation)
      ("label_propagation", n =>
        graft.operators.Graph.labelPropagation(
          circulantEdges(spark, n * 2), "src", "dst", rounds = 3)),
      // degree-oriented triangle counting on a fixed-degree graph:
      // wedge volume is sum(d^2) = edge-linear at constant degree
      // (bench: triangle_count)
      ("triangle_count", n =>
        graft.operators.Graph.triangleCounts(
          circulantEdges(spark, n * 2), "src", "dst")),
      // multi-source BFS, 3 hops (bench: bfs_hops)
      ("bfs_hops", n => {
        val e = circulantEdges(spark, n * 2)
        val seeds = spark.range(10L).select(col("id").as("n"))
        graft.operators.Graph.bfsHops(e, "src", "dst", seeds, "n", maxHops = 3)
      }),
      // PPJoin-family exact set-similarity join: prefix filtering keeps
      // candidate volume df-bounded, so runtime must track shingle
      // volume at the saturation-controlled vocabulary
      // (bench: setsim_prefix_join)
      ("setsim_prefix_join", n =>
        graft.ops.Dedup.prefixFilteredJaccardPairs(docsAt(spark, n), "doc_id",
          "text", 3, 0.5)),
      // margin-based bitext mining against a FIXED candidate pool: the
      // pair table is |src| x |pool| with the pool held at 200, so the
      // quadratic factor is constant and runtime must track src rows —
      // the operator's 100 TB contract (ANN prunes the pool upstream)
      // (bench: margin_mine_bitext)
      ("margin_mine_bitext", n => {
        def vecs(m: Long, tag: String) = spark.range(m).select(
          concat(lit(tag), col("id")).as("vec_id"),
          expr("transform(sequence(1, 16), " +
            "p -> CAST(pmod(hash(id, p), 97) AS FLOAT))").as("embedding"))
        graft.ops.Similarity.marginMine(vecs(n, "s"), vecs(200L, "t"),
          "vec_id", "embedding", k = 4)
      }),
      // candidate-bounded mining with BOTH sides scaling — the r12
      // broadcast fix's contract. kCells grows ~sqrt(union) (the IVF
      // operating point), so E[cell] and candidate volume per source
      // stay density-bounded; no all-pairs stage, no forced broadcast.
      // Assignment cost is n*kCells ~ n^1.5 in raw ops, but the cell
      // join and mass aggregates — the shuffle-bearing stages — carry
      // only |S|*nProbe*E[cell] pairs, linear at this operating point
      // (bench: margin_mine_ann)
      ("margin_mine_ann", n => {
        val src = embeddingsAt(spark, n, 16).select(
          col("vec_id") * 2 as "vec_id", col("embedding"))
        val tgt = embeddingsAt(spark, n, 16).select(
          col("vec_id") * 2 + 1 as "vec_id", col("embedding"))
        val kCells = math.max(8, math.sqrt(2.0 * n).round.toInt / 2)
        graft.ops.Similarity.marginMineAnn(src, tgt, "vec_id", "embedding",
          k = 4, kCells = kCells, nProbe = 2, iters = 1)
      }),
      // BPE trainer with the frequency-capped working vocabulary: the
      // distinct-word table is n (every doc a unique word) but the cap
      // holds the per-round re-segmentation at maxVocab words, so
      // rounds x working-set cost is SCALE-INVARIANT — only the one-off
      // vocabulary aggregate grows with the corpus
      // (spec: MiningSpec bpeMergeRounds; no bench query trains)
      ("bpe_merge_rounds", n => {
        val docs = spark.range(n).select(
          concat(lit("w"), col("id"), lit("end")).as("text"))
        graft.ops.TextAnalysis.bpeMergeRounds(docs, "text", rounds = 4,
          maxVocab = 5000)
      }),
      // Pareto front: per-x max (map-side combinable) + composed local
      // fronts before the global sweep — distinct-x volume dominates
      // (bench: pareto_front)
      ("pareto_front", n =>
        graft.ops.Features.paretoFront(
          spark.range(n * 40).select(
            pmod(col("id"), lit(n * 10)).as("x0"),
            pmod(hash(col("id")), lit(100000)).as("y0")),
          "x0", "y0")),
      // bigram LM counts: explode to bigrams (token-linear), aggregate,
      // window over the AGGREGATED vocab-sized table (bench: bigram_lm)
      ("bigram_lm", n =>
        graft.ops.TextAnalysis.bigramLm(docsAt(spark, n * 8), "text")),
      // cluster representatives: near-dup pairs -> min-label components
      // -> sort-free per-cluster argmax; pair volume is LSH-bounded and
      // component diameter is fixed by the every-50th-dup shape
      // (bench: dedup_cluster_reps)
      ("dedup_cluster_reps", n =>
        graft.ops.Dedup.clusterRepresentatives(
          graft.ops.Dedup.ngramJaccardPairs(docsAt(spark, n), "doc_id",
            "text", 3, 0.1, maxDf = 10),
          docsAt(spark, n).withColumn("q", length(col("text"))),
          "doc_id", "q")),
      ("setsim_containment_join", n =>
        Dedup.containmentPairs(docsAt(spark, n), "doc_id", "text", 3,
          thresholdPermille = 300, maxDf = 10)),
      ("cusum_drift", n =>
        graft.ops.DataQuality.cusumAlarms(eventsAt(spark, n * 12),
          "event_type", "ts", "event_id", "value",
          slackMicro = 20000000L, thresholdMicro = 200000000L)),
      ("link_pred_ra", n =>
        graft.operators.Graph.resourceAllocation(
          circulantEdges(spark, n), "src", "dst", minCommon = 2L)),
      // driverRows = 0 forces the DISTRIBUTED rounds — the path that
      // actually runs at cluster scale (the driver twin is the small-
      // graph shortcut, bit-identical but not what we stress)
      ("hits_distributed", n =>
        graft.operators.Graph.hitsScaled(circulantEdges(spark, n),
          spark.range(n).select(col("id").as("node")),
          iterations = 2, driverRows = 0)),
      ("priority_sample", n =>
        graft.ops.Splits.prioritySample(
          docsAt(spark, n * 12).withColumn("w", length(col("text")).cast("long"))
            .withColumn("grp", pmod(col("doc_id"), lit(5))),
          "doc_id", "text", "w", "grp", k = 50)),
      ("attribution_position", n =>
        graft.ops.EventAnalytics.positionAttribution(eventsAt(spark, n * 12),
          "user_id", "ts", "event_id", "event_type", "t0",
          windowSec = 3600L, "value")),
      ("gram_pca_direction", n =>
        graft.ops.Similarity.topPrincipalDirection(
          embeddingsAt(spark, n * 12, 16), "vec_id", "embedding",
          dim = 16, iterations = 3)),
      ("ann_binary_hamming", n =>
        graft.ops.Similarity.binaryHammingTopK(
          embeddingsAt(spark, n * 12, 64),
          embeddingsAt(spark, 10, 64), "vec_id", "embedding",
          dim = 64, k = 5, candidates = 20)))

    // optional comma-separated subset (same contract as Bench/Verify)
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(cases)(names => cases.filter(c => names(c._1)))

    var failures = 0
    val results = selected.map { case (name, mk) =>
      val (t1, r1, _) = time(spark)(mk(baseDocs))
      val (t10, r10, plan10) = time(spark)(mk(baseDocs * 10))
      // guard against sub-noise baselines: ratios over a 50 ms floor
      val ratio = t10 / math.max(t1, 0.05)
      val degenerate =
        (if (plan10.contains("CartesianProduct")) Seq("CartesianProduct") else Nil) ++
        (if (plan10.contains("SortAggregate")) Seq("SortAggregate") else Nil)
      val ok = ratio <= maxRatio && degenerate.isEmpty
      if (!ok) failures += 1
      // scaling exponent e in t ~ rows^e over the 10x step: log10 of the
      // time ratio. e <= 1 is sub/linear; the 12x cap equals e <= 1.08.
      val exponent = math.log10(ratio)
      println(f"""{"op":"$name","sec_1x":$t1%.2f,"sec_10x":$t10%.2f,""" +
        f""""ratio":$ratio%.2f,"exp":$exponent%.2f,"rows_1x":$r1,"rows_10x":$r10,""" +
        s""""degenerate":[${degenerate.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""ok":$ok}""")
      (name, ok)
    }
    println(s"""{"stress":"${if (failures == 0) "PASS" else "FAIL"}",""" +
      s""""failed":${results.filterNot(_._2).map("\"" + _._1 + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
