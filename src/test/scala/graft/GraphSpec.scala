package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Clean, Graph}
import graft.schema.TmdbCorpus

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  /** An adaptive graph op's driver twin (under the default driverRows)
    * and its distributed loop (driverRows = 0) must return the same
    * schema, nullability included, and the same rows.
    */
  private def assertTwins(op: Int => DataFrame): Unit = {
    val (driver, dist) = (op(100000), op(0))
    assert(driver.schema == dist.schema)
    assert(rows(driver) == rows(dist))
  }

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("J3: edge builder drops edges with missing endpoints (MATCH semantics)") {
    val cands = Seq((1L, 10L), (1L, 99L), (7L, 10L)).toDF("head_id", "tail_id")
    val heads = Seq(Tuple1(1L), Tuple1(2L)).toDF("head_id")
    val tails = Seq(Tuple1(10L), Tuple1(11L)).toDF("tail_id")
    val edges = Graph.buildEdges(cands, heads, tails, "head_id", "tail_id", "HAS")
    val got = edges.select("relationship_id").as[String].collect().toSet
    assert(got == Set("1-10"), "missing head 7 and missing tail 99 must drop")
    assert(edges.columns.toSet ==
      Set("head_id", "tail_id", "relationship_id", "rel_type"))
  }

  test("J3: duplicate candidates collapse to one edge (first-write-wins)") {
    val cands = Seq((1L, 10L), (1L, 10L)).toDF("head_id", "tail_id")
    val nodes1 = Seq(Tuple1(1L)).toDF("head_id")
    val nodes2 = Seq(Tuple1(10L)).toDF("tail_id")
    assert(Graph.buildEdges(cands, nodes1, nodes2, "head_id", "tail_id", "HAS").count() == 1)
  }

  test("J4: company ancestor closure 21 -> 20 -> 10 with depths") {
    val companies = Clean.companyDetails(TmdbCorpus.companies(spark))
    val edges = companies.filter(col("parent_company_id").isNotNull)
      .select(col("company_id").as("child"), col("parent_company_id").as("parent"))
    val closure = Graph.ancestorClosure(edges)
    val got = closure.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((21L, 20L, 1), (20L, 10L, 1), (21L, 10L, 2)))
  }

  test("J4: cycle terminates (the reference would loop forever)") {
    val cyclic = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("child", "parent")
    val closure = Graph.ancestorClosure(cyclic, maxDepth = 10)
    // every node reaches every node (incl itself) exactly once
    assert(closure.count() == 9)
    assert(closure.groupBy("child", "ancestor").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("J4: driver fast path and distributed loop agree row for row") {
    // diamond (per-path multiplicity at depth 2) + a cycle + a dup edge
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), // diamond: 1 reaches 4 twice
      (5L, 6L), (6L, 5L),                     // 2-cycle
      (7L, 8L), (7L, 8L)                      // duplicate edge
    ).toDF("child", "parent")
    assertTwins(d => Graph.ancestorClosure(edges, driverRows = d))
    // per-path multiplicity preserved: (1, 4, 2) appears twice
    assert(Graph.ancestorClosure(edges).collect()
      .count(r => (r.getLong(0), r.getLong(1), r.getInt(2)) == (1L, 4L, 2)) == 2)
  }

  test("J4: recursive-CTE idiom agrees with the iterative closure") {
    // acyclic forest (WITH RECURSIVE has no cycle guard by design — the
    // iterative twin's maxDepth covers that case)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // 3-deep chain
      (5L, 3L),                     // second child joining mid-chain
      (6L, 7L)                      // separate pair
    ).toDF("child", "parent")
    edges.createOrReplaceTempView("graft_spec_hier_edges")
    val rcte = spark.sql("""
      WITH RECURSIVE anc(child, ancestor, depth) AS (
        SELECT child, parent, 1 FROM graft_spec_hier_edges
        UNION ALL
        SELECT a.child, e.parent, a.depth + 1
        FROM anc a JOIN graft_spec_hier_edges e ON e.child = a.ancestor
      )
      SELECT child, ancestor, depth FROM anc""")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(sorted(rcte) == sorted(Graph.ancestorClosure(edges)))
  }

  test("pageRankScaled: cycle fixed point, dangling mass, exact integers") {
    // 3-cycle, outdeg 1 everywhere: base is the exact fixed point
    // (150000000 + (85 * 1e9) div 100 = 1e9)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cn = Seq(1L, 2L, 3L).toDF("node")
    val r = Graph.pageRankScaled(cyc, cn, iterations = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 1000000000L, 2L -> 1000000000L, 3L -> 1000000000L))

    // A -> B, C isolated, 2 iterations by hand:
    // iter1: A=C=150000000 (base share), B=150000000+850000000=1000000000
    // iter2: B receives 85% of A's iter-1 rank: 150000000 +
    //        (85 * 150000000) div 100 = 277500000; A=C=150000000
    // (B's own mass leaves the system - dangling, documented)
    val ab = Seq((10L, 20L)).toDF("src", "dst")
    val abn = Seq(10L, 20L, 30L).toDF("node")
    val r2 = Graph.pageRankScaled(ab, abn, iterations = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r2 == Map(10L -> 150000000L, 20L -> 277500000L, 30L -> 150000000L))

    // checkpointing mid-run changes nothing
    val r3 = Graph.pageRankScaled(cyc, cn, iterations = 5, checkpointInterval = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r3 == r)

    // driver fast path == distributed rounds, bit for bit (integer
    // arithmetic is order-independent), incl. a non-node destination
    // and a non-node source that must carry no rank
    val messy = Seq((1L, 2L), (1L, 99L), (98L, 1L), (2L, 1L)).toDF("src", "dst")
    val mn = Seq(1L, 2L, 3L).toDF("node")
    assertTwins(d => Graph.pageRankScaled(messy, mn, iterations = 3, driverRows = d))
  }

  test("pageRankWeightedScaled: weights steer the flow; driver == distributed") {
    // A has two out-edges: w=3 to B, w=1 to C. Round 1:
    // B gets 15e7 + 85% of (1e9*3) div 4 = 15e7 + 637500000 = 787500000
    // C gets 15e7 + 85% of (1e9*1) div 4 = 15e7 + 212500000 = 362500000
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val n = Seq(1L, 2L, 3L).toDF("node")
    val r = Graph.pageRankWeightedScaled(e, n, iterations = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 150000000L, 2L -> 787500000L, 3L -> 362500000L))

    // equal weights degenerate to the unweighted walk exactly when
    // rank*w div sw has no extra truncation (w=1 everywhere: identical)
    val eu = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val rw = Graph.pageRankWeightedScaled(eu, n, iterations = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val ru = Graph.pageRankScaled(eu.select(col("src"), col("dst")), n,
      iterations = 4).collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(rw == ru)

    // driver fast path == distributed rounds bit for bit
    val big = Seq((1L, 2L, 5L), (2L, 3L, 2L), (3L, 1L, 7L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    assertTwins(d => Graph.pageRankWeightedScaled(big, n, iterations = 3, driverRows = d))

    // an int-typed weight column ranks exactly like the long-typed one,
    // on the driver and the distributed path
    val bigInt = big.withColumn("w", col("w").cast("int"))
    Seq(100000, 0).foreach { d =>
      assert(rows(Graph.pageRankWeightedScaled(bigInt, n, iterations = 3, driverRows = d)) ==
        rows(Graph.pageRankWeightedScaled(big, n, iterations = 3, driverRows = d)))
    }
  }

  test("personalizedPageRankScaled: seed restart by hand; driver == distributed") {
    // seed {1} on 1 -> 2 -> 3, 1 iteration by hand:
    // rank0 = (1e9, 0, 0); iter1: node1 = baseShare only = 150000000,
    // node2 = 0 + 85% of (1e9 div 1) = 850000000, node3 = 0
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val n = Seq(1L, 2L, 3L).toDF("node")
    val s1 = Seq(1L).toDF("node")
    val r = Graph.personalizedPageRankScaled(e, n, s1, iterations = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 150000000L, 2L -> 850000000L, 3L -> 0L))

    // driver fast path == distributed rounds bit for bit: duplicate
    // seeds collapse (distinct), a seed outside the node set is ignored,
    // non-node sources carry no rank, non-node destinations drop
    val messy = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 99L), (98L, 2L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 1L, 3L, 77L).toDF("node")
    assertTwins(d => Graph.personalizedPageRankScaled(messy, n, seeds, iterations = 3,
      driverRows = d))

    // every node a seed: the personalized entry is the global one, row
    // for row, on both paths (the premise of their shared loop)
    Seq(100000, 0).foreach { d =>
      assert(rows(Graph.personalizedPageRankScaled(messy, n, n, iterations = 3,
        driverRows = d)) == rows(Graph.pageRankScaled(messy, n, iterations = 3,
        driverRows = d)))
    }
  }

  test("hitsScaled: star graph by hand, checkpoint invariance, edgeless zeros") {
    // 1 -> {2,3,4}, 5 -> 2, 6 isolated; two rounds by hand (scale 1e6):
    // r1 auth sums (2:2e6, 3:1e6, 4:1e6) -> norm (2:1e6, 3:5e5, 4:5e5);
    //    hub sums (1:2e6, 5:1e6)         -> norm (1:1e6, 5:5e5)
    // r2 auth sums (2:1.5e6, 3:1e6, 4:1e6) -> (2:1e6, 3:666666, 4:666666);
    //    hub sums (1:2333332, 5:1e6)       -> (1:1e6, 5:428571)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L)).toDF("src", "dst")
    val n = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("node")
    val r = Graph.hitsScaled(e, n, iterations = 2)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(
      1L -> (1000000L, 0L), 2L -> (0L, 1000000L), 3L -> (0L, 666666L),
      4L -> (0L, 666666L), 5L -> (428571L, 0L), 6L -> (0L, 0L)))

    // checkpointing mid-run changes nothing (integer rounds are exact)
    val rc = Graph.hitsScaled(e, n, iterations = 2, checkpointInterval = 1)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(rc == r)

    // edgeless graph: both maxes are 0 -> all scores 0, no division error
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val z = Graph.hitsScaled(none, n, iterations = 1)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(z == n.as[Long].collect().map(_ -> ((0L, 0L))).toMap)

    // driver fast path == distributed rounds bit for bit, incl. edges
    // with a non-node endpoint (dropped on both paths)
    val messy = e.union(Seq((1L, 99L), (98L, 2L)).toDF("src", "dst"))
    assertTwins(d => Graph.hitsScaled(messy, n, iterations = 2, driverRows = d))
  }

  test("resourceAllocation: hand-computed hub discount, adjacency excluded") {
    // star 1-{2,3,4} plus 2-5, 3-5; degrees 1:3, 2:2, 3:2, 4:1, 5:2
    // pair (2,3): via center 1 (1e9 div 3) + center 5 (1e9 div 2)
    // pair (1,5): via centers 2 and 3 (5e8 each)
    // pairs (2,4),(3,4): single wedge -> cut by minCommon=2
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L), (3L, 5L))
      .toDF("src", "dst")
    val out = Graph.resourceAllocation(e, "src", "dst", minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set((2L, 3L, 2L, 833333333L), (1L, 5L, 2L, 1000000000L)))

    // an adjacent pair sharing neighbors must NOT be predicted: close
    // the 2-3 edge and the triangle corners disappear from the output
    val e2 = e.union(Seq((2L, 3L)).toDF("src", "dst"))
    val out2 = Graph.resourceAllocation(e2, "src", "dst", minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out2.contains((2L, 3L)))
  }

  test("K3: upsert converges on re-run (idempotent dup-tolerant sink)") {
    val batch = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("id", "v")
    val once = Graph.upsertNodes(batch, None, "id")
    assert(once.count() == 2)
    val twice = Graph.upsertNodes(batch, Some(once), "id")
    assert(twice.count() == 2, "re-running the same batch must not grow the table")
    // first write wins: the original value survives
    val v1 = twice.filter(col("id") === 1).select("v").as[String].collect().head
    assert(v1 == "a")
  }

  test("connected components: chains, cliques, singletons") {
    // component {1,2,3} via chain, {10,11} direct, 99 isolated
    val edges = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("node")
    val comps = Graph.connectedComponents(edges, extraNodes = Some(nodes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("connected components converge on a long path within diameter rounds") {
    val path = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val comps = Graph.connectedComponents(path)
    assert(comps.select("component").distinct().count() == 1)
    assert(comps.filter(col("component") =!= 1L).isEmpty)
    // diameter 59: the distributed loop must run past any fixed round
    // budget and still reach the driver union-find's labels
    val long = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    assertTwins(d => Graph.connectedComponents(long, driverRows = d))
    assert(Graph.connectedComponents(long).filter(col("component") =!= 1L).isEmpty)
  }

  test("components: union-find and min-label agree on random graphs") {
    val rng = new scala.util.Random(11)
    (0 until 3).foreach { trial =>
      val n = 40 + trial * 20
      val pairs = (0 until n).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val edges = pairs.toDF("src", "dst")
      val nodes = (0L until n.toLong).toDF("node")
      // three independent solvers must agree: driver union-find (the
      // small-graph fast path), the distributed min-label loop
      // (driverRows=0 forces it), and a plain reachability walk here
      assertTwins(d => Graph.connectedComponents(edges,
        extraNodes = Some(nodes), driverRows = d))
      val byUnionFind = Graph.connectedComponents(edges, extraNodes = Some(nodes))
        .as[(Long, Long)].collect().toMap
      val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
      def reach(v: Long): Set[Long] = Iterator.iterate((Set(v), Set(v))) {
        case (seen, frontier) =>
          val next = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
          (seen ++ next, next)
      }.dropWhile(_._2.nonEmpty).next()._1
      assert(byUnionFind == (0L until n.toLong).map(v => v -> reach(v).min).toMap,
        s"trial $trial: algorithms disagree")
    }
  }

  test("iterative operators clean owned temp work dirs down to the final table") {
    import scala.jdk.CollectionConverters._
    // the round stores land under the shared scratch root
    def roundDirs: Set[java.nio.file.Path] =
      java.nio.file.Files.list(Scratch.root).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-rounds")).toSet
    val before = roundDirs

    // driverRows = 0: both ops take the distributed round loop
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    assert(Graph.connectedComponents(edges, driverRows = 0).count() == 5)
    val parents = Seq((2L, 1L), (3L, 2L)).toDF("child", "parent")
    assert(Graph.ancestorClosure(parents, driverRows = 0).count() == 3)

    // tiny graphs checkpoint every round after the first in memory: the
    // results are self-contained, so the owned work dirs are removed
    // entirely
    val created = roundDirs -- before
    assert(created.isEmpty, s"leaked owned work dirs: $created")
  }

  test("the driver probe of a union input reuses its generated code on the next call") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // file scans, like the supplier and nation edges of j4_hierarchy: a
    // source of unknown size keeps the limit a probe would push down
    val dir = java.nio.file.Files.createTempDirectory("graft_probe_").toString
    Seq(0L, 100L).foreach { from =>
      spark.range(from, from + 20)
        .select(col("id").as("child"), (col("id") + 1).as("parent"))
        .write.parquet(s"$dir/$from")
    }
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Graph.ancestorClosure(spark.read.parquet(s"$dir/0")
        .union(spark.read.parquet(s"$dir/100")), maxDepth = 4).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles()
    val second = compiles()
    assert(second == 0, s"the second call compiled $second classes")
  }

  test("a small-graph distributed closure keeps only its result's checkpoint blocks") {
    // on a small graph every round after the first is localCheckpointed
    // in memory; once the closure is saved, the per-depth frontiers'
    // blocks are released at once instead of waiting for a GC to reach
    // the ContextCleaner
    val sc = spark.sparkContext
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("child", "parent")
    val before = sc.getPersistentRDDs.keySet
    val closure = Graph.ancestorClosure(chain, driverRows = 0)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"persisted RDDs left behind: $added")
    assert(closure.count() == 21)
  }

  test("binary node keys take the distributed loop and match the string-keyed run") {
    // Array[Byte] compares by reference in the driver twins' hash maps;
    // at the default driverRows the unhex-ed graph must still rank and
    // close exactly like its hex-string twin
    val e = Seq(("0A", "0B"), ("0B", "0C"), ("0C", "0A"), ("0A", "0C"), ("0D", "0A"))
      .toDF("src", "dst")
    val n = Seq("0A", "0B", "0C", "0D").toDF("node")
    def unhexed(df: DataFrame) = df.select(df.columns.map(c => unhex(col(c)).as(c)): _*)
    def hexed(df: DataFrame, keys: String*) =
      df.select(df.columns.map(c => if (keys.contains(c)) hex(col(c)).as(c) else col(c)): _*)
    assert(rows(hexed(Graph.pageRankScaled(unhexed(e), unhexed(n), iterations = 3),
      "node")) == rows(Graph.pageRankScaled(e, n, iterations = 3)))
    val parents = e.toDF("child", "parent")
    assert(rows(hexed(Graph.ancestorClosure(unhexed(parents), maxDepth = 4),
      "child", "ancestor")) == rows(Graph.ancestorClosure(parents, maxDepth = 4)))
  }

  test("null node keys take the distributed loop: closure, PageRank and HITS twins agree") {
    // a driver twin's hash map matches a null key, the distributed
    // equi-joins never do: a null parent must not chain to a null
    // child, a null source must pass no rank on, and the null node's
    // HITS row must drop as in the distributed final inner join
    val parents = Seq((Some(1L), None), (None, Some(2L))).toDF("child", "parent")
    assertTwins(d => Graph.ancestorClosure(parents, driverRows = d))
    val e = Seq((Some(1L), Some(2L)), (None, Some(1L)), (Some(2L), None), (Some(2L), Some(1L)))
      .toDF("src", "dst")
    val n = Seq(Some(1L), Some(2L), None).toDF("node")
    assertTwins(d => Graph.pageRankScaled(e, n, iterations = 3, driverRows = d))
    assertTwins(d => Graph.pageRankWeightedScaled(e.withColumn("w", lit(2L)), n,
      iterations = 3, driverRows = d))
    assertTwins(d => Graph.hitsScaled(e, n, iterations = 2, driverRows = d))
  }

  test("K8: delete-by-key anti-join rewrite") {
    val t = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("movie_id", "v")
    val victims = Seq(Tuple1(2L)).toDF("movie_id")
    assert(Graph.deleteByKey(t, victims, "movie_id").count() == 2)
  }

  test("kCore: peeling cascades along a tail; the clique survives") {
    // 4-clique {1,2,3,4} with a path tail 4-5-6: k=2 peels 6 (deg 1)
    // in round 1, which drops 5 to deg 1 and peels it round 2
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val r1 = Graph.kCore(edges, "src", "dst", k = 2L, rounds = 1)
      .as[(Long, Long)].collect().toMap
    // after one round only 6 is gone; 5 still holds its 4-edge
    assert(r1 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 1L))
    val r2 = Graph.kCore(edges, "src", "dst", k = 2L, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // fixpoint: further rounds change nothing
    val r3 = Graph.kCore(edges, "src", "dst", k = 2L, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == r2)
  }

  test("kCore: duplicate and reversed edges collapse before peeling") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val out = Graph.kCore(edges, "src", "dst", k = 2L, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("labelPropagation: mode label with smallest-label ties, per round") {
    // path 1-2-3: round 1: v1<-{2}, v2<-{1,3}->1 (tie->smallest),
    // v3<-{2}; round 2: v1<-{1}? no: v1's neighbor is v2 with label 1
    // -> v1=1; v2 neighbors {2,2}... labels(1)=2, labels(3)=2 -> v2=2;
    // v3 neighbor v2 label 1 -> 1
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r1 = Graph.labelPropagation(edges, "src", "dst", rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    val r2 = Graph.labelPropagation(edges, "src", "dst", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("labelPropagation: a clique collapses to its smallest label") {
    val edges = Seq((5L, 6L), (5L, 7L), (6L, 7L)).toDF("src", "dst")
    val out = Graph.labelPropagation(edges, "src", "dst", rounds = 2)
      .as[(Long, Long)].collect().toMap
    // round 1: 5<-{6,7}->6; 6<-{5,7}->5; 7<-{5,6}->5
    // round 2: 5<-{5,5}->5; 6<-{6,5}->5 (tie smallest); 7<-{6,5}->5
    assert(out == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("bounded iteratives: driver fast path == distributed rounds (r17)") {
    // a graph with a cycle (re-reachable vertices at higher hops), a
    // tail, an isolated seed, parallel/reversed duplicate edges, and a
    // weighted chord — every shape the driver twins must reproduce
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), // 4-cycle
      (4L, 5L), (5L, 6L),                     // tail
      (2L, 1L), (1L, 2L),                     // duplicates/reversed
      (7L, 8L)                                // separate component
    ).toDF("src", "dst")
    val seeds = Seq(1L, 42L).toDF("n") // 42 is not in the graph
    assertTwins(d => Graph.bfsHops(edges, "src", "dst", seeds, "n", maxHops = 3,
      driverRows = d))

    val wedges = Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (4L, 1L, 10L),
      (1L, 3L, 7L), (1L, 3L, 5L) // parallel edges, min collapses
    ).toDF("src", "dst", "w")
    assertTwins(d => Graph.ssspBounded(wedges, "src", "dst", "w", seeds, "n",
      maxHops = 3, driverRows = d))
    assertTwins(d => Graph.labelPropagation(edges, "src", "dst", rounds = 3,
      driverRows = d))
    assertTwins(d => Graph.kCore(edges, "src", "dst", k = 2L, rounds = 3,
      driverRows = d))

    // null ids must take the distributed loop, not NPE in the twin
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("src", "dst")
    val nOut = Graph.bfsHops(withNull, "src", "dst", Seq(1L).toDF("n"), "n",
      maxHops = 2).as[(Long, Long)].collect().toMap
    assert(nOut == Map(1L -> 0L, 2L -> 1L))
  }
}

