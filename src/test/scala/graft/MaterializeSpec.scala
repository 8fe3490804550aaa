package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import graft.operators.Graph
import graft.plans.Materialize
import graft.plans.Materialize.CheckpointOps

/** The materialization seam itself (r15): capture-hook mechanics, the
  * chainable checkpoint, and the shard-capped block key's skip logic.
  */
class MaterializeSpec extends SparkTestBase {
  import spark.implicits._

  test("withCapture sees every seam crossed, tagged; hook restores after") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, LogicalPlan)]
    val out = Materialize.withCapture((tag, p) => seen += tag -> p) {
      val a = Materialize.checkpoint(docs.select(col("doc_id")), "spec.a")
      val b = docs.select(col("doc_id"), length(col("text")).as("n"))
        .checkpointAt("spec.b")
      a.join(b, "doc_id").count()
    }
    assert(out > 0)
    assert(seen.map(_._1).toSeq == Seq("spec.a", "spec.b"))
    // the captured plan is the PRE-materialization subtree (a real scan,
    // not the opaque LogicalRDD the checkpoint leaves behind)
    assert(!PlanBoundedness.bounded(seen.head._2),
      "a corpus scan behind the seam must stay visible as unbounded")
    // hook is uninstalled afterwards: a new seam records nothing
    Materialize.checkpoint(docs.limit(1), "spec.after")
    assert(seen.size == 2, "capture must not outlive withCapture")
    // the per-round graph loops, forced distributed: every round crosses
    // the seam (the seed round plus one per hop/round; kCore's seed is
    // its canonical edge set)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d")
    val seeds = Seq(1L).toDF("v")
    val tags = scala.collection.mutable.ArrayBuffer.empty[String]
    Materialize.withCapture((tag, _) => tags += tag) {
      Graph.bfsHops(edges, "s", "d", seeds, "v", maxHops = 2, driverRows = 0).collect()
      Graph.ssspBounded(edges.withColumn("w", lit(1L)), "s", "d", "w", seeds, "v",
        maxHops = 2, driverRows = 0).collect()
      Graph.labelPropagation(edges, "s", "d", rounds = 2, driverRows = 0).collect()
      Graph.kCore(edges, "s", "d", k = 2L, rounds = 2, driverRows = 0).collect()
    }
    val perRound = tags.filter(_.endsWith(".round")).groupBy(identity).view.mapValues(_.size).toMap
    assert(perRound == Map("Graph.bfsHops.round" -> 3, "Graph.ssspBounded.round" -> 3,
      "Graph.labelPropagation.round" -> 3, "Graph.kCore.round" -> 2), tags)
  }

  test("nested withCapture restores the OUTER hook, not null") {
    val one = Seq(1L).toDF("x")
    val outer = scala.collection.mutable.ArrayBuffer.empty[String]
    val inner = scala.collection.mutable.ArrayBuffer.empty[String]
    Materialize.withCapture((tag, _) => outer += tag) {
      Materialize.withCapture((tag, _) => inner += tag) {
        Materialize.checkpoint(one, "in")
      }
      Materialize.checkpoint(one, "out")
    }
    assert(inner.toSeq == Seq("in") && outer.toSeq == Seq("out"))
  }

  test("shardCappedBlocks skips the count join when every label fits the cap") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val blocked = Queries.shardCappedBlocks(emb, "__blk", maxBlock = 100000)
    // no label exceeds 100k at sf0.001 -> raw-label key, join-free plan
    assert(blocked.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty,
      "below the cap the block key must not cost a join")
    val n = emb.count()
    assert(blocked.count() == n)
    assert(blocked.select(countDistinct(col("__blk"))).head.getLong(0) ==
      emb.select(countDistinct(col("label"))).head.getLong(0),
      "raw-label key partitions rows exactly like label#0")
  }

  test("shardCappedBlocks drops null labels identically in all three cap regimes") {
    // latent fork closed in r16: the join-free fast path used to KEEP
    // null-label rows while both shard paths (inner USING(label)) and
    // the inner-join oracle dropped them. A fixture with nulls must now
    // come out identical under every regime.
    val emb = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"),
      (5L, null.asInstanceOf[String]), (6L, null.asInstanceOf[String])
    ).toDF("vec_id", "label")
    val fast = Queries.shardCappedBlocks(emb, "__blk", maxBlock = 100)
    val shard = Queries.shardCappedBlocks(emb, "__blk", maxBlock = 2)
    val open = Queries.shardCappedBlocks(emb, "__blk", maxBlock = 2,
      maxDriverLabels = 1)
    for ((df, regime) <- Seq(fast -> "fast", shard -> "shard", open -> "open-world")) {
      val ids = df.select(col("vec_id")).as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 4L),
        s"$regime regime must drop exactly the null-label rows, kept $ids")
      assert(df.filter(col("__blk").isNull).count() == 0,
        s"$regime regime must never emit a null block key")
    }
  }

  test("shardCappedBlocks engages modulus shards above the cap, partition-equivalently") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val biggest = emb.groupBy(col("label")).count()
      .orderBy(col("count").desc).head()
    val (bigLabel, bigN) = (biggest.get(0), biggest.getLong(1))
    val cap = (bigN / 2).toInt.max(1) // forces >= 2 shards for the top label
    val blocked = Queries.shardCappedBlocks(emb, "__blk", maxBlock = cap)
    assert(blocked.queryExecution.optimizedPlan.collect { case j: Join => j }.nonEmpty,
      "above the cap the shard join must engage")
    assert(blocked.count() == emb.count(), "sharding never drops rows")
    val shardsOfBig = blocked.filter(col("label") === bigLabel)
      .select(countDistinct(col("__blk"))).head.getLong(0)
    val expected = (bigN + cap - 1) / cap
    assert(shardsOfBig == expected,
      s"top label must split into ceil($bigN/$cap)=$expected shards, got $shardsOfBig")
    // shards are a refinement of labels: every block key maps to one label
    val violations = blocked.groupBy(col("__blk"))
      .agg(countDistinct(col("label")).as("nl"))
      .filter(col("nl") > 1).count()
    assert(violations == 0, "a shard key must never mix labels")
  }
}
