package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.functions.GraftFunctions.relationshipId
import graft.plans.Materialize.CheckpointOps

/** Graph-side operators (SURVEY.md §2.3/§2.5): the reference's keyed
  * existence probes, edge-building MATCH joins, and dup-tolerant CREATE
  * sinks, re-expressed as set-oriented joins + dedup.
  */
object Graph {

  /** Write-then-read materialization for iterative algorithms: one job
    * computes and lands each round on reliable storage, downstream rounds
    * read the files (an executor loss replays from the last round's files
    * where a truncated in-memory lineage would fail the job).
    *
    * The store owns a driver-local temp dir — addressed with an explicit
    * `file:` scheme so it never resolves against a configured cluster
    * default FS — and [[cleanupExcept]] deletes every intermediate round
    * after the final table is written, so repeated calls don't leak the
    * whole edge set per invocation.
    */
  private final class RoundStore(spark: SparkSession) {
    // temp rounds live under the shared scratch root (graft.Scratch):
    // the first save always lands on files, and round tables are
    // transient by construction, so tmpfs is the right tier. A kept
    // file-backed final round goes with the next Scratch.drain.
    private val base = "file:" + graft.Scratch.dir("graft-rounds")
    private val written = mutable.ArrayBuffer.empty[String]
    // the RDDs each in-memory round's localCheckpoint persisted, by round
    private val checkpointed =
      mutable.Map.empty[String, Iterable[org.apache.spark.rdd.RDD[_]]]
    // set after the FIRST save (always the algorithm's base table — edge
    // list / depth-1 frontier) lands on files: a tiny base means every
    // later round is tiny too, so rounds localCheckpoint in memory
    // instead of paying a parquet job-commit each. The checkpoint BOTH
    // materializes and TRUNCATES lineage — essential, because each round
    // references its predecessor twice (join + union), so un-truncated
    // round plans grow exponentially. The tradeoff is explicit: on a
    // sub-64MB graph an executor loss fails the operator and a retry
    // replays from the base files in seconds; big graphs keep
    // file-backed rounds (bounded replay, no executor-memory bet).
    private var small = false

    def save(df0: DataFrame, name: String): DataFrame = {
      // hygiene seam: each round's plan is truncated on landing (file
      // round or localCheckpoint) — hand the pre-materialization plan to
      // the gates' capture hook (see graft.plans.Materialize)
      val df = graft.plans.Materialize.record(df0, s"RoundStore.save($name)")
      if (small) {
        val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
        val before = checkpointedBytes
        val cp = df.localCheckpoint(true)
        val blocks = spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !beforeIds.contains(id) }.values
        // re-check per save: closures/frontiers can outgrow a small base
        // by orders of magnitude (e.g. deep ancestor closures), and every
        // oversized checkpointed round pins executor memory. Once one
        // round exceeds the budget, later rounds go back to files — and
        // the oversized round ITSELF is demoted: re-landed on files and
        // its checkpoint blocks released, so the memory budget is never
        // left exceeded by the round that tripped the check.
        if (checkpointedBytes - before > RoundStore.smallGraphBytes) {
          small = false
          val path = s"$base/$name"
          cp.write.mode("overwrite").parquet(path)
          written += name
          blocks.foreach(_.unpersist(blocking = false))
          spark.read.schema(cp.schema).parquet(path)
        } else {
          checkpointed(name) = blocks
          cp
        }
      } else {
        val path = s"$base/$name"
        df.write.mode("overwrite").parquet(path)
        written += name
        if (written.size == 1)
          small = tableBytes(path) < RoundStore.smallGraphBytes
        // the schema just written: reading it back infers nothing (no job)
        spark.read.schema(df.schema).parquet(path)
      }
    }

    /** Total bytes the block manager currently holds for cached RDDs —
      * sampled before/after an eager localCheckpoint, the delta is the
      * materialized size of that round (the store runs its rounds
      * sequentially, so nothing else caches concurrently).
      */
    private def checkpointedBytes: Long =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum

    private def tableBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }

    /** Drop every round except `keep` (the tables the returned frame
      * may still read): unpersist the other in-memory rounds' checkpoint
      * blocks, which would otherwise stay in the block manager until a
      * GC lets the ContextCleaner find them, and delete the other file
      * tables.
      */
    def cleanupExcept(keep: String*): Unit = {
      val ks = keep.toSet
      checkpointed.filterNot { case (name, _) => ks(name) }
        .values.flatten.foreach(_.unpersist(blocking = false))
      val conf = spark.sparkContext.hadoopConfiguration
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(conf)
      written.filterNot(ks).foreach { name =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/$name"), true)
      }
      // nothing kept -> drop the (now empty) work dir itself
      if (fs.exists(basePath) && fs.listStatus(basePath).isEmpty)
        fs.delete(basePath, false)
    }
  }

  private object RoundStore {
    /** Base-table size under which rounds stay in memory (64 MB). */
    val smallGraphBytes: Long = 64L << 20
  }

  /** Whether collected values of these key columns hash and compare by
    * value, as the driver twins' java.util maps and sets need. Binary
    * values collect as `Array[Byte]`, which compares by reference (also
    * inside a struct or array), where the distributed joins compare
    * bytes — so a binary-keyed graph takes the distributed loop.
    */
  private def valueKeyed(keys: org.apache.spark.sql.types.StructField*): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType}
    def binary(t: DataType): Boolean = t match {
      case BinaryType    => true
      case s: StructType => s.fields.exists(f => binary(f.dataType))
      case a: ArrayType  => binary(a.elementType)
      case _             => false
    }
    !keys.exists(k => binary(k.dataType))
  }

  /** The driver-or-distributed choice of every adaptive graph operator
    * (the `maxHotKeys+1` collect idiom of adaptive salting, applied to
    * iteration): graphs under the bound are dimension-sized, and there
    * the distributed loop's per-round job launches dominate. Probes
    * `inputs` in order, one early-terminating job each capped one row
    * past `driverRows`, and stops at the first that does not fit. When
    * all fit, `twin` computes the result from the collected rows,
    * returned as a local relation over `schema` — the distributed
    * loop's output schema, nullability included. None (run the
    * distributed loop) when `driverRows <= 0`, a key column is binary
    * ([[valueKeyed]]), a probed value is null (the twins' hash maps
    * would match a null key, which the distributed equi-joins never
    * do), or `twin` declines. Big graphs pay one capped partial scan
    * and never collect the full input.
    */
  private def onDriver(driverRows: Int, schema: StructType, inputs: DataFrame*)(
      twin: Seq[Array[Row]] => Option[Iterable[Row]]): Option[DataFrame] =
    if (driverRows <= 0 || !valueKeyed(inputs.flatMap(_.schema.fields): _*)) None
    else {
      // lazy: a probe runs only while every earlier one fit
      val probes = inputs.iterator.map(probe(_, driverRows + 1))
        .takeWhile(p => p.length <= driverRows && !p.exists(_.anyNull)).toVector
      if (probes.length < inputs.length) None
      else twin(probes).map(out =>
        inputs.head.sparkSession.createDataFrame(out.toSeq.asJava, schema))
    }

  /** At most `cap` rows of `df`: the capped, early-terminating take of
    * `limit(cap).collect()`, run on the input's own plan. On a union
    * input `limit` pushes a LocalLimit into each branch, whose generated
    * code names its counter from a JVM-wide sequence, so every call
    * compiled new classes; the input's own plan generates the same code
    * each call.
    */
  private def probe(df: DataFrame, cap: Int): Array[Row] = {
    val qe = df.queryExecution
    val toRow = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(df.schema)
      .resolveAndBind().createDeserializer()
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("probe"))(
      qe.executedPlan.executeTake(cap)).map(toRow)
  }

  /** J1/J2 "does this key already exist" probe, set-oriented: keep only
    * incoming rows whose key is NOT present (utils/etl.py:41-58, 169-181).
    * Catalyst picks broadcast-anti when `existing` is small.
    */
  def notExisting(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(key), Seq(key), "left_anti")

  /** Semi variant — rows whose key IS present. */
  def existing(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(key), Seq(key), "left_semi")

  /** K3 node sink semantics: dup-tolerant CREATE == first-write-wins
    * append (kg_task.py:9-36 catches constraint errors). Re-runs converge
    * because we dedup against both the batch and the existing table.
    */
  def upsertNodes(batch: DataFrame, current: Option[DataFrame], key: String): DataFrame = {
    val deduped = batch.dropDuplicates(key)
    current match {
      case Some(cur) => cur.unionByName(notExisting(deduped, cur, key))
      case None      => deduped
    }
  }

  /** J3/K4 edge builder: MATCH head, MATCH tail, CREATE edge
    * (kg_task.py:38-80). INNER joins on both endpoints — Cypher MATCH
    * silently drops edges with missing endpoints, and so do we; oracles
    * must use INNER JOIN too (SURVEY.md §7.3). `relationship_id` is the
    * reference's synthesized "{head}-{tail}" identity, and edges are
    * first-write-wins unique on it. Broadcast the dim side explicitly
    * when it is one of the small static dimensions.
    */
  def buildEdges(candidates: DataFrame, heads: DataFrame, tails: DataFrame,
                 headKey: String, tailKey: String, relType: String,
                 broadcastTails: Boolean = false): DataFrame = {
    val t = if (broadcastTails) broadcast(tails.select(tailKey)) else tails.select(tailKey)
    candidates
      .join(heads.select(headKey), Seq(headKey), "left_semi")
      .join(t, Seq(tailKey), "left_semi")
      // dedup on the narrow key pair BEFORE deriving the string id — the
      // uniqueness shuffle moves two longs, not a concatenated string
      .dropDuplicates(headKey, tailKey)
      .withColumn("relationship_id", relationshipId(col(headKey), col(tailKey)))
      .withColumn("rel_type", lit(relType))
  }

  /** J4 parent-hierarchy expansion (etl_flow.py:359-414): the reference
    * walks `parent_company_id` chains one HTTP fetch at a time; here it is
    * an iterative self-join to fixpoint producing (node, ancestor, depth).
    * Fixes by construction: no double-append, no UnboundLocalError, and a
    * defensive iteration cap so cycles terminate (SURVEY.md §7.3).
    *
    * `edges` must have columns (child, parent). Depth 1 = direct parent.
    * At scale: each iteration is one self-join on the frontier only (not
    * the whole closure), so work is proportional to path count; maxDepth
    * bounds the number of shuffles.
    *
    * Adaptive small-hierarchy path ([[onDriver]]): parent hierarchies
    * are usually DIMENSION data — thousands of companies, not billions.
    * When the edge list fits, the closure is a driver BFS over the
    * collected edges (bounded model state, the IVF codebook precedent)
    * with IDENTICAL semantics — per-path multiplicity, pair-level cycle
    * guard against earlier depths. The driver result is capped at
    * 10×`driverRows` rows (a dense DAG's path count can explode
    * combinatorially); on breach the operator falls back to the
    * distributed loop, which shares the blowup across executors.
    */
  def ancestorClosure(edges: DataFrame, maxDepth: Int = 20,
                      driverRows: Int = 100000): DataFrame = {
    val spark = edges.sparkSession
    val cp = edges.select(col("child"), col("parent"))
    // on path-count blowup the full edge set is ALREADY on the driver:
    // seed the loop from the collected rows instead of re-running the
    // edges lineage, which may be an arbitrary upstream pipeline that the
    // probe just paid for
    var collected: Option[Array[Row]] = None
    val driver = onDriver(driverRows, new StructType()
        .add("child", cp.schema("child").dataType)
        .add("ancestor", cp.schema("parent").dataType)
        .add("depth", IntegerType), cp) { p =>
      collected = Some(p.head)
      driverClosure(p.head, maxDepth, driverRows)
    }
    if (driver.isDefined) return driver.get
    val src = collected.fold(cp)(rows =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), cp.schema))
    // write-then-read: one computation per frontier, lineage truncated via
    // reliable files (an executor loss replays from the last frontier,
    // where localCheckpoint would fail the job)
    val store = new RoundStore(spark)
    val first = store.save(src.select(col("child"), col("parent").as("ancestor"),
      lit(1).as("depth")), "frontier-1")
    // later rounds join against the SAVED depth-1 table, not the input
    // lineage — when `edges` is itself a pipeline, each round would
    // otherwise recompute it
    val savedEdges = first.select(col("child"), col("ancestor").as("parent"))
    var closure = first
    var frontier = first
    var depth = 1
    while (depth < maxDepth && !frontier.isEmpty) {
      val next = store.save(frontier.alias("f")
        .join(savedEdges.alias("e"), col("f.ancestor") === col("e.child"))
        .select(col("f.child"), col("e.parent").as("ancestor"), (col("f.depth") + 1).as("depth"))
        // cycle guard: never revisit a (child, ancestor) pair
        .join(closure, Seq("child", "ancestor"), "left_anti"),
        s"frontier-${depth + 1}")
      closure = closure.unionByName(next)
      frontier = next
      depth += 1
    }
    // consolidate the per-depth frontiers into one closure table (one
    // downstream read instead of a union of N), then drop the rounds —
    // without this every call leaks the whole closure's worth of
    // intermediate files in the temp dir
    val out = store.save(closure, "closure")
    store.cleanupExcept("closure")
    out
  }

  /** The driver-side BFS twin of [[ancestorClosure]]'s loop, run only
    * under the `driverRows` bound. Semantics mirror the distributed
    * rounds row for row: depth-d+1 candidates are one row per
    * (frontier row × matching parent edge) — per-PATH multiplicity,
    * like the self-join — filtered against the pair set of all EARLIER
    * depths (the left_anti guard); duplicates within one depth survive.
    * Returns None when the accumulated row count would exceed
    * 10×`driverRows` (combinatorial path blowup in a dense DAG) — the
    * caller then runs the distributed loop instead.
    */
  private def driverClosure(base: Array[Row], maxDepth: Int,
                            driverRows: Int): Option[Iterable[Row]] = {
    val parents = new java.util.HashMap[Any, mutable.ArrayBuffer[Any]]()
    base.foreach { r =>
      parents.computeIfAbsent(r.get(0), _ => mutable.ArrayBuffer.empty[Any]) += r.get(1)
    }
    val rowCap = 10L * driverRows
    val out = mutable.ArrayBuffer.empty[Row]
    val seen = mutable.HashSet.empty[(Any, Any)]
    var frontier = mutable.ArrayBuffer.empty[(Any, Any)]
    base.foreach { r =>
      out += Row(r.get(0), r.get(1), 1)
      frontier += ((r.get(0), r.get(1)))
      seen += ((r.get(0), r.get(1)))
    }
    var depth = 1
    while (depth < maxDepth && frontier.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[(Any, Any)]
      frontier.foreach { case (c, a) =>
        val ps = parents.get(a)
        if (ps != null) ps.foreach { p =>
          if (!seen.contains((c, p))) next += ((c, p))
        }
      }
      if (out.size + next.size > rowCap) return None
      next.foreach { case (c, p) => out += Row(c, p, depth + 1) }
      next.foreach(seen += _) // guard applies from the NEXT depth on
      frontier = next
      depth += 1
    }
    Some(out)
  }

  /** Scaled-integer PageRank — link authority for corpus weighting (the
    * consumer of a crawl graph like `html_links`' outlink edges: weight
    * domains/pages by incoming-link mass before sampling). All
    * arithmetic is 64-bit integer on a scaled rank (`baseScaled` =
    * rank 1.0): per-edge contribution is `rank div outdeg`, damping is
    * `(85 * sum) div 100` — exact and ORDER-INDEPENDENT, so the result
    * hash-matches any engine that runs the same statements (the
    * integer-scaling treatment that made HLL/CMS cross-engine-exact,
    * applied to an iterative algorithm). Float PageRank would diverge
    * across engines in the sum order alone.
    *
    * Semantics: simplified PageRank without dangling-mass
    * redistribution — rank flowing into a node with no out-edges leaves
    * the system (documented; redistribution would need a global sum per
    * round). Destinations not present in `nodes` are dropped; every
    * node keeps at least the base share. Rounds are checkpointed via
    * [[RoundStore]] every `checkpointInterval` iterations (reliable
    * files at scale, in-memory for small graphs) so failure replay
    * stays bounded at any iteration count. Unlike the components loop
    * (whose rounds reference their predecessor TWICE, growing plans
    * exponentially without truncation), PageRank lineage is linear —
    * one reference per round — so the default interval is generous and
    * a typical 5-10 iteration run executes as one job over the
    * materialized edge table, with exchange reuse across rounds.
    *
    * Adaptive small-graph path ([[onDriver]]): capped probes on edges
    * and nodes; under the bound the loop runs as a driver tight loop
    * over the collected graph — and because every step is
    * order-independent integer arithmetic, the driver result is
    * bit-identical to the distributed rounds (equality pinned in
    * `GraphSpec`), with no blowup risk: rank state is exactly one long
    * per node per round.
    *
    * `edges`: (src, dst); `nodes`: (node) — node values must be UNIQUE
    * (it is a node set; duplicated node rows would double contribution
    * mass in the distributed join). Returns (node, rank_scaled). The
    * [[pageRank]] loop with every weight 1: `(rank·1) div Σ1` is
    * `rank div outdeg`, bit for bit.
    */
  def pageRankScaled(edges: DataFrame, nodes: DataFrame,
                     iterations: Int = 5,
                     baseScaled: Long = 1000000000L,
                     checkpointInterval: Int = 10,
                     driverRows: Int = 100000): DataFrame =
    pageRank(edges, lit(1L), nodes, None, iterations, baseScaled,
      checkpointInterval, driverRows)

  /** Personalized PageRank, integer-scaled like [[pageRankScaled]]:
    * the teleport mass restarts at the SEED SET instead of uniformly —
    * rank₀ = base for seeds / 0 elsewhere, and each round adds the
    * 15% restart share only to seeds. The result ranks vertices by
    * proximity to the seeds (the KG "related entities" / seed-expansion
    * ranker; Haveliwala 2002), where global PageRank ranks by overall
    * centrality. Same engine-exact div/mod arithmetic, same bounded
    * round CONTRACT, same per-round shape: one outdeg-annotated edge
    * join + a map-side-combinable contribution sum — edge-linear per
    * round at any scale. Vertices unreachable from the seeds hold rank
    * 0 and are emitted (the caller filters if only the neighborhood
    * matters). Seeds outside `nodes` are ignored.
    *
    * Adaptive small-graph path as [[pageRankScaled]], with the seeds
    * probed third: at gate scale the distributed rounds are pure
    * scheduling overhead (25 driver-synchronized jobs, 1.5 s wall for
    * 0.36 s of task time at sf0.1).
    */
  def personalizedPageRankScaled(edges: DataFrame, nodes: DataFrame,
                                 seeds: DataFrame, iterations: Int = 5,
                                 baseScaled: Long = 1000000000L,
                                 checkpointInterval: Int = 10,
                                 driverRows: Int = 100000): DataFrame =
    pageRank(edges, lit(1L), nodes, Some(seeds), iterations, baseScaled,
      checkpointInterval, driverRows)

  /** Edge-weighted PageRank: rank flows along each out-edge in
    * proportion to its weight — contribution = (rank·w) div Σw(src) —
    * instead of uniformly over out-degree, the standard weighted
    * extension the cooccurrence/TextRank graphs actually call for
    * (Mihalcea & Tarau 2004 use exactly this flow). Same engine-exact
    * truncating integer arithmetic, base share, non-redistribution
    * stance, RoundStore checkpointing, and adaptive driver path as
    * [[pageRankScaled]] (to which this degenerates when all weights
    * are equal... up to div-truncation granularity). Weights must be
    * positive integers; rank·w must stay under 2⁶³ (rank mass ≤
    * n·10⁹, so w up to ~10⁵ is safe on million-node graphs — pre-scale
    * weights down otherwise). `edges`: (src, dst, w); returns
    * (node, rank_scaled).
    */
  def pageRankWeightedScaled(edges: DataFrame, nodes: DataFrame,
                             iterations: Int = 5,
                             baseScaled: Long = 1000000000L,
                             checkpointInterval: Int = 10,
                             driverRows: Int = 100000): DataFrame =
    pageRank(edges, col("w"), nodes, None, iterations, baseScaled,
      checkpointInterval, driverRows)

  /** The one loop behind the three PageRank entries: each edge carries
    * `(rank·w) div Σw(src)`, and the round-0 rank and the 15 % restart
    * share go only to seed-flagged nodes. Without `seeds` every node is
    * flagged by the constant 1 (a join against the node set itself
    * would zero a null node); with them the flag is one narrow join at
    * build, saved and reused by every round.
    */
  private def pageRank(edges: DataFrame, w: Column, nodes: DataFrame,
                       seeds: Option[DataFrame], iterations: Int, baseScaled: Long,
                       checkpointInterval: Int, driverRows: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    // an int/short/byte weight widens to long (the driver twin reads
    // w with getLong); other weight types pass through as they are
    val wType = edges.select(w).schema.head.dataType
    val ew = edges.select(col("src"), col("dst"),
      (if (Seq(ByteType, ShortType, IntegerType).contains(wType)) w.cast(LongType)
       else w).as("w"))
    val driver = onDriver(driverRows,
        new StructType().add(nodes.schema("node")).add("rank_scaled", LongType),
        Seq(ew, nodes.select(col("node"))) ++ seeds.map(_.select(col("node"))): _*) { p =>
      Some(driverPageRank(p(0), p(1), p.lift(2), iterations, baseScaled))
    }
    if (driver.isDefined) return driver.get
    val store = new RoundStore(edges.sparkSession)
    // materialize (src, dst, w, Σw) once: every round joins against it
    val e = store.save(
      ew.join(ew.groupBy(col("src")).agg(sum(col("w")).as("sw")), "src")
        .select(col("src"), col("dst"), col("w"), col("sw")),
      "edges")
    val n = seeds match {
      case Some(s) => store.save(
        nodes.select(col("node"))
          .join(s.select(col("node")).distinct()
            .withColumn("__seed", lit(1)), Seq("node"), "left")
          .select(col("node"), coalesce(col("__seed"), lit(0)).as("__seed")),
        "nodes")
      case None => nodes.select(col("node"), lit(1).as("__seed"))
    }
    val baseShare = baseScaled * 15L / 100L
    var ranks = n.select(col("node"),
      (col("__seed") * baseScaled).cast("long").as("rank_scaled"))
    for (i <- 1 to iterations) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("(rank_scaled * w) div sw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      val next = n.alias("n")
        .join(contrib.alias("c"), col("n.node") === col("c.dst"), "left")
        .select(col("n.node").as("node"),
          ((col("n.__seed") * baseShare).cast("long") +
            expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100"))
            .as("rank_scaled"))
      ranks =
        if (i % checkpointInterval == 0 && i < iterations)
          store.save(next, s"ranks-$i")
        else next
    }
    val out = store.save(ranks, "ranks")
    store.cleanupExcept("ranks")
    out
  }

  /** Driver twin of [[pageRank]]'s rounds: the same integer steps in
    * the same structure (contribution only from srcs that ARE nodes,
    * destinations outside `nodes` dropped, restart share on the seeds —
    * every node when there are none; distinct seeds, those outside
    * `nodes` ignored) — exact equality with the distributed loop is an
    * arithmetic fact, not an approximation, because no step depends on
    * order.
    */
  private def driverPageRank(eRows: Array[Row], nRows: Array[Row],
                             sRows: Option[Array[Row]],
                             iterations: Int, baseScaled: Long): Iterable[Row] = {
    val sw = new java.util.HashMap[Any, Long]()
    eRows.foreach(r => sw.merge(r.get(0), r.getLong(2), (a, b) => a + b))
    val seedSet = new java.util.HashSet[Any]()
    sRows.foreach(_.foreach(r => seedSet.add(r.get(0))))
    val nodes = nRows.map(r => (r.get(0), sRows.isEmpty || seedSet.contains(r.get(0))))
    val baseShare = baseScaled * 15L / 100L
    var rank = new java.util.HashMap[Any, Long]()
    nodes.foreach { case (n, seed) => rank.put(n, if (seed) baseScaled else 0L) }
    for (_ <- 1 to iterations) {
      val contrib = new java.util.HashMap[Any, Long]()
      eRows.foreach { r =>
        val src = r.get(0)
        if (rank.containsKey(src))
          contrib.merge(r.get(1), rank.get(src) * r.getLong(2) / sw.get(src),
            (a, b) => a + b)
      }
      val next = new java.util.HashMap[Any, Long]()
      nodes.foreach { case (n, seed) =>
        next.put(n, (if (seed) baseShare else 0L) +
          (85L * contrib.getOrDefault(n, 0L)) / 100L)
      }
      rank = next
    }
    nodes.map { case (n, _) => Row(n, rank.get(n)) }
  }

  /** HITS hubs-and-authorities (Kleinberg 1999), integer-scaled for
    * cross-engine exactness like [[pageRankScaled]]. Per round:
    * authority(v) = Σ hub(u) over in-edges (u→v), hub(u) = Σ auth(v)
    * over out-edges — each followed by an integer max-normalization
    * `(x * scale) div max(x)` instead of the float L2 norm, so every
    * step is order-independent long arithmetic and the result
    * hash-matches any engine running the same statements. The global
    * max per half-round is a one-row aggregate joined back via a
    * broadcast single-row cross join (the repo's scalar-join idiom) —
    * at any graph size that is one tiny driver-free reduction, never a
    * data-sized shuffle. Rounds are linear-lineage like PageRank (one
    * self-reference per round), checkpointed through [[RoundStore]]
    * every `checkpointInterval` rounds so failure replay stays bounded.
    *
    * Semantics: nodes with no in-edges hold authority 0, nodes with no
    * out-edges hold hub 0 after round 1 (mass leaves the system, the
    * same non-redistribution stance as [[pageRankScaled]]); edge
    * endpoints outside `nodes` are dropped. If a round's global max is
    * 0 (edgeless graph) the normalized scores are all 0 rather than a
    * division error. `edges`: (src, dst); `nodes`: (node), unique.
    * Returns (node, hub_scaled, auth_scaled) in [0, scale].
    */
  def hitsScaled(edges: DataFrame, nodes: DataFrame,
                 iterations: Int = 3,
                 scale: Long = 1000000L,
                 checkpointInterval: Int = 10,
                 driverRows: Int = 100000): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val n = nodes.select(col("node"))
    // adaptive small-graph path (the pageRankScaled treatment): the
    // driver rounds are bit-identical to the distributed loop because
    // every step is order-independent integer arithmetic (GraphSpec)
    val driver = onDriver(driverRows, new StructType().add(nodes.schema("node"))
        .add("hub_scaled", LongType).add("auth_scaled", LongType),
        edges.select(col("src"), col("dst")), n) { p =>
      Some(driverHits(p(0), p(1), iterations, scale))
    }
    if (driver.isDefined) return driver.get
    val store = new RoundStore(edges.sparkSession)
    // node-restricted edge table, materialized once; every half-round
    // is one equi-join + one map-side-combinable sum against it
    val e = store.save(
      edges.select(col("src"), col("dst"))
        .join(n.withColumnRenamed("node", "src"), "src")
        .join(n.withColumnRenamed("node", "dst"), "dst")
        .select(col("src"), col("dst")),
      "edges")
    // (x * scale) div max(x), with max carried on a broadcast one-row join
    def maxNormalized(scores: DataFrame, c: String): DataFrame = {
      val mx = scores.agg(max(col(c)).as("__mx"))
      scores.crossJoin(broadcast(mx))
        .select(col("node"),
          when(col("__mx") > 0, expr(s"($c * ${scale}L) div __mx"))
            .otherwise(lit(0L)).cast("long").as(c))
    }
    var hubs = n.withColumn("hub_scaled", lit(scale))
    var auths: DataFrame = null
    for (i <- 1 to iterations) {
      val authSum = e
        .join(hubs.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst")).agg(sum(col("hub_scaled")).as("a"))
      auths = maxNormalized(
        n.join(authSum.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .select(col("node"), coalesce(col("a"), lit(0L)).as("auth_scaled")),
        "auth_scaled")
      val hubSum = e
        .join(auths.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src")).agg(sum(col("auth_scaled")).as("h"))
      val nextHubs = maxNormalized(
        n.join(hubSum.withColumnRenamed("src", "node"), Seq("node"), "left")
          .select(col("node"), coalesce(col("h"), lit(0L)).as("hub_scaled")),
        "hub_scaled")
      hubs =
        if (i % checkpointInterval == 0 && i < iterations)
          store.save(nextHubs, s"hubs-$i")
        else nextHubs
    }
    val out = store.save(
      hubs.join(auths, "node")
        .select(col("node"), col("hub_scaled"), col("auth_scaled")),
      "hits")
    store.cleanupExcept("hits")
    out
  }

  /** Driver twin of [[hitsScaled]]'s rounds: node-restricted edges,
    * per-half-round sum + integer max-normalization, the same
    * truncating steps in the same structure — exact equality with the
    * distributed loop is an arithmetic fact (no step depends on
    * order), pinned in GraphSpec.
    */
  private def driverHits(eRows: Array[Row], nRows: Array[Row],
                         iterations: Int, scale: Long): Iterable[Row] = {
    val nodeSet = new java.util.HashSet[Any]()
    nRows.foreach(r => nodeSet.add(r.get(0)))
    val e = eRows.filter(r => nodeSet.contains(r.get(0)) && nodeSet.contains(r.get(1)))
    def maxNorm(m: java.util.HashMap[Any, Long]): java.util.HashMap[Any, Long] = {
      var mx = 0L
      nRows.foreach { r =>
        val v = m.getOrDefault(r.get(0), 0L)
        if (v > mx) mx = v
      }
      val out = new java.util.HashMap[Any, Long]()
      nRows.foreach { r =>
        val v = m.getOrDefault(r.get(0), 0L)
        out.put(r.get(0), if (mx > 0) v * scale / mx else 0L)
      }
      out
    }
    var hubs = new java.util.HashMap[Any, Long]()
    nRows.foreach(r => hubs.put(r.get(0), scale))
    var auths = new java.util.HashMap[Any, Long]()
    for (_ <- 1 to iterations) {
      val authSum = new java.util.HashMap[Any, Long]()
      e.foreach(r =>
        authSum.merge(r.get(1), hubs.getOrDefault(r.get(0), 0L), (a, b) => a + b))
      auths = maxNorm(authSum)
      val hubSum = new java.util.HashMap[Any, Long]()
      e.foreach(r =>
        hubSum.merge(r.get(0), auths.getOrDefault(r.get(1), 0L), (a, b) => a + b))
      hubs = maxNorm(hubSum)
    }
    nRows.map(r => Row(r.get(0),
      hubs.getOrDefault(r.get(0), 0L), auths.getOrDefault(r.get(0), 0L)))
  }

  /** Connected components by iterative min-label propagation: every node
    * adopts the smallest id reachable so far; the loop runs until no
    * label changes, which takes at most diameter rounds (near-dup
    * clusters are shallow, so typically 2-4). Each round
    * is one keyed join + a min-aggregate; the previous label rides along
    * through that same aggregate, so convergence is a cheap scan of the
    * already-materialized round output — no extra join, no recompute.
    *
    * Job-count economics: the first round is fused with the label init
    * (labels(u)=u makes round 1 exactly min(u, min(neighbors)) — no
    * labels-0 table), and `checkpointInterval` propagation rounds chain
    * lazily into each materialization, so a D-round convergence costs
    * ~D/interval writes instead of D+1. An executor loss replays at most
    * one interval's rounds from the last files — the standard
    * checkpoint-interval tradeoff of iterative graph processing.
    *
    * Fault tolerance: on a big graph each materialization is a
    * [[RoundStore]] parquet table (single computation) rather than
    * `localCheckpoint` — an executor loss replays from the last round's
    * files instead of failing the job on truncated lineage.
    *
    * `edges` needs (src, dst) columns; output (node, component) where
    * component = min node id in the cluster. Isolated nodes only appear
    * if present as self-edges or in `extraNodes`.
    */
  def connectedComponents(edges: DataFrame,
                          extraNodes: Option[DataFrame] = None,
                          checkpointInterval: Int = 2,
                          driverRows: Int = 100000): DataFrame = {
    val spark = edges.sparkSession
    // write-then-read materialization: one job computes and lands the
    // round on reliable storage; downstream rounds read the files
    val store = new RoundStore(spark)
    def save(df: DataFrame, name: String): DataFrame = store.save(df, name)
    // materialize the edge list FIRST: the symmetric union references
    // `edges` twice, so building sym straight from the input would run
    // the upstream pipeline (e.g. LSH pair generation) twice in one job —
    // and once per round without any materialization at all. The
    // symmetric orientation itself is a narrow re-read of the files, not
    // worth a second table.
    val e0 = save(edges.select(col("src"), col("dst")), "edges")
    // Adaptive small-graph path ([[onDriver]]): the probe reads the
    // MATERIALIZED edge table — a capped file read, so the upstream pair
    // pipeline is never recomputed on either path. Near-dup edge sets
    // are usually tiny relative to the corpus (most docs are singletons,
    // handled by the scale-safe anti-join below regardless of path).
    // Components are a SET property — driver union-find gives exactly
    // the (node, min-id) labels the rounds converge to. Long ids only:
    // the loop itself is long-typed (the prev column).
    val ids = e0.schema("src")
    val driver =
      if (ids.dataType != LongType || e0.schema("dst").dataType != LongType) None
      else onDriver(driverRows, new StructType().add("node", LongType, ids.nullable)
          .add("component", LongType, ids.nullable), e0) { p =>
        Some(driverComponents(p.head))
      }
    if (driver.isDefined) {
      store.cleanupExcept()
      return appendSingletons(driver.get, extraNodes)
    }
    val sym = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    // propagation runs over edge-participating nodes ONLY: isolated nodes
    // can never change label, so carrying them through every round would
    // shuffle the whole corpus per iteration when duplicates are sparse
    // (the common corpus shape) — they join as singletons at the end.
    // Round 1 fused with the init: from labels(u)=u the first round's
    // output is min(u, min(neighbors(u))), prev = the identity label u.
    var labels = save(sym.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("node"), least(col("__mn"), col("src")).as("component"),
        col("src").as("prev")), "labels-1")
    var finalName = "labels-1"
    var converged = labels.filter(col("component") =!= col("prev")).isEmpty
    var iter = 1
    while (!converged) {
      // chain `checkpointInterval` propagation rounds lazily into ONE
      // write. In each round, neighbor-propagated candidates carry
      // prev=null and each node's own row carries prev through;
      // min(prev) ignores nulls and every node has exactly one own-row
      // per round, so the BLOCK-START label survives to the
      // materialization, where the changed-test is a plain scan of the
      // files just written — no extra join.
      var cur = labels.select(col("node"), col("component"),
        col("component").as("prev"))
      for (_ <- 1 to checkpointInterval) {
        val candidates = sym.alias("s").join(cur.alias("l"),
            col("s.dst") === col("l.node"))
          .select(col("s.src").as("node"), col("l.component").as("component"),
            lit(null).cast("long").as("prev"))
          .unionByName(cur.select(col("node"), col("component"), col("prev")))
        cur = candidates.groupBy("node")
          .agg(min(col("component")).as("component"), min(col("prev")).as("prev"))
      }
      iter += checkpointInterval
      val next = save(cur, s"labels-$iter")
      converged = next.filter(col("component") =!= col("prev")).isEmpty
      labels = next
      finalName = s"labels-$iter"
    }
    // the returned frame reads only the final round — drop the edge table
    // and earlier rounds so repeated calls don't accumulate on disk
    store.cleanupExcept(finalName)
    appendSingletons(labels.select(col("node"), col("component")), extraNodes)
  }

  /** Isolated nodes join as singletons at the end on BOTH component
    * paths: an anti-join against the (small) labeled set, so the corpus
    * never rides the propagation rounds and a driver-solved label table
    * broadcasts.
    */
  private def appendSingletons(out: DataFrame,
                               extraNodes: Option[DataFrame]): DataFrame =
    extraNodes match {
      case Some(extra) =>
        val singletons = extra.select(col("node")).distinct()
          .join(out.select(col("node")), Seq("node"), "left_anti")
          .withColumn("component", col("node"))
        out.unionByName(singletons)
      case None => out
    }

  /** Driver union-find twin of the propagation rounds (long ids): find
    * with path halving, union by attachment, then component = min id
    * per root — the exact fixpoint min-label converges to, computed as
    * a set property rather than iterated.
    */
  private def driverComponents(edgeRows: Array[Row]): Iterable[Row] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        val g = parent.get(parent.get(x))
        parent.put(x, g) // path halving
        x = g
      }
      x
    }
    edgeRows.foreach { r =>
      val s = r.getLong(0); val d = r.getLong(1)
      if (!parent.containsKey(s)) parent.put(s, s)
      if (!parent.containsKey(d)) parent.put(d, d)
      val rs = find(s); val rd = find(d)
      if (rs != rd) parent.put(rs, rd)
    }
    val minOf = new java.util.HashMap[Long, Long]()
    parent.keySet().forEach { n =>
      minOf.merge(find(n), n, (a, b) => math.min(a, b))
    }
    parent.keySet().asScala.toSeq.map(n => Row(n, minOf.get(find(n))))
  }

  /** K8 rollback semantics: cascading delete of one key across child
    * tables = anti-join rewrite (utils/etl.py:87-120).
    */
  def deleteByKey(table: DataFrame, victims: DataFrame, key: String): DataFrame =
    table.join(victims.select(key), Seq(key), "left_anti")

  /** The undirected simple graph of `edges` as canonical pairs (u, v),
    * u = the lesser endpoint: self-loops dropped, distinct. Lazy — each
    * caller materializes it (or its [[bothWays]] adjacency) under its
    * own tag.
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Both directions (a, b) of an [[undirected]] pair set. */
  private def bothWays(canon: DataFrame): DataFrame =
    canon.select(col("u").as("a"), col("v").as("b"))
      .union(canon.select(col("v").as("a"), col("u").as("b")))

  /** Per-vertex triangle counts by the degree-ordered compact-forward
    * algorithm (Latapy 2008; the cohesion/clustering-coefficient
    * numerator). Edges canonicalize to undirected-distinct first, then
    * ORIENT low→high under the total order (degree, vertex): every
    * triangle is counted exactly once, as the wedge at its
    * lowest-ordered vertex closed by the oriented third edge — and the
    * orientation bounds each vertex's out-degree by O(√|E|), which is
    * what keeps the wedge join from exploding on hubs (orienting by raw
    * vertex id instead leaves a high-degree hub with millions of
    * out-edges and a quadratic wedge set — the classic skew failure).
    *
    * Shape at 100 TB: three shuffles (canonical dedup, degree agg +
    * broadcast-or-shuffle attach, wedge self-join + closure join on
    * edge keys), all hash exchanges on bounded-fanout keys; no windows,
    * no driver state. Output is one row per vertex that closes at least
    * one triangle.
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    // Materialized EAGERLY (MEMORY_AND_DISK, lineage truncated): the
    // plan references it ~10 ways (degrees twice, the degree attach,
    // both wedge sides, both closing orientations), and each reference
    // drags the caller's whole edge-derivation subtree along — the r17
    // plan audit measured 240 duplicated scans / 318 Exchanges in one
    // 176 KB physical plan, making Catalyst analysis itself the query's
    // dominant cost at bench scale and re-deriving the input up to the
    // exchange-reuse cap at any scale. Same bet as [[bfsHops]]' frontier
    // checkpoints: a lost block fails the job and the caller retries.
    val canon = undirected(edges, srcCol, dstCol)
      .checkpointAt("Graph.triangleCounts.canon")
    val deg = canon.select(col("u").as("x"))
      .union(canon.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // orient along the (degree, vertex) total order. No broadcast hint:
    // the degree table is one row per VERTEX — graph-sized at scale —
    // so AQE broadcasts it when its runtime size permits and shuffles
    // the attach on the vertex id otherwise (the docstring's
    // "broadcast-or-shuffle attach", now actually both-way)
    val withDeg = canon
      .join(deg.withColumnRenamed("x", "u")
        .withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("x", "v")
        .withColumnRenamed("d", "dv"), "v")
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("lo"), col("v").as("hi")))
        .otherwise(struct(col("v").as("lo"), col("u").as("hi")))
        .as("e"))
      .select(col("e.lo"), col("e.hi"))
    // wedges at the lowest-ordered vertex, closed by an oriented edge
    val wedges = oriented.alias("e1").join(oriented.alias("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"),
        col("e2.hi").as("c"))
    // the closing edge (b, c) may be oriented either way under the
    // degree order — probe both
    val closing = oriented.select(col("lo").as("b"), col("hi").as("c"))
      .union(oriented.select(col("hi").as("b"), col("lo").as("c")))
    val tris = wedges.join(closing, Seq("b", "c"), "left_semi")
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded multi-source BFS: label every vertex within `maxHops`
    * undirected hops of a seed set with its minimum hop distance — the
    * seed-expansion primitive behind "grow the trusted corpus from
    * curated seeds" selection and k-hop neighborhood sampling. Output
    * is (vertex, hop) with hop 0 for seeds themselves.
    *
    * Shape at 100 TB: per round one frontier-keyed equi-join against
    * the adjacency plus a distinct — frontier-sized exchanges, never
    * the whole graph; each frontier is materialized (eager
    * localCheckpoint — a lost block fails the job and the caller
    * retries) so round k's plan reads round k−1's blocks instead of
    * replaying the whole prefix, keeping plans linear in depth. The
    * final min-hop resolution is one map-side-combinable aggregate.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int,
              driverRows: Int = 100000): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // adjacency materialized once (eager, lineage truncated): every
    // round's frontier join references it, so without truncation the
    // caller's edge subtree replays per hop — maxHops redundant
    // derivations plus a plan that grows with depth
    val adj = bothWays(undirected(edges, srcCol, dstCol))
      .checkpointAt("Graph.bfsHops.adj")
    val seedSet = seeds.select(col(seedCol).as("vertex")).distinct()
    // Adaptive small-graph path ([[onDriver]]): probes on the
    // MATERIALIZED adjacency and the seed set; under the cap the layered
    // expansion runs as a driver tight loop. Level-order BFS assigns
    // each vertex its minimum hop — exactly what min-over-layers
    // converges to — so the driver result is row-identical (equality
    // pinned in GraphSpec). Long ids only.
    val driver =
      if (adj.schema("a").dataType != LongType) None
      else onDriver(driverRows, new StructType().add(seedSet.schema("vertex"))
          .add("hop", LongType), adj, seedSet) { p =>
        Some(driverBfsHops(p(0), p(1), maxHops))
      }
    if (driver.isDefined) return driver.get
    var frontier = seedSet.checkpointAt("Graph.bfsHops.round")
    val layers = scala.collection.mutable.ArrayBuffer(
      frontier.withColumn("hop", lit(0L)))
    for (h <- 1 to maxHops) {
      frontier = frontier.join(adj, col("vertex") === col("a"))
        .select(col("b").as("vertex")).distinct()
        .checkpointAt("Graph.bfsHops.round")
      layers += frontier.withColumn("hop", lit(h.toLong))
    }
    layers.reduce(_.union(_))
      .groupBy(col("vertex")).agg(min(col("hop")).as("hop"))
  }

  private def driverBfsHops(eRows: Array[Row], sRows: Array[Row],
                            maxHops: Int): Iterable[Row] = {
    val adj = new java.util.HashMap[Long, mutable.ArrayBuffer[Long]]()
    eRows.foreach { r =>
      adj.computeIfAbsent(r.getLong(0), _ => mutable.ArrayBuffer.empty[Long]) +=
        r.getLong(1)
    }
    val hop = new java.util.LinkedHashMap[Long, Long]()
    var frontier = mutable.ArrayBuffer.empty[Long]
    sRows.foreach { r =>
      val v = r.getLong(0)
      if (!hop.containsKey(v)) { hop.put(v, 0L); frontier += v }
    }
    var h = 1L
    while (h <= maxHops && frontier.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[Long]
      frontier.foreach { v =>
        val ns = adj.get(v)
        if (ns != null) ns.foreach { b =>
          if (!hop.containsKey(b)) { hop.put(b, h); next += b }
        }
      }
      frontier = next
      h += 1
    }
    hop.asScala.toSeq.map { case (v, d) => Row(v, d) }
  }

  /** Bounded single/multi-source shortest paths over an undirected
    * weighted graph: minimum path cost from the seed set within
    * `maxHops` edges — [[bfsHops]] lifted to the (min, +) semiring,
    * the classic iterated relaxation (Bellman-Ford rounds). Integer
    * weights keep every cost engine-exact; parallel edges collapse to
    * their cheapest weight first.
    *
    * Shape at 100 TB: per round one label-keyed join against the
    * adjacency plus a map-side-combinable min — label-set-sized
    * exchanges; every round's labels are materialized (eager
    * localCheckpoint — a lost block fails the job and the caller
    * retries) because each round references them twice (relax + carry),
    * which would otherwise double the plan per round.
    */
  def ssspBounded(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, seeds: DataFrame, seedCol: String,
                  maxHops: Int, driverRows: Int = 100000): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // adjacency materialized once — see [[bfsHops]]: each relaxation
    // round re-joins it, so truncation stops the per-round replay of
    // the caller's edge derivation
    val adj = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"),
        col(weightCol).as("w"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b"),
        col(weightCol).as("w")))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .checkpointAt("Graph.ssspBounded.adj")
    val seedSet = seeds.select(col(seedCol).as("vertex")).distinct()
    // Adaptive small-graph path (the bfsHops treatment): the driver
    // twin runs the SAME maxHops synchronous relaxation rounds over
    // the collected min-collapsed adjacency — each round is
    // labels := min(labels, labels+edge) exactly like the distributed
    // union+min — so bounded-walk costs are bit-identical (GraphSpec).
    // Long ids/weights only.
    val driver =
      if (adj.schema("a").dataType != LongType || adj.schema("w").dataType != LongType)
        None
      else onDriver(driverRows, new StructType().add(seedSet.schema("vertex"))
          .add("cost", LongType), adj, seedSet) { p =>
        Some(driverSsspBounded(p(0), p(1), maxHops))
      }
    if (driver.isDefined) return driver.get
    var labels = seedSet
      .withColumn("cost", lit(0L))
      .checkpointAt("Graph.ssspBounded.round")
    for (_ <- 1 to maxHops) {
      val relaxed = labels.join(adj, col("vertex") === col("a"))
        .select(col("b").as("vertex"), (col("cost") + col("w")).as("cost"))
      labels = labels.union(relaxed)
        .groupBy(col("vertex")).agg(min(col("cost")).as("cost"))
        .checkpointAt("Graph.ssspBounded.round")
    }
    labels
  }

  private def driverSsspBounded(eRows: Array[Row], sRows: Array[Row],
                                maxHops: Int): Iterable[Row] = {
    val adj = new java.util.HashMap[Long, mutable.ArrayBuffer[(Long, Long)]]()
    eRows.foreach { r =>
      adj.computeIfAbsent(r.getLong(0),
        _ => mutable.ArrayBuffer.empty[(Long, Long)]) +=
        ((r.getLong(1), r.getLong(2)))
    }
    var cost = new java.util.HashMap[Long, Long]()
    sRows.foreach(r => cost.put(r.getLong(0), 0L))
    for (_ <- 1 to maxHops) {
      val next = new java.util.HashMap[Long, Long](cost)
      cost.forEach { (v, c) =>
        val ns = adj.get(v)
        if (ns != null) ns.foreach { case (b, w) =>
          next.merge(b, c + w, (x, y) => math.min(x, y))
        }
      }
      cost = next
    }
    cost.asScala.toSeq.map { case (v, c) => Row(v, c) }
  }

  /** Common-neighbor link prediction: for every NON-adjacent canonical
    * pair (v1 < v2) sharing at least `minCommon` neighbors, the shared
    * count, both degrees, and the neighborhood-Jaccard score in exact
    * milli units, `(n_common · 1000) div (deg1 + deg2 − n_common)` —
    * the classic "people you may know" / entity-resolution candidate
    * generator (Liben-Nowell & Kleinberg 2003's CN and Jaccard
    * predictors, log-free so every engine agrees bit-for-bit).
    *
    * Shape at 100 TB: the wedge self-join is keyed on the CENTER vertex
    * (each pair of a vertex's neighbors is a candidate), so its cost is
    * Σ deg² — inherent to exact common-neighbor counting, not a plan
    * artifact; on power-law graphs cap hub degrees upstream (drop or
    * sample neighbors beyond a cutoff, the standard mitigation) before
    * calling this. Everything downstream of the wedge generate is
    * map-side-combinable counting plus vertex-scale degree joins, and
    * the `minCommon` filter lands on the aggregate, pruning the long
    * tail of incidental pairs before the joins.
    */
  def commonNeighbors(edges: DataFrame, srcCol: String, dstCol: String,
                      minCommon: Long = 2L): DataFrame = {
    // eager materialization for the same reason as [[triangleCounts]]:
    // canon feeds the adjacency (2 refs), both wedge sides, the degree
    // table and the non-adjacency anti-join — without truncation the
    // caller's edge subtree is replicated ~7x in the plan (108 scans /
    // 140 Exchanges measured r17)
    val canon = undirected(edges, srcCol, dstCol)
      .checkpointAt("Graph.commonNeighbors.canon")
    // full adjacency (both directions) for wedges and degrees
    val adj = bothWays(canon)
    val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val pairs = adj.alias("e1").join(adj.alias("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .groupBy(col("e1.b").as("v1"), col("e2.b").as("v2"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    pairs
      .join(canon.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"), "left_anti")
      .join(deg.select(col("a").as("v1"), col("d").as("deg1")), "v1")
      .join(deg.select(col("a").as("v2"), col("d").as("deg2")), "v2")
      .withColumn("jaccard_milli",
        expr("(n_common * 1000) div (deg1 + deg2 - n_common)"))
      .select("v1", "v2", "n_common", "deg1", "deg2", "jaccard_milli")
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009): for
    * every non-adjacent canonical pair, RA = Σ over shared neighbors z
    * of 1/deg(z) — the Adamic-Adar family's log-free member, so the
    * score integerizes exactly as Σ (10⁹ div deg z) in nano units and
    * every engine agrees bit-for-bit (log() is banned by the oracle-
    * parity rules; RA beats AA empirically on dense graphs anyway).
    * Hub neighbors are discounted the most: sharing a 10⁴-degree hub
    * contributes 10⁵ nanos while sharing a degree-2 neighbor
    * contributes 5·10⁸ — the signal CN/Jaccard miss.
    *
    * Same wedge shape (and Σ deg² cost note) as [[commonNeighbors]];
    * the one structural difference is that center degrees join onto
    * the ADJACENCY before the wedge self-join — edge-scale, so the
    * much larger wedge stream never needs a join, only a map-side-
    * combinable sum.
    */
  def resourceAllocation(edges: DataFrame, srcCol: String, dstCol: String,
                         minCommon: Long = 2L): DataFrame = {
    // eager materialization — see [[triangleCounts]] (84 duplicated
    // scans / 108 Exchanges measured r17 without it)
    val canon = undirected(edges, srcCol, dstCol)
      .checkpointAt("Graph.resourceAllocation.canon")
    val adj = bothWays(canon)
    val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("d"))
    // degree rides the left adjacency into the wedge join (edge-scale)
    val adjd = adj.join(deg, "a")
    val pairs = adjd.alias("e1").join(adj.alias("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.b").as("v1"), col("e2.b").as("v2"),
        expr("1000000000L div d").as("__ra"))
      .groupBy(col("v1"), col("v2"))
      .agg(count(lit(1)).as("n_common"), sum(col("__ra")).as("ra_nano"))
      .filter(col("n_common") >= minCommon)
    pairs
      .join(canon.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"), "left_anti")
      .select("v1", "v2", "n_common", "ra_nano")
  }

  /** Bounded synchronous label propagation (Raghavan et al. 2007):
    * every vertex starts as its own label; each round it adopts the
    * MODE label among its neighbors, ties to the smallest label —
    * fully deterministic, no random visit order. `rounds` is the
    * CONTRACT (the [[bfsHops]]/[[kCore]] convention): both engines run
    * the identical computation; at convergence labels are community
    * assignments — the cheap community detector that separates locally
    * dense regions connected components cannot (CC merges everything
    * reachable).
    *
    * Shape at 100 TB: per round one adjacency join (message = the
    * neighbor's current label), a map-side-combinable (vertex, label)
    * count, and a sort-free `min_by` argmax per vertex — edge-linear,
    * the Pregel message shape. Labels materialize per round (eager
    * localCheckpoint — a lost block fails the job and the caller
    * retries) so round r's plan reads round r−1's blocks.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int, driverRows: Int = 100000): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    // adjacency materialized once — see [[bfsHops]]: every propagation
    // round joins it, so truncation stops the per-round replay of the
    // canon distinct and the caller's edge derivation
    val adj = bothWays(undirected(edges, srcCol, dstCol))
      .checkpointAt("Graph.labelPropagation.adj")
    // Adaptive small-graph path (the bfsHops treatment): the driver
    // twin runs the SAME synchronous rounds — every vertex adopts the
    // mode label among its neighbors, ties to the smallest label — so
    // the converging assignment is row-identical (GraphSpec). Long ids
    // only.
    val ids = adj.schema("a")
    val driver =
      if (ids.dataType != LongType) None
      else onDriver(driverRows, new StructType().add("vertex", LongType, ids.nullable)
          .add("label", LongType), adj) { p =>
        Some(driverLabelPropagation(p.head, rounds))
      }
    if (driver.isDefined) return driver.get
    var labels = adj.select(col("a").as("vertex")).distinct()
      .withColumn("label", col("vertex"))
      .checkpointAt("Graph.labelPropagation.round")
    for (_ <- 1 to rounds) {
      labels = labels
        .join(adj, col("vertex") === col("a"))
        .groupBy(col("b").as("vx"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("vx").as("vertex"))
        .agg(min_by(col("label"), struct((-col("n")).as("neg_n"),
          col("label").as("l"))).as("label"))
        .checkpointAt("Graph.labelPropagation.round")
    }
    labels
  }

  private def driverLabelPropagation(eRows: Array[Row], rounds: Int): Iterable[Row] = {
    val adj = new java.util.HashMap[Long, mutable.ArrayBuffer[Long]]()
    eRows.foreach { r =>
      adj.computeIfAbsent(r.getLong(0), _ => mutable.ArrayBuffer.empty[Long]) +=
        r.getLong(1)
    }
    var labels = new java.util.HashMap[Long, Long]()
    adj.keySet().forEach(v => labels.put(v, v))
    for (_ <- 1 to rounds) {
      val next = new java.util.HashMap[Long, Long]()
      val prev = labels
      adj.forEach { (b, ns) =>
        // adj is symmetric, so the map's value list for b is exactly
        // N(b); the distributed round's message set {label[a] : (a,b)}
        // is the same multiset
        val counts = new java.util.HashMap[Long, Long]()
        ns.foreach(a => counts.merge(prev.get(a), 1L, (x, y) => x + y))
        var bestLabel = Long.MaxValue; var bestN = 0L
        counts.forEach { (l, n) =>
          if (n > bestN || (n == bestN && l < bestLabel)) {
            bestN = n; bestLabel = l
          }
        }
        next.put(b, bestLabel)
      }
      labels = next
    }
    labels.asScala.toSeq.map { case (v, l) => Row(v, l) }
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * vertex whose degree in the surviving subgraph is < k", over the
    * undirected simple graph of `edges`. Emits each surviving vertex
    * with its degree inside the surviving subgraph. The bounded round
    * count is the CONTRACT (like [[bfsHops]]'s `maxHops`): both engines
    * run exactly `rounds` peels, so results are deterministic without a
    * data-dependent fixpoint test; at the fixpoint the output is the
    * true k-core (Seidman 1983, the dense-subgraph / spam-farm /
    * community seed extractor; Batagelj-Zaveršnik is the sequential
    * algorithm, this is its synchronous distributed form).
    *
    * Shape at 100 TB: each round is one map-side-combinable degree
    * count over surviving edges plus two vertex-keyed semi-joins to
    * drop edges with a peeled endpoint — edge-linear per round, the
    * standard Pregel-style peel. Survivor edge sets are materialized
    * per round (eager localCheckpoint — a lost block fails the job and
    * the caller retries) so round r's plan reads round r−1's blocks
    * instead of replaying the whole prefix.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Long, rounds: Int, driverRows: Int = 100000): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    var live = undirected(edges, srcCol, dstCol)
      .checkpointAt("Graph.kCore.canon")
    // Adaptive small-graph path (the bfsHops treatment): the driver
    // twin peels the SAME `rounds` synchronous rounds over the
    // collected canonical edge set (GraphSpec pins equality). Long ids
    // only.
    val ids = live.schema("u")
    val driver =
      if (ids.dataType != LongType) None
      else onDriver(driverRows, new StructType().add("vertex", LongType, ids.nullable)
          .add("core_deg", LongType, nullable = false), live) { p =>
        Some(driverKCore(p.head, k, rounds))
      }
    if (driver.isDefined) return driver.get
    for (_ <- 1 to rounds) {
      val deg = live.select(col("u").as("x"))
        .union(live.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("x"))
      live = live
        .join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .checkpointAt("Graph.kCore.round")
    }
    live.select(col("u").as("x"))
      .union(live.select(col("v").as("x")))
      .groupBy(col("x").as("vertex")).agg(count(lit(1)).as("core_deg"))
  }

  private def driverKCore(eRows: Array[Row], k: Long, rounds: Int): Iterable[Row] = {
    var live = mutable.ArrayBuffer.empty[(Long, Long)]
    eRows.foreach(r => live += ((r.getLong(0), r.getLong(1))))
    for (_ <- 1 to rounds) {
      val deg = new java.util.HashMap[Long, Long]()
      live.foreach { case (u, v) =>
        deg.merge(u, 1L, (x, y) => x + y); deg.merge(v, 1L, (x, y) => x + y)
      }
      live = live.filter { case (u, v) => deg.get(u) >= k && deg.get(v) >= k }
    }
    val deg = new java.util.HashMap[Long, Long]()
    live.foreach { case (u, v) =>
      deg.merge(u, 1L, (x, y) => x + y); deg.merge(v, 1L, (x, y) => x + y)
    }
    deg.asScala.toSeq.map { case (v, d) => Row(v, d) }
  }
}
