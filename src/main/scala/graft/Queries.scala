package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.GraftFunctions._
import graft.operators.{Clean, Discover, Graph}
import graft.ops.{Dedup, EventAnalytics, Multimodal, Similarity, TextAnalysis, TimeSeries}
import graft.streaming.Incremental

/** The driver-facing query surface: every operator family from SURVEY.md §2
  * plus the training-data-pipeline extensions, realized over the harness
  * tables with a DuckDB oracle where SQL-expressible.
  *
  * Oracle-parity rules (learned the hard way, documented once):
  *  - Row-level arithmetic on stored values is emitted RAW — identical IEEE
  *    ops on identical inputs are bit-identical across engines; decimal
  *    rounding of exact-half values is implementation-defined and diverges.
  *  - Order-dependent aggregates (sum/avg of inexact doubles) are rounded
  *    to the decimal precision of the *true* value, where the rounding
  *    boundary is provably far from the accumulated FP error.
  *  - `avg` builtins are avoided in favor of explicit sum/count.
  *  - Every aggregate/computed column is aliased identically on both sides
  *    (the driver hash sorts by column name).
  */
object Queries {

  type QueryFn = (SparkSession, String) => DataFrame

  final case class Q(name: String, fn: QueryFn, oracle: Option[String])

  /** Drop every per-call scratch store created so far ([[Scratch.drain]]),
    * between queries and outside any timer.
    */
  def drainScratch(): Unit = Scratch.drain()

  /** Shard-capped block key for the label-blocked embedding queries
    * (`dedup_embedding_cosine`, `knn_graph_blocked`): an oversized label
    * splits into ceil(count/512) deterministic vec_id-modulus shards so
    * Sum |block|^2 stays linear-from-the-cap (the r14 fix for the two
    * sf10 quadratics — 1456 s / 411 s down to seconds).
    *
    * One eager pass collects the per-label counts — a table bounded by
    * the LABEL CARDINALITY (the fixed-cardinality premise is exactly
    * what makes raw-label blocking quadratic), capped at
    * `maxDriverLabels` so a mis-used high-cardinality blocking column
    * degrades to the r14 distributed count join instead of flooding the
    * driver. From those counts:
    *
    *  - every label fits one shard (true at sf0.01/sf0.1; sf1+ labels
    *    exceed the cap) → key on the raw label, NO join at all —
    *    provably the same grouping (__nsh = 1 ⇒ label#0 ≡ label);
    *  - some label over the cap → join against a LITERAL
    *    (LocalRelation) shard-count table rebuilt from the collected
    *    counts — the r14 plan recomputed that table with a second
    *    corpus-scan aggregate inside the join; the literal side costs
    *    zero scans, is structurally bounded under the hygiene gates,
    *    and AQE broadcasts it without any hint.
    */
  private[graft] def shardCappedBlocks(emb0: DataFrame, keyName: String,
                                       maxBlock: Int = 512,
                                       maxDriverLabels: Int = 100000): DataFrame = {
    // null-label rows are dropped UP FRONT so all three cap regimes
    // agree: both shard paths join inner USING(label) (nulls never
    // match), but the no-join fast path would keep them — a latent
    // semantic fork between cap regimes (and vs the inner-join oracle)
    // on any corpus with unlabeled vectors
    val emb = emb0.filter(col("label").isNotNull)
    val spark = emb.sparkSession
    val counts = emb.groupBy(col("label")).agg(count(lit(1)).as("__n"))
      .limit(maxDriverLabels + 1).collect()
    if (counts.length > maxDriverLabels) {
      // open-world blocking column: keep everything distributed
      val nShards = emb.groupBy(col("label"))
        .agg(ceil(count(lit(1)) / lit(maxBlock.toDouble)).as("__nsh"))
      emb.join(nShards, "label")
        .withColumn(keyName,
          concat_ws("#", col("label"), pmod(col("vec_id"), col("__nsh"))))
        .drop("__nsh")
    } else if (counts.forall(_.getLong(1) <= maxBlock)) {
      emb.withColumn(keyName, col("label"))
    } else {
      import scala.jdk.CollectionConverters._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        emb.schema("label").copy(name = "label"),
        org.apache.spark.sql.types.StructField("__nsh",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val rows: java.util.List[org.apache.spark.sql.Row] = counts.toSeq.map { r =>
        org.apache.spark.sql.Row(r.get(0),
          math.ceil(r.getLong(1) / maxBlock.toDouble).toLong)
      }.asJava
      emb.join(spark.createDataFrame(rows, schema), "label")
        .withColumn(keyName,
          concat_ws("#", col("label"), pmod(col("vec_id"), col("__nsh"))))
        .drop("__nsh")
    }
  }

  /** Land the N micro-batch input drops of a streaming query as exactly
    * one parquet file each under `inDir`, in drop order. The drops are
    * WRITTEN CONCURRENTLY (driver-thread job overlap — each tiny
    * single-file write is one short job, and running them sequentially
    * just serializes scheduler latency, ~0.15-0.2 s apiece at bench
    * scale), into per-drop staging dirs so the file-output committers
    * never share a `_temporary`. The staged files are then MOVED into
    * `inDir` sequentially with explicitly increasing mtimes, because
    * the file stream source orders its micro-batches by (modification
    * time, path) — concurrent writes would otherwise race drop order,
    * and ordering is semantic for the one query whose final drop
    * carries the watermark sentinel (incr_stream_outer_join).
    * Crc sidecars stay behind in staging (deleted with it): the moved
    * file has no sidecar, so ChecksumFileSystem skips verification
    * rather than mismatching.
    */
  private def writeDrops(inDir: String, drops: Seq[DataFrame]): Unit =
    writeDropSets(Seq(inDir -> drops))

  /** Multi-directory form of [[writeDrops]] for the two-stream joins:
    * every drop of every target directory stages concurrently in one
    * overlapped batch of jobs, then each directory's files are moved
    * into place in drop order.
    */
  private def writeDropSets(sets: Seq[(String, Seq[DataFrame])]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val staged = sets.map { case (inDir, drops) =>
      (inDir, drops, Files.createDirectories(Paths.get(inDir + ".stage")))
    }
    Await.result(Future.traverse(
      staged.flatMap { case (_, drops, stageRoot) =>
        drops.zipWithIndex.map { case (df, i) => (df, s"$stageRoot/d$i") }
      }.toList) { case (df, dir) =>
      Future { df.coalesce(1).write.mode("overwrite").parquet(dir) }
    }, Duration.Inf)
    val t0 = (System.currentTimeMillis() / 1000L) * 1000L
    staged.foreach { case (inDir, drops, stageRoot) =>
      Files.createDirectories(Paths.get(inDir))
      drops.indices.foreach { i =>
        val stageDir = Paths.get(s"$stageRoot/d$i")
        val lst = Files.list(stageDir)
        val part =
          try lst.filter(p => p.getFileName.toString.startsWith("part-") &&
              p.getFileName.toString.endsWith(".parquet"))
            .findFirst().orElseThrow(() =>
              new IllegalStateException(s"no part file staged in $stageDir"))
          finally lst.close()
        val dst = Paths.get(inDir, f"drop-$i%03d.parquet")
        Files.move(part, dst, StandardCopyOption.ATOMIC_MOVE)
        // strictly increasing, second-aligned mtimes: coarse-granularity
        // filesystems must still observe drop k < drop k+1
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
      }
      // staging (and any crc sidecars) is garbage once the moves land
      Scratch.deleteTree(stageRoot)
    }
  }

  /** Run one streaming job to completion — `writer` started with
    * `Trigger.AvailableNow`, checkpointed under `ckpt` — under
    * state-sized confs, restoring the session confs afterwards (a key
    * the session had not set is unset again). `writer` is built inside
    * the conf scope. Two knobs, both provisioning decisions the batch
    * defaults get wrong for stateful streams:
    *
    * `statePartitions` — a stateful operator opens one state store per
    * shuffle partition per internal store (a stream-stream join keeps
    * FOUR per side-pair), and each HDFSBackedStateStore instance pays a
    * fixed load/commit file round trip per micro-batch regardless of
    * row volume. The count is pinned into the CHECKPOINT at first start,
    * so it must be sized to expected state volume up front: the round-11
    * diagnosis (StreamDiag probe) measured the 40k-row interval join at
    * 9.9 s under the inherited 32-partition default (128 instances × 3
    * batches of pure per-instance overhead) vs 3.9 s at 4 partitions.
    * At 100 TB/day the same knob is sized UP (state volume / a few
    * hundred MB per store), independent of the batch shuffle width.
    *
    * `noDataBatch` — AvailableNow appends a trailing zero-input
    * micro-batch whose only job is watermark-driven state eviction and
    * late window emission. Operators that emit EAGERLY (stream-stream
    * inner join, dropDuplicates* — rows surface in the batch they
    * arrive; complete-mode sinks — every batch re-emits the full table)
    * produce identical results without it, so those queries skip its
    * full state load/commit cycle.
    *
    * `providerClass` pins a state store provider for queries whose
    * operator requires one (transformWithState needs RocksDB).
    *
    * Artifact isolation is off inside the scope: each run executes on a
    * cloned session with its own session id, and with isolation on that
    * session's tasks get their own class loader, so the codegen cache
    * (keyed by class loader and code) misses on every run and the
    * stream's classes recompile each call. The engine adds no artifacts
    * to any session, so isolation has nothing to isolate.
    *
    * Conf set/restore is safe here: the streaming job runs to completion
    * (AvailableNow + awaitTermination) inside the scope, and the queries'
    * downstream BATCH plans execute after restore, at `.count()` time.
    */
  private def runAvailableNow(s: SparkSession, ckpt: String,
      statePartitions: Int, noDataBatch: Boolean,
      providerClass: Option[String] = None)(
      writer: => org.apache.spark.sql.streaming.DataStreamWriter[_]): Unit = {
    val conf = s.conf
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> Some(statePartitions.toString),
      "spark.sql.streaming.noDataMicroBatches.enabled" -> Some(noDataBatch.toString),
      "spark.sql.streaming.stateStore.providerClass" -> providerClass,
      "spark.sql.artifact.isolation.enabled" -> Some("false"))
    val explicit = conf.getAll
    val prev = scoped.map { case (k, _) => k -> explicit.get(k) }
    for ((k, v) <- scoped; x <- v) conf.set(k, x)
    try writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).start().awaitTermination()
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State shard count derived from the state VOLUME a streaming job
    * will hold, not a gate-SF constant: ~250k keys per shard keeps an
    * HDFS-backed in-heap shard comfortably inside an executor's young
    * gen, and the clamp keeps tiny corpora at the round-11 floor (4)
    * and degenerate ones bounded (64 at local[32]; a real cluster
    * raises the cap with its executor count). The r13 sf1 bench showed
    * why this must scale with the corpus: the one job holding 13M keys
    * in 4 in-heap shards cost 24x its sf0.1 time IN-FLEET (GC/page-cache
    * pressure) vs 5x isolated.
    */
  private def stateShardsFor(stateRows: Long, rowsPerShard: Long = 250000L): Int =
    math.min(64L, math.max(4L, stateRows / rowsPerShard)).toInt

  // ---------------------------------------------------------------- S1
  private val s1DiscoverScan = Q(
    "s1_discover_scan",
    (s, d) => Discover.idsSorted(
      Discover.scan(orders(s, d), "o_orderdate", "1998-01-01", "1998-03-31",
        "o_totalprice", 10000),
      "o_orderkey", "o_orderdate"),
    Some("""SELECT o_orderkey, o_orderdate FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              AND o_orderdate <= TIMESTAMP '1998-03-31'
              AND o_totalprice >= 10000"""))

  // S1 served through the DataSourceV2 TableProvider
  // (sources/DiscoverDataSource): the vote floor and language predicate
  // travel INTO the scan as API query params (SupportsPushDownFilters —
  // DiscoverSourceSpec asserts them in this exact plan), the adult flag
  // is the deliberately-unsupported residual Spark evaluates post-scan,
  // and projection reaches the reader via pruneColumns. The source
  // synthesizes rows as a closed-form function of the global row index
  // (DiscoverDataSource.row), so the oracle replays that arithmetic
  // over range(pages*pageSize) — a full engine-vs-SQL hash gate on the
  // DSv2 read path itself, independent of the parquet tables.
  private val s1DiscoverDsv2 = Q(
    "s1_discover_dsv2",
    (s, _) => s.read.format("graft.sources.DiscoverDataSource")
      .option("pages", 25).option("pageSize", 40).load()
      .filter(col("vote_count") >= 1000L && !col("adult") &&
        col("original_language") === "en")
      .select(col("id"), col("title"), col("vote_count"),
        col("vote_average"), col("original_language")),
    Some("""SELECT 1000 + i AS id,
              'Movie ' || CAST(1000 + i AS VARCHAR) AS title,
              (i * 37) % 5000 AS vote_count,
              CAST(i % 100 AS DOUBLE) / 10.0 AS vote_average,
              ['en','fr','de','es','ja'][CAST(i % 5 AS INTEGER) + 1]
                AS original_language
            FROM range(1000) t(i)
            WHERE (i * 37) % 5000 >= 1000
              AND NOT (i % 50 = 49)
              AND i % 5 = 0"""))

  // ---------------------------------------------------------------- S2
  // keyed point-lookup of a small id list against the source == the
  // reference's per-id GET (etl_task.py:78-109): broadcast the id list,
  // never shuffle the fact side
  private val s2PointLookup = Q(
    "s2_point_lookup",
    (s, d) => {
      import s.implicits._
      val ids = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L).toDF("o_orderkey")
      orders(s, d).join(broadcast(ids), Seq("o_orderkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
            WHERE o_orderkey IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)"""))

  // ---------------------------------------------------------------- C1
  private val c1CleanProject = Q(
    "c1_clean_project",
    (s, d) => lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      nullif(col("l_tax"), lit(0.0)).as("tax"),
      nullif(col("l_discount"), lit(0.0)).as("discount"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"),
      // timestamp (not DATE) output: date-typed columns round-trip through
      // parquet/pandas with engine-specific representations
      date_trunc("day", col("l_shipdate")).as("ship_date"),
      col("l_returnflag").as("returnflag")),
    Some("""SELECT l_orderkey, l_linenumber,
              nullif(l_tax, 0.0) AS tax,
              nullif(l_discount, 0.0) AS discount,
              l_extendedprice * (1 - l_discount) AS net_price,
              date_trunc('day', l_shipdate) AS ship_date,
              l_returnflag AS returnflag
            FROM lineitem"""))

  // null-semantics battery: the ""/0 -> NULL conventions interact with
  // three-valued logic; null-safe equality (Spark <=>, DuckDB IS NOT
  // DISTINCT FROM) is the join-key-safe comparison
  private val nullLogic = Q(
    "null_logic",
    (s, d) => lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      coalesce(nullif(col("l_tax"), lit(0.0)), lit(-1.0)).as("tax_or_sentinel"),
      (nullif(col("l_tax"), lit(0.0)) <=> nullif(col("l_discount"), lit(0.0)))
        .as("tax_eq_disc_nullsafe"),
      nullif(col("l_tax"), lit(0.0)).isNull.as("tax_missing"),
      when(nullif(col("l_tax"), lit(0.0)) > nullif(col("l_discount"), lit(0.0)), "tax")
        .when(nullif(col("l_tax"), lit(0.0)) < nullif(col("l_discount"), lit(0.0)), "disc")
        .otherwise("tie_or_unknown").as("larger")),
    Some("""SELECT l_orderkey, l_linenumber,
              coalesce(nullif(l_tax, 0.0), -1.0) AS tax_or_sentinel,
              nullif(l_tax, 0.0) IS NOT DISTINCT FROM nullif(l_discount, 0.0)
                AS tax_eq_disc_nullsafe,
              nullif(l_tax, 0.0) IS NULL AS tax_missing,
              CASE WHEN nullif(l_tax, 0.0) > nullif(l_discount, 0.0) THEN 'tax'
                   WHEN nullif(l_tax, 0.0) < nullif(l_discount, 0.0) THEN 'disc'
                   ELSE 'tie_or_unknown' END AS larger
            FROM lineitem"""))

  // ---------------------------------------------------------------- C2
  // harness analog of Clean.collectionDetails (etl_task.py:205-219): the
  // id-rename + name + ""->NULL projection shape on the part table
  private val c2CleanCollection = Q(
    "c2_clean_collection",
    (s, d) => part(s, d).select(
      col("p_partkey").as("collection_id"),
      col("p_name").as("name"),
      nullIfEmpty(col("p_brand")).as("overview")),
    Some("""SELECT p_partkey AS collection_id, p_name AS name,
              nullif(p_brand, '') AS overview
            FROM part"""))

  // ---------------------------------------------------------------- C3
  // harness analog of Clean.companyDetails (etl_task.py:221-238): id +
  // parent-id + 0->NULL / ""->NULL batteries on the supplier table
  private val c3CleanCompany = Q(
    "c3_clean_company",
    (s, d) => supplier(s, d).select(
      col("s_suppkey").as("company_id"),
      nullIfZero(col("s_nationkey")).as("parent_company_id"),
      col("s_name").as("name"),
      nullif(col("s_acctbal"), lit(0.0)).as("account_balance")),
    Some("""SELECT s_suppkey AS company_id,
              nullif(s_nationkey, 0) AS parent_company_id,
              s_name AS name,
              nullif(s_acctbal, 0.0) AS account_balance
            FROM supplier"""))

  // ---------------------------------------------------------------- C4
  // harness analog of Clean.personDetails (etl_task.py:240-259): id +
  // name + gender decode + ""/0->NULL batteries on the customer table
  private val c4CleanPerson = Q(
    "c4_clean_person",
    (s, d) => customer(s, d).select(
      col("c_custkey").as("person_id"),
      col("c_name").as("name"),
      decodeGender(col("c_custkey") % 4).as("gender"),
      nullIfEmpty(col("c_mktsegment")).as("segment"),
      nullif(col("c_acctbal"), lit(0.0)).as("popularity")),
    Some("""SELECT c_custkey AS person_id, c_name AS name,
              CASE c_custkey % 4 WHEN 0 THEN 'Not specified'
                WHEN 1 THEN 'Female' WHEN 2 THEN 'Male'
                WHEN 3 THEN 'Non-binary' END AS gender,
              nullif(c_mktsegment, '') AS segment,
              nullif(c_acctbal, 0.0) AS popularity
            FROM customer"""))

  // ---------------------------------------------------------------- C5
  private val c5GenderDecode = Q(
    "c5_gender_decode",
    (s, d) => nation(s, d).select(
      col("n_nationkey"), col("n_name"),
      decodeGender(col("n_nationkey") % 5).as("gender")),
    Some("""SELECT n_nationkey, n_name,
              CASE n_nationkey % 5 WHEN 0 THEN 'Not specified'
                WHEN 1 THEN 'Female' WHEN 2 THEN 'Male'
                WHEN 3 THEN 'Non-binary' END AS gender
            FROM nation"""))

  // ---------------------------------------------------------------- C6
  private val eventTypeToDept: Column =
    when(col("event_type") === "click", "Directing")
      .when(col("event_type") === "view", "Writing")
      .when(col("event_type") === "purchase", "Production")
      .when(col("event_type") === "signup", "Art")
      .when(col("event_type") === "error", "Sound")

  private val c6DeptRoute = Q(
    "c6_dept_route",
    (s, d) => events(s, d)
      .select(departmentToRelType(eventTypeToDept).as("rel_type"))
      .groupBy("rel_type").agg(count(lit(1)).as("n")),
    Some("""SELECT CASE event_type WHEN 'click' THEN 'DIRECTED_BY'
              WHEN 'view' THEN 'WRITTEN_BY' WHEN 'purchase' THEN 'PRODUCED_BY'
              WHEN 'signup' THEN 'ART_BY' WHEN 'error' THEN 'SOUND_BY'
              END AS rel_type, count(*) AS n
            FROM events GROUP BY 1"""))

  // ---------------------------------------------------------------- C7
  // The harness tables have no array columns, so the array INPUT the real
  // C7 receives is materialized ONCE per sf dir as a parquet fixture
  // (l_orderkey -> distinct partkey array); the measured plan is then
  // exactly the operator under test — Clean.bridge's explode over an
  // array column — with no collect_set detour in it.
  private val c7FixturePaths =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def c7Arrays(s: SparkSession, d: String): DataFrame = {
    val path = c7FixturePaths.getOrElseUpdate(d, {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft_c7_arrays_" +
        java.lang.Integer.toHexString(d.hashCode)
      lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("parts"))
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  private val c7ExplodeBridge = Q(
    "c7_explode_bridge",
    (s, d) => Clean.bridge(
        c7Arrays(s, d).withColumnRenamed("l_orderkey", "movie_id"),
        "parts", "l_partkey")
      .withColumnRenamed("movie_id", "l_orderkey"),
    Some("SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"))

  // ---------------------------------------------------------------- C8
  private val c8Regroup = Q(
    "c8_regroup",
    (s, d) => events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("event_id"))), _.cast("string")))
        .as("event_ids")),
    Some("""SELECT user_id, event_type,
              string_agg(event_id, ',' ORDER BY event_id) AS event_ids
            FROM events GROUP BY 1, 2"""))

  // ---------------------------------------------------------------- J2
  private val j2AntiProbe = Q(
    "j2_anti_probe",
    (s, d) => Graph.notExisting(customer(s, d),
        orders(s, d).filter(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey").as("c_custkey")), "c_custkey")
      .select("c_custkey", "c_name"),
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
              WHERE o_orderdate >= TIMESTAMP '2000-01-01')"""))

  // ---------------------------------------------------------------- J1
  private val j1SemiProbe = Q(
    "j1_semi_probe",
    (s, d) => Graph.existing(customer(s, d),
        orders(s, d).filter(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey").as("c_custkey")), "c_custkey")
      .select("c_custkey", "c_name"),
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders
              WHERE o_orderdate >= TIMESTAMP '2000-01-01')"""))

  // ---------------------------------------------------------------- J3
  private val j3EdgeBuild = Q(
    "j3_edge_build",
    (s, d) => Graph.buildEdges(
      lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey").as("p_partkey")),
      // tails = `part`, which scales with SF — NOT one of the small
      // static dimensions buildEdges' broadcastTails knob is for; the
      // r14 broadcast-hygiene gate caught the hint, so let AQE pick the
      // semi-join strategy at runtime instead
      orders(s, d), part(s, d), "o_orderkey", "p_partkey", "CONTAINS"),
    Some("""SELECT DISTINCT
              l_orderkey AS o_orderkey, l_partkey AS p_partkey,
              l_orderkey || '-' || l_partkey AS relationship_id,
              'CONTAINS' AS rel_type
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
              AND l_partkey IN (SELECT p_partkey FROM part)"""))

  // ---------------------------------------------------------------- J4
  // The same parent-hierarchy closure as a DECLARATIVE recursive CTE
  // (Spark 4 WITH RECURSIVE) — the reference's while-loop
  // (etl_flow.py:359-414) expressed as the SQL standard's fixpoint
  // construct, with DuckDB's recursive CTE as the oracle. The iterative
  // Graph.ancestorClosure twin (j4_hierarchy) remains the scale path:
  // its per-round dedup + adaptive driver fast path bound the frontier,
  // while the fixpoint operator re-shuffles the whole accumulator per
  // round. Both produce identical rows; the engine offers both idioms.
  private val j4HierarchyRcte = Q(
    "j4_hierarchy_rcte",
    (s, d) => {
      supplier(s, d).select(
          concat(lit("S"), col("s_suppkey").cast("string")).as("child"),
          concat(lit("N"), col("s_nationkey").cast("string")).as("parent"))
        .unionByName(nation(s, d).select(
          concat(lit("N"), col("n_nationkey").cast("string")).as("child"),
          concat(lit("R"), col("n_regionkey").cast("string")).as("parent")))
        // landed once: every recursive step joins the view, which would
        // otherwise plan and scan supplier and nation again per iteration
        .transform(graft.plans.Materialize.checkpoint(_, "Queries.j4HierarchyRcte.edges"))
        .createOrReplaceTempView("graft_hier_edges")
      val out = s.sql("""
        WITH RECURSIVE anc(child, ancestor, depth) AS (
          SELECT child, parent, 1 FROM graft_hier_edges
          UNION ALL
          SELECT a.child, e.parent, a.depth + 1
          FROM anc a JOIN graft_hier_edges e ON e.child = a.ancestor
        )
        SELECT child, ancestor, depth FROM anc""")
      // the analyzed plan already holds the view's plan
      s.catalog.dropTempView("graft_hier_edges")
      out
    },
    Some("""WITH RECURSIVE e AS (
              SELECT 'S' || s_suppkey AS child, 'N' || s_nationkey AS parent FROM supplier
              UNION ALL
              SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation),
            anc(child, ancestor, depth) AS (
              SELECT child, parent, 1 FROM e
              UNION ALL
              SELECT a.child, e2.parent, a.depth + 1
              FROM anc a JOIN e e2 ON e2.child = a.ancestor)
            SELECT child, ancestor, depth FROM anc"""))

  private val j4Hierarchy = Q(
    "j4_hierarchy",
    (s, d) => {
      val sup = supplier(s, d).select(
        concat(lit("S"), col("s_suppkey").cast("string")).as("child"),
        concat(lit("N"), col("s_nationkey").cast("string")).as("parent"))
      val nat = nation(s, d).select(
        concat(lit("N"), col("n_nationkey").cast("string")).as("child"),
        concat(lit("R"), col("n_regionkey").cast("string")).as("parent"))
      Graph.ancestorClosure(sup.unionByName(nat))
    },
    Some("""WITH e AS (
              SELECT 'S' || s_suppkey AS child, 'N' || s_nationkey AS parent FROM supplier
              UNION ALL
              SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation)
            SELECT child, parent AS ancestor, 1 AS depth FROM e
            UNION ALL
            SELECT a.child, b.parent AS ancestor, 2 AS depth
            FROM e a JOIN e b ON a.parent = b.child"""))

  // as-of join: attribute each purchase to the most recent prior click by
  // the same user (DuckDB ASOF JOIN oracle; >= tie semantics)
  private val asofJoin = Q(
    "asof_join",
    (s, d) => {
      val e = events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_event"),
          col("ts").as("click_ts"))
      graft.operators.AsOf.joinMatched(purchases, clicks, "user_id", "ts",
          Seq("click_event" -> "click_id", "click_ts" -> "matched_ts"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("matched_ts"))).as("gap_us"))
    },
    Some("""SELECT p.event_id, p.user_id, c.event_id AS click_id,
              epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts"""))

  // forward as-of: each click attributed to the NEXT purchase by the
  // same user (DuckDB ASOF with the <= direction)
  private val asofForward = Q(
    "asof_join_forward",
    (s, d) => {
      val e = events(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_event"),
          col("ts").as("purchase_ts"))
      graft.operators.AsOf.joinForwardMatched(clicks, purchases, "user_id", "ts",
          Seq("purchase_event" -> "purchase_id", "purchase_ts" -> "matched_ts"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
          (unix_micros(col("matched_ts")) - unix_micros(col("ts"))).as("wait_us"))
    },
    Some("""SELECT c.event_id, c.user_id, p.event_id AS purchase_id,
              epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts <= p.ts"""))

  // binned range join: which sampled order windows does each sampled
  // shipment date fall into — equi-join on bin + residual BETWEEN, never
  // a nested loop
  private val rangeJoin = Q(
    "range_join",
    (s, d) => {
      val intervals = orders(s, d).filter(col("o_orderkey") % 149 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("lo"),
          (col("o_orderdate") + expr("INTERVAL 14 DAYS")).as("hi"))
      val points = lineitem(s, d).filter(col("l_partkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      graft.operators.RangeJoin.pointInInterval(points, "l_shipdate",
          intervals, "lo", "hi", binWidth = 7L * 24 * 3600 * 1000000)
        .groupBy(col("o_orderkey"), col("lo"))
        .agg(count(lit(1)).as("n_shipments"))
    },
    Some("""SELECT o_orderkey, lo, count(*) AS n_shipments
            FROM (SELECT o_orderkey, o_orderdate AS lo,
                    o_orderdate + INTERVAL 14 DAY AS hi
                  FROM orders WHERE o_orderkey % 149 = 0) i
            JOIN (SELECT l_shipdate FROM lineitem WHERE l_partkey % 10 = 0) p
              ON p.l_shipdate >= i.lo AND p.l_shipdate < i.hi
            GROUP BY 1, 2"""))

  // ---------------------------------------------------------------- aggregates
  private val q1Agg = Q(
    "q1_agg",
    // money sums in EXACT integer units (cents, and cents x
    // (100 - discount cents) for the discounted sum — the q15
    // convention): a double SUM over a whole-corpus group is
    // accumulation-order-dependent in its last digit (it flipped at
    // the 100x ledger probe), and round() cannot mask an error in the
    // 16th significant digit. Accumulation runs in decimal(38,0)
    // (DuckDB twin: HUGEINT promotion of its BIGINT sum) so no corpus
    // size wraps it; the emitted unit totals land back in BIGINT.
    // sum_qty stays a double sum: quantities are integral and the
    // exact-integer window of IEEE doubles (2^53) covers any per-group
    // quantity mass a bench reaches.
    (s, d) => lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(floor(col("l_extendedprice") * 100 + 0.5)
          .cast("decimal(38,0)")).cast("long").as("sum_base_cents"),
        sum((floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
          .cast("decimal(38,0)")).cast("long").as("sum_disc_unit"),
        count(lit(1)).as("n")),
    Some("""SELECT l_returnflag, l_linestatus,
              sum(l_quantity) AS sum_qty,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_base_cents,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS sum_disc_unit,
              count(*) AS n
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-09-02'
            GROUP BY 1, 2"""))

  private val q3TopkJoin = Q(
    "q3_topk_join",
    (s, d) => {
      // no broadcast hint on the filtered orders side: the date filter
      // keeps ~half the ORDERS fact table — corpus-sized, not a dim —
      // so AQE broadcasts it only when its runtime size permits and
      // otherwise both facts shuffle on the order key (at sf1 the
      // forced broadcast built a ~7M-entry driver hash table)
      val o = orders(s, d).filter(col("o_orderdate") >= lit("1996-01-01"))
      lineitem(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            GROUP BY 1, 2
            ORDER BY revenue DESC, o_orderkey LIMIT 10"""))

  // five-table join chain with two broadcast dims — the TPC-H Q5 shape.
  // Revenue is summed in EXACT scaled-integer space (price cents ×
  // (100 − discount pct), both quantized half-up from the stored
  // doubles): the per-nation groups are the ledger's largest (~12M rows
  // at sf10 summing to ~2e10), where a rounded double sum's accumulated
  // FP error reaches the 4-decimal boundary and the verdict depends on
  // the engine's (and even the oracle's own parallel) accumulation
  // order — the r16 sf10 sweep caught exactly that flake on its second
  // DuckDB pass. BIGINT headroom: ≤1.05e9 per row × 6e8 rows < 2^63.
  private val q5JoinChain = Q(
    "q5_join_chain",
    (s, d) => customer(s, d)
      .join(orders(s, d).filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01")), col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long")))
        .as("revenue_e4"), count(lit(1)).as("n")),
    Some("""SELECT n_name,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS revenue_e4,
              count(*) AS n
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1"""))

  private val havingAgg = Q(
    "having_agg",
    (s, d) => orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .filter(col("n_orders") >= 15),
    Some("""SELECT o_custkey, count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY 1 HAVING count(*) >= 15"""))

  // conditional-aggregation pivot: one row per user, one column per event type
  private val casePivot = Q(
    "case_pivot",
    (s, d) => {
      val e = events(s, d)
      val types = Seq("click", "view", "purchase", "signup", "error")
      e.groupBy(col("user_id")).agg(
        count(when(col("event_type") === types.head, 1)).as(s"n_${types.head}"),
        (types.tail.map(t => count(when(col("event_type") === t, 1)).as(s"n_$t")) :+
          round(sum(when(col("event_type") === "purchase", col("value"))), 2)
            .as("purchase_value")): _*)
    },
    Some("""SELECT user_id,
              count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
              count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
              count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
              count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
              count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
              round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2)
                AS purchase_value
            FROM events GROUP BY 1"""))

  private val aggDistinct = Q(
    "agg_distinct",
    (s, d) => lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"), count(lit(1)).as("n")),
    Some("""SELECT l_partkey, count(DISTINCT l_suppkey) AS n_supp, count(*) AS n
            FROM lineitem GROUP BY 1"""))

  // exact interpolated percentiles: Spark percentile() and DuckDB
  // quantile_cont share the linear-interpolation definition, so values
  // are reproducible (index = p*(n-1) over the sorted run)
  private val percentileAgg = Q(
    "percentile_agg",
    (s, d) => events(s, d)
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"),
        count(lit(1)).as("n")),
    Some("""SELECT event_type,
              quantile_cont(value, 0.5) AS p50,
              quantile_cont(value, 0.9) AS p90,
              count(*) AS n
            FROM events GROUP BY 1"""))

  // sketch aggregates (HLL++ distinct, approximate quantile): the sketch
  // VALUES are engine-specific, so the oracled contract is the error
  // bound itself — Spark computes exact and approx in one pass and emits
  // within-bound booleans (integer cross-multiplied for the HLL side;
  // the quantile side brackets the approx median between exact quantiles
  // at 0.495/0.505, a 5x margin over percentile_approx's n/accuracy rank
  // guarantee). The oracle recomputes the exact columns and asserts the
  // booleans TRUE: a sketch straying outside its bound breaks the hash.
  private val sketchAgg = Q(
    "sketch_agg",
    (s, d) => {
      // exact quantiles via the rank-based windowed interpolation
      // (Features.quantilesCont, the quantile_cont_agg formulation) —
      // NOT Spark's exact percentile() aggregate, whose buffer holds
      // every distinct (value, count) per group: three of those maps
      // over a 10x lineitem OOM'd a 48 GB heap at the sf1 ledger
      // bench, while the window sort spills and scales. The sketch
      // aggregates (HLL, KLL) keep their fixed-size state.
      val exactQ = ops.Features.quantilesCont(
        lineitem(s, d), "l_returnflag", "l_extendedprice", Seq(495, 500, 505))
      // exact distinct lives in its OWN aggregation: fused with
      // percentile_approx, the distinct rewrite keys the partial
      // aggregate by (group, orderkey) and allocates an object buffer —
      // a QuantileSummaries — per DISTINCT KEY, which is millions of
      // buffers per task at ledger scale (OOM'd 48 GB at sf1). Split,
      // each aggregation keeps its natural shape: the distinct pass is
      // plain hash rows, the sketch pass holds 3 buffers total.
      val exactD = lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("amed"))
        .join(exactD, "l_returnflag") // per-group tables: tiny
        .join(exactQ, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("exact_orders"),
          col("p500_cont").as("exact_median"),
          (abs(col("approx_orders") - col("exact_orders")) * 100 <=
            col("exact_orders") * 5).as("hll_within_5pct"),
          (col("amed") >= col("p495_cont") && col("amed") <= col("p505_cont"))
            .as("median_within_rank_bound"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
              count(DISTINCT l_orderkey) AS exact_orders,
              quantile_cont(l_extendedprice, 0.5) AS exact_median,
              TRUE AS hll_within_5pct,
              TRUE AS median_within_rank_bound
            FROM lineitem GROUP BY 1"""))

  // The optimizer-rule path through the correctness gate: written in
  // the DECLARATIVE window-rank idiom (row_number <= k with the rank
  // column dropped) and relying on plans.TopKRewrite to execute it as
  // the bounded-heap TopKPerKey operator — hash-matched against the
  // DuckDB window formulation. The score is integer cents (no NaN;
  // coalesce makes it non-nullable) and the ascending integral
  // tie-break makes the kept MULTISET deterministic: rows tied beyond
  // (score, tie) are indistinguishable in the output projection, so
  // the first-k cut of the sorted multiset is engine-exact.
  private val topkRankRewrite = Q(
    "topk_rank_rewrite",
    (s, d) => {
      graft.plans.TopKRewrite.install(s)
      val base = lineitem(s, d).select(col("l_returnflag"),
        coalesce(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"),
          lit(0L)).as("price_cents"),
        coalesce(col("l_orderkey"), lit(0L)).as("l_orderkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("price_cents").desc, col("l_orderkey").asc)
      base.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("l_returnflag", "price_cents", "l_orderkey")
    },
    Some("""WITH b AS (
              SELECT l_returnflag,
                CAST(coalesce(floor(l_extendedprice * 100 + 0.5), 0) AS BIGINT)
                  AS price_cents,
                coalesce(l_orderkey, 0) AS l_orderkey
              FROM lineitem)
            SELECT l_returnflag, price_cents, l_orderkey FROM (
              SELECT l_returnflag, price_cents, l_orderkey,
                row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY price_cents DESC, l_orderkey) AS rn
              FROM b) WHERE rn <= 5"""))

  // The rank() leg of the TopKRewrite through the correctness gate:
  // top-5 users by event count per event type, written with rank()
  // over the aggregate. The groupBy(event_type, user_id) below the
  // window PROVES the ordering tie-free (grouping keys ⊆ partition ∪
  // tie-break), so rank == row_number and the rule may run the
  // bounded-heap operator; the oracle states the identical rank()
  // formulation. coalesce() pins both columns non-nullable (parquet
  // reads are nullable by default, and the rewrite's guards demand a
  // non-nullable score and tie-break).
  private val topkRankAgg = Q(
    "topk_rank_agg",
    (s, d) => {
      graft.plans.TopKRewrite.install(s)
      val base = events(s, d).select(
        coalesce(col("event_type"), lit("")).as("event_type"),
        coalesce(col("user_id"), lit(0L)).as("user_id"))
      val agg = base.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("n_events").desc, col("user_id").asc)
      agg.withColumn("r", rank().over(w)).filter(col("r") <= 5)
        .select("event_type", "user_id", "n_events")
    },
    Some("""WITH a AS (
              SELECT coalesce(event_type, '') AS event_type,
                coalesce(user_id, 0) AS user_id, count(*) AS n_events
              FROM events GROUP BY 1, 2)
            SELECT event_type, user_id, n_events FROM (
              SELECT event_type, user_id, n_events,
                rank() OVER (PARTITION BY event_type
                  ORDER BY n_events DESC, user_id) AS r
              FROM a) WHERE r <= 5"""))

  // Misra-Gries heavy hitters through the driver gate: with distinct
  // keys <= k the summary provably takes no decrement step in reduce OR
  // merge, so the sketch is EXACT and order-independent — the oracle is
  // plain GROUP BY counts, and any bug in the counter bookkeeping breaks
  // the hash. The eviction/bound behavior on high-cardinality skewed
  // streams (est <= true, true - est <= N/(k+1), heavy hitters always
  // present) is pinned by AggregatorsSpec's skewed fixture; at 100 TB
  // the value is the FIXED k-counter state per group vs a full
  // count-distinct shuffle.
  private val sketchMgTopk = Q(
    "sketch_mg_topk",
    (s, d) => events(s, d)
      .agg(udaf(new graft.functions.Aggregators.MisraGries(8),
        org.apache.spark.sql.Encoders.STRING)
        .apply(col("event_type")).as("mg"))
      .select(explode(col("mg")).as(Seq("event_type", "est_count"))),
    Some("SELECT event_type, count(*) AS est_count FROM events GROUP BY 1"))

  // The leading `nibbles` hex digits of an md5 hex column as an integer
  // both engines derive identically (Spark conv(hex) == DuckDB
  // instr-on-nibbles). Callers bind md5(...) in a prior CTE so it runs
  // once per row, not once per nibble term.
  private def duckHexPrefix(hexCol: String, nibbles: Int): String =
    (1 to nibbles).map(i =>
      s"(instr('0123456789abcdef', substr($hexCol, $i, 1)) - 1) * ${BigInt(16).pow(nibbles - i)}")
      .mkString("(", " + ", ")")

  // 60-bit hash: 15 nibbles
  private def duckHex60(hexCol: String): String = duckHexPrefix(hexCol, 15)

  // 20-bit md5 content bucket: 5 nibbles, matching
  // Expressions.md5_bits(text, 5)
  private def duckBucket20(hexCol: String): String = duckHexPrefix(hexCol, 5)

  // rank of the highest set bit in the 52-bit HLL payload, as a CASE
  // chain (floor(log2) is banned: libm divergence)
  private val hllRho: String = {
    val branches = (1 to 52)
      .map(r => s"WHEN w >= ${BigInt(2).pow(52 - r)} THEN $r").mkString(" ")
    s"CASE WHEN w = 0 THEN 53 $branches END"
  }

  // a distinct sketch that HASH-MATCHES across engines: registers from a
  // shared md5-derived hash, raw HLL estimator in integer-scaled
  // arithmetic + one double multiply-divide (see Aggregators.HllDistinct).
  // Spark runs the one-pass mergeable Aggregator; the oracle rebuilds the
  // same registers with GROUP BY — same math, different plan.
  private val sketchHllDistinct = Q(
    "sketch_hll_distinct",
    (s, d) => {
      val h = graft.functions.Expressions.md5_bits(col("event_id").cast("string"), 15)
      events(s, d).select(col("event_type"), h.as("h"))
        .groupBy(col("event_type"))
        .agg(
          udaf(new graft.functions.Aggregators.HllDistinct(8),
            org.apache.spark.sql.Encoders.scalaLong)
            .apply(col("h")).as("distinct_est"),
          count(lit(1)).as("n_rows"))
    },
    Some(s"""WITH md AS (
              SELECT event_type, md5(event_id::VARCHAR) AS mh FROM events),
            hashed AS (
              SELECT event_type, ${duckHex60("mh")} AS h FROM md),
            slotted AS (
              SELECT event_type, h // 4503599627370496 AS idx,
                     h % 4503599627370496 AS w
              FROM hashed),
            regs AS (
              SELECT event_type, idx, max($hllRho) AS mj
              FROM slotted GROUP BY 1, 2),
            sums AS (
              SELECT event_type,
                sum(CASE WHEN mj <= 52 THEN CAST(1 AS BIGINT) << (52 - mj)
                         ELSE 0 END)
                  + (256 - count(*)) * 4503599627370496 AS intsum
              FROM regs GROUP BY 1)
            SELECT s.event_type,
              CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                * 4503599627370496.0 / intsum) AS BIGINT) AS distinct_est,
              n.n_rows
            FROM sums s
            JOIN (SELECT event_type, count(*) AS n_rows
                  FROM events GROUP BY 1) n USING (event_type)"""))

  // the first-byte (2-nibble) md5 bucket of an arbitrary SQL expression
  private def duckBucketOf(expr: String): String =
    s"CAST(${duckHexPrefix(s"md5($expr)", 2)} AS BIGINT)"

  // Count-Min frequency sketch, cross-engine exact like the HLL: buckets
  // from a shared md5 derivation, counters and min-estimates in pure
  // integer arithmetic. Spark runs the one-pass d*w-counter Aggregator;
  // the oracle rebuilds each depth's counters with GROUP BY and takes
  // the same min over depths.
  private val sketchCmsFreq = Q(
    "sketch_cms_freq",
    (s, d) => {
      val depth = 4
      val width = 256
      val probes = Seq(1L, 7L, 42L)
      val probeBuckets = probes.map { p =>
        Array.tabulate(depth) { j =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(s"${j}_$p".getBytes("UTF-8"))
          md(0) & 0xff
        }
      }.toArray
      val bucketCols = (0 until depth).map(j =>
        graft.functions.Expressions.md5_bits(concat_ws("_", lit(j), col("user_id")), 2)
          .cast("int"))
      val cms = udaf(
        new graft.functions.Aggregators.CountMinFreq(depth, width, probeBuckets),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]())
      events(s, d).groupBy(col("event_type"))
        .agg(cms(array(bucketCols: _*)).as("est"))
        .select(col("event_type"), col("est")(0).as("est_u1"),
          col("est")(1).as("est_u7"), col("est")(2).as("est_u42"))
    },
    Some(s"""WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
            h AS (
              SELECT event_type, j,
                ${duckBucketOf("j::VARCHAR || '_' || user_id::VARCHAR")} AS b
              FROM events CROSS JOIN js),
            counts AS (
              SELECT event_type, j, b, count(*) AS c FROM h GROUP BY 1, 2, 3),
            probes AS (SELECT unnest([1, 7, 42]) AS p),
            pb AS (
              SELECT p, j,
                ${duckBucketOf("j::VARCHAR || '_' || p::VARCHAR")} AS b
              FROM probes CROSS JOIN js),
            grps AS (SELECT DISTINCT event_type FROM events),
            est AS (
              SELECT g.event_type, pb.p, min(coalesce(c.c, 0)) AS e
              FROM grps g
              CROSS JOIN pb
              LEFT JOIN counts c ON c.event_type = g.event_type
                AND c.j = pb.j AND c.b = pb.b
              GROUP BY 1, 2)
            SELECT event_type,
              max(CASE WHEN p = 1 THEN e END) AS est_u1,
              max(CASE WHEN p = 7 THEN e END) AS est_u7,
              max(CASE WHEN p = 42 THEN e END) AS est_u42
            FROM est GROUP BY 1"""))

  // KMV / bottom-k theta distinct sketch, cross-engine exact like the
  // HLL and CMS: k smallest distinct md5-60 hashes per group, integer
  // bottom-k estimator ((k-1) * (2^60 div h_k), exact below k). Spark
  // runs the bounded-array Aggregator map-side; the oracle rebuilds the
  // k-th smallest hash with a window and replays the same arithmetic.
  // countDistinct rides along so the sketch is auditable in-row.
  private val sketchKmvDistinct = Q(
    "sketch_kmv_distinct",
    (s, d) => {
      val h = graft.functions.Expressions.md5_bits(col("user_id").cast("string"), 15)
      events(s, d).select(col("event_type"), col("user_id"), h.as("h"))
        .groupBy(col("event_type"))
        .agg(
          udaf(new graft.functions.Aggregators.KmvDistinct(64),
            org.apache.spark.sql.Encoders.scalaLong)
            .apply(col("h")).as("o"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("o._1").as("n_kept"),
          col("o._2").as("kth_min_hash"), col("o._3").as("distinct_est"),
          col("n_exact"))
    },
    Some(s"""WITH md AS (
              SELECT event_type, user_id, md5(user_id::VARCHAR) AS mh
              FROM events),
            hs AS (
              SELECT DISTINCT event_type, ${duckHex60("mh")} AS h FROM md),
            rk AS (
              SELECT event_type, h,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                count(*) OVER (PARTITION BY event_type) AS nd
              FROM hs),
            kth AS (
              SELECT event_type, h AS kth_min_hash, nd
              FROM rk WHERE rn = least(nd, 64)),
            ex AS (
              SELECT event_type, count(DISTINCT user_id) AS n_exact
              FROM events GROUP BY 1)
            SELECT k.event_type, least(k.nd, 64) AS n_kept, k.kth_min_hash,
              CAST(CASE WHEN k.nd < 64 THEN k.nd
                   ELSE 63 * (1152921504606846976 // k.kth_min_hash) END
                AS BIGINT) AS distinct_est,
              ex.n_exact
            FROM kth k JOIN ex USING (event_type)"""))

  // AGMS/CMS join-size estimation: |click ⋈ purchase on user_id| as
  // min over depths of the sketch inner product — the optimizer-
  // statistics estimator, never an undercount, exact size riding along
  private val sketchJoinSize = Q(
    "sketch_join_size",
    (s, d) => ops.Sketches.cmsJoinSize(events(s, d), "user_id",
      "event_type", "click", "purchase", depth = 4),
    Some(s"""WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
            rows_ AS (
              SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END
                  AS side, user_id
              FROM events WHERE event_type IN ('click', 'purchase')),
            h AS (
              SELECT side, j,
                ${duckBucketOf("j::VARCHAR || '_' || user_id::VARCHAR")} AS b
              FROM rows_ CROSS JOIN js),
            counts AS (
              SELECT side, j, b, count(*) AS c FROM h GROUP BY 1, 2, 3),
            est AS (
              SELECT a.j, CAST(SUM(a.c * b.c) AS BIGINT) AS e
              FROM counts a JOIN counts b
                ON a.side = 'a' AND b.side = 'b'
                AND a.j = b.j AND a.b = b.b
              GROUP BY 1),
            ex AS (
              SELECT CAST(coalesce(SUM(na * nb), 0) AS BIGINT)
                  AS exact_join_size
              FROM (
                SELECT user_id,
                  CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                    AS na,
                  CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
                    AS nb
                FROM rows_ GROUP BY 1))
            SELECT (SELECT MIN(e) FROM est) AS est_join_size,
              ex.exact_join_size
            FROM ex"""))

  // theta-sketch set algebra: bottom-64 hash samples per side, k-th
  // union hash as theta, retained-intersection estimator — audience
  // overlap from 128 hashes, with the exact counts riding along
  private val sketchKmvIntersect = Q(
    "sketch_kmv_intersect",
    (s, d) => ops.Sketches.kmvIntersect(events(s, d), "user_id",
      "event_type", "click", "purchase", k = 64),
    Some(s"""WITH md AS (
              SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END
                  AS side,
                user_id, md5(user_id::VARCHAR) AS mh
              FROM events WHERE event_type IN ('click', 'purchase')),
            hs AS (
              SELECT DISTINCT side, ${duckHex60("mh")} AS h FROM md),
            kept AS (
              SELECT side, h FROM (
                SELECT side, h, row_number() OVER (PARTITION BY side
                  ORDER BY h) AS rn FROM hs) WHERE rn <= 64),
            uk AS (
              SELECT h FROM (
                SELECT h, row_number() OVER (ORDER BY h) AS rn
                FROM (SELECT DISTINCT h FROM kept)) WHERE rn <= 64),
            th AS (SELECT max(h) AS theta_raw, count(*) AS nu FROM uk),
            ib AS (
              SELECT h FROM kept WHERE side = 'a'
              INTERSECT SELECT h FROM kept WHERE side = 'b'),
            rh AS (
              SELECT coalesce(sum(CASE WHEN ib.h < th.theta_raw
                    THEN 1 ELSE 0 END), 0) AS rho_lt,
                count(*) AS rho_all
              FROM ib, th),
            ex AS (
              SELECT CAST(sum(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_exact_both,
                count(*) AS n_exact_union
              FROM (SELECT user_id, count(DISTINCT side) AS ns
                    FROM md GROUP BY 1))
            SELECT
              CAST(CASE WHEN th.nu < 64 THEN 1152921504606846976
                ELSE th.theta_raw END AS BIGINT) AS theta,
              CAST(CASE WHEN th.nu < 64 THEN rh.rho_all
                ELSE rh.rho_lt END AS BIGINT) AS rho,
              CAST(CASE WHEN th.nu < 64 THEN rh.rho_all
                ELSE rh.rho_lt * (1152921504606846976 // th.theta_raw)
                END AS BIGINT) AS est_inter,
              CAST(CASE WHEN th.nu < 64 THEN th.nu
                ELSE 63 * (1152921504606846976 // th.theta_raw)
                END AS BIGINT) AS est_union,
              ex.n_exact_both, ex.n_exact_union
            FROM th, rh, ex"""))

  // the EXACT half of the sketch surface: the Welford/Chan typed
  // Aggregator is algebraically count/sum-over-count/var_samp, so it
  // oracles directly. Rounding margins sized to the accumulation error
  // (rule 2): mean ~3.8e4 with merge-order error ~1e-9 rounds at 6
  // decimals (500x margin); variance ~5.3e8 with error up to ~1e-4
  // rounds at 2 decimals (50x margin) — 4 decimals would leave none.
  // The oracle writes sum/count, not avg() (rule 3). Misra-Gries stays
  // tolerance-tested only: its summary is order-dependent by design.
  private val momentStats = Q(
    "moment_stats",
    (s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        udaf(graft.functions.Aggregators.WelfordStats)
          .apply(col("l_extendedprice")).as("mv"))
      .select(col("l_returnflag"), col("n"),
        round(col("mv._1"), 6).as("mean_price"),
        round(col("mv._2"), 2).as("var_price")),
    Some("""SELECT l_returnflag, count(*) AS n,
              round(sum(l_extendedprice) / count(*), 6) AS mean_price,
              round(var_samp(l_extendedprice), 2) AS var_price
            FROM lineitem GROUP BY 1"""))

  // statistical aggregates: correlation / covariance / stddev (continuous
  // values -> rounding at 6 decimals is far from any FP divergence)
  private val statsProfile = Q(
    "stats_profile",
    (s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_covar"),
        round(stddev_samp(col("l_extendedprice")), 4).as("price_stddev"),
        min(col("l_extendedprice")).as("price_min"),
        max(col("l_extendedprice")).as("price_max")),
    Some("""SELECT l_returnflag,
              round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
              round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
              round(stddev_samp(l_extendedprice), 4) AS price_stddev,
              min(l_extendedprice) AS price_min,
              max(l_extendedprice) AS price_max
            FROM lineitem GROUP BY 1"""))

  // fixed-width histogram: integer binning, engine-independent
  private val histogramFixed = Q(
    "histogram_fixed",
    (s, d) => orders(s, d)
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n")),
    Some("""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
              count(*) AS n
            FROM orders GROUP BY 1"""))

  // equi-DEPTH histogram (the quantile twin of histogram_fixed), done the
  // distributed way: decile boundaries from the percentile AGGREGATE
  // (Spark percentile == DuckDB quantile_cont interpolation, rule 11),
  // broadcast back, bucket = #boundaries strictly below the value. A
  // global ntile window would funnel every row through one task; this
  // shape is two distributed aggregations and a broadcast.
  private val histogramEquidepth = Q(
    "histogram_equidepth",
    (s, d) => {
      val o = orders(s, d)
      val bounds = o.agg(percentile(col("o_totalprice"),
        typedLit((1 to 9).map(_ / 10.0))).as("bs"))
      // bucket = #boundaries strictly below the value, written as 9
      // codegen'd comparisons: Spark evaluates HOF lambdas (filter)
      // interpreted, which put a per-row boxing loop in the hot path
      val below = (1 to 9)
        .map(i => s"CAST(element_at(bs, $i) < o_totalprice AS INT)")
        .mkString(" + ")
      o.crossJoin(broadcast(bounds))
        .withColumn("bucket", expr(s"CAST(1 + ($below) AS BIGINT)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          round(sum(col("o_totalprice")), 2).as("total"))
    },
    Some("""WITH bs AS (
              SELECT quantile_cont(o_totalprice,
                [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
              FROM orders)
            SELECT bucket, count(*) AS n, min(o_totalprice) AS lo,
              max(o_totalprice) AS hi, round(sum(o_totalprice), 2) AS total
            FROM (SELECT o_totalprice,
                1 + len(list_filter(q, b -> b < o_totalprice)) AS bucket
              FROM orders, bs)
            GROUP BY 1"""))

  // ---------------------------------------------------------------- windows
  private val windowRank = Q(
    "window_rank",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
      orders(s, d)
        .withColumn("rk", rank().over(w).cast("long")) // DuckDB rank() is BIGINT
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk
              FROM orders) WHERE rk <= 3"""))

  private val windowRunning = Q(
    "window_running",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value")).over(w), 2).as("running_value"))
    },
    Some("""SELECT user_id, event_id,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
            FROM events"""))

  // analytic window battery: offset functions + tiling + first-value over
  // a deterministic (ts, event_id) order
  private val windowAnalytics = Q(
    "window_analytics",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d).select(
        col("user_id"), col("event_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        ntile(4).over(w).cast("long").as("quartile"),
        first(col("value")).over(w).as("first_value"))
    },
    Some("""SELECT user_id, event_id,
              lag(value, 1) OVER w AS prev_value,
              lead(value, 1) OVER w AS next_value,
              ntile(4) OVER w AS quartile,
              first_value(value) OVER w AS first_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""))

  // ---------------------------------------------------------------- sort / top-k
  private val topkSort = Q(
    "topk_sort",
    (s, d) => part(s, d)
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
      .limit(20)
      .select("p_partkey", "p_name", "p_retailprice"),
    Some("""SELECT p_partkey, p_name, p_retailprice FROM part
            ORDER BY p_retailprice DESC, p_partkey LIMIT 20"""))

  // ---------------------------------------------------------------- S4
  // static dimension seed (kg_scripts/2_init_nodes.cypher): the in-code
  // seed table IS the operator; the oracle restates the same constants,
  // so drift between seed and oracle fails the gate
  private val s4DimensionSeed = Q(
    "s4_dimension_seed",
    (s, _) => graft.schema.Dimensions.genres(s)
      .select(col("genre_id"), col("name")),
    Some("SELECT * FROM (VALUES " +
      graft.schema.Dimensions.genreRows.map { case (id, n) =>
        s"($id, '${n.replace("'", "''")}')"
      }.mkString(", ") + ") AS t(genre_id, name)"))

  // ---------------------------------------------------------------- K8
  // cascading delete = anti-join rewrite (utils/etl.py:87-120): drop every
  // child row whose parent key is in the victim set
  private val k8CascadeDelete = Q(
    "k8_cascade_delete",
    (s, d) => {
      val victims = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      Graph.deleteByKey(orders(s, d).select("o_orderkey", "o_custkey"),
        victims, "o_custkey")
    },
    Some("""SELECT o_orderkey, o_custkey FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING')"""))

  // ---------------------------------------------------------------- set ops
  private val setOps = Q(
    "setop_intersect_except",
    (s, d) => {
      val building = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val withOrders = orders(s, d).select(col("o_custkey").as("c_custkey"))
      val withFinal = orders(s, d).filter(col("o_orderstatus") === "F" &&
          col("o_orderdate") >= lit("1999-01-01"))
        .select(col("o_custkey").as("c_custkey"))
      building.intersect(withOrders).except(withFinal)
    },
    Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            INTERSECT SELECT o_custkey FROM orders
            EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
              AND o_orderdate >= TIMESTAMP '1999-01-01'"""))

  // multiset set ops: INTERSECT ALL / EXCEPT ALL keep multiplicities
  // (min / truncated-difference of per-value counts) — the bag
  // semantics the DISTINCT variants above erase; verified as counts
  // per user so the result is aggregate-shaped and order-free
  private val setopAllQ = Q(
    "setop_all_variants",
    (s, d) => {
      val clicks = events(s, d).filter(col("event_type") === "click")
        .select(col("user_id"))
      val views = events(s, d).filter(col("event_type") === "view")
        .select(col("user_id"))
      val inter = clicks.intersectAll(views)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_inter"))
      val exc = clicks.exceptAll(views)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_except"))
      inter.join(exc, Seq("user_id"), "full")
        .select(col("user_id"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          coalesce(col("n_except"), lit(0L)).as("n_except"))
    },
    Some("""WITH i AS (
              SELECT user_id, count(*) AS n_inter FROM (
                SELECT user_id FROM events WHERE event_type = 'click'
                INTERSECT ALL
                SELECT user_id FROM events WHERE event_type = 'view')
              GROUP BY 1),
            e AS (
              SELECT user_id, count(*) AS n_except FROM (
                SELECT user_id FROM events WHERE event_type = 'click'
                EXCEPT ALL
                SELECT user_id FROM events WHERE event_type = 'view')
              GROUP BY 1)
            SELECT coalesce(i.user_id, e.user_id) AS user_id,
              CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
              CAST(coalesce(e.n_except, 0) AS BIGINT) AS n_except
            FROM i FULL JOIN e ON i.user_id = e.user_id"""))

  // Gini mean-difference numerator per group via the rank identity
  // Σ(2·rn − n − 1)·x over sorted cents — the O(n log n) window form
  // of the O(n²) pairwise |xi − xj| sum, exact integers end to end
  private val giniDispersionQ = Q(
    "gini_dispersion",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("__c"), col("event_id"))
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("__c"))
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(wg))
        .groupBy(col("event_type"))
        .agg(max(col("__n")).as("n"),
          sum((col("__rn") * 2 - col("__n") - 1) * col("__c"))
            .as("gini_numerator_cents"),
          sum(col("__c")).as("sum_cents"))
    },
    Some("""WITH c AS (
              SELECT event_type, event_id,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            ranked AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY cents, event_id) AS BIGINT) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM c)
            SELECT event_type, max(n) AS n,
              CAST(sum((rn * 2 - n - 1) * cents) AS BIGINT)
                AS gini_numerator_cents,
              CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM ranked GROUP BY 1"""))

  // ---------------------------------------------------------------- rollup
  private val rollupAgg = Q(
    "rollup_agg",
    (s, d) => customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      // integer cents like cube_agg: the rollup's grand-total row has
      // the same order-dependent double-sum exposure at scale
      .agg(count(lit(1)).as("n_cust"),
        sum(floor(col("c_acctbal") * 100 + 0.5).cast("decimal(38,0)"))
          .cast("long").as("acctbal_cents")),
    Some("""SELECT r_name, n_name, count(*) AS n_cust,
              CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS acctbal_cents
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP(r_name, n_name)"""))

  // GROUPING SETS through the spark.sql entry path (the one aggregation
  // shape the DataFrame API doesn't expose directly)
  private val groupingSets = Q(
    "grouping_sets",
    (s, d) => {
      customer(s, d).createOrReplaceTempView("gs_customer")
      nation(s, d).createOrReplaceTempView("gs_nation")
      // integer cents: the () grouping set is a grand total with the
      // same order-dependent double-sum exposure as cube_agg at scale
      val out = s.sql("""SELECT n_name, c_mktsegment, count(*) AS n_cust,
                 CAST(sum(CAST(floor(c_acctbal * 100 + 0.5)
                   AS DECIMAL(38,0))) AS BIGINT) AS acctbal_cents
               FROM gs_customer JOIN gs_nation ON c_nationkey = n_nationkey
               GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""")
      Seq("gs_customer", "gs_nation").foreach(s.catalog.dropTempView)
      out
    },
    Some("""SELECT n_name, c_mktsegment, count(*) AS n_cust,
              CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS acctbal_cents
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())"""))

  // unpivot / melt: wide measures -> (measure, value) rows
  private val unpivotMeasures = Q(
    "unpivot_measures",
    (s, d) => lineitem(s, d)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value"),
    Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
              l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
            FROM lineitem"""))

  // scalar string-function battery incl. edit distance (same algorithm in
  // both engines -> exact integer parity)
  private val stringFuncs = Q(
    "string_funcs",
    (s, d) => customer(s, d).select(
      col("c_custkey"),
      upper(col("c_name")).as("uname"),
      substring(col("c_name"), 1, 8).as("prefix"),
      length(col("c_name")).cast("long").as("name_len"),
      levenshtein(col("c_name"), lit("Customer#000000001")).cast("long").as("edit_dist"),
      translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_translated")),
    Some("""SELECT c_custkey,
              upper(c_name) AS uname,
              substring(c_name, 1, 8) AS prefix,
              length(c_name) AS name_len,
              levenshtein(c_name, 'Customer#000000001') AS edit_dist,
              translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated
            FROM customer"""))

  // date-part extraction battery (dow conventions differ: Spark
  // dayofweek is 1=Sunday, DuckDB dow is 0=Sunday)
  private val dateParts = Q(
    "date_parts",
    (s, d) => orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("dom"),
      dayofweek(col("o_orderdate")).cast("long").as("dow1"),
      quarter(col("o_orderdate")).cast("long").as("q"),
      weekofyear(col("o_orderdate")).cast("long").as("woy")),
    Some("""SELECT o_orderkey,
              EXTRACT(year FROM o_orderdate) AS y,
              EXTRACT(month FROM o_orderdate) AS m,
              EXTRACT(day FROM o_orderdate) AS dom,
              EXTRACT(dow FROM o_orderdate) + 1 AS dow1,
              EXTRACT(quarter FROM o_orderdate) AS q,
              EXTRACT(week FROM o_orderdate) AS woy
            FROM orders"""))

  // CUBE: all grouping combinations (rollup's sibling)
  // money in exact integer cents (the q1_agg treatment): the CUBE's
  // grand-total cell accumulates EVERY order, and at sf10 (15M rows)
  // order-dependent double summation drifted past round(2) — the r14
  // sf10 sweep caught .94 vs .96 on the global cell
  private val cubeAgg = Q(
    "cube_agg",
    (s, d) => orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("decimal(38,0)"))
          .cast("long").as("total_cents")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
            FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""))

  // array-function battery over collected groups: sort, slice, contains,
  // size — emitted as scalars/strings so hashing is representation-free
  private val arrayFuncs = Q(
    "array_funcs",
    (s, d) => lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
      .select(
        col("l_orderkey"),
        concat_ws(",", transform(slice(col("lines"), 1, 2), _.cast("string")))
          .as("first2"),
        size(col("lines")).cast("long").as("n"),
        array_contains(col("lines"), 3).as("has3"),
        element_at(col("lines"), -1).cast("long").as("last_line")),
    Some("""SELECT l_orderkey,
              array_to_string(list_sort(list(l_linenumber))[1:2], ',') AS first2,
              len(list(l_linenumber)) AS n,
              list_contains(list(l_linenumber), 3) AS has3,
              CAST(list_sort(list(l_linenumber))[-1] AS BIGINT) AS last_line
            FROM lineitem GROUP BY 1"""))

  // ---------------------------------------------------------------- incremental / temporal
  private val incrWindow = Q(
    "incr_trailing_window",
    (s, d) => Incremental.trailingWindow(events(s, d), "ts", "2024-01-15 00:00:00")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")),
    Some("""SELECT date_trunc('day', ts) AS day, event_type,
              count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            WHERE ts > TIMESTAMP '2024-01-15 00:00:00' - INTERVAL 7 DAY
              AND ts <= TIMESTAMP '2024-01-15 00:00:00'
            GROUP BY 1, 2"""))

  // the lag/cumsum sessionization oracle prefix: session id `sid` per
  // user, a new session when the inter-event gap >= 30 min (micros exact)
  private val duckSessionIds = """WITH t AS (
              SELECT user_id, ts, value,
                CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)) < 1800000000
                  THEN 0 ELSE 1 END AS new_s
              FROM events),
            s AS (
              SELECT user_id, ts, value,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS sid
              FROM t)"""

  // one row per session, the shape session_window emits
  private val duckSessions = duckSessionIds + """
            SELECT user_id,
              CAST(min(ts) AS TIMESTAMP) AS session_start,
              CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
              count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM s GROUP BY user_id, sid"""

  // session_window (declarative gap sessionization) against the
  // lag/cumsum oracle
  private val sessionize = Q(
    "sessionize_gap",
    (s, d) => graft.streaming.Sessionize.sessionWindows(events(s, d), "ts", "user_id"),
    Some(duckSessions))

  // the declarative session_window run as a REAL streaming job: two
  // micro-batch parquet drops (disjoint halves of events), stateful
  // session aggregation merging sessions ACROSS batches, complete-mode
  // memory sink read back after AvailableNow termination. The final
  // session table must equal batch sessionization of the whole stream —
  // the same oracle sessionize_gap proves, now reached through
  // cross-batch session-state merge instead of one scan.
  private val incrSessionStream = Q(
    "incr_session_stream",
    (s, d) => {
      val base = Scratch.dir("graft_sess_stream_")
      val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
      val ev = events(s, d).select(col("event_id"), col("ts"), col("user_id"),
        col("value"))
      writeDrops(inDir, Seq(
        ev.filter(col("event_id") % 3 =!= 0),
        ev.filter(col("event_id") % 3 === 0)))
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val qname = "graft_sess_stream_out"
      // complete mode re-emits the whole session table every batch, so
      // the trailing no-data batch is a pure re-emit — skip it; state is
      // session-count-sized, so 4 partitions (see runAvailableNow).
      runAvailableNow(s, ckpt, statePartitions = 4, noDataBatch = false) {
        graft.streaming.Sessionize.streamingSessions(stream, "ts", "user_id")
          .writeStream.outputMode("complete").format("memory").queryName(qname)
      }
      // the analyzed plan holds the sink; the memory-sink view can go
      val out = s.table(qname).select(col("user_id"), col("session_start"),
        col("session_end"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      s.catalog.dropTempView(qname)
      out
    },
    Some(duckSessions))

  // session-level analytics — the rollup consumers actually run on
  // sessionized data: per user, session count, event volume, and
  // duration stats (all integer micros -> engine-exact)
  private val sessionStats = Q(
    "session_stats",
    (s, d) => graft.streaming.Sessionize.sessionWindows(events(s, d), "ts", "user_id")
      .withColumn("dur_us",
        unix_micros(col("session_end")) - unix_micros(col("session_start")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("total_events"),
        sum(col("dur_us")).as("total_dur_us"),
        max(col("dur_us")).as("max_dur_us")),
    Some(duckSessionIds + """,
            sess AS (
              SELECT user_id, count(*) AS n_events,
                epoch_us(max(ts) + INTERVAL 30 MINUTE) - epoch_us(min(ts)) AS dur_us
              FROM s GROUP BY user_id, sid)
            SELECT user_id, count(*) AS n_sessions,
              CAST(sum(n_events) AS BIGINT) AS total_events,
              CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
              max(dur_us) AS max_dur_us
            FROM sess GROUP BY 1"""))

  // salting is an execution-strategy choice, not a semantic one, so the
  // salted plans oracle against the PLAIN formulations — the gate proves
  // the skew mitigation changes nothing but the shuffle layout
  private val skewSaltedAgg = Q(
    "skew_salted_agg",
    (s, d) => graft.ops.Skew.saltedSumCount(
        lineitem(s, d), col("l_returnflag"), "l_quantity",
        col("l_orderkey"), salts = 16)
      .select(col("key"), round(col("sum_l_quantity"), 2).as("sum_qty"), col("n")),
    Some("""SELECT l_returnflag AS key, round(sum(l_quantity), 2) AS sum_qty,
              count(*) AS n
            FROM lineitem GROUP BY 1"""))

  private val skewSaltedJoin = Q(
    "skew_salted_join",
    // the ADAPTIVE variant: only sampled-hot orderkeys (>= ~13 lines,
    // the top ~0.03% of keys in this distribution) pay the salt
    // replication; the cold majority joins plain. Detection noise moves
    // keys between the paths without changing the result, which is
    // exactly what the shared plain-join oracle proves. (A bar of 10
    // would put >1000 keys over it — "everything is hot" — and the
    // operator would honestly degrade to unconditional salting.)
    (s, d) => graft.ops.Skew.saltedJoinAdaptive(
        lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
        orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey", col("l_quantity"), salts = 8,
        hotKeyMinRows = 13, sampleFraction = 0.5)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), round(sum(col("l_quantity")), 2).as("sum_qty")),
    Some("""SELECT l_orderkey, count(*) AS n_lines,
              round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1"""))

  private val weeklyAgg = Q(
    "weekly_agg",
    (s, d) => Incremental.weeklyCounts(events(s, d), "ts", "event_type"),
    Some("""SELECT date_trunc('week', ts) AS week_start, event_type,
              count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2"""))

  // week-over-week growth per type: counts lagged on the weekly
  // aggregate, growth in exact milli units ((cur - prev)*1000 div prev)
  // — the trend readout every weekly pipeline reports; first weeks
  // emit NULL growth (no denominator), which both engines agree on
  private val weeklyGrowthQ = Q(
    "weekly_growth",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("week_start"))
      events(s, d)
        .groupBy(date_trunc("week", col("ts")).as("week_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("prev_events", lag(col("n_events"), 1).over(w))
        .withColumn("growth_milli",
          expr("((n_events - prev_events) * 1000) div prev_events"))
    },
    Some("""WITH wk AS (
              SELECT date_trunc('week', ts) AS week_start, event_type,
                count(*) AS n_events
              FROM events GROUP BY 1, 2),
            lagged AS (
              SELECT *, lag(n_events) OVER (PARTITION BY event_type
                ORDER BY week_start) AS prev_events
              FROM wk)
            SELECT week_start, event_type, n_events, prev_events,
              ((n_events - prev_events) * 1000) // prev_events
                AS growth_milli
            FROM lagged"""))

  // exact trimmed aggregates per group: drop the k smallest and k
  // largest cent values by rank (actual stored values, ties by id),
  // then integer sum/count and the milli mean — the robust center
  // without the winsorize clamp semantics
  private val trimmedMeanQ = Q(
    "trimmed_mean",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("__c"), col("event_id"))
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("__c"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wg))
        .filter(col("__rn") > 50 && col("__rn") <= col("__n") - 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("__c")).as("sum_cents"))
        .withColumn("mean_milli_cents",
          expr("(sum_cents * 1000) div n_kept"))
    },
    Some("""WITH c AS (
              SELECT event_type, event_id,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY cents, event_id) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM c),
            kept AS (
              SELECT event_type, cents FROM ranked
              WHERE rn > 50 AND rn <= n - 50)
            SELECT event_type, count(*) AS n_kept,
              CAST(sum(cents) AS BIGINT) AS sum_cents,
              (CAST(sum(cents) AS BIGINT) * 1000) // count(*)
                AS mean_milli_cents
            FROM kept GROUP BY 1"""))

  // The weekly incremental load as a REAL Structured Streaming query:
  // events land as two OVERLAPPING parquet drops in a file-source
  // directory (%3 != 0 and %3 != 1 — union covers everything, overlap
  // replays %3 == 2 twice), the stream runs under Trigger.AvailableNow
  // with maxFilesPerTrigger=1 (two micro-batches), and every batch
  // upserts through the partition-scoped dup-tolerant merge
  // (foreachBatchMergePartitioned, keys=event_id, partitions=event_type).
  // Because the merge is idempotent on event_id, the merged table
  // converges to exactly the events table regardless of batch order, so
  // the oracle is the plain batch weekly aggregate — the at-least-once
  // replay -> exactly-once table contract, driver-hash-checked.
  private val incrWeeklyMerge = Q(
    "incr_weekly_merge",
    (s, d) => {
      val base = Scratch.dir("graft_incr_wm_")
      val inDir = s"$base/in"; val table = s"$base/table"; val ckpt = s"$base/ckpt"
      val ev = events(s, d).select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      writeDrops(inDir, Seq(
        ev.filter(col("event_id") % 3 =!= 0),
        ev.filter(col("event_id") % 3 =!= 1)))
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      // stateless foreachBatch (no state stores, no no-data batch), but
      // the per-micro-batch merge's shuffle width should match batch
      // volume, not the session-wide batch default: 8 keeps the anti-join
      // and the partitioned rewrite at a few MB per task without a
      // 32-way fan-out of near-empty files per batch.
      runAvailableNow(s, ckpt, statePartitions = 8, noDataBatch = true) {
        Incremental.foreachBatchMergePartitioned(stream, table,
          keys = Seq("event_id"), partCol = "event_type")
      }
      Incremental.weeklyCounts(s.read.parquet(table), "ts", "event_type")
    },
    Some("""SELECT date_trunc('week', ts) AS week_start, event_type,
              count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2"""))

  // JSONL round-trip — the training-data interchange format, driven end
  // to end: the documents projection is written as JSON lines to scratch
  // and read back with an explicit schema, and the per-source aggregate
  // (row count, exact char mass, distinct content fingerprints) is
  // hash-matched against the SAME aggregate computed straight from the
  // parquet — any escaping/round-trip defect in the JSON path shifts a
  // sum and breaks the hash. At 100 TB this is the ingest/export seam:
  // schema-on-read with an explicit schema (never inference over a
  // corpus), and the aggregate shape is one map-side-combinable pass.
  private val jsonlRoundtrip = Q(
    "jsonl_roundtrip",
    (s, d) => {
      val base = Scratch.dir("graft_jsonl_")
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("text"))
      docs.coalesce(4).write.mode("overwrite").json(s"$base/docs")
      s.read.schema(docs.schema).json(s"$base/docs")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
    },
    Some("""SELECT source, count(*) AS n_docs,
              CAST(sum(length(text)) AS BIGINT) AS sum_chars,
              count(DISTINCT md5(text)) AS n_distinct_texts
            FROM documents GROUP BY 1"""))

  // The bounded-memory streaming dedup surfaced as a driver query: two
  // OVERLAPPING parquet drops of event ids (%3 != 0 and %3 != 1 — the
  // incr_weekly_merge replay shape) flow through the
  // flatMapGroupsWithState bloom dedup in two micro-batches; replayed
  // ids are dropped by the cross-batch filter state, so the emitted set
  // is exactly the distinct ids. The filters are sized so the
  // deterministic bloom has no false positive at driver scale (8
  // shards x 1 MiB: per-probe fpp ~1e-10 at sf0.1, verified empty at
  // sf0.01 AND sf0.1), making exact DISTINCT the oracle — the
  // 100 TB/day dedup answer, state fixed at shards x words x 8 bytes
  // regardless of id cardinality.
  private val incrBloomDedup = Q(
    "incr_bloom_dedup",
    (s, d) => {
      import s.implicits._
      val base = Scratch.dir("graft_incr_bloom_")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = events(s, d).select(col("event_id"))
      writeDrops(inDir, Seq(
        ev.filter(col("event_id") % 3 =!= 0),
        ev.filter(col("event_id") % 3 =!= 1)))
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      // The OPERATOR's contract is approximate (a ~fpp fraction of true
      // uniques drops as the filter fills — one-sided, documented); the
      // LEDGER pairs it with an exact DISTINCT oracle, so the filter
      // must be sized to the corpus, not a gate-SF constant: the r14
      // sf10 sweep measured 86,692 dropped uniques (0.87% of 10M keys)
      // with the old fixed 2^17 words/shard — exactly the fill-curve
      // prediction. ~250 bits/key keeps the average fill ~1% and
      // expected drops ~1e-3 at any SF (the floor keeps tiny corpora at
      // the old sizing).
      val nKeys = ev.count()
      val words = math.max(131072L, nKeys * 250 / 64 / 8).toInt
      // only 8 shard keys exist, so >8 state partitions are pure empty
      // store overhead; NoTimeout state means the no-data batch does
      // nothing (no timeouts to fire) — skip it (see runAvailableNow).
      runAvailableNow(s, ckpt, statePartitions = 8, noDataBatch = false) {
        streaming.Incremental.bloomDedupStream(
            stream.select(col("event_id")).as[Long],
            shards = 8, numWords = words, numHashes = 5)
          .writeStream.format("parquet").option("path", outDir)
          .outputMode("append")
      }
      s.read.parquet(outDir).select(col("value").as("event_id"))
    },
    Some("SELECT DISTINCT event_id FROM events"))

  // ---------------------------------------------------------------- C9-C12 parse battery
  private val parseRatings = Q(
    "parse_ratings",
    (s, d) => {
      val e = events(s, d)
      val pctStr = concat((col("event_id") % 100).cast("string"), lit("%"))
      val magStr = concat(
        (col("event_id") % 90 + 1).cast("string"), lit("."),
        (col("event_id") % 10).cast("string"),
        when(col("event_id") % 3 === 0, "K")
          .when(col("event_id") % 3 === 1, "M").otherwise(""))
      val cntStr = concat((col("event_id") % 9 + 1).cast("string"), lit(","),
        lpad((col("event_id") % 1000).cast("string"), 3, "0"))
      e.select(
        col("event_id"),
        parsePercent(pctStr).as("pct"),
        parseMagnitude(magStr).as("magnitude"),
        parseGroupedCount(cntStr).as("grouped_count"))
    },
    Some("""SELECT event_id,
              CAST(event_id % 100 AS INTEGER) AS pct,
              CAST((event_id % 90 + 1) || '.' || (event_id % 10) AS DOUBLE)
                * (CASE event_id % 3 WHEN 0 THEN 1000 WHEN 1 THEN 1000000 ELSE 1 END)
                AS magnitude,
              (event_id % 9 + 1) * 1000 + event_id % 1000 AS grouped_count
            FROM events"""))

  // the DOM extraction path (graft.functions.Html + html_extract),
  // driven end-to-end: pages are synthesized with three markup variants
  // — double-quoted, single-quoted + nested inline tags, reordered
  // attributes + comments splitting tag from text — that all carry the
  // same id-derived values; the C12 extractor must read through every
  // variant, so the oracle is pure arithmetic on event_id. (A regexp
  // over the raw page text cannot: variants 1 and 2 break it by
  // construction.)
  private val parseRatingsDom = Q(
    "parse_ratings_dom",
    (s, d) => {
      val e = events(s, d)
      val pct = (col("event_id") % 100).cast("string")
      val aPct = ((col("event_id") * 3) % 100).cast("string")
      val cnt = concat((col("event_id") % 9 + 1).cast("string"), lit(","),
        lpad((col("event_id") % 1000).cast("string"), 3, "0"))
      val aCnt = concat((col("event_id") % 7 + 1).cast("string"), lit(","),
        lpad(((col("event_id") * 11) % 1000).cast("string"), 3, "0"))
      val v = col("event_id") % 3
      val html =
        when(v === 0, concat(
          lit("<div><span slot=\"criticsScore\">"), pct,
          lit("%</span><a slot=\"criticsReviews\">"), cnt,
          lit(" Reviews</a><span slot=\"audienceScore\">"), aPct,
          lit("%</span><a slot=\"audienceReviews\">"), aCnt,
          lit(" Ratings</a></div>")))
        .when(v === 1, concat(
          lit("<div><span slot='criticsScore'><b>"), pct,
          lit("%</b></span><a slot='criticsReviews'>"), cnt,
          lit(" <i>Reviews</i></a><span slot='audienceScore'><b>"), aPct,
          lit("%</b></span><a slot='audienceReviews'>"), aCnt,
          lit(" <i>Ratings</i></a></div>")))
        .otherwise(concat(
          lit("<div><span class=\"v\" slot=\"criticsScore\"><!-- x -->"), pct,
          lit("%</span><a data-x=\"1\" slot=\"criticsReviews\">"), cnt,
          lit(" Reviews</a><span class=\"v\" slot=\"audienceScore\"><!-- x -->"), aPct,
          lit("%</span><a data-x=\"1\" slot=\"audienceReviews\">"), aCnt,
          lit(" Ratings</a></div>")))
      operators.Ratings.rottenTomatoesRatings(
        e.select(col("event_id"), html.as("html")), "event_id")
    },
    Some("""SELECT event_id,
              CAST(event_id % 100 AS INTEGER) AS critic_score,
              (event_id % 9 + 1) * 1000 + event_id % 1000 AS num_critic,
              CAST((event_id * 3) % 100 AS INTEGER) AS user_score,
              (event_id % 7 + 1) * 1000 + (event_id * 11) % 1000 AS num_user
            FROM events"""))

  // HTML→text corpus extraction, end to end: each document's text is
  // entity-escaped and embedded in a full synthetic page (title, nav
  // links, a script whose body contains markup-ish characters, main
  // block, footer); html_to_text must decode entities, skip the script
  // subtree, keep boilerplate text in document order, and collapse
  // whitespace. The expected output is pure string arithmetic on the
  // ORIGINAL text — the escape/decode round-trip is part of what's
  // verified.
  private val htmlCorpusText = Q(
    "html_corpus_text",
    (s, d) => {
      val docs = documents(s, d)
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val page = concat(
        lit("<html><head><title>D"), col("doc_id").cast("string"),
        lit("</title><script>if(a<b){nav()}</script></head><body>" +
          "<div class=\"nav\"><a href=\"/home\">Home</a> <a href=\"/about\">About</a></div>" +
          "<div id=\"main\"><p>"), esc,
        lit("</p></div><footer>(c) site "), (col("doc_id") % 7).cast("string"),
        lit("</footer></body></html>"))
      docs.select(col("doc_id"),
        graft.functions.Expressions.html_to_text(page).as("text_visible"))
    },
    Some("""SELECT doc_id,
              trim(regexp_replace(
                'D' || doc_id || ' Home About ' || trim(text) ||
                ' (c) site ' || (doc_id % 7), '\s+', ' ', 'g')) AS text_visible
            FROM documents"""))

  // Outlink extraction (crawl-graph / link-frontier shape): hrefs are
  // id-derived so the exploded edge list is oracle-expressible as two
  // UNION ALL arms. The page varies quoting and attribute order, and
  // plants href-less and empty-href anchors that must NOT emit rows.
  private val htmlOutlinks = Q(
    "html_outlinks",
    (s, d) => {
      val docs = documents(s, d)
      val page = concat(
        lit("<html><body><p>See <a href=\"/p/"), (col("doc_id") % 5).cast("string"),
        lit("\">p1</a> and <a data-x='1' href='/q/"), ((col("doc_id") * 3) % 11).cast("string"),
        lit("'>p2</a> <a name=anchor>no href</a> <a href=\"\">empty</a></p></body></html>"))
      docs.select(col("doc_id"),
        explode(graft.functions.Expressions.html_links(page)).as("href"))
    },
    Some("""SELECT doc_id, '/p/' || (doc_id % 5) AS href FROM documents
            UNION ALL
            SELECT doc_id, '/q/' || ((doc_id * 3) % 11) AS href FROM documents"""))

  // URL canonicalization (the pass between outlink extraction and
  // URL-keyed dedup / per-host scheduling): messy id-derived absolute
  // URLs — mixed-case scheme+host, default AND real ports, utm_*
  // tracking params in first and later positions, fragments — are
  // normalized by graft.ops.Urls; the oracle INDEPENDENTLY states the
  // expected canonical parts in closed form (never re-running the
  // regexes), so a parsing bug on the Spark side cannot cancel out.
  private val urlNormalize = Q(
    "url_normalize",
    (s, d) => {
      val id = col("doc_id")
      val url = concat(
        lit("HTTPS://WWW.Site"), (id % 7).cast("string"), lit(".Example.COM"),
        when(id % 3 === 0, ":443").when(id % 3 === 1, ":8443").otherwise(""),
        lit("/Path/"), id.cast("string"),
        lit("?utm_source=feed&id="), id.cast("string"),
        when(id % 2 === 0, "&utm_campaign=x").otherwise(""),
        lit("#sec"))
      ops.Urls.normalized(
        documents(s, d).select(id, url.as("url")), "doc_id", "url")
    },
    Some("""SELECT doc_id,
              'https' AS scheme,
              'www.site' || (doc_id % 7) || '.example.com' AS host,
              CASE WHEN doc_id % 3 = 1 THEN ':8443' ELSE '' END AS port_kept,
              '/Path/' || doc_id AS path,
              'id=' || doc_id AS query_clean,
              'https://www.site' || (doc_id % 7) || '.example.com'
                || CASE WHEN doc_id % 3 = 1 THEN ':8443' ELSE '' END
                || '/Path/' || doc_id || '?id=' || doc_id AS url_norm
            FROM documents"""))

  /** The doc-circulant graph of the PageRank/HITS queries: one node per
    * doc, and each doc links to (3·id + 1) mod n and (7·id + 3) mod n,
    * n the doc count.
    */
  private final case class DocGraph(docs: DataFrame, n: Long) {
    def nodes: DataFrame = docs.select(col("doc_id").as("node"))
    /** Both chords; each chord's rows also carry its `extra` columns. */
    def edges(extra3: Seq[Column] = Nil, extra7: Seq[Column] = Nil): DataFrame =
      chord(3, 1, extra3).unionByName(chord(7, 3, extra7))
    private def chord(k: Int, c: Int, extra: Seq[Column]): DataFrame =
      docs.select(Seq(col("doc_id").as("src"),
        ((col("doc_id") * k + c) % n).as("dst")) ++ extra: _*)
  }

  private def docGraph(s: SparkSession, d: String): DocGraph = {
    val docs = documents(s, d).select(col("doc_id"))
    // graph size pins the modulus; a bounded metadata count, not data
    DocGraph(docs, docs.count())
  }

  // the doc-circulant graph in DuckDB: nodes(node, seed), the doc count
  // nn, and edges e(src, dst, w), with per-query seed and chord weights
  private def duckDocGraph(seed: String = "1", w3: String = "1",
                           w7: String = "1"): String =
    s"""nodes AS (SELECT doc_id AS node, $seed AS seed FROM documents),
          nn AS (SELECT count(*) AS n FROM documents),
          e AS (
            SELECT doc_id AS src, (doc_id * 3 + 1) % (SELECT n FROM nn) AS dst,
              $w3 AS w
            FROM documents
            UNION ALL
            SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM nn), $w7
            FROM documents)"""

  // The integer PageRank rounds r0..r<iterations> of Graph.pageRank over
  // the CTEs nodes(node, seed) and e(src, dst, w): contribution
  // (rank·w) div Σw(src), the restart share to seed = 1 rows (seed = 1
  // everywhere for global PageRank, w = 1 for unweighted graphs).
  private def duckPageRankRounds(iterations: Int): String =
    """sw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS sw FROM e GROUP BY 1),
          ej AS (SELECT e.src, e.dst, e.w, sw.sw FROM e JOIN sw USING (src)),
          r0 AS (SELECT node, CAST(seed * 1000000000 AS BIGINT) AS rank_scaled
                 FROM nodes)""" + (1 to iterations).map { i =>
      s""",
          r$i AS (
           SELECT n.node,
             CAST(n.seed * 150000000 AS BIGINT) +
             CAST((85 * COALESCE(SUM((r.rank_scaled * ej.w) // ej.sw), 0)) // 100
               AS BIGINT) AS rank_scaled
           FROM nodes n
           LEFT JOIN ej ON ej.dst = n.node
           LEFT JOIN r${i - 1} r ON r.node = ej.src
           GROUP BY n.node, n.seed)"""
    }.mkString

  // TextRank keywords: adjacent-token cooccurrence edges + the integer
  // PageRank rounds, top 20 by (rank, word). The oracle rebuilds the
  // token graph with the shared split-regex tokenization and unrolls
  // the identical rounds over it.
  private val textrankKeywordsQ = Q(
    "textrank_keywords",
    (s, d) => ops.TextAnalysis.textrankKeywords(documents(s, d), "doc_id",
      "text", iterations = 3, topK = 20),
    Some(s"""WITH tok AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
            FROM documents),
          pos AS (
            SELECT doc_id, i AS pos, ts[i] AS w, ts[i + 1] AS w2
            FROM tok, unnest(range(1, len(ts) + 1)) AS t(i)),
          canon AS (
            SELECT DISTINCT least(w, w2) AS u, greatest(w, w2) AS v
            FROM pos WHERE w2 IS NOT NULL AND w <> w2),
          e AS (SELECT u AS src, v AS dst, 1 AS w FROM canon
                UNION ALL SELECT v, u, 1 FROM canon),
          nodes AS (SELECT DISTINCT w AS node, 1 AS seed FROM pos),
          ${duckPageRankRounds(3)}
          SELECT node AS word, rank_scaled FROM r3
          ORDER BY rank_scaled DESC, node LIMIT 20"""))

  // Score-weighted deterministic sampling (what a pipeline runs AFTER
  // pagerank/quality scoring): keep test is 64-bit integer arithmetic
  // on a 20-bit md5 content bucket — order-independent and exact on
  // both engines (same treatment as the split/mixture family, plus the
  // div-arithmetic trick from pagerank). Score is id-derived so the
  // oracle rebuilds it; the text bucket is the 5-nibble md5 prefix.
  private val scoreWeightedSample = Q(
    "score_weighted_sample",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"),
        (lit(500000000L) + (col("doc_id") % 1000) * 1000000L).as("score_scaled"))
      ops.Splits.scoreWeightedSample(docs, "doc_id", "text",
          "score_scaled", targetPermille = 400)
        .select(col("doc_id"), col("score_scaled"))
    },
    Some(s"""WITH st AS (
            SELECT SUM(500000000 + (doc_id % 1000) * 1000000) AS s,
                   COUNT(*) AS n
            FROM documents),
          b AS (
            SELECT doc_id,
              500000000 + (doc_id % 1000) * 1000000 AS score_scaled,
              ${duckBucket20("md5(text)")} AS bucket
            FROM documents)
          SELECT doc_id, score_scaled
          FROM b, st
          WHERE bucket * (s // n) < ((score_scaled * 400) // 1000) * 1048576"""))

  // sqrt-temperature source rebalancing (alpha=0.5 mixture): per-source
  // keep rates from pure integer arithmetic over one IEEE-exact sqrt,
  // two-sample histogram drift: shared fixed-width bins, exact
  // cross-proportion deviation na*Nb - nb*Na per bin — the
  // distribution-shift table for click-vs-purchase values
  private val histogramDriftQ = Q(
    "histogram_drift",
    (s, d) => ops.DataQuality.histogramDrift(events(s, d), "event_type",
      "value", "click", "purchase", nBins = 20, lo = 0.0, hi = 500.0),
    Some("""WITH b AS (
              SELECT event_type,
                least(greatest(CAST(floor((value - 0.0) / 500.0 * 20)
                  AS BIGINT), 0), 19) AS bin
              FROM events
              WHERE event_type IN ('click', 'purchase')
                AND value IS NOT NULL),
            counts AS (
              SELECT bin,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb
              FROM b GROUP BY 1),
            t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
                    CAST(sum(nb) AS BIGINT) AS tb FROM counts)
            SELECT bin, na, nb, na * tb - nb * ta AS dev
            FROM counts, t"""))

  // Benford leading-digit profile: digits from exact cent integers'
  // decimal strings (never from float formatting), truncating milli
  // shares — the fraud/synthetic-data sanity check per event type
  private val benfordProfileQ = Q(
    "benford_digit_profile",
    (s, d) => ops.DataQuality.benfordProfile(events(s, d), "event_type", "value"),
    Some("""WITH c AS (
              SELECT event_type,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
            digits AS (
              SELECT event_type,
                CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit
              FROM c WHERE cents > 0),
            agg AS (
              SELECT event_type, digit, count(*) AS n
              FROM digits GROUP BY 1, 2)
            SELECT event_type, digit, n,
              (n * 1000) // CAST(sum(n) OVER (PARTITION BY event_type)
                AS BIGINT) AS milli_share
            FROM agg"""))

  // equal-frequency decile assignment by integer rank arithmetic
  // (deliberately NOT ntile(): its remainder rule is engine lore;
  // ((rn-1)*10) div n is three integer ops both engines replay)
  private val decileBinQ = Q(
    "feature_decile_bin",
    (s, d) => ops.Features.equalFrequencyBins(
      events(s, d).select(col("event_id"), col("event_type"), col("value")),
      "event_type", "value", "event_id", nBins = 10),
    Some("""SELECT event_id, event_type, value,
              CAST(((rn - 1) * 10) // n AS INTEGER) AS bin
            FROM (
              SELECT event_id, event_type, value,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value, event_id) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM events WHERE value IS NOT NULL)"""))

  // rolling 24h co-movement of clicks vs purchases: zero-filled hourly
  // grid, integer covariance/variance numerators over full frames only
  // — sign(cov_num) is sign(correlation), no division or sqrt anywhere
  private val rollingCovarianceQ = Q(
    "rolling_covariance",
    (s, d) => ops.TimeSeries.rollingCovariance(events(s, d), "ts",
      "event_type", "click", "purchase", windowHours = 24),
    Some("""WITH hourly AS (
              SELECT date_trunc('hour', ts) AS h, event_type AS t,
                count(*) AS c
              FROM events WHERE event_type IN ('click', 'purchase')
              GROUP BY 1, 2),
            bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
            grid AS (
              SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
              FROM bounds),
            series AS (
              SELECT g.h,
                coalesce(a.c, 0) AS xa, coalesce(b.c, 0) AS xb
              FROM grid g
              LEFT JOIN hourly a ON a.h = g.h AND a.t = 'click'
              LEFT JOIN hourly b ON b.h = g.h AND b.t = 'purchase'),
            rolled AS (
              SELECT h, xa, xb,
                row_number() OVER (ORDER BY h) AS rn,
                CAST(sum(xa) OVER w AS BIGINT) AS sx,
                CAST(sum(xb) OVER w AS BIGINT) AS sy,
                CAST(sum(xa * xa) OVER w AS BIGINT) AS sxx,
                CAST(sum(xb * xb) OVER w AS BIGINT) AS syy,
                CAST(sum(xa * xb) OVER w AS BIGINT) AS sxy
              FROM series
              WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
            SELECT h, xa, xb,
              24 * sxy - sx * sy AS cov_num,
              24 * sxx - sx * sx AS varx_num,
              24 * syy - sy * sy AS vary_num
            FROM rolled WHERE rn >= 24"""))

  // per-type OLS drift slope: closed-form regression over (minutes
  // since first event, centi value), every moment sum and the nano
  // slope in truncating BIGINT — the rate companion to cusum_drift
  private val trendOlsQ = Q(
    "trend_ols",
    (s, d) => ops.TimeSeries.olsTrend(events(s, d), "event_type", "ts", "value"),
    Some("""WITH b0 AS (
              SELECT event_type,
                (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY event_type))
                  // 60000000 AS x0,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS y0
              FROM events),
            b AS (
              -- truncated per-key mean anchors, mirroring the engine:
              -- the slope is shift-invariant and centering keeps every
              -- moment product inside BIGINT at any ledger scale
              SELECT event_type,
                x0 - (CAST(SUM(x0) OVER (PARTITION BY event_type) AS BIGINT)
                  // COUNT(*) OVER (PARTITION BY event_type)) AS x,
                y0 - (CAST(SUM(y0) OVER (PARTITION BY event_type) AS BIGINT)
                  // COUNT(*) OVER (PARTITION BY event_type)) AS y
              FROM b0),
            s AS (
              SELECT event_type, count(*) AS n,
                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(x * x) AS BIGINT) AS sxx,
                CAST(SUM(x * y) AS BIGINT) AS sxy
              FROM b GROUP BY 1)
            SELECT event_type, n, sx, sy, sxx, sxy,
              CAST(((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000)
                // greatest(CAST(1 AS HUGEINT),
                  (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) // 1000)
                AS BIGINT) AS slope_micro
            FROM s"""))

  // seasonality-adjusted outliers: residual vs the (type, hour-of-day)
  // integer mean, flagged beyond 4x the seasonal cell's mean absolute
  // deviation — the time-of-day-aware twin of robust_outliers_mad
  // (a 3am spike is judged against 3am traffic, not the whole-day mix);
  // all cents-integer arithmetic, truncating divs
  private val seasonalResidualQ = Q(
    "seasonal_residual_outliers",
    (s, d) => {
      val base = events(s, d).select(col("event_type"), col("event_id"),
          hour(col("ts")).cast("long").as("hod"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .withColumn("cell_mean", expr("CAST(sum(c) OVER (PARTITION BY " +
          "event_type, hod) AS BIGINT) div count(*) OVER (PARTITION BY " +
          "event_type, hod)"))
        .withColumn("resid", col("c") - col("cell_mean"))
      base
        .withColumn("mad_mean", expr("CAST(sum(abs(resid)) OVER (PARTITION " +
          "BY event_type, hod) AS BIGINT) div count(*) OVER (PARTITION BY " +
          "event_type, hod)"))
        .filter(abs(col("resid")) > col("mad_mean") * 4)
        .select(col("event_type"), col("event_id"), col("hod"), col("c"),
          col("cell_mean"), col("resid"), col("mad_mean"))
    },
    Some("""WITH base AS (
              SELECT event_type, event_id,
                CAST(hour(ts) AS BIGINT) AS hod,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events),
            m AS (
              SELECT *, CAST(sum(c) OVER w AS BIGINT)
                  // count(*) OVER w AS cell_mean
              FROM base
              WINDOW w AS (PARTITION BY event_type, hod)),
            r AS (SELECT *, c - cell_mean AS resid FROM m),
            md AS (
              SELECT *, CAST(sum(abs(resid)) OVER w AS BIGINT)
                  // count(*) OVER w AS mad_mean
              FROM r
              WINDOW w AS (PARTITION BY event_type, hod))
            SELECT event_type, event_id, hod, c, cell_mean, resid, mad_mean
            FROM md WHERE abs(resid) > mad_mean * 4"""))

  // CUSUM drift alarms: Page's sequential max(0, S+d) recursion
  // rewritten as the exact prefix-sum / running-min window identity —
  // pure BIGINT window arithmetic over micro-quantized values, so the
  // alarm set is engine-exact (the pipeline-monitoring twin of the MAD
  // outlier query: sustained shift, not point outliers).
  private val cusumDriftQ = Q(
    "cusum_drift",
    (s, d) => ops.DataQuality.cusumAlarms(events(s, d), "event_type", "ts",
      "event_id", "value", slackMicro = 20000000L, thresholdMicro = 200000000L),
    Some("""WITH q AS (
              SELECT event_type, event_id, ts,
                CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS xq
              FROM events),
            m AS (
              SELECT event_type, CAST(SUM(xq) AS BIGINT) // COUNT(*) AS k
              FROM q GROUP BY 1),
            d AS (
              SELECT q.event_type, event_id, ts, xq,
                xq - m.k - 20000000 AS dd
              FROM q JOIN m USING (event_type)),
            p AS (
              SELECT *, CAST(SUM(dd) OVER (PARTITION BY event_type
                ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp
              FROM d),
            s AS (
              SELECT *, pp - least(0, CAST(MIN(pp) OVER (PARTITION BY event_type
                ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT))
                AS cusum_scaled
              FROM p)
            SELECT event_type, event_id, xq, cusum_scaled
            FROM s WHERE cusum_scaled > 200000000"""))

  // DLT priority sampling: exact-k weighted sample per source with the
  // Horvitz-Thompson threshold estimator, every step truncating BIGINT
  // arithmetic over a content-derived uniform — the oracle replays
  // priorities, the (k+1)-th threshold, and the max(w, tau) estimator.
  private val prioritySampleQ = Q(
    "priority_sample",
    (s, d) => ops.Splits.prioritySample(documents(s, d), "doc_id", "text",
      "n_chars", "source", k = 50),
    Some {
      val hex8 = duckHexPrefix("mh", 8)
      s"""WITH md AS (
            SELECT doc_id, source, n_chars, md5(text) AS mh FROM documents),
          q AS (
            SELECT doc_id, source, n_chars,
              (n_chars * 1073741824) // ($hex8 % 1073741824 + 1) AS q
            FROM md),
          r AS (
            SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY q DESC, doc_id) AS rn
            FROM q),
          th AS (
            SELECT source, max(CASE WHEN rn = 51 THEN q END) AS t
            FROM r GROUP BY 1)
          SELECT r.doc_id, r.source, r.n_chars, r.q,
            CAST(coalesce(th.t, 0) AS BIGINT) AS tau,
            greatest(r.n_chars, coalesce(th.t, 0)) AS w_hat
          FROM r JOIN th USING (source) WHERE rn <= 50"""
    })

  // keep test on the 20-bit content bucket. Uniform harness sources
  // make the rates equal here (the flattening semantics are pinned by
  // SplitsSpec's skewed fixture); the oracle still rebuilds every rate.
  private val mixtureSqrt = Q(
    "mixture_sqrt_temp",
    (s, d) => ops.Splits.mixtureSqrtSample(documents(s, d), "doc_id", "text",
        "source", targetPermille = 400)
      .select(col("doc_id"), col("source"), col("keep_permille")),
    Some(s"""WITH c AS (
              SELECT source, count(*) AS n,
                CAST(floor(sqrt(count(*)) * 100) AS BIGINT) AS ss
              FROM documents GROUP BY 1),
            t AS (SELECT SUM(n) AS nn, SUM(ss) AS sss FROM c),
            r AS (
              SELECT source,
                CAST(least(1000, (400 * nn * ss) // (sss * n)) AS BIGINT)
                  AS keep_permille
              FROM c, t)
            SELECT d.doc_id, d.source, r.keep_permille
            FROM documents d JOIN r USING (source)
            WHERE ${duckBucket20("md5(text)")} * 1000 < keep_permille * 1048576"""))

  // round-unrolled oracle for integer-scaled HITS: per round an
  // in-edge hub sum + max-normalize, then an out-edge authority sum +
  // max-normalize — identical truncating integer steps to
  // Graph.hitsScaled ((x * 1e6) // max, all BIGINT)
  private def duckHitsSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""a${i}f AS (
           SELECT n.node, COALESCE(s.a, 0) AS a
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, SUM(h${i - 1}.hub) AS a
             FROM e JOIN h${i - 1} ON h${i - 1}.node = e.src
             GROUP BY 1) s USING (node)),
         a$i AS (
           SELECT node,
             CAST(CASE WHEN mx > 0 THEN (a * 1000000) // mx ELSE 0 END
               AS BIGINT) AS auth
           FROM a${i}f, (SELECT MAX(a) AS mx FROM a${i}f)),
         h${i}f AS (
           SELECT n.node, COALESCE(s.h, 0) AS h
           FROM nodes n LEFT JOIN (
             SELECT e.src AS node, SUM(a$i.auth) AS h
             FROM e JOIN a$i ON a$i.node = e.dst
             GROUP BY 1) s USING (node)),
         h$i AS (
           SELECT node,
             CAST(CASE WHEN mx > 0 THEN (h * 1000000) // mx ELSE 0 END
               AS BIGINT) AS hub
           FROM h${i}f, (SELECT MAX(h) AS mx FROM h${i}f))"""
    }.mkString(",\n")
    s"""WITH ${duckDocGraph()},
          h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
          $rounds
        SELECT h$iterations.node AS doc_id, h$iterations.hub AS hub_scaled,
          a$iterations.auth AS auth_scaled
        FROM h$iterations JOIN a$iterations USING (node)"""
  }

  // HITS hubs/authorities over the circulant doc graph — the link-
  // analysis complement to PageRank (good-pointer vs pointed-at-by-
  // good scores; KG entity-hub detection). Integer max-normalization
  // replaces the float L2 norm, so every round is order-independent
  // long arithmetic and the oracle is the same rounds unrolled.
  private val hitsScores = Q(
    "hits_scores",
    (s, d) => {
      val g = docGraph(s, d)
      Graph.hitsScaled(g.edges(), g.nodes, iterations = 3)
        .select(col("node").as("doc_id"), col("hub_scaled"), col("auth_scaled"))
    },
    Some(duckHitsSql(3)))

  // Personalized PageRank over the same circulant doc graph as
  // pagerank_scaled, teleporting to the doc_id%100==0 seed set — ranks
  // by proximity to the seeds rather than global centrality (the KG
  // related-entity expansion). Engine-exact integer arithmetic,
  // round-unrolled oracle.
  private val personalizedPagerank = Q(
    "personalized_pagerank",
    (s, d) => {
      val g = docGraph(s, d)
      Graph.personalizedPageRankScaled(g.edges(), g.nodes,
          g.nodes.filter(col("node") % 100 === 0), iterations = 5)
        .select(col("node").as("doc_id"), col("rank_scaled"))
    },
    Some(s"""WITH ${duckDocGraph(seed = "CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 0 END")},
          ${duckPageRankRounds(5)}
        SELECT node AS doc_id, rank_scaled FROM r5"""))

  // edge-weighted PageRank over the circulant graph with deterministic
  // weights (src%5 + 1, src%3 + 1 per chord): flow proportional to
  // (rank·w) div Σw — the TextRank-style weighted walk, rounds unrolled
  // in the oracle
  private val pagerankWeightedQ = Q(
    "pagerank_weighted",
    (s, d) => {
      val g = docGraph(s, d)
      Graph.pageRankWeightedScaled(
          g.edges(Seq((col("doc_id") % 5 + 1).cast("long").as("w")),
            Seq((col("doc_id") % 3 + 1).cast("long").as("w"))),
          g.nodes, iterations = 5)
        .select(col("node").as("doc_id"), col("rank_scaled"))
    },
    Some(s"""WITH ${duckDocGraph(w3 = "doc_id % 5 + 1", w7 = "doc_id % 3 + 1")},
          ${duckPageRankRounds(5)}
        SELECT node AS doc_id, rank_scaled FROM r5"""))

  // Link authority over a crawl graph (what html_outlinks feeds at
  // scale): scaled-integer PageRank, oracle-EXACT because every step is
  // order-independent 64-bit arithmetic — contribution = (rank·w) div
  // Σw(src), damping = (85*sum) div 100 — so DuckDB rebuilding the same
  // rounds as chained CTEs lands on identical integers (the HLL/CMS
  // integer-scaling treatment applied to an iterative algorithm; float
  // PageRank would diverge in sum order alone). The synthetic graph
  // gives every doc two id-derived outlinks.
  private val pagerankScaled = Q(
    "pagerank_scaled",
    (s, d) => {
      val g = docGraph(s, d)
      Graph.pageRankScaled(g.edges(), g.nodes, iterations = 5)
        .select(col("node").as("doc_id"), col("rank_scaled"))
    },
    Some(s"""WITH ${duckDocGraph()},
          ${duckPageRankRounds(5)}
        SELECT node AS doc_id, rank_scaled FROM r5"""))

  // JSON document access: typed extraction from the semi-structured props
  // column (from_json with a pinned schema — the engine's explicit-schema
  // stance from SURVEY.md §1.4 applied to JSON scalars)
  private val jsonExtract = Q(
    "json_extract",
    (s, d) => events(s, d).select(
      col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType))))
        .getField("k").as("k_val"),
      get_json_object(col("props"), "$.k").cast("long").as("k_str_val")),
    Some("""SELECT event_id,
              CAST(props->>'$.k' AS INTEGER) AS k_val,
              CAST(props->>'$.k' AS BIGINT) AS k_str_val
            FROM events"""))

  // ---------------------------------------------------------------- dedup suite
  private val dedupExact = Q(
    "dedup_exact",
    (s, d) => Dedup.exact(documents(s, d), "doc_id", "text"),
    Some("""SELECT trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS text_key,
              min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY 1"""))

  // the 8-token window oracle prefix of the span-dedup queries:
  // tok(doc_id, ts) and spans(doc_id, pos, span_key), one row per window
  // start with the 60-bit key of the window's md5
  private val duckSpanKeys = s"""WITH tok AS (
              SELECT doc_id,
                string_split_regex(lower(trim(text)), '\\s+') AS ts
              FROM documents),
            hashed AS (
              SELECT doc_id, i AS pos,
                md5(array_to_string(ts[i:i+7], ' ')) AS mh
              FROM tok, unnest(range(1, greatest(len(ts) - 6, 1))) AS t(i)),
            spans AS (
              SELECT doc_id, pos, ${duckHex60("mh")} AS span_key
              FROM hashed)"""

  // exact duplicate-span detection (fixed-window simplification of
  // suffix-array substring dedup): corpus-wide repeated 8-token windows
  // with document + position, shuffling only (md5, doc, pos)
  private val dedupSpanExact = Q(
    "dedup_span_exact",
    (s, d) => Dedup.duplicateSpans(documents(s, d), "doc_id", "text", 8)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("span_key"), col("n_occurrences")),
    Some(duckSpanKeys + """,
            counted AS (
              SELECT doc_id, pos, span_key,
                count(*) OVER (PARTITION BY span_key) AS n_occurrences
              FROM spans)
            SELECT doc_id, pos, span_key, n_occurrences
            FROM counted WHERE n_occurrences > 1"""))

  // variable-length substring dedup (two-pass maximal-span variant of
  // the Lee et al. 2022 suffix-array family): corpus-duplicated 8-token
  // seed windows merged per document into maximal spans via
  // gaps-and-islands (pos - row_number); the oracle replays the seed
  // count per 60-bit key, then the identical island merge
  private val dedupSpanMaximal = Q(
    "dedup_span_maximal",
    (s, d) => Dedup.maximalDuplicateSpans(documents(s, d), "doc_id", "text", 8),
    Some(duckSpanKeys + """,
            counted AS (
              SELECT doc_id, pos,
                count(*) OVER (PARTITION BY span_key) AS n
              FROM spans),
            dup AS (
              SELECT doc_id, pos FROM counted
              WHERE n > 1 AND n <= 100000),
            isl AS (
              SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                  AS island
              FROM dup)
            SELECT doc_id,
              CAST(min(pos) AS BIGINT) AS span_start,
              CAST(max(pos) + 7 AS BIGINT) AS span_end,
              CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len,
              count(*) AS n_windows
            FROM isl GROUP BY doc_id, island"""))

  // duplicate-span EXCISION: rebuild each document with duplicated
  // 8-token spans removed except at the canonical (globally smallest
  // (doc, pos)) occurrence. The oracle replays seed counting per 60-bit
  // key, the canonical rank, the k-position coverage expansion
  // (equality joins, mirroring the engine's no-range-join shape), and
  // the position-ordered reassembly.
  private val dedupSpanExcise = Q(
    "dedup_span_excise",
    (s, d) => Dedup.exciseDuplicateSpans(documents(s, d), "doc_id", "text", 8),
    Some(duckSpanKeys + """,
            kc AS (SELECT span_key, count(*) AS n FROM spans GROUP BY 1),
            dup AS (
              SELECT s.doc_id, s.pos, s.span_key
              FROM spans s JOIN kc USING (span_key)
              WHERE n > 1 AND n <= 100000),
            canon AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                  row_number() OVER (PARTITION BY span_key
                    ORDER BY doc_id, pos) AS rn
                FROM dup) WHERE rn = 1),
            dcov AS (
              SELECT DISTINCT d.doc_id, d.pos + x.u AS pos
              FROM dup d, unnest(range(0, 8)) AS x(u)),
            pcov AS (
              SELECT DISTINCT c.doc_id, c.pos + x.u AS pos
              FROM canon c, unnest(range(0, 8)) AS x(u)),
            te AS (
              SELECT doc_id, i AS pos, ts[i] AS tok
              FROM tok, unnest(range(1, len(ts) + 1)) AS t(i)),
            ex AS (
              SELECT te.doc_id, te.pos, te.tok,
                (p.pos IS NOT NULL) OR (d.pos IS NULL) AS keep
              FROM te
              LEFT JOIN dcov d ON d.doc_id = te.doc_id AND d.pos = te.pos
              LEFT JOIN pcov p ON p.doc_id = te.doc_id AND p.pos = te.pos),
            agg AS (
              SELECT doc_id, count(*) AS n_tokens,
                count(*) FILTER (WHERE NOT keep) AS n_excised,
                coalesce(string_agg(tok, ' ' ORDER BY pos)
                  FILTER (WHERE keep), '') AS text_deduped
              FROM ex GROUP BY doc_id)
            SELECT t.doc_id,
              coalesce(a.n_tokens, 0) AS n_tokens,
              coalesce(a.n_excised, 0) AS n_excised,
              coalesce(a.text_deduped, '') AS text_deduped
            FROM tok t LEFT JOIN agg a USING (doc_id)"""))

  // cross-source duplication attribution: which source pairs share
  // duplicated 8-token spans, and how much — the contamination matrix
  // behind "which source do we prune". Pure count algebra over the
  // span-digest table; occurrence pairs are never materialized.
  private val dedupCrossSource = Q(
    "dedup_cross_source",
    (s, d) => Dedup.crossSourceSpanMatrix(documents(s, d), "doc_id", "text",
      "source", 8),
    Some(duckSpanKeys + """,
            sc AS (
              SELECT span_key, source, count(*) AS c
              FROM spans JOIN documents USING (doc_id) GROUP BY 1, 2),
            tot AS (
              SELECT span_key FROM sc GROUP BY span_key
              HAVING sum(c) > 1 AND sum(c) <= 100000),
            pairs AS (
              SELECT a.source AS source_a, b.source AS source_b,
                CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
                     ELSE a.c * b.c END AS pairs
              FROM sc a
              JOIN sc b ON a.span_key = b.span_key AND a.source <= b.source
              JOIN tot t ON t.span_key = a.span_key)
            SELECT source_a, source_b,
              CAST(sum(pairs) AS BIGINT) AS n_dup_pairs,
              count(*) AS n_shared_spans
            FROM pairs WHERE pairs > 0 GROUP BY 1, 2"""))

  // policy dedup: every doc gets a case-variant twin (same normalized
  // key) and an independent deterministic quality score; the survivor
  // is the higher-scored copy, ties to the smaller id. The twin offset
  // must NOT be divisible by 100: q = 37*id mod 100, so an offset of
  // 100000 would give every twin pair identical q and the quality
  // ordering would never be exercised — 100001 shifts twin q by 37
  private val dedupKeepBest = Q(
    "dedup_keep_best",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val twins = docs.select((col("doc_id") + 100001L).as("doc_id"),
        upper(col("text")).as("text"))
      val scored = docs.union(twins)
        .withColumn("q", pmod(col("doc_id") * 37, lit(100)))
      Dedup.keepBest(scored, "doc_id", "text", "q").select("doc_id", "q")
    },
    Some("""WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100001 AS doc_id, upper(text) AS text
              FROM documents),
            ranked AS (
              SELECT doc_id, (doc_id * 37) % 100 AS q,
                row_number() OVER (
                  PARTITION BY trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))
                  ORDER BY (doc_id * 37) % 100 DESC, doc_id ASC) AS rn
              FROM all_docs)
            SELECT doc_id, q FROM ranked WHERE rn = 1"""))

  // the trigram shingle CTEs shared by the ngram-jaccard, containment,
  // prefix-join, minhash, and clusters oracles (Spark side:
  // word_shingles(tokens(text), 3))
  private val duckShingles: String =
    """tok AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS w,
                generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS pos
              FROM documents),
            sh0 AS (
              SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
              FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                         JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
              UNION
              SELECT doc_id,
                array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ') AS shingle
              FROM documents
              WHERE len(string_split_regex(lower(trim(text)), '\s+')) < 3)"""

  // exact trigram overlap per doc pair over the df <= 10 shingles
  // (maxDf=10): sizes(doc_id, n_sh) and inter(id_a < id_b, n_inter)
  private val duckShingleInter: String = duckShingles + """,
            shf AS (SELECT doc_id, shingle,
                      count(*) OVER (PARTITION BY shingle) AS df FROM sh0),
            sh AS (SELECT doc_id, shingle FROM shf WHERE df <= 10),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2)"""

  // trigram shingles, not bigrams: the harness vocabulary is ~30 words, so
  // bigram shingle frequency explodes the inverted-index self-join
  // quadratically at sf0.1; trigrams cut per-shingle doc frequency ~30x.
  // maxDf=10 is the stop-shingle prune (df<=10 keeps every shingle at
  // sf0.01 where max df is 7, and bounds the sf0.1 pair fan-out ~3x);
  // the oracle mirrors it with the same windowed df filter
  // directed containment join: the asymmetric twin of the Jaccard op —
  // short-doc-swallowed-by-long-doc contamination that union-normalized
  // scores structurally miss; integer threshold, milli score
  private val containmentJoinQ = Q(
    "setsim_containment_join",
    (s, d) => Dedup.containmentPairs(documents(s, d), "doc_id", "text", 3,
      thresholdPermille = 300, maxDf = 10),
    Some(s"""WITH $duckShingleInter,
            directed AS (
              SELECT id_a AS id_contained, id_b AS id_container, n_inter FROM inter
              UNION ALL
              SELECT id_b, id_a, n_inter FROM inter)
            SELECT d.id_contained, d.id_container, d.n_inter,
              sa.n_sh AS n_contained, sb.n_sh AS n_container,
              (d.n_inter * 1000) // sa.n_sh AS containment_milli
            FROM directed d
            JOIN sizes sa ON sa.doc_id = d.id_contained
            JOIN sizes sb ON sb.doc_id = d.id_container
            WHERE d.n_inter * 1000 >= 300 * sa.n_sh"""))

  private val dedupJaccard = Q(
    "dedup_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", 3, 0.1,
      maxDf = 10),
    Some(s"""WITH $duckShingleInter
            SELECT id_a, id_b, n_inter,
              sa.n_sh + sb.n_sh - n_inter AS n_union,
              n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter >= 0.1 * (sa.n_sh + sb.n_sh - n_inter)"""))

  // MinHash+LSH verified END TO END against an independent rebuild: the
  // signature family is md5-based mod-2^60 arithmetic (see
  // Expressions.MinHashFamily), so the oracle recomputes every component
  // with HUGEINT multiplies — same shingles, same permutations, same
  // banding (k=32, bands=16, r=2), same agreement estimate. est_jaccard
  // is agreement/2^5, an exact binary fraction — identical on any IEEE
  // engine without rounding.
  // maxBucket: the library default (1000) DROPS pairs in degenerate
  // band buckets, but this oracle enumerates every candidate pair with
  // no cap — so the verified query raises the guard well past the
  // harness corpus's hottest bucket (same treatment as dedup_simhash;
  // 50000 stays under sorted_id_pairs' 65535 fan-out bound)
  /** The full minhash-LSH pair rebuild (md5 family, HUGEINT permutation
    * arithmetic, band grouping, agreement estimate) with a caller-chosen
    * extra predicate on the output pair — shared by the batch query and
    * the incremental variant (which restricts to pairs touching the
    * "new" batch).
    */
  private def duckMinhashPairsSql(pairWhere: String): String = {
      import graft.functions.Expressions.MinHashFamily
      val mixRows = (0 until 32)
        .map(j => s"(${j}, ${MinHashFamily.mixA(j)}, ${MinHashFamily.mixB(j)})")
        .mkString(", ")
      s"""WITH $duckShingles,
            md AS (SELECT doc_id, md5(shingle) AS mh FROM sh0),
            hashed AS (SELECT doc_id, ${duckHex60("mh")} AS h FROM md),
            mixes AS (SELECT * FROM (VALUES $mixRows) AS t(j, a, b)),
            z1 AS (
              SELECT doc_id, j,
                CAST((h::HUGEINT * a + b) % ${MinHashFamily.Mod} AS BIGINT) AS z
              FROM hashed CROSS JOIN mixes),
            z2 AS (SELECT doc_id, j, xor(z, z >> 30) AS z FROM z1),
            z3 AS (
              SELECT doc_id, j,
                CAST((z::HUGEINT * ${MinHashFamily.Fin}) % ${MinHashFamily.Mod} AS BIGINT) AS z
              FROM z2),
            z4 AS (SELECT doc_id, j, xor(z, z >> 31) AS z FROM z3),
            comp AS (SELECT doc_id, j, min(z) AS m FROM z4 GROUP BY 1, 2),
            bandk AS (
              SELECT doc_id, j // 2 AS band,
                string_agg(m::VARCHAR, ',' ORDER BY j) AS bk
              FROM comp GROUP BY 1, 2),
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM bandk x JOIN bandk y
                ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
            agree AS (
              SELECT c.id_a, c.id_b,
                count(*) FILTER (WHERE ca.m = cb.m) AS n_agree
              FROM cand c
              JOIN comp ca ON ca.doc_id = c.id_a
              JOIN comp cb ON cb.doc_id = c.id_b AND cb.j = ca.j
              GROUP BY 1, 2)
            SELECT id_a, id_b, n_agree / 32.0 AS est_jaccard
            FROM agree WHERE n_agree / 32.0 >= 0.1$pairWhere"""
  }

  private val dedupMinhash = Q(
    "dedup_minhash_lsh",
    (s, d) => Dedup.minhashLshPairs(documents(s, d), "doc_id", "text",
      n = 3, k = 32, bands = 16, threshold = 0.1, maxBucket = 50000),
    Some(duckMinhashPairsSql("")))

  // the weekly-incremental shape as a driver-checked query: the store is
  // seeded in a per-call temp dir with the doc_id % 10 != 0 majority,
  // then the % 10 == 0 batch probes it. Store signatures equal the batch
  // ones (same md5 family) and the store IS the full corpus after the
  // append, so the oracle is the batch rebuild restricted to pairs
  // touching the new batch — candidate sets agree because new-bucket x
  // store-bucket meets exactly the corpus-wide bucket collisions with a
  // new side.
  private val incrMinhash = Q(
    "incr_minhash_pairs",
    (s, d) => {
      val docs = documents(s, d)
      val dir = Scratch.dir("graft_incr_mh_") + "/store"
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      // seed append runs at call time; the old-vs-old result is discarded
      Dedup.incrementalMinhashPairs(old, "doc_id", "text", dir,
        n = 3, k = 32, bands = 16, threshold = 0.1, maxBucket = 50000)
      Dedup.incrementalMinhashPairs(fresh, "doc_id", "text", dir,
        n = 3, k = 32, bands = 16, threshold = 0.1, maxBucket = 50000)
    },
    Some(duckMinhashPairsSql(" AND (id_a % 10 = 0 OR id_b % 10 = 0)")))

  // SimHash verified end to end: the 60-bit md5-derived signature is
  // rebuilt per document with 60 per-bit SUMs (bit j set iff set-bit
  // count exceeds half the tokens), then the pair set is the brute-force
  // hamming join — equal to Spark's pigeonhole-bucketed set because the
  // bucketing is exact-complete (chunks = maxHamming + 1) and every
  // candidate is verified with bit_count(xor).
  // maxBucket: buckets over the cap REFINE on the complement
  // sub-chunks (recursive pigeonhole — still exact-complete), so the
  // cap is a PERFORMANCE knob (level-1 pair generation is bucket², so
  // cap it where refinement gets cheaper) plus a residual valve one
  // level down. 8000 keeps the harness corpus drop-free through the
  // 100x probe (hot buckets ~1.3k at sf0.1 scale ~linearly to ~130k at
  // 100x; their sub-buckets are 2^6 smaller, well under the cap) — the
  // brute-force oracle verifies the zero-drop claim end to end at
  // every gate SF.
  /** Brute-force simhash pair rebuild (md5-derived 60-bit signature via
    * per-bit SUMs, hamming join) with a caller-chosen extra predicate —
    * shared by the batch query and the incremental variant.
    */
  private def duckSimhashPairsSql(pairWhere: String): String = {
      val bitSums = (0 until 60).map(j => s"sum((h >> $j) & 1) AS s$j").mkString(", ")
      val sigBits = (0 until 60)
        .map(j => s"(CASE WHEN 2 * s$j > n THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
              FROM documents),
            md AS (SELECT doc_id, md5(w) AS mh FROM tok),
            hashed AS (SELECT doc_id, ${duckHex60("mh")} AS h FROM md),
            bitsums AS (
              SELECT doc_id, count(*) AS n, $bitSums
              FROM hashed GROUP BY 1),
            sig AS (SELECT doc_id, $sigBits AS sig FROM bitsums)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 7$pairWhere"""
  }

  private val dedupSimhash = Q(
    "dedup_simhash",
    (s, d) => Dedup.simhashPairs(documents(s, d), "doc_id", "text",
      maxHamming = 7, maxBucket = 8000),
    Some(duckSimhashPairsSql("")))

  // simhash twin of incr_minhash_pairs: store seeded with the % 10 != 0
  // majority in a per-call temp dir, % 10 == 0 batch probes it; the
  // oracle is the batch hamming join restricted to pairs touching the
  // new batch (chunking is exact-complete on both paths, and the store
  // equals the full corpus after the append)
  private val incrSimhash = Q(
    "incr_simhash_pairs",
    (s, d) => {
      val docs = documents(s, d)
      val dir = Scratch.dir("graft_incr_sh_") + "/store"
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      Dedup.incrementalSimhashPairs(old, "doc_id", "text", dir,
        maxHamming = 7, maxBucket = 8000)
      Dedup.incrementalSimhashPairs(fresh, "doc_id", "text", dir,
        maxHamming = 7, maxBucket = 8000)
    },
    Some(duckSimhashPairsSql(" AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)")))

  // the clustering half is verified over the DETERMINISTIC exact-Jaccard
  // pair set (the minhash edge set is xxhash64-seeded, so no SQL engine
  // can reproduce it): same connected-components operator, hash-matched
  // end to end against a WITH RECURSIVE min-label closure. The
  // minhash-edged composition stays covered by DedupSpec.
  // Shared oracle prefix for the component-based dedup queries: exact
  // 3-gram Jaccard pairs (maxDf=10) -> WITH RECURSIVE min-label closure
  // -> comp(node, component) + csize(component, cluster_size).
  private val jaccardComponentsCte = s"""WITH RECURSIVE $duckShingleInter,
            pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE n_inter >= 0.1 * (sa.n_sh + sb.n_sh - n_inter)),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION SELECT id_b AS src, id_a AS dst FROM pairs),
            reach AS (
              SELECT doc_id AS node, doc_id AS r FROM documents
              UNION
              SELECT reach.node, e.dst AS r FROM reach JOIN edges e ON e.src = reach.r),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY 1),
            csize AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)"""

  private val dedupClusters = Q(
    "dedup_clusters",
    (s, d) => Dedup.clustersFromPairs(
      Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", 3, 0.1,
        maxDf = 10),
      documents(s, d), "doc_id"),
    Some(s"""$jaccardComponentsCte
            SELECT node AS doc_id, component, node = component AS is_canonical,
              cluster_size
            FROM comp JOIN csize USING (component)"""))

  // the collapse step a pipeline runs AFTER clustering: one survivor
  // per component, best quality wins (here n_chars — the "longest
  // capture" policy), ties to the smallest doc_id. Same MaxByRow
  // argmax as dedup_keep_best, applied per component.
  private val dedupClusterReps = Q(
    "dedup_cluster_reps",
    (s, d) => Dedup.clusterRepresentatives(
      Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", 3, 0.1,
        maxDf = 10),
      documents(s, d), "doc_id", "n_chars"),
    Some(s"""$jaccardComponentsCte,
            joined AS (
              SELECT c.component, s.cluster_size, d.doc_id, d.n_chars
              FROM comp c
              JOIN documents d ON d.doc_id = c.node
              JOIN csize s USING (component))
            SELECT component, doc_id AS rep_id, n_chars AS rep_quality,
              cluster_size
            FROM (SELECT *, row_number() OVER (PARTITION BY component
                ORDER BY n_chars DESC, doc_id) AS rn FROM joined)
            WHERE rn = 1"""))

  // Within-block cosine near-dup pairs, with the block SIZE capped the
  // way the operator's scaladoc prescribes ("cap them upstream"): the
  // corpus has a FIXED label cardinality, so blocking on the raw label
  // makes Sum |block|^2 quadratic in corpus size — the sf10 sweep
  // measured the uncapped entry at 411 s (4.0G pairs, e~=2 in pair
  // volume). An oversized label splits into ceil(count/maxBlock)
  // deterministic shards by vec_id modulus (engine-portable, so the
  // oracle replays it); at gate SFs every label fits one shard and the
  // output is bit-identical to the uncapped entry. Cross-shard pairs
  // within a label are forgone above the cap — the standard bounded
  // near-dup contract (same recall-for-cost trade LSH banding makes).
  //
  // r15: when NO label exceeds the cap (true at every gate SF), one
  // cheap max-count pre-aggregate proves the shard join a no-op
  // (__nsh = 1 for every row) and the query blocks on the raw label
  // instead — shardCappedBlocks drops the per-label count join the r14
  // BlockCapProbe attributed ~0.5-3 s of constant gate-SF overhead to,
  // with provably identical pairs (grouping by label = grouping by
  // label#0). Above the cap the sharded plan engages unchanged.
  private val dedupEmbedding = Q(
    "dedup_embedding_cosine",
    (s, d) => Dedup.embeddingCosinePairs(
      shardCappedBlocks(embeddings(s, d), "__blk"),
      "vec_id", "embedding", "__blk", 0.3),
    Some("""WITH nsh AS (
              SELECT label, CAST(ceil(count(*) / 512.0) AS BIGINT) AS nsh
              FROM embeddings GROUP BY 1),
            blk AS (
              SELECT e.vec_id, e.embedding, e.label, e.vec_id % n.nsh AS shard
              FROM embeddings e JOIN nsh n USING (label))
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
                AS cosine
            FROM blk a JOIN blk b
              ON a.label = b.label AND a.shard = b.shard AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
              >= 0.3"""))

  // ---------------------------------------------------------------- similarity search
  private val annBrute = Q(
    "ann_bruteforce_topk",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", 5)
    },
    Some("""WITH scored AS (
              SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                round(list_dot_product(p.embedding::DOUBLE[], c.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)
                  AS score
              FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
              WHERE p.vec_id < 10)
            SELECT probe_id, cand_id, score, rank FROM (
              SELECT probe_id, cand_id, score,
                CAST(row_number() OVER (PARTITION BY probe_id
                  ORDER BY score DESC, cand_id) AS INTEGER) AS rank
              FROM scored) WHERE rank <= 5"""))

  // Integer power iteration on the embedding Gram matrix: one
  // map-side-combinable pass builds G (fixed 64x64-long state), then
  // exact truncating rounds find the dominant axis. The oracle rebuilds
  // G as a join-aggregate over exploded pairs and unrolls the same
  // rounds — both engines truncate toward zero, so every component
  // matches bit-for-bit.
  private val pcaTopDirection = Q(
    "pca_top_direction",
    (s, d) => Similarity.topPrincipalDirection(embeddings(s, d), "vec_id",
      "embedding", dim = 64, iterations = 3),
    Some {
      val rounds = (1 to 3).map { r =>
        s"""w$r AS (
             SELECT g.i, CAST(SUM(g.gs * v${r - 1}.v) AS BIGINT) AS wv
             FROM gs g JOIN v${r - 1} ON v${r - 1}.i = g.j
             GROUP BY 1),
           m$r AS (SELECT greatest(1, MAX(abs(wv)) // 1000000) AS tau FROM w$r),
           v$r AS (SELECT i, wv // tau AS v FROM w$r, m$r)"""
      }.mkString(",\n")
      s"""WITH ve AS (
            SELECT vec_id,
              [CAST(floor(CAST(e AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
               FOR e IN embedding] AS vq
            FROM embeddings),
          x AS (
            SELECT vec_id, i.i AS i, vq[i.i + 1] AS xi
            FROM ve, range(0, 64) i(i)),
          gs AS (
            SELECT a.i AS i, b.i AS j,
              CAST(SUM(a.xi * b.xi) AS BIGINT) // 1000000000 AS gs
            FROM x a JOIN x b USING (vec_id)
            GROUP BY 1, 2),
          v0 AS (SELECT i.i AS i, CAST(1000000 AS BIGINT) AS v
                 FROM range(0, 64) i(i)),
          $rounds
          SELECT i, v AS v_scaled FROM v3"""
    })

  // Johnson-Lindenstrauss sign projection 64 -> 16 dims: the ±1 matrix
  // is md5-parity-derived metadata (no model state), inputs micro-
  // quantized, outputs pure BIGINT sums. The oracle rebuilds the same
  // matrix from the same md5 parity and replays the projection as a
  // join-aggregate.
  private val embRandomProjection = Q(
    "embedding_random_projection",
    (s, d) => ops.Features.randomProjection(embeddings(s, d), "vec_id",
      "embedding", inDim = 64, outDim = 16),
    Some(s"""WITH ve AS (
              SELECT vec_id,
                [CAST(floor(CAST(e AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                 FOR e IN embedding] AS vq
              FROM embeddings),
            rm0 AS (
              SELECT j.j, i.i,
                md5('jl|' || j.j::VARCHAR || '|' || i.i::VARCHAR) AS mh
              FROM range(0, 16) j(j) CROSS JOIN range(0, 64) i(i)),
            rm AS (
              SELECT j, i,
                CASE WHEN ${duckHex60("mh")} % 2 = 0 THEN 1 ELSE -1 END AS r
              FROM rm0),
            x AS (
              SELECT vec_id, i.i AS i, vq[i.i + 1] AS xq
              FROM ve, range(0, 64) i(i))
            SELECT x.vec_id, rm.j, CAST(SUM(rm.r * x.xq) AS BIGINT) AS yq
            FROM x JOIN rm ON rm.i = x.i
            GROUP BY 1, 2"""))

  // the binary-quantized ANN oracle prefix: sign codes (two packed
  // 32-bit words per 64-dim vector, BIGINT arithmetic keeps every value
  // positive) and pool, each probe's 20 nearest codes by Hamming
  // popcount, ties by id
  private val duckHammingPool = """codes AS (
              SELECT vec_id, embedding,
                CAST(list_sum(list_transform(list_zip(embedding[1:32], range(1, 33)),
                  z -> CASE WHEN z[1] >= 0 THEN 1::BIGINT << (z[2] - 1)
                       ELSE 0 END)) AS BIGINT) AS sig0,
                CAST(list_sum(list_transform(list_zip(embedding[33:64], range(1, 33)),
                  z -> CASE WHEN z[1] >= 0 THEN 1::BIGINT << (z[2] - 1)
                       ELSE 0 END)) AS BIGINT) AS sig1
              FROM embeddings),
            cand AS (
              SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                bit_count(xor(p.sig0, c.sig0))
                  + bit_count(xor(p.sig1, c.sig1)) AS hamming,
                p.embedding AS pv, c.embedding AS cv
              FROM codes p JOIN codes c ON p.vec_id <> c.vec_id
              WHERE p.vec_id < 10),
            pool AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                  ORDER BY hamming, cand_id) AS hrank
                FROM cand) WHERE hrank <= 20)"""

  // the binary-quantized ANN rerank tail: the exact cosine of each pooled
  // candidate, then each probe's top 5 by (score desc, id)
  private val duckBinaryTop5 = s"""$duckHammingPool,
            rescored AS (
              SELECT probe_id, cand_id, hamming,
                round(list_dot_product(pv::DOUBLE[], cv::DOUBLE[])
                  / (sqrt(list_dot_product(pv::DOUBLE[], pv::DOUBLE[]))
                   * sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))), 6)
                  AS score
              FROM pool),
            bin AS (
              SELECT * FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                  ORDER BY score DESC, cand_id) AS INTEGER) AS rank
                FROM rescored) WHERE rank <= 5)"""

  // Binary-quantized ANN: 1-bit sign codes (two packed 32-bit words per
  // 64-dim vector), Hamming-popcount candidate generation, exact cosine
  // rerank of the 20 survivors. The oracle rebuilds the identical codes
  // in BIGINT arithmetic (32-bit words keep every value positive) and
  // replays both deterministic-tie windows.
  private val annBinaryHamming = Q(
    "ann_binary_hamming",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.binaryHammingTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", dim = 64, k = 5, candidates = 20)
    },
    Some(s"""WITH $duckBinaryTop5
            SELECT probe_id, cand_id, CAST(hamming AS INTEGER) AS hamming, score, rank
            FROM bin"""))

  // ANN recall audit as a first-class query: the binary-quantized
  // search's top-5 intersected with exact brute-force top-5 per probe,
  // recall in exact milli units — the pipeline-health metric an ANN
  // deployment alerts on, oracled end to end (both arms are already
  // engine-exact, so their intersection is too)
  private val annRecallAudit = Q(
    "ann_recall_audit",
    (s, d) => {
      val emb = embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
        .select(col("probe_id"), col("cand_id"))
      val bin = Similarity.binaryHammingTopK(emb, probes, "vec_id",
          "embedding", dim = 64, k = 5, candidates = 20)
        .select(col("probe_id"), col("cand_id"))
      val hits = brute.join(bin, Seq("probe_id", "cand_id"), "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
      probes.select(col("vec_id").as("probe_id"))
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_milli", expr("(n_hits * 1000) div 5"))
    },
    Some(s"""WITH scored AS (
              SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                round(list_dot_product(p.embedding::DOUBLE[], c.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)
                  AS score
              FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
              WHERE p.vec_id < 10),
            brute AS (
              SELECT probe_id, cand_id FROM (
                SELECT probe_id, cand_id,
                  row_number() OVER (PARTITION BY probe_id
                    ORDER BY score DESC, cand_id) AS rank
                FROM scored) WHERE rank <= 5),
            $duckBinaryTop5,
            hits AS (
              SELECT b.probe_id, count(*) AS n_hits
              FROM brute b
              WHERE EXISTS (SELECT 1 FROM bin x
                            WHERE x.probe_id = b.probe_id
                              AND x.cand_id = b.cand_id)
              GROUP BY 1)
            SELECT p.vec_id AS probe_id,
              CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
              (CAST(coalesce(h.n_hits, 0) AS BIGINT) * 1000) // 5
                AS recall_milli
            FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) p
            LEFT JOIN hits h ON h.probe_id = p.vec_id"""))

  // oracled since round 2: the heap operator's tie-break (score desc,
  // cand_id asc) makes its row set identical to the window formulation
  private val annTopkOperator = Q(
    "ann_topk_operator",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteForceTopKOperator(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
    },
    Some("""WITH scored AS (
              SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                round(list_dot_product(p.embedding::DOUBLE[], c.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)
                  AS score
              FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
              WHERE p.vec_id < 10)
            SELECT probe_id, cand_id, score FROM (
              SELECT probe_id, cand_id, score,
                row_number() OVER (PARTITION BY probe_id
                  ORDER BY score DESC, cand_id) AS rank
              FROM scored) WHERE rank <= 5"""))

  // kNN graph, block-confined (label = the quantizer cell a pipeline
  // computes upstream): co-partitioned equi-join on the block key,
  // per-source selection through the bounded-heap operator. The
  // rounded-score + dst_id tie-break makes the row set engine-exact,
  // same as the bruteforce pair above.
  //
  // Block sizes are CAPPED the way the operator's scaladoc prescribes:
  // the corpus's label cardinality is fixed, so raw-label blocks grow
  // linearly with data and Sum |block|^2 quadratically — the sf10
  // sweep's worst scale outlier (1456 s, e~=1.7; 401k pairs at sf0.1
  // vs 4.0G at sf10). An oversized label splits into
  // ceil(count/maxBlock) deterministic vec_id-modulus shards (oracle-
  // replayable); gate-SF blocks fit one shard, so gate output is
  // bit-identical to the uncapped entry, while above the cap the graph
  // is per-shard kNN — the bounded-cost contract every at-scale kNN
  //-graph construction (IVF/partition-local) makes. r15: the shard
  // join engages only when some label exceeds the cap (see
  // shardCappedBlocks).
  private val knnGraph = Q(
    "knn_graph_blocked",
    (s, d) => Similarity.knnGraphBlocked(
      shardCappedBlocks(embeddings(s, d), "__cblk"),
      "vec_id", "embedding", "__cblk", 5),
    Some("""WITH nsh AS (
              SELECT label, CAST(ceil(count(*) / 512.0) AS BIGINT) AS nsh
              FROM embeddings GROUP BY 1),
            blk AS (
              SELECT e.vec_id, e.embedding, e.label, e.vec_id % n.nsh AS shard
              FROM embeddings e JOIN nsh n USING (label)),
            scored AS (
              SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
                round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
                  AS score
              FROM blk a JOIN blk b
                ON a.label = b.label AND a.shard = b.shard
                AND a.vec_id <> b.vec_id)
            SELECT src_id, dst_id, score FROM (
              SELECT src_id, dst_id, score,
                row_number() OVER (PARTITION BY src_id
                  ORDER BY score DESC, dst_id) AS rn
              FROM scored) WHERE rn <= 5"""))

  // hard-negative mining: nearest neighbors with a DIFFERENT label —
  // contrastive-training negatives near the decision boundary
  private val hardNegatives = Q(
    "hard_negatives_topk",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.hardNegativesTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", 5)
    },
    Some("""WITH scored AS (
              SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                round(list_dot_product(p.embedding::DOUBLE[], c.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)
                  AS score
              FROM embeddings p JOIN embeddings c
                ON p.vec_id <> c.vec_id AND p.label <> c.label
              WHERE p.vec_id < 10)
            SELECT probe_id, cand_id, score FROM (
              SELECT probe_id, cand_id, score,
                row_number() OVER (PARTITION BY probe_id
                  ORDER BY score DESC, cand_id) AS rn
              FROM scored) WHERE rn <= 5"""))

  // int8 quantization profile: floor(x/scale + 0.5) half-up on explicit
  // doubles (both engines' round() builtins disagree on halves), scale
  // emitted raw (single division — bit-identical), stats as BIGINTs
  private val embQuantize = Q(
    "embedding_quantize",
    (s, d) => Similarity.quantizeInt8Stats(embeddings(s, d), "vec_id", "embedding"),
    Some("""WITH base AS (
              SELECT vec_id, embedding,
                coalesce(nullif(CAST(list_max([abs(CAST(e AS DOUBLE)) FOR e IN embedding])
                    AS DOUBLE), 0.0) / 127.0, 0.0) AS scale
              FROM embeddings),
            q AS (
              SELECT vec_id, scale,
                [CAST(coalesce(floor(CAST(e AS DOUBLE) / nullif(scale, 0.0) + 0.5), 0.0)
                  AS BIGINT) FOR e IN embedding] AS qs
              FROM base)
            SELECT vec_id, scale,
              CAST(list_sum(qs) AS BIGINT) AS q_sum,
              list_min(qs) AS q_min,
              list_max(qs) AS q_max,
              CAST(len(list_filter(qs, qv -> abs(qv) >= 127)) AS BIGINT) AS n_saturated
            FROM q"""))

  private val annIvf = Q(
    "ann_ivf_topk",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, kCells = 8, nProbe = 3)
    },
    // End-to-end oracle made possible by scaled-integer Lloyd
    // (Similarity.ivfTopK's training): the codebook is pure BIGINT arithmetic —
    // micro-unit quantization, integer squared-L2 argmin with ties to
    // the lowest cell, per-dim integer mean via truncating division
    // (Scala Long `/` = SQL integer `//`) — so the oracle REPLAYS
    // training exactly: init from the 8 lowest-id vectors, 2 unrolled
    // assignment+mean rounds, then the final cell assignment, each
    // probe's 3 nearest cells, and the rounded-cosine re-rank the green
    // ann_bruteforce_topk oracle already proved engine-exact.
    Some(annIvfOracleSql))

  /** Integer squared-L2 distance between two quantized vectors — the SQL
    * twin of Similarity.nearestCellQ's accumulator. */
  private def lloydDistExpr(dim: Int, v: String, c: String): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), " +
      s"i -> ($v.vq[i] - $c.vq[i]) * ($v.vq[i] - $c.vq[i])))"

  /** Shared Lloyd-replay WITH-prefix — Similarity's IVF training stated in SQL:
    * micro-unit quantized corpus `ve(vec_id, embedding, vq)`,
    * deterministic lowest-id init `c0`, `iters` unrolled
    * assignment+integer-mean rounds, final cell assignment
    * `af(vec_id, cell)`. Every step pure BIGINT arithmetic (truncating
    * `//` = Scala Long `/`), so cell membership is bit-identical to the
    * engine's. Consumed by the ann_ivf_topk and dedup_semantic oracles.
    */
  /** `kCells` is a SQL expression so the auto-sized √n operating point
    * can be replayed too (DuckDB accepts a scalar subquery in LIMIT);
    * fixed-codebook oracles pass the integer literal as a string.
    */
  /** `corpus` is the FROM-clause source of the training/assignment
    * corpus `ve` — the bare table for full-corpus replays, or an
    * aliased subquery (e.g. the union of two capped pools) when the
    * consuming query bounds its frame by construction.
    */
  private def lloydReplayPrefix(kCells: String, iters: Int, dim: Int,
                                corpus: String = "embeddings"): String = {
    val dimRange = s"range(1, ${dim + 1})"
    def distExpr(v: String, c: String) = lloydDistExpr(dim, v, c)
    // assignment = argmin over (dist, cell) — a LEXICOGRAPHIC STRUCT MIN
    // aggregate, identical to the row_number()-over-(dist, cell)-rn=1
    // formulation it replaces but streaming through a hash aggregate:
    // the window version materialized and SORTED the |ve| x kCells cross
    // join (64-long arrays riding along), which exhausted 64 GB of
    // DuckDB spill at the sf10 auto-sized replay (200k vectors x 223
    // cells); the aggregate keeps one struct per vector
    def lloydRound(prev: String, n: Int): String =
      s"""a$n AS (
            SELECT v.vec_id,
              (min({'d': ${distExpr("v", "c")}, 'c': c.cell})).c AS cell
            FROM ve v CROSS JOIN $prev c GROUP BY v.vec_id),
          u$n AS (
            SELECT a.cell, i.i AS dim, CAST(SUM(v.vq[i.i]) // COUNT(*) AS BIGINT) AS cv
            FROM a$n a JOIN ve v USING (vec_id), $dimRange AS i(i)
            GROUP BY a.cell, i.i),
          c$n AS (
            SELECT p.cell, coalesce(m.vq, p.vq) AS vq
            FROM $prev p LEFT JOIN
              (SELECT cell, list(cv ORDER BY dim) AS vq FROM u$n GROUP BY cell) m
              USING (cell))"""
    val rounds = (1 to iters)
      .map(n => lloydRound(if (n == 1) "c0" else s"c${n - 1}", n))
      .mkString(",\n")
    s"""ve AS (
          SELECT vec_id, embedding,
            [CAST(floor(CAST(e AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
             FOR e IN embedding] AS vq
          FROM $corpus),
        c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, vq
          FROM (SELECT vec_id, vq FROM ve ORDER BY vec_id LIMIT $kCells)),
        $rounds,
        af AS (
          SELECT v.vec_id,
            (min({'d': ${distExpr("v", "c")}, 'c': c.cell})).c AS cell
          FROM ve v CROSS JOIN c$iters c GROUP BY v.vec_id)"""
  }

  /** Generated Lloyd-replay SQL for ann_ivf_topk (see the Q above). */
  private lazy val annIvfOracleSql: String = {
    val kCells = "8"; val iters = 2; val dim = 64; val nProbe = 3; val k = 5
    def distExpr(v: String, c: String) = lloydDistExpr(dim, v, c)
    s"""WITH ${lloydReplayPrefix(kCells, iters, dim)},
        pc AS (
          SELECT vec_id AS probe_id, cell FROM (
            SELECT v.vec_id, c.cell,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY ${distExpr("v", "c")}, c.cell) AS rn
            FROM ve v CROSS JOIN c$iters c WHERE v.vec_id < 10)
          WHERE rn <= $nProbe),
        scored AS (
          SELECT p.probe_id, cv.vec_id AS cand_id,
            round(list_dot_product(pv.embedding::DOUBLE[], cv.embedding::DOUBLE[])
              / (sqrt(list_dot_product(pv.embedding::DOUBLE[], pv.embedding::DOUBLE[]))
               * sqrt(list_dot_product(cv.embedding::DOUBLE[], cv.embedding::DOUBLE[]))), 6)
              AS score
          FROM pc p
          JOIN af a ON a.cell = p.cell
          JOIN ve cv ON cv.vec_id = a.vec_id
          JOIN ve pv ON pv.vec_id = p.probe_id
          WHERE cv.vec_id <> p.probe_id)
        SELECT probe_id, cand_id, score, rank FROM (
          SELECT probe_id, cand_id, score,
            CAST(row_number() OVER (PARTITION BY probe_id
              ORDER BY score DESC, cand_id) AS INTEGER) AS rank
          FROM scored) WHERE rank <= $k"""
  }

  // SemDeDup: k-means cells (the engine-exact integer Lloyd the IVF
  // oracle already replays) confine the cosine sweep; within a cell a
  // vector is dropped when its rounded cosine to any lower-id member
  // reaches tau. tau=0.35 sits in the within-cell cosine tail of the
  // 64-dim corpus (~19% pruned at sf0.01, measured), the operating
  // band SemDeDup targets, so the verdict table exercises both
  // outcomes at every SF.
  private val dedupSemantic = Q(
    "dedup_semantic",
    (s, d) => Similarity.semanticDedup(embeddings(s, d), "vec_id", "embedding",
      kCells = 8, tau = 0.35),
    Some(dedupSemanticOracleSql))

  /** Generated Lloyd-replay SQL for dedup_semantic: shared prefix through
    * the final assignment `af`, then the prune verdict as a plain EXISTS
    * over within-cell lower-id pairs at the same rounded-cosine
    * threshold. */
  private lazy val dedupSemanticOracleSql: String =
    s"""WITH ${lloydReplayPrefix(kCells = "8", iters = 2, dim = 64)},
        dup AS (
          SELECT DISTINCT a.vec_id
          FROM af a JOIN af b ON a.cell = b.cell AND b.vec_id < a.vec_id
          JOIN ve va ON va.vec_id = a.vec_id
          JOIN ve vb ON vb.vec_id = b.vec_id
          WHERE round(list_dot_product(va.embedding::DOUBLE[], vb.embedding::DOUBLE[])
              / (sqrt(list_dot_product(va.embedding::DOUBLE[], va.embedding::DOUBLE[]))
               * sqrt(list_dot_product(vb.embedding::DOUBLE[], vb.embedding::DOUBLE[]))), 6)
            >= 0.35)
        SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
        FROM af a LEFT JOIN dup d ON d.vec_id = a.vec_id"""

  // product quantization: 64 float dims -> 8 one-byte codes, the
  // memory-bound ANN representation at 100 TB scale. Per-subspace
  // integer Lloyd (fused — one job per round for all 8 subspaces), so
  // codes AND the integer reconstruction error are engine-exact; the
  // oracle replays all 8 trainings.
  private val embPqCodes = Q(
    "embedding_pq_codes",
    (s, d) => Similarity.pqCodes(embeddings(s, d), "vec_id", "embedding",
      m = 8, subDim = 8, kSub = 16, iters = 2),
    Some(pqCodesOracleSql))

  /** Shared per-subspace Lloyd-replay WITH-prefix for the PQ oracles:
    * the [[lloydReplayPrefix]] recipe instantiated once per subspace
    * over the sliced quantized vector — `ve`, then for each subspace s
    * the chain v$s / c${s}_0 / rounds / af$s(vec_id, cell, dist).
    * Consumed by embedding_pq_codes and ann_pq_adc_topk. */
  private def pqReplayPrefix(m: Int, subDim: Int, kSub: Int, iters: Int): String = {
    def distExpr(v: String, c: String) = lloydDistExpr(subDim, v, c)
    val dimRange = s"range(1, ${subDim + 1})"
    def subCtes(s: Int): String = {
      val lo = s * subDim + 1
      def lloydRound(prev: String, n: Int): String =
        s"""a${s}_$n AS (
              SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                  row_number() OVER (PARTITION BY v.vec_id
                    ORDER BY ${distExpr("v", "c")}, c.cell) AS rn
                FROM v$s v CROSS JOIN $prev c) WHERE rn = 1),
            u${s}_$n AS (
              SELECT a.cell, i.i AS dim, CAST(SUM(v.vq[i.i]) // COUNT(*) AS BIGINT) AS cv
              FROM a${s}_$n a JOIN v$s v USING (vec_id), $dimRange AS i(i)
              GROUP BY a.cell, i.i),
            c${s}_$n AS (
              SELECT p.cell, coalesce(m.vq, p.vq) AS vq
              FROM $prev p LEFT JOIN
                (SELECT cell, list(cv ORDER BY dim) AS vq FROM u${s}_$n GROUP BY cell) m
                USING (cell))"""
      val rounds = (1 to iters)
        .map(n => lloydRound(if (n == 1) s"c${s}_0" else s"c${s}_${n - 1}", n))
        .mkString(",\n")
      s"""v$s AS (
            SELECT vec_id,
              list_transform(range($lo, ${lo + subDim}), i -> vq[i]) AS vq
            FROM ve),
          c${s}_0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, vq
            FROM (SELECT vec_id, vq FROM v$s ORDER BY vec_id LIMIT $kSub)),
          $rounds,
          af$s AS (
            SELECT vec_id, cell, dist FROM (
              SELECT v.vec_id, c.cell, ${distExpr("v", "c")} AS dist,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY ${distExpr("v", "c")}, c.cell) AS rn
              FROM v$s v CROSS JOIN c${s}_$iters c) WHERE rn = 1)"""
    }
    s"""ve AS (
          SELECT vec_id,
            [CAST(floor(CAST(e AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
             FOR e IN embedding] AS vq
          FROM embeddings),
        ${(0 until m).map(subCtes).mkString(",\n")}"""
  }

  private lazy val pqCodesOracleSql: String = {
    val m = 8
    val codeSel = (0 until m).map(s => s"af$s.cell AS code_$s").mkString(",\n          ")
    val errSum = (0 until m).map(s => s"af$s.dist").mkString(" + ")
    val joins = (0 until m).map(s => s"JOIN af$s ON af$s.vec_id = ve.vec_id")
      .mkString("\n        ")
    s"""WITH ${pqReplayPrefix(m, subDim = 8, kSub = 16, iters = 2)}
        SELECT ve.vec_id,
          $codeSel,
          CAST($errSum AS BIGINT) AS err_q
        FROM ve
        $joins"""
  }

  // PQ search via asymmetric distance computation: probes precompute one
  // integer distance table per subspace, candidates are ranked by m code
  // lookups summed — the corpus side of the join touches only the 8-byte
  // codes, the 32x-compressed 100 TB representation. All-integer, so the
  // ranking oracles end to end on top of the replayed PQ training.
  private val annPqAdc = Q(
    "ann_pq_adc_topk",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.pqAdcTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, m = 8, subDim = 8, kSub = 16, iters = 2)
    },
    Some(annPqAdcOracleSql))

  private lazy val annPqAdcOracleSql: String = {
    val m = 8; val subDim = 8; val iters = 2; val k = 5
    def distExpr(v: String, c: String) = lloydDistExpr(subDim, v, c)
    val pdCtes = (0 until m).map { s =>
      s"""pd$s AS (
            SELECT p.vec_id AS probe_id, c.cell, ${distExpr("p", "c")} AS dist
            FROM v$s p CROSS JOIN c${s}_$iters c
            WHERE p.vec_id < 10)"""
    }.mkString(",\n")
    val codeJoins = (0 until m).map(s =>
      s"""JOIN af$s ON af$s.vec_id = ca.vec_id
          JOIN pd$s ON pd$s.probe_id = pr.vec_id AND pd$s.cell = af$s.cell""")
      .mkString("\n          ")
    val distSum = (0 until m).map(s => s"pd$s.dist").mkString(" + ")
    s"""WITH ${pqReplayPrefix(m, subDim, kSub = 16, iters)},
        $pdCtes,
        adc AS (
          SELECT pr.vec_id AS probe_id, ca.vec_id AS cand_id,
            CAST($distSum AS BIGINT) AS adc_dist
          FROM (SELECT vec_id FROM ve WHERE vec_id < 10) pr
          CROSS JOIN ve ca
          $codeJoins
          WHERE ca.vec_id <> pr.vec_id)
        SELECT probe_id, cand_id, adc_dist, rank FROM (
          SELECT probe_id, cand_id, adc_dist,
            CAST(row_number() OVER (PARTITION BY probe_id
              ORDER BY adc_dist, cand_id) AS INTEGER) AS rank
          FROM adc) WHERE rank <= $k"""
  }

  private val annLsh = Q(
    "ann_lsh_topk",
    // (bits=8, bands=16) over the old (10, 4): random 64-dim embeddings
    // are LSH's hardest case (no cluster structure), and 4 wide bands
    // recalled only ~0.22 of the true top-5; 16 narrower bands measure
    // 0.82 at sf0.001 while still pruning candidates ~15x. Recall floor
    // asserted at this exact config in SimilaritySpec.
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", dim = 64, k = 5, bits = 8, bands = 16,
        maxBucket = 2000, multiProbe = true)
    },
    // End-to-end oracle: the hyperplanes are deterministic model
    // constants (Random(seed + band).nextGaussian, the exact draw order
    // of Expressions.HyperplaneSignatures), so the oracle BAKES them in
    // as double literals — Scala's shortest-round-trip Double.toString
    // parses back to the identical IEEE double in DuckDB. Each
    // signature bit is rebuilt with an explicitly CHAINED product sum
    // (left-assoc, matching the JVM loop bit-for-bit — DuckDB's
    // list_dot_product accumulates in a different order and flips
    // near-zero signs, measured 241/500 rows differing in ULPs); the
    // re-rank keeps the list_dot_product + round(_, 6) construction the
    // green ann_bruteforce_topk oracle already proved engine-exact.
    // Banding, the maxBucket corpus guard, 1-bit multi-probe XOR, and
    // the (score DESC, cand_id) rank window mirror lshTopK exactly.
    Some(annLshOracleSql))

  /** Shared by ann_lsh_topk and ann_lsh_indexed: the indexed path signs
    * the same corpus with the same hyperplanes and probes through the
    * same core, so the result set is identical by construction — and
    * the driver verifies that claim end-to-end via the shared oracle.
    */
  private lazy val annLshOracleSql: String = {
      val dim = 64; val bits = 8; val bands = 16; val seed = 42
      def bandSig(b: Int): String = {
        val rng = new scala.util.Random(seed + b)
        val pl = Array.fill(bits * dim)(rng.nextGaussian().toFloat)
        (0 until bits).map { i =>
          val dot = (0 until dim)
            .map(j => s"v[${j + 1}]*(${pl(i * dim + j).toDouble})")
            .mkString(" + ")
          s"(CASE WHEN $dot > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
      }
      val sigSelects = (0 until bands)
        .map(b => s"SELECT vec_id, $b AS band, ${bandSig(b)} AS bucket FROM ve")
        .mkString(" UNION ALL ")
      val probeBuckets = ("bucket" +: (0 until bits)
        .map(i => s"xor(bucket, ${1L << i})")).mkString(", ")
      s"""WITH ve AS (
              SELECT vec_id, [CAST(e AS DOUBLE) FOR e IN embedding] AS v
              FROM embeddings),
            sig AS ($sigSelects),
            bn AS (SELECT band, bucket, count(*) AS n FROM sig GROUP BY 1, 2),
            corpus AS (
              SELECT s.vec_id, s.band, s.bucket
              FROM sig s JOIN bn USING (band, bucket) WHERE bn.n <= 2000),
            probeb AS (
              SELECT vec_id AS probe_id, band,
                unnest([$probeBuckets]) AS bucket
              FROM sig WHERE vec_id < 10),
            cand AS (
              SELECT DISTINCT p.probe_id, c.vec_id AS cand_id
              FROM corpus c JOIN probeb p USING (band, bucket)
              WHERE p.probe_id <> c.vec_id),
            scored AS (
              SELECT cand.probe_id, cand.cand_id,
                round(list_dot_product(p.embedding::DOUBLE[], c.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)
                  AS score
              FROM cand
              JOIN embeddings p ON p.vec_id = cand.probe_id
              JOIN embeddings c ON c.vec_id = cand.cand_id)
            SELECT probe_id, cand_id, score, rank FROM (
              SELECT probe_id, cand_id, score,
                row_number() OVER (PARTITION BY probe_id
                  ORDER BY score DESC, cand_id) AS rank
              FROM scored) WHERE rank <= 5"""
  }

  // the persisted-index ANN path as a driver query: build the LSH index
  // in a per-call temp dir (appendLshIndex: family-stamped, idempotent
  // first-write-wins), then probe it through lshTopKIndexed at the SAME
  // (bits, bands) as ann_lsh_topk — same hyperplanes, same core, so the
  // shared oracle hash-checks that the store round-trip loses nothing
  private val annLshIndexed = Q(
    "ann_lsh_indexed",
    (s, d) => {
      val emb = embeddings(s, d)
      val dir = Scratch.dir("graft_lshidx_") + "/index"
      Similarity.appendLshIndex(emb, "vec_id", "embedding", dir,
        dim = 64, bits = 8, bands = 16)
      Similarity.lshTopKIndexed(emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", dir, dim = 64, k = 5, bits = 8, bands = 16,
        maxBucket = 2000, multiProbe = true)
    },
    Some(annLshOracleSql))

  // ---------------------------------------------------------------- text analysis
  private val langNames = TextAnalysis.stopwords.map(_._1)

  private def duckWordHits(word: String) =
    s"len(regexp_extract_all(lower(text), '\\b$word\\b'))"

  private def duckLangScore(lang: String): String =
    TextAnalysis.stopwords.toMap.apply(lang).map(duckWordHits).mkString(" + ")

  private val textLangid = Q(
    "text_langid",
    (s, d) => {
      val scores = langNames.map(l =>
        TextAnalysis.langScore(col("text"), l).cast("long").as(s"s_$l")) // len() is BIGINT
      documents(s, d).select(
        (col("doc_id") +: scores :+ TextAnalysis.langId(col("text")).as("lang_pred")): _*)
    },
    Some {
      val scoreCols = langNames.map(l => s"${duckLangScore(l)} AS s_$l").mkString(", ")
      val best = s"greatest(${langNames.map(l => s"s_$l").mkString(", ")})"
      val cases = langNames.map(l => s"WHEN s_$l >= 1 AND s_$l >= $best THEN '$l'")
        .mkString(" ")
      s"""WITH scored AS (SELECT doc_id, $scoreCols FROM documents)
          SELECT doc_id, ${langNames.map(l => s"s_$l").mkString(", ")},
            CASE $cases ELSE 'und' END AS lang_pred
          FROM scored"""
    })

  // mixed-language screen: language-ID each half independently and
  // flag disagreement — concatenation/code-switch artifacts a whole-doc
  // vote averages away; same stopword batteries, halves at len div 2
  private val textLangConsistency = Q(
    "text_lang_consistency",
    (s, d) => ops.TextAnalysis.langConsistency(documents(s, d), "doc_id", "text"),
    Some {
      def scoreOf(sql: String, lang: String) =
        TextAnalysis.stopwords.toMap.apply(lang)
          .map(w => s"len(regexp_extract_all(lower($sql), '\\b$w\\b'))")
          .mkString(" + ")
      def pick(half: String, sql: String) = {
        val cols = langNames.map(l => s"${scoreOf(sql, l)} AS ${half}_$l")
        val best = s"greatest(${langNames.map(l => s"${half}_$l").mkString(", ")})"
        val cases = langNames
          .map(l => s"WHEN ${half}_$l >= 1 AND ${half}_$l >= $best THEN '$l'")
          .mkString(" ")
        (cols.mkString(", "), s"CASE $cases ELSE 'und' END")
      }
      val (c1, p1) = pick("f", "substr(text, 1, length(text) // 2)")
      val (c2, p2) = pick("s", "substr(text, length(text) // 2 + 1)")
      s"""WITH scored AS (SELECT doc_id, $c1, $c2 FROM documents),
            langs AS (
              SELECT doc_id, $p1 AS lang_first, $p2 AS lang_second
              FROM scored)
          SELECT doc_id, lang_first, lang_second,
            lang_first = lang_second AS consistent
          FROM langs"""
    })

  private val textQuality = Q(
    "text_quality",
    (s, d) => TextAnalysis.qualityStats(documents(s, d), "doc_id", "text"),
    Some {
      val stops = TextAnalysis.stopwords.flatMap(_._2).distinct
        .map(duckWordHits).mkString(" + ")
      s"""SELECT doc_id,
            length(text) AS n_chars,
            len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
            CAST(length(text) AS DOUBLE)
              / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)
              AS mean_token_len,
            CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1) AS alpha_ratio,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1) AS punct_ratio,
            CAST($stops AS DOUBLE)
              / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)
              AS stopword_ratio,
            100.0 * (0.3 * least(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0)
              + 0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
              + 0.3 * (1.0 - least((CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)) * 10.0, 1.0)))
              AS quality_score
          FROM documents"""
    })

  // Gopher rule battery (Rae et al. 2021): raw integer measurements +
  // one boolean per rule, thresholds compared in cross-multiplied
  // integer form on BOTH engines so no float ratio exists to disagree
  // about at a boundary. Symbol counts use leftmost-non-overlapping
  // replacement on both sides (Java regexp_replace == DuckDB replace).
  private val gopherQuality = Q(
    "gopher_quality_rules",
    (s, d) => TextAnalysis.gopherRules(documents(s, d), "doc_id", "text"),
    Some {
      val stopPresence = TextAnalysis.gopherStopwords
        .map(w => s"(CASE WHEN ${duckWordHits(w)} > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH base AS (
            SELECT doc_id, lower(trim(text)) AS t,
              string_split_regex(lower(trim(text)), '\\s+') AS ws,
              CAST($stopPresence AS BIGINT) AS n_stopwords_present
            FROM documents),
          m AS (
            SELECT doc_id,
              CAST(len(ws) AS BIGINT) AS n_words,
              CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS BIGINT)
                AS sum_word_len,
              CAST((length(t) - length(replace(t, '#', '')))
                + (length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT)
                AS n_symbols,
              CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                AS BIGINT) AS n_alpha_words,
              n_stopwords_present
            FROM base)
          SELECT doc_id, n_words, sum_word_len, n_symbols, n_alpha_words,
            n_stopwords_present,
            n_words >= 5 AND n_words <= 100000 AS word_count_ok,
            3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
              AS mean_word_len_ok,
            10 * n_symbols <= n_words AS symbol_ratio_ok,
            5 * n_alpha_words >= 4 * n_words AS alpha_word_ratio_ok,
            n_stopwords_present >= 2 AS stopword_ok,
            (n_words >= 5 AND n_words <= 100000)
              AND (3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words)
              AND (10 * n_symbols <= n_words)
              AND (5 * n_alpha_words >= 4 * n_words)
              AND (n_stopwords_present >= 2) AS gopher_pass
          FROM m"""
    })

  // the hashed token features both oracles below rebuild: per token the
  // 64-way bucket of its 20-bit md5 prefix and the 6th-nibble parity sign
  private val duckHashedTokens = s"""WITH tok AS (
            SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents),
          md AS (SELECT doc_id, md5(w) AS mh FROM tok),
          h AS (
            SELECT doc_id,
              CAST(${duckBucket20("mh")} % 64 AS BIGINT) AS bucket,
              CASE WHEN (instr('0123456789abcdef', substr(mh, 6, 1)) - 1) % 2 = 0
                THEN 1 ELSE -1 END AS sgn
            FROM md)"""

  // Feature hashing (the hashing trick): vocabulary folded into 64
  // fixed buckets by the 20-bit md5 token prefix, signed by 6th-nibble
  // parity so collisions cancel in expectation. The md5-nibble bucket
  // and sign are integer-exact in both engines (split_hash treatment);
  // one explode + one map-side-combinable aggregation.
  private val featureHashBow = Q(
    "feature_hash_bow",
    (s, d) => TextAnalysis.hashedBowFeatures(documents(s, d), "doc_id", "text",
      buckets = 64),
    Some(duckHashedTokens + """
          SELECT doc_id, bucket, count(*) AS n,
            CAST(sum(sgn) AS BIGINT) AS signed_sum
          FROM h GROUP BY 1, 2"""))

  // Linear quality scorer over the hashed features (the fastText-style
  // learned gate): score = sum over buckets of w[bucket]*signed_count
  // with deterministic centered INTEGER stand-in weights (Knuth mix mod
  // 1001 - 500), so the dot product is exact integer arithmetic and the
  // keep/drop boundary is engine-exact. The oracle rebuilds the hashed
  // features (the proven feature_hash_bow CTE) and applies the same
  // weight formula.
  private val qualityScoreLinear = Q(
    "quality_score_linear",
    (s, d) => TextAnalysis.linearQualityScore(documents(s, d), "doc_id", "text",
      buckets = 64),
    Some(duckHashedTokens + """,
          f AS (
            SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS signed_sum
            FROM h GROUP BY 1, 2)
          SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_active_buckets,
            CAST(sum(signed_sum * ((bucket * 2654435761) % 1001 - 500))
              AS BIGINT) AS score,
            CAST(sum(signed_sum * ((bucket * 2654435761) % 1001 - 500))
              AS BIGINT) >= 0 AS label_keep
          FROM f GROUP BY 1"""))

  // Within-document line dedup (the C4/RefinedWeb boilerplate-removal
  // pass): the newline-free corpus is decomposed into fixed-width
  // two-token "lines" on BOTH sides, first occurrence per (doc, line)
  // wins, survivors reassemble in original order. Position-keyed
  // explode + min-position aggregate + struct-sorted reassembly — all
  // integer/string ops, engine-exact.
  //
  // The ledger compares an ORDER-PINNING FINGERPRINT of the reassembled
  // text, not the text itself: Spark re-splits its own emitted
  // `text_dedup` and sums md5-prefix(line) x line-rank (any content,
  // order, or separator change alters the sum), while the oracle
  // computes the identical sum from a row_number window. Shipping the
  // raw multi-KB strings required DuckDB's ORDER BY string_agg, whose
  // ordered-aggregate path is non-spillable and OOMs at the 100x sweep
  // (13.6M lines, 48 GB cap); the window + commutative-sum shape spills
  // and finishes in seconds. Per-doc sums stay < 2^53 (h < 2^32, rank
  // bounded by lines-per-doc, which is SF-invariant).
  private val dedupLinesWithinDocQ = Q(
    "dedup_lines_within_doc",
    (s, d) => {
      // chunk pairs with ONE codegen'd regex pass (each match grabs a
      // token plus at most one following token), then normalize the
      // intra-chunk separator — equivalent to tokenize/slice/join but
      // without the per-chunk interpreted-lambda array work
      val lines = transform(
        regexp_extract_all(lower(trim(col("text"))),
          lit("\\S+(?:\\s+\\S+)?"), lit(0)),
        c => regexp_replace(c, "\\s+", " "))
      val dd = ops.Dedup.dedupLinesWithinDoc(documents(s, d), "doc_id", lines)
      val kept = split(col("text_dedup"), "\n")
      val fp = aggregate(
        zip_with(kept, sequence(lit(1L), size(kept).cast("long")),
          (l, i) => conv(substring(md5(l), 1, 8), 16, 10).cast("long") * i),
        lit(0L), (acc, x) => acc + x)
      dd.select(col("doc_id"), col("n_lines_total"), col("n_lines_kept"),
        length(col("text_dedup")).cast("long").as("text_len"),
        fp.as("line_order_fp"))
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents),
            lin AS (
              SELECT doc_id,
                unnest([{pos: (i - 1) // 2,
                         line: array_to_string(t[i:i+1], ' ')}
                        FOR i IN range(1, len(t) + 1, 2)],
                       recursive := true)
              FROM toks),
            firsts AS (
              SELECT doc_id, line, min(pos) AS pos, count(*) AS n
              FROM lin GROUP BY 1, 2),
            ranked AS (
              SELECT doc_id, line, n, length(line) AS line_len,
                row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rk
              FROM firsts)
            SELECT doc_id,
              CAST(sum(n) AS BIGINT) AS n_lines_total,
              CAST(count(*) AS BIGINT) AS n_lines_kept,
              CAST(sum(line_len) + count(*) - 1 AS BIGINT) AS text_len,
              CAST(sum(${duckHexPrefix("md5(line)", 8)} * rk) AS BIGINT)
                AS line_order_fp
            FROM ranked GROUP BY 1"""))

  // Gopher-style repetition filters: duplicate-bigram fraction and
  // top-bigram fraction, from one tight-loop expression per row; the
  // ratios are single divisions of identical integers (engine-exact, no
  // rounding — rule 4)
  private val textRepetition = Q(
    "text_repetition",
    (s, d) => TextAnalysis.repetitionStats(documents(s, d), "doc_id", "text",
      n = 2),
    Some("""WITH toks AS (
              SELECT doc_id,
                string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents),
            grams AS (
              SELECT doc_id,
                unnest([array_to_string(t[i:i+1], ' ')
                        FOR i IN range(1, len(t))]) AS g
              FROM toks WHERE len(t) >= 2),
            gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     CAST(max(c) AS BIGINT) AS top_freq
                   FROM gc GROUP BY 1)
            SELECT d.doc_id,
              coalesce(n_grams, 0) AS n_grams,
              coalesce(n_distinct, 0) AS n_distinct,
              coalesce(top_freq, 0) AS top_freq,
              CASE WHEN n_grams > 0
                THEN (n_grams - n_distinct) / CAST(n_grams AS DOUBLE)
                END AS dup_ratio,
              CASE WHEN n_grams > 0
                THEN top_freq / CAST(n_grams AS DOUBLE) END AS top_frac
            FROM documents d LEFT JOIN st USING (doc_id)"""))

  private val textTokens = Q(
    "text_tokens",
    (s, d) => TextAnalysis.tokenCounts(documents(s, d), "doc_id", "text"),
    Some("""SELECT doc_id,
              len(string_split_regex(lower(trim(text)), '\s+')) AS n_words,
              len(list_distinct(string_split_regex(lower(trim(text)), '\s+')))
                AS n_distinct_words,
              CAST(list_sum([CAST(ceil(length(w) / 4.0) AS BIGINT)
                FOR w IN string_split_regex(lower(trim(text)), '\s+')]) AS BIGINT)
                AS n_subtokens
            FROM documents"""))

  // the curation gate built on the oracled score: same formula, WHERE'd
  private val corpusQualityFilter = Q(
    "corpus_quality_filter",
    (s, d) => TextAnalysis.qualityFilter(documents(s, d), "doc_id", "text",
      minScore = 78.0, minTokens = 5),
    Some("""SELECT doc_id, n_tokens, quality_score FROM (
              SELECT doc_id,
                len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
                100.0 * (0.3 * least(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) / 100.0, 1.0)
                  + 0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
                  + 0.3 * (1.0 - least((CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)) * 10.0, 1.0)))
                  AS quality_score
              FROM documents)
            WHERE quality_score >= 78.0 AND n_tokens >= 5"""))

  private val textRedact = Q(
    "text_redact",
    (s, d) => documents(s, d).select(col("doc_id"),
      TextAnalysis.redactPii(col("text")).as("redacted"),
      (TextAnalysis.redactPii(col("text")) =!= col("text")).as("was_redacted")),
    Some("""SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                'https?://[^\s]+', '<URL>', 'g'),
                '[0-9][0-9 ()\-]{6,}[0-9]', '<NUMBER>', 'g') AS redacted,
              regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                'https?://[^\s]+', '<URL>', 'g'),
                '[0-9][0-9 ()\-]{6,}[0-9]', '<NUMBER>', 'g') <> text AS was_redacted
            FROM documents"""))

  private val corpusSample = Q(
    "corpus_sample",
    (s, d) => TextAnalysis.sampleByContent(documents(s, d), "text", "0123")
      .select(col("doc_id"), substring(md5(col("text")), 1, 1).as("bucket")),
    Some("""SELECT doc_id, substr(md5(text), 1, 1) AS bucket
            FROM documents
            WHERE substr(md5(text), 1, 1) IN ('0', '1', '2', '3')"""))

  private val textTfidf = Q(
    "text_tfidf",
    (s, d) => TextAnalysis.termRelevance(documents(s, d), "doc_id", "text"),
    Some("""WITH terms AS (
              SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
            df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
              tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n"""))

  // vocabulary induction (top-20 by freq, ties to the smaller token) +
  // per-doc OOV coverage — integer permille so the rate is engine-exact
  private val vocabCoverage = Q(
    "vocab_coverage",
    (s, d) => TextAnalysis.vocabCoverage(documents(s, d), "doc_id", "text",
      vocabSize = 20),
    Some("""WITH terms AS (
              SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents),
            vocab AS (
              SELECT w FROM (SELECT w, count(*) AS freq FROM terms GROUP BY 1)
              ORDER BY freq DESC, w LIMIT 20),
            j AS (
              SELECT t.doc_id, t.w, v.w IS NOT NULL AS iv
              FROM terms t LEFT JOIN vocab v ON t.w = v.w)
            SELECT doc_id, count(*) AS n_tokens,
              count(*) FILTER (WHERE iv) AS n_in_vocab,
              count(DISTINCT CASE WHEN NOT iv THEN w END) AS n_oov_types,
              ((count(*) - count(*) FILTER (WHERE iv)) * 1000) // count(*)
                AS oov_permille
            FROM j GROUP BY 1"""))

  // RAG-style overlapping token chunking: 64-token windows, 16-token
  // overlap (stride 48); pure per-row compute, zero shuffles
  private val chunkTokens = Q(
    "chunk_tokens",
    (s, d) => TextAnalysis.chunkTokens(documents(s, d), "doc_id", "text",
      chunkSize = 64, overlap = 16),
    Some("""WITH tok AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents),
            st AS (
              SELECT doc_id, toks,
                unnest(generate_series(1, greatest(len(toks) - 16, 1), 48))
                  AS start_token
              FROM tok)
            SELECT doc_id,
              CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_token)
                AS BIGINT) AS chunk_idx,
              CAST(start_token AS BIGINT) AS start_token,
              CAST(len(toks[start_token:start_token + 63]) AS BIGINT)
                AS n_chunk_tokens,
              array_to_string(toks[start_token:start_token + 63], ' ')
                AS chunk_text
            FROM st"""))

  private val textFingerprint = Q(
    "text_fingerprint",
    (s, d) => documents(s, d).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp")),
    Some("""SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS fp
            FROM documents"""))

  // ---------------------------------------------------------------- splits / mixing / packing
  // deterministic md5-bucket assignment — both engines compute the same
  // first-byte bucket of the text (duckBucketOf)
  private val duckBucket = duckBucketOf("text")

  // Leakage-safe splitting: assignment keyed on the near-dup cluster
  // representative's content (components over the n-gram Jaccard
  // pairs), so no cluster straddles train/val/test — plain hash_split
  // would leak near-identical eval docs into training. The oracle
  // replays the same clusters (recursive-CTE min-label) and the same
  // 2-nibble md5 bucket of the representative's text.
  private val leakageSafeSplitQ = Q(
    "leakage_safe_split",
    (s, d) => ops.Splits.leakageSafeSplit(documents(s, d), "doc_id", "text",
      ops.Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", 3, 0.1,
        maxDf = 10)),
    Some(s"""$jaccardComponentsCte
            SELECT c.node AS doc_id, c.component,
              ${duckBucketOf("r.text")} AS bucket,
              CASE
                WHEN ${duckBucketOf("r.text")} < 205 THEN 'train'
                WHEN ${duckBucketOf("r.text")} < 230 THEN 'val'
                ELSE 'test'
              END AS split
            FROM comp c JOIN documents r ON r.doc_id = c.component"""))

  private val splitHash = Q(
    "split_hash",
    (s, d) => ops.Splits.hashSplit(documents(s, d), "doc_id", "text"),
    Some(s"""SELECT doc_id, $duckBucket AS bucket,
              CASE WHEN $duckBucket < 205 THEN 'train'
                   WHEN $duckBucket < 230 THEN 'val'
                   ELSE 'test' END AS split
            FROM documents"""))

  private val mixtureWeighted = Q(
    "mixture_weighted",
    (s, d) => ops.Splits.mixtureSample(documents(s, d), "doc_id", "text",
      "source", Map("src0" -> 256, "src1" -> 128, "src2" -> 64, "src3" -> 32)),
    Some(s"""SELECT doc_id, source, $duckBucket AS bucket
            FROM documents
            WHERE $duckBucket <
              CASE source WHEN 'src0' THEN 256 WHEN 'src1' THEN 128
                          WHEN 'src2' THEN 64 WHEN 'src3' THEN 32 ELSE 0 END"""))

  private val stratifiedSample = Q(
    "stratified_sample",
    (s, d) => ops.Splits.stratifiedTopN(documents(s, d), "doc_id", "text",
      "source", nPerGroup = 40),
    Some("""SELECT doc_id, source, pick_rank FROM (
              SELECT doc_id, source,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY md5(text), doc_id) AS BIGINT) AS pick_rank
              FROM documents)
            WHERE pick_rank <= 40"""))

  private val packSequences = Q(
    "pack_sequences",
    (s, d) => ops.Splits.packSequences(documents(s, d), "doc_id", "text",
      "source", budget = 512),
    Some("""SELECT doc_id, source, n_tokens,
              pre // 512 AS bin,
              pre % 512 AS bin_offset
            FROM (
              SELECT doc_id, source,
                CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
                  AS n_tokens,
                CAST(coalesce(sum(len(string_split_regex(lower(trim(text)), '\s+')))
                  OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS pre
              FROM documents)"""))

  // length-bucketed batch formation: the padding-minimizing loader
  // companion to pack_sequences — bucket by token-length band, cut
  // batches in id order, charge padding against the batch max
  private val lengthBucketBatchesQ = Q(
    "length_bucket_batches",
    (s, d) => ops.Splits.lengthBucketBatches(documents(s, d), "doc_id", "text",
      bucketWidth = 32, batchSize = 8),
    Some("""WITH t AS (
              SELECT doc_id,
                CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                  AS BIGINT) AS n_tokens
              FROM documents),
            b AS (
              SELECT doc_id, n_tokens, n_tokens // 32 AS bucket FROM t),
            r AS (
              SELECT doc_id, n_tokens, bucket,
                (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
                  // 8 AS batch_id
              FROM b)
            SELECT doc_id, n_tokens, bucket, batch_id,
              max(n_tokens) OVER (PARTITION BY bucket, batch_id) AS batch_max,
              max(n_tokens) OVER (PARTITION BY bucket, batch_id) - n_tokens
                AS pad_waste
            FROM r"""))

  // second columnar interchange seam: the documents projection
  // round-trips through ORC (schema-preserving, splittable — the other
  // columnar format a lakehouse ingests) and must aggregate identically
  // to the parquet source
  private val orcRoundtrip = Q(
    "orc_roundtrip",
    (s, d) => {
      val base = Scratch.dir("graft_orc_")
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("text"))
      docs.coalesce(4).write.mode("overwrite").orc(s"$base/docs")
      s.read.schema(docs.schema).orc(s"$base/docs")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
    },
    Some("""SELECT source, count(*) AS n_docs,
              CAST(sum(length(text)) AS BIGINT) AS sum_chars,
              count(DISTINCT md5(text)) AS n_distinct_texts
            FROM documents GROUP BY 1"""))

  // quantile normalization of a per-document score within each source —
  // the cross-source score calibration pass (a length score from crawl A
  // is not comparable to crawl B's until both are rank-normalized).
  // percent_rank is (rank-1)/(n-1) on integer ranks: identical IEEE
  // division on identical integers, engine-exact with no rounding.
  private val qualityQuantileNorm = Q(
    "quality_quantile_norm",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("pct", percent_rank().over(w))
    },
    Some("""SELECT doc_id, source, n_chars,
              percent_rank() OVER (PARTITION BY source
                ORDER BY n_chars, doc_id) AS pct
            FROM documents"""))

  // snapshot delta: two deterministic "versions" of orders (mod-keyed
  // deletions + doubled prices as updates) diffed into added/removed/
  // changed — the week-over-week incremental-table comparison
  // one-pass data-quality gate: the engine analog of the reference's
  // pydantic validation, as declarative expectations with violation
  // counts — a single map-side-combined aggregation, never a job per
  // check
  private val dqExpectations = Q(
    "dq_expectations",
    (s, d) => ops.DataQuality.expect(lineitem(s, d), Seq(
      "qty_range" -> col("l_quantity").between(1, 50),
      "price_positive" -> (col("l_extendedprice") > 0),
      "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
      "discount_range" -> col("l_discount").between(0.0, 0.1),
      "ship_in_epoch" -> (col("l_shipdate") >= lit("1992-01-01").cast("timestamp")))),
    Some("""SELECT
              CAST(sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, false)
                  THEN 0 ELSE 1 END) AS BIGINT) AS violations_qty_range,
              CAST(sum(CASE WHEN coalesce(l_extendedprice > 0, false)
                  THEN 0 ELSE 1 END) AS BIGINT) AS violations_price_positive,
              CAST(sum(CASE WHEN coalesce(l_returnflag IN ('A', 'N', 'R'), false)
                  THEN 0 ELSE 1 END) AS BIGINT) AS violations_flag_domain,
              CAST(sum(CASE WHEN coalesce(l_discount BETWEEN 0.0 AND 0.1, false)
                  THEN 0 ELSE 1 END) AS BIGINT) AS violations_discount_range,
              CAST(sum(CASE WHEN coalesce(l_shipdate >= TIMESTAMP '1992-01-01', false)
                  THEN 0 ELSE 1 END) AS BIGINT) AS violations_ship_in_epoch,
              (sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, false)
                   THEN 0 ELSE 1 END) = 0
               AND sum(CASE WHEN coalesce(l_extendedprice > 0, false)
                   THEN 0 ELSE 1 END) = 0
               AND sum(CASE WHEN coalesce(l_returnflag IN ('A', 'N', 'R'), false)
                   THEN 0 ELSE 1 END) = 0
               AND sum(CASE WHEN coalesce(l_discount BETWEEN 0.0 AND 0.1, false)
                   THEN 0 ELSE 1 END) = 0
               AND sum(CASE WHEN coalesce(l_shipdate >= TIMESTAMP '1992-01-01', false)
                   THEN 0 ELSE 1 END) = 0) AS all_passed
            FROM lineitem"""))

  // per-column profile (count/null/distinct/min/max) from ONE pass,
  // pivoted to a row per column. Realized over integer/string columns
  // only: the type-erased min/max report casts to string, and
  // double-to-string formatting is engine-specific (Java shortest-repr
  // vs DuckDB's) — integers and strings render identically everywhere
  private val dqProfile = Q(
    "dq_profile",
    (s, d) => ops.DataQuality.profile(orders(s, d),
      Seq("o_custkey", "o_orderkey", "o_orderstatus")),
    Some("""SELECT 'o_custkey' AS column, count(*) AS n_rows,
              count(*) - count(o_custkey) AS n_null,
              count(DISTINCT o_custkey) AS n_distinct,
              CAST(min(o_custkey) AS VARCHAR) AS min_value,
              CAST(max(o_custkey) AS VARCHAR) AS max_value
            FROM orders
            UNION ALL
            SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
              count(DISTINCT o_orderkey),
              CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
              count(DISTINCT o_orderstatus),
              CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
            FROM orders"""))

  // blocked entity resolution: the block key composes nation with a
  // name-substring (digits 4-6 of the customer number) — the standard
  // multi-attribute blocking that keeps per-block fan-out bounded; a
  // nation-only block at sf0.1 is 600 members -> 4.5M levenshtein
  // calls, 15x this realization's
  private val erFuzzyPairs = Q(
    "er_fuzzy_pairs",
    (s, d) => operators.Resolve.blockedFuzzyPairs(
      customer(s, d).withColumn("block_key",
        concat_ws("|", col("c_nationkey"), substring(col("c_name"), 13, 3))),
      "c_custkey", "block_key", "c_name", 2),
    Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
              a.c_nationkey::VARCHAR || '|' || substr(a.c_name, 13, 3) AS block,
              levenshtein(a.c_name, b.c_name) AS edit_dist
            FROM customer a
            JOIN customer b ON a.c_nationkey = b.c_nationkey
              AND substr(a.c_name, 13, 3) = substr(b.c_name, 13, 3)
              AND a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 2"""))

  // the z-order interleave, oracled bit-for-bit: scaled coordinates are
  // identical IEEE ops, the interleave is pure integer shifts both sides
  private val zorderValue = Q(
    "zorder_value",
    (s, d) => lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      operators.Layout.zColumn(
        Seq((col("l_extendedprice"), 900.0, 105000.0),
            (col("l_quantity"), 1.0, 50.0)), 12).as("z")),
    Some {
      def coord(c: String, lo: Double, span: Double) =
        s"""least(greatest(CAST(floor(($c - $lo) / $span * 4095) AS BIGINT),
           CAST(0 AS BIGINT)), CAST(4095 AS BIGINT))"""
      val interleave = (0 until 12).flatMap { b =>
        Seq(s"((x >> $b) & 1) * ${BigInt(2).pow(2 * b)}",
            s"((y >> $b) & 1) * ${BigInt(2).pow(2 * b + 1)}")
      }.mkString(" + ")
      s"""WITH scaled AS (
            SELECT l_orderkey, l_linenumber,
              ${coord("l_extendedprice", 900.0, 104100.0)} AS x,
              ${coord("l_quantity", 1.0, 49.0)} AS y
            FROM lineitem)
          SELECT l_orderkey, l_linenumber, $interleave AS z FROM scaled"""
    })

  // the Hilbert index, oracled bit-for-bit like zorder_value: identical
  // IEEE coordinate scaling, then the masked xy2d quadrant walk unrolled
  // one CTE per level — every step non-negative BIGINT case-arithmetic
  private val hilbertValue = Q(
    "hilbert_value",
    (s, d) => lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      operators.Layout.hilbertColumn(
        (col("l_extendedprice"), 900.0, 105000.0),
        (col("l_quantity"), 1.0, 50.0), 12).as("h")),
    Some {
      def coord(c: String, lo: Double, span: Double) =
        s"""least(greatest(CAST(floor(($c - $lo) / $span * 4095) AS BIGINT),
           CAST(0 AS BIGINT)), CAST(4095 AS BIGINT))"""
      val rounds = (1 to 12).map { r =>
        val sv = 1L << (12 - r)        // s for this level
        val sm1 = sv - 1
        s"""h$r AS (
             SELECT l_orderkey, l_linenumber,
               d + ${sv * sv} * xor(3 * rx, ry) AS d,
               CASE WHEN ry = 0 THEN
                 CASE WHEN rx = 1 THEN $sm1 - (y & $sm1) ELSE y & $sm1 END
               ELSE x & $sm1 END AS x,
               CASE WHEN ry = 0 THEN
                 CASE WHEN rx = 1 THEN $sm1 - (x & $sm1) ELSE x & $sm1 END
               ELSE y & $sm1 END AS y
             FROM (
               SELECT *,
                 CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END AS rx,
                 CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END AS ry
               FROM h${r - 1}))"""
      }.mkString(",\n")
      s"""WITH h0 AS (
            SELECT l_orderkey, l_linenumber,
              ${coord("l_extendedprice", 900.0, 104100.0)} AS x,
              ${coord("l_quantity", 1.0, 49.0)} AS y,
              CAST(0 AS BIGINT) AS d
            FROM lineitem),
          $rounds
          SELECT l_orderkey, l_linenumber, d AS h FROM h12"""
    })

  // outlier clipping via integer-rank order statistics: the bounds are
  // actual stored values (k-th smallest), never interpolations, so the
  // row-level clipped doubles are engine-exact with zero rounding
  private val winsorizeClip = Q(
    "winsorize_clip",
    (s, d) => ops.Features.winsorize(
        lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        "l_returnflag", "l_extendedprice", 1, 99)
      .select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice_clipped", "was_clipped"),
    Some("""WITH ranked AS (
              SELECT l_returnflag, l_extendedprice,
                row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY l_extendedprice) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem),
            bounds AS (
              SELECT l_returnflag,
                min(CASE WHEN rn = greatest((n * 1 + 99) // 100, 1)
                    THEN l_extendedprice END) AS lo,
                max(CASE WHEN rn = greatest((n * 99) // 100,
                                            greatest((n * 1 + 99) // 100, 1))
                    THEN l_extendedprice END) AS hi
              FROM ranked GROUP BY 1)
            SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
              least(greatest(l.l_extendedprice, b.lo), b.hi)
                AS l_extendedprice_clipped,
              l.l_extendedprice < b.lo OR l.l_extendedprice > b.hi
                AS was_clipped
            FROM lineitem l JOIN bounds b USING (l_returnflag)"""))

  // min-max normalization: order-independent extremes + one IEEE
  // subtract/divide per row — bit-identical across engines, no rounding
  private val minmaxScale = Q(
    "minmax_scale",
    (s, d) => ops.Features.minMaxScale(
        events(s, d).select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value")
      .select("event_id", "event_type", "value_scaled"),
    Some("""WITH b AS (
              SELECT event_type, min(value) AS mn, max(value) AS mx
              FROM events GROUP BY 1)
            SELECT e.event_id, e.event_type,
              CASE WHEN b.mx = b.mn THEN NULL
                   ELSE (e.value - b.mn) / (b.mx - b.mn) END AS value_scaled
            FROM events e JOIN b USING (event_type)"""))

  // calendar densification + LOCF over sparse per-day observations.
  // max() is the daily aggregate on purpose: order-independent, so the
  // fill values are bit-identical across engines (a sum of doubles is
  // accumulation-order-dependent and would need rounding).
  private val gapfillLocf = Q(
    "gapfill_locf",
    (s, d) => {
      val obs = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(max(col("value")).as("v"))
      TimeSeries.gapFillLocf(obs, "user_id", "day", "v", "2024-01-01", "2024-01-30")
    },
    Some("""WITH obs AS (
              SELECT user_id, date_trunc('day', ts) AS day, max(value) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
            grid AS (
              SELECT k.user_id, c.day
              FROM (SELECT DISTINCT user_id FROM obs) k
              CROSS JOIN (SELECT unnest(generate_series(
                TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                INTERVAL 1 DAY)) AS day) c)
            SELECT g.user_id, g.day, o.v IS NOT NULL AS is_observed,
              last_value(o.v IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
            FROM grid g
            LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day"""))

  // SCD2 history from the raw event log: per user, runs of the same
  // event_type collapse to validity intervals. event_id is the unique
  // tie-breaker for simultaneous events on both engines.
  private val scd2History = Q(
    "scd2_history",
    (s, d) => TimeSeries.scd2(
      events(s, d).select("user_id", "ts", "event_id", "event_type"),
      "user_id", "ts", "event_id", Seq("event_type")),
    Some("""WITH ordered AS (
              SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type,
                lag(event_id) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_id
              FROM events),
            changes AS (
              SELECT user_id, event_type, ts AS valid_from, event_id
              FROM ordered
              WHERE prev_id IS NULL OR prev_type IS DISTINCT FROM event_type)
            SELECT user_id, event_type, valid_from,
              lead(valid_from) OVER (PARTITION BY user_id
                ORDER BY valid_from, event_id) AS valid_to,
              lead(valid_from) OVER (PARTITION BY user_id
                ORDER BY valid_from, event_id) IS NULL AS is_current
            FROM changes"""))

  // bloom-pruned exact semi-join: the sketch decimates the probe side
  // BEFORE any join, so the exact join's input (and at cluster scale its
  // shuffle) is proportional to matches. Result is identical to the
  // plain IN-subquery — the exact join removes bloom false positives —
  // which is precisely why it oracles.
  private val bloomSemiJoinQ = Q(
    "bloom_semi_join",
    (s, d) => operators.BloomJoin.semiJoin(
        orders(s, d), "o_custkey",
        customer(s, d).filter(col("c_acctbal") > 7000), "c_custkey",
        expectedKeys = 4096, fpp = 0.01)
      .select("o_orderkey", "o_custkey", "o_totalprice"),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_custkey IN
              (SELECT c_custkey FROM customer WHERE c_acctbal > 7000)"""))

  private val snapshotDiff = Q(
    "snapshot_diff",
    (s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      val prev = o.filter(col("o_orderkey") % 7 =!= 0)
      val cur = o.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      operators.Sinks.diffSnapshots(prev, cur, Seq("o_orderkey"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
            prev AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
            cur AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
                    FROM o WHERE o_orderkey % 5 <> 0)
            SELECT coalesce(p.o_orderkey, c.o_orderkey) AS o_orderkey,
              CASE WHEN p.o_orderkey IS NULL THEN 'added'
                   WHEN c.o_orderkey IS NULL THEN 'removed'
                   WHEN p.o_totalprice IS DISTINCT FROM c.o_totalprice
                     THEN 'changed' END AS change
            FROM prev p FULL OUTER JOIN cur c ON p.o_orderkey = c.o_orderkey
            WHERE NOT (p.o_orderkey IS NOT NULL AND c.o_orderkey IS NOT NULL
                       AND p.o_totalprice IS NOT DISTINCT FROM c.o_totalprice)"""))

  // MERGE/upsert surfaced through the oracle gate: a base snapshot
  // (keys with custkey % 3 != 0) parked on scratch, then a batch of
  // modified rows (custkey % 2 == 0, acctbal bumped) merged in via
  // Sinks.mergeUpsert's staged-swap rewrite — matched keys take the
  // batch row, unmatched stored rows survive, new keys append. The
  // read-back is what the oracle checks, so the whole write-merge-read
  // round trip must be exact, not just the plan.
  private val mergeUpsertQ = Q(
    "merge_upsert",
    (s, d) => {
      val dir = Scratch.dir("graft_merge_")
      val path = s"$dir/customers"
      customer(s, d).filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .write.parquet(path)
      val batch = customer(s, d).filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + lit(100.0)).as("c_acctbal"))
      operators.Sinks.mergeUpsert(batch, path, Seq("c_custkey"))
      s.read.parquet(path)
    },
    Some("""WITH base AS (
              SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE c_custkey % 3 <> 0),
            batch AS (
              SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
              FROM customer WHERE c_custkey % 2 = 0)
            SELECT * FROM batch
            UNION ALL
            SELECT * FROM base b WHERE NOT EXISTS (
              SELECT 1 FROM batch x WHERE x.c_custkey = b.c_custkey)"""))

  // co-located join: both sides bucketed by the join key at write time
  // (Sinks.writeBucketedAt), so the equi-join itself needs NO exchange —
  // the pre-partition-once, join-many-times pattern for a 100 TB fact
  // table. Correctness oracle is the plain join over the source tables
  // (the bucketed round trip must preserve every row); the shuffle-free
  // join plan is asserted in ScaleSpec's writeBucketedAt test.
  private val bucketedJoinColocated = Q(
    "bucketed_join_colocated",
    (s, d) => {
      val dir = Scratch.dir("graft_bktjoin_")
      operators.Sinks.writeBucketedAt(
        orders(s, d).select(col("o_custkey"), col("o_totalprice")),
        "graft_bkt_orders", "o_custkey", 8, s"$dir/orders")
      operators.Sinks.writeBucketedAt(
        customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "graft_bkt_customer", "c_custkey", 8, s"$dir/customer")
      // revenue in exact integer cents (half-up), the ledger-wide
      // convention: a double SUM over millions of rows is accumulation-
      // order-dependent in its last digit, so no rounding makes it
      // engine-exact; the BIGINT sum is
      s.table("graft_bkt_orders")
        .join(s.table("graft_bkt_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("revenue_cents"),
          count(lit(1)).as("n_orders"))
    },
    Some("""SELECT c_mktsegment,
              CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS revenue_cents,
              count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1"""))

  // partition-pruned scan surfaced through the gate: the events
  // projection lands hive-partitioned by event_type (Sinks
  // .writePartitioned), and the read-back filter must prune to one
  // directory at PLANNING time (PartitionFilters — asserted in
  // LayoutSpec); the oracle checks the aggregate over the round trip
  private val partitionPrunedScan = Q(
    "partition_pruned_scan",
    (s, d) => {
      val dir = Scratch.dir("graft_part_")
      val ev = events(s, d).select(col("event_id"), col("event_type"), col("value"))
      operators.Sinks.writePartitioned(ev, s"$dir/events", "event_type")
      s.read.parquet(s"$dir/events")
        .filter(col("event_type") === "click")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
    },
    Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS value_cents
            FROM events WHERE event_type = 'click' GROUP BY 1"""))

  // Versioned-table time travel driven end to end: commit v1 (click
  // events only), commit v2 (all events), then aggregate the PINNED v1
  // next to latest in one result — v1 must stay byte-stable after v2's
  // commit (immutable version dirs + pointer swap, Sinks.commitVersion).
  // The oracle recomputes both snapshots from the raw table by
  // predicate; a commit that mutated v1, or a pointer read that missed
  // v2, breaks the hash.
  private val tableTimeTravel = Q(
    "table_time_travel",
    (s, d) => {
      val dir = Scratch.dir("graft_ttt_") + "/events"
      val ev = events(s, d).select(col("event_id"), col("event_type"),
        col("value"))
      operators.Sinks.commitVersion(ev.filter(col("event_type") === "click"), dir)
      operators.Sinks.commitVersion(ev, dir)
      val agg = (df: org.apache.spark.sql.DataFrame) =>
        df.agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      agg(operators.Sinks.readVersion(s, dir, Some(1)))
        .select(col("n").as("n_v1"), col("cents").as("cents_v1"))
        .crossJoin(agg(operators.Sinks.readVersion(s, dir))
          .select(col("n").as("n_latest"), col("cents").as("cents_latest")))
    },
    Some("""WITH v1 AS (
              SELECT count(*) AS n_v1,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS cents_v1
              FROM events WHERE event_type = 'click'),
            latest AS (
              SELECT count(*) AS n_latest,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS cents_latest
              FROM events)
            SELECT * FROM v1 CROSS JOIN latest"""))

  // Zone-map file skipping driven end to end: events range-sorted by ts
  // into 16 files, a min/max manifest built per file (Layout.writeZoneMap
  // — the Delta/Iceberg data-skipping idea on plain parquet), and a
  // 3-day probe answered by reading ONLY the overlapping files (the
  // manifest collect is file-count-scale metadata). The oracle computes
  // the same aggregate from the raw table — any file the pruning wrongly
  // skips breaks the hash. Bounds derive from min(ts) so the query is
  // corpus-relative, not calendar-pinned.
  private val zonemapPrunedScan = Q(
    "zonemap_pruned_scan",
    (s, d) => {
      val dir = Scratch.dir("graft_zm_") + "/events"
      val ev = events(s, d).select(col("event_id"), col("ts"), col("value"))
      ev.repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(dir)
      operators.Layout.writeZoneMap(s, dir, Seq("ts"))
      val t0 = ev.agg(unix_micros(min(col("ts"))).as("t0")).head().getLong(0)
      val lo = timestamp_micros(lit(t0 + 5L * 86400L * 1000000L))
      val hi = timestamp_micros(lit(t0 + 8L * 86400L * 1000000L))
      operators.Layout.readZoneMapped(s, dir, "ts", lo, hi)
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"),
          countDistinct(col("event_id")).as("n_distinct"))
    },
    Some("""WITH t0 AS (SELECT min(ts) AS t0 FROM events)
            SELECT count(*) AS n_events,
              CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS value_cents,
              count(DISTINCT event_id) AS n_distinct
            FROM events, t0
            WHERE ts >= t0 + INTERVAL 5 DAY AND ts <= t0 + INTERVAL 8 DAY"""))

  // partition-scoped MERGE: the 100 TB merge shape — the batch touches
  // one partition ('click'), only that directory is read and
  // dynamically overwritten (matched keys take the batch row, unmatched
  // survive, new keys append); untouched partitions are never rewritten.
  // The read-back aggregate over ALL partitions is what the oracle
  // checks, so both the merge arithmetic and the untouched-partition
  // preservation are inside the hash.
  private val mergeUpsertPartitionedQ = Q(
    "merge_upsert_partitioned",
    (s, d) => {
      val dir = Scratch.dir("graft_pmerge_")
      val path = s"$dir/events"
      val ev = events(s, d).select(col("event_id"), col("event_type"), col("value"))
      ev.filter(col("event_id") % 3 =!= 0)
        .write.partitionBy("event_type").parquet(path)
      val batch = ev
        .filter(col("event_type") === "click" && col("event_id") % 2 === 0)
        .withColumn("value", col("value") + 100.0)
      operators.Sinks.mergeUpsertPartitioned(batch, path, Seq("event_id"),
        "event_type", strict = true)
      s.read.parquet(path).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
    },
    Some("""WITH ev AS (SELECT event_id, event_type, value FROM events),
            base AS (SELECT * FROM ev WHERE event_id % 3 <> 0),
            batch AS (
              SELECT event_id, event_type, value + 100.0 AS value
              FROM ev WHERE event_type = 'click' AND event_id % 2 = 0),
            merged AS (
              SELECT * FROM batch
              UNION ALL
              SELECT * FROM base b WHERE NOT EXISTS (
                SELECT 1 FROM batch x WHERE x.event_id = b.event_id))
            SELECT event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS value_cents
            FROM merged GROUP BY 1"""))

  // small-file compaction driven end to end: orders lands as 64 tiny
  // files (the incremental-append accretion shape), Sinks.compact
  // rewrites it through the staged swap, and the read-back integer
  // aggregates must be untouched — data integrity of the rewrite is
  // inside the hash (file-count/staging behavior stays in
  // SinksFormatsSpec, where it is deterministic)
  private val compactRoundtrip = Q(
    "compact_roundtrip",
    (s, d) => {
      val dir = Scratch.dir("graft_compact_")
      val path = s"$dir/orders"
      orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .repartition(64).write.parquet(path)
      operators.Sinks.compact(s, path, targetFileBytes = 64L * 1024 * 1024)
      s.read.parquet(path).agg(
        count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("price_cents"))
    },
    Some("""SELECT count(*) AS n,
              CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
              CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS price_cents
            FROM orders"""))

  // crawl-frontier politeness scheduling over the synthetic URL corpus:
  // Spark PARSES the host out of the assembled URL (Urls.host regexp);
  // the oracle states the host in closed form — independent derivations,
  // the url_normalize pattern. Waves/offsets are pure integers.
  private val crawlFrontier = Q(
    "crawl_frontier",
    (s, d) => {
      val id = col("doc_id")
      val url = concat(lit("https://www.site"), (id % 7).cast("string"),
        lit(".example.com/path/"), id.cast("string"))
      ops.Urls.frontierSchedule(
        documents(s, d).select(id, url.as("url"), col("n_chars")),
        "doc_id", "url", "n_chars", delaySeconds = 5)
    },
    Some("""SELECT doc_id,
              'www.site' || (doc_id % 7) || '.example.com' AS host,
              n_chars,
              CAST(row_number() OVER (PARTITION BY doc_id % 7
                ORDER BY n_chars DESC, doc_id) AS INTEGER) AS wave,
              (CAST(row_number() OVER (PARTITION BY doc_id % 7
                ORDER BY n_chars DESC, doc_id) AS INTEGER) - 1) * 5
                AS fetch_offset_s
            FROM documents"""))

  // per-dimension embedding profile — the normalization-bounds pass of a
  // feature-scaling stage; order-independent aggregates only (FP rule)
  private val embeddingDimStats = Q(
    "embedding_dim_stats",
    (s, d) => ops.Similarity.dimStats(embeddings(s, d), "embedding"),
    Some("""SELECT i AS dim, count(*) AS n,
              CAST(count(CASE WHEN v > 0 THEN 1 END) AS BIGINT) AS n_pos,
              min(v) AS vmin, max(v) AS vmax
            FROM (SELECT unnest(embedding) AS v,
                         unnest(range(1, len(embedding) + 1)) AS i
                  FROM embeddings)
            GROUP BY 1"""))

  // benchmark decontamination: src0 plays the held-out benchmark, the
  // rest the training corpus; flags = distinct shared 4-grams per doc
  private val decontaminate = Q(
    "decontaminate",
    (s, d) => {
      val docs = documents(s, d)
      TextAnalysis.contaminationFlags(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 4)
    },
    Some("""WITH toks AS (
              SELECT doc_id, source,
                string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents),
            grams AS (
              SELECT doc_id, source,
                unnest(CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
                       ELSE list_distinct([array_to_string(t[i:i+3], ' ')
                                           FOR i IN range(1, len(t) - 2)]) END)
                  AS gram
              FROM toks),
            bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0')
            SELECT doc_id, count(*) AS n_hits
            FROM grams JOIN bench USING (gram)
            WHERE grams.source <> 'src0'
            GROUP BY doc_id"""))

  // per-source token quota in deterministic content-hash order; all-
  // integer running totals, so the admission cut is engine-exact
  private val tokenBudgetCap = Q(
    "token_budget_cap",
    (s, d) => ops.Splits.tokenBudgetCap(documents(s, d), "doc_id", "text",
      "source", budget = 800L),
    Some("""SELECT doc_id, source, n_tokens, pre FROM (
              SELECT doc_id, source, n_tokens,
                CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
                  ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS pre
              FROM (
                SELECT doc_id, source, md5(text) AS h,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS BIGINT) AS n_tokens
                FROM documents))
            WHERE pre < 800"""))

  // time-RANGE window frame (value-based, not row-count-based): 30-day
  // trailing spend per customer. The frame is defined on the order-date
  // VALUE, so ties are peers and the result is deterministic under any
  // partitioning; the 2-decimal true sum rounds identically on both
  // engines (order-dependent-aggregate rule)
  private val rollingRangeWindow = Q(
    "rolling_range_window",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        // NTZ -> LTZ is identity under the UTC session tz; NTZ has no
        // direct long cast
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400L, 0L)
      orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(w), 2).as("trailing_spend"),
        count(lit(1)).over(w).as("trailing_n"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderdate,
              round(sum(o_totalprice) OVER w, 2) AS trailing_spend,
              count(*) OVER w AS trailing_n
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
              RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)"""))

  // ---------------------------------------------------------------- multimodal (real codecs)
  // the synthetic-media generator's closed form in DuckDB, shared by the
  // four media oracles: ids, image sizes img0 with their red/green
  // gradient column sums imgx/imgy, and video frame counts vid0
  private val duckMediaGen = """WITH ids AS (
              SELECT CAST(i AS BIGINT) AS media_id FROM range(0, 200) t(i)),
            img0 AS (
              SELECT media_id, 16 + media_id % 32 AS w, 16 + media_id % 24 AS h
              FROM ids WHERE media_id % 3 = 0),
            imgx AS (
              SELECT media_id, SUM((x * 255) // w) AS sx
              FROM img0, unnest(range(0, w)) AS tx(x) GROUP BY media_id),
            imgy AS (
              SELECT media_id, SUM((y * 255) // h) AS sy
              FROM img0, unnest(range(0, h)) AS ty(y) GROUP BY media_id),
            vid0 AS (
              SELECT media_id, 4 + media_id % 6 AS nf
              FROM ids WHERE media_id % 3 = 2)"""

  // Feature correctness, oracled: the scaled-integer twin of the float
  // feature path. Each value is computed from the DECODED payload in
  // 64-bit integer space (micro-unit channel means via truncating
  // division, milli-weight luma 299r+587g+114b, exact variance numerator
  // nf*suml2 - suml^2, fmt-chunk transport fields), while the oracle
  // rebuilds the same integers from the generator's closed form. Columns
  // stay clear of the seeded-random payload components (image B channel,
  // audio noise), which the codec round-trip specs cover instead.
  private val multimodalFeatures = Q(
    "multimodal_features",
    (s, d) => Multimodal.featureStats(Multimodal.syntheticMedia(s, 200)).toDF(),
    Some(duckMediaGen + """,
            img AS (
              SELECT i.media_id, 'image' AS kind,
                CAST(3 + length(CAST(w AS VARCHAR)) + 1
                   + length(CAST(h AS VARCHAR)) + 1 + 4 + w * h * 3 AS BIGINT)
                  AS n_bytes,
                CAST((1000000 * h * x.sx) // (w * h) AS BIGINT) AS img_r_micromean,
                CAST((1000000 * w * y.sy) // (w * h) AS BIGINT) AS img_g_micromean,
                CAST((1000000 * w) // h AS BIGINT) AS img_aspect_micro,
                CAST(w * h AS BIGINT) AS img_n_px
              FROM img0 i JOIN imgx x USING (media_id) JOIN imgy y USING (media_id)),
            aud AS (
              SELECT media_id, 'audio' AS kind,
                CAST(44 + 2 * (256 + media_id % 128) AS BIGINT) AS n_bytes,
                CAST((1000000 * (256 + media_id % 128)) // 16000 AS BIGINT)
                  AS aud_duration_micros,
                CAST(32000 AS BIGINT) AS aud_byte_rate,
                CAST(2 AS BIGINT) AS aud_block_align
              FROM ids WHERE media_id % 3 = 1),
            vidf AS (
              SELECT media_id, f,
                SUM(299 * ((((x + f) % 8) * 255) // 8)
                  + 587 * ((y * 255) // 6)
                  + 114 * ((f * 40) % 256)) AS l
              FROM vid0, unnest(range(0, nf)) AS tf(f),
                unnest(range(0, 8)) AS tx(x), unnest(range(0, 6)) AS ty(y)
              GROUP BY media_id, f),
            vidagg AS (
              SELECT v.media_id, v.nf,
                CAST(SUM(l) AS BIGINT) AS s1,
                CAST(SUM(l * l) AS BIGINT) AS s2,
                CAST(SUM(CASE WHEN f = 0 THEN l ELSE 0 END) AS BIGINT) AS lfirst,
                CAST(SUM(CASE WHEN f = v.nf - 1 THEN l ELSE 0 END) AS BIGINT) AS llast
              FROM vid0 v JOIN vidf USING (media_id) GROUP BY v.media_id, v.nf),
            vid AS (
              SELECT media_id, 'video' AS kind,
                CAST(8 + nf * 159 AS BIGINT) AS n_bytes,
                CAST(nf AS BIGINT) AS vid_n_frames,
                s1 AS vid_luma_milli_sum,
                lfirst AS vid_luma_milli_first, llast AS vid_luma_milli_last,
                CAST(nf * s2 - s1 * s1 AS BIGINT) AS vid_luma_var_num
              FROM vidagg)
            SELECT media_id, kind, n_bytes,
              img_r_micromean, img_g_micromean, img_aspect_micro, img_n_px,
              CAST(NULL AS BIGINT) AS aud_duration_micros,
              CAST(NULL AS BIGINT) AS aud_byte_rate,
              CAST(NULL AS BIGINT) AS aud_block_align,
              CAST(NULL AS BIGINT) AS vid_n_frames,
              CAST(NULL AS BIGINT) AS vid_luma_milli_sum,
              CAST(NULL AS BIGINT) AS vid_luma_milli_first,
              CAST(NULL AS BIGINT) AS vid_luma_milli_last,
              CAST(NULL AS BIGINT) AS vid_luma_var_num
            FROM img
            UNION ALL
            SELECT media_id, kind, n_bytes, NULL, NULL, NULL, NULL,
              aud_duration_micros, aud_byte_rate, aud_block_align,
              NULL, NULL, NULL, NULL, NULL
            FROM aud
            UNION ALL
            SELECT media_id, kind, n_bytes, NULL, NULL, NULL, NULL,
              NULL, NULL, NULL,
              vid_n_frames, vid_luma_milli_sum, vid_luma_milli_first,
              vid_luma_milli_last, vid_luma_var_num
            FROM vid"""))

  // Decode correctness, oracled: every emitted value is read out of the
  // DECODED payload by the real codecs (PPM header+pixels, WAV fmt/data
  // walk, GVID frames), while the oracle rebuilds the same integers from
  // the generator's closed-form math — gradient channels are integer
  // expressions (x*255//w etc., byte-wrapped f*40 for video B), header
  // lengths are arithmetic, WAV sample counts are 256+id%128. Random
  // bytes (image B channel, audio samples) never reach these columns, so
  // the comparison is exact; a codec mis-parse (wrong header skip, wrong
  // chunk walk, frame offset drift) breaks the hash. The float feature
  // path stays rows-only above — the codec-only residue.
  private val multimodalDecodeStats = Q(
    "multimodal_decode_stats",
    (s, d) => Multimodal.decodeStats(Multimodal.syntheticMedia(s, 200)).toDF(),
    Some(duckMediaGen + """,
            img AS (
              SELECT i.media_id, 'image' AS kind,
                CAST(3 + length(CAST(w AS VARCHAR)) + 1
                   + length(CAST(h AS VARCHAR)) + 1 + 4 + w * h * 3 AS BIGINT)
                  AS n_bytes,
                CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
                CAST(h * x.sx AS BIGINT) AS px_r_sum,
                CAST(w * y.sy AS BIGINT) AS px_g_sum
              FROM img0 i JOIN imgx x USING (media_id) JOIN imgy y USING (media_id)),
            aud AS (
              SELECT media_id, 'audio' AS kind,
                CAST(44 + 2 * (256 + media_id % 128) AS BIGINT) AS n_bytes,
                CAST(256 + media_id % 128 AS BIGINT) AS n_samples,
                CAST(16000 AS BIGINT) AS sample_rate
              FROM ids WHERE media_id % 3 = 1),
            vidsum AS (
              SELECT media_id,
                SUM(((x + f) % 8) * 255 // 8 + (y * 255) // 6 + (f * 40) % 256)
                  AS s
              FROM vid0, unnest(range(0, nf)) AS tf(f),
                unnest(range(0, 8)) AS tx(x), unnest(range(0, 6)) AS ty(y)
              GROUP BY media_id),
            vid AS (
              SELECT v.media_id, 'video' AS kind,
                CAST(8 + nf * 159 AS BIGINT) AS n_bytes,
                CAST(nf AS BIGINT) AS n_frames,
                CAST(8 AS BIGINT) AS frame_w, CAST(6 AS BIGINT) AS frame_h,
                CAST(s.s AS BIGINT) AS vid_rgb_sum
              FROM vid0 v JOIN vidsum s USING (media_id))
            SELECT media_id, kind, n_bytes, img_w, img_h, px_r_sum, px_g_sum,
              CAST(NULL AS BIGINT) AS n_samples, CAST(NULL AS BIGINT) AS sample_rate,
              CAST(NULL AS BIGINT) AS n_frames, CAST(NULL AS BIGINT) AS frame_w,
              CAST(NULL AS BIGINT) AS frame_h, CAST(NULL AS BIGINT) AS vid_rgb_sum
            FROM img
            UNION ALL
            SELECT media_id, kind, n_bytes, NULL, NULL, NULL, NULL,
              n_samples, sample_rate, NULL, NULL, NULL, NULL
            FROM aud
            UNION ALL
            SELECT media_id, kind, n_bytes, NULL, NULL, NULL, NULL, NULL, NULL,
              n_frames, frame_w, frame_h, vid_rgb_sum
            FROM vid"""))

  // ---------------------------------------------------------------- retrieval
  // BM25 top-k in exact integer-rational form (k1=6/5, b=3/4 cross-
  // multiplied into one BIGINT fraction; log-free Robertson idf): query
  // terms span the df spectrum (dup is rare, vector/merge near-stopword)
  private val bm25Topk = Q(
    "bm25_topk",
    (s, d) => TextAnalysis.bm25TopK(documents(s, d), "doc_id", "text",
      Seq("dup", "vector", "merge"), k = 20),
    Some(bm25OracleSql))

  // the persisted-index BM25 path as a driver query: one tokenize pass
  // builds the term-clustered posting store (dl derived from postings —
  // the text is never re-read), then the query serves from postings
  // through the same scoring tail, so the shared oracle hash-checks
  // that the store round-trip loses nothing. The store dir is memoized
  // per corpus dir WITHIN this JVM (never across processes — a fresh
  // run always re-ingests, so regenerated testdata can't serve stale
  // postings) and the ingest is batch-marked, so Bench's best-of-2
  // measures what the operator is FOR: the serve path. Ingest cost is
  // not hidden — it IS the bm25_topk number (same tokenize pass).
  private val bm25IdxDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val bm25TopkIndexed = Q(
    "bm25_topk_indexed",
    (s, d) => {
      // the INGEST runs inside computeIfAbsent: ConcurrentHashMap runs
      // the mapping function exactly once per corpus dir and blocks
      // concurrent callers until it returns, so two simultaneous
      // invocations can never race appendDedup's anti-join into
      // double-written postings. A failed ingest installs nothing, so
      // the next call rebuilds; later calls serve the completed store.
      val dir = bm25IdxDirs.computeIfAbsent(d, _ => {
        val idx = Scratch.dir("graft_bm25idx_") + "/index"
        TextAnalysis.buildBm25Index(documents(s, d), "doc_id", "text", idx,
          batchId = Some("full"))
        idx
      })
      TextAnalysis.bm25TopKIndexed(s, dir, Seq("dup", "vector", "merge"), k = 20)
    },
    Some(bm25OracleSql))

  /** Shared by bm25_topk and bm25_topk_indexed (identical scoring tail,
    * identical query terms — only tokenize-on-query vs serve-from-
    * postings differs). */
  private lazy val bm25OracleSql: String =
    """WITH toks AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            corpus AS (SELECT count(*) AS n_docs, sum(dl) AS t_tokens FROM dl),
            qtf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term IN ('dup', 'vector', 'merge') GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM qtf GROUP BY 1),
            sc AS (
              SELECT q.doc_id,
                (((n_docs - df.df) * 1000 // (df.df + 1))
                   * 22 * q.tf * t_tokens)
                  // (10 * q.tf * t_tokens + 3 * t_tokens + 9 * dl.dl * n_docs)
                  AS ts
              FROM qtf q JOIN df USING (term) JOIN dl USING (doc_id)
              CROSS JOIN corpus)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched_terms,
              CAST(sum(ts) AS BIGINT) AS score_milli
            FROM sc GROUP BY 1
            ORDER BY score_milli DESC, doc_id LIMIT 20"""

  // inverted-index layout pass: per-term df/cf + bounded posting-list
  // head (comma-joined, doc-id-sorted)
  private val invertedIndexQ = Q(
    "inverted_index",
    (s, d) => TextAnalysis.invertedIndex(documents(s, d), "doc_id", "text",
      headLen = 20),
    Some("""WITH toks AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents),
            tf AS (
              SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2)
            SELECT term, CAST(count(*) AS BIGINT) AS df,
              CAST(sum(tf) AS BIGINT) AS cf,
              array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',')
                AS postings_head
            FROM tf GROUP BY 1"""))

  // CCNet-style head/middle/tail perplexity terciles per source, with an
  // integer unigram-surprisal stand-in for the KenLM score
  private val ccnetPplBucket = Q(
    "ccnet_ppl_bucket",
    (s, d) => TextAnalysis.ccnetPplBuckets(documents(s, d), "doc_id", "text",
      "source"),
    Some("""WITH toks AS (
              SELECT doc_id, source,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents),
            uni AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
            tot AS (SELECT sum(cnt) AS t_tokens FROM uni),
            cost AS (
              SELECT doc_id, source, (t_tokens * 1000) // cnt AS s
              FROM toks JOIN uni USING (term) CROSS JOIN tot),
            pd AS (
              SELECT doc_id, source, count(*) AS n_tokens,
                sum(s) AS total_cost
              FROM cost GROUP BY 1, 2),
            p2 AS (
              SELECT doc_id, source, n_tokens,
                total_cost // n_tokens AS ppl_milli,
                ntile(3) OVER (PARTITION BY source
                               ORDER BY total_cost // n_tokens, doc_id) AS t3
              FROM pd)
            SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(ppl_milli AS BIGINT) AS ppl_milli,
              CAST(t3 AS BIGINT) AS tercile,
              CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
            FROM p2"""))

  // UT1-style domain blocklist over synthesized hosts: suffix-explode +
  // broadcast dim join; odd ids land on .net (parent-domain match),
  // even ids block only on the specific siteN subdomain rules
  private val urlBlocklist = Q(
    "url_blocklist",
    (s, d) => {
      import s.implicits._
      val id = col("doc_id")
      val url = concat(
        lit("https://www.site"), (id % 7).cast("string"), lit(".example."),
        when(id % 2 === 0, "com").otherwise("net"),
        lit("/p/"), id.cast("string"))
      val rules = Seq("site3.example.com", "site5.example.com", "example.net")
        .toDF("domain")
      ops.Urls.blocklistFilter(
        documents(s, d).select(id, url.as("url")), "doc_id", "url", rules)
    },
    Some("""SELECT doc_id,
              'www.site' || (doc_id % 7) || '.example.' ||
                CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'net' END AS host,
              (doc_id % 2 = 1) OR (doc_id % 7 IN (3, 5)) AS blocked,
              CASE WHEN doc_id % 2 = 1 THEN 'example.net'
                   WHEN doc_id % 7 IN (3, 5)
                     THEN 'site' || (doc_id % 7) || '.example.com'
              END AS matched_rule
            FROM documents"""))

  // CDC changelog apply: orders as an I/U/D event log keyed by customer
  // (o_orderkey the monotone sequence), last writer wins, last-op DELETE
  // erases the key — the merge-on-read read path
  private val cdcApply = Q(
    "cdc_apply",
    (s, d) => ops.TimeSeries.applyChangelog(
      orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        when(col("o_orderkey") % 19 === 0, "D").otherwise("U").as("op"),
        col("o_totalprice")),
      "o_custkey", "o_orderkey", "op", Seq("o_totalprice")),
    Some("""WITH log AS (
              SELECT o_custkey, o_orderkey,
                CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END AS op,
                o_totalprice
              FROM orders),
            r AS (
              SELECT o_custkey, o_orderkey, op, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderkey DESC) AS rn
              FROM log)
            SELECT o_custkey, o_totalprice,
              CAST(o_orderkey AS BIGINT) AS last_seq
            FROM r WHERE rn = 1 AND op <> 'D'"""))

  // prefix-filtered EXACT set-similarity join (AllPairs/PPJoin): the
  // oracle computes the same answer from the raw definition — the prefix
  // filter is a lossless prune, so no oracle-side mirroring is needed
  private val setsimPrefixJoin = Q(
    "setsim_prefix_join",
    (s, d) => Dedup.prefixFilteredJaccardPairs(documents(s, d), "doc_id",
      "text", 3, 0.5),
    Some(s"""WITH $duckShingles,
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY 1),
            inter AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
              FROM sh0 x JOIN sh0 y
                ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
              CAST(sa.n_sh + sb.n_sh - n_inter AS BIGINT) AS n_union,
              n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter >= 0.5 * (sa.n_sh + sb.n_sh - n_inter)"""))

  // margin-based bitext mining in quantized-integer space: even vec_ids
  // act as the source language, odd as the target; k=4 neighborhoods;
  // the oracle replays quantization, BIGINT dots (exact in double below
  // 2^53), the two rank<=k mass windows, and the integer margin.
  // Both frames are capped BY CONSTRUCTION (deterministic lowest-id
  // top-2000 per side — orderBy+limit plans as TakeOrderedAndProject,
  // a scale-safe top-k): marginMine is the documented-exact all-pairs
  // twin, so its pair table must be gate-SF-bounded structurally
  // (2000x2000 = 4M pairs at ANY corpus size) rather than by a sweep
  // skip list — the GlobalLimit on each side is the PlanBoundedness
  // witness both hygiene gates verify, with no allowlist entry. The
  // uncapped scale path is margin_mine_ann (IVF candidates, no
  // all-pairs stage anywhere).
  private val marginMineBitext = Q(
    "margin_mine_bitext",
    (s, d) => {
      val emb = embeddings(s, d)
      def pool(parity: Int) = emb.filter(col("vec_id") % 2 === parity)
        .orderBy("vec_id").limit(2000)
      Similarity.marginMine(pool(0), pool(1), "vec_id", "embedding", k = 4)
    },
    Some("""WITH s0 AS (SELECT vec_id, embedding FROM embeddings
                        WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 2000),
            t0 AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT 2000),
            s AS (SELECT vec_id AS src_id,
                [CAST(floor(CAST(e AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                 FOR e IN embedding] AS vq
              FROM s0),
            t AS (SELECT vec_id AS tgt_id,
                [CAST(floor(CAST(e AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                 FOR e IN embedding] AS vq
              FROM t0),
            d AS (
              SELECT src_id, tgt_id,
                CAST(list_dot_product(s.vq::DOUBLE[], t.vq::DOUBLE[])
                  AS BIGINT) AS dot_q
              FROM s, t),
            r AS (
              SELECT src_id, tgt_id, dot_q,
                row_number() OVER (PARTITION BY src_id
                  ORDER BY dot_q DESC, tgt_id) AS rs,
                row_number() OVER (PARTITION BY tgt_id
                  ORDER BY dot_q DESC, src_id) AS rt
              FROM d),
            sm AS (SELECT src_id, CAST(sum(dot_q) AS BIGINT) AS src_mass
                   FROM r WHERE rs <= 4 GROUP BY 1),
            tm AS (SELECT tgt_id, CAST(sum(dot_q) AS BIGINT) AS tgt_mass
                   FROM r WHERE rt <= 4 GROUP BY 1),
            m AS (
              SELECT d.src_id, d.tgt_id, d.dot_q,
                8 * d.dot_q - sm.src_mass - tm.tgt_mass AS margin_q,
                row_number() OVER (PARTITION BY d.src_id
                  ORDER BY 8 * d.dot_q - sm.src_mass - tm.tgt_mass DESC,
                           d.tgt_id) AS rk
              FROM d JOIN sm USING (src_id) JOIN tm USING (tgt_id))
            SELECT src_id, tgt_id, dot_q, CAST(margin_q AS BIGINT) AS margin_q
            FROM m WHERE rk = 1 AND margin_q > 0"""))

  // candidate-bounded margin mining: same even/odd bitext split and
  // k=4 margin criterion, but the pair table comes from IVF candidate
  // lists (shared integer-Lloyd codebook over the union corpus, 1 cell
  // per target, 3 probe cells per source) — no all-pairs stage. The
  // oracle replays the Lloyd training (shared prefix), the cell join,
  // then the identical mass/margin windows over the candidate table.
  // kCells is FIXED at 8 here because the static replay SQL must train
  // the same codebook — so, exactly like margin_mine_bitext, the pools
  // are CAPPED by construction (deterministic lowest-2000 per side,
  // the GlobalLimit is the PlanBoundedness witness): at fixed kCells an
  // uncapped candidate table is |S|·|T|/kCells — quadratic as both
  // sides grow (the r15 100x probe measured exactly that blow-up), so
  // the fixed-codebook replay form is only a contract on a KNOWN
  // corpus frame. Candidate volume is ≤ 2000·3·(2000/8) = 1.5M pairs
  // at ANY corpus size. The uncapped scale path is
  // margin_mine_ann_auto (kCells = 0 ⇒ derived √n point, verified at
  // 100x — see marginMineAnn's scale note + MiningSpec).
  private val marginMineAnnQ = Q(
    "margin_mine_ann",
    (s, d) => {
      val emb = embeddings(s, d)
      def pool(parity: Int) = emb.filter(col("vec_id") % 2 === parity)
        .orderBy("vec_id").limit(2000)
      Similarity.marginMineAnn(pool(0), pool(1), "vec_id", "embedding",
        k = 4, kCells = 8, nProbe = 3)
    },
    Some(marginMineAnnOracleSql))

  // the auto-sized scale path, oracled: kCells = 0 lets marginMineAnn
  // derive the √n operating point from the corpus (the contract every
  // non-replay caller should use — see the 100x probe note above), the
  // oracle derives the SAME count inside its Lloyd LIMIT, and the
  // artifact records it as a k_cells column so the operating point is
  // part of the verified result, not a side note
  private val marginMineAnnAutoQ = Q(
    "margin_mine_ann_auto",
    (s, d) => {
      val emb = embeddings(s, d)
      val kc = math.min(4096L, math.max(4L,
        math.sqrt(emb.count().toDouble).toLong / 2)).toInt
      Similarity.marginMineAnn(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        k = 4, kCells = 0, nProbe = 3)
        .withColumn("k_cells", lit(kc))
    },
    Some(marginMineAnnAutoOracleSql))

  /** Generated Lloyd-replay SQL for margin_mine_ann: the shared
    * training prefix (union corpus = all embeddings), target cells from
    * the final assignment `af`, each even-id source's 3 nearest cells,
    * the cell-join candidate table with exact BIGINT dots, then the
    * margin_mine_bitext mass/margin tail confined to those candidates. */
  private lazy val marginMineAnnOracleSql: String =
    marginMineAnnOracle(kCells = "8", extraCols = "",
      // the capped union frame mirroring the registration's two
      // lowest-2000-per-parity pools — the Lloyd codebook trains over
      // exactly this bounded corpus on both engines
      corpus = """(SELECT vec_id, embedding FROM
                     (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 2000)
                   UNION ALL
                   SELECT vec_id, embedding FROM
                     (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT 2000)) corpus""")

  /** The auto-sized twin: the LIMIT inside the Lloyd prefix derives the
    * SAME √n operating point the Spark side computes
    * (min(4096, max(4, ⌊√n⌋ / 2)) over the union corpus — sqrt is
    * IEEE-exact, so both engines truncate the identical double), and
    * the derived cell count is recorded as a `k_cells` column in the
    * artifact itself.
    */
  private lazy val marginMineAnnAutoOracleSql: String = {
    val kc = "(SELECT least(4096, greatest(4, " +
      "CAST(trunc(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) // 2)) " +
      "FROM embeddings)"
    marginMineAnnOracle(kCells = kc,
      extraCols = s", CAST($kc AS INTEGER) AS k_cells")
  }

  private def marginMineAnnOracle(kCells: String, extraCols: String,
                                  corpus: String = "embeddings"): String = {
    val iters = 2; val dim = 64; val nProbe = 3; val k = 4
    def distExpr(v: String, c: String) = lloydDistExpr(dim, v, c)
    s"""WITH ${lloydReplayPrefix(kCells, iters, dim, corpus)},
        tc AS (SELECT vec_id AS tgt_id, cell FROM af WHERE vec_id % 2 = 1),
        pc0 AS (
          SELECT v.vec_id AS src_id,
            list_sort(list({'d': ${distExpr("v", "c")}, 'c': c.cell}))
              [:$nProbe] AS cells
          FROM ve v CROSS JOIN c$iters c WHERE v.vec_id % 2 = 0
          GROUP BY v.vec_id),
        pc AS (
          SELECT src_id, c AS cell FROM (
            SELECT src_id, unnest(cells, recursive := true) FROM pc0)),
        d AS (
          SELECT p.src_id, t.tgt_id,
            CAST(list_dot_product(sv.vq::DOUBLE[], tv.vq::DOUBLE[])
              AS BIGINT) AS dot_q
          FROM pc p JOIN tc t USING (cell)
          JOIN ve sv ON sv.vec_id = p.src_id
          JOIN ve tv ON tv.vec_id = t.tgt_id),
        r AS (
          SELECT src_id, tgt_id, dot_q,
            row_number() OVER (PARTITION BY src_id
              ORDER BY dot_q DESC, tgt_id) AS rs,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY dot_q DESC, src_id) AS rt
          FROM d),
        sm AS (SELECT src_id, CAST(sum(dot_q) AS BIGINT) AS src_mass
               FROM r WHERE rs <= $k GROUP BY 1),
        tm AS (SELECT tgt_id, CAST(sum(dot_q) AS BIGINT) AS tgt_mass
               FROM r WHERE rt <= $k GROUP BY 1),
        m AS (
          SELECT d.src_id, d.tgt_id, d.dot_q,
            ${2 * k} * d.dot_q - sm.src_mass - tm.tgt_mass AS margin_q,
            row_number() OVER (PARTITION BY d.src_id
              ORDER BY ${2 * k} * d.dot_q - sm.src_mass - tm.tgt_mass DESC,
                       d.tgt_id) AS rk
          FROM d JOIN sm USING (src_id) JOIN tm USING (tgt_id))
        SELECT src_id, tgt_id, dot_q, CAST(margin_q AS BIGINT) AS margin_q$extraCols
        FROM m WHERE rk = 1 AND margin_q > 0"""
  }

  // one BPE statistics round: adjacent character-pair corpus frequency
  // plus distinct-word support inside words of the documents corpus
  private val bpePairStatsQ = Q(
    "bpe_pair_stats",
    (s, d) => TextAnalysis.bpePairStats(documents(s, d), "text"),
    Some("""WITH w AS (
              SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents),
            i AS (
              SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
              FROM w WHERE length(w) >= 2),
            p AS (SELECT w, substr(w, CAST(i AS INT), 2) AS pair FROM i)
            SELECT pair, CAST(count(*) AS BIGINT) AS n_occ,
              CAST(count(DISTINCT w) AS BIGINT) AS n_words
            FROM p GROUP BY 1"""))

  // hourly OHLC bars per event_type: open/close are order selections
  // (ts, event_id), low/high plain min/max — no float arithmetic, so
  // doubles pass the hash gate exactly
  private val resampleOhlcQ = Q(
    "resample_ohlc",
    (s, d) => ops.TimeSeries.resampleOhlc(events(s, d), "event_type", "ts",
      "event_id", "value"),
    Some("""WITH r AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket, value,
                row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                  ORDER BY ts, event_id) AS ra,
                row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                  ORDER BY ts DESC, event_id DESC) AS rd
              FROM events)
            SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_events,
              max(CASE WHEN ra = 1 THEN value END) AS open,
              max(CASE WHEN rd = 1 THEN value END) AS close,
              min(value) AS low, max(value) AS high
            FROM r GROUP BY 1, 2"""))

  // The part-circulant graph of the graph-algorithm queries: nodes =
  // p_partkey mod N (N = the part row count, capped at 2000) and the
  // directed chords +1/+2/7n+3 — triangle-rich at constant degree, so
  // the graph SCALES with the table instead of densifying (a
  // co-occurrence graph over bucketed keys saturates to a clique as SF
  // grows). partChords are the chord targets over base's n/n_nodes.
  private val partChords: Seq[Column] = Seq(
    (col("n") + 1) % col("n_nodes"), (col("n") + 2) % col("n_nodes"),
    (col("n") * 7 + 3) % col("n_nodes"))

  /** (base, edges): one row per part with its node `n` and the node
    * count `n_nodes`, and the unweighted chords as (src, dst).
    */
  private def partGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val p = part(s, d)
    val nTot = p.agg(count(lit(1)).as("n_tot"))
    val base = p.select((col("p_partkey") % 2000).as("n"))
      .crossJoin(broadcast(nTot))
      .withColumn("n_nodes", least(col("n_tot"), lit(2000L)))
    (base, partChords.map(dst => base.select(col("n").as("src"), dst.as("dst")))
      .reduce(_ union _))
  }

  // the same graph in DuckDB, as nested prefixes: nt + base, then the
  // chords raw(src, dst), then the undirected simple edges canon(u < v)
  private val duckPartBase = """WITH nt AS (
              SELECT least(count(*), 2000) AS n_nodes FROM part),
            base AS (
              SELECT p_partkey % 2000 AS n, n_nodes FROM part CROSS JOIN nt)"""
  private val duckPartRaw = duckPartBase + """,
            raw AS (
              SELECT n AS src, (n + 1) % n_nodes AS dst FROM base
              UNION ALL SELECT n, (n + 2) % n_nodes FROM base
              UNION ALL SELECT n, (n * 7 + 3) % n_nodes FROM base)"""
  private val duckPartCanon = duckPartRaw + """,
            canon AS (
              SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM raw WHERE src <> dst)"""

  // per-vertex triangle counts over the part-circulant graph. The oracle
  // replays degree-ordered orientation with the same row-wise (degree,
  // vertex) total order
  private val triangleCountQ = Q(
    "triangle_count",
    (s, d) => {
      val (_, edges) = partGraph(s, d)
      Graph.triangleCounts(edges, "src", "dst")
    },
    Some(duckPartCanon + """,
            deg AS (
              SELECT x, count(*) AS d FROM (
                SELECT u AS x FROM canon UNION ALL SELECT v FROM canon)
              GROUP BY 1),
            orient AS (
              SELECT CASE WHEN (du.d, c.u) < (dv.d, c.v) THEN c.u ELSE c.v END AS lo,
                     CASE WHEN (du.d, c.u) < (dv.d, c.v) THEN c.v ELSE c.u END AS hi
              FROM canon c
              JOIN deg du ON du.x = c.u
              JOIN deg dv ON dv.x = c.v),
            wedges AS (
              SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
              FROM orient e1 JOIN orient e2
                ON e1.lo = e2.lo AND e1.hi < e2.hi),
            closing AS (
              SELECT lo AS b, hi AS c FROM orient
              UNION ALL SELECT hi, lo FROM orient),
            tris AS (
              SELECT w.a, w.b, w.c FROM wedges w
              WHERE EXISTS (SELECT 1 FROM closing x
                            WHERE x.b = w.b AND x.c = w.c))
            SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles FROM (
              SELECT a AS vertex FROM tris
              UNION ALL SELECT b FROM tris
              UNION ALL SELECT c FROM tris)
            GROUP BY 1"""))

  // document-level collocation lift in milli units (log-free PMI core)
  private val cooccurrenceLiftQ = Q(
    "cooccurrence_lift",
    (s, d) => TextAnalysis.cooccurrenceLift(documents(s, d), "doc_id",
      "text", minSupport = 5L),
    Some("""WITH toks AS (
              SELECT DISTINCT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents),
            nd AS (SELECT count(*) AS n_docs FROM documents),
            dfq AS (SELECT term, count(*) AS n_t FROM toks GROUP BY 1),
            pairs AS (
              SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
              FROM toks a JOIN toks b
                ON a.doc_id = b.doc_id AND a.term < b.term
              GROUP BY 1, 2 HAVING count(*) >= 5)
            SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab,
              CAST(da.n_t AS BIGINT) AS n_a, CAST(db.n_t AS BIGINT) AS n_b,
              CAST((n_ab * n_docs * 1000) // (da.n_t * db.n_t) AS BIGINT)
                AS lift_milli
            FROM pairs
            JOIN dfq da ON da.term = term_a
            JOIN dfq db ON db.term = term_b
            CROSS JOIN nd"""))

  // unsmoothed bigram LM: conditional milli-probabilities over adjacent
  // word pairs; context counts are bigram-head totals
  private val bigramLmQ = Q(
    "bigram_lm",
    (s, d) => TextAnalysis.bigramLm(documents(s, d), "text"),
    Some("""WITH tok AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS w,
                generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS pos
              FROM documents),
            bg AS (
              SELECT a.w AS w1, b.w AS w2, count(*) AS n_12
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              GROUP BY 1, 2),
            ctx AS (SELECT w1, sum(n_12) AS n_1ctx FROM bg GROUP BY 1)
            SELECT w1, w2, CAST(n_12 AS BIGINT) AS n_12,
              CAST(n_1ctx AS BIGINT) AS n_1ctx,
              CAST((n_12 * 1000) // n_1ctx AS BIGINT) AS p_milli
            FROM bg JOIN ctx USING (w1)"""))

  // hopping windows (1 h size / 15 min slide) over events: each event
  // lands in 4 epoch-aligned hops; bounds emitted as epoch seconds
  private val hoppingWindowQ = Q(
    "hopping_window_agg",
    (s, d) => Incremental.hoppingCounts(events(s, d), "ts", "event_type",
      sizeSec = 3600L, slideSec = 900L),
    Some("""WITH hops AS (
              -- integer microseconds, then floor-to-slide: epoch(ts)
              -- returns DOUBLE and casting it to BIGINT ROUNDS, which
              -- would shift sub-second events across hop boundaries
              SELECT event_type, value,
                (epoch_us(ts) // 900000000) * 900 - k * 900 AS hop_start
              FROM events
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
            SELECT hop_start, hop_start + 3600 AS hop_end, event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              min(value) AS min_value, max(value) AS max_value
            FROM hops GROUP BY 1, 2, 3"""))

  // strictly-ordered signup→view→click→purchase funnel with a 7-day
  // conversion window; per-step distinct-user counts
  private val funnelConversionQ = Q(
    "funnel_conversion",
    (s, d) => EventAnalytics.funnelConversion(events(s, d), "user_id", "ts",
      "event_type", Seq("signup", "view", "click", "purchase"),
      windowSec = Some(7L * 86400L)),
    Some("""WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'view' AND e.ts > s1.t
                AND e.ts <= s1.t + INTERVAL 604800 SECOND
              GROUP BY 1),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'click' AND e.ts > s2.t
                AND e.ts <= s2.t + INTERVAL 604800 SECOND
              GROUP BY 1),
            s4 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s3 ON e.user_id = s3.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s3.t
                AND e.ts <= s3.t + INTERVAL 604800 SECOND
              GROUP BY 1)
            SELECT 1 AS step_n, 'signup' AS step, count(*) AS n_users FROM s1
            UNION ALL SELECT 2, 'view', count(*) FROM s2
            UNION ALL SELECT 3, 'click', count(*) FROM s3
            UNION ALL SELECT 4, 'purchase', count(*) FROM s4"""))

  // weekly cohort retention: (first-event week, whole-week offset) →
  // distinct active users; offsets are exact epoch-second divisions
  private val retentionCohortsQ = Q(
    "retention_cohorts",
    (s, d) => EventAnalytics.retentionCohorts(events(s, d), "user_id", "ts"),
    Some("""WITH act AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
              FROM events),
            f AS (
              SELECT user_id, min(act_week) AS cohort_week
              FROM act GROUP BY 1)
            SELECT cohort_week,
              (epoch_us(act_week) - epoch_us(cohort_week)) // 604800000000
                AS week_offset,
              count(DISTINCT a.user_id) AS n_users
            FROM act a JOIN f USING (user_id) GROUP BY 1, 2"""))

  // per-user next-event Markov transitions with milli conditional
  // probabilities; (ts, event_id) is the deterministic total order
  private val eventTransitionsQ = Q(
    "event_transitions",
    (s, d) => EventAnalytics.eventTransitions(events(s, d), "user_id", "ts",
      "event_type", "event_id"),
    Some("""WITH seq AS (
              SELECT user_id, event_type AS from_type,
                lead(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS to_type
              FROM events),
            tr AS (
              SELECT from_type, to_type, count(*) AS n_trans
              FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
            ctx AS (
              SELECT from_type, sum(n_trans) AS n_from FROM tr GROUP BY 1)
            SELECT from_type, to_type, n_trans,
              CAST(n_from AS BIGINT) AS n_from,
              CAST((n_trans * 1000) // n_from AS BIGINT) AS p_milli
            FROM tr JOIN ctx USING (from_type)"""))

  // resource-allocation link prediction on the same circulant graph:
  // the log-free Adamic-Adar (sum of 1/deg over shared neighbors) in
  // exact nano units — hub-discounted scores CN/Jaccard cannot express
  private val linkPredRaQ = Q(
    "link_pred_ra",
    (s, d) => {
      val (_, edges) = partGraph(s, d)
      Graph.resourceAllocation(edges, "src", "dst", minCommon = 2L)
    },
    Some(duckPartCanon + """,
            adj AS (
              SELECT u AS a, v AS b FROM canon
              UNION ALL SELECT v, u FROM canon),
            deg AS (SELECT a, count(*) AS d FROM adj GROUP BY 1),
            pairs AS (
              SELECT e1.b AS v1, e2.b AS v2, count(*) AS n_common,
                CAST(SUM(1000000000 // deg.d) AS BIGINT) AS ra_nano
              FROM adj e1
              JOIN deg ON deg.a = e1.a
              JOIN adj e2 ON e1.a = e2.a AND e1.b < e2.b
              GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT v1, v2, n_common, ra_nano
            FROM pairs p
            WHERE NOT EXISTS (SELECT 1 FROM canon c
                              WHERE c.u = p.v1 AND c.v = p.v2)"""))

  // common-neighbor link prediction over the same circulant graph as
  // triangle_count: non-adjacent pairs sharing >= 2 neighbors, scored
  // by exact milli-Jaccard of their neighborhoods
  private val commonNeighborsQ = Q(
    "common_neighbors",
    (s, d) => {
      val (_, edges) = partGraph(s, d)
      Graph.commonNeighbors(edges, "src", "dst", minCommon = 2L)
    },
    Some(duckPartCanon + """,
            adj AS (
              SELECT u AS a, v AS b FROM canon
              UNION ALL SELECT v, u FROM canon),
            deg AS (SELECT a, count(*) AS d FROM adj GROUP BY 1),
            pairs AS (
              SELECT e1.b AS v1, e2.b AS v2, count(*) AS n_common
              FROM adj e1 JOIN adj e2
                ON e1.a = e2.a AND e1.b < e2.b
              GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT v1, v2, n_common,
              d1.d AS deg1, d2.d AS deg2,
              (n_common * 1000) // (d1.d + d2.d - n_common) AS jaccard_milli
            FROM pairs p
            JOIN deg d1 ON d1.a = p.v1
            JOIN deg d2 ON d2.a = p.v2
            WHERE NOT EXISTS (SELECT 1 FROM canon c
                              WHERE c.u = p.v1 AND c.v = p.v2)"""))

  // schema evolution across parquet batches: an early batch without the
  // quality column and a later batch with it, read under mergeSchema —
  // the additive-column migration every long-lived corpus goes through.
  // The aggregate distinguishes absent (NULL) from present values, so a
  // wrong NULL-fill or column misalignment shifts a sum and breaks the
  // hash. At 100 TB this is the ingest contract: schema-on-read with
  // explicit evolution, never a rewrite of the historical corpus.
  private val schemaEvolutionQ = Q(
    "schema_evolution_merge",
    (s, d) => {
      val base = Scratch.dir("graft_schemaevo_")
      val docs = documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .coalesce(2).write.mode("overwrite").parquet(s"$base/b1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("doc_id") % 97).as("q_bucket"))
        .coalesce(2).write.mode("overwrite").parquet(s"$base/b2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/b1", s"$base/b2")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          count(col("q_bucket")).as("n_with_bucket"),
          sum(coalesce(col("q_bucket"), lit(0L))).as("sum_bucket"))
    },
    Some("""SELECT source, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              count(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS n_with_bucket,
              CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN doc_id % 97
                            ELSE 0 END) AS BIGINT) AS sum_bucket
            FROM documents GROUP BY 1"""))

  // streaming ingest dedup via Incremental.dedupStream: two
  // overlapping micro-batch drops (every event_id % 3 == 2 row arrives
  // twice) flow through watermark-bounded dedup state into a parquet
  // sink; the final table must equal exact DISTINCT over the log. The
  // watermark delay covers the corpus span here, so no state evicts and
  // the dedup is exact — at 100 TB/day the SAME operator with a
  // real-time watermark is the bounded-state answer: state holds only
  // keys newer than the delay instead of the full key history.
  private val incrStreamDedup = Q(
    "incr_stream_dedup",
    (s, d) => {
      val base = Scratch.dir("graft_sdedup_")
      val inDir = s"$base/in"; val table = s"$base/table"; val ckpt = s"$base/ckpt"
      val ev = events(s, d).select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      writeDrops(inDir, Seq(
        ev.filter(col("event_id") % 3 =!= 0),
        ev.filter(col("event_id") % 3 =!= 1)))
      // dedup emits first-seen rows in their arrival batch; the no-data
      // batch only evicts expired keys — skip it. This job's state is
      // one entry PER DISTINCT EVENT ID (13M at sf1), the largest state
      // on the surface, so shards derive from the corpus size and the
      // store is RocksDB: off-heap state removes the whole-ledger GC
      // pressure the r13 bench measured (39 s in-fleet vs 7.96 s
      // isolated with 4 in-heap shards).
      val shards = stateShardsFor(ev.count())
      runAvailableNow(s, ckpt, statePartitions = shards, noDataBatch = false,
          providerClass = Some(RocksDbProvider)) {
        Incremental.dedupStream(s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir),
            "ts", "event_id", watermark = "90 days")
          .writeStream.format("parquet").option("path", table)
      }
      s.read.parquet(table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    },
    Some("""SELECT event_type, count(*) AS n_events,
              round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1"""))

  // stream-stream interval join run as a REAL streaming job: clicks and
  // purchases arrive as separate streams in two micro-batch drops each;
  // every purchase joins the same user's clicks from the trailing hour
  // (equality + event-time range, the append-mode stream-stream join),
  // lands in a parquet sink, and is re-aggregated per user. Cross-batch
  // pairs (click in one batch, purchase in another) only match through
  // the join STATE — the batch oracle proves the stateful join equals
  // the one-shot interval join. At 100 TB/day the same operator with a
  // real-time watermark bounds state to the join window instead of the
  // full history; here the delay covers the corpus so the join is exact.
  private val incrStreamJoin = Q(
    "incr_stream_join",
    (s, d) => {
      val base = Scratch.dir("graft_sjoin_")
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
          col("user_id").as("p_user_id"))
      writeDropSets(Seq(
        s"$base/clicks" -> Seq(
          clicks.filter(col("click_id") % 2 === 0),
          clicks.filter(col("click_id") % 2 =!= 0)),
        s"$base/purch" -> Seq(
          purch.filter(col("purchase_id") % 2 === 0),
          purch.filter(col("purchase_id") % 2 =!= 0))))
      // state-sized confs (see runAvailableNow): the join keeps ~40k
      // rows of state, so 4 state partitions (16 store instances, not
      // 128); the inner join emits matches in the arrival batch, so the
      // trailing no-data eviction batch is skipped — result-identical,
      // measured 9.9 s -> 3.9 s (StreamDiag probe, round 11).
      runAvailableNow(s, s"$base/ckpt", statePartitions = 4, noDataBatch = false) {
        val cs = s.readStream.schema(clicks.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/clicks")
          .withWatermark("click_ts", "90 days")
        val ps = s.readStream.schema(purch.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/purch")
          .withWatermark("purchase_ts", "90 days")
        ps.join(cs,
            ps("p_user_id") === cs("user_id") &&
              cs("click_ts") <= ps("purchase_ts") &&
              cs("click_ts") >= ps("purchase_ts") - expr("INTERVAL 3600 SECOND"))
          .select(col("p_user_id"), col("purchase_id"), col("click_id"))
          .writeStream.format("parquet").option("path", s"$base/table")
      }
      s.read.parquet(s"$base/table")
        .groupBy(col("p_user_id").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("purchase_id")).as("n_purchases"),
          countDistinct(col("click_id")).as("n_clicks"))
    },
    Some("""WITH c AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'click'),
            p AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase')
            SELECT p.user_id, count(*) AS n_pairs,
              count(DISTINCT p.event_id) AS n_purchases,
              count(DISTINCT c.event_id) AS n_clicks
            FROM p JOIN c ON c.user_id = p.user_id
              AND c.ts <= p.ts
              AND c.ts >= p.ts - INTERVAL 3600 SECOND
            GROUP BY 1"""))

  // Unicode NFC normalization through the correctness gate: synthesized
  // decomposed sequences (combining acute/ring/circumflex+diaeresis,
  // plus precomposed and plain-ASCII controls) composed by the codegen'd
  // NfcNormalize expression, hash-matched against DuckDB's
  // nfc_normalize (utf8proc) — two independent UAX #15 implementations
  // agreeing byte-for-byte, safe because NFC is stable for assigned
  // codepoints. Char counts before/after pin that composition actually
  // shortened the decomposed rows.
  private val textNfcNormalize = Q(
    "text_nfc_normalize",
    (s, d) => {
      // explicit escapes: variants 0/1/3 are DECOMPOSED combining
      // sequences, variant 2 precomposed - typed-out literals could
      // silently arrive pre-composed from the editor
      val variants = array(lit("e\u0301clair"), lit("A\u030Angstro\u0308m"),
        lit("\u00e9clair"), lit("o\u0302u\u0308"), lit("plain"))
      val raw = concat(lit("w"),
        element_at(variants, (col("doc_id") % 5 + 1).cast("int")),
        col("doc_id").cast("string"))
      documents(s, d).select(
        col("doc_id"),
        length(raw).as("n_chars_raw"),
        graft.functions.Expressions.nfc_normalize(raw).as("nfc"))
        .withColumn("n_chars_nfc", length(col("nfc")))
    },
    Some("""SELECT doc_id,
              length(raw) AS n_chars_raw,
              nfc_normalize(raw) AS nfc,
              length(nfc_normalize(raw)) AS n_chars_nfc
            FROM (
              SELECT doc_id, 'w' ||
                CASE CAST(doc_id % 5 AS INTEGER)
                  WHEN 0 THEN 'e' || chr(769) || 'clair'
                  WHEN 1 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm'
                  WHEN 2 THEN chr(233) || 'clair'
                  WHEN 3 THEN 'o' || chr(770) || 'u' || chr(776)
                  ELSE 'plain'
                END || doc_id AS raw
              FROM documents)"""))

  // Incremental view maintenance driven end to end: a per-customer
  // (count, cents) materialization built from 2/3 of orders, then kept
  // current by ONE changelog application (inserts of the remaining
  // third, deletes of the base's %5==0 rows) — work O(|delta| +
  // |touched keys|), never a base re-scan (IvmSpec pins the plan). The
  // oracle aggregates the FINAL state from scratch: any drift in the
  // signed-weight merge (or a zero-count group failing to vanish)
  // breaks the hash. At 100 TB this replaces the reference's
  // weekly from-scratch re-aggregation with delta-sized work.
  private val ivmAggMaintain = Q(
    "ivm_agg_maintain",
    (s, d) => {
      val ord = orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val base = ord.filter(col("o_orderkey") % 3 =!= 0)
      val view0 = ops.Ivm.aggView(base.select(col("o_custkey"), col("cents")),
        Seq("o_custkey"), Seq("cents"))
      val changelog =
        ord.filter(col("o_orderkey") % 3 === 0)
          .select(lit("I").as("op"), col("o_custkey"), col("cents"))
          .unionByName(
            base.filter(col("o_orderkey") % 5 === 0)
              .select(lit("D").as("op"), col("o_custkey"), col("cents")))
      ops.Ivm.applyAggDelta(view0, changelog, Seq("o_custkey"), "op",
        Seq("cents"))
    },
    Some("""SELECT o_custkey, count(*) AS n,
              CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
            FROM orders
            WHERE NOT (o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0)
            GROUP BY 1"""))

  // Maintained JOIN view — the DBSP bilinear delta rule driven end to
  // end: the (priority, segment) join multiset of orders x customer is
  // materialized from 2/3 of orders, then kept current through ONE
  // two-sided changelog application (order inserts+deletes AND customer
  // deletes), i.e. dA⋈B0 ∪ A0⋈dB ∪ dA⋈dB with multiplicities
  // multiplying — the base join never recomputes. Oracle: from-scratch
  // join of the final state; any cross-term the rule misses (the
  // dA⋈dB corner) or a zero-multiplicity row that fails to vanish
  // breaks the hash.
  private val ivmJoinMaintain = Q(
    "ivm_join_maintain",
    (s, d) => {
      val a = orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        col("o_orderpriority"))
      val a0rows = a.filter(col("o_orderkey") % 3 =!= 0)
      val a0 = a0rows.select(col("o_custkey"), col("o_orderpriority"))
      val b0 = customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment"))
      val view0 = ops.Ivm.joinView(a0, b0, Seq("o_custkey"))
      val aLog = a.filter(col("o_orderkey") % 3 === 0)
        .select(lit("I").as("op"), col("o_custkey"), col("o_orderpriority"))
        .unionByName(a0rows.filter(col("o_orderkey") % 5 === 0)
          .select(lit("D").as("op"), col("o_custkey"), col("o_orderpriority")))
      val bLog = b0.filter(col("o_custkey") % 7 === 0)
        .select(lit("D").as("op"), col("o_custkey"), col("c_mktsegment"))
      ops.Ivm.applyJoinDelta(view0, a0, aLog, b0, bLog,
        Seq("o_custkey"), "op")
    },
    Some("""SELECT o_custkey, o_orderpriority, c_mktsegment, count(*) AS m
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE NOT (o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0)
              AND c_custkey % 7 <> 0
            GROUP BY 1, 2, 3"""))

  // Spark 4's transformWithState run as a REAL streaming job: per-user
  // running (count, cents) totals carried across two micro-batches in a
  // named ValueState (streaming/Stateful.RunningTotals — the arbitrary-
  // state API successor of flatMapGroupsWithState). Batches split by
  // EVENT id parity so most users genuinely span both batches and the
  // final row can only be right if batch 2 read batch 1's state. The
  // processor emits a key's updated totals per batch; counts are
  // strictly monotone per key, so max/max_by selects the converged row,
  // and the oracle is the plain batch aggregate. RocksDB state store
  // scoped via runAvailableNow (a transformWithState contract).
  private val incrRunningTotals = Q(
    "incr_running_totals",
    (s, d) => {
      import s.implicits._
      val base = Scratch.dir("graft_tws_")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      writeDrops(inDir, Seq(
        ev.filter(col("event_id") % 2 === 0).select("user_id", "cents"),
        ev.filter(col("event_id") % 2 =!= 0).select("user_id", "cents")))
      runAvailableNow(s, ckpt, statePartitions = 4, noDataBatch = false,
          providerClass = Some(RocksDbProvider)) {
        val stream = s.readStream
          .schema("user_id LONG, cents LONG")
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .as[(Long, Long)]
        streaming.Stateful.runningTotals(stream)
          .toDF("user_id", "n_events", "value_cents")
          .writeStream.format("parquet").option("path", outDir)
          .outputMode("append")
      }
      s.read.parquet(outDir)
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("value_cents"), col("n_events")).as("value_cents"))
    },
    Some("""SELECT user_id, count(*) AS n_events,
              CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS value_cents
            FROM events GROUP BY 1"""))

  // streaming leaderboard through transformWithState MapState: per-type
  // user->count map accumulates across two micro-batches, each batch
  // emits the current top-3 stamped with the monotone processed total,
  // and the converged (max-stamp) rows equal the batch top-3 — the
  // multi-entry state shape ValueState cannot hold
  private val incrStreamTopk = Q(
    "incr_stream_topk",
    (s, d) => {
      import s.implicits._
      val base = Scratch.dir("graft_twstopk_")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = events(s, d).select(col("event_id"), col("event_type"),
        col("user_id"))
      writeDrops(inDir, Seq(
        ev.filter(col("event_id") % 2 === 0).select("event_type", "user_id"),
        ev.filter(col("event_id") % 2 =!= 0).select("event_type", "user_id")))
      runAvailableNow(s, ckpt, statePartitions = 4, noDataBatch = false,
          providerClass = Some(RocksDbProvider)) {
        val stream = s.readStream
          .schema("event_type STRING, user_id LONG")
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .as[(String, Long)]
        streaming.Stateful.topKMembers(stream, 3)
          .toDF("event_type", "n_seen", "user_id", "n_events", "rank")
          .writeStream.format("parquet").option("path", outDir)
          .outputMode("append")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      s.read.parquet(outDir)
        .withColumn("__mx", max(col("n_seen")).over(w))
        .filter(col("n_seen") === col("__mx"))
        .select("event_type", "user_id", "n_events", "rank")
    },
    Some("""WITH c AS (
              SELECT event_type, user_id, count(*) AS n_events
              FROM events GROUP BY 1, 2)
            SELECT event_type, user_id, n_events,
              CAST(rn AS INTEGER) AS rank
            FROM (
              SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY n_events DESC, user_id) AS rn
              FROM c)
            WHERE rn <= 3"""))

  // stream-stream LEFT OUTER interval join as a REAL streaming job —
  // the WATERMARK-FINALIZATION path the inner join never exercises:
  // matched (purchase, click) pairs emit in their arrival batch, but a
  // purchase with NO click in its trailing hour can only emit its
  // null-extended row once the watermark PROVES no matching click can
  // still arrive. Batches split by TIME (not id parity) so no row is
  // ever late, and each side's final drop carries a far-future sentinel
  // (user_id -1, filtered from the result) that pushes the watermark —
  // min across both sources — past every real join window, so ALL
  // unmatched purchases finalize before AvailableNow terminates. Unlike
  // incr_stream_join, this query KEEPS the trailing no-data batch: it
  // is the batch that sees the sentinel-advanced watermark and flushes
  // the outer rows. The batch oracle is the plain LEFT JOIN.
  private val incrStreamOuterJoin = Q(
    "incr_stream_outer_join",
    (s, d) => {
      val base = Scratch.dir("graft_sojoin_")
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
          col("user_id").as("p_user_id"))
      val Array(mid, hi) = ev.agg(
          expr("unix_micros(min(ts)) div 2 + unix_micros(max(ts)) div 2")
            .as("mid"),
          unix_micros(max(col("ts"))).as("hi"))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val sentinelTs = hi + 365L * 86400L * 1000000L // one year past max
      def sentinel(idCol: String, tsCol: String, userCol: String) =
        s.range(1).select(lit(-1L).as(idCol),
          timestamp_micros(lit(sentinelTs)).as(tsCol), lit(-1L).as(userCol))
      writeDropSets(Seq(
        s"$base/clicks" -> Seq(
          clicks.filter(unix_micros(col("click_ts")) < mid),
          clicks.filter(unix_micros(col("click_ts")) >= mid)
            .unionByName(sentinel("click_id", "click_ts", "user_id"))),
        s"$base/purch" -> Seq(
          purch.filter(unix_micros(col("purchase_ts")) < mid),
          purch.filter(unix_micros(col("purchase_ts")) >= mid)
            .unionByName(sentinel("purchase_id", "purchase_ts", "p_user_id")))))
      runAvailableNow(s, s"$base/ckpt", statePartitions = 4, noDataBatch = true) {
        val cs = s.readStream.schema(clicks.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/clicks")
          .withWatermark("click_ts", "1 minute")
        val ps = s.readStream.schema(purch.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/purch")
          .withWatermark("purchase_ts", "1 minute")
        ps.join(cs,
            ps("p_user_id") === cs("user_id") &&
              cs("click_ts") <= ps("purchase_ts") &&
              cs("click_ts") >= ps("purchase_ts") - expr("INTERVAL 3600 SECOND"),
            "leftOuter")
          .select(col("p_user_id"), col("purchase_id"), col("click_id"))
          .writeStream.format("parquet").option("path", s"$base/table")
      }
      s.read.parquet(s"$base/table")
        .filter(col("p_user_id") =!= -1)
        .groupBy(col("p_user_id").as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("purchase_id")).as("n_purchases"),
          countDistinct(col("click_id")).as("n_clicks"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
    },
    Some("""WITH c AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'click'),
            p AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase')
            SELECT p.user_id, count(*) AS n_rows,
              count(DISTINCT p.event_id) AS n_purchases,
              count(DISTINCT c.event_id) AS n_clicks,
              CAST(sum(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched
            FROM p LEFT JOIN c ON c.user_id = p.user_id
              AND c.ts <= p.ts
              AND c.ts >= p.ts - INTERVAL 3600 SECOND
            GROUP BY 1"""))

  // perceptual near-dup image grouping: red-channel average-hash over
  // the REAL decoded PPM pixels, grouped into duplicate clusters. The
  // oracle replays the generator's closed-form gradient through the
  // same block-mean/threshold/bit-pack integer math.
  private val imageAHashDedupQ = Q(
    "image_ahash_dedup",
    (s, d) => Multimodal.imageAHash(Multimodal.syntheticMedia(s, 200),
        channel = 0)
      .toDF().groupBy(col("hash_hi"), col("hash_lo"))
      .agg(count(lit(1)).as("n_images"), min(col("media_id")).as("min_media_id")),
    Some(duckMediaGen + """,
            px AS (
              SELECT media_id, (x * 8) // w AS bx, (x * 255) // w AS v
              FROM img0, unnest(range(0, w)) AS tx(x)),
            bm AS (
              SELECT media_id, bx, SUM(v) // COUNT(*) AS m
              FROM px GROUP BY 1, 2),
            thr AS (
              SELECT media_id, (8 * SUM(m)) // 64 AS t FROM bm GROUP BY 1),
            rowpat AS (
              SELECT b.media_id,
                SUM(CASE WHEN b.m > t.t THEN 1 ELSE 0 END * (1 << (7 - b.bx)))
                  AS pat
              FROM bm b JOIN thr t USING (media_id) GROUP BY 1),
            hashes AS (
              SELECT media_id,
                CAST(pat * 16843009 AS BIGINT) AS hash_hi,
                CAST(pat * 16843009 AS BIGINT) AS hash_lo
              FROM rowpat)
            SELECT hash_hi, hash_lo, count(*) AS n_images,
              min(media_id) AS min_media_id
            FROM hashes GROUP BY 1, 2"""))

  // EXACT distinct via dense-bitmap aggregation: fixed words-per-group
  // state on the exchange instead of shuffled ids — the groupBitmap
  // rollup for dictionary-encoded id domains
  private val bitmapDistinctQ = Q(
    "bitmap_distinct_users",
    (s, d) => {
      // the dense-bitmap contract needs the id domain bound — derive it
      // from the corpus (one cheap max() scan, the dictionary-domain
      // probe a warehouse gets from its surrogate-key dimension) instead
      // of a gate-SF constant: the hardcoded 65535 wall crashed the r14
      // sf10 sweep the moment user ids outgrew it
      val maxId = events(s, d).agg(max(col("user_id"))).head.getLong(0)
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          udaf(new graft.functions.Aggregators.BitmapDistinct(maxId.toInt),
            org.apache.spark.sql.Encoders.scalaLong)
            .apply(col("user_id")).as("n_users"),
          count(lit(1)).as("n_rows"))
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
              count(*) AS n_rows
            FROM events GROUP BY 1"""))

  // audience overlap by bitmap set algebra: one pass, two conditional
  // bitmaps, popcounts of A/B/AND/OR — never a self-join of the log
  private val audienceOverlapQ = Q(
    "bitmap_audience_overlap",
    (s, d) => {
      // same corpus-derived id-domain bound as bitmap_distinct_users
      val maxId = events(s, d).agg(max(col("user_id"))).head.getLong(0)
      events(s, d)
      .select(col("user_id"),
        (col("event_type") === "click").as("in_a"),
        (col("event_type") === "purchase").as("in_b"))
      .agg(
        udaf(new graft.functions.Aggregators.AudienceOverlap(maxId.toInt),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaBoolean,
            org.apache.spark.sql.Encoders.scalaBoolean))
          .apply(col("user_id"), col("in_a"), col("in_b")).as("o"))
      .select(col("o._1").as("n_click_users"),
        col("o._2").as("n_purchase_users"),
        col("o._3").as("n_both"), col("o._4").as("n_either"))
    },
    Some("""WITH a AS (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
            b AS (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
            SELECT (SELECT count(*) FROM a) AS n_click_users,
              (SELECT count(*) FROM b) AS n_purchase_users,
              (SELECT count(*) FROM a
               WHERE user_id IN (SELECT user_id FROM b)) AS n_both,
              (SELECT count(*) FROM (
                 SELECT user_id FROM a UNION SELECT user_id FROM b)) AS n_either"""))

  // TPC-H Q7-shaped nation-pair trade volume: a five-way join where the
  // two nation legs broadcast (dimension-sized), the lineitem-supplier/
  // orders-customer legs shuffle on their keys, and the shipdate filter
  // pushes to the fact scan. All cross-nation pairs, yearly revenue in
  // EXACT integer units (cents x (100 - discount cents), the q15
  // idiom) so the sum is order-independent at any scale instead of
  // relying on both engines agreeing on FP accumulation order.
  private val q7NationVolume = Q(
    "q7_nation_volume",
    (s, d) => {
      val n1 = broadcast(nation(s, d).select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation")))
      val n2 = broadcast(nation(s, d).select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation")))
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
            (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
            .as("revenue_unit"),
          count(lit(1)).as("n_lines"))
    },
    Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
              CAST(year(l_shipdate) AS BIGINT) AS l_year,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS revenue_unit,
              count(*) AS n_lines
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND sn.n_name <> cn.n_name
            GROUP BY 1, 2, 3"""))

  // multi-source BFS over the circulant graph: min hop distance from
  // the 10 lowest seeds within 3 hops; the oracle unrolls the rounds
  private val bfsHopsQ = Q(
    "bfs_hops",
    (s, d) => {
      val (base, edges) = partGraph(s, d)
      val seeds = base.select(col("n")).filter(col("n") < 10)
      Graph.bfsHops(edges, "src", "dst", seeds, "n", maxHops = 3)
    },
    Some(duckPartRaw + """,
            adj AS (
              SELECT DISTINCT src AS a, dst AS b FROM (
                SELECT src, dst FROM raw
                UNION ALL SELECT dst, src FROM raw)
              WHERE src <> dst),
            f0 AS (SELECT DISTINCT n AS v FROM base WHERE n < 10),
            f1 AS (SELECT DISTINCT b AS v FROM f0 JOIN adj ON adj.a = f0.v),
            f2 AS (SELECT DISTINCT b AS v FROM f1 JOIN adj ON adj.a = f1.v),
            f3 AS (SELECT DISTINCT b AS v FROM f2 JOIN adj ON adj.a = f2.v)
            SELECT v AS vertex, CAST(min(hop) AS BIGINT) AS hop FROM (
              SELECT v, 0 AS hop FROM f0
              UNION ALL SELECT v, 1 FROM f1
              UNION ALL SELECT v, 2 FROM f2
              UNION ALL SELECT v, 3 FROM f3)
            GROUP BY 1"""))

  // point-in-time attribution: each purchase joins the SCD2 segment
  // (built from the user's NON-purchase activity) valid at purchase
  // time; purchases before a user's first touchpoint drop (inner PIT)
  private val scd2PitJoinQ = Q(
    "scd2_pit_join",
    (s, d) => {
      val ev = events(s, d)
      val hist = TimeSeries.scd2(
          ev.filter(col("event_type") =!= "purchase")
            .select("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type").as("segment"),
          col("valid_from"), col("valid_to"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      TimeSeries.pitJoin(facts, hist, "user_id", "ts")
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value")), 2).as("sum_value"))
    },
    Some("""WITH np AS (
              SELECT user_id, ts, event_id, event_type FROM events
              WHERE event_type <> 'purchase'),
            ordered AS (
              SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rn
              FROM np),
            changes AS (
              SELECT user_id, event_type AS segment, ts AS valid_from,
                event_id
              FROM ordered
              WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type),
            hist AS (
              SELECT user_id, segment, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from, event_id) AS valid_to
              FROM changes),
            facts AS (
              SELECT user_id, ts, value FROM events
              WHERE event_type = 'purchase')
            SELECT h.segment, count(*) AS n_purchases,
              round(sum(f.value), 2) AS sum_value
            FROM facts f JOIN hist h ON h.user_id = f.user_id
              AND f.ts >= h.valid_from
              AND (h.valid_to IS NULL OR f.ts < h.valid_to)
            GROUP BY 1"""))

  // the 1→N frame expansion through the gate: every 2nd frame of every
  // GVID video decodes to real pixels and emits exact channel sums; the
  // oracle rebuilds each row from the generator's closed form (the R
  // gradient is a per-frame permutation of one column sum, G is fixed,
  // B tracks the frame index byte-wrapped)
  private val videoFrameStatsQ = Q(
    "video_frame_stats",
    (s, d) => Multimodal.frameDecodeStats(Multimodal.syntheticMedia(s, 200),
      stride = 2).toDF(),
    Some(duckMediaGen + """,
            rs AS (SELECT SUM((k * 255) // 8) AS sx FROM range(0, 8) t(k)),
            gs AS (SELECT SUM((y * 255) // 6) AS sy FROM range(0, 6) t(y))
            SELECT media_id, CAST(f AS BIGINT) AS frame_idx,
              CAST(8 AS BIGINT) AS frame_w, CAST(6 AS BIGINT) AS frame_h,
              CAST(6 * sx AS BIGINT) AS px_r_sum,
              CAST(8 * sy AS BIGINT) AS px_g_sum,
              CAST(48 * ((f * 40) % 256) AS BIGINT) AS px_b_sum
            FROM vid0, unnest(range(0, nf)) t(f), rs, gs
            WHERE f % 2 = 0"""))

  // bounded weighted shortest paths on the circulant graph: chord type
  // is the edge weight (+1 edges cost 1, +2 cost 2, the 7n+3 chord
  // cost 3); min path cost from seeds {n < 5} within 3 relaxation
  // rounds, oracle-unrolled
  private val ssspBoundedQ = Q(
    "sssp_bounded",
    (s, d) => {
      val (base, _) = partGraph(s, d)
      // chord k (1-based) costs k
      val edges = partChords.zipWithIndex.map { case (dst, i) =>
        base.select(col("n").as("src"), dst.as("dst"), lit(i + 1L).as("w"))
      }.reduce(_ union _)
      val seeds = base.select(col("n")).filter(col("n") < 5)
      Graph.ssspBounded(edges, "src", "dst", "w", seeds, "n", maxHops = 3)
    },
    Some(duckPartBase + """,
            raw AS (
              SELECT n AS src, (n + 1) % n_nodes AS dst, 1 AS w FROM base
              UNION ALL SELECT n, (n + 2) % n_nodes, 2 FROM base
              UNION ALL SELECT n, (n * 7 + 3) % n_nodes, 3 FROM base),
            adj AS (
              SELECT a, b, min(w) AS w FROM (
                SELECT src AS a, dst AS b, w FROM raw
                UNION ALL SELECT dst, src, w FROM raw)
              WHERE a <> b GROUP BY 1, 2),
            l0 AS (
              SELECT DISTINCT n AS v, 0 AS cost FROM base WHERE n < 5),
            l1 AS (
              SELECT v, min(cost) AS cost FROM (
                SELECT v, cost FROM l0
                UNION ALL
                SELECT adj.b, l0.cost + adj.w FROM l0
                JOIN adj ON adj.a = l0.v)
              GROUP BY 1),
            l2 AS (
              SELECT v, min(cost) AS cost FROM (
                SELECT v, cost FROM l1
                UNION ALL
                SELECT adj.b, l1.cost + adj.w FROM l1
                JOIN adj ON adj.a = l1.v)
              GROUP BY 1),
            l3 AS (
              SELECT v, min(cost) AS cost FROM (
                SELECT v, cost FROM l2
                UNION ALL
                SELECT adj.b, l2.cost + adj.w FROM l2
                JOIN adj ON adj.a = l2.v)
              GROUP BY 1)
            SELECT v AS vertex, CAST(cost AS BIGINT) AS cost FROM l3"""))

  // exact discrete quantiles (type-1, rank ceil(q*n)) per event type —
  // selection of stored doubles, engine-exact where the interpolating
  // percentile_agg is not
  private val quantileDiscQ = Q(
    "quantile_disc_agg",
    (s, d) => graft.ops.Features.quantilesDisc(events(s, d), "event_type",
      "value", Seq(250, 500, 750, 950)),
    Some("""WITH r AS (
              SELECT event_type, value,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM events WHERE value IS NOT NULL)
            SELECT event_type,
              max(CASE WHEN rn = (n * 250 + 999) // 1000 THEN value END)
                AS p250,
              max(CASE WHEN rn = (n * 500 + 999) // 1000 THEN value END)
                AS p500,
              max(CASE WHEN rn = (n * 750 + 999) // 1000 THEN value END)
                AS p750,
              max(CASE WHEN rn = (n * 950 + 999) // 1000 THEN value END)
                AS p950
            FROM r GROUP BY 1"""))

  // 2-D Pareto front of lineitem maximizing (price, quantity): the
  // non-dominated distinct pairs via max-per-x reduction + sorted sweep
  private val paretoFrontQ = Q(
    "pareto_front",
    (s, d) => graft.ops.Features.paretoFront(lineitem(s, d),
      "l_extendedprice", "l_quantity"),
    Some("""WITH perx AS (
              SELECT l_extendedprice AS x, max(l_quantity) AS y
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL
              GROUP BY 1),
            sw AS (
              SELECT x, y, max(y) OVER (ORDER BY x DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
              FROM perx)
            SELECT x AS l_extendedprice, y AS l_quantity FROM sw
            WHERE mx IS NULL OR y > mx"""))

  // time-in-state utilization: total seconds each segment holds across
  // users, from SCD2 intervals; open intervals close at the corpus max
  // ts so the books balance to (max_ts - first_ts) per user exactly
  private val segmentDwellQ = Q(
    "segment_dwell_time",
    (s, d) => {
      val ev = events(s, d)
      val hist = TimeSeries.scd2(
        ev.select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", Seq("event_type"))
      val horizon = ev.agg(max(col("ts")).as("max_ts"))
      hist.crossJoin(broadcast(horizon))
        .withColumn("dwell_s",
          unix_timestamp(coalesce(col("valid_to"), col("max_ts"))) -
            unix_timestamp(col("valid_from")))
        .groupBy(col("event_type").as("segment"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dwell_s")).as("total_dwell_s"))
    },
    Some("""WITH ordered AS (
              SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rn
              FROM events),
            changes AS (
              SELECT user_id, event_type, ts AS valid_from, event_id
              FROM ordered
              WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type),
            hist AS (
              SELECT user_id, event_type, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from, event_id) AS valid_to
              FROM changes),
            hz AS (SELECT max(ts) AS max_ts FROM events)
            SELECT event_type AS segment, count(*) AS n_intervals,
              CAST(sum(epoch_us(coalesce(valid_to, max_ts)) // 1000000
                - epoch_us(valid_from) // 1000000) AS BIGINT)
                AS total_dwell_s
            FROM hist CROSS JOIN hz GROUP BY 1"""))

  // top user journeys: the first three event types of every gap-based
  // session, concatenated in (ts, id) order — "what do sessions look
  // like" path analysis; journeys count map-side-combinably
  private val sessionJourneysQ = Q(
    "session_journeys",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val withSid = events(s, d)
        .withColumn("new_s",
          when(unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w)) < 1800000000L, 0L)
            .otherwise(1L))
        .withColumn("sid", sum(col("new_s")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      withSid
        .groupBy(col("user_id"), col("sid"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("seq"))
        .select(expr(
          "array_join(transform(slice(seq, 1, 3), x -> x.event_type), '>')")
          .as("journey"))
        .groupBy(col("journey"))
        .agg(count(lit(1)).as("n_sessions"))
    },
    Some("""WITH t AS (
              SELECT user_id, ts, event_id, event_type,
                CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                    < 1800000000
                  THEN 0 ELSE 1 END AS new_s
              FROM events),
            s AS (
              SELECT user_id, ts, event_id, event_type,
                sum(new_s) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
              FROM t),
            j AS (
              SELECT user_id, sid,
                array_to_string(list_slice(
                  array_agg(event_type ORDER BY ts, event_id), 1, 3), '>')
                  AS journey
              FROM s GROUP BY 1, 2)
            SELECT journey, count(*) AS n_sessions FROM j GROUP BY 1"""))

  // gaps-and-islands: consecutive-day activity streaks per user; the
  // island key is epoch_day - row_number, constant exactly while days
  // run consecutively; longest-streak start breaks ties to the earliest
  private val activityStreaksQ = Q(
    "activity_streaks",
    (s, d) => EventAnalytics.activityStreaks(events(s, d), "user_id", "ts"),
    Some("""WITH days AS (
              SELECT DISTINCT user_id,
                datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
              FROM events),
            isl AS (
              SELECT user_id, day,
                day - row_number() OVER (PARTITION BY user_id ORDER BY day)
                  AS island
              FROM days),
            st AS (
              SELECT user_id, island, count(*) AS len, min(day) AS start_day
              FROM isl GROUP BY 1, 2),
            agg AS (
              SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
                count(*) AS n_streaks,
                CAST(max(len) AS BIGINT) AS longest_streak
              FROM st GROUP BY 1),
            best AS (
              SELECT user_id, start_day AS longest_start_day FROM (
                SELECT user_id, start_day,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY len DESC, start_day) AS rk
                FROM st) WHERE rk = 1)
            SELECT user_id, n_active_days, n_streaks, longest_streak,
              CAST(longest_start_day AS BIGINT) AS longest_start_day
            FROM agg JOIN best USING (user_id)"""))

  // last-touch attribution: purchases credit the user's most recent
  // non-purchase event within 7 days; delays in exact integer micros
  private val lastTouchQ = Q(
    "attribution_last_touch",
    (s, d) => EventAnalytics.lastTouchAttribution(events(s, d), "user_id",
      "ts", "event_id", "event_type", "purchase", 7L * 86400L, "value"),
    Some("""WITH t AS (
              SELECT user_id, ts, event_type, value,
                last_value(CASE WHEN event_type <> 'purchase'
                    THEN event_type END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS lt_type,
                last_value(CASE WHEN event_type <> 'purchase'
                    THEN ts END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS lt_ts
              FROM events)
            SELECT lt_type AS channel, count(*) AS n_conversions,
              round(sum(value), 2) AS sum_value,
              CAST(sum(epoch_us(ts) - epoch_us(lt_ts)) AS BIGINT)
                AS total_delay_us
            FROM t
            WHERE event_type = 'purchase' AND lt_ts IS NOT NULL
              AND epoch_us(ts) - epoch_us(lt_ts) <= 604800000000
            GROUP BY 1"""))

  // any-order funnel: all of view/click/purchase present per user, in
  // any order, first-occurrences spanning <= 7 days — one conditional-
  // min aggregation, exact integer micro spans
  private val funnelUnorderedQ = Q(
    "funnel_unordered",
    (s, d) => EventAnalytics.funnelUnordered(events(s, d), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"), 7L * 86400L),
    Some("""WITH per AS (
              SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
              FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
              GROUP BY 1),
            flags AS (
              SELECT *,
                (t_view IS NOT NULL AND t_click IS NOT NULL
                  AND t_purchase IS NOT NULL) AS all_present,
                epoch_us(greatest(t_view, t_click, t_purchase)) -
                  epoch_us(least(t_view, t_click, t_purchase)) AS span_us
              FROM per)
            SELECT count(*) AS n_users_any_step,
              CAST(sum(CASE WHEN all_present THEN 1 ELSE 0 END) AS BIGINT)
                AS n_users_all_steps,
              CAST(sum(CASE WHEN all_present AND span_us <= 604800000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
              CAST(coalesce(sum(CASE WHEN all_present
                AND span_us <= 604800000000 THEN span_us END), 0) AS BIGINT)
                AS total_span_us
            FROM flags"""))

  // U-shaped multi-touch attribution: forward-min window maps each
  // touch to its next purchase, positions earn 1000 / 500-500 /
  // 400-200s-400 permille credit, credited value in integer micros —
  // the multi-touch complement of attribution_last_touch
  private val positionAttributionQ = Q(
    "attribution_position",
    (s, d) => EventAnalytics.positionAttribution(events(s, d), "user_id",
      "ts", "event_id", "event_type", "purchase", 7L * 86400L, "value"),
    Some("""WITH base AS (
              SELECT user_id, ts, event_type, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS ord
              FROM events),
            nx AS (
              SELECT *, min(CASE WHEN event_type = 'purchase' THEN ord END)
                  OVER (PARTITION BY user_id ORDER BY ord
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                  AS next_conv
              FROM base),
            touches AS (
              SELECT user_id, ts, event_type, ord, next_conv FROM nx
              WHERE event_type <> 'purchase' AND next_conv IS NOT NULL),
            convs AS (
              SELECT user_id, ord AS conv_ord, ts AS conv_ts,
                CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS conv_value_micro
              FROM base WHERE event_type = 'purchase'),
            joined AS (
              SELECT t.user_id, t.event_type, t.ord, c.conv_ord,
                c.conv_value_micro
              FROM touches t
              JOIN convs c ON c.user_id = t.user_id
                AND c.conv_ord = t.next_conv
              WHERE epoch_us(c.conv_ts) - epoch_us(t.ts) <= 604800000000),
            pos AS (
              SELECT *,
                row_number() OVER (PARTITION BY user_id, conv_ord
                  ORDER BY ord) AS p,
                count(*) OVER (PARTITION BY user_id, conv_ord) AS n
              FROM joined),
            credited AS (
              SELECT event_type,
                CAST(CASE WHEN n = 1 THEN 1000
                     WHEN n = 2 THEN 500
                     WHEN p = 1 OR p = n THEN 400
                     ELSE 200 // (n - 2) END AS BIGINT) AS credit_permille,
                conv_value_micro
              FROM pos)
            SELECT event_type AS channel, count(*) AS n_touches,
              CAST(sum(credit_permille) AS BIGINT) AS credit_sum_permille,
              CAST(sum((conv_value_micro * credit_permille) // 1000)
                AS BIGINT) AS credited_value_micro
            FROM credited GROUP BY 1"""))

  // the synthetic half-open intervals [ts, ts + (event_id%57+3) min) of
  // the two sweep-line queries, and their oracle prefix: the per-instant
  // net count of starts minus ends, net(event_type, t, net)
  private def eventIntervals(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("event_type"), col("ts").as("start_ts"),
      (col("ts") + expr("(event_id % 57 + 3) * INTERVAL '1' MINUTE"))
        .as("end_ts"))

  private val duckIntervalNet = """WITH iv AS (
              SELECT event_type, ts AS s,
                ts + (event_id % 57 + 3) * INTERVAL 1 MINUTE AS e
              FROM events),
            d AS (
              SELECT event_type, s AS t, 1 AS delta FROM iv
              UNION ALL SELECT event_type, e, -1 FROM iv),
            net AS (
              SELECT event_type, t, sum(delta) AS net FROM d GROUP BY 1, 2)"""

  // sweep-line peak concurrency per event_type over half-open synthetic
  // intervals [ts, ts + (event_id%57+3) min); ends net against starts
  // at the same instant, so the peak and its first instant are exact
  private val maxConcurrencyQ = Q(
    "max_concurrency",
    (s, d) => TimeSeries.maxConcurrency(
      eventIntervals(s, d), "event_type", "start_ts", "end_ts"),
    Some(duckIntervalNet + """,
            run AS (
              SELECT event_type, t,
                sum(net) OVER (PARTITION BY event_type ORDER BY t) AS conc
              FROM net),
            best AS (
              SELECT event_type, t, conc,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY conc DESC, t) AS rk
              FROM run)
            SELECT event_type, CAST(conc AS BIGINT) AS peak_concurrency,
              t AS peak_ts
            FROM best WHERE rk = 1"""))

  // bounded k-core peeling (k=6, 3 synchronous rounds) over the
  // circulant graph; the oracle unrolls the peels round by round
  private val kCoreQ = Q(
    "k_core",
    (s, d) => {
      val (_, edges) = partGraph(s, d)
      Graph.kCore(edges, "src", "dst", k = 6L, rounds = 3)
    },
    Some(duckPartCanon + """,
            d1 AS (SELECT x, count(*) AS d FROM (
              SELECT u AS x FROM canon UNION ALL SELECT v FROM canon) GROUP BY 1),
            k1 AS (SELECT x FROM d1 WHERE d >= 6),
            e1 AS (SELECT u, v FROM canon
              WHERE u IN (SELECT x FROM k1) AND v IN (SELECT x FROM k1)),
            d2 AS (SELECT x, count(*) AS d FROM (
              SELECT u AS x FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
            k2 AS (SELECT x FROM d2 WHERE d >= 6),
            e2 AS (SELECT u, v FROM e1
              WHERE u IN (SELECT x FROM k2) AND v IN (SELECT x FROM k2)),
            d3 AS (SELECT x, count(*) AS d FROM (
              SELECT u AS x FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
            k3 AS (SELECT x FROM d3 WHERE d >= 6),
            e3 AS (SELECT u, v FROM e2
              WHERE u IN (SELECT x FROM k3) AND v IN (SELECT x FROM k3))
            SELECT x AS vertex, count(*) AS core_deg FROM (
              SELECT u AS x FROM e3 UNION ALL SELECT v FROM e3)
            GROUP BY 1"""))

  // TPC-H Q17-shaped correlated-aggregate filter: lineitems below a
  // fifth of their part's average quantity, rolled up per brand. The
  // avg comparison is cross-multiplied (5·qty·cnt < sum) so quantities
  // — integral-valued doubles — compare exactly; the per-part aggregate
  // joins back on the SAME partkey, so both exchanges share one
  // partitioning (and at 100 TB AQE turns the tiny filtered agg side
  // into a broadcast)
  private val q17SmallQtyQ = Q(
    "q17_small_qty",
    (s, d) => {
      val li = lineitem(s, d)
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cq"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") * col("cq") * lit(5) < col("sq"))
        .join(part(s, d).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    },
    Some("""WITH a AS (
              SELECT l_partkey AS pk, sum(l_quantity) AS sq,
                count(*) AS cq
              FROM lineitem GROUP BY 1)
            SELECT p_brand, count(*) AS n_lines,
              round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem
            JOIN a ON l_partkey = pk
            JOIN part ON l_partkey = p_partkey
            WHERE l_quantity * cq * 5 < sq
            GROUP BY 1"""))

  // Hampel robust outliers: discrete median + MAD are rank SELECTIONS
  // of stored values, the deviation/threshold math is row-level IEEE —
  // nothing order-dependent, so doubles hash-match exactly
  private val robustOutliersMadQ = Q(
    "robust_outliers_mad",
    (s, d) => graft.ops.Features.robustOutliersMad(events(s, d),
      "event_type", "value", k = 3),
    Some("""WITH v AS (
              SELECT event_type, value AS v FROM events
              WHERE value IS NOT NULL),
            r1 AS (
              SELECT event_type, v,
                row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM v),
            med AS (
              SELECT event_type,
                max(CASE WHEN rn = (n * 500 + 999) // 1000 THEN v END)
                  AS median
              FROM r1 GROUP BY 1),
            d AS (
              SELECT v.event_type, v.v, m.median,
                abs(v.v - m.median) AS dd
              FROM v JOIN med m USING (event_type)),
            r2 AS (
              SELECT event_type, median, dd,
                row_number() OVER (PARTITION BY event_type ORDER BY dd) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM d),
            mad AS (
              SELECT event_type, max(median) AS median,
                max(CASE WHEN rn = (n * 500 + 999) // 1000 THEN dd END)
                  AS mad,
                count(*) AS n
              FROM r2 GROUP BY 1)
            SELECT d.event_type, CAST(max(mad.n) AS BIGINT) AS n,
              max(mad.median) AS median, max(mad.mad) AS mad,
              CAST(sum(CASE WHEN d.dd > mad.mad * 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
            FROM d JOIN mad USING (event_type) GROUP BY 1"""))

  // interval-union coverage: total covered micros + disjoint components
  // per event_type over the same synthetic half-open intervals as
  // max_concurrency; the sweep reads "time where the count is positive"
  private val intervalCoverageQ = Q(
    "interval_coverage",
    (s, d) => TimeSeries.intervalCoverage(
      eventIntervals(s, d), "event_type", "start_ts", "end_ts"),
    Some(duckIntervalNet + """,
            run0 AS (
              SELECT event_type, t,
                sum(net) OVER (PARTITION BY event_type ORDER BY t) AS conc
              FROM net),
            run AS (
              SELECT event_type, t, conc,
                lead(t) OVER (PARTITION BY event_type ORDER BY t) AS next_t,
                coalesce(lag(conc) OVER (PARTITION BY event_type
                  ORDER BY t), 0) AS prev_conc
              FROM run0)
            SELECT event_type,
              CAST(sum(CASE WHEN conc > 0 AND next_t IS NOT NULL
                THEN epoch_us(next_t) - epoch_us(t) ELSE 0 END) AS BIGINT)
                AS covered_us,
              CAST(sum(CASE WHEN conc > 0 AND prev_conc <= 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_components
            FROM run GROUP BY 1"""))

  // trailing 7-day exact distinct actives per (event_type, day): the
  // rolling set union becomes an offset-explode EQUI-join (range
  // windows cannot host COUNT(DISTINCT)); anchors keep observed days
  private val rollingDistinctQ = Q(
    "rolling_distinct_users",
    (s, d) => EventAnalytics.rollingDistinct(events(s, d), "event_type",
      "ts", "user_id", windowDays = 7),
    Some("""WITH act AS (
              SELECT DISTINCT event_type,
                datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                user_id
              FROM events),
            anchors AS (SELECT DISTINCT event_type, day FROM act),
            contrib AS (
              SELECT event_type, day + off AS day, user_id
              FROM act, unnest(range(0, 7)) AS t(off))
            SELECT c.event_type, CAST(c.day AS BIGINT) AS day,
              count(DISTINCT c.user_id) AS n_users
            FROM contrib c
            JOIN anchors a ON a.event_type = c.event_type AND a.day = c.day
            GROUP BY 1, 2"""))

  // DAU/WAU stickiness per (type, day): the rolling-distinct operator
  // at windows 1 and 7 joined on the shared anchors, ratio in exact
  // milli units — the engagement-health metric product teams track
  private val stickinessQ = Q(
    "stickiness_ratio",
    (s, d) => {
      val dau = EventAnalytics.rollingDistinct(events(s, d), "event_type",
          "ts", "user_id", windowDays = 1)
        .withColumnRenamed("n_users", "dau")
      val wau = EventAnalytics.rollingDistinct(events(s, d), "event_type",
          "ts", "user_id", windowDays = 7)
        .withColumnRenamed("n_users", "wau")
      dau.join(wau, Seq("event_type", "day"))
        .withColumn("stickiness_milli", expr("(dau * 1000) div wau"))
    },
    Some("""WITH act AS (
              SELECT DISTINCT event_type,
                datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                user_id
              FROM events),
            anchors AS (SELECT DISTINCT event_type, day FROM act),
            dau AS (
              SELECT event_type, day, count(DISTINCT user_id) AS dau
              FROM act GROUP BY 1, 2),
            contrib AS (
              SELECT event_type, day + off AS day, user_id
              FROM act, unnest(range(0, 7)) AS t(off)),
            wau AS (
              SELECT c.event_type, c.day, count(DISTINCT c.user_id) AS wau
              FROM contrib c
              JOIN anchors a ON a.event_type = c.event_type AND a.day = c.day
              GROUP BY 1, 2)
            SELECT d.event_type, CAST(d.day AS BIGINT) AS day, d.dau, w.wau,
              (d.dau * 1000) // w.wau AS stickiness_milli
            FROM dau d JOIN wau w
              ON w.event_type = d.event_type AND w.day = d.day"""))

  // time-to-convert: first signup -> first later purchase per user;
  // totals/max/median delay in exact integer micros (median is a rank
  // selection over the bounded converted-user table)
  private val funnelTimeStatsQ = Q(
    "funnel_time_stats",
    (s, d) => EventAnalytics.funnelTimeStats(events(s, d), "user_id",
      "ts", "event_type", "signup", "purchase"),
    Some("""WITH f AS (
              SELECT user_id, min(ts) AS t_from FROM events
              WHERE event_type = 'signup' GROUP BY 1),
            c AS (
              SELECT e.user_id, f.t_from, min(e.ts) AS t_to
              FROM events e JOIN f USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > f.t_from
              GROUP BY 1, 2),
            dl AS (
              SELECT user_id,
                epoch_us(t_to) - epoch_us(t_from) AS delay_us
              FROM c),
            r AS (
              SELECT delay_us, row_number() OVER (ORDER BY delay_us) AS rn,
                count(*) OVER () AS n
              FROM dl)
            SELECT count(*) AS n_converted,
              CAST(sum(delay_us) AS BIGINT) AS total_delay_us,
              max(delay_us) AS max_delay_us,
              max(CASE WHEN rn = (n * 500 + 999) // 1000 THEN delay_us END)
                AS p500_delay_us
            FROM r"""))

  // BPE merge-table APPLY: the ordered replace-chain over double-space
  // symbol separators (collision-free, so both engines' replace agree),
  // emitting the resulting subword vocabulary stats; the merge list is
  // a static config like the funnel step list
  private val bpeEncodeQ = Q(
    "bpe_encode_stats",
    (s, d) => TextAnalysis.bpeEncode(documents(s, d), "text",
      Seq("t" -> "h", "th" -> "e", "a" -> "n", "an" -> "d", "i" -> "n",
        "e" -> "r", "o" -> "n", "r" -> "e")),
    Some("""WITH words AS (
              SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                AS w
              FROM documents),
            wf AS (SELECT w FROM words WHERE length(w) >= 1),
            sym AS (
              SELECT w,
                replace(replace(replace(replace(replace(replace(replace(
                  replace(
                    '  ' || regexp_replace(w, '(.)', '\1  ', 'g'),
                  ' t  h ', ' th '),
                  ' th  e ', ' the '),
                  ' a  n ', ' an '),
                  ' an  d ', ' and '),
                  ' i  n ', ' in '),
                  ' e  r ', ' er '),
                  ' o  n ', ' on '),
                  ' r  e ', ' re ') AS m
              FROM wf),
            toks AS (
              SELECT w,
                unnest(string_split_regex(trim(m), '\s+')) AS token
              FROM sym)
            SELECT token, count(*) AS n_occ,
              count(DISTINCT w) AS n_words
            FROM toks GROUP BY 1"""))

  // TPC-H Q15-shaped argmax with ties: top supplier(s) by quarterly
  // revenue in EXACT integer units (cents x (100 - discount cents), the
  // half-up integerization both engines compute identically), so the
  // max selection and any ties are engine-exact rather than
  // FP-accumulation-ordered
  private val q15TopSupplierQ = Q(
    "q15_top_supplier",
    (s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1995-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
          .as("total_revenue_unit"))
      val mx = rev.agg(max(col("total_revenue_unit")).as("m"))
      val winners = rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue_unit") === col("m"))
      broadcast(winners)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_unit"))
    },
    Some("""WITH rev AS (
              SELECT l_suppkey,
                sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                  AS total_revenue_unit
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
              GROUP BY 1),
            mx AS (SELECT max(total_revenue_unit) AS m FROM rev)
            SELECT s_suppkey, s_name,
              CAST(total_revenue_unit AS BIGINT) AS total_revenue_unit
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            CROSS JOIN mx
            WHERE total_revenue_unit = m"""))

  // watermark-tuning histogram: per-stream lateness vs the running
  // event-time high-water mark in ARRIVAL order, bucketed to 10 min —
  // the loss-vs-latency curve withWatermark(X) prices; exact micros.
  // The harness stream is perfectly ordered, so arrival is modeled as
  // deterministic ingest jitter (event_id + (event_id % 7) * 6 — events
  // jump ahead by up to 36 sequence slots), which spreads real mass
  // across ~17 buckets at sf0.01. The jittered sequence COLLIDES
  // (ids within 36 of each other can land on one slot), and
  // latenessProfile's arrival window requires a TOTAL order — a tie
  // would leave the preceding-row hwm engine-defined (it did, at the
  // sf1 ledger: 6 events flipped) — so the arrival key composes the
  // slot with the id, (slot * 10^8 + event_id): same arrival order,
  // id-tiebroken, unique for any harness corpus with event_id < 10^8
  private val latenessProfileQ = Q(
    "event_lateness_profile",
    (s, d) => EventAnalytics.latenessProfile(
      events(s, d).withColumn("arrival_seq",
        (col("event_id") + (col("event_id") % 7) * 6) * 100000000L
          + col("event_id")),
      "user_id", "ts", "arrival_seq", bucketMinutes = 10L),
    Some("""WITH t AS (
              SELECT epoch_us(ts) AS tu,
                max(epoch_us(ts)) OVER (PARTITION BY user_id
                  ORDER BY (event_id + (event_id % 7) * 6) * 100000000
                    + event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
              FROM events),
            l AS (SELECT greatest(0, hwm - tu) AS lateness_us FROM t)
            SELECT lateness_us // 600000000 AS lateness_bucket,
              count(*) AS n_events, max(lateness_us) AS max_lateness_us
            FROM l GROUP BY 1"""))

  // nucleus top-p curation: keep the highest-scoring head carrying 90%
  // of each type's integerized score mass; the keep test is the
  // cross-multiplied fraction (1000*prefix < 900*total), so membership
  // and the boundary-straddling row are engine-exact
  private val nucleusTopPQ = Q(
    "nucleus_topp_filter",
    (s, d) => graft.ops.Splits.nucleusTopP(
      events(s, d).select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("score_cents")),
      "event_id", "score_cents", "event_type", permille = 900),
    Some("""WITH sc AS (
              SELECT event_id, event_type,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS score_cents
              FROM events),
            wn AS (
              SELECT event_id, event_type, score_cents,
                coalesce(sum(score_cents) OVER (PARTITION BY event_type
                  ORDER BY score_cents DESC, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS pre,
                sum(score_cents) OVER (PARTITION BY event_type) AS total
              FROM sc)
            SELECT event_id, event_type, score_cents,
              CAST(pre AS BIGINT) AS pre, CAST(total AS BIGINT) AS total
            FROM wn WHERE pre * 1000 < total * 900"""))

  // bounded synchronous label propagation over the circulant graph
  // (3 rounds, mode label with smallest-label ties); the oracle unrolls
  // the rounds with a row_number argmax per vertex
  private val labelPropagationQ = Q(
    "label_propagation",
    (s, d) => {
      val (_, edges) = partGraph(s, d)
      Graph.labelPropagation(edges, "src", "dst", rounds = 3)
    },
    Some(duckPartCanon + """,
            adj AS (
              SELECT u AS a, v AS b FROM canon
              UNION ALL SELECT v, u FROM canon),
            l0 AS (SELECT DISTINCT a AS vertex, a AS label FROM adj),
            r1 AS (
              SELECT adj.b AS vx, l0.label, count(*) AS n
              FROM l0 JOIN adj ON adj.a = l0.vertex GROUP BY 1, 2),
            l1 AS (
              SELECT vx AS vertex, label FROM (
                SELECT vx, label, row_number() OVER (PARTITION BY vx
                  ORDER BY n DESC, label) AS rk FROM r1)
              WHERE rk = 1),
            r2 AS (
              SELECT adj.b AS vx, l1.label, count(*) AS n
              FROM l1 JOIN adj ON adj.a = l1.vertex GROUP BY 1, 2),
            l2 AS (
              SELECT vx AS vertex, label FROM (
                SELECT vx, label, row_number() OVER (PARTITION BY vx
                  ORDER BY n DESC, label) AS rk FROM r2)
              WHERE rk = 1),
            r3 AS (
              SELECT adj.b AS vx, l2.label, count(*) AS n
              FROM l2 JOIN adj ON adj.a = l2.vertex GROUP BY 1, 2),
            l3 AS (
              SELECT vx AS vertex, label FROM (
                SELECT vx, label, row_number() OVER (PARTITION BY vx
                  ORDER BY n DESC, label) AS rk FROM r3)
              WHERE rk = 1)
            SELECT vertex, label FROM l3"""))

  // seasonal-naive baseline error (the MASE denominator): day-over-
  // 7-days-ago absolute error of daily cent totals per event_type;
  // unmatched lag periods are unscored (inner season join)
  private val seasonalNaiveErrorQ = Q(
    "seasonal_naive_error",
    (s, d) => TimeSeries.seasonalNaiveError(events(s, d), "event_type",
      "ts", floor(col("value") * 100 + 0.5).cast("long"), seasonDays = 7),
    Some("""WITH daily AS (
              SELECT event_type,
                datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS actual
              FROM events GROUP BY 1, 2),
            lagged AS (
              SELECT event_type, day + 7 AS day, actual AS forecast
              FROM daily)
            SELECT d.event_type, count(*) AS n_scored,
              CAST(sum(abs(d.actual - l.forecast)) AS BIGINT)
                AS total_abs_err,
              CAST(max(abs(d.actual - l.forecast)) AS BIGINT)
                AS max_abs_err,
              CAST(sum(d.actual) AS BIGINT) AS total_actual
            FROM daily d
            JOIN lagged l ON l.event_type = d.event_type AND l.day = d.day
            GROUP BY 1"""))

  // interpolated (type-7) quantiles made engine-exact: the rank/frac
  // formula is spelled out identically on both sides instead of
  // trusting either builtin's variant — IEEE ops on selected values
  private val quantileContQ = Q(
    "quantile_cont_agg",
    (s, d) => graft.ops.Features.quantilesCont(events(s, d), "event_type",
      "value", Seq(250, 500, 750)),
    Some("""WITH r AS (
              SELECT event_type, value,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM events WHERE value IS NOT NULL),
            a AS (
              SELECT event_type,
                max(CASE WHEN rn = ((n - 1) * 250) // 1000 + 1
                  THEN value END) AS lo250,
                max(CASE WHEN rn = ((n - 1) * 250) // 1000 + 2
                  THEN value END) AS hi250,
                max(((n - 1) * 250) % 1000) AS f250,
                max(CASE WHEN rn = ((n - 1) * 500) // 1000 + 1
                  THEN value END) AS lo500,
                max(CASE WHEN rn = ((n - 1) * 500) // 1000 + 2
                  THEN value END) AS hi500,
                max(((n - 1) * 500) % 1000) AS f500,
                max(CASE WHEN rn = ((n - 1) * 750) // 1000 + 1
                  THEN value END) AS lo750,
                max(CASE WHEN rn = ((n - 1) * 750) // 1000 + 2
                  THEN value END) AS hi750,
                max(((n - 1) * 750) % 1000) AS f750
              FROM r GROUP BY 1)
            SELECT event_type,
              CASE WHEN f250 = 0 THEN lo250
                ELSE lo250 + (hi250 - lo250) * (f250 / 1000.0) END
                AS p250_cont,
              CASE WHEN f500 = 0 THEN lo500
                ELSE lo500 + (hi500 - lo500) * (f500 / 1000.0) END
                AS p500_cont,
              CASE WHEN f750 = 0 THEN lo750
                ELSE lo750 + (hi750 - lo750) * (f750 / 1000.0) END
                AS p750_cont
            FROM a"""))

  // exact per-group mode with deterministic ties (smallest key wins):
  // the modal weekday (Sunday-based 1..7) per type — peak-traffic; a
  // sort-free min_by argmax over the tiny (type, dow) count table
  private val modalDowQ = Q(
    "modal_day_of_week",
    (s, d) => events(s, d)
      .groupBy(col("event_type"),
        dayofweek(col("ts")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(min_by(col("dow"), struct((-col("n")).as("neg_n"),
        col("dow").as("d"))).as("modal_dow"),
        max(col("n")).as("n_events")),
    Some("""WITH c AS (
              SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS n
              FROM events GROUP BY 1, 2),
            r AS (
              SELECT event_type, dow, n,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY n DESC, dow) AS rk
              FROM c)
            SELECT event_type, CAST(dow AS BIGINT) AS modal_dow,
              CAST(n AS BIGINT) AS n_events
            FROM r WHERE rk = 1"""))

  /** Ordered registry — the single source of truth for SparkEntry. */
  val all: Seq[Q] = Seq(
    s1DiscoverScan, s1DiscoverDsv2, s2PointLookup, c1CleanProject, nullLogic,
    c2CleanCollection, c3CleanCompany, c4CleanPerson,
    c5GenderDecode, c6DeptRoute,
    c7ExplodeBridge, c8Regroup, j1SemiProbe, j2AntiProbe, j3EdgeBuild, j4Hierarchy,
    j4HierarchyRcte,
    s4DimensionSeed, k8CascadeDelete,
    asofJoin, asofForward, rangeJoin,
    q1Agg, q3TopkJoin, q5JoinChain, havingAgg, casePivot,
    aggDistinct, percentileAgg, sketchAgg, sketchHllDistinct, sketchCmsFreq,
    sketchMgTopk, sketchKmvDistinct, sketchKmvIntersect, sketchJoinSize, topkRankRewrite, topkRankAgg,
    momentStats, statsProfile,
    histogramFixed,
    histogramEquidepth,
    windowRank, windowRunning,
    windowAnalytics, topkSort,
    setOps, setopAllQ, giniDispersionQ, rollupAgg, cubeAgg, groupingSets, unpivotMeasures, arrayFuncs,
    stringFuncs, dateParts,
    skewSaltedAgg, skewSaltedJoin,
    incrWindow, sessionize, sessionStats, weeklyAgg, weeklyGrowthQ, trimmedMeanQ, incrWeeklyMerge,
    incrBloomDedup, incrSessionStream, jsonlRoundtrip,
    parseRatings,
    parseRatingsDom, htmlCorpusText, htmlOutlinks, urlNormalize,
    pagerankScaled, pagerankWeightedQ, personalizedPagerank, hitsScores, textrankKeywordsQ,
    scoreWeightedSample, jsonExtract,
    dedupExact, dedupKeepBest, dedupSpanExact, dedupSpanMaximal,
    dedupSpanExcise, dedupCrossSource,
    dedupJaccard, dedupMinhash,
    dedupSimhash, incrMinhash, incrSimhash, dedupClusters, dedupClusterReps,
    dedupEmbedding, dedupSemantic,
    annBrute, annTopkOperator, annBinaryHamming, annRecallAudit, knnGraph, hardNegatives, annIvf, annLsh, annLshIndexed, embQuantize,
    embPqCodes, annPqAdc, embRandomProjection, pcaTopDirection,
    textLangid, textLangConsistency, textQuality, gopherQuality, featureHashBow, qualityScoreLinear,
    dedupLinesWithinDocQ, textRepetition,
    textTokens, textFingerprint,
    textTfidf, textRedact, vocabCoverage, chunkTokens,
    bm25Topk, bm25TopkIndexed, invertedIndexQ, ccnetPplBucket, urlBlocklist,
    cdcApply,
    setsimPrefixJoin, containmentJoinQ, marginMineBitext, marginMineAnnQ,
    marginMineAnnAutoQ,
    bpePairStatsQ, resampleOhlcQ,
    triangleCountQ, cooccurrenceLiftQ, bigramLmQ, hoppingWindowQ,
    funnelConversionQ, funnelUnorderedQ, retentionCohortsQ, eventTransitionsQ,
    commonNeighborsQ, linkPredRaQ, schemaEvolutionQ, incrStreamDedup, incrStreamJoin,
    incrStreamOuterJoin, incrRunningTotals, incrStreamTopk, ivmAggMaintain, ivmJoinMaintain,
    textNfcNormalize,
    imageAHashDedupQ, bitmapDistinctQ, audienceOverlapQ, q7NationVolume,
    bfsHopsQ, scd2PitJoinQ, videoFrameStatsQ, ssspBoundedQ,
    quantileDiscQ, paretoFrontQ, segmentDwellQ, sessionJourneysQ,
    corpusSample, corpusQualityFilter,
    splitHash, leakageSafeSplitQ, mixtureWeighted, mixtureSqrt, prioritySampleQ, stratifiedSample, packSequences,
    lengthBucketBatchesQ, orcRoundtrip, qualityQuantileNorm,
    tokenBudgetCap, rollingRangeWindow,
    decontaminate, embeddingDimStats, snapshotDiff, bloomSemiJoinQ,
    mergeUpsertQ, bucketedJoinColocated, crawlFrontier,
    partitionPrunedScan, zonemapPrunedScan, tableTimeTravel,
    mergeUpsertPartitionedQ,
    compactRoundtrip,
    gapfillLocf, scd2History, winsorizeClip, minmaxScale, zorderValue,
    hilbertValue,
    erFuzzyPairs, dqExpectations, dqProfile,
    multimodalFeatures, multimodalDecodeStats,
    activityStreaksQ, lastTouchQ, positionAttributionQ, maxConcurrencyQ, kCoreQ, q17SmallQtyQ,
    robustOutliersMadQ, cusumDriftQ, trendOlsQ, rollingCovarianceQ, benfordProfileQ, decileBinQ, histogramDriftQ, intervalCoverageQ, rollingDistinctQ, stickinessQ, seasonalResidualQ,
    funnelTimeStatsQ, bpeEncodeQ, q15TopSupplierQ,
    latenessProfileQ, nucleusTopPQ, labelPropagationQ,
    seasonalNaiveErrorQ, quantileContQ, modalDowQ)
}
