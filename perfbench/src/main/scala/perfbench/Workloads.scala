package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.operators.{Clean, Graph, Sinks}
import graft.pipeline.MovieGraph
import graft.schema.TmdbCorpus

/** One benchmark operation. `construct` is the public call (everything
  * it does eagerly counts as construction); the harness then consumes
  * and fingerprints every returned output (the action).
  *
  * `module` is the engine module of the op's main operator, used to
  * roll per-op time up by operator family; `graph` marks the ops that
  * go through an adaptive `operators.Graph` loop.
  */
final case class Op(name: String, module: String, graph: Boolean,
                    construct: Ctx => Seq[(String, DataFrame)])

/** What an op may touch: the session, the generated inputs and a fresh
  * directory for anything it writes.
  */
final case class Ctx(spark: SparkSession, dataDir: String, outDir: String)

object Workloads {

  private def query(name: String, module: String, graph: Boolean = false): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, module, graph, c => Seq(name -> fn(c.spark, c.dataDir)))
  }

  /** The paper's pipeline: discover, clean, bridge, hierarchy, parse —
    * 25 queries over the harness tables. `kg_etl` adds the hierarchy's
    * above-threshold twin from [[graphRounds]] (see [[ops]]).
    */
  val kgEtl: Seq[Op] = Seq(
    query("s1_discover_scan", "operators.Discover"),
    query("s1_discover_dsv2", "sources.DiscoverDataSource"),
    query("s2_point_lookup", "operators.Discover"),
    query("c1_clean_project", "operators.Clean"),
    query("null_logic", "operators.Clean"),
    query("c2_clean_collection", "operators.Clean"),
    query("c3_clean_company", "operators.Clean"),
    query("c4_clean_person", "operators.Clean"),
    query("c5_gender_decode", "functions.GraftFunctions"),
    query("c6_dept_route", "functions.GraftFunctions"),
    query("c7_explode_bridge", "operators.Clean"),
    query("c8_regroup", "operators.Graph"),
    query("j1_semi_probe", "operators.Graph"),
    query("j2_anti_probe", "operators.Graph"),
    query("j3_edge_build", "operators.Graph"),
    query("j4_hierarchy", "operators.Graph", graph = true),
    query("j4_hierarchy_rcte", "operators.Graph"),
    query("s4_dimension_seed", "schema.Dimensions"),
    query("k8_cascade_delete", "operators.Graph"),
    query("parse_ratings", "operators.Ratings"),
    query("parse_ratings_dom", "functions.Html"),
    query("html_corpus_text", "functions.Html"),
    query("html_outlinks", "functions.Html"),
    query("url_normalize", "ops.Urls"),
    query("json_extract", "functions.Expressions"))

  /** The knowledge-graph build over the cleaned TMDB corpus, written
    * through the idempotent sinks into a fresh directory; the outputs
    * are the written tables, read back. Part of the `kg_load` workload.
    */
  val kgBuild: Op = Op("kg_build", "pipeline.MovieGraph", graph = false, c => {
    val s = c.spark
    val tables = MovieGraph.build(s, Clean.movieDetails(TmdbCorpus.movies(s)),
      TmdbCorpus.collections(s), TmdbCorpus.companies(s), TmdbCorpus.persons(s))
    Sinks.writeGraph(tables, c.outDir, Sinks.movieGraphKeys)
    (tables.nodes.keys.map(k => s"nodes_$k") ++ tables.edges.keys.map(k => s"edges_$k"))
      .toSeq.sorted.map(d => d -> s.read.parquet(s"${c.outDir}/$d"))
  })

  /** The training-data batch: dedup, set-similarity joins, ER, splits. */
  val corpusDedup: Seq[Op] = Seq(
    query("dedup_exact", "ops.Dedup"),
    query("dedup_keep_best", "ops.Dedup"),
    query("dedup_minhash_lsh", "ops.Dedup"),
    query("dedup_simhash", "ops.Dedup"),
    query("dedup_ngram_jaccard", "ops.Dedup"),
    query("dedup_clusters", "ops.Dedup", graph = true),
    query("dedup_cluster_reps", "ops.Dedup", graph = true),
    query("dedup_cross_source", "ops.Dedup"),
    query("dedup_span_exact", "ops.Dedup"),
    query("setsim_prefix_join", "ops.Dedup"),
    query("setsim_containment_join", "ops.Dedup"),
    query("er_fuzzy_pairs", "operators.Resolve"),
    query("leakage_safe_split", "ops.Splits"),
    query("pareto_front", "ops.Features"),
    query("ann_lsh_topk", "ops.Similarity"),
    query("knn_graph_blocked", "ops.Similarity"))

  /** The write side: a micro-batch merge, a state-store aggregation, a
    * keyed upsert, a compaction and a JSONL round trip — state-store
    * commits, checkpoint WAL and file commits.
    */
  val incrementalWrites: Seq[Op] = Seq(
    query("incr_weekly_merge", "streaming.Incremental"),
    query("incr_running_totals", "streaming.Stateful"),
    query("merge_upsert", "operators.Sinks"),
    query("compact_roundtrip", "operators.Sinks"),
    query("jsonl_roundtrip", "operators.Sinks"))

  /** The other eight write-side queries; with `incrementalWrites` they
    * make the `incremental_writes_full` workload.
    */
  val incrementalWritesRest: Seq[Op] = Seq(
    query("incr_stream_join", "streaming.Incremental"),
    query("incr_stream_outer_join", "streaming.Incremental"),
    query("incr_stream_dedup", "streaming.Incremental"),
    query("incr_stream_topk", "streaming.Stateful"),
    query("incr_bloom_dedup", "streaming.Incremental"),
    query("incr_session_stream", "streaming.Sessionize"),
    query("merge_upsert_partitioned", "operators.Sinks"),
    query("cdc_apply", "ops.TimeSeries"))

  /** Direct calls to the iterative graph operators on the seeded graph.
    * `driverRows` below the edge count keeps every call on the
    * distributed per-round loop; the correctness twin raises it above
    * the input size, which forces the driver path.
    */
  def graphRounds(driverRows: Int): Seq[Op] = {
    def in(c: Ctx, t: String): DataFrame = c.spark.read.parquet(s"${c.dataDir}/$t.parquet")
    def op(name: String)(f: Ctx => DataFrame): Op =
      Op(name, "operators.Graph", graph = true, c => Seq(name -> f(c)))
    Seq(
      op("connected_components")(c =>
        Graph.connectedComponents(in(c, "graph_edges"), driverRows = driverRows)),
      op("pagerank_scaled")(c =>
        Graph.pageRankScaled(in(c, "graph_edges"), in(c, "graph_nodes"),
          driverRows = driverRows)),
      op("label_propagation")(c =>
        Graph.labelPropagation(in(c, "graph_edges"), "src", "dst", rounds = 3,
          driverRows = driverRows)),
      op("bfs_hops")(c =>
        Graph.bfsHops(in(c, "graph_edges"), "src", "dst", in(c, "graph_seeds"), "n",
          maxHops = 3, driverRows = driverRows)),
      op("k_core")(c =>
        Graph.kCore(in(c, "graph_edges"), "src", "dst", k = 3L, rounds = 3,
          driverRows = driverRows)),
      op("ancestor_closure")(c =>
        Graph.ancestorClosure(in(c, "graph_dag"), maxDepth = 4, driverRows = driverRows)))
  }

  /** The names of the ops on the seeded graph: their reference is the
    * driver-path twin of the same seed, not `reference.json`.
    */
  val seededGraph: Set[String] = graphRounds(0).map(_.name).toSet

  /** `kg_etl` and `incremental_writes` are the timed workloads; the
    * others run the same way by hand (see NOTES.md). `kg_etl` carries
    * one distributed graph loop: the ancestor closure of `j4_hierarchy`
    * on the seeded DAG, above `driverRows`.
    */
  def ops(workload: String, graphDriverRows: Int): Seq[Op] = workload match {
    case "kg_etl" => kgEtl ++ graphRounds(graphDriverRows).filter(_.name == "ancestor_closure")
    case "incremental_writes" => incrementalWrites
    case "kg_load" => ops("kg_etl", graphDriverRows) :+ kgBuild
    case "corpus_dedup" => corpusDedup
    case "incremental_writes_full" => incrementalWrites ++ incrementalWritesRest
    case "graph_rounds" => graphRounds(graphDriverRows)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
