package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Clean, Sinks}
import graft.pipeline.MovieGraph
import graft.schema.TmdbCorpus

/** End-to-end: corpus documents -> cleaned -> full node/edge graph ->
  * idempotent parquet sink. The set-oriented twin of the reference's
  * whole flow DAG (F1-F10).
  */
class PipelineSpec extends SparkTestBase {

  lazy val graph: MovieGraph.GraphTables = MovieGraph.build(
    spark,
    Clean.movieDetails(TmdbCorpus.movies(spark)),
    TmdbCorpus.collections(spark),
    TmdbCorpus.companies(spark),
    TmdbCorpus.persons(spark))

  test("build leaves no cached relation behind") {
    spark.catalog.clearCache()
    MovieGraph.build(spark, Clean.movieDetails(TmdbCorpus.movies(spark)),
      TmdbCorpus.collections(spark), TmdbCorpus.companies(spark), TmdbCorpus.persons(spark))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("node tables: keys unique, only referenced collections fetched") {
    assert(graph.nodes("Movie").count() == 3)
    // collection 901 exists in the corpus but no movie references it (F3 guard)
    assert(graph.nodes("Collection").count() == 1)
    assert(graph.nodes("Person").count() == 7)
    graph.nodes.foreach { case (label, df) =>
      val key = Sinks.movieGraphKeys(label)
      assert(df.count() == df.select(key).distinct().count(), s"$label keys must be unique")
    }
  }

  test("edge tables: endpoint validation and props") {
    // movie 101 -> collection 900 is the only PART_OF (102/103 have none)
    assert(graph.edges("PART_OF_movie").count() == 1)
    // company 21 -> 20 present; 20 -> 10 present; 10,30 have no parent
    assert(graph.edges("PART_OF_company").count() == 2)
    // genres: (101:18,878), (102:35) — all in the Genre dim
    assert(graph.edges("HAS_GENRE").count() == 3)
    // languages en,fr both in dim
    assert(graph.edges("HAS_LANGUAGE").count() == 3)
    // PRODUCED_BY: 101->(10,21), 102->30 = 3
    assert(graph.edges("PRODUCED_BY").count() == 3)
    // BASED_ON: 21->GB, 20->GB, 10->US (30 has null country) = 3
    assert(graph.edges("BASED_ON").count() == 3)
    // ACTED_IN: 3 cast rows across movies
    assert(graph.edges("ACTED_IN").count() == 3)
    val crew = graph.edges("CREW")
    assert(crew.select("rel_type").distinct().count() == 4) // Directing/Writing/Sound/Editing
    assert(crew.count() == 4)
    // AVAILABLE_ON carries (regions, type) props; (101,8) subscription has 2 regions
    val avail = graph.edges("AVAILABLE_ON")
    val sub8 = avail.filter(col("movie_id") === 101 && col("provider_id") === 8).collect().head
    assert(sub8.getAs[scala.collection.Seq[String]]("regions").sorted == Seq("FR", "US"))
  }

  test("relationship ids synthesized as head-tail") {
    val ids = graph.edges("HAS_GENRE").select("relationship_id")
      .collect().map(_.getString(0)).toSet
    assert(ids == Set("101-18", "101-878", "102-35"))
  }

  test("graph sink is idempotent across re-runs (K3/K4)") {
    val dir = Files.createTempDirectory("graft_graph_").toString
    Sinks.writeGraph(graph, dir, Sinks.movieGraphKeys)
    val after1 = spark.read.parquet(s"$dir/nodes_Movie").count()
    val edges1 = spark.read.parquet(s"$dir/edges_HAS_GENRE").count()
    // replay the identical batch — the weekly-overlap scenario
    Sinks.writeGraph(graph, dir, Sinks.movieGraphKeys)
    assert(spark.read.parquet(s"$dir/nodes_Movie").count() == after1)
    assert(spark.read.parquet(s"$dir/edges_HAS_GENRE").count() == edges1)
  }

  test("company ancestry is emitted root-first") {
    val anc = MovieGraph.companyAncestry(TmdbCorpus.companies(spark)).collect()
    assert(anc.head.getInt(2) == 2, "deepest ancestor (root link) first")
    assert(anc.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((21L, 20L, 1), (20L, 10L, 1), (21L, 10L, 2)))
  }
}
