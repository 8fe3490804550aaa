package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Clean, Graph}
import graft.plans.Materialize.CheckpointOps
import graft.schema.Dimensions

/** The end-to-end knowledge-graph build (SURVEY.md §2.4 flows F1-F10),
  * fully set-oriented: the reference's per-movie coroutine fan-out
  * becomes column-parallel derivations of one cleaned DataFrame, and its
  * per-row Cypher CREATEs become node/edge table builds.
  *
  * Output model: one DataFrame per node label (keyed, deduped) and one
  * per relationship type (relationship_id + optional props) — the
  * GraphFrames-style vertex/edge tables SURVEY.md §1.1 maps the property
  * graph onto. The 11 crew relationship types live in ONE DataFrame with
  * a rel_type column (partition-by-value, not 11 physical plans), exactly
  * as the reference routes them through one lookup (etl_flow.py:504-512).
  *
  * Scale: every dim-side join broadcasts (Genre/Language/Country/Provider
  * are static seeds); fact-side joins key on ids; nothing collects to the
  * driver except the J4 fixpoint loop control.
  */
object MovieGraph {

  case class GraphTables(nodes: Map[String, DataFrame], edges: Map[String, DataFrame])

  /** Assemble the full graph from cleaned documents. `movies` is the C1
    * output; others are C2/C3/C4 outputs.
    */
  def build(spark: SparkSession, cleanedMovies: DataFrame, collections: DataFrame,
            companies: DataFrame, persons: DataFrame): GraphTables = {
    // every node and edge table reads the cleaned movies: land them once
    val movies = cleanedMovies.checkpointAt("MovieGraph.build.movies")

    // ---- node tables (K3 semantics: keyed, first-write-wins dedup) ----
    val movieNodes = movies.select("movie_id", "title", "overview", "release_date",
      "popularity", "budget", "revenue", "runtime").dropDuplicates("movie_id")
    // F3: only collections actually referenced by a movie are fetched
    val collectionNodes = Graph.existing(
      Clean.collectionDetails(collections),
      movies.filter(col("collection_id").isNotNull)
        .select(col("collection_id")), "collection_id")
      .dropDuplicates("collection_id")
    val companyNodes = Clean.companyDetails(companies)
      .select("company_id", "name", "head_quarters").dropDuplicates("company_id")
    // F7: Person dim = cast union crew (detail fetch adds nothing the edges
    // need — the reference loads only id/name/gender, etl_flow.py:439-448)
    val personNodes = Clean.personDim(movies)
    val dims = Map(
      "Genre" -> Dimensions.genres(spark),
      "Language" -> Dimensions.languages(spark),
      "Country" -> Dimensions.countries(spark),
      "WatchProvider" -> Dimensions.watchProviders(spark))

    // ---- edge tables (J3/K4: endpoint-validated, id-deduped) ----
    val companyClean = Clean.companyDetails(companies)

    val partOfMovie = Graph.buildEdges(
      movies.filter(col("collection_id").isNotNull).select("movie_id", "collection_id"),
      movieNodes, collectionNodes, "movie_id", "collection_id", "PART_OF")

    // Company->Company PART_OF via key remap (etl_flow.py:405-414)
    val partOfCompany = Graph.buildEdges(
      companyClean.filter(col("parent_company_id").isNotNull)
        .select(col("company_id"), col("parent_company_id").as("parent_id")),
      companyNodes, companyNodes.select(col("company_id").as("parent_id")),
      "company_id", "parent_id", "PART_OF")

    val hasGenre = Graph.buildEdges(Clean.genreBridge(movies),
      movieNodes, dims("Genre"), "movie_id", "genre_id", "HAS_GENRE",
      broadcastTails = true)
    val hasLanguage = Graph.buildEdges(Clean.languageBridge(movies),
      movieNodes, dims("Language"), "movie_id", "language_id", "HAS_LANGUAGE",
      broadcastTails = true)
    val producedIn = Graph.buildEdges(Clean.countryBridge(movies),
      movieNodes, dims("Country"), "movie_id", "country_id", "produced_in",
      broadcastTails = true)
    val producedBy = Graph.buildEdges(
      movies.select(col("movie_id"), explode(col("production_companies")).as("company_id")),
      movieNodes, companyNodes, "movie_id", "company_id", "PRODUCED_BY")
    val basedOn = Graph.buildEdges(
      companyClean.filter(col("country_id").isNotNull).select("company_id", "country_id"),
      companyNodes, dims("Country"), "company_id", "country_id", "BASED_ON",
      broadcastTails = true)

    // F5 AVAILABLE_ON with {region: array, type} props, empty regions pruned
    val availableOn = Clean.watchProvidersRegrouped(movies)
      .filter(size(col("regions")) > 0)
      .join(broadcast(dims("WatchProvider").select("provider_id")), Seq("provider_id"), "left_semi")
      .join(movieNodes.select("movie_id"), Seq("movie_id"), "left_semi")
      .withColumn("relationship_id",
        graft.functions.GraftFunctions.relationshipId(col("movie_id"), col("provider_id")))
      .withColumn("rel_type", lit("AVAILABLE_ON"))
      .dropDuplicates("relationship_id", "type")

    // F7 ACTED_IN (Person->Movie) with optional role prop
    val actedIn = Clean.castExplode(movies)
      .select(col("person_id"), col("movie_id"), col("role"))
      .join(personNodes.select("person_id"), Seq("person_id"), "left_semi")
      .join(movieNodes.select("movie_id"), Seq("movie_id"), "left_semi")
      .dropDuplicates("person_id", "movie_id")
      .withColumn("relationship_id",
        graft.functions.GraftFunctions.relationshipId(col("person_id"), col("movie_id")))
      .withColumn("rel_type", lit("ACTED_IN"))

    // F7 crew edges: Movie->Person routed into 11 types by department
    val crewEdges = Clean.crewExplode(movies)
      .filter(col("rel_type").isNotNull)
      .select(col("movie_id"), col("person_id"), col("job"), col("rel_type"))
      .join(personNodes.select("person_id"), Seq("person_id"), "left_semi")
      .join(movieNodes.select("movie_id"), Seq("movie_id"), "left_semi")
      .dropDuplicates("rel_type", "movie_id", "person_id")
      .withColumn("relationship_id",
        graft.functions.GraftFunctions.relationshipId(col("movie_id"), col("person_id")))

    GraphTables(
      nodes = dims ++ Map(
        "Movie" -> movieNodes, "Collection" -> collectionNodes,
        "Company" -> companyNodes, "Person" -> personNodes),
      edges = Map(
        "PART_OF_movie" -> partOfMovie, "PART_OF_company" -> partOfCompany,
        "HAS_GENRE" -> hasGenre, "HAS_LANGUAGE" -> hasLanguage,
        "produced_in" -> producedIn, "PRODUCED_BY" -> producedBy,
        "BASED_ON" -> basedOn, "AVAILABLE_ON" -> availableOn,
        "ACTED_IN" -> actedIn, "CREW" -> crewEdges))
  }

  /** Company ancestor expansion (J4) as part of the pipeline: returns the
    * closure table root-first (depth descending == topological insert
    * order of the reference's reversed while-loop, etl_flow.py:375-383).
    */
  def companyAncestry(companies: DataFrame): DataFrame = {
    val edges = Clean.companyDetails(companies)
      .filter(col("parent_company_id").isNotNull)
      .select(col("company_id").as("child"), col("parent_company_id").as("parent"))
    Graph.ancestorClosure(edges).orderBy(col("depth").desc)
  }
}
