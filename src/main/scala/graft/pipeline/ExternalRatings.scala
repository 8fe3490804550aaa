package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ratings
import graft.plans.Materialize.CheckpointOps

/** F9 external_data_flow (/root/reference/src/movie_etl/flows/etl_flow.py:119-222):
  * wikidata page -> external ids -> three scrape/clean chains, each detail
  * row widened with the owning movie_id (the reference's dict-union at
  * etl_flow.py:166,193,220). Dormant in the reference (call site commented
  * out) but fully implemented there and here.
  *
  * Set-oriented shape: one extraction pass per source table, then inner
  * joins on the external id — a movie whose page failed to parse simply
  * drops out of that source's detail table (the reference's None-guard
  * branches, etl_flow.py:154-160).
  */
object ExternalRatings {

  case class RatingsTables(imdb: DataFrame, metacritic: DataFrame, rottenTomatoes: DataFrame)

  /** `wikidataPages`: (movie_id, html). Source page tables: (id, html)
    * keyed by their external id column name.
    */
  def assemble(wikidataPages: DataFrame, imdbPages: DataFrame,
               metacriticPages: DataFrame, rtPages: DataFrame): RatingsTables = {
    // three joins read the id table: extract it once, eagerly
    val ids = Ratings.wikidataIds(wikidataPages, "movie_id")
      .checkpointAt("ExternalRatings.assemble.ids")

    val imdb = Ratings.imdbRatings(imdbPages, "imdb_id")
      .join(ids.filter(col("imdb_id").isNotNull).select("movie_id", "imdb_id"), "imdb_id")
    val metacritic = Ratings.metacriticRatings(metacriticPages, "metacritic_id")
      .join(ids.filter(col("metacritic_id").isNotNull).select("movie_id", "metacritic_id"),
        "metacritic_id")
    val rt = Ratings.rottenTomatoesRatings(rtPages, "rotten_tomatoes_id")
      .join(ids.filter(col("rotten_tomatoes_id").isNotNull)
        .select("movie_id", "rotten_tomatoes_id"), "rotten_tomatoes_id")

    RatingsTables(imdb, metacritic, rt)
  }
}
