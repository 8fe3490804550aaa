package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Expressions.html_extract
import graft.functions.GraftFunctions._

/** C9-C12 scrape-extraction operators (SURVEY.md §2.2). The reference
  * parses rating pages with a DOM library, and so do these: each
  * extractor parses the page ONCE per row into a tree
  * (graft.functions.Html via `html_extract`) and reads every field off it
  * with a CSS selector — attribute order, quote style, comments,
  * interleaved inline markup and whitespace inside tags cannot break
  * them (HtmlSpec, ExternalRatingsSpec). Each extractor takes a
  * DataFrame with an id column and an `html` string column.
  */
object Ratings {

  /** `df` plus the struct column `__ex`: one string field per
    * (name, selector, attribute) spec, null when the selector misses.
    */
  private def extract(df: DataFrame, specs: (String, String, Option[String])*): DataFrame =
    df.withColumn("__ex", html_extract(col("html"), specs))

  /** C9 clean_wikidata (etl_task.py:329-347): pull the IMDB / Metacritic /
    * Rotten-Tomatoes external ids out of a wikidata-entity-like page. We
    * key on `data-prop` markers (our canonical serialization of the
    * property divs P345/P1712/P1258).
    */
  def wikidataIds(df: DataFrame, idCol: String): DataFrame =
    extract(df,
      ("imdb", "[data-prop=P345]", None),
      ("mc",   "[data-prop=P1712]", None),
      ("rt",   "[data-prop=P1258]", None)).select(
      col(idCol),
      nullIfEmpty(col("__ex.imdb")).as("imdb_id"),
      nullIfEmpty(col("__ex.mc")).as("metacritic_id"),
      nullIfEmpty(col("__ex.rt")).as("rotten_tomatoes_id"))

  /** C10 clean_imdb_ratings (etl_task.py:349-380): star score (0-10, one
    * decimal) scaled x10 to 0-100, magnitude-suffixed vote count
    * ("1.2K" -> 1200).
    */
  def imdbRatings(df: DataFrame, idCol: String): DataFrame =
    extract(df,
      ("rating", "[data-rating]", Some("data-rating")),
      ("count",  "[data-rating-count]", Some("data-rating-count"))).select(
      col(idCol),
      scaleScore(col("__ex.rating")).as("user_score"),
      tryParse(parseMagnitude(col("__ex.count")), "long").as("num_user"))

  /** C11 clean_metacritic_ratings (etl_task.py:382-414 + utils/etl.py:60-85):
    * critic (0-100) and user (0-10, x10-scaled when fractional) scores,
    * sentiment counts via the `N Reviews/Ratings` pattern, percentages,
    * num_reviews = positive + neutral + negative. The section subtree is
    * located structurally; the sentiment phrases inside it are read with
    * numeric patterns over the section's text (that text IS the data,
    * not markup).
    */
  def metacriticRatings(df: DataFrame, idCol: String): DataFrame = {
    def reviews(sec: Column, label: String) = tryParse(regexp_extract(sec,
      "([0-9]+) (?:Reviews|Ratings|Review|Rating)[^|]*" + label, 1), "int")
    def sentiments(sec: Column) =
      (reviews(sec, "positive"), reviews(sec, "neutral"), reviews(sec, "negative"))
    def pct(sec: Column, label: String) =
      tryParse(regexp_extract(sec, "([0-9]+)%[^|]*" + label, 1), "int")
    val critic = col("__ex.critic_text")
    val user = col("__ex.user_text")
    val (cp, cn, cg) = sentiments(critic)
    val (up, un, ug) = sentiments(user)
    extract(df,
      ("critic_text",  "section#critic-reviews", None),
      ("critic_score", "section#critic-reviews [score]", Some("score")),
      ("user_text",    "section#user-reviews", None),
      ("user_score",   "section#user-reviews [score]", Some("score"))).select(
      col(idCol),
      scaleScore(col("__ex.critic_score")).as("critic_score"),
      (cp + cn + cg).as("num_critic"),
      pct(critic, "positive").as("critic_positive"),
      pct(critic, "neutral").as("critic_neutral"),
      pct(critic, "negative").as("critic_negative"),
      scaleScore(col("__ex.user_score")).as("user_score"),
      (up + un + ug).as("num_user"),
      pct(user, "positive").as("user_positive"),
      pct(user, "neutral").as("user_neutral"),
      pct(user, "negative").as("user_negative"))
  }

  /** C12 clean_rotten_tomatoes_ratings (etl_task.py:416-447): critic and
    * audience percent scores + comma-grouped review counts; each pair
    * independently NULL on parse failure (the reference's try/except).
    */
  def rottenTomatoesRatings(df: DataFrame, idCol: String): DataFrame =
    extract(df,
      ("cs", "[slot=criticsScore]", None),
      ("cr", "[slot=criticsReviews]", None),
      ("as", "[slot=audienceScore]", None),
      ("ar", "[slot=audienceReviews]", None)).select(
      col(idCol),
      parsePercent(col("__ex.cs")).as("critic_score"),
      parseGroupedCount(col("__ex.cr")).as("num_critic"),
      parsePercent(col("__ex.as")).as("user_score"),
      parseGroupedCount(col("__ex.ar")).as("num_user"))
}
