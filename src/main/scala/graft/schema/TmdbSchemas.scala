package graft.schema

import org.apache.spark.sql.types._

/** Explicit StructTypes for the TMDB document family. The reference trusts
  * JSON shape implicitly and KeyErrors on drift (SURVEY.md §1.4); we pin
  * schemas so drift behavior is a deliberate read-mode choice
  * (PERMISSIVE nulls vs FAILFAST).
  *
  * Shapes derived from the JSON fixtures under
  * /root/reference/tests/unit_tests/mock_apis/ (documented in
  * /root/repo/FIXTURES.md §1).
  */
object TmdbSchemas {

  val castMember: StructType = StructType(Seq(
    StructField("adult", BooleanType),
    StructField("gender", IntegerType),
    StructField("id", LongType),
    StructField("known_for_department", StringType),
    StructField("name", StringType),
    StructField("original_name", StringType),
    StructField("popularity", DoubleType),
    StructField("profile_path", StringType),
    StructField("cast_id", LongType),
    StructField("character", StringType),
    StructField("credit_id", StringType),
    StructField("order", IntegerType)))

  val crewMember: StructType = StructType(Seq(
    StructField("adult", BooleanType),
    StructField("gender", IntegerType),
    StructField("id", LongType),
    StructField("known_for_department", StringType),
    StructField("name", StringType),
    StructField("original_name", StringType),
    StructField("popularity", DoubleType),
    StructField("profile_path", StringType),
    StructField("credit_id", StringType),
    StructField("department", StringType),
    StructField("job", StringType)))

  val provider: StructType = StructType(Seq(
    StructField("logo_path", StringType),
    StructField("provider_id", LongType),
    StructField("provider_name", StringType),
    StructField("display_priority", IntegerType)))

  val regionOffers: StructType = StructType(Seq(
    StructField("link", StringType),
    StructField("buy", ArrayType(provider)),
    StructField("rent", ArrayType(provider)),
    StructField("flatrate", ArrayType(provider))))

  /** Composite movie document, fetched with
    * append_to_response=credits,watch/providers,external_ids
    * (/root/reference/src/movie_etl/flows/etl_flow.py:233-240).
    */
  val movieDetails: StructType = StructType(Seq(
    StructField("adult", BooleanType),
    StructField("id", LongType),
    StructField("imdb_id", StringType),
    StructField("title", StringType),
    StructField("original_title", StringType),
    StructField("original_language", StringType),
    StructField("overview", StringType),
    StructField("tagline", StringType),
    StructField("status", StringType),
    StructField("homepage", StringType),
    StructField("budget", LongType),
    StructField("revenue", LongType),
    StructField("runtime", IntegerType),
    StructField("popularity", DoubleType),
    StructField("vote_average", DoubleType),
    StructField("vote_count", LongType),
    StructField("release_date", StringType),
    StructField("origin_country", ArrayType(StringType)),
    StructField("belongs_to_collection", StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("poster_path", StringType),
      StructField("backdrop_path", StringType)))),
    StructField("genres", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType))))),
    StructField("production_companies", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("logo_path", StringType),
      StructField("name", StringType),
      StructField("origin_country", StringType))))),
    StructField("production_countries", ArrayType(StructType(Seq(
      StructField("iso_3166_1", StringType),
      StructField("name", StringType))))),
    StructField("spoken_languages", ArrayType(StructType(Seq(
      StructField("english_name", StringType),
      StructField("iso_639_1", StringType),
      StructField("name", StringType))))),
    StructField("credits", StructType(Seq(
      StructField("cast", ArrayType(castMember)),
      StructField("crew", ArrayType(crewMember))))),
    StructField("watch_providers", StructType(Seq(
      StructField("results", MapType(StringType, regionOffers))))),
    StructField("external_ids", StructType(Seq(
      StructField("wikidata_id", StringType),
      StructField("imdb_id", StringType))))))

  val collectionDetails: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("overview", StringType),
    StructField("poster_path", StringType),
    StructField("backdrop_path", StringType)))

  val companyDetails: StructType = StructType(Seq(
    StructField("description", StringType),
    StructField("headquarters", StringType),
    StructField("homepage", StringType),
    StructField("id", LongType),
    StructField("logo_path", StringType),
    StructField("name", StringType),
    StructField("origin_country", StringType),
    StructField("parent_company", StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType))))))

  val personDetails: StructType = StructType(Seq(
    StructField("adult", BooleanType),
    StructField("also_known_as", ArrayType(StringType)),
    StructField("biography", StringType),
    StructField("birthday", StringType),
    StructField("deathday", StringType),
    StructField("gender", IntegerType),
    StructField("homepage", StringType),
    StructField("id", LongType),
    StructField("imdb_id", StringType),
    StructField("known_for_department", StringType),
    StructField("name", StringType),
    StructField("place_of_birth", StringType),
    StructField("popularity", DoubleType),
    StructField("profile_path", StringType)))
}
