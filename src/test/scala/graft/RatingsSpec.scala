package graft

import graft.operators.Ratings

/** C9-C12 extractors over canonical page snippets (our serialization of
  * the DOM shapes the reference scrapes), with literal expected values.
  */
class RatingsSpec extends SparkTestBase {
  import spark.implicits._

  test("C9: wikidata external ids") {
    val html = """<div data-prop="P345" class="wb-external-id">tt1392170</div>
                  <div data-prop="P1712" class="wb-external-id">movie/the-hunger-games</div>
                  <div data-prop="P1258" class="wb-external-id">m/the_hunger_games</div>"""
    val out = Ratings.wikidataIds(Seq(("Q11679", html)).toDF("wiki_id", "html"), "wiki_id")
      .collect().head
    assert(out.getString(1) == "tt1392170")
    assert(out.getString(2) == "movie/the-hunger-games")
    assert(out.getString(3) == "m/the_hunger_games")
  }

  test("C9: missing properties yield nulls, not errors") {
    val out = Ratings.wikidataIds(Seq(("Q1", "<html></html>")).toDF("wiki_id", "html"), "wiki_id")
      .collect().head
    assert(out.isNullAt(1) && out.isNullAt(2) && out.isNullAt(3))
  }

  test("C10: imdb score x10 + magnitude count") {
    val html = """<span data-rating="7.2"></span><div data-rating-count="1.4M"></div>"""
    val out = Ratings.imdbRatings(Seq(("tt1", html)).toDF("imdb_id", "html"), "imdb_id")
      .collect().head
    assert(out.getInt(1) == 72)
    assert(out.getLong(2) == 1400000L)
  }

  test("C11: metacritic critic/user sections") {
    val html =
      """<section id="critic-reviews"><div score="81"></div>
        |55 Reviews 68% positive | 12 Reviews 22% neutral | 5 Reviews 10% negative</section>
        |<section id="user-reviews"><div score="7.9"></div>
        |300 Ratings 75% positive | 60 Ratings 15% neutral | 40 Ratings 10% negative</section>"""
        .stripMargin.replace("\n", " ")
    val out = Ratings.metacriticRatings(Seq(("mc1", html)).toDF("metacritic_id", "html"), "metacritic_id")
      .collect().head
    assert(out.getInt(1) == 81, "critic integral score passes through")
    assert(out.getInt(2) == 72, "num_critic = 55+12+5")
    assert(out.getInt(3) == 68 && out.getInt(4) == 22 && out.getInt(5) == 10)
    assert(out.getInt(6) == 79, "user fractional score x10")
    assert(out.getInt(7) == 400)
    assert(out.getInt(8) == 75 && out.getInt(9) == 15 && out.getInt(10) == 10)
  }

  test("C12: rotten tomatoes with independent null pairs") {
    val full = """<div><span slot="criticsScore">93%</span>
                  <a slot="criticsReviews">412 Reviews</a>
                  <span slot="audienceScore">85%</span>
                  <a slot="audienceReviews">250,000+ Ratings</a></div>"""
    val out = Ratings.rottenTomatoesRatings(
      Seq(("rt1", full)).toDF("rotten_tomatoes_id", "html"), "rotten_tomatoes_id").collect().head
    assert(out.getInt(1) == 93 && out.getLong(2) == 412L)
    assert(out.getInt(3) == 85 && out.getLong(4) == 250000L)

    val partial = """<span slot="audienceScore">71%</span><a slot="audienceReviews">88 Ratings</a>"""
    val p = Ratings.rottenTomatoesRatings(
      Seq(("rt2", partial)).toDF("rotten_tomatoes_id", "html"), "rotten_tomatoes_id").collect().head
    assert(p.isNullAt(1) && p.isNullAt(2), "critic pair independently null")
    assert(p.getInt(3) == 71 && p.getLong(4) == 88L)
  }
}
