package graft

import graft.operators.Ratings
import graft.pipeline.ExternalRatings

class ExternalRatingsSpec extends SparkTestBase {
  import spark.implicits._

  test("F9: wikidata ids fan out into three widened detail tables") {
    val wikidata = Seq(
      (101L, """<div data-prop="P345">tt9100001</div>
                <div data-prop="P1712">movie/harbor-of-glass</div>
                <div data-prop="P1258">m/harbor_of_glass</div>"""),
      (102L, """<div data-prop="P345">tt9100002</div>""") // imdb only
    ).toDF("movie_id", "html")
    val imdb = Seq(
      ("tt9100001", """<span data-rating="7.3"></span><div data-rating-count="1.8K"></div>"""),
      ("tt9100002", """<span data-rating="6.1"></span><div data-rating-count="204"></div>"""))
      .toDF("imdb_id", "html")
    val metacritic = Seq(
      ("movie/harbor-of-glass",
        """<section id="critic-reviews"><div score="74"></div>
          |30 Reviews 60% positive | 10 Reviews 20% neutral | 10 Reviews 20% negative</section>
          |<section id="user-reviews"><div score="8.2"></div>
          |100 Ratings 80% positive | 10 Ratings 10% neutral | 10 Ratings 10% negative</section>"""
          .stripMargin.replace("\n", " ")))
      .toDF("metacritic_id", "html")
    val rt = Seq(
      ("m/harbor_of_glass",
        """<span slot="criticsScore">88%</span><a slot="criticsReviews">210 Reviews</a>
          <span slot="audienceScore">91%</span><a slot="audienceReviews">5,200 Ratings</a>"""))
      .toDF("rotten_tomatoes_id", "html")

    spark.catalog.clearCache()
    val out = ExternalRatings.assemble(wikidata, imdb, metacritic, rt)
    assert(spark.sharedState.cacheManager.isEmpty,
      "assemble must not leave a cached relation behind")
    val i = out.imdb.orderBy("movie_id").collect()
    assert(i.map(_.getAs[Long]("movie_id")).toSeq == Seq(101L, 102L))
    assert(i.head.getAs[Int]("user_score") == 73)
    assert(i.head.getAs[Long]("num_user") == 1800L)
    val m = out.metacritic.collect()
    assert(m.length == 1 && m.head.getAs[Long]("movie_id") == 101L)
    assert(m.head.getAs[Int]("critic_score") == 74)
    assert(m.head.getAs[Int]("user_score") == 82)
    assert(m.head.getAs[Int]("num_critic") == 50)
    val r = out.rottenTomatoes.collect()
    assert(r.length == 1 && r.head.getAs[Long]("num_user") == 5200L)
  }

  test("F9: messy markup (quote style, attribute order, split values) still fans out") {
    // single-quoted and reordered attributes, comments splitting the
    // values, inline markup around them: the same three pages a clean
    // serializer would emit, after a template change
    val wikidata = Seq((201L,
      """<div class='wb-external-id' data-prop='P345'>tt92<!-- split -->00001</div>
        |<div data-prop='P1712' title="mc"><!-- id -->movie/salt-flats</div>
        |<span class="wb-external-id" data-prop='P1258'>m/salt<!-- -->_flats</span>"""
        .stripMargin)).toDF("movie_id", "html")
    val imdb = Seq(("tt9200001",
      """<span class='star' data-rating='7.8'></span><div title="votes" data-rating-count='2.5K'></div>"""))
      .toDF("imdb_id", "html")
    val metacritic = Seq(("movie/salt-flats",
      """<section id="critic-reviews"><div score="66"></div> 20 Reviews 50% positive | 10 Reviews 25% neutral | 10 Reviews 25% negative</section>"""))
      .toDF("metacritic_id", "html")
    val rt = Seq(("m/salt_flats",
      """<span class='v' slot='criticsScore'><!-- c --><b>8<!-- -->1%</b></span>
        |<a data-x="1" slot='criticsReviews'>3<!-- -->40 <i>Reviews</i></a>
        |<span slot='audienceScore' class='v'>77%</span>
        |<a slot='audienceReviews'>1,<!-- x -->200 <i>Ratings</i></a>""".stripMargin))
      .toDF("rotten_tomatoes_id", "html")

    val out = ExternalRatings.assemble(wikidata, imdb, metacritic, rt)
    val i = out.imdb.collect()
    assert(i.length == 1 && i.head.getAs[Long]("movie_id") == 201L)
    assert(i.head.getAs[Int]("user_score") == 78)
    assert(i.head.getAs[Long]("num_user") == 2500L)
    val m = out.metacritic.collect()
    assert(m.length == 1 && m.head.getAs[Long]("movie_id") == 201L)
    assert(m.head.getAs[Int]("critic_score") == 66 && m.head.getAs[Int]("num_critic") == 40)
    val r = out.rottenTomatoes.collect()
    assert(r.length == 1 && r.head.getAs[Long]("movie_id") == 201L)
    assert(r.head.getAs[Int]("critic_score") == 81 && r.head.getAs[Long]("num_critic") == 340L)
    assert(r.head.getAs[Int]("user_score") == 77 && r.head.getAs[Long]("num_user") == 1200L)
  }

  // Malformed scraped values: the reference's try/except gives None, so
  // each must parse to NULL, not fail the job (a plain cast fails it
  // under ANSI mode)
  private def metacritic(critic: String, user: String) = Seq((1L,
    s"""<section id="critic-reviews">$critic</section>
       |<section id="user-reviews">$user</section>""".stripMargin))
    .toDF("id", "html")

  test("C11: a missing sentiment phrase yields null counts, not a failed job") {
    val m = Ratings.metacriticRatings(metacritic(
      """<div score="74"></div> 30 Reviews 60% positive | 10 Reviews 20% neutral | 10 Reviews 20% negative""",
      """<div score="8.2"></div> 100 Ratings positive | 10 Ratings negative"""), "id").head()
    assert(m.getAs[Int]("critic_score") == 74 && m.getAs[Int]("num_critic") == 50)
    assert(m.getAs[Int]("critic_neutral") == 20)
    assert(m.getAs[Int]("user_score") == 82)
    assert(m.isNullAt(m.fieldIndex("num_user")), "no neutral phrase: no review total")
    assert(m.isNullAt(m.fieldIndex("user_positive")), "no percentage")
  }

  test("C10/C11: a \"tbd\" score yields null, not a failed job") {
    val m = Ratings.metacriticRatings(metacritic(
      """<div score="tbd"></div> 3 Reviews positive | 1 Review neutral | 0 Reviews negative""",
      """<div score="7.5"></div>"""), "id").head()
    assert(m.isNullAt(m.fieldIndex("critic_score")))
    assert(m.getAs[Int]("num_critic") == 4 && m.getAs[Int]("user_score") == 75)
    val i = Ratings.imdbRatings(Seq((1L,
        """<span data-rating="tbd"></span><div data-rating-count="12"></div>"""))
      .toDF("id", "html"), "id").head()
    assert(i.isNullAt(i.fieldIndex("user_score")) && i.getAs[Long]("num_user") == 12L)
  }

  test("C10-C12: an oversized digit run yields null, not a failed job") {
    val m = Ratings.metacriticRatings(metacritic(
      """<div score="99999999999"></div> 99999999999 Reviews 99999999999% positive""",
      """<div score="8.2"></div>"""), "id").head()
    assert(m.isNullAt(m.fieldIndex("critic_score")) && m.isNullAt(m.fieldIndex("num_critic")))
    assert(m.isNullAt(m.fieldIndex("critic_positive")) && m.getAs[Int]("user_score") == 82)
    val i = Ratings.imdbRatings(Seq((1L,
        """<span data-rating="7.1"></span><div data-rating-count="99999999999999999999M"></div>"""))
      .toDF("id", "html"), "id").head()
    assert(i.getAs[Int]("user_score") == 71 && i.isNullAt(i.fieldIndex("num_user")))
    val r = Ratings.rottenTomatoesRatings(Seq((1L,
        """<span slot="criticsScore">99999999999%</span>
          |<a slot="criticsReviews">99,999,999,999,999,999,999 Reviews</a>
          |<span slot="audienceScore">91%</span><a slot="audienceReviews">5,200 Ratings</a>"""
          .stripMargin)).toDF("id", "html"), "id").head()
    assert(r.isNullAt(r.fieldIndex("critic_score")) && r.isNullAt(r.fieldIndex("num_critic")))
    assert(r.getAs[Int]("user_score") == 91 && r.getAs[Long]("num_user") == 5200L)
  }
}
