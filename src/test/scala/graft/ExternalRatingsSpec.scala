package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.ExternalRatings
import graft.streaming.Incremental

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

  test("foreachBatch incremental sink converges across overlapping batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_incr_").toString + "/tbl"
    val mem = MemoryStream[(Long, String)]
    val q = Incremental.foreachBatchAppend(
      mem.toDF().toDF("id", "v"), dir, Seq("id")).start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((2L, "b-replay"), (3L, "c")) // overlap on id 2
      q.processAllAvailable()
      val table = spark.read.parquet(dir)
      assert(table.count() == 3)
      // first write wins for the replayed key
      assert(table.filter(col("id") === 2).select("v").as[String].collect().head == "b")
    } finally q.stop()
  }
}
