package graft

import graft.ops.Multimodal

/** Driver-contract smoke: entry() on sf0.001 returns rows; every query in
  * the registry runs on sf0.001 and leaves the session's confs, temp
  * views and cache as it found them; oracles exist for the
  * SQL-expressible set.
  */
class EntrySmokeSpec extends SparkTestBase {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query executes on sf0.001 and is non-empty") {
    // what a query could leak into the session: explicitly set confs,
    // temp views and cached relations (a cached intermediate would let
    // a second run of the same query read the first run's data). The
    // events reader pins its nanos-as-long scan conf on first use (a
    // setting every events scan needs, not per-query state), so the
    // snapshots start after one plain events read.
    def sessionState() = (spark.conf.getAll,
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet)
    Tables.events(spark, sf("sf0.001"))
    spark.catalog.clearCache()
    SparkEntry.queries.foreach { case (name, fn) =>
      val before = sessionState()
      val n = fn(spark, sf("sf0.001")).count()
      assert(n > 0, s"query $name returned no rows on sf0.001")
      assert(sessionState() == before, s"query $name changed the session's confs or temp views")
      assert(spark.sharedState.cacheManager.isEmpty, s"query $name left a cached relation")
    }
  }

  test("oracle keys are a subset of query keys with matching names") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs))
    assert((qs -- os).isEmpty,
      "EVERY query is oracled as of round 10: the last two rows-only " +
        "holdouts closed when multimodal_features moved to a " +
        "scaled-integer feature profile with a closed-form oracle and " +
        "sketch_agg started emitting its error bound as within-bound " +
        "booleans next to exact columns the oracle recomputes")
  }

  test("frame sampling decodes real frames and keeps every stride-th one") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val frames = Multimodal.frameDecodeStats(media, stride = 2).collect()
    val videos = media.collect().filter(_.kind == "video")
    assert(frames.map(_.media_id).distinct.length == videos.length)
    videos.foreach { v =>
      val decoded = Multimodal.VideoContainer.decode(v.payload)
      val got = frames.filter(_.media_id == v.media_id)
      // frames 0, 2, 4, ...
      assert(got.map(_.frame_idx).sorted.toSeq == (decoded.indices by 2).map(_.toLong),
        s"video ${v.media_id}: ${decoded.length} frames")
      // each sampled row is the decoded pixels of that container frame
      got.foreach { fr =>
        val (w, h, rgb) = Multimodal.PpmCodec.decode(decoded(fr.frame_idx.toInt))
        assert(fr.frame_w == w && fr.frame_h == h && w == 8 && h == 6)
        assert(fr.px_r_sum == rgb.indices.by(3).map(i => (rgb(i) & 0xff).toLong).sum)
      }
    }
  }

  test("multimodal feature extraction preserves batch shape and schema") {
    val media = Multimodal.syntheticMedia(spark, 50)
    val feats = Multimodal.featureStats(media)
    assert(feats.rdd.getNumPartitions == media.rdd.getNumPartitions, "one narrow pass")
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.map(_.media_id).toSet == (0L until 50L).toSet)
    // deterministic: same input -> same row
    val again = Multimodal.featureStats(media).collect().map(f => f.media_id -> f).toMap
    assert(rows.forall(f => again(f.media_id) == f))
  }
}
