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
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    val videos = media.collect().filter(_.kind == "video")
    assert(frames.map(_.media_id).distinct.length == videos.length)
    videos.foreach { v =>
      val decoded = Multimodal.VideoContainer.decode(v.payload)
      val expected = (decoded.length + 1) / 2 // frames 0, 2, 4, ...
      val got = frames.filter(_.media_id == v.media_id)
      assert(got.length == expected,
        s"video ${v.media_id}: ${decoded.length} frames -> $expected sampled")
      // checksums must match the actual container frames, and each
      // sampled offset must point at a decodable PPM within the payload
      got.foreach { fr =>
        val real = decoded(fr.frame_idx)
        assert(fr.frame_checksum == real.foldLeft(0L)((a, b) => a * 31 + b))
        val slice = java.util.Arrays.copyOfRange(v.payload,
          fr.offset_bytes.toInt, fr.offset_bytes.toInt + real.length)
        val (w, h, _) = Multimodal.PpmCodec.decode(slice)
        assert(w == 8 && h == 6)
      }
    }
  }

  test("multimodal feature extraction preserves batch shape and schema") {
    val media = Multimodal.syntheticMedia(spark, 50)
    val feats = Multimodal.extractFeatures(media, partitions = 4)
    assert(feats.rdd.getNumPartitions == 4)
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.feature.length == 8))
    // deterministic stub: same input -> same checksum
    val again = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.checksum).toMap
    assert(rows.forall(f => again(f.media_id) == f.checksum))
  }
}
