package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer rules"),
    (4L, "The  Quick   brown FOX jumps over the lazy dog near the river bank"), // exact dup of 1 modulo case/space
    (5L, "tiny")).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace variants") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 4)
    val dupGroup = out.filter(col("n_dups") === 2).collect().head
    assert(dupGroup.getAs[Long]("keep_id") == 1L, "min id is the canonical survivor")
  }

  test("keepBest keeps the highest-quality copy, ties to the smallest id") {
    val scored = Seq(
      (1L, "same text here", 5.0),
      (2L, "Same  TEXT here", 9.0),  // same key, better quality -> survives
      (3L, "same text here", 9.0),   // quality tie with 2 -> loses on id
      (4L, "other text", 1.0)
    ).toDF("doc_id", "text", "q")
    val out = Dedup.keepBest(scored, "doc_id", "text", "q")
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L, 4L))
    assert(out.columns.toSeq == Seq("doc_id", "text", "q"),
      "survivors keep their full original row")
    // the 2-arg max_by_row underneath: the argmax by ord, no tie slot
    val best = Seq((1L, 10L), (2L, 30L), (3L, 20L)).toDF("x", "ord")
      .agg(graft.functions.Expressions.max_by_row(struct($"x"), $"ord").as("b"))
      .select("b.x").as[Long].head()
    assert(best == 2L, "argmax by ord picks x=2")
  }

  test("incremental simhash: new-vs-store pairs only, store grows idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("graft_isim_").toString + "/store"
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely different document about spark")).toDF("doc_id", "text")
    val p1 = Dedup.incrementalSimhashPairs(b1, "doc_id", "text", dir, maxHamming = 16)
    assert(p1.count() == 0, "first batch has no prior store to collide with... " +
      "except itself: both docs are new, so only cross-new pairs could appear")
    // batch 2: a near-dup of doc 1 (one word changed) + replay of doc 2
    val b2 = Seq(
      (3L, "the quick brown fox jumps over the lazy cat"),
      (2L, "an entirely different document about spark")).toDF("doc_id", "text")
    val p2 = Dedup.incrementalSimhashPairs(b2, "doc_id", "text", dir, maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p2.contains((1L, 3L)), s"near-dup must surface against the store: $p2")
    assert(!p2.exists(p => p._1 == 2L && p._2 == 2L))
    assert(spark.read.parquet(dir).count() == 3, "one signature per unique doc")
    // full replay converges: same pairs, no store growth
    val p3 = Dedup.incrementalSimhashPairs(b2, "doc_id", "text", dir, maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p3 == p2)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("keepBest: string ids tie-break deterministically (smallest id wins)") {
    // the earlier struct(quality, -id) tie encoding silently cast string
    // ids to null doubles — this pins the any-orderable-id contract
    val scored = Seq(
      ("doc-b", "same text here", 9.0),
      ("doc-a", "Same  TEXT here", 9.0), // quality tie -> smaller string id
      ("doc-z", "same text here", 5.0)
    ).toDF("doc_id", "text", "q")
    val out = Dedup.keepBest(scored, "doc_id", "text", "q")
    assert(out.select("doc_id").as[String].collect().toSet == Set("doc-a"))
  }

  test("signature store family guard: mixed-parameter reuse fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fam_").toString + "/store"
    val b = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    Dedup.incrementalMinhashPairs(b, "doc_id", "text", dir,
      n = 3, k = 32, bands = 16, threshold = 0.4).count()
    val e = intercept[IllegalStateException] {
      Dedup.incrementalMinhashPairs(b, "doc_id", "text", dir,
        n = 3, k = 16, bands = 8, threshold = 0.4)
    }
    assert(e.getMessage.contains("family"), e.getMessage)
  }

  test("incremental simhash: replayed id with changed text probes with the STORE's signature") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rp_").toString + "/store"
    val b1 = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    Dedup.incrementalSimhashPairs(b1, "doc_id", "text", dir, maxHamming = 16).count()
    // id 1 replays with UNRELATED text; id 2 is a near-dup of 1's ORIGINAL
    // text. First-write-wins keeps 1's original signature, and the probe
    // must use that stored signature — so (1,2) surfaces; probing with the
    // fresh signature of the changed text would miss it.
    val b2 = Seq(
      (1L, "totally unrelated replacement content nothing shared anywhere"),
      (2L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
    val p = Dedup.incrementalSimhashPairs(b2, "doc_id", "text", dir, maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p.contains((1L, 2L)),
      s"replayed id must probe with its persisted signature: $p")
  }

  test("keepBest: null quality sorts below any value; all-null group keeps min id") {
    val scored = Seq(
      (1L, "same text here", null.asInstanceOf[java.lang.Double]),
      (2L, "Same  TEXT here", java.lang.Double.valueOf(3.0)), // only non-null -> wins
      (5L, "other text", null.asInstanceOf[java.lang.Double]),
      (4L, "OTHER text", null.asInstanceOf[java.lang.Double]) // all null -> min id 4
    ).toDF("doc_id", "text", "q")
    val out = Dedup.keepBest(scored, "doc_id", "text", "q")
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L, 4L),
      "null quality loses to any value; an all-null group still keeps one row")
  }

  test("md5_bits equals the conv(substring(md5)) construction it replaces") {
    // the parity the oracle SQL relies on: nibble-decode of the md5 hex
    // prefix == the codegen'd digest-byte path, for every prefix width
    val df = spark.range(200).select(
      concat(lit("probe_"), col("id")).cast("string").as("s"))
    for (n <- Seq(1, 2, 8, 15)) {
      val mismatch = df.filter(
        graft.functions.Expressions.md5_bits(col("s"), n) =!=
          conv(substring(md5(col("s")), 1, n), 16, 10).cast("long")).count()
      assert(mismatch == 0, s"md5_bits($n) diverges from the SQL construction")
    }
  }

  test("duplicateSpans finds cross-document repeated windows with positions") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "prefix words alpha beta gamma delta end"),  // shares a 4-window at pos 3
      (3L, "nothing in common with the others at all"),
      (4L, "tiny")                                       // shorter than the span
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(corpus, "doc_id", "text", 4, hashOnly = false)
      .select("doc_id", "pos", "span_key")
      .as[(Long, Int, String)].collect().toSet
    assert(out == Set(
      (1L, 1, "alpha beta gamma delta"),
      (2L, 3, "alpha beta gamma delta")),
      s"exactly the shared window, at position 1 in doc 1 and 3 in doc 2: $out")
  }

  test("duplicateSpans: within-document repetition counts too") {
    val corpus = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    // 2-token windows: "x y"(1), "y x"(2), "x y"(3), "y x"(4), "x y"(5)
    val out = Dedup.duplicateSpans(corpus, "doc_id", "text", 2, hashOnly = false)
    assert(out.count() == 5, "every window here repeats somewhere in the doc")
    assert(out.filter(col("span_key") === "x y")
      .select("n_occurrences").distinct().head().getLong(0) == 3L)
  }

  test("maximalDuplicateSpans merges seed windows into spans containing the fixed-window set") {
    // docs 1 and 2 share a 10-token run -> with 4-token seeds that is 7
    // consecutive duplicated windows per doc, which must merge into ONE
    // maximal span of length 10 (strictly longer than any seed window);
    // doc 1 also shares a separate non-adjacent 4-token run with doc 3
    // -> its own span of exactly seed length
    val shared10 = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (1L, s"$shared10 filler alpha beta gamma delta"),
      (2L, s"leadin words $shared10 trailing tail"),
      (3L, "other text alpha beta gamma delta closing words here")
    ).toDF("doc_id", "text")
    val spans = Dedup.maximalDuplicateSpans(corpus, "doc_id", "text", 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(spans == Set(
      (1L, 1L, 10L, 10L, 7L),   // shared10 at doc1 tokens 1-10
      (1L, 12L, 15L, 4L, 1L),   // alpha..delta at doc1 tokens 12-15
      (2L, 3L, 12L, 10L, 7L),   // shared10 at doc2 tokens 3-12
      (3L, 3L, 6L, 4L, 1L)),    // alpha..delta at doc3 tokens 3-6
      spans.toString)
    // containment: every duplicated seed window [pos, pos+3] lies inside
    // exactly one maximal span, and the 10-token spans strictly contain
    // their windows (the suffix-array-family property the fixed-window
    // query cannot express)
    val seeds = Dedup.duplicateSpans(corpus, "doc_id", "text", 4)
      .select("doc_id", "pos").as[(Long, Int)].collect()
    assert(seeds.nonEmpty && seeds.forall { case (dId, p) =>
      spans.count(sp => sp._1 == dId && sp._2 <= p && p + 3 <= sp._3) == 1 })
    assert(spans.exists(_._4 > 4), "a span longer than the seed window exists")
  }

  test("exciseDuplicateSpans keeps the canonical occurrence and removes the rest") {
    // docs share an 8-token run; with 4-token seeds the canonical
    // occurrence of every duplicated window is in doc 1 (globally
    // smallest (doc, pos)), so doc 1 keeps its full text and doc 2
    // loses exactly the 8 shared tokens
    val corpus = Seq(
      (1L, "one two three four five six seven eight tail1 x"),
      (2L, "head one two three four five six seven eight tail2")
    ).toDF("doc_id", "text")
    val out = Dedup.exciseDuplicateSpans(corpus, "doc_id", "text", 4)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 10L, 0L, "one two three four five six seven eight tail1 x"),
      (2L, 10L, 8L, "head tail2")),
      out.toString)
  }

  test("exciseDuplicateSpans: short docs and unique docs pass through untouched") {
    val corpus = Seq(
      (1L, "tiny"),                                   // shorter than the span
      (2L, "completely unique words nothing shared"), // no duplicated window
      (3L, "completely unique words nothing shared")  // full-doc duplicate
    ).toDF("doc_id", "text")
    val out = Dedup.exciseDuplicateSpans(corpus, "doc_id", "text", 4)
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // doc 3's windows are duplicates of doc 2's; doc 2 is canonical
    assert(out(1L) == (1L, 0L, "tiny"))
    assert(out(2L) == (5L, 0L, "completely unique words nothing shared"))
    assert(out(3L) == (5L, 5L, ""))
  }

  test("exciseDuplicateSpans: a NULL-text doc survives as (id, 0, 0, empty)") {
    // r17 fix: tokens(NULL) yields null, posexplode emits no rows, and
    // the doc used to VANISH from the output — silent row loss for a
    // curation pipeline. Every input id must now reach the output.
    val corpus = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.exciseDuplicateSpans(corpus, "doc_id", "text", 4)
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out.keySet == Set(1L, 2L), s"every input id survives: $out")
    assert(out(2L) == (0L, 0L, ""))
    assert(out(1L) == (8L, 0L, "one two three four five six seven eight"))
  }

  test("maximalDuplicateSpans: the island window is document-partitioned (scale shape)") {
    // the gaps-and-islands row_number must be partitioned by the id
    // column — an unpartitioned window would sort the corpus-wide
    // duplicated-window table on ONE task at 100 TB (Spark itself warns
    // "No Partition Defined for Window"); assert the optimized plan's
    // Window node carries a non-empty partitionSpec on doc_id
    val corpus = Seq((1L, "a b c d e f"), (2L, "a b c d e g"))
      .toDF("doc_id", "text")
    val plan = Dedup.maximalDuplicateSpans(corpus, "doc_id", "text", 4)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty, "island merge must plan a Window node")
    assert(windows.forall(w => w.partitionSpec.nonEmpty &&
      w.partitionSpec.exists(_.references.exists(_.name == "doc_id"))),
      s"window must partition by doc_id:\n${windows.map(_.partitionSpec)}")
  }

  test("shingles: short docs fall back to whole text") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val tiny = sh.filter(col("doc_id") === 5).as[(Long, String)].collect()
    assert(tiny.toSeq == Seq((5L, "tiny")))
    assert(sh.filter(col("doc_id") === 1).count() == 11, "13 tokens -> 11 trigrams")
  }

  test("ngram jaccard finds the near-dup pair and only it") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)),
      "1,2 near-dup; 4 is 1 modulo case so joins the clique")
  }

  test("ngram jaccard stop-shingle prune: no-op cap keeps results; tight cap drops frequent-only pairs") {
    val unpruned = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every shingle here has df <= 3, so a cap at 3 must change nothing
    val noop = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, maxDf = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(noop == unpruned)
    // boilerplate corpus: the "standard header line" trigram appears in
    // ALL FOUR docs (df=4) and alone makes every pair a candidate at a
    // low threshold; capping df at 2 kills that fan-out while the true
    // dup pair (1,2) survives on its rare shingles.
    val boiler = Seq(
      (1L, "standard header line alpha beta"),
      (2L, "standard header line alpha beta"),
      (3L, "standard header line gamma delta"),
      (4L, "standard header line epsilon zeta")).toDF("doc_id", "text")
    val noisy = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 3, 0.15)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(noisy.size == 6, "unpruned: the df=4 shingle links every pair")
    val tight = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 3, 0.15, maxDf = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(tight == Set((1L, 2L)),
      "df<=2 prune: boilerplate-only pairs vanish, the true dup pair stays")
  }

  test("clustersFromPairs: pluggable edge set, singletons preserved") {
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.clustersFromPairs(pairs, docs, "doc_id")
      .orderBy("doc_id")
      .as[(Long, Long, Boolean, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, true, 3L), (2L, 1L, false, 3L), (3L, 3L, true, 1L),
      (4L, 1L, false, 3L), (5L, 5L, true, 1L)))
  }

  test("clusterRepresentatives: best quality wins per component, ties to smallest id") {
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    // quality: doc 2 highest in the {1,2,4} cluster; 3 and 5 tie nothing
    val scored = docs.withColumn("quality",
      when(col("doc_id") === 2, 10L).otherwise(lit(1L)))
    val reps = Dedup.clusterRepresentatives(pairs, scored, "doc_id", "quality")
      .orderBy("component")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // component 1 = {1,2,4} -> rep 2 (quality 10); singletons rep themselves
    assert(reps == Seq((1L, 2L, 10L, 3L), (3L, 3L, 1L, 1L), (5L, 5L, 1L, 1L)))
    // all-equal quality: ties fall to the smallest id (the component label)
    val flat = Dedup.clusterRepresentatives(pairs,
        docs.withColumn("quality", lit(7L)), "doc_id", "quality")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(flat.map(r => (r._1, r._2)) == Seq((1L, 1L), (3L, 3L), (5L, 5L)))
  }

  test("minhash LSH recovers the high-jaccard pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)), "identical shingle sets must collide")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "a ~0.8-jaccard pair should survive 16 bands of 2")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc stays out")
  }

  test("minhash estimate tracks exact jaccard on identical sets") {
    val est = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 32, 16, 0.4)
      .filter(col("id_a") === 1 && col("id_b") === 4)
      .select("est_jaccard").as[Double].collect().head
    assert(est == 1.0, "identical shingle sets -> all 32 components agree")
  }

  test("simhash: case-normalized identical text -> distance 0; near-dup close") {
    val sims = docs.select(col("doc_id"), Dedup.simhash("text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(4L), "token-identical after lowering")
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(2L)) <= 16, "one-word change stays close")
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) > 16, "unrelated text far")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash hot-bucket refinement: a tight cap stays exact-complete") {
    // On the fixture corpus, hamming-7 chunk buckets run far past 50
    // members (similar-vocabulary docs share majority-vote bits), so a
    // 50-cap run exercises the recursive complement sub-chunking — and
    // must still equal the effectively-unpruned run pair for pair. A
    // pre-refinement build DROPPED everything in hot buckets here
    // (measured: 209 of 366 pairs at cap 5).
    val real = Tables.documents(spark, sf("sf0.001"))
    val sims = real.select(Dedup.simhash("text").as("sh"))
    val chunksHot = sims.select(explode(expr(
        "transform(sequence(0, 7), c -> shiftright(sh, c * 7) & 127)")).as("cv"))
      .groupBy(col("cv")).count().agg(max(col("count"))).as[Long].head()
    assert(chunksHot > 50, s"fixture must have hot buckets (max=$chunksHot)")
    val full = Dedup.simhashPairs(real, "doc_id", "text", maxHamming = 7,
        maxBucket = 1000000)
      .as[(Long, Long, Int)].collect().toSet
    val refined = Dedup.simhashPairs(real, "doc_id", "text", maxHamming = 7,
        maxBucket = 50)
      .as[(Long, Long, Int)].collect().toSet
    assert(full.nonEmpty)
    assert(refined == full,
      "refinement must recover every pair the level-1 valve would drop")
  }

  test("near-dup clusters: pairs collapse to one canonical survivor") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 32, bands = 16, threshold = 0.4)
    val out = Dedup.clustersFromPairs(pairs.select("id_a", "id_b"), docs, "doc_id")
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getLong(3))).toMap
    // 1, 2, 4 form one near-dup cluster with 1 canonical
    assert(rows(1L)._1 == 1L && rows(1L)._2)
    assert(rows(4L)._1 == 1L && !rows(4L)._2)
    assert(rows(1L)._3 >= 2, "cluster size counts its members")
    // 3 and 5 are singletons and self-canonical
    assert(rows(3L)._2 && rows(3L)._3 == 1)
    assert(rows(5L)._2 && rows(5L)._3 == 1)
    assert(out.filter(col("is_canonical")).count() >= 3)
  }

  test("incremental minhash: only new-vs-all pairs, store grows idempotently") {
    val store = java.nio.file.Files.createTempDirectory("graft_sigs_").toString + "/sigs"
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (3L, "completely different content about spark catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val p1 = Dedup.incrementalMinhashPairs(batch1, "doc_id", "text", store,
        n = 3, k = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p1 == Set((1L, 2L)))

    val batch2 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // dup of 1,2
      (5L, "fresh unrelated words that match nothing else in the corpus"))
      .toDF("doc_id", "text")
    val p2 = Dedup.incrementalMinhashPairs(batch2, "doc_id", "text", store,
        n = 3, k = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p2 == Set((1L, 4L), (2L, 4L)),
      "second run scores only pairs touching the new batch — (1,2) is not re-emitted")
    assert(spark.read.parquet(store).count() == 5)

    // replaying batch2 must not grow the store or invent pairs
    val p2b = Dedup.incrementalMinhashPairs(batch2, "doc_id", "text", store,
        n = 3, k = 32, bands = 16, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p2b == p2)
    assert(spark.read.parquet(store).count() == 5)
  }

  test("embedding cosine pairs respect blocking") {
    val embs = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0.999f, 0.04f, 0f), 0),
      (3L, Array(1f, 0f, 0f), 1), // identical to 1 but different block -> never compared
      (4L, Array(0f, 1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", "label", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("within-doc line dedup keeps first occurrence, reassembles in order") {
    val docs = Seq(
      (1L, Seq("nav menu", "real content one", "nav menu", "real content two",
        "nav menu")),
      (2L, Seq("only line")),
      (3L, Seq("a", "b", "a", "b", "a", "c"))).toDF("doc_id", "lines")
    val out = Dedup.dedupLinesWithinDoc(docs, "doc_id", col("lines"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines_total"), r.getAs[Long]("n_lines_kept"),
          r.getAs[String]("text_dedup"))).toMap
    // doc 1: boilerplate "nav menu" collapses to its first slot
    assert(out(1L) == (5L, 3L, "nav menu\nreal content one\nreal content two"))
    assert(out(2L) == (1L, 1L, "only line"))
    // doc 3: first occurrences of a, b, c in original positions
    assert(out(3L) == (6L, 3L, "a\nb\nc"))
    // dedup is per-document: "nav menu"-style lines in doc 1 never affect
    // other docs (each doc keeps its own copy) — implied by the output of
    // docs 2/3 being untouched by doc 1's lines
  }

  test("crossSourceSpanMatrix: count algebra on a planted bi-source fixture") {
    // span length 2 over tiny docs. span "x y": a=2 occurrences, b=1 →
    // (a,a) C(2,2)=1 pair, (a,b) 2·1=2; span "y z": a=1, b=1 → (a,b) 1;
    // span "y q" occurs once → not duplicated, excluded entirely.
    val src = Seq(
      (1L, "x y z", "a"), (2L, "x y q", "a"), (3L, "x y z", "b"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceSpanMatrix(src, "doc_id", "text", "source", 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_dup_pairs"), r.getAs[Long]("n_shared_spans"))).toMap
    assert(out == Map(
      ("a", "a") -> (1L, 1L),   // "x y" within a
      ("a", "b") -> (3L, 2L)),  // "x y" (2) + "y z" (1) across
      s"got $out")
  }

  test("crossSourceSpanMatrix: maxOccurrences drops boilerplate spans") {
    val src = Seq(
      (1L, "x y z", "a"), (2L, "x y q", "a"), (3L, "x y z", "b"))
      .toDF("doc_id", "text", "source")
    // "x y" totals 3 occurrences → dropped at cap 2; only "y z" remains
    val out = Dedup.crossSourceSpanMatrix(src, "doc_id", "text", "source", 2,
        maxOccurrences = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_dup_pairs"), r.getAs[Long]("n_shared_spans"))).toMap
    assert(out == Map(("a", "b") -> (1L, 1L)), s"got $out")
  }

  test("containmentPairs: swallowed short doc scores 1000 one way, not the other") {
    // doc 1 is a verbatim snippet of doc 2; doc 3 is unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "intro words alpha beta gamma delta epsilon and a very long tail " +
        "of unrelated filler tokens keeps the union large"),
      (3L, "completely different content entirely"))
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.containmentPairs(docs, "doc_id", "text", 3,
        thresholdPermille = 800)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    // all 3 shingles of doc 1 appear in doc 2 -> containment 1.0
    assert(out.get((1L, 2L)).contains(1000L), s"got $out")
    // the reverse direction dilutes over doc 2's many shingles
    assert(!out.contains((2L, 1L)))
    assert(out.keys.forall(p => !p.productIterator.contains(3L)))

    // the symmetric Jaccard op misses the same pair at the same bar:
    // 3 shared / ~17 union is far below 0.8
    val jac = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect()
    assert(jac.isEmpty, "union-normalized score cannot see the swallow")
  }
}
