package graft

import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis

/** The corpus-curation stages (decontamination, repetition, sampling,
  * hashed features, quality scoring and rules, language screening), each
  * pinned on fixtures built to pass or fail it.
  */
class CurationSpec extends SparkTestBase {
  import spark.implicits._

  private val good =
    "the curious archivist catalogued seventeen manuscripts before dawn while " +
    "the library assistants sorted correspondence into labelled boxes for review"

  private val docs = Seq(
    (1L, good),
    (2L, good),
    (3L, good + " and then rested quietly"),
    (4L, "reach me at jane.doe@example.com regarding the lighthouse inventory " +
         "schedule because the keeper needs replacement lamps delivered before " +
         "the autumn storms arrive on the northern coast"),
    (5L, "!!! ??? ,,, ... ;;; :::"),
    (6L, "short text"),
    (7L, "completely different prose describing the harvest festival where " +
         "villagers gathered baskets of apples pears and late summer plums")
  ).toDF("doc_id", "text")

  test("decontamination flags exactly the docs sharing an n-gram with the benchmark") {
    val bench = Seq(
      (100L, "what is the capital of france paris obviously")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "some trivia what is the capital of france asked twice " +
           "what is the capital of france indeed"),       // 5 distinct shared 4-grams
      (2L, "totally unrelated prose about harvesting wheat in autumn"),
      (3L, "capital of france paris lies on the seine")    // shares "capital of france paris"
    ).toDF("doc_id", "text")
    val flags = TextAnalysis.contaminationFlags(train, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!flags.contains(2L), "clean doc must not be flagged")
    // doc 1 repeats the benchmark phrase: shingles are DISTINCT per doc,
    // so hits count unique shared grams ([what is the capital],
    // [is the capital of], [the capital of france]), not occurrences
    assert(flags.get(1L).contains(3L), s"got ${flags.get(1L)}")
    assert(flags.get(3L).contains(1L), "[capital of france paris] only")
    // benchmark side broadcasts: the probe join must not shuffle the scan
    val plan = TextAnalysis.contaminationFlags(train, bench, "doc_id", "text", 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark grams must broadcast:\n$plan")
  }

  test("repetition stats: duplicate and top bigram fractions, short-doc zeros") {
    val rep = Seq(
      (1L, "spam spam spam spam"),      // bigrams: 3x "spam spam"
      (2L, "one two three four"),       // 3 distinct bigrams
      (3L, "solo")                      // < n words
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(rep, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 3 && out(0).getLong(2) == 1 && out(0).getLong(3) == 3)
    assert(out(0).getDouble(4) == 2.0 / 3 && out(0).getDouble(5) == 1.0)
    assert(out(1).getLong(1) == 3 && out(1).getLong(2) == 3 && out(1).getLong(3) == 1)
    assert(out(1).getDouble(4) == 0.0 && out(1).getDouble(5) == 1.0 / 3)
    assert(out(2).getLong(1) == 0 && out(2).isNullAt(4) && out(2).isNullAt(5))
  }

  test("sampling keeps exactly the selected md5 nibbles") {
    val out = TextAnalysis.sampleByContent(docs, "text", "01234567")
    val kept = out.select(substring(md5(col("text")), 1, 1)).as[String].collect()
    assert(kept.forall("01234567".contains(_)))
    val md5Hex = (t: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs.as[(Long, String)].collect()
      .collect { case (id, t) if "01234567".contains(md5Hex(t).head) => id }.toSet
    assert(out.select("doc_id").as[Long].collect().toSet == expected)
  }

  test("feature hashing: stable buckets, signed counts, sparse shape") {
    val fx = Seq(1L -> "alpha alpha alpha", 2L -> "alpha beta",
      3L -> "beta").toDF("doc_id", "text")
    val f = TextAnalysis.hashedBowFeatures(fx, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // one repeated token -> one sparse row, |signed_sum| == n (same
    // bucket, same sign every occurrence)
    val doc1 = f.keys.filter(_._1 == 1L)
    assert(doc1.size == 1)
    val (n1, s1) = f(doc1.head)
    assert(n1 == 3 && math.abs(s1) == 3)
    // the same token lands in the same bucket from any document
    val alphaBucket = doc1.head._2
    assert(f.contains((2L, alphaBucket)), "doc 2 shares alpha's bucket")
    // distinct tokens: doc 2 holds two buckets unless md5 collides at 64
    assert(f.keys.count(_._1 == 2L) == 2)
    // deterministic across evaluations
    val again = TextAnalysis.hashedBowFeatures(fx, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(again == f)
  }

  test("gopher rules: each rule fails exactly its target fixture") {
    val fixture = Seq(
      // passes everything: enough normal words with required stopwords
      1L -> "the cat and the dog have fun with all of that space",
      // word-count fail: under 5 words (other rules pass or not — the
      // per-rule flag is what's asserted)
      2L -> "the of and",
      // symbol fail: 2 hashes + an ellipsis in 10 words (3*10 > 10)
      3L -> "the # cat # and ... dog have of that",
      // mean-word-length fail: single giant token pushes sum > 10n
      4L -> ("the of and that " + "x" * 200 + " cat dog run far now"),
      // alpha fail: 5 of 10 words are pure digits (5*5 < 4*10)
      5L -> "the of and that have 111 222 333 444 555",
      // stopword fail: no required stopwords at all
      6L -> "cats dogs run far away very fast every single day")
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(fixture, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getBoolean(11), "doc 1 must pass the full battery")
    assert(!r(2L).getBoolean(6), "doc 2 must fail word_count_ok")
    assert(!r(3L).getBoolean(8), "doc 3 must fail symbol_ratio_ok")
    assert(!r(4L).getBoolean(7), "doc 4 must fail mean_word_len_ok")
    assert(!r(5L).getBoolean(9), "doc 5 must fail alpha_word_ratio_ok")
    assert(!r(6L).getBoolean(10), "doc 6 must fail stopword_ok")
    assert(Seq(2L, 3L, 4L, 5L, 6L).forall(id => !r(id).getBoolean(11)),
      "every failing rule must fail the composite")
  }

  test("linear quality scorer: integer dot product over hashed features") {
    val fx = Seq(1L -> "alpha alpha beta", 2L -> "alpha beta",
      3L -> "gamma").toDF("doc_id", "text")
    val out = TextAnalysis.linearQualityScore(fx, "doc_id", "text", 64)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // recompute the expected score from the featurizer + weight formula —
    // the scorer must be exactly sum(w[bucket] * signed_sum) with
    // w[b] = (b * 2654435761) mod 1001 - 500
    val feats = TextAnalysis.hashedBowFeatures(fx, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3))
    def w(b: Long): Long = java.lang.Math.floorMod(b * 2654435761L, 1001L) - 500L
    val expected = feats.groupBy(_._1._1).map { case (doc, rows) =>
      doc -> rows.map { case ((_, b), s) => s * w(b) }.sum
    }
    out.foreach { case (doc, (nb, score, keep)) =>
      assert(score == expected(doc), s"score mismatch for doc $doc")
      assert(keep == (score >= 0), s"label must be the sign gate for $doc")
      assert(nb == feats.count(_._1._1 == doc), s"active buckets for $doc")
    }
    // deterministic across evaluations (a model, not a sample)
    val again = TextAnalysis.linearQualityScore(fx, "doc_id", "text", 64)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(again == out)
  }

  test("langConsistency: glued bilingual doc flags; monolingual and und pass") {
    val docs = Seq(
      // English half then German half -> inconsistent
      (1L, "the cat and the dog of a king went to a house " +
        "der hund und die katze ist das tier und der baum"),
      // solidly English both halves
      (2L, "the king and the queen of the land went to the sea " +
        "and the ship of the fleet came to the port of the town"),
      // no stopword evidence anywhere: und == und counts consistent
      (3L, "zzz qqq xxx www yyy vvv"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.langConsistency(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getBoolean(3))).toMap
    assert(out(1L)._3 == false && out(1L)._1 == "en" && out(1L)._2 == "de",
      s"got ${out(1L)}")
    assert(out(2L) == (("en", "en", true)))
    assert(out(3L) == (("und", "und", true)))
  }
}
