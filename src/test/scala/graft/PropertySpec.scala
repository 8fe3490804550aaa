package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{Dedup, TextAnalysis}

/** Property tests for the structural invariants the oracle can't express.
  * Raw ScalaCheck generators sampled with fixed seeds (the scalatest
  * bridge artifact isn't in the offline cache).
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "the", "la", "der")
  private val textGen = Gen.chooseNum(1, 30)
    .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  test("explode bridge round-trip: bridge rows == sum of array sizes") {
    samples(Gen.listOfN(8, Gen.listOf(Gen.chooseNum(1L, 50L))), 5).foreach { arrays =>
      val df = arrays.zipWithIndex
        .map { case (a, i) => (i.toLong, a) }.toDF("movie_id", "genres")
      val bridged = df.select(col("movie_id"), explode(col("genres")).as("genre_id"))
      assert(bridged.count() == arrays.map(_.size).sum)
    }
  }

  test("C8 inversion preserves (provider, type, region) triples") {
    // regroup(explode(x)) flattens back to exactly the input triple set
    val offers = Seq(
      (1L, "US", 2L, "buy"), (1L, "US", 8L, "subscription"),
      (1L, "FR", 8L, "subscription"), (2L, "DE", 3L, "rent"))
      .toDF("movie_id", "region", "provider_id", "type")
    val regrouped = offers.groupBy("movie_id", "provider_id", "type")
      .agg(sort_array(collect_list(col("region"))).as("regions"))
    val back = regrouped.select(col("movie_id"), explode(col("regions")).as("region"),
      col("provider_id"), col("type"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
      == offers.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet)
  }

  test("minhash estimate within tolerance of exact jaccard") {
    samples(Gen.listOfN(4, textGen), 3).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.0)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().map { case (a, b, j) => (a, b) -> j }.toMap
      val est = Dedup.minhashLshPairs(docs, "doc_id", "text", 2, 64, 32, 0.0)
        .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)]
        .collect().map { case (a, b, j) => (a, b) -> j }.toMap
      est.foreach { case (pair, e) =>
        val ex = exact.getOrElse(pair, 0.0)
        assert(math.abs(e - ex) <= 0.35,
          s"pair $pair est=$e exact=$ex — 64 perms should land within 0.35")
      }
    }
  }

  test("simhash is order-insensitive (bag-of-words sum)") {
    val df = Seq((1L, "x y z w"), (2L, "w z y x")).toDF("doc_id", "text")
    val sims = df.select(col("doc_id"), Dedup.simhash("text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(2L))
  }

  test("fingerprint invariant under whitespace/case noise") {
    samples(textGen, 5).foreach { t =>
      val noisy = "  " + t.toUpperCase.replace(" ", "   ") + " "
      val df = Seq((1L, t), (2L, noisy)).toDF("doc_id", "text")
      val fps = df.select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .as[String].collect()
      assert(fps(0) == fps(1))
    }
  }

  test("token counts: subtokens >= words; distinct <= words") {
    samples(textGen, 5).foreach { t =>
      val df = Seq((1L, t)).toDF("doc_id", "text")
      val r = TextAnalysis.tokenCounts(df, "doc_id", "text").collect().head
      val (words, distinct, sub) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(distinct <= words)
      assert(sub >= words, "every word contributes at least one subtoken")
    }
  }

  test("ngram_stats matches a naive recount on arbitrary token streams") {
    samples(textGen, 40).foreach { text =>
      for (n <- 1 to 3) {
        val toks = text.split("\\s+").toSeq
        val grams = toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
        val expected =
          if (grams.isEmpty) (0L, 0L, 0L)
          else (grams.size.toLong, grams.distinct.size.toLong,
            grams.groupBy(identity).values.map(_.size).max.toLong)
        val got = Seq(text).toDF("text")
          .select(graft.functions.Expressions.ngram_stats(
            split(lower(trim(col("text"))), "\\s+"), n).as("s"))
          .select("s.total", "s.n_distinct", "s.top_freq")
          .as[(Long, Long, Long)].collect().head
        assert(got == expected, s"n=$n text='$text'")
      }
    }
  }

  test("duplicateSpans matches a naive window recount on arbitrary corpora") {
    val corpusGen = Gen.listOfN(6, textGen)
    samples(corpusGen, 10).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.duplicateSpans(docs, "doc_id", "text", 3, hashOnly = false)
        .select("doc_id", "pos", "span_key")
        .as[(Long, Int, String)].collect().toSet
      // naive: every 3-window of every doc, keep those whose text repeats
      val all = texts.zipWithIndex.flatMap { case (t, i) =>
        t.split("\\s+").toSeq.sliding(3).filter(_.size == 3).zipWithIndex
          .map { case (w, p) => (i.toLong, p + 1, w.mkString(" ")) }
      }
      val repeated = all.groupBy(_._3).filter(_._2.size > 1).values.flatten.toSet
      assert(got == repeated, s"corpus=$texts")
    }
  }

  test("containmentPairs matches a naive shingle-set recount on arbitrary corpora") {
    val corpusGen = Gen.listOfN(5, textGen)
    samples(corpusGen, 10).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.containmentPairs(docs, "doc_id", "text", 2,
          thresholdPermille = 500)
        .select("id_contained", "id_container", "containment_milli")
        .as[(Long, Long, Long)].collect().toSet
      // naive: distinct 2-shingle sets (short docs fall back to the
      // whole text, the shingles() contract), all ordered pairs
      def sh(t: String): Set[String] = {
        val toks = t.split("\\s+").toSeq
        if (toks.size < 2) Set(toks.mkString(" "))
        else toks.sliding(2).map(_.mkString(" ")).toSet
      }
      val sets = texts.map(sh).zipWithIndex
      val expected = (for {
        (sa, ia) <- sets; (sb, ib) <- sets if ia != ib
        inter = (sa intersect sb).size
        if inter * 1000 >= 500 * sa.size
      } yield (ia.toLong, ib.toLong, (inter * 1000L) / sa.size)).toSet
      assert(got == expected, s"corpus=$texts")
    }
  }

  test("prioritySample: sample is the top-k of the naive priority ordering") {
    val corpusGen = Gen.listOfN(30, textGen)
    samples(corpusGen, 8).foreach { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, (t.length + 1).toLong, "g") }
        .toDF("id", "text", "w", "grp")
      val got = graft.ops.Splits.prioritySample(docs, "id", "text", "w", "grp", 7)
        .select("id").as[Long].collect().toSet
      // naive: recompute q = (w << 30) div u from the same md5 math
      def u(t: String): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex.substring(0, 8), 16) % 1073741824L + 1L
      }
      val expected = texts.zipWithIndex
        .map { case (t, i) =>
          (i.toLong, (t.length + 1).toLong * 1073741824L / u(t)) }
        .sortBy { case (id, q) => (-q, id) }
        .take(7).map(_._1).toSet
      assert(got == expected, s"corpus=$texts")
    }
  }

  test("winsorize: clipped values always inside the observed bounds, count preserved") {
    val valsGen = Gen.listOfN(40, Gen.chooseNum(-1000.0, 1000.0))
    samples(valsGen, 10).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
        .toDF("g", "id", "v")
      val out = graft.ops.Features.winsorize(df, "g", "v", 5, 95)
      assert(out.count() == vs.size, "winsorize never drops rows")
      val clipped = out.select("v_clipped").as[Double].collect()
      val sorted = vs.sorted
      val lo = sorted(math.max((vs.size * 5 + 99) / 100, 1) - 1)
      val hi = sorted(math.max(vs.size * 95 / 100, math.max((vs.size * 5 + 99) / 100, 1)) - 1)
      assert(clipped.forall(c => c >= lo && c <= hi),
        s"clip outside [$lo,$hi]: ${clipped.filterNot(c => c >= lo && c <= hi).toSeq}")
      assert(clipped.min == lo && clipped.max == hi,
        "the bounds themselves must be attained (they are real order statistics)")
    }
  }

  test("WAV codec round-trips arbitrary PCM16 sample arrays") {
    import graft.ops.Multimodal.WavCodec
    val pcmGen = for {
      n <- Gen.chooseNum(0, 2000)
      sr <- Gen.oneOf(8000, 16000, 44100)
      s <- Gen.listOfN(n, Gen.chooseNum(Short.MinValue, Short.MaxValue))
    } yield (sr, s.map(_.toShort).toArray)
    samples(pcmGen, 20).foreach { case (sr, pcm) =>
      val (sr2, back) = WavCodec.decodePcm16(WavCodec.encodePcm16(pcm, sr))
      assert(sr2 == sr && back.sameElements(pcm))
    }
  }

  test("PPM codec round-trips arbitrary RGB buffers") {
    import graft.ops.Multimodal.PpmCodec
    val imgGen = for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 40)
      rgb <- Gen.listOfN(w * h * 3, Gen.chooseNum(-128, 127))
    } yield (w, h, rgb.map(_.toByte).toArray)
    samples(imgGen, 20).foreach { case (w, h, rgb) =>
      val (w2, h2, back) = PpmCodec.decode(PpmCodec.encode(w, h, rgb))
      assert(w2 == w && h2 == h && back.sameElements(rgb))
    }
  }

  test("chunkTokens invariants: contiguous indexes, full coverage, exact stride") {
    val caseGen = for {
      chunkSize <- Gen.chooseNum(2, 12)
      overlap <- Gen.chooseNum(0, chunkSize - 1)
      texts <- Gen.listOfN(6, textGen)
    } yield (chunkSize, overlap, texts)
    samples(caseGen, 8).foreach { case (chunkSize, overlap, texts) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = TextAnalysis.chunkTokens(docs, "doc_id", "text", chunkSize, overlap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4)))
      val stride = chunkSize - overlap
      out.groupBy(_._1).foreach { case (docId, chunks) =>
        val nToks = texts(docId.toInt).trim.toLowerCase.split("\\s+").length
        val sorted = chunks.sortBy(_._2)
        // 1-based contiguous chunk indexes; starts advance by exactly stride
        assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
        assert(sorted.map(_._3).toSeq == sorted.indices.map(i => 1L + i * stride))
        // every token position covered; no chunk overruns the doc
        val covered = sorted.flatMap(c => c._3 until (c._3 + c._4)).toSet
        assert(covered == (1L to nToks).toSet,
          s"doc $docId: covered $covered of 1..$nToks")
        // chunk text lengths agree with the reported token count
        sorted.foreach(c => assert(c._5.split(" ").length == c._4))
        // zero overlap => chunks partition the token sequence exactly
        if (overlap == 0)
          assert(sorted.map(_._4).sum == nToks)
      }
    }
  }

  test("vocabCoverage invariants: counts partition, permille arithmetic, full vocab") {
    samples(Gen.listOfN(8, textGen), 8).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocabSize = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(out.map(_._1).toSet == texts.indices.map(_.toLong).toSet)
      out.foreach { case (docId, nTok, inVocab, oovTypes, permille) =>
        val toks = texts(docId.toInt).trim.toLowerCase.split("\\s+")
        assert(nTok == toks.length)
        assert(inVocab >= 0 && inVocab <= nTok)
        assert(oovTypes <= nTok - inVocab, "each OOV type occurs at least once")
        assert(permille == (nTok - inVocab) * 1000 / nTok)
      }
      // a vocab at least as large as the type inventory covers everything
      val full = TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocabSize = 64)
        .collect()
      assert(full.forall(r => r.getLong(4) == 0L), "full vocab => zero OOV")
    }
  }

  test("sequence packing invariants hold for arbitrary corpora and budgets") {
    import graft.ops.Splits
    val corpusGen = for {
      budget <- Gen.chooseNum(4, 64)
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, for {
        shard <- Gen.oneOf("s0", "s1", "s2")
        words <- Gen.chooseNum(1, 20)
      } yield (shard, words))
    } yield (budget, rows.zipWithIndex.map { case ((sh, w), i) =>
      (i.toLong, sh, List.fill(w)("tok").mkString(" ")) })
    samples(corpusGen, 8).foreach { case (budget, rows) =>
      val df = rows.toDF("doc_id", "source", "text")
      val out = Splits.packSequences(df, "doc_id", "text", "source", budget)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // every offset lies inside the budget, and within each shard the
      // packing is exactly the running token total in id order
      out.groupBy(_._2).foreach { case (_, shard) =>
        var pre = 0L
        shard.sortBy(_._1).foreach { case (_, _, nTok, bin, off) =>
          assert(off >= 0 && off < budget)
          assert(bin == pre / budget && off == pre % budget)
          pre += nTok
        }
      }
    }
  }

  test("linear scorer is additive under document concatenation") {
    // hashed signed counts add when token streams concatenate, so the
    // integer dot product must add exactly: score(a ++ b) = score(a) +
    // score(b) — the linearity that lets partial aggregation distribute
    samples(Gen.zip(textGen, textGen), 8).foreach { case (a, b) =>
      val df = Seq(1L -> a, 2L -> b, 3L -> s"$a $b").toDF("doc_id", "text")
      val s = TextAnalysis.linearQualityScore(df, "doc_id", "text", 64)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(s(3L) == s(1L) + s(2L),
        s"score not additive: ${s(3L)} != ${s(1L)} + ${s(2L)} for '$a' ++ '$b'")
    }
  }

  test("within-doc line dedup: kept <= total, distinct lines, order preserved") {
    val linesGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("l1", "l2", "l3", "nav", "footer")))
    samples(Gen.listOfN(4, linesGen), 6).foreach { docs =>
      val df = docs.zipWithIndex.map { case (ls, i) => (i.toLong, ls) }
        .toDF("doc_id", "lines")
      val out = Dedup.dedupLinesWithinDoc(df, "doc_id", col("lines"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      docs.zipWithIndex.foreach { case (ls, i) =>
        val (total, kept, text) = out(i.toLong)
        assert(total == ls.size)
        assert(kept == ls.distinct.size)
        // survivors are exactly the distinct lines in first-seen order
        assert(text.split("\n").toSeq == ls.distinct)
      }
    }
  }

  test("crossSourceSpanMatrix matches a naive occurrence-pair recount") {
    val srcGen = Gen.oneOf("sa", "sb", "sc")
    val corpusGen = Gen.listOfN(6, Gen.zip(textGen, srcGen))
    samples(corpusGen, 8).foreach { corpus =>
      val docs = corpus.zipWithIndex.map { case ((t, s), i) => (i.toLong, t, s) }
        .toDF("doc_id", "text", "source")
      val got = Dedup.crossSourceSpanMatrix(docs, "doc_id", "text", "source", 3)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getAs[Long]("n_dup_pairs"), r.getAs[Long]("n_shared_spans"))).toMap
      // naive: every occurrence of every duplicated 3-window, all
      // unordered occurrence pairs, grouped by the sorted source pair
      val occs = corpus.zipWithIndex.flatMap { case ((t, s), i) =>
        t.split("\\s+").toSeq.sliding(3).filter(_.size == 3).zipWithIndex
          .map { case (w, p) => (w.mkString(" "), s, (i, p)) }
      }
      val bySpan = occs.groupBy(_._1).filter(_._2.size > 1)
      val naivePairs = scala.collection.mutable.Map
        .empty[(String, String), (Long, scala.collection.mutable.Set[String])]
      bySpan.foreach { case (span, os) =>
        val touched = scala.collection.mutable.Set.empty[(String, String)]
        for (a <- os.indices; b <- (a + 1) until os.size) {
          val key = if (os(a)._2 <= os(b)._2) (os(a)._2, os(b)._2)
            else (os(b)._2, os(a)._2)
          val (n, spans) = naivePairs.getOrElseUpdate(key,
            (0L, scala.collection.mutable.Set.empty[String]))
          naivePairs(key) = (n + 1, spans += span)
          touched += key
        }
      }
      val naive = naivePairs.map { case (k, (n, sp)) => k -> (n, sp.size.toLong) }
      assert(got == naive.toMap, s"corpus=$corpus\n got=$got\n want=$naive")
    }
  }

  test("lengthBucketBatches: batch size bound, max is the member max, docs preserved") {
    samples(Gen.listOfN(20, textGen), 8).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.ops.Splits
        .lengthBucketBatches(docs, "doc_id", "text", 4, 3)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("bucket"), r.getAs[Long]("batch_id"),
          r.getAs[Long]("batch_max"), r.getAs[Long]("pad_waste")))
      assert(out.length == texts.size, "every doc is batched exactly once")
      out.groupBy(t => (t._3, t._4)).foreach { case ((bkt, _), members) =>
        assert(members.length <= 3, "batch size bound")
        val mx = members.map(_._2).max
        assert(members.forall(_._5 == mx), "batch_max is the member max")
        assert(members.forall(m => m._6 == mx - m._2 && m._6 >= 0))
        assert(members.forall(m => m._2 / 4 == bkt), "bucket = n_tokens div width")
      }
    }
  }

  // ------------------------------------------------ session-3 operators

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n,
      for {
        u <- Gen.chooseNum(0L, 12L)
        v <- Gen.chooseNum(0L, 12L)
      } yield (u, v)))

  private def canonSet(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    edges.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet

  private def neighbors(canon: Set[(Long, Long)]): Map[Long, Set[Long]] =
    canon.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }

  test("triangleCounts matches naive triple enumeration on random graphs") {
    samples(edgeGen, 12).filter(_.nonEmpty).foreach { edges =>
      val canon = canonSet(edges)
      val verts = canon.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        Seq(a, b, c) <- verts.combinations(3)
        if canon((a, b)) && canon((a, c)) && canon((b, c))
        v <- Seq(a, b, c)
      } naive(v) += 1L
      val got = graft.operators.Graph.triangleCounts(
          edges.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().toMap
      assert(got == naive.toMap, s"edges=$edges")
    }
  }

  test("commonNeighbors matches naive neighborhood intersection") {
    samples(edgeGen, 12).filter(_.nonEmpty).foreach { edges =>
      val canon = canonSet(edges)
      val nbr = neighbors(canon)
      val verts = nbr.keys.toSeq.sorted
      val naive = (for {
        Seq(x, y) <- verts.combinations(2)
        if !canon((x, y))
        common = (nbr(x) & nbr(y)).size.toLong
        if common >= 1L
      } yield {
        val dx = nbr(x).size.toLong; val dy = nbr(y).size.toLong
        (x, y, common, dx, dy, common * 1000L / (dx + dy - common))
      }).toSet
      val got = graft.operators.Graph.commonNeighbors(
          edges.toDF("src", "dst"), "src", "dst", minCommon = 1L)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(got == naive, s"edges=$edges")
    }
  }

  test("bfsHops matches naive breadth-first search from arbitrary seeds") {
    val caseGen = for {
      edges <- edgeGen
      seeds <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 12L))
    } yield (edges, seeds.distinct)
    samples(caseGen, 12).filter(_._1.nonEmpty).foreach { case (edges, seeds) =>
      val nbr = neighbors(canonSet(edges)).withDefaultValue(Set.empty[Long])
      val naive = scala.collection.mutable.Map(seeds.map(_ -> 0L): _*)
      var frontier = seeds.toSet
      for (h <- 1L to 3L) {
        frontier = frontier.flatMap(nbr)
        frontier.foreach(v => if (!naive.contains(v)) naive(v) = h)
      }
      val got = graft.operators.Graph.bfsHops(edges.toDF("src", "dst"),
          "src", "dst", seeds.toDF("v"), "v", maxHops = 3)
        .as[(Long, Long)].collect().toMap
      assert(got == naive.toMap, s"edges=$edges seeds=$seeds")
    }
  }

  test("funnelConversion matches a naive per-user ordered walk") {
    val evGen = Gen.chooseNum(1, 24).flatMap(n => Gen.listOfN(n,
      for {
        u <- Gen.chooseNum(1L, 4L)
        t <- Gen.oneOf("a", "b", "c")
        s <- Gen.chooseNum(0L, 50L)
      } yield (u, t, s)))
    val steps = Seq("a", "b", "c")
    samples(evGen, 12).foreach { raw =>
      val ev = raw.zipWithIndex.map { case ((u, t, s), i) =>
        (i.toLong, new java.sql.Timestamp(s * 1000L), u, t)
      }
      // naive: per user, first 'a'; first 'b' strictly after within 10 s;
      // first 'c' strictly after that within 10 s
      val byUser = ev.groupBy(_._3)
      var frontier: Map[Long, Long] = byUser.flatMap { case (u, rows) =>
        val hits = rows.filter(_._4 == steps.head).map(_._2.getTime / 1000)
        if (hits.isEmpty) None else Some(u -> hits.min)
      }
      val expected = scala.collection.mutable.ArrayBuffer((1, "a", frontier.size.toLong))
      steps.tail.zipWithIndex.foreach { case (st, i) =>
        frontier = frontier.flatMap { case (u, prev) =>
          val hits = byUser.getOrElse(u, Nil).filter(_._4 == st)
            .map(_._2.getTime / 1000).filter(s => s > prev && s <= prev + 10)
          if (hits.isEmpty) None else Some(u -> hits.min)
        }
        expected += ((i + 2, st, frontier.size.toLong))
      }
      val got = graft.ops.EventAnalytics.funnelConversion(
          ev.toDF("event_id", "ts", "user_id", "event_type"),
          "user_id", "ts", "event_type", steps, windowSec = Some(10L))
        .as[(Int, String, Long)].collect().toSet
      assert(got == expected.toSet, s"events=$ev")
    }
  }

  test("bigram LM and transitions: conditionals partition their context") {
    val docs = samples(textGen, 8).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val lm = TextAnalysis.bigramLm(docs.toDF("doc_id", "text"), "text")
      .as[(String, String, Long, Long, Long)].collect()
    lm.groupBy(_._1).foreach { case (w1, rows) =>
      val ctx = rows.head._4
      assert(rows.forall(_._4 == ctx), s"$w1: inconsistent context totals")
      assert(rows.map(_._3).sum == ctx, s"$w1: counts must sum to context")
      rows.foreach(r => assert(r._5 >= 0L && r._5 <= 1000L, s"$w1: $r"))
    }
  }

  test("hoppingCounts: every event lands in exactly size/slide hops") {
    val evGen = Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n,
      for {
        k <- Gen.oneOf("x", "y")
        s <- Gen.chooseNum(0L, 10000L)
        v <- Gen.chooseNum(-50, 50)
      } yield (k, s, v.toDouble)))
    samples(evGen, 10).foreach { raw =>
      val ev = raw.map { case (k, s, v) =>
        (k, new java.sql.Timestamp(s * 1000L), v) }
      val out = graft.streaming.Incremental.hoppingCounts(
          ev.toDF("event_type", "ts", "value"), "ts", "event_type",
          sizeSec = 600L, slideSec = 150L)
        .as[(Long, Long, String, Long, Double, Double)].collect()
      assert(out.map(_._4).sum == raw.size.toLong * (600L / 150L),
        s"each event must appear in exactly 4 hops: $raw")
      out.foreach { case (s, e, _, _, mn, mx) =>
        assert(e - s == 600L && s % 150L == 0L, s"bad hop [$s,$e)")
        assert(mn <= mx)
      }
    }
  }

  test("semanticDedup verdicts match a naive within-cell cosine check") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-100, 100))
    samples(Gen.listOfN(24, vecGen), 4).foreach { vecs =>
      val emb = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat / 100f).toArray) }
        .toDF("vec_id", "embedding")
      val out = graft.ops.Similarity
        .semanticDedup(emb, "vec_id", "embedding", kCells = 3, tau = 0.8)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
      val cellOf = out.map { case (id, (c, _)) => id -> c }
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
        BigDecimal(dot / (na * nb))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val byId = vecs.zipWithIndex
        .map { case (v, i) => i.toLong -> v.map(_.toFloat / 100f).toArray }.toMap
      out.foreach { case (id, (cell, kept)) =>
        val hasNearLower = byId.keys.exists(o => o < id && cellOf(o) == cell &&
          cos(byId(o), byId(id)) >= 0.8)
        assert(kept == !hasNearLower,
          s"vec $id cell $cell: kept=$kept but lower-id near neighbor=$hasNearLower")
      }
    }
  }

  // ------------------------------------------------ session-4 operators

  test("kCore matches a naive synchronous peel on random graphs") {
    samples(edgeGen, 10).filter(e => canonSet(e).nonEmpty).foreach { edges =>
      val canon = canonSet(edges)
      var live = canon
      for (_ <- 1 to 3) {
        val deg = live.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        val keep = deg.filter(_._2 >= 2L).keySet
        live = live.filter(e => keep(e._1) && keep(e._2))
      }
      val naive = live.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val got = graft.operators.Graph.kCore(edges.toDF("src", "dst"),
          "src", "dst", k = 2L, rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(got == naive, s"edges=$edges")
    }
  }

  private val intervalGen: Gen[List[(String, Long, Long)]] =
    Gen.chooseNum(1, 14).flatMap(n => Gen.listOfN(n,
      for {
        k <- Gen.oneOf("a", "b")
        s <- Gen.chooseNum(0L, 50L)
        len <- Gen.chooseNum(1L, 20L)
      } yield (k, s * 60000L, (s + len) * 60000L))) // epoch millis

  private def toTs(ms: Long) = new java.sql.Timestamp(ms)

  test("maxConcurrency matches a naive boundary-point count") {
    samples(intervalGen, 10).foreach { iv =>
      val df = iv.map { case (k, s, e) => (k, toTs(s), toTs(e)) }
        .toDF("k", "s", "e")
      val naive = iv.groupBy(_._1).map { case (k, is) =>
        val points = is.flatMap(i => Seq(i._2, i._3)).distinct.sorted
        val conc = points.map(t => t -> is.count(i => i._2 <= t && t < i._3))
        val peak = conc.map(_._2).max
        k -> ((peak.toLong, toTs(conc.find(_._2 == peak).get._1)))
      }
      val got = graft.ops.TimeSeries.maxConcurrency(df, "k", "s", "e")
        .as[(String, Long, java.sql.Timestamp)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == naive, s"intervals=$iv")
    }
  }

  test("intervalCoverage matches naive interval merging") {
    samples(intervalGen, 10).foreach { iv =>
      val df = iv.map { case (k, s, e) => (k, toTs(s), toTs(e)) }
        .toDF("k", "s", "e")
      val naive = iv.groupBy(_._1).map { case (k, is) =>
        val sorted = is.map(i => (i._2, i._3)).sortBy(identity)
        val merged = sorted.foldLeft(List.empty[(Long, Long)]) {
          case (acc, (s, e)) => acc match {
            case (ps, pe) :: rest if s <= pe => (ps, math.max(pe, e)) :: rest
            case _ => (s, e) :: acc
          }
        }
        val covered = merged.map { case (s, e) => e - s }.sum * 1000L
        k -> ((covered, merged.size.toLong))
      }
      val got = graft.ops.TimeSeries.intervalCoverage(df, "k", "s", "e")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == naive, s"intervals=$iv")
    }
  }

  test("nucleusTopP matches the naive prefix-mass rule") {
    val scoreGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(0L, 30L)))
    samples(scoreGen, 10).foreach { scores =>
      val rows = scores.zipWithIndex.map { case (sc, i) => (i.toLong, "g", sc) }
      val df = rows.toDF("id", "grp", "score")
      val total = scores.sum
      val ordered = rows.sortBy(r => (-r._3, r._1))
      val naive = ordered.zip(ordered.scanLeft(0L)(_ + _._3))
        .collect { case ((id, _, _), pre) if pre * 1000 < total * 700 => id }
        .toSet
      val got = graft.ops.Splits.nucleusTopP(df, "id", "score", "grp", 700)
        .select("id").as[Long].collect().toSet
      assert(got == naive, s"scores=$scores")
    }
  }

  test("activityStreaks matches a naive run-length scan") {
    val dayGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(0L, 25L)))
    samples(dayGen, 10).foreach { days =>
      val df = days.map(d => (1L, toTs(d * 86400000L))).toDF("user_id", "ts")
      val ds = days.distinct.sorted
      val runs = ds.foldLeft(List.empty[(Long, Long)]) { // (start, len)
        case ((st, len) :: rest, d) if d == st + len => (st, len + 1) :: rest
        case (acc, d) => (d, 1L) :: acc
      }.reverse
      val longest = runs.map(_._2).max
      val naive = (1L, ds.size.toLong, runs.size.toLong, longest,
        runs.find(_._2 == longest).get._1)
      val got = graft.ops.EventAnalytics.activityStreaks(df, "user_id", "ts")
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(got.toSeq == Seq(naive), s"days=$days")
    }
  }

  test("rollingDistinct matches a naive trailing-window recount") {
    val actGen = Gen.chooseNum(1, 15).flatMap(n => Gen.listOfN(n,
      for {
        d <- Gen.chooseNum(0L, 15L)
        u <- Gen.chooseNum(1L, 5L)
      } yield (d, u)))
    samples(actGen, 10).foreach { acts =>
      val df = acts.map { case (d, u) => ("k", toTs(d * 86400000L), u) }
        .toDF("event_type", "ts", "user_id")
      val days = acts.map(_._1).distinct
      val naive = days.map { d =>
        d -> acts.filter(a => a._1 <= d && a._1 > d - 7)
          .map(_._2).distinct.size.toLong
      }.toMap
      val got = graft.ops.EventAnalytics.rollingDistinct(df, "event_type",
          "ts", "user_id", windowDays = 7)
        .select("day", "n_users").as[(Long, Long)].collect().toMap
      assert(got == naive, s"acts=$acts")
    }
  }

  test("latenessProfile matches a naive high-water-mark walk") {
    val evGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(0L, 2000L))) // event-time seconds, arrival = list order
    samples(evGen, 10).foreach { times =>
      val df = times.zipWithIndex.map { case (t, i) =>
        (i.toLong, toTs(t * 1000L), 1L) }.toDF("event_id", "ts", "user_id")
      val late = times.zip(times.scanLeft(Long.MinValue)(math.max))
        .map { case (t, hwm) => math.max(0L, (hwm - t) * 1000000L) }
      val naive = late.groupBy(_ / 600000000L).map { case (b, ls) =>
        b -> ((ls.size.toLong, ls.max)) }
      val got = graft.ops.EventAnalytics.latenessProfile(df, "user_id",
          "ts", "event_id", bucketMinutes = 10L)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == naive, s"times=$times")
    }
  }

  test("bpeEncode matches a naive greedy single-pass merge walk") {
    val wordGen2 = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a", "b", "c")).map(_.mkString))
    val caseGen = for {
      words <- Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, wordGen2))
      merges <- Gen.listOfN(3, for {
        l <- Gen.oneOf("a", "b", "c", "ab", "bc")
        r <- Gen.oneOf("a", "b", "c")
      } yield (l, r))
    } yield (words, merges)
    def applyMerge(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += l + r; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    samples(caseGen, 10).foreach { case (words, merges) =>
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val naiveToks = words.flatMap { w =>
        merges.foldLeft(w.split("").toList) { case (syms, (l, r)) =>
          applyMerge(syms, l, r) }
      }
      val naive = naiveToks.groupBy(identity).map { case (t, os) =>
        t -> os.size.toLong }
      val got = graft.ops.TextAnalysis.bpeEncode(docs, "text", merges)
        .select("token", "n_occ").as[(String, Long)].collect().toMap
      assert(got == naive, s"words=$words merges=$merges")
    }
  }

  test("labelPropagation matches a naive synchronous mode-label walk") {
    samples(edgeGen, 8).filter(e => canonSet(e).nonEmpty).foreach { edges =>
      val nbr = neighbors(canonSet(edges))
      var labels = nbr.keys.map(v => v -> v).toMap
      for (_ <- 1 to 3) {
        labels = nbr.map { case (v, ns) =>
          val counts = ns.toSeq.map(labels).groupBy(identity)
            .map { case (l, os) => (l, os.size) }
          v -> counts.minBy { case (l, n) => (-n, l) }._1
        }
      }
      val got = graft.operators.Graph.labelPropagation(
          edges.toDF("src", "dst"), "src", "dst", rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(got == labels, s"edges=$edges")
    }
  }
}

