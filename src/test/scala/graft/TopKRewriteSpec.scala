package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The optimizer rule completing the custom-operator triad: declarative
  * row_number-rank filters rewrite to the bounded-heap TopKPerKey
  * operator exactly when provably semantics-preserving.
  */
class TopKRewriteSpec extends SparkTestBase {
  import spark.implicits._

  // idempotent; the shared session keeps the rule for the whole JVM
  graft.plans.TopKRewrite.install(spark)

  // integral score (no NaN), non-nullable, unique per row; long tie col
  private def data = (1 to 4000).map { i =>
    (i % 16L, i.toLong, i * 2654435761L % 100003)
  }.toDF("k", "id", "score")

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** `read` of `df` planned with the rule excluded, the un-rewritten
    * reference; the conf is restored after. Its plan must keep the
    * window and hold no heap operator.
    */
  private def reference[T](df: DataFrame)(read: DataFrame => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.TopKRewrite")
    try {
      val plan = physical(df)
      assert(plan.contains("Window") && !plan.contains("TopKPerKey"),
        s"the reference must keep the window:\n$plan")
      read(df)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def declarativeTopK(k: Int): DataFrame = {
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
    data.withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select("k", "id", "score") // rank dropped -> rewrite-eligible
  }

  test("rank filter rewrites to the heap operator and results match") {
    val df = declarativeTopK(5)
    val plan = physical(df)
    assert(plan.contains("TopKPerKey"), s"expected the heap operator:\n$plan")
    assert(!plan.contains("Window"), s"window must be rewritten away:\n$plan")
    // ground truth from the un-rewritten formulation
    val expected = reference(declarativeTopK(5))(_.as[(Long, Long, Long)].collect().toSet)
    val got = df.as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.size == 16 * 5)
  }

  test("ascending order maps to the smallest-k heap") {
    val w = Window.partitionBy($"k").orderBy($"score".asc, $"id".asc)
    val df = data.withColumn("rn", row_number().over(w))
      .filter($"rn" < 4) // strict bound: k = 3
      .select("k", "id")
    assert(physical(df).contains("TopKPerKey"))
    val got = df.as[(Long, Long)].collect().toSet
    val expected = reference(data.withColumn("rn", row_number().over(w))
      .filter($"rn" < 4).select("k", "id"))(_.as[(Long, Long)].collect().toSet)
    assert(got == expected && got.size == 16 * 3)
  }

  test("guards: rank kept, nullable/floating score, no tie-break -> no rewrite") {
    // rank column survives into the output -> the operator (which emits
    // no rank) must not replace the window
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
    val keepsRank = data.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
    assert(!physical(keepsRank).contains("TopKPerKey"),
      "rank in output must keep the window")

    // floating score can be NaN, which row_number ranks and the heap
    // drops -> must keep the window
    val wd = Window.partitionBy($"k").orderBy($"score_d".desc, $"id".asc)
    val floating = data.withColumn("score_d", $"score".cast("double"))
      .withColumn("rn", row_number().over(wd)).filter($"rn" <= 5)
      .select("k", "id")
    assert(!physical(floating).contains("TopKPerKey"),
      "floating score must keep the window")

    // no total order (single sort key): row set on ties is arbitrary;
    // the conservative rule demands the integral ascending tie-break
    val w1 = Window.partitionBy($"k").orderBy($"score".desc)
    val noTie = data.withColumn("rn", row_number().over(w1)).filter($"rn" <= 5)
      .select("k", "id")
    assert(!physical(noTie).contains("TopKPerKey"),
      "missing tie-break must keep the window")
  }

  test("rank(): fires over an aggregate that proves tie-freeness, matches window") {
    // top-k items by count — the canonical rank-over-aggregate shape:
    // groupBy(k, item) makes (k, item) unique, so ORDER BY (s, item) is
    // tie-free within every partition and rank() == row_number(); count
    // is non-nullable, satisfying the score guard (sum() would not be).
    // item repeats are generated Scala-side: a SQL `%` column is
    // NULLABLE (x % 0 -> null in non-ANSI mode) and would correctly
    // trip the tie-break nullability guard.
    val src = (1 to 4000).map(i => (i % 16L, (i % 50).toLong))
      .toDF("k", "item")
    val agg = src.groupBy($"k", $"item").agg(count(lit(1)).as("s"))
    val w = Window.partitionBy($"k").orderBy($"s".desc, $"item".asc)
    val df = agg.withColumn("r", rank().over(w)).filter($"r" <= 4)
      .select("k", "item", "s")
    val plan = physical(df)
    assert(plan.contains("TopKPerKey"), s"rank over aggregate must rewrite:\n$plan")
    assert(!plan.contains("Window"), s"window must be rewritten away:\n$plan")
    val expected = reference(agg.withColumn("r", rank().over(w)).filter($"r" <= 4)
      .select("k", "item", "s"))(_.as[(Long, Long, Long)].collect().toSet)
    assert(df.as[(Long, Long, Long)].collect().toSet == expected)
    assert(expected.size == 16 * 4)
  }

  test("rank(): no distinctness proof -> window kept (ties may straddle k)") {
    // raw rows: nothing proves (k, id) unique, and duplicated rows DO
    // tie — rank <= 3 keeps rank values 1,1,3,3 (4 rows), which the
    // exactly-k heap operator cannot represent
    val dup = data.union(data) // every (score, id) pair now ties
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
    val df = dup.withColumn("r", rank().over(w)).filter($"r" <= 3)
      .select("k", "id")
    assert(!physical(df).contains("TopKPerKey"),
      "unproven tie-freeness must keep the window")
    // and the window answer genuinely exceeds k rows per key:
    assert(df.count() == 16 * 4, "ranks 1,1,3,3 all pass the <=3 filter")
  }

  test("rank(): proof survives a pass-through Project but not a computed one") {
    val agg = data.groupBy($"k", $"id").agg(count(lit(1)).as("s"))
    // pass-through rename keeps the proof
    val renamed = agg.select($"k", $"id".as("item"), $"s")
    val w2 = Window.partitionBy($"k").orderBy($"s".desc, $"item".asc)
    val ok = renamed.withColumn("r", rank().over(w2)).filter($"r" <= 3)
      .select("k", "item")
    assert(physical(ok).contains("TopKPerKey"),
      "alias of an attribute must not break the distinctness proof")
    // a COMPUTED tie column (id % 7 — collisions possible) breaks it
    val computed = agg.select($"k", ($"id" % 7).as("item"), $"s")
    val bad = computed.withColumn("r", rank().over(w2)).filter($"r" <= 3)
      .select("k", "item")
    assert(!physical(bad).contains("TopKPerKey"),
      "a computed tie column has no uniqueness witness")
  }

  test("conjunct split: rank bound + residual predicate fires, residual stays above") {
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
    val df = data.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5 && $"id" % 2 === 0)
      .select("k", "id", "score")
    val plan = physical(df)
    assert(plan.contains("TopKPerKey"),
      s"a conjunct rank bound must still rewrite:\n$plan")
    assert(!plan.contains("Window"), s"window must be gone:\n$plan")
    // semantics: residual prunes the already-selected top-5, never changes it
    val expected = reference(data.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5 && $"id" % 2 === 0)
      .select("k", "id", "score"))(_.as[(Long, Long, Long)].collect().toSet)
    assert(df.as[(Long, Long, Long)].collect().toSet == expected)
    // two rank bounds take the tightest; rank referenced by the residual
    // (rn % 2 = 0 is not a bare bound) must keep the window
    val both = data.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 7 && $"rn" <= 3).select("k", "id")
    assert(physical(both).contains("TopKPerKey"))
    assert(both.count() == 16 * 3, "tightest bound wins")
    val rankRef = data.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5 && $"rn" % 2 === 0).select("k", "id")
    assert(!physical(rankRef).contains("TopKPerKey"),
      "a residual conjunct referencing the rank must keep the window")
    // nondeterministic residual must keep the window (it would otherwise
    // evaluate over a different row set). NOTE: rand() < 2.0 won't do —
    // Catalyst knows Rand ∈ [0,1) and folds that conjunct away before
    // this rule runs — so the residual must compare against a column.
    val nondet = data.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5 && rand() < $"score").select("k", "id")
    assert(!physical(nondet).contains("TopKPerKey"),
      "a nondeterministic residual must keep the window")
  }

  test("plan fuzz: the rewrite never changes results across random shapes") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[T](gen: Gen[T], n: Int): Seq[T] =
      (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(7L + i)))
    val shapeGen = for {
      nRows   <- Gen.chooseNum(1, 300)
      nKeys   <- Gen.chooseNum(1, 8)
      nScores <- Gen.chooseNum(1, 6) // few distinct scores => many ties
      useRank <- Gen.oneOf(true, false)
      aggr    <- Gen.oneOf(true, false)
      withTie <- Gen.oneOf(true, false)
      desc    <- Gen.oneOf(true, false)
      k       <- Gen.chooseNum(1, 5)
      resid   <- Gen.oneOf(true, false) // extra conjunct next to the bound
    } yield (nRows, nKeys, nScores, useRank, aggr, withTie, desc, k, resid)
    samples(shapeGen, 40).foreach {
      case (nRows, nKeys, nScores, useRank, aggr, withTie, desc, k, resid) =>
        val rows = (1 to nRows).map { i =>
          // ids repeat so the aggregate branch has varying counts
          (i % nKeys.toLong, (i % (nRows / 3 + 1)).toLong,
            (i * 2654435761L % nScores) + 1)
        }
        val raw = rows.toDF("k", "id", "score")
        def build() = {
          val base =
            if (aggr) raw.groupBy($"k", $"id").agg(count(lit(1)).as("score"))
            else raw
          val ord =
            (if (desc) $"score".desc else $"score".asc) +:
              (if (withTie) Seq($"id".asc) else Nil)
          val w = Window.partitionBy($"k").orderBy(ord: _*)
          val r = if (useRank) rank().over(w) else row_number().over(w)
          val cond = if (resid) $"r" <= k && $"id" % 2 === 0 else $"r" <= k
          base.withColumn("r", r).filter(cond).select("k", "id", "score")
        }
        val got = build().as[(Long, Long, Long)].collect().sorted.toSeq
        val expected = reference(build())(_.as[(Long, Long, Long)].collect().sorted.toSeq)
        assert(got == expected,
          s"rewrite changed results for shape (rows=$nRows keys=$nKeys " +
            s"scores=$nScores rank=$useRank agg=$aggr tie=$withTie " +
            s"desc=$desc k=$k resid=$resid)")
    }
  }

  test("the driver query topk_rank_rewrite actually takes the heap path") {
    val df = SparkEntry.queries("topk_rank_rewrite")(spark, sf("sf0.001"))
    val plan = physical(df)
    assert(plan.contains("TopKPerKey"), s"rewrite must fire:\n$plan")
    assert(!plan.contains("Window"), s"window must be gone:\n$plan")
    assert(df.count() > 0)
  }

  test("the driver query topk_rank_agg takes the heap path via the rank() leg") {
    val df = SparkEntry.queries("topk_rank_agg")(spark, sf("sf0.001"))
    val plan = physical(df)
    assert(plan.contains("TopKPerKey"), s"rank rewrite must fire:\n$plan")
    assert(!plan.contains("Window"), s"window must be gone:\n$plan")
    assert(df.count() > 0)
  }
}
