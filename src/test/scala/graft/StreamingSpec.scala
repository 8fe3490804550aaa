package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Incremental

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Structured-Streaming semantics: the weekly transform must produce the
  * same answer on a stream as on the equivalent batch, and within-watermark
  * dedup must collapse at-least-once replays.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
    Ev(2, ts("2024-01-03 10:00:00"), 1, "click", 2.0),
    Ev(3, ts("2024-01-09 10:00:00"), 2, "view", 3.0),
    Ev(4, ts("2024-01-10 10:00:00"), 2, "view", 4.0))

  test("streaming weekly counts match the batch transform") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // the one transform, unchanged, over a stream and over the batch
    val q = Incremental.weeklyCounts(mem.toDF(), "ts", "event_type")
      .writeStream.outputMode("complete").format("memory")
      .queryName("weekly_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("weekly_out")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val batch = Incremental.weeklyCounts(rows.toDF(), "ts", "event_type")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got == batch)
      assert(got.toSeq.map(_._3).sum == 4)
    } finally q.stop()
  }

  test("dedupStream collapses replayed event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Incremental.dedupStream(mem.toDF(), "ts", "event_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData(rows: _*) // at-least-once replay of the same batch
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 4)
    } finally q.stop()
  }

  test("streaming session windows match batch sessionization") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sessed = graft.streaming.Sessionize.streamingSessions(
      mem.toDF(), "ts", "user_id", gap = "30 minutes")
    val q = sessed.writeStream.outputMode("complete").format("memory")
      .queryName("sess_out").start()
    try {
      val burst = Seq(
        Ev(10, ts("2024-02-01 10:00:00"), 5, "click", 1.0),
        Ev(11, ts("2024-02-01 10:10:00"), 5, "click", 2.0), // same session
        Ev(12, ts("2024-02-01 11:30:00"), 5, "click", 4.0), // new session
        Ev(13, ts("2024-02-01 10:05:00"), 6, "view", 8.0))
      mem.addData(burst: _*)
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
      val batch = graft.streaming.Sessionize.sessionWindows(
          burst.toDF(), "ts", "user_id", "30 minutes")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
      assert(got == batch)
      assert(got.size == 3)
      val s1 = got.find(s => s._1 == 5L && s._4 == 2).get
      assert(s1._3 == ts("2024-02-01 10:40:00"), "session end = last event + gap")
    } finally q.stop()
    // append mode across batches: a session is emitted once, when the
    // watermark passes its end; a gap-breaking event closes its own
    // user's session and, through the watermark, every other user's
    val mem2 = MemoryStream[Ev]
    val q2 = graft.streaming.Sessionize.streamingSessions(
        mem2.toDF(), "ts", "user_id", gap = "30 minutes", watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_append").start()
    def closed = spark.table("sess_append")
      .select("user_id", "session_end", "n_events", "sum_value")
      .as[(Long, Timestamp, Long, Double)].collect().toSet
    try {
      mem2.addData(
        Ev(20, ts("2024-02-01 10:00:00"), 5, "click", 1.0),
        Ev(21, ts("2024-02-01 10:10:00"), 5, "click", 2.0),
        Ev(22, ts("2024-02-01 10:00:00"), 7, "click", 1.0),
        Ev(23, ts("2024-02-01 10:10:00"), 7, "click", 2.0))
      q2.processAllAvailable()
      assert(closed.isEmpty, "open sessions are not emitted")
      mem2.addData(Ev(24, ts("2024-02-01 12:00:00"), 5, "click", 4.0))
      q2.processAllAvailable()
      assert(closed == Set(
        (5L, ts("2024-02-01 10:40:00"), 2L, 3.0),
        (7L, ts("2024-02-01 10:40:00"), 2L, 3.0)),
        "both 10:00 sessions closed; user 5's 12:00 session stays open")
    } finally q2.stop()
  }

  test("transformWithState MapState leaderboard carries counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.Stateful.topKMembers(mem.toDS(), k = 2)
      .toDF("k", "n_seen", "member", "cnt", "rank")
      .writeStream.outputMode("append").format("memory")
      .queryName("tws_topk").start()
    try {
      // batch 1: member 1 leads key "a" (2 vs 1)
      mem.addData(("a", 1L), ("a", 1L), ("a", 2L))
      q.processAllAvailable()
      val b1 = spark.table("tws_topk").filter(col("n_seen") === 3)
        .orderBy("rank").select("member", "cnt")
        .as[(Long, Long)].collect().toSeq
      assert(b1 == Seq((1L, 2L), (2L, 1L)))
      // batch 2: three more 2s — MAP STATE must carry batch 1's counts,
      // so member 2 now leads 4 to 2 (fresh state would say 3 to 0)
      mem.addData(("a", 2L), ("a", 2L), ("a", 2L))
      q.processAllAvailable()
      val b2 = spark.table("tws_topk").filter(col("n_seen") === 6)
        .orderBy("rank").select("member", "cnt")
        .as[(Long, Long)].collect().toSeq
      assert(b2 == Seq((2L, 4L), (1L, 2L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming partitioned merge: overlapping micro-batches converge to the one-batch table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_smerge_").toString
    val streamed = s"$dir/streamed"; val oneShot = s"$dir/oneshot"
    val mem = MemoryStream[(Long, String, String)]
    val q = Incremental.foreachBatchMergePartitioned(
        mem.toDF().toDF("k", "v", "part"), streamed, Seq("k"), "part")
      .start()
    try {
      mem.addData((1L, "a", "p1"), (2L, "b", "p2"))
      q.processAllAvailable()
      // overlaps batch 1: k=2 updated, k=3 new — and replays k=1 verbatim
      mem.addData((1L, "a", "p1"), (2L, "b2", "p2"), (3L, "c", "p1"))
      q.processAllAvailable()
      val asStream = spark.read.parquet(streamed)
        .select("k", "v", "part").as[(Long, String, String)].collect().toSet
      // the same rows merged as ONE batch (last write per key)
      graft.operators.Sinks.mergeUpsertPartitioned(
        Seq((1L, "a", "p1"), (2L, "b2", "p2"), (3L, "c", "p1"))
          .toDF("k", "v", "part"),
        oneShot, Seq("k"), "part")
      val asBatch = spark.read.parquet(oneShot)
        .select("k", "v", "part").as[(Long, String, String)].collect().toSet
      assert(asStream == asBatch, s"stream $asStream vs batch $asBatch")
      assert(asStream == Set((1L, "a", "p1"), (2L, "b2", "p2"), (3L, "c", "p1")))
    } finally q.stop()
  }

  test("restart from checkpoint: a crash between micro-batches recovers exactly-once") {
    // the incr_weekly_merge shape, killed and restarted: two overlapping
    // file drops, maxFilesPerTrigger=1, partition-scoped idempotent
    // merge. Run 1 commits micro-batch 0 then CRASHES as batch 1 opens
    // (injected throw — a real failed query, not a graceful stop); run 2
    // restarts from the SAME checkpoint and must redo ONLY the
    // uncommitted batch; run 3 must be a no-op. This is the reference's
    // weekly idempotency story surviving a mid-flow death.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_restart_").toString
    val inDir = s"$base/in"; val table = s"$base/table"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    ev.filter(col("event_id") % 3 =!= 0).coalesce(1)
      .write.mode("append").parquet(inDir)
    ev.filter(col("event_id") % 3 =!= 1).coalesce(1)
      .write.mode("append").parquet(inDir)
    val processed = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    def run(crashAtBatch: Option[Long]) = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
          if (crashAtBatch.contains(id))
            throw new RuntimeException(s"injected crash at micro-batch $id")
          graft.operators.Sinks.mergeUpsertPartitioned(
            batch, table, Seq("event_id"), "event_type")
          processed.add(id): Unit
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
    }
    // run 1: batch 0 commits, batch 1 dies
    val q1 = run(crashAtBatch = Some(1L))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(processed.toArray.toSeq == Seq(0L), "exactly batch 0 committed")
    val partial = spark.read.parquet(table).count()
    assert(partial > 0 && partial < ev.count(), "crash left a partial table")
    // run 2: recovery — the committed batch is NOT replayed
    processed.clear()
    run(crashAtBatch = None).awaitTermination()
    assert(processed.toArray.toSeq == Seq(1L),
      s"restart must redo only the uncommitted batch, got $processed")
    // recovered table = the batch world, bit-for-bit on the weekly rollup
    val streamWeekly = Incremental.weeklyCounts(
        spark.read.parquet(table), "ts", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batchWeekly = Incremental.weeklyCounts(ev, "ts", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamWeekly == batchWeekly,
      "post-recovery table must hash-match the batch oracle")
    // run 3: nothing new under the checkpoint — a clean no-op
    processed.clear()
    run(crashAtBatch = None).awaitTermination()
    assert(processed.isEmpty, "an already-caught-up restart replays nothing")
  }

  test("bloom dedup stream: duplicates never re-emitted across batches, state fixed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val out = Incremental.bloomDedupStream(mem.toDS(), shards = 4,
      numWords = 1024, numHashes = 4)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("bloom_dedup_out").start()
    try {
      mem.addData(1L, 2L, 3L, 2L) // within-batch dup
      q.processAllAvailable()
      mem.addData(3L, 4L, 1L, 5L) // cross-batch dups
      q.processAllAvailable()
      val got = spark.table("bloom_dedup_out").as[Long].collect().toSeq
      assert(got.size == got.toSet.size, s"an id was emitted twice: $got")
      assert(got.toSet == Set(1L, 2L, 3L, 4L, 5L),
        "at this fill level (5 ids in 64kbit) no false positives are expected")
    } finally q.stop()
  }

  test("AvailableNow reruns reuse their generated code: no recompiles on the second run") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val run = SparkEntry.queries("incr_running_totals")
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run(spark, sf("sf0.001")).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles()
    val second = compiles()
    assert(second == 0, s"the second run recompiled $second classes")
  }

  test("trailing window filter bounds (exclusive start, inclusive end)") {
    val df = rows.toDF()
    val got = Incremental.trailingWindow(df, "ts", "2024-01-10 10:00:00", 7)
      .select("event_id").as[Long].collect().toSet
    assert(got == Set(3L, 4L),
      "event 2 sits exactly on the exclusive start boundary; event 4 on the inclusive end")
  }

  test("restart from checkpoint: stream-stream join state survives a mid-query crash") {
    // the incr_stream_join shape killed and restarted: clicks committed
    // in micro-batch 0 live in JOIN STATE (not the sink) when the crash
    // lands in batch 1 — recovery must restore that state so batch 1's
    // purchases still attribute to batch 0's clicks. A fresh-state
    // restart would lose every cross-batch match.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_ssj_restart_").toString
    val clickDir = s"$base/clicks"; val purchDir = s"$base/purchases"
    val pairs = s"$base/pairs"; val ckpt = s"$base/ckpt"
    def t(m: Int) = ts(f"2024-03-01 10:$m%02d:00")
    val clicks1 = Seq((1L, t(0)), (2L, t(1))).toDF("click_user", "click_ts")
    val clicks2 = Seq((3L, t(2))).toDF("click_user", "click_ts")
    // purchases in file 2 attribute to CLICKS FROM FILE 1 — the
    // cross-batch state the crash puts at risk
    val purch1 = Seq((9L, t(5), 1.0)).toDF("purchase_user", "purchase_ts", "amount")
    val purch2 = Seq((1L, t(30), 10.0), (2L, t(31), 20.0), (3L, t(32), 30.0))
      .toDF("purchase_user", "purchase_ts", "amount")
    clicks1.coalesce(1).write.mode("append").parquet(clickDir)
    purch1.coalesce(1).write.mode("append").parquet(purchDir)
    clicks2.coalesce(1).write.mode("append").parquet(clickDir)
    purch2.coalesce(1).write.mode("append").parquet(purchDir)
    val attributed = expr("""click_user = purchase_user AND click_ts <= purchase_ts AND
                click_ts >= purchase_ts - INTERVAL 1 HOUR""")
    val committed = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    def run(crashAtBatch: Option[Long]) = {
      val cs = spark.readStream.schema(clicks1.schema)
        .option("maxFilesPerTrigger", 1).parquet(clickDir)
      val ps = spark.readStream.schema(purch1.schema)
        .option("maxFilesPerTrigger", 1).parquet(purchDir)
      ps.withWatermark("purchase_ts", "2 hours")
        .join(cs.withWatermark("click_ts", "2 hours"), attributed)
        .select(col("purchase_user"), col("purchase_ts"), col("amount"),
          col("click_user"), col("click_ts"))
        .writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
          if (crashAtBatch.contains(id))
            throw new RuntimeException(s"injected crash at micro-batch $id")
          graft.operators.Sinks.appendDedup(batch, pairs,
            Seq("purchase_user", "purchase_ts", "click_ts"))
          committed.add(id): Unit
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = run(crashAtBatch = Some(1L))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(committed.toArray.toSeq == Seq(0L), "exactly batch 0 committed")
    committed.clear()
    run(crashAtBatch = None).awaitTermination()
    assert(committed.toArray.toSeq.forall(_.asInstanceOf[Long] >= 1L),
      s"restart must not replay the committed batch, got $committed")
    val got = spark.read.parquet(pairs)
      .select("purchase_user", "click_user", "amount")
      .as[(Long, Long, Double)].collect().toSet
    // batch oracle: the same interval join run as one batch query
    val oracle = purch1.union(purch2).join(clicks1.union(clicks2), attributed)
      .select("purchase_user", "click_user", "amount")
      .as[(Long, Long, Double)].collect().toSet
    assert(oracle.nonEmpty && got == oracle,
      s"post-recovery pairs must match the batch join oracle: $got vs $oracle")
    assert(got.contains((1L, 1L, 10.0)) && got.contains((2L, 2L, 20.0)),
      "batch 1's purchases must attribute to batch 0's clicks via RESTORED state")
  }

  test("restart from checkpoint: transformWithState value state survives a mid-query crash") {
    // the transformWithState shape killed and restarted: RunningTotals'
    // ValueState holds batch 0's per-key (count, sum) when the crash
    // lands in batch 1 — recovery must CONTINUE the totals from the
    // RocksDB snapshot, not restart them at zero. Output rows carry the
    // cumulative count, so a state reset is directly visible.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = java.nio.file.Files.createTempDirectory("graft_tws_restart_").toString
    val inDir = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val f1 = Seq((7L, 10L), (7L, 2L), (8L, 5L)).toDF("k", "v")
    val f2 = Seq((7L, 100L), (8L, 1L), (9L, 9L)).toDF("k", "v")
    f1.coalesce(1).write.mode("append").parquet(inDir)
    f2.coalesce(1).write.mode("append").parquet(inDir)
    val committed = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    def run(crashAtBatch: Option[Long]) = {
      val stream = spark.readStream.schema(f1.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .select(col("k"), col("v")).as[(Long, Long)]
      graft.streaming.Stateful.runningTotals(stream)
        .toDF("k", "n", "s")
        .writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
          if (crashAtBatch.contains(id))
            throw new RuntimeException(s"injected crash at micro-batch $id")
          // (k, n) is monotone per key, so replays converge first-write-wins
          graft.operators.Sinks.appendDedup(batch, out, Seq("k", "n"))
          committed.add(id): Unit
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
    }
    try {
      val q1 = run(crashAtBatch = Some(1L))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.awaitTermination()
      }
      assert(committed.toArray.toSeq == Seq(0L), "exactly batch 0 committed")
      committed.clear()
      run(crashAtBatch = None).awaitTermination()
      assert(committed.toArray.toSeq.forall(_.asInstanceOf[Long] >= 1L),
        s"restart must not replay the committed batch, got $committed")
      // converged totals = max-count row per key (the pinned contract)
      val got = spark.read.parquet(out).groupBy(col("k"))
        .agg(max_by(struct(col("n"), col("s")), col("n")).as("t"))
        .select(col("k"), col("t.n"), col("t.s"))
        .as[(Long, Long, Long)].collect().toSet
      // a state reset would leave key 7 at (1, 100) and key 8 at (1, 1)
      assert(got == Set((7L, 3L, 112L), (8L, 2L, 6L), (9L, 1L, 9L)),
        s"totals must CONTINUE from restored state, got $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("restart from checkpoint: a crash MID-COMMIT (partial sink write) converges (RocksDB dedup)") {
    // The r14 restart matrix killed queries BETWEEN micro-batches (the
    // injected throw fired before any side effect). This is the harder
    // shape: the incr_stream_dedup pipeline (dropDuplicatesWithinWatermark
    // on RocksDB) dies INSIDE batch 1's commit, after a deterministic
    // SLICE of the batch's output already landed in the table — the
    // partial-write world a real sink death leaves behind. Recovery must
    // (a) discard the failed attempt's uncommitted state version and
    // replay the WHOLE batch, and (b) converge through the idempotent
    // dedup-before-append sink, absorbing the rows the dead attempt wrote.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = java.nio.file.Files.createTempDirectory("graft_midcommit_").toString
    val inDir = s"$base/in"; val table = s"$base/table"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    ev.filter(col("event_id") % 3 =!= 0).coalesce(1)
      .write.mode("append").parquet(inDir)
    ev.filter(col("event_id") % 3 =!= 1).coalesce(1)
      .write.mode("append").parquet(inDir)
    def run(crashMidBatch: Option[Long]) = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark("event_id")
      stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
          if (crashMidBatch.contains(id)) {
            // land a deterministic slice of THIS batch, then die: the
            // table now holds committed batch 0 + a torn fragment of
            // batch 1 (the filter keeps the full pipeline running — no
            // limit short-circuit — so the state store sees the whole
            // batch before the sink-side death)
            graft.operators.Sinks.appendDedup(
              batch.filter(col("event_id") % 5 === 0), table, Seq("event_id"))
            throw new RuntimeException(s"injected mid-commit crash in batch $id")
          }
          graft.operators.Sinks.appendDedup(batch, table, Seq("event_id"))
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
    }
    try {
      val q1 = run(crashMidBatch = Some(1L))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.awaitTermination()
      }
      val torn = spark.read.parquet(table).count()
      val full = ev.select(col("event_id")).distinct().count()
      assert(torn > 0 && torn < full,
        s"the crash must leave a torn table: $torn of $full rows")
      run(crashMidBatch = None).awaitTermination()
      // converged table = exactly the distinct-event world, fragment absorbed
      val got = spark.read.parquet(table)
      assert(got.count() == full, "replay + idempotent append must converge")
      val gotAgg = got.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("s"))
        .as[(String, Long, Double)].collect().toSet
      val expAgg = ev.dropDuplicates("event_id").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("s"))
        .as[(String, Long, Double)].collect().toSet
      assert(gotAgg == expAgg, "post-recovery table must equal the batch oracle")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("restart from checkpoint: MapState leaderboard survives a crash INSIDE the processor (RocksDB)") {
    // The incr_stream_topk shape with the kill landing inside
    // handleInputRows MID-BATCH: a poison key in batch 1 throws from the
    // stateful processor itself, AFTER other keys/partitions of the same
    // batch have already updated their MapState entries. Those updates
    // belong to an uncommitted state version — recovery must discard
    // them, reload batch 0's committed version, and replay batch 1 so no
    // member count is applied twice. A leaked partial version would
    // double-count batch 1's members; a reset store would zero batch 0's.
    import org.apache.spark.sql.streaming.Trigger
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = java.nio.file.Files.createTempDirectory("graft_maptopk_").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val drop1 = Seq(("click", 1L), ("click", 1L), ("click", 2L), ("view", 9L))
    val drop2 = Seq(("click", 2L), ("click", 2L), ("view", 8L), ("view", 9L),
      ("__boom__", 0L))
    drop1.toDF("event_type", "user_id").coalesce(1)
      .write.mode("append").parquet(inDir)
    drop2.toDF("event_type", "user_id").coalesce(1)
      .write.mode("append").parquet(inDir)
    def run() = {
      val stream = spark.readStream
        .schema("event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .as[(String, Long)]
      stream.groupByKey(_._1)
        .transformWithState(new CrashingTopK(3),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF("event_type", "n_seen", "user_id", "n_events", "rank")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode("append")
        .start()
    }
    try {
      CrashingTopK.armed = true
      val q1 = run()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.awaitTermination()
      }
      CrashingTopK.armed = false
      run().awaitTermination()
      // converged leaderboard = max-stamp rows per key (the ledger
      // query's selection), poison key excluded
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
      val got = spark.read.parquet(outDir)
        .filter(col("event_type") =!= "__boom__")
        .withColumn("__mx", max(col("n_seen")).over(w))
        .filter(col("n_seen") === col("__mx"))
        .select("event_type", "n_seen", "user_id", "n_events", "rank")
        .as[(String, Long, Long, Long, Int)].collect().toSet
      // click: 5 rows seen, counts 2->3 / 1->2; view: 3 rows, 9->2 / 8->1.
      // A zeroed store would read (click, 2, 2, 2, 1); a double-applied
      // batch 1 would read counts 2->5 or view 9->3.
      assert(got == Set(
        ("click", 5L, 2L, 3L, 1), ("click", 5L, 1L, 2L, 2),
        ("view", 3L, 9L, 2L, 1), ("view", 3L, 8L, 1L, 2)),
        s"leaderboard must continue from the committed MapState, got $got")
    } finally {
      CrashingTopK.armed = false
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}

/** [[graft.streaming.Stateful.TopKMembers]] with a fault injector: while
  * `armed`, seeing the poison key throws FROM INSIDE handleInputRows —
  * after the same batch's other keys (and partitions) have already
  * written their MapState updates into the uncommitted version. Static
  * flag works because local-mode tasks share the driver JVM.
  */
class CrashingTopK(k: Int) extends graft.streaming.Stateful.TopKMembers(k) {
  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                               timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(String, Long, Long, Long, Int)] = {
    if (key == "__boom__" && CrashingTopK.armed)
      throw new RuntimeException("injected mid-batch crash inside the processor")
    super.handleInputRows(key, rows, timerValues)
  }
}

object CrashingTopK {
  @volatile var armed = false
}
