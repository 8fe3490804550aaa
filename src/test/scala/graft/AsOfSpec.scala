package graft

import java.sql.Timestamp
import graft.operators.AsOf

class AsOfSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val quotes = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100.0),
    (1L, ts("2024-01-01 10:05:00"), 101.0),
    (1L, ts("2024-01-01 10:10:00"), 99.0),
    (2L, ts("2024-01-01 10:07:00"), 50.0)).toDF("key", "qts", "price")
    .withColumnRenamed("qts", "ts")

  private val trades = Seq(
    (10L, 1L, ts("2024-01-01 10:06:00")), // matches 10:05 quote
    (11L, 1L, ts("2024-01-01 10:05:00")), // exact tie -> matches 10:05 (>= semantics)
    (12L, 1L, ts("2024-01-01 09:59:00")), // before any quote -> unmatched
    (13L, 2L, ts("2024-01-01 11:00:00")), // matches the 10:07 quote
    (14L, 3L, ts("2024-01-01 11:00:00"))  // key with no quotes at all
  ).toDF("trade_id", "key", "ts")

  test("as-of join picks the most recent prior right row per key") {
    val out = AsOf.join(trades, quotes, "key", "ts", Seq("price" -> "quote_price"))
      .select("trade_id", "quote_price").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(10L).contains(101.0))
    assert(out(11L).contains(101.0), "equal timestamps match (>= semantics)")
    assert(out(12L).isEmpty, "no prior quote -> null")
    assert(out(13L).contains(50.0))
    assert(out(14L).isEmpty)
  }

  test("matched variant drops unmatched left rows") {
    val out = AsOf.joinMatched(trades, quotes, "key", "ts", Seq("price" -> "p"))
    assert(out.select("trade_id").as[Long].collect().toSet == Set(10L, 11L, 13L))
  }

  test("payload fields are stitched from the SAME right row when some are NULL") {
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Option(100.0), Option("a")),
      (1L, ts("2024-01-01 10:05:00"), Option.empty[Double], Option("b"))
    ).toDF("key", "ts", "price", "tag")
    val left = Seq((20L, 1L, ts("2024-01-01 10:06:00")))
      .toDF("trade_id", "key", "ts")
    val out = AsOf.join(left, right, "key", "ts",
      Seq("price" -> "p", "tag" -> "t")).collect().head
    // the matched row is 10:05: p must stay NULL (never pulled from the
    // 10:00 row) and t must be that same row's "b"
    assert(out.isNullAt(out.fieldIndex("p")))
    assert(out.getString(out.fieldIndex("t")) == "b")
    // matched variants gate on the match marker, so a matched row with a
    // legitimately-NULL payload field survives
    assert(AsOf.joinMatched(left, right, "key", "ts",
      Seq("price" -> "p", "tag" -> "t")).count() == 1)
    val fwdLeft = Seq((21L, 1L, ts("2024-01-01 10:04:00")))
      .toDF("trade_id", "key", "ts")
    val fwd = AsOf.joinForwardMatched(fwdLeft, right, "key", "ts",
      Seq("price" -> "p", "tag" -> "t")).collect()
    assert(fwd.length == 1 && fwd.head.isNullAt(fwd.head.fieldIndex("p")) &&
      fwd.head.getString(fwd.head.fieldIndex("t")) == "b")
  }

  test("forward as-of picks the earliest following right row per key") {
    val out = AsOf.joinForwardMatched(trades, quotes, "key", "ts",
        Seq("price" -> "next_price"))
      .select("trade_id", "next_price").as[(Long, Double)].collect().toMap
    assert(out(10L) == 99.0, "10:06 trade -> 10:10 quote")
    assert(out(11L) == 101.0, "equal timestamps match (<= semantics)")
    assert(out(12L) == 100.0, "09:59 trade -> first quote of the day")
    assert(out.keySet == Set(10L, 11L, 12L), "no following quote -> no row")
  }
}
