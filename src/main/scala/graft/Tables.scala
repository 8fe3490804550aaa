package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated harness tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] takes `(SparkSession, sfDir)` and
  * reads the parquet it needs through here, so filters/projections stay
  * directly on top of the scan and Catalyst can push them down
  * (`PushedFilters` / `ReadSchema` in explain output).
  */
object Tables {
  /** Resolved-relation cache: one file listing + footer/schema read per
    * (session, path), shared by every query that touches the table —
    * the catalog-metadata cache any engine keeps. DataFrames are
    * immutable logical plans, so sharing one across queries is safe.
    *
    * Memoization is scoped to the HARNESS table names only (static
    * inputs per TESTDATA.md, so their file listings cannot go stale);
    * any other name resolves fresh on every call. [[invalidate]] clears
    * entries explicitly — call it if a cached path is ever rewritten
    * in-session or when a session is stopped, so stale listings and
    * dead-session plans are never retained.
    */
  private val harnessTables = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  private val resolved =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (harnessTables(name))
      resolved.getOrElseUpdate((spark, s"$dir/$name.parquet"),
        spark.read.parquet(s"$dir/$name.parquet"))
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Drop every cached relation of `spark` (e.g. on session stop). */
  def invalidate(spark: SparkSession): Unit =
    resolved.keys.foreach { case k @ (s, _) => if (s == spark) resolved.remove(k) }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.parquet's `ts` physical type has changed across harness
    * regenerations (TIMESTAMP(NANOS) in some drops, timestamp[us] in
    * others), so normalize whatever the scan yields to a session-zone
    * `TimestampType` column:
    *   - LONG: the nanos-as-long shim kicked in — downcast nanos to
    *     microsecond timestamps (the generator emits whole microseconds,
    *     so the `div 1000` truncation is exact);
    *   - TIMESTAMP / TIMESTAMP_NTZ: already microseconds — cast to the
    *     session `TimestampType` so `unix_micros`/window semantics match
    *     the long path (sessions run UTC, so the cast is value-preserving).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // Harmless when the file is already timestamp[us]; required to even
    // load a TIMESTAMP(NANOS) file. Must be set before the first scan.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
