package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.functions.Expressions.z_value
import graft.operators.Layout

class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("z_value interleaves bits (known values)") {
    // x=0b11, y=0b01, 2 bits: out bit layout b*n+i -> x0,y0,x1,y1 = 1,1,1,0 -> 0b0111
    val out = Seq((3L, 1L)).toDF("x", "y")
      .select(z_value(array($"x", $"y"), 2, 2).as("z"))
      .head().getLong(0)
    assert(out == 7L, s"expected 0b0111=7, got $out")
  }

  test("z_value: null coordinates cluster at the origin, deterministically") {
    val out = Seq((Option.empty[Long], Option(3L))).toDF("x", "y")
      .select(z_value(array($"x", $"y"), 2, 2).as("z"))
      .head().getLong(0)
    // coords (0, 3): bits y0->pos1, y1->pos3 -> 0b1010 = 10
    assert(out == 10L, s"null x must read as 0: got $out")
  }

  test("z_value: adjacent points get adjacent z (locality sanity)") {
    val zs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L))
      .toDF("x", "y")
      .select(z_value(array($"x", $"y"), 2, 8).as("z"))
      .as[Long].collect().toSeq
    assert(zs == Seq(0L, 1L, 2L, 3L), "the unit quad is the first z block")
  }

  test("hilbert_value: bijective on the full grid, every step grid-adjacent") {
    import graft.functions.Expressions.hilbert_value
    val bits = 4
    val n = 1 << bits
    val pts = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
      .select($"x", $"y", hilbert_value(array($"x", $"y"), bits).as("h"))
      .as[(Long, Long, Long)].collect()
    val byH = pts.map { case (x, y, h) => h -> ((x, y)) }.toMap
    assert(byH.size == n * n, "hilbert index must be a bijection")
    assert(byH.keys.min == 0L && byH.keys.max == (n * n - 1).toLong)
    // the defining Hilbert property Z-order lacks: consecutive
    // addresses are ALWAYS Manhattan-distance-1 neighbors
    val jumps = (0L until (n * n - 1).toLong).count { d =>
      val (x1, y1) = byH(d); val (x2, y2) = byH(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(jumps == 0, s"$jumps non-adjacent steps on the curve")

    // null coordinates cluster at the origin like z_value
    val z = Seq((Option.empty[Long], Option(0L))).toDF("x", "y")
      .select(hilbert_value(array($"x", $"y"), bits).as("h"))
      .head().getLong(0)
    assert(z == 0L)
  }

  test("z-ordered scan prunes with parquet min/max on a non-leading dimension") {
    val df = spark.range(0, 4096).select(
      (col("id") % 64L).as("x"), (col("id") / 64L).as("y"))
    val dir = Files.createTempDirectory("graft_z_prune").toString + "/t"
    // range-partition by the z-value into 8 files, sorted within each
    val z = Layout.zColumn(Seq(($"x", 0.0, 64.0), ($"y", 0.0, 64.0)), bits = 6)
    df.repartitionByRange(8, z).sortWithinPartitions(z).write.parquet(dir)
    // filter on y alone — a 1-D x-sort would read every file
    val filtered = spark.read.parquet(dir).filter($"y" < 8)
    assert(filtered.count() == 8 * 64)
    val filesRead = filtered.select(input_file_name()).distinct().count()
    assert(filesRead <= 4,
      s"y-only predicate should touch a minority of the 8 z-files, read $filesRead")
  }

  test("zone-map manifest skips non-overlapping files; pruned read equals full scan") {
    import graft.operators.Layout
    val dir = Files.createTempDirectory("graft_zm").toString + "/t"
    // range-sorted by id into 8 files -> disjoint id zones per file
    spark.range(0, 8000).select(col("id"), (col("id") % 97L).as("v"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.parquet(dir)
    Layout.writeZoneMap(spark, dir, Seq("id", "v"))
    // manifest has one row per data file, typed stats
    val mf = spark.read.parquet(s"$dir.zonemap")
    assert(mf.count() == 8)
    assert(mf.schema.fieldNames.toSet ==
      Set("file", "mn_id", "mx_id", "mn_v", "mx_v"))
    // a narrow id range overlaps ~1-2 of the 8 zones
    val files = Layout.zoneMapFiles(spark, dir, "id", lit(2000L), lit(2400L))
    assert(files.nonEmpty && files.size <= 2,
      s"8 disjoint zones, 400-wide probe -> at most 2 files, got ${files.size}")
    // pruned read == unpruned filter, rows and sum
    val pruned = Layout.readZoneMapped(spark, dir, "id", lit(2000L), lit(2400L))
    val full = spark.read.parquet(dir)
      .filter(col("id") >= 2000L && col("id") <= 2400L)
    assert(pruned.count() == 401 && full.count() == 401)
    assert(pruned.agg(sum("v")).head().getLong(0) ==
      full.agg(sum("v")).head().getLong(0))
    // empty candidate set keeps the schema and returns zero rows
    val none = Layout.readZoneMapped(spark, dir, "id", lit(50000L), lit(60000L))
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
  }

  test("hive-partitioned write prunes at planning time (PartitionFilters)") {
    import graft.operators.Sinks
    val df = spark.range(0, 1000).select(col("id"),
      concat(lit("t"), (col("id") % 4L)).as("kind"), (col("id") * 2L).as("v"))
    val dir = Files.createTempDirectory("graft_part_prune").toString + "/t"
    Sinks.writePartitioned(df, dir, "kind")
    val filtered = spark.read.parquet(dir).filter($"kind" === "t1")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("kind"),
      s"partition predicate must reach the scan as a PartitionFilter; plan:\n$plan")
    // the filter never appears as a post-scan data filter on kind
    assert(filtered.count() == 250)
    val filesRead = filtered.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(filesRead.forall(_.contains("kind=t1")),
      s"only the kind=t1 directory is read, got ${filesRead.mkString(", ")}")
  }
}
