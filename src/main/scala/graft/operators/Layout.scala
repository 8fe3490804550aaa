package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.functions.Expressions.z_value

/** Multi-dimensional data layout: Z-order clustering for parquet
  * min/max skipping. A table sorted by one column prunes predicates on
  * that column only; range-sorting by the interleaved Z-value clusters
  * every listed dimension at once, so a scan filtered on ANY subset of
  * them skips most files. This is the OPTIMIZE ZORDER of the lakehouse
  * formats, expressed with nothing but a codegen'd bit-interleave and
  * `repartitionByRange` — at 100 TB it is usually the single biggest
  * scan-cost lever after partition pruning.
  */
object Layout {

  /** Z-value column over `cols`, each min-max scaled to [0, 2^bits)
    * with the per-column bounds supplied by the caller (driver-held
    * metadata — compute once with an agg, reuse across writes; passing
    * them explicitly keeps this a pure narrow projection).
    */
  def zColumn(cols: Seq[(Column, Double, Double)], bits: Int): Column =
    z_value(array(cols.map(quantize(_, bits)): _*), cols.size, bits)

  /** `c` min-max scaled from [lo, hi] onto [0, 2^bits), clamped into
    * range so out-of-bounds stragglers still sort sanely.
    */
  private def quantize(c: (Column, Double, Double), bits: Int): Column = {
    val (v, lo, hi) = c
    val span = math.max(hi - lo, java.lang.Double.MIN_VALUE)
    least(greatest(
      floor((v.cast("double") - lit(lo)) / lit(span) * lit((1L << bits) - 1))
        .cast("long"), lit(0L)), lit((1L << bits) - 1L))
  }

  /** Hilbert-curve column over a coordinate PAIR, scaled exactly like
    * [[zColumn]] (same clamped min-max quantization, so the two layouts
    * differ only in the space-filling curve). Consecutive Hilbert
    * addresses are always grid-adjacent where Z-order seams jump
    * half the grid, so range predicates over either dimension touch
    * fewer range-partitioned files at the same file count.
    */
  def hilbertColumn(xCol: (Column, Double, Double),
                    yCol: (Column, Double, Double), bits: Int): Column =
    graft.functions.Expressions.hilbert_value(
      array(quantize(xCol, bits), quantize(yCol, bits)), bits)

  /** Zone-map manifest: one row per data file with min/max for each
    * tracked column, stored as a PARQUET sidecar (`<path>.zonemap`) so
    * the stats keep their exact types — the Delta/Iceberg file-skipping
    * idea on a plain parquet directory. Built with one metadata-shaped
    * aggregation over `input_file_name()`; rebuild after any rewrite
    * (compact/merge), exactly like the formats recompute their
    * manifests on commit.
    */
  def writeZoneMap(spark: org.apache.spark.sql.SparkSession, path: String,
                   cols: Seq[String]): Unit = {
    val read = spark.read.parquet(path)
    val aggs = cols.flatMap(n =>
      Seq(min(col(n)).as(s"mn_$n"), max(col(n)).as(s"mx_$n")))
    read.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path.zonemap")
  }

  /** Files whose [min, max] zone for `colName` OVERLAPS [lo, hi] — the
    * candidate set for a range predicate; always a SUPERSET of the
    * matching files, so the caller re-applies the row-level predicate.
    * The collect is manifest-scale (one row per FILE — metadata, not
    * data; the bounded-driver-artifact convention of the IVF/PQ
    * codebooks). Files with an all-null zone (mn/mx null) are skipped:
    * a range predicate matches no null rows.
    */
  def zoneMapFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                   colName: String, lo: Column, hi: Column): Seq[String] =
    spark.read.parquet(s"$path.zonemap")
      .filter(col(s"mx_$colName") >= lo && col(s"mn_$colName") <= hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Zone-map-pruned range scan: reads ONLY the overlapping files and
    * re-applies the row-level predicate (the zone test is per-file, not
    * per-row). An empty candidate set still returns the correctly-typed
    * empty frame via a never-true filter on the full table — reading no
    * files would lose the schema.
    */
  def readZoneMapped(spark: org.apache.spark.sql.SparkSession, path: String,
                     colName: String, lo: Column, hi: Column): DataFrame = {
    val files = zoneMapFiles(spark, path, colName, lo, hi)
    val base =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files: _*)
    base.filter(col(colName) >= lo && col(colName) <= hi)
  }
}
