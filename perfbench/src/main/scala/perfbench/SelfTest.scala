package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** JVM half of the benchmark self-test (driven by selftest/selftest.py):
  * fingerprint properties on a tiny input, plus the resolved session
  * profile for the Python half to compare with Bench.scala.
  */
object SelfTest {

  def run(spark: SparkSession, dataDir: String, workDir: String, cores: Int,
          out: String): Unit = {
    import spark.implicits._
    val base = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null, 0.0), (4L, "d", 7.0))
      .toDF("id", "s", "x")
      .withColumn("m", map(coalesce(col("s"), lit("")), col("x")))
      .withColumn("arr", array(col("id"), col("id") * 2))
    val fp = Fingerprint.of(base)
    val checks = Seq(
      "order_insensitive_reversed" -> (Fingerprint.of(base.orderBy(col("id").desc)) == fp),
      "order_insensitive_repartitioned" ->
        (Fingerprint.of(base.repartition(3, col("s"))) == fp),
      "changes_on_one_value" ->
        (Fingerprint.of(base.withColumn("x",
          when(col("id") === 3L, lit(0.5)).otherwise(col("x")))) != fp),
      "changes_on_one_map_value" ->
        (Fingerprint.of(base.withColumn("m",
          when(col("id") === 2L, map(lit("b"), lit(9.0))).otherwise(col("m")))) != fp),
      "changes_on_dropped_row" -> (Fingerprint.of(base.filter(col("id") =!= 4L)) != fp),
      "counts_rows" -> (fp.rows == 4L),
      "table_order_insensitive" -> {
        val a = Fingerprint.of(graft.Tables.table(spark, dataDir, "nation"))
        val b = Fingerprint.of(graft.Tables.table(spark, dataDir, "nation").orderBy(rand(7)))
        a == b && a.rows == 25L
      })
    val record = Json.obj(Seq(
      "fingerprint" -> Json.str(fp.toString),
      "checks" -> Json.obj(checks.map { case (k, v) => k -> v.toString }),
      "confs" -> Json.obj(Profile.profile(cores).map { case (k, v) =>
        k -> Json.str(if (k == "spark.master") spark.sparkContext.master
                      else if (k.startsWith("spark.sql.")) spark.conf.get(k)
                      else spark.sparkContext.getConf.get(k, "")) }),
      "resolved" -> Json.obj(Profile.resolved(spark, workDir).map { case (k, v) =>
        k -> Json.str(v) })))
    Files.writeString(Paths.get(out), record + "\n")
  }
}
