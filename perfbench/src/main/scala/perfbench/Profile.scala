package perfbench

import org.apache.spark.sql.SparkSession

/** The session profile of `graft.Bench`, rebuilt key for key so the
  * benchmark measures the plans the engine's own bench runs.
  *
  * `profile(n)` is the part that must equal Bench.scala; the self-test
  * parses Bench.scala and compares. `placement` only moves scratch
  * files (shuffle, warehouse) under the benchmark's work directory.
  */
object Profile {

  def profile(n: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$n]",
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      "org.apache.hadoop.fs.local.RawLocalFs",
    // Bench gets UTC from the build's -Dspark.sql.session.timeZone
    "spark.sql.session.timeZone" -> "UTC")

  def placement(workDir: String): Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse")

  def build(n: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder()
    (profile(n) ++ placement(workDir)).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Bench's FileSystem-API twin of the RawLocalFs rebind: no .crc
    // sidecar writes or verifies on the cached local FileSystem
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    spark
  }

  /** Bench.scala's warm-up: one codegen'd aggregate, then every table
    * touched once so file listings and footers are cached.
    */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => graft.Tables.table(spark, dataDir, t).limit(1).collect())
    graft.Tables.events(spark, dataDir).limit(1).collect()
  }

  /** The resolved values of every profile key plus the checksum flags
    * and heap sizes, as the session actually runs them.
    */
  def resolved(spark: SparkSession, workDir: String): Seq[(String, String)] = {
    val conf = spark.sparkContext.getConf
    val sql = profile(1).map(_._1).filter(_.startsWith("spark.sql."))
      .map(k => k -> spark.conf.get(k))
    val core = Seq("spark.master", "spark.ui.enabled",
      "spark.hadoop.fs.AbstractFileSystem.file.impl")
      .map(k => k -> conf.get(k, ""))
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
    def heap(flag: String) = jvmArgs.filter(_.startsWith(flag)).lastOption.getOrElse("")
    (core ++ sql :+ ("fs.file.crc_sidecar_written" ->
      writesCrc(spark, workDir).toString) :+
      ("jvm.xms" -> heap("-Xms")) :+ ("jvm.xmx" -> heap("-Xmx"))).sortBy(_._1)
  }

  /** Whether the cached local FileSystem still writes .crc sidecars:
    * the checksum skip is a flag with no getter, so probe it.
    */
  private def writesCrc(spark: SparkSession, workDir: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"file://$workDir/crc-probe")
    val out = fs.create(p, true)
    out.write(1)
    out.close()
    val crc = new java.io.File(s"$workDir/.crc-probe.crc").exists()
    fs.delete(p, false)
    crc
  }
}
