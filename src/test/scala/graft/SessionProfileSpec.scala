package graft

import org.apache.spark.sql.internal.SQLConf
import scala.jdk.CollectionConverters._

/** The shared test session is Bench's profile: the suites check the
  * plans the bench times, and a builder change that drops a key fails
  * here instead of silently splitting the bench from the tests.
  */
class SessionProfileSpec extends SparkTestBase {

  test("the shared test session resolves Bench's session profile") {
    val conf = spark.sessionState.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.defaultNumShufflePartitions == 4)
    assert(!conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    assert(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) == (64L << 20))
    assert(conf.getConf(SQLConf.OBJECT_AGG_SORT_BASED_FALLBACK_THRESHOLD) == 1000000)
    // the build passes UTC to every forked JVM; the profile relies on it
    assert(conf.sessionLocalTimeZone == "UTC")

    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val checkpointFs = org.apache.hadoop.fs.AbstractFileSystem.get(
      new java.net.URI("file:///"), hadoopConf)
    assert(checkpointFs.isInstanceOf[org.apache.hadoop.fs.local.RawLocalFs])

    val dir = java.nio.file.Files.createTempDirectory("graft-profile")
    try {
      spark.range(10).write.mode("overwrite").parquet(s"$dir/t")
      val names = java.nio.file.Files.walk(dir).iterator().asScala
        .map(_.getFileName.toString).toList
      assert(names.exists(_.endsWith(".parquet")))
      assert(!names.exists(_.endsWith(".crc")), s"checksum sidecars written: $names")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
