package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Bench's profile: the correctness dump checks the plans the bench times
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: a query that throws writes no parquet, so the
    // driver's correctness file would silently shrink (it did in round 8,
    // 109→89, and nearly read as green). Persist every failure as an
    // artifact and print a summary the driver's log always captures.
    val errDir = Paths.get(outDir, "_errors")
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Optional subset while iterating (same contract as Bench):
    // SPARK_GRAFT_QUERIES=name1,name2 limits the dump; unset = all.
    // SPARK_GRAFT_SKIP=name1,name2 excludes queries (for above-gate SF
    // runs where a documented-exact entry would exhaust local disk) —
    // every skip is printed so no exclusion is silent.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    skip.toSeq.sorted.foreach(n => println(s"[verify] SKIPPED (env): $n"))
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
      .filter { case (n, _) => !skip(n) }
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // repartition(1), NOT coalesce(1): coalesce merges the query's
        // whole final stage into one task (a final join or aggregate
        // would execute single-threaded — observed 15+ min stalls in
        // the sf10 sweep); repartition inserts an exchange so the query
        // runs wide and only the file write is single-task
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        println(f"[verify] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        // bound tmpfs growth across the dump: a query's scratch stores
        // are garbage once its parquet landed (see Queries.drainScratch)
        Queries.drainScratch()
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Files.createDirectories(errDir)
        val frame = e.getStackTrace.headOption.map(_.toString).getOrElse("")
        Files.writeString(errDir.resolve(s"$name.txt"),
          s"${e.getClass.getName}: ${e.getMessage}\n  at $frame\n")
      }
    }
    println(s"[verify] ${selected.size - failed.size}/" +
      s"${selected.size} queries dumped" +
      (if (failed.isEmpty) "" else s"; FAILED: ${failed.sorted.mkString(", ")}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Tables.invalidate(spark)
    spark.stop()
  }
}
