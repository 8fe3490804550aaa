package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // JVM/codegen warmup so the first measured query doesn't absorb
    // classloading + first-job scheduling cost; touching every table once
    // fills the resolved-relation cache (file listing + schema) and the
    // OS page cache, which are per-corpus costs, not per-query ones
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      try Tables.table(spark, sfDir, t).limit(1).collect()
      catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).limit(1).collect()
    catch { case _: Throwable => () }
    // optional comma-separated subset for local iteration; the driver
    // leaves this unset and benches everything
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(',').toSet)
    val selected = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    // best-of-2 per query — the SAME rule tools/baseline.py applies to
    // the DuckDB side, so the ratio compares steady-state engine
    // throughput on both engines rather than charging Spark's one-time
    // whole-stage-codegen compile (a per-plan constant, amortized over
    // every production re-execution) to each tiny sf0.1 query
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
    // Each run RECONSTRUCTS the query (fn call inside the timer).
    // Caching the built DataFrame across runs was tried and REJECTED:
    // it cuts ~25-40 ms/query of re-analysis (honest hoisting), but for
    // the iterative operators it also skips work the DuckDB baseline
    // re-executes every run — connected components' convergence loop,
    // IVF codebook training, the incremental stores' appends all run
    // eagerly at construction (dedup_clusters measured 2.6 s -> 0.24 s,
    // i.e. the loop, not the plan, was being skipped). Best-of-N over
    // full reconstructions keeps the two engines' numbers comparable;
    // operator-internal persists that Spark's cache manager re-matches
    // by plan are engine behavior and stay.
    // A throwing query must be LOUD: round 8's broken readers "ran" in
    // ~0.02 s each (time-to-exception) and the artifact read as a perf
    // cliff instead of a breakage. Failures keep their elapsed time but
    // are also named in an "errors" key on the output line.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val (gcCount0, gcMs0) = gcTotals()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val results = selected.map { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case _: Throwable => failed += name; -1L }
        (System.nanoTime() - t0) / 1e9
      }
      // drain per-call scratch stores OUTSIDE the timer: accumulation in
      // a tmpfs scratch root is RAM pressure that lands on whichever
      // store-heavy query runs late in the fleet (Queries.drainScratch)
      Queries.drainScratch()
      name -> times.min
    }
    // GC over the timed loop, all collectors: what the heap size costs
    // on this host's core count, next to the query times it bought
    val (gcCount1, gcMs1) = gcTotals()
    // classes Janino compiled over the same loop: a warm re-run that
    // hits the codegen cache compiles none
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    // centisecond-rounded per-query values (trailing zeros stripped) keep
    // the ONE output line well under a bounded log-tail capture even at
    // ~85 queries; finer precision adds nothing at this noise floor. The
    // total is the sum of the SAME rounded values, so any consumer that
    // recomputes sum(queries) gets exactly `value` back.
    import java.math.{BigDecimal => JBD, RoundingMode}
    def cents(v: Double): JBD = new JBD(v).setScale(2, RoundingMode.HALF_UP)
    def js(b: JBD): String = b.stripTrailingZeros.toPlainString
    val gcField =
      s""""gc_count":${gcCount1 - gcCount0},"gc_s":${js(cents((gcMs1 - gcMs0) / 1e3))},""" +
        s""""codegen_compiles":$compiles,"""
    val rounded = results.map { case (k, v) => k -> cents(v) }
    val qs = rounded.map { case (k, b) => "\"" + k + "\":" + js(b) }
      .mkString("{", ",", "}")
    val total = rounded.values.foldLeft(JBD.ZERO)(_ add _)
    // "sf" carries just the directory basename: the full path spent ~20
    // chars of the bounded log-tail budget saying nothing new
    val sfName = new java.io.File(sfDir).getName
    // "errors" appears ONLY when something threw, so the healthy line's
    // log-tail budget is untouched and any consumer diffing rounds sees
    // breakage as a key, not as suspiciously fast queries
    val errs = if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(",\"errors\":[", ",", "]")
    val line =
      s"""{"metric":"total","value":${js(total)},"unit":"sec",$gcField"queries":$qs,"sf":"$sfName"$errs}"""
    println(line)
    // durable twin of the stdout line: tail captures are bounded (2000
    // chars), and the line crosses that around ~88 queries — the file
    // keeps the full per-query vector readable from the repo. Lands in
    // the CWD (the repo root under sbt); a failed write warns instead of
    // silently leaving a stale committed file behind.
    // Subset runs (SPARK_GRAFT_QUERIES set) are local iteration — they
    // must not clobber the committed full-surface vector.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LAST.json"), line + "\n")
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"WARN: BENCH_LAST.json not written: $e")
      }
    // The driver's artifact keeps only a bounded LOG TAIL: at 184
    // queries the full NAMED line is ~5 KB, so the tail held a front-
    // truncated (unparseable) fragment and BENCH_r10.json recorded
    // "parsed": null. Print a compact line LAST that carries the FULL
    // per-query vector positionally — "values" holds every query's
    // seconds in NAME-SORTED order (~5.5 chars each vs ~20 named), so
    // round-over-round diffs read the whole 227-query surface from the
    // round artifact alone (names recoverable from the name-sorted
    // SparkEntry.queries keys at that commit; BENCH_LAST.json keeps the
    // self-describing named twin) — then fills the remaining budget
    // with the slowest entries NAMED (what perf grading reads first).
    val byCost = rounded.toSeq.sortBy { case (k, b) =>
      (-b.doubleValue, k) }
    val valuesSorted = rounded.toSeq.sortBy(_._1).map(kv => js(kv._2))
      .mkString("[", ",", "]")
    // if the surface ever grows past what the positional vector fits
    // (~300 queries), drop it rather than shipping an unparseable tail
    val valuesField =
      if (valuesSorted.length <= 1500)
        s""""values_order":"name_sorted","values":$valuesSorted,"""
      else ""
    // a SPARK_GRAFT_QUERIES subset run must SAY so: the positional
    // vector's recovery recipe (name-sorted SparkEntry.queries keys)
    // only holds for full runs, and a reader following it on a partial
    // vector would silently mislabel every value
    val subsetField = if (only.isDefined) "\"subset\":true," else ""
    // names_hash makes the positional vector self-describing: MD5 of the
    // name-sorted query names actually benched, so a reader can verify a
    // vector against the commit's SparkEntry.queries keys (and a subset
    // run's vector can never be silently mislabeled as the full surface)
    val namesHash = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(rounded.keys.toSeq.sorted.mkString(",")
        .getBytes("UTF-8"))
      h.take(6).map("%02x".format(_)).mkString
    }
    val head = s"""{"metric":"total","value":${js(total)},"unit":"sec","n_queries":${rounded.size},$gcField$subsetField"names_hash":"$namesHash",$valuesField"queries_file":"BENCH_LAST.json","sf":"$sfName"$errs,"queries":{"""
    val budget = 1800 - head.length - 2
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    byCost.foreach { case (k, b) =>
      val ent = "\"" + k + "\":" + js(b)
      if (used + ent.length + 1 <= budget) { kept += ent; used += ent.length + 1 }
    }
    println(head + kept.mkString(",") + "}}")
    Tables.invalidate(spark)
    spark.stop()
  }

  /** (collections, collection ms) summed over every garbage collector. */
  private def gcTotals(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount.max(0L)).sum, beans.map(_.getCollectionTime.max(0L)).sum)
  }

  /** The engine's one session profile. Bench, Verify, Explain, Stress,
    * ScaleData and the test suites all build their session here, so the
    * oracle dump and the tests check the plans the bench times.
    * `cpus` defaults to SPARK_GRAFT_CPUS, else every core of the host.
    */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // let AQE coalesce tiny shuffle outputs down to the data size
      // instead of keeping one partition per core: at bench scale most
      // post-shuffle stages carry a few MB, and 32 near-empty tasks per
      // stage (plus 32 output files per round table) cost more in
      // scheduling than the work itself. At 100 TB the same setting is
      // what stops a 10k-partition shuffle from emitting 10k tiny files
      // after a selective filter.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // the engine's object-buffered aggregates (MaxByRow) hold ONE row
      // per group, not a collect_list — the conservative 128-key default
      // exists for the latter and silently sorts the tail of any
      // high-cardinality task (see Expressions.MaxByRow)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // Checkpoint I/O (FileContext API) through the RAW local fs:
      // Hadoop's default local AbstractFileSystem is checksummed, so
      // every streaming WAL entry, offset/commit log and HDFS-backed
      // state delta writes a .crc sidecar and re-reads it on open —
      // doubled file ops on the per-micro-batch hot path. The raw
      // rebind affects only the `file` scheme's FileContext users (the
      // checkpoint stack); FileSystem-API users (parquet scans/writes,
      // RocksDB's file manager, which REQUIRES the checksummed
      // FileSystem for its commit protocol) are untouched. On a
      // cluster checkpoints live on HDFS/object stores and the knob is
      // inert. Measured r17: incr_stream_join's stream phase drops
      // 2.66-2.81 s -> 1.84-2.01 s, confirmed in both A/B orders.
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // FileSystem-API twin of the FileContext rebind above: stop the
    // cached local FileSystem from WRITING .crc sidecars (scratch
    // parquet/json/orc, store appends, sink rewrites). Same class, same
    // rename/commit semantics — only sidecar creation is skipped, so
    // RocksDB's checksummed-FileSystem commit protocol is unaffected
    // (the full RawLocalFileSystem rebind broke it and was reverted).
    // local[*] shares one JVM-wide FileSystem cache entry, so one call
    // covers driver and executors.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    spark
  }
}
