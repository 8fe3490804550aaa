package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** One op execution inside a pass. */
final case class OpRun(name: String, seconds: Double, constructS: Double,
                       fingerprint: String, error: String, driverRegime: Boolean = false)

/** The benchmark's JVM side: sets up the Bench session, runs a cold pass
  * and then warm passes of the workload's ops (closed loop, one client,
  * seeded op order) for the given number of seconds, and writes a run
  * record for `run.py` to turn into metrics.
  *
  * Modes: `run`, and `selftest` for selftest/selftest.py.
  */
object Main {

  private def arg(args: Array[String], k: String, d: String = null): String = {
    val i = args.indexOf(s"--$k")
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else Option(d).getOrElse(throw new IllegalArgumentException(s"missing --$k"))
  }

  def main(args: Array[String]): Unit = {
    val mode = arg(args, "mode", "run")
    val cores = arg(args, "cores").toInt
    val dataDir = arg(args, "data")
    val workDir = arg(args, "work")
    Files.createDirectories(Paths.get(workDir))
    val spark = setup(cores, workDir, dataDir)
    // the process-start-to-ready mark run.py times the set-up by
    println("perfbench-ready")
    System.out.flush()
    try mode match {
      case "selftest" => SelfTest.run(spark, dataDir, workDir, cores, arg(args, "out"))
      case "run" =>
        Files.writeString(Paths.get(arg(args, "out")),
          Json.obj(run(spark, args, cores, dataDir, workDir)) + "\n")
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    } finally {
      graft.Tables.invalidate(spark)
      spark.stop()
    }
  }

  /** Session built with the Bench profile, then Bench's warm-up. */
  private def setup(cores: Int, workDir: String, dataDir: String): SparkSession = {
    val t0 = System.nanoTime()
    val spark = Profile.build(cores, workDir)
    val t1 = System.nanoTime()
    Profile.warmUp(spark, dataDir)
    System.err.println(f"perfbench set-up: session ${(t1 - t0) / 1e9}%.2f s, " +
      f"warm-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
    spark
  }

  /** Wait (at most 5 s) until JIT compilation has been idle for 300 ms. */
  private def awaitJitQuiet(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last <= 2) quiet + 1 else 0
      last = now
    }
  }

  private def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount.max(0L)).sum, beans.map(_.getCollectionTime.max(0L)).sum)
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The measured run; returns the run record's fields. */
  private def run(spark: SparkSession, args: Array[String], cores: Int,
                  dataDir: String, workDir: String): Seq[(String, String)] = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val minPasses = arg(args, "min-passes", "1").toInt
    val traced = arg(args, "trace", "0") == "1"
    val graphDriverRows = arg(args, "graph-driver-rows", "100000").toInt
    val twin = arg(args, "twin", "0") == "1"

    val ops = Workloads.ops(workload, graphDriverRows)
    val rng = new scala.util.Random(seed)
    val tracer = new Tracer(spark)
    val sc = spark.sparkContext
    var opSeq = 0

    def runOp(op: Op, passId: Int, tag: String): OpRun = {
      opSeq += 1
      val opId = s"op-$opSeq"
      val outDir = s"$workDir/out/$opId"
      sc.setLocalProperty(Tracer.OpProperty, opId)
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      var t1 = t0
      val res =
        try {
          val outputs = op.construct(Ctx(spark, dataDir, outDir))
          t1 = System.nanoTime()
          val fp = Fingerprint.combine(outputs.map { case (n, df) => n -> Fingerprint.of(df) })
          val t2 = System.nanoTime()
          val driver = op.graph && outputs.forall(o => driverRegime(o._2))
          OpRun(op.name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, fp.toString, "", driver)
        } catch {
          case e: Throwable =>
            OpRun(op.name, (System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9, "",
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      sc.setLocalProperty(Tracer.OpProperty, null)
      if (tag == "traced")
        tracer.spans += Span("op", opId, s"pass-$passId", opId, op.name, startMs,
          System.currentTimeMillis())
      // outside the timer, as Bench does: per-call scratch stores are
      // garbage once the output is consumed
      graft.Queries.drainScratch()
      deleteTree(Paths.get(outDir))
      res
    }

    def pass(passId: Int, tag: String): String = {
      val order = rng.shuffle(ops)
      // every pass starts from a collected heap, so one pass's garbage is
      // not another's pause, and after the JIT compilers have caught up
      // with the previous pass, so their threads do not compete with the
      // task slots for the first part of this one
      System.gc()
      if (passId > 0) awaitJitQuiet()
      val (gc0, gcMs0) = gc()
      if (tag == "traced") tracer.attach()
      val t0 = System.nanoTime()
      val firstOp = opSeq + 1
      val runs = order.map(op => runOp(op, passId, tag))
      val wall = (System.nanoTime() - t0) / 1e9
      val layer =
        if (tag == "traced") {
          tracer.detach()
          val graphIds = order.zipWithIndex.filter(_._1.graph).map(i => s"op-${firstOp + i._2}")
          tracer.takePass(graphIds)
        } else Map.empty[String, Double]
      val (gc1, gcMs1) = gc()
      Json.obj(Seq(
        "tag" -> Json.str(tag),
        "wall_s" -> Json.num(wall),
        "gc_count" -> Json.num((gc1 - gc0).toDouble),
        "gc_s" -> Json.num((gcMs1 - gcMs0) / 1e3),
        "layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "ops" -> Json.arr(runs.map(r => Json.obj(Seq(
          "name" -> Json.str(r.name), "s" -> Json.num(r.seconds),
          "construct_s" -> Json.num(r.constructS),
          "fp" -> Json.str(r.fingerprint), "error" -> Json.str(r.error),
          "module" -> Json.str(order.find(_.name == r.name).map(_.module).getOrElse("")),
          "graph" -> order.find(_.name == r.name).exists(_.graph).toString,
          "driver_regime" -> r.driverRegime.toString))))))
    }

    val passes = mutable.ArrayBuffer.empty[String]
    passes += pass(0, "cold")
    // the measured window: whole warm passes, at least `minPasses`, until
    // `seconds` have gone; a traced run alternates untraced and traced
    // passes, at least untraced-traced-untraced, so the tracing overhead
    // is measured in the same window and a still-warming JVM does not
    // bias it either way
    val w0 = System.nanoTime()
    var n = 0
    while (n < (if (traced) minPasses.max(3) else minPasses) ||
           (System.nanoTime() - w0) / 1e9 < seconds) {
      n += 1
      passes += pass(n, if (traced && n % 2 == 0) "traced" else "warm")
    }
    val windowS = (System.nanoTime() - w0) / 1e9

    // correctness twin of the seeded-graph ops, outside the window: the
    // same public calls with driverRows above the input size take the
    // driver path
    val twinFps =
      if (twin) Workloads.ops(workload, Int.MaxValue / 16)
        .filter(op => Workloads.seededGraph(op.name)).map(op => runOp(op, -1, "twin"))
      else Nil

    if (traced) {
      tracer.resolveSpans()
      val spanJson = tracer.spans.map(s => Json.obj(Seq(
        "kind" -> Json.str(s.kind), "id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "op" -> Json.str(s.op), "name" -> Json.str(s.name),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString)))
      Files.writeString(Paths.get(arg(args, "spans")), Json.arr(spanJson.toSeq) + "\n")
    }
    Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "confs" -> Json.obj(Profile.resolved(spark, workDir).map { case (k, v) => k -> Json.str(v) }),
      "window_s" -> Json.num(windowS),
      "passes" -> Json.arr(passes.toSeq),
      "twin" -> Json.arr(twinFps.map(r => Json.obj(Seq(
        "name" -> Json.str(r.name), "fp" -> Json.str(r.fingerprint),
        "error" -> Json.str(r.error))))),
      "peak_rss_mb" -> Json.num(vmHwmMb()))
  }

  /** Whether an adaptive graph operator answered on its driver path: the
    * result holds a driver-built local relation and no round table (the
    * distributed loops leave `graft-rounds` files or checkpointed RDDs).
    */
  private def driverRegime(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val rounds = leaves.exists {
      case _: LogicalRDD => true
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains("graft-rounds"))
        case _ => false
      }
      case _ => false
    }
    !rounds && leaves.exists {
      case l: LocalRelation => l.data.nonEmpty
      case _ => false
    }
  }

  def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}
