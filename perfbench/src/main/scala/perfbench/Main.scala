package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run learned: operation counts, wrong answers, metrics and the
  * provenance/detail fields printed before the result line. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** Record a wrong answer; any one fails the run. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && problems.size < 50) problems += what
    else if (!ok) problems(49) = "… more wrong answers"

  /** Run one user-visible operation; an exception counts as a failed
    * operation (and is logged), not as a crash of the benchmark. */
  def op[T](what: => String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"PERFBENCH op failed ($what): $e")
        None
    }
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     seconds: Int, work: Path, cpus: Int, catalogRate: Double,
                     res: Result) {
  def trace: Boolean = tracer.enabled
  def deadlineNs(startNs: Long): Long = startNs + seconds * 1000000000L
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --catalog-rate R`, or `--selftest`. Spark runs at
  * `local[availableProcessors]`, which respects the CPU affinity.
  *
  * Prints `PERFBENCH_INFO <json>` (parameters and detail) and then, as the
  * last line, the result object. `perfbench/run.py` is the supported way
  * to launch it: it builds the program, isolates the run's directories
  * and adds the provenance the JVM cannot know. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    if (argv.contains("--selftest")) { SelfTest.run(); return }
    val workload = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toInt
    val trace = args("--trace") == "1"
    val work = Paths.get(args("--work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val catalogRate = args("--catalog-rate").toDouble
    val body: Ctx => Unit = workload match {
      case "catalog_api" => CatalogApi.run
      case "sf01_batch" => Sf01Batch.run
      case "index_churn" => IndexChurn.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(work)
    val spark = session(cpus, work)
    val res = new Result
    val tracer = new Tracer(spark, trace)
    res.info ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus, "master" -> spark.sparkContext.master,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version)
    val ctx = Ctx(spark, tracer, seed, seconds, work, cpus, catalogRate, res)
    try {
      body(ctx)
      if (trace) {
        Kernels.run(ctx)
        if (workload == "index_churn") Sf01Batch.layer(ctx)
        res.metric("driver.heap_peak_mb", heapPeakMb(), "MB")
        res.metric("spark.task_gc_s", tracer.totalGcMs / 1000.0, "s")
        res.metric("spark.spill_bytes", tracer.totalSpillBytes.toDouble, "bytes")
      }
    } finally spark.stop()
    val correct = res.problems.isEmpty
    res.problems.foreach(p => System.err.println(s"PERFBENCH wrong answer: $p"))
    res.info("wrong_answers") = res.problems.toSeq
    res.info("ops_failed_ratio") =
      if (res.attempted == 0) 0.0 else res.failed.toDouble / res.attempted
    println("PERFBENCH_INFO " + Json.obj(res.info.toSeq))
    val metrics = res.metrics.toSeq.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }
    println(Json.obj(Seq("correct" -> correct, "attempted" -> res.attempted,
      "failed" -> res.failed, "metrics" -> mutable.LinkedHashMap(metrics: _*).toMap)))
  }

  /** The repository's own session recipe, with every scratch location
    * inside the run directory. */
  def session(cpus: Int, work: Path): SparkSession = {
    // SparkConf reads spark.* system properties, so these reach the
    // session that graft.Sessions.local builds.
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    graft.Sessions.local(cpus, "perfbench")
  }

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Bytes of every regular file under `p` (0 when absent). */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Median time of `k` repeats of a set-up step that returns its state;
    * the last repeat's state is kept for the run. */
  def setupMedian[T](ctx: Ctx, k: Int)(build: Int => T): T = {
    var state: Option[T] = None
    val times = (0 until k).map { i =>
      val t0 = System.nanoTime()
      state = Some(build(i))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.res.metric("setup_s", Stats.median(times), "s")
    ctx.res.info("setup_samples_s") = times
    state.get
  }
}
