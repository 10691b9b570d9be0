package perfbench

import scala.collection.mutable

/** Turns traced spans into per-layer metrics. */
object Report {

  private def unit(field: String): String = field match {
    case f if f.endsWith("_ms") || f == "ms" => "ms"
    case f if f.endsWith("_s") => "s"
    case f if f.endsWith("bytes") || f == "bytes_written" => "bytes"
    case _ => "count"
  }

  private def value(s: Span, field: String, all: Seq[Span]): Double = field match {
    case "ms" => Tracer.selfMs(s, all)
    case "jobs" => s.jobs
    case "tasks" => s.tasks
    case "gap_ms" => Tracer.gapMs(s)
    case "plan_ms" => s.planMs
    case "shuffle_bytes" => s.shuffleBytes.toDouble
    case "input_bytes" => s.inputBytes.toDouble
    case "task_cpu_s" => s.taskCpuNs / 1e9
    case "bytes_written" => s.bytesWritten.toDouble
  }

  /** Counters whose run-to-run repeatability the determinism report
    * checks (per call, in call order). */
  val countFields = Seq("jobs", "tasks", "shuffle_bytes", "input_bytes", "bytes_written")

  /** For every span name: `<name>.<field>` = the per-call median of the
    * field (`ms` is the span's self time). Also records each name's call
    * count, totals and per-call counter sequences in the run's detail. */
  def spans(ctx: Ctx, spans: Seq[Span], names: Seq[String], fields: Seq[String]): Unit = {
    val detail = ctx.res.info.getOrElseUpdate("spans",
      mutable.LinkedHashMap.empty[String, Any]).asInstanceOf[mutable.LinkedHashMap[String, Any]]
    names.foreach { n =>
      val xs = spans.filter(_.name == n)
      if (xs.nonEmpty) {
        fields.foreach(f =>
          ctx.res.metric(s"$n.$f", Stats.median(xs.map(value(_, f, spans))), unit(f)))
        detail(n) = Map(
          "calls" -> xs.size,
          "wall_ms_total" -> xs.map(_.wallMs).sum,
          "self_ms_total" -> xs.map(Tracer.selfMs(_, spans)).sum,
          "gap_ms_total" -> xs.map(Tracer.gapMs).sum,
          "plan_ms_total" -> xs.map(_.planMs).sum,
          "task_cpu_s_total" -> xs.map(_.taskCpuNs / 1e9).sum,
          "gc_s_total" -> xs.map(_.gcMs / 1000.0).sum,
          "spill_bytes_total" -> xs.map(_.spillBytes).sum) ++
          countFields.map(f => f -> xs.map(value(_, f, spans).toLong))
      }
    }
  }

  /** Tracing overhead measured inside the traced run: `unit` is timed
    * alternately with the listener detached (untraced) and attached inside
    * a span (traced); the ratio of medians, minus one. */
  def overhead(ctx: Ctx, reps: Int = 7)(unit: => Unit): Double = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    unit
    (0 until reps).foreach { _ =>
      ctx.tracer.detach()
      plain += time(unit)
      ctx.tracer.attach()
      traced += time(ctx.tracer.span("trace.calibration")(unit))
    }
    ctx.res.info("trace_overhead_ms") = Map("untraced" -> plain.toSeq, "traced" -> traced.toSeq)
    Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1
  }
}
