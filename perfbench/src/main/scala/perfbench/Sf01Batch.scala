package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** Workload `sf01_batch`: one analyst running registered batch queries
  * over sf0.1-sized tables, as a CLOSED loop (the next query starts when
  * the previous one returns).
  *
  * Each pass runs a fixed subset of `SparkEntry.queries` in a
  * seed-shuffled order, split into two families: `analytics` (relational,
  * events, storage-pruning, SQL) and `curation` (text/quality/mixing,
  * decontamination, batch dedup, similarity and scan retrieval). Queries
  * that build an incremental store (`*_incr_*`, `*_deleted`, `*_indexed`,
  * `*_maintained`, `*_merged`, `curate_ingest_*`, `curate_lineage_*`) and
  * the `*_oracle` twins are left out: `index_churn` drives the incremental
  * stores directly.
  *
  * Why: the scan, shuffle and kernel layers dominate here, while the store
  * lifecycle and the per-call mutation paths are barely used.
  *
  * Check: every query returns the same row count and content hash in
  * every pass (the untimed warm-up pass sets the reference). */
object Sf01Batch {
  val Sf = 0.1
  val SetupRepeats = 3

  /** Two cheap representatives per layer family (one for storage), so a
    * pass stays near 7 s at local[4] and a run holds several passes. */
  val Analytics: Seq[String] = Seq(
    "j2_inner", "a8_rollup", "sql_textfns", "events_sessions", "events_retention",
    "store_prune_time")
  val Curation: Seq[String] = Seq(
    "text_repetition", "decon_docs", "dedup_exact_keep", "dedup_simhash_pairs",
    "sim_brute_topk", "retrieve_sparse")

  /** The layer family a registered query belongs to. */
  def family(q: String): String = q match {
    case s if s.startsWith("store_") => "storage"
    case s if s.startsWith("events_") => "events"
    case s if s.startsWith("dedup_") => "dedup"
    case s if s.startsWith("sim_") || s.startsWith("retrieve_") => "sim_retrieve"
    case s if Seq("text_", "quality_", "mix_", "curate_", "decon_").exists(s.startsWith) =>
      "text_quality"
    case _ => "relational"
  }
  val Families = Seq("relational", "events", "storage", "text_quality", "dedup", "sim_retrieve")

  /** A query's (row count, content hash), computed by one action over its
    * result. Floating-point columns are rounded to 9 significant digits so
    * a last-bit difference in summation order cannot flip the hash. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType))
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => norm(x, DoubleType))
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).bitwiseAND(lit(0xFFFFFFFFL)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One timed execution; `span` is its query span in a traced run. */
  final case class Exec(pass: Int, q: String, ms: Double, span: Option[Span])

  /** Runs the subset over the tables in `dir`: one untimed warm-up pass
    * (JIT, codegen, footer caches) that sets the reference answers, then
    * passes in a seed-shuffled order while `more(pass)` holds, checking
    * every answer against the reference. Returns the timed executions. */
  def passes(ctx: Ctx, dir: String)(more: Int => Boolean): Seq[Exec] = {
    val spark = ctx.spark
    val res = ctx.res
    val tr = ctx.tracer
    def runOne(q: String): Option[((Long, Long), Double, Option[Span])] = {
      spark.catalog.clearCache()
      res.op(q) {
        val name = s"queries.${family(q)}"
        val t0 = System.nanoTime()
        val fp = tr.span(name)(fingerprint(SparkEntry.queries(q)(spark, dir)))
        (fp, (System.nanoTime() - t0) / 1e6, if (ctx.trace) tr.last(name) else None)
      }
    }
    val subset = Analytics ++ Curation
    val reference = subset.flatMap(q => runOne(q).map(x => q -> x._1)).toMap
    val execs = mutable.ArrayBuffer.empty[Exec]
    var pass = 0
    while (more(pass)) {
      val r = Gen.rng(ctx.seed, 500 + pass)
      subset.map(q => (r.nextLong(), q)).sortBy(_._1).map(_._2).foreach { q =>
        runOne(q).foreach { case (fp, ms, span) =>
          res.check(reference.get(q).contains(fp),
            s"$q pass $pass returned (rows, hash) $fp, want ${reference.get(q)}")
          execs += Exec(pass, q, ms, span)
        }
      }
      pass += 1
    }
    tr.finish() // every counter of the spans is final after this
    execs.toSeq
  }

  /** `queries.<family>.{ms,plan_ms,jobs,tasks,shuffle_bytes,task_cpu_s}`:
    * per pass, the sum over the family's queries; reported as the median
    * over passes. */
  def familyMetrics(ctx: Ctx, execs: Seq[Exec]): Unit = {
    val perPass = execs.flatMap(e => e.span.map(_ -> e.pass))
    Families.foreach { f =>
      val byPass = perPass.filter(_._1.name == s"queries.$f").groupBy(_._2).values.toSeq
      if (byPass.nonEmpty) {
        def m(v: Span => Double): Double = Stats.median(byPass.map(_.map(x => v(x._1)).sum))
        ctx.res.metric(s"queries.$f.ms", m(_.wallMs), "ms")
        ctx.res.metric(s"queries.$f.plan_ms", m(_.planMs), "ms")
        ctx.res.metric(s"queries.$f.jobs", m(_.jobs.toDouble), "count")
        ctx.res.metric(s"queries.$f.tasks", m(_.tasks.toDouble), "count")
        ctx.res.metric(s"queries.$f.shuffle_bytes", m(_.shuffleBytes.toDouble), "bytes")
        ctx.res.metric(s"queries.$f.task_cpu_s", m(_.taskCpuNs / 1e9), "s")
      }
    }
    Report.spans(ctx, perPass.map(_._1), Families.map(f => s"queries.$f"), Nil)
  }

  /** The queries layer inside another workload's traced run: the subset
    * over small generated tables (scale factor [[LayerSf]]), with
    * [[LayerPasses]] traced passes after the warm-up pass. Run after the
    * workload itself, so it adds nothing to the workload's own figures. */
  val LayerSf = 0.02
  val LayerPasses = 3

  def layer(ctx: Ctx): Unit = {
    val dir = ctx.work.resolve("sf-layer").toString
    SfGen.generate(ctx.spark, dir, ctx.seed, LayerSf)
    familyMetrics(ctx, passes(ctx, dir)(_ < LayerPasses))
    ctx.res.info("queries_layer") = Map("sf" -> LayerSf, "passes" -> LayerPasses,
      "tables_rows" -> SfGen.rows(LayerSf), "analytics" -> Analytics, "curation" -> Curation)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    // Inputs are written once, untimed; set-up is opening every table
    // (footer read and first scan), as an analyst session starts.
    val dir = ctx.work.resolve("sf").toString
    SfGen.generate(spark, dir, ctx.seed, Sf)
    Main.setupMedian(ctx, SetupRepeats) { _ =>
      spark.catalog.clearCache()
      Tables.names.foreach(Tables.load(spark, dir, _).count())
    }

    // The run's clock starts after the warm-up pass, at the first timed one.
    var deadline = 0L
    val execs = passes(ctx, dir) { pass =>
      if (pass == 0) deadline = ctx.deadlineNs(System.nanoTime())
      pass < 2 || System.nanoTime() < deadline
    }
    val passMs = execs.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, mine) =>
      (mine.filter(e => Analytics.contains(e.q)).map(_.ms).sum,
        mine.filter(e => Curation.contains(e.q)).map(_.ms).sum)
    }

    val subset = Analytics ++ Curation
    val lat = execs.map(_.ms)
    val tail = Stats.tail(lat)
    val totalS = lat.sum / 1000.0
    res.info ++= Seq(
      "params" -> Map("sf" -> Sf, "tables_rows" -> SfGen.rows(Sf),
        "analytics" -> Analytics, "curation" -> Curation, "setup_repeats" -> SetupRepeats),
      "passes" -> passMs.size, "executions" -> execs.size, "tail" -> tail.toString,
      "analytics_pass_s" -> Stats.median(passMs.map(_._1 / 1000)),
      "curation_pass_s" -> Stats.median(passMs.map(_._2 / 1000)),
      "query_median_ms" -> subset.map(q => q -> Stats.median(execs.filter(_.q == q).map(_.ms))).toMap)
    if (!ctx.trace) {
      res.metric("query_p50_ms", Stats.median(lat), "ms")
      res.metric("query_tail_ms", tail.value, "ms")
      res.metric("analytics_pass_s", Stats.median(passMs.map(_._1 / 1000)), "s")
      res.metric("curation_pass_s", Stats.median(passMs.map(_._2 / 1000)), "s")
      res.metric("queries_per_s", execs.size / totalS, "1/s")
    } else {
      familyMetrics(ctx, execs)
      res.metric("queries.analytics.pass_s", Stats.median(passMs.map(_._1 / 1000)), "s")
      res.metric("queries.curation.pass_s", Stats.median(passMs.map(_._2 / 1000)), "s")
      res.metric("trace.overhead_ratio",
        Report.overhead(ctx)(fingerprint(SparkEntry.queries("j2_inner")(spark, dir))), "ratio")
    }
  }
}
