package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft
import graft.functions.Retrieval
import graft.store.{CurationIngest, SimHashRegime, SnapshotStore, TextIndex}

/** Workload `index_churn`: the `foreachBatch` shape of a curation
  * pipeline, as a CLOSED loop with one pipeline driver.
  *
  * Set-up builds the base corpus with `CurationIngest.build` and
  * `Graft.buildTextIndex`. Each step then ingests a batch through
  * `CurationIngest.ingestBatchOnce` (SimHash regime), appends the
  * `regime = "new"` survivors with `TextIndex.append`, takes earlier ids
  * down on every affected table with `Graft.deleteDocs`, and serves BM25
  * query batches with `TextIndex.query`. Every [[StepsPerCycle]] steps it
  * runs `Graft.maintainAll`.
  *
  * A run does a fixed amount of work: [[timedSteps]] depends on `--seconds`
  * alone, never on how fast the host is, so every run measures the same
  * store states.
  *
  * Inputs are seeded documents over a Zipf vocabulary; a stated share of
  * every batch are planted exact duplicates (same tokens, different
  * whitespace) and near duplicates (one token replaced).
  *
  * Why: delta chains, tombstones and commits dominate, and read cost
  * (serving), write cost (ingest, takedown) and space (bytes at rest per
  * user byte) trade against each other.
  *
  * Checks: every batch id gets one lineage row, every planted exact
  * duplicate resolves to its source, nothing marked exact differs from
  * its owner, taken-down ids never come back from a serve, and at the end
  * the index's top-k equals the `Retrieval` scan over the surviving docs. */
object IndexChurn {
  val BaseDocs = 2000
  val BatchDocs = 200
  val ExactShare = 0.10
  val NearShare = 0.10
  val TakedownsPerStep = 10
  /** One query per serve call, so a run holds enough calls for a p75 tail. */
  val ServeCallsPerStep = 14
  val QueriesPerCall = 1
  val StepsPerCycle = 1
  /** Seconds of `--seconds` per timed step. */
  val SecondsPerStep = 10
  val SetupRepeats = 3
  val Prefix = "cur"
  val TextTable = "docs_text"
  val TopK = 10

  private val docSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("text", StringType)))

  def docsDf(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, docSchema)

  /** Planted duplicate: (batch id, source id, kind). */
  final case class Plant(id: Long, source: Long, kind: String)

  /** One step's inputs: the batch, its planted duplicates, the ids to take
    * down and the BM25 query batches to serve. */
  final case class StepInput(docs: Seq[(Long, String)], plants: Seq[Plant],
                             victims: Seq[Long], queries: Seq[Seq[(Int, String)]])

  /** Timed steps of a run: one per [[SecondsPerStep]] of `--seconds`, at
    * least three. */
  def timedSteps(seconds: Int): Int = math.max(3, seconds / SecondsPerStep)

  def baseDocs(seed: Long): IndexedSeq[(Long, String)] = {
    val r = Gen.rng(seed, 41)
    (0 until BaseDocs).map(i => i.toLong -> Gen.zipfText(r, 30, 60))
  }

  /** Every step's inputs, from the seed alone. Duplicates are planted from,
    * and takedowns drawn from, the base docs and earlier batches' fresh
    * docs that are not yet taken down — a choice that does not depend on
    * the program's answers. */
  def inputs(seed: Long): Iterator[StepInput] = {
    val r = Gen.rng(seed, 42)
    val pool = mutable.ArrayBuffer.from(baseDocs(seed))
    var nextId = BaseDocs.toLong
    var nextQ = 0
    Iterator.continually {
      val plants = mutable.ArrayBuffer.empty[Plant]
      val docs = (0 until BatchDocs).map { i =>
        val id = nextId + i
        val u = r.nextDouble()
        if (u < ExactShare + NearShare) {
          val (src, t) = pool(r.nextInt(pool.size))
          val kind = if (u < ExactShare) "exact" else "near"
          plants += Plant(id, src, kind)
          id -> (if (kind == "exact") Gen.reformatted(r, t) else Gen.nearDup(r, t))
        } else id -> Gen.zipfText(r, 30, 60)
      }
      nextId += BatchDocs
      val victims = (0 until TakedownsPerStep).map(_ => pool.remove(r.nextInt(pool.size))._1)
      val planted = plants.map(_.id).toSet
      pool ++= docs.filterNot(d => planted(d._1))
      val qs = (0 until ServeCallsPerStep).map { _ =>
        val q = (0 until QueriesPerCall).map(i => (nextQ + i) -> Gen.queryText(r))
        nextQ += QueriesPerCall
        q
      }
      StepInput(docs, plants.toSeq, victims, qs)
    }
  }

  private def tokensKey(t: String): String = t.trim.split("\\s+").mkString(" ")

  /** (chain length, pending tombstone parts) of a delta-chained table. */
  def chainState(store: SnapshotStore, table: String): (Int, Int) = {
    val meta = store.metaForVersion(table, store.currentVersion(table))
    def count(suffix: String): Int = meta.collect {
      case (k, v) if k.endsWith(suffix) && !k.contains("champ") =>
        v.split(",").count(_.trim.nonEmpty)
    }.sum
    (count(".parts") + 1, count(".parts.tombs"))
  }

  private def files(p: Path): Map[Path, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toMap
      finally s.close()
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val tr = ctx.tracer
    val regime = SimHashRegime()
    val base = baseDocs(ctx.seed)

    val (store, root) = Main.setupMedian(ctx, SetupRepeats) { i =>
      val root = ctx.work.resolve(s"churn-store-$i")
      val st = new SnapshotStore(root.toString, spark)
      val corpus = docsDf(spark, base)
      CurationIngest.build(st, Prefix, regime, corpus, "text", "id")
      Graft.buildTextIndex(st, TextTable, corpus, "text", "id")
      (st, root)
    }
    val tables = Seq(TextTable, CurationIngest.fpTable(Prefix), CurationIngest.ndTable(Prefix))
    val steps = inputs(ctx.seed)

    // Model: every doc's text, the docs the text index serves, and the
    // ids taken down.
    val textOf = mutable.HashMap(base: _*)
    val alive = mutable.LinkedHashMap(base: _*)
    val takenDown = mutable.HashSet.empty[Long]
    var step = 0L

    // Per-call samples.
    val ingestS = mutable.ArrayBuffer.empty[Double] // seconds per timed step
    val serveMs = mutable.ArrayBuffer.empty[Double]
    val takedownMs = mutable.ArrayBuffer.empty[Double]
    val maintainS = mutable.ArrayBuffer.empty[Double]
    val bytesRatio = mutable.ArrayBuffer.empty[Double]
    val chainLens = mutable.ArrayBuffer.empty[Double]
    val tombParts = mutable.ArrayBuffer.empty[Double]
    var planted = Map("exact" -> 0, "near" -> 0)
    var found = Map("exact" -> 0, "near" -> 0)
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val qSchema = StructType(Seq(StructField("qid", IntegerType), StructField("q", StringType)))
    def queryDf(qs: Seq[(Int, String)]): DataFrame =
      spark.createDataFrame(qs.map { case (i, q) => Row(i, q) }.asJava, qSchema)

    def oneStep(timed: Boolean, serves: Int = ServeCallsPerStep): Unit = {
      val in = steps.next()
      val docs = in.docs
      val texts = docs.toMap
      textOf ++= docs
      val t0 = System.nanoTime()
      val lineage = res.op(s"ingest step $step") {
        tr.span("store.CurationIngest.ingestBatchOnce") {
          CurationIngest.ingestBatchOnce(store, Prefix, regime, docsDf(spark, docs),
            "text", "id", "churn", step).collect()
        }
      }.getOrElse(Array.empty[Row])
      val ingestT = secs(t0)
      val reg = lineage.map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("keep_id"), x.getAs[String]("regime"))).toMap
      res.check(lineage.length == docs.size && reg.keySet == texts.keySet,
        s"step $step: ${lineage.length} lineage rows for ${docs.size} docs")
      reg.foreach { case (id, (keep, rg)) =>
        if (rg == "exact")
          res.check(textOf.get(keep).exists(o => tokensKey(o) == tokensKey(texts(id))),
            s"step $step: doc $id marked exact of $keep, which has other content")
      }
      in.plants.foreach { p =>
        planted += p.kind -> (planted(p.kind) + 1)
        if (reg.get(p.id).exists(_._2 == p.kind)) found += p.kind -> (found(p.kind) + 1)
        if (p.kind == "exact")
          res.check(reg.get(p.id).contains((p.source, "exact")),
            s"step $step: planted exact duplicate ${p.id} of ${p.source} resolved as ${reg.get(p.id)}")
      }
      val survivors = docs.filter { case (id, _) => reg.get(id).exists(_._2 == "new") }
      val textDir = root.resolve(TextTable)
      val before = if (ctx.trace) Main.bytesUnder(textDir) else 0L
      val t1 = System.nanoTime()
      res.op(s"append step $step") {
        tr.span("store.TextIndex.append") {
          TextIndex.append(store, TextTable, docsDf(spark, survivors), "text", "id")
        }
        if (ctx.trace) tr.last("store.TextIndex.append").foreach(
          _.bytesWritten = Main.bytesUnder(textDir) - before)
        alive ++= survivors
      }
      val appendT = secs(t1)
      if (timed) ingestS += ingestT + appendT

      // Takedown of earlier ids on every affected table; one takedown is
      // timed over all three tables.
      val ids = spark.createDataFrame(in.victims.map(v => Row(v)).asJava,
        StructType(Seq(StructField("id", LongType, nullable = false))))
      val t2 = System.nanoTime()
      tables.foreach { t =>
        res.op(s"takedown $t step $step") {
          tr.span("Graft.deleteDocs")(Graft.deleteDocs(store, t, ids))
        }
      }
      if (timed) takedownMs += secs(t2) * 1000
      in.victims.foreach { v => alive.remove(v); takenDown += v }

      // Serving.
      in.queries.take(serves).foreach { qs =>
        val (cl, tp) = chainState(store, TextTable)
        val t3 = System.nanoTime()
        res.op(s"serve step $step") {
          val hits = tr.span("store.TextIndex.query") {
            TextIndex.query(store, TextTable, queryDf(qs), "qid", "q", k = TopK).collect()
          }
          if (timed) { serveMs += secs(t3) * 1000; chainLens += cl; tombParts += tp }
          val back = hits.map(_.getAs[Long]("neighbor_id")).filter(takenDown.contains)
          res.check(back.isEmpty, s"step $step: taken-down ids served: ${back.take(5).mkString(",")}")
        }
      }
      step += 1
    }

    def maintain(timed: Boolean): Unit = {
      val before = if (ctx.trace) files(root) else Map.empty[Path, Long]
      val t0 = System.nanoTime()
      res.op("maintainAll")(tr.span("Graft.maintainAll")(Graft.maintainAll(store)))
      val s = secs(t0)
      if (ctx.trace) tr.last("Graft.maintainAll").foreach(_.bytesWritten =
        files(root).collect { case (p, n) if !before.contains(p) => n }.sum)
      if (timed) {
        maintainS += s
        val user = alive.valuesIterator.map(_.getBytes("UTF-8").length.toLong).sum
        bytesRatio += Main.bytesUnder(root).toDouble / user
      }
    }

    // Warm-up: one untimed step (one serve) and maintenance pass.
    oneStep(timed = false, serves = 1)
    maintain(timed = false)
    val warmSpans = tr.finish().size

    val nSteps = timedSteps(ctx.seconds)
    (1 to nSteps).foreach { i =>
      oneStep(timed = true)
      if (i % StepsPerCycle == 0) maintain(timed = true)
    }
    val spans = tr.finish().drop(warmSpans)

    // Final check: index top-k equals the scan path over surviving docs,
    // scored with the index's own corpus statistics.
    val fr = Gen.rng(ctx.seed, 43)
    val qDf = queryDf((0 until 8).map(i => (1 << 20) + i -> Gen.queryText(fr)))
    res.op("final check") {
      def ranked(df: DataFrame): Seq[(Int, Long, Int, Double)] = df.collect().toSeq.map(x =>
        (x.getAs[Int]("query_id"), x.getAs[Long]("neighbor_id"), x.getAs[Int]("rank"),
          math.rint(x.getAs[Double]("score") * 1e9) / 1e9)).sorted
      val served = ranked(TextIndex.query(store, TextTable, qDf, "qid", "q", k = TopK))
      val scanned = ranked(Retrieval.bm25TopK(docsDf(spark, alive.toSeq), "id", "text",
        qDf, "qid", "q", k = TopK, corpusStats = Some(TextIndex.stats(store, TextTable))))
      res.check(served == scanned, s"final top-$TopK differs from the scan path: " +
        s"${served.diff(scanned).take(3)} vs ${scanned.diff(served).take(3)}")
    }

    val tail = Stats.tail(serveMs.toSeq)
    res.info ++= Seq(
      "params" -> Map("base_docs" -> BaseDocs, "batch_docs" -> BatchDocs,
        "exact_share" -> ExactShare, "near_share" -> NearShare,
        "takedowns_per_step" -> TakedownsPerStep, "serve_calls_per_step" -> ServeCallsPerStep,
        "queries_per_call" -> QueriesPerCall, "steps_per_cycle" -> StepsPerCycle,
        "setup_repeats" -> SetupRepeats, "vocab" -> Gen.churnVocab.size, "zipf_s" -> 1.05),
      "timed_steps" -> nSteps, "maintains" -> maintainS.size,
      "serve_tail" -> tail.toString,
      "churn_ingest_docs_per_s" -> nSteps * BatchDocs / ingestS.sum,
      "churn_serve_p50_ms" -> Stats.median(serveMs.toSeq),
      "churn_takedown_p50_ms" -> Stats.median(takedownMs.toSeq),
      "churn_maintain_s" -> Stats.median(maintainS.toSeq),
      "store_bytes_per_user_byte" -> Stats.median(bytesRatio.toSeq),
      "planted" -> planted, "found" -> found)
    if (!ctx.trace) {
      res.metric("read_p50_ms", Stats.median(serveMs.toSeq), "ms")
      res.metric("tail_ms", tail.value, "ms")
      res.metric("write_p50_ms", Stats.median(takedownMs.toSeq), "ms")
      res.metric("ingest_per_s", nSteps * BatchDocs / ingestS.sum, "1/s")
      res.metric("bytes_per_user_byte", Stats.median(bytesRatio.toSeq), "ratio")
    } else {
      Report.spans(ctx, spans, Seq("store.CurationIngest.ingestBatchOnce"),
        Seq("ms", "jobs", "gap_ms", "shuffle_bytes", "task_cpu_s"))
      Report.spans(ctx, spans, Seq("store.TextIndex.append"), Seq("ms", "jobs", "bytes_written"))
      Report.spans(ctx, spans, Seq("store.TextIndex.query"), Seq("ms", "plan_ms", "jobs", "input_bytes"))
      Report.spans(ctx, spans, Seq("Graft.deleteDocs"), Seq("ms", "jobs"))
      Report.spans(ctx, spans, Seq("Graft.maintainAll"), Seq("ms", "jobs", "bytes_written"))
      res.metrics.remove("Graft.maintainAll.bytes_written").foreach(v =>
        res.metric("Graft.maintainAll.bytes_rewritten", v._1, "bytes"))
      res.metric("store.chain_len", Stats.median(chainLens.toSeq), "count")
      res.metric("store.tombstone_parts", Stats.median(tombParts.toSeq), "count")
      res.metric("store.dedup.exact_recall", found("exact").toDouble / planted("exact"), "ratio")
      res.metric("store.dedup.near_recall", found("near").toDouble / planted("near"), "ratio")
      val q1 = qDf.limit(QueriesPerCall)
      res.metric("trace.overhead_ratio", Report.overhead(ctx) {
        TextIndex.query(store, TextTable, q1, "qid", "q", k = TopK).collect()
      }, "ratio")
    }
  }
}
