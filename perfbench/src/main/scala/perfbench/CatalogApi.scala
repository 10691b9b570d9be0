package perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{CatalogAnalytics, CatalogQueries, MutationResult, Mutations}
import graft.schema.Schemas
import graft.sources.Ingest
import graft.store.SnapshotStore

/** Workload `catalog_api`: the reference's own Lambda surface.
  *
  * Catalog owners call the HTTP API at one fixed rate — an OPEN loop: one
  * generator thread serves requests in arrival order and each latency is
  * timed from the request's due time, so a stall also charges the
  * requests queued behind it. Every [[DropEverySlots]]th slot of the loop
  * is an S3 drop that goes through `Ingest.readCsv` and
  * `Mutations.appendBatch`.
  *
  * Why: the table is tiny (600 rows), so per-call driver, planning and
  * commit cost dominates while kernels and shuffles do almost nothing, and
  * copy-on-write commits make the writes compete with the reads.
  *
  * Every answer is checked against an in-benchmark model of the table
  * (status codes, generated keys, visibility, field values), and at the end
  * the whole stored table is compared with it. */
object CatalogApi {
  val Table = "csp_tools_data"
  val SeedRows = 600
  val DropEverySlots = 10
  val DropRows = 25
  val PageSize = 50
  val SetupRepeats = 3
  val BlockSize = 20
  /** Enough API requests for a tail even in a short run. */
  val MinSlots = 15

  private val readKinds = Set("get_key", "get_name", "search", "page", "dashboard")
  /** Request mix. The reference keeps no record of its traffic, so these
    * shares, the key skew and the drop cadence are assumptions; the README
    * gives the reason for each. */
  private val mix: Seq[(String, Double)] = Seq(
    "get_key" -> 0.40, "get_name" -> 0.10, "search" -> 0.10, "page" -> 0.05,
    "dashboard" -> 0.05, "create" -> 0.05, "update" -> 0.20, "delete" -> 0.05)

  /** One scheduled request: due time (s after the loop starts), kind, and
    * a private random stream that picks its parameters. */
  final case class Req(due: Double, kind: String, salt: Long)

  /** The open-loop schedule: request slots evenly spaced at `rate` per
    * second for `seconds` seconds (at least [[MinSlots]] slots). Every
    * [[DropEverySlots]]th slot is an S3 drop; the others are API requests
    * whose kinds come in seeded, shuffled blocks of [[BlockSize]] that hold
    * the mix exactly, so every run sends the same share of each kind. A drop takes a slot of its own instead of
    * landing between requests, so the run's queueing is a property of the
    * program, not of one seed's ordering. */
  def schedule(seed: Long, rate: Double, seconds: Int): Seq[Req] = {
    val r = Gen.rng(seed, 11)
    val bag = mix.flatMap { case (k, p) => Seq.fill(math.round(p * BlockSize).toInt)(k) }
    val kinds = Iterator.continually(
      bag.map(k => (r.nextLong(), k)).sortBy(_._1).map(_._2)).flatten
    Iterator.from(0).map(i => i -> (i + 0.5) / rate)
      .takeWhile { case (i, t) => t < seconds || i < MinSlots }
      .map { case (i, t) =>
        Req(t, if (i % DropEverySlots == DropEverySlots / 2) "csv" else kinds.next(), r.nextLong())
      }.toSeq
  }

  /** The S3 drop files for a run: alternating 27- and 20-column headers,
    * with multi-line quoted fields, doubled quotes and null sentinels. */
  def dropFiles(seed: Long, n: Int): Seq[(Seq[String], Seq[Map[String, String]])] =
    (0 until n).map { i =>
      val r = Gen.rng(seed, 1000 + i)
      val cols = if (i % 2 == 0) Gen.catalogColumns else Gen.ddlColumns
      cols -> (0 until DropRows).map(j =>
        Gen.catalogFields(r, f"csv-$seed%x-$i-$j%02d", dirty = true))
    }

  def seedRows(seed: Long): Seq[Map[String, String]] = {
    val r = Gen.rng(seed, 7)
    (0 until SeedRows).map(i => Gen.catalogFields(r, f"seed-$seed%x-$i%04d", dirty = true))
  }

  // ------------------------------------------------------------------ model

  /** Expected state of one stored row. `fields == null` while the row came
    * from a CSV drop whose key assignment has not been observed yet (the
    * order of keys inside one appended batch is the store's choice). */
  final class Rec(val key: Int, var fields: Map[String, String], var display: Boolean)

  final class Model(res: Result) {
    val recs = mutable.TreeMap.empty[Int, Rec]
    val pending = mutable.LinkedHashMap.empty[String, Map[String, String]]
    val nameKey = mutable.HashMap.empty[String, Int] // resolved names
    val allNames = mutable.ArrayBuffer.empty[String]
    var lastWritten = 0

    def maxKey: Int = if (recs.isEmpty) 0 else recs.lastKey

    def add(key: Int, f: Map[String, String]): Unit = {
      recs(key) = new Rec(key, f, true)
      nameKey(f("tool_name")) = key
      allNames += f("tool_name")
    }

    def addPending(rows: Seq[Map[String, String]]): Unit = {
      val base = maxKey
      rows.indices.foreach(i => recs(base + 1 + i) = new Rec(base + 1 + i, null, true))
      rows.foreach { f => pending(f("tool_name")) = f; allNames += f("tool_name") }
    }

    /** Tie a pending key to the stored row that carries it. */
    def resolve(key: Int, name: String): Unit = recs.get(key).foreach { rec =>
      if (rec.fields == null) pending.remove(name) match {
        case Some(f) => rec.fields = f; nameKey(name) = key
        case None => res.check(false, s"key $key holds unknown or already placed row '$name'")
      }
    }

    def visible: Iterator[Map[String, String]] =
      recs.valuesIterator.filter(r => r.display && r.fields != null).map(_.fields) ++
        pending.valuesIterator

    def visibleKeys: Iterator[Int] = recs.valuesIterator.filter(_.display).map(_.key)

    /** Check one returned row against the model (resolving it if needed). */
    def checkRow(row: Row, what: String): Unit = {
      val key = row.getAs[Int]("s_no")
      val name = row.getAs[String]("tool_name")
      resolve(key, name)
      recs.get(key) match {
        case None => res.check(false, s"$what: returned unknown key $key")
        case Some(rec) if rec.fields != null =>
          res.check(rec.display && row.getAs[Boolean]("is_display"),
            s"$what: key $key returned but it is soft-deleted")
          val got = stringFields(row)
          val bad = rec.fields.filter { case (c, v) => got.getOrElse(c, null) != v }
          res.check(bad.isEmpty, s"$what: key $key differs in ${bad.keys.mkString(",")}: " +
            bad.keys.take(2).map(c => s"$c=${got.getOrElse(c, null)} want ${rec.fields(c)}").mkString("; "))
        case _ =>
      }
    }
  }

  private val stringCols =
    Schemas.cspTools.fields.filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)

  def stringFields(row: Row): Map[String, String] =
    stringCols.map(c => c -> row.getAs[String](c)).toMap

  /** The stored form of generated fields for the given header. */
  def expected(f: Map[String, String], header: Seq[String]): Map[String, String] =
    stringCols.map(c => c -> (if (header.contains(c)) Gen.normalized(f(c)) else null)).toMap

  // ------------------------------------------------------------------- run

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val tr = ctx.tracer
    val seed = ctx.seed
    val seeds = seedRows(seed)

    // Set-up: bulk-load the seed table into a fresh store, SetupRepeats times.
    val (store, model) = Main.setupMedian(ctx, SetupRepeats) { i =>
      val st = new SnapshotStore(ctx.work.resolve(s"catalog-store-$i").toString, spark)
      val rows = seeds.map { f =>
        Row.fromSeq(Schemas.cspTools.fieldNames.toSeq.map {
          case "s_no" => 0
          case "is_display" => true
          case c => f(c)
        })
      }
      new Mutations(st, spark, Table).appendBatch(
        spark.createDataFrame(rows.asJava, Schemas.cspTools))
      val m = new Model(res)
      st.load(Table).select("s_no", "tool_name").collect().foreach { r =>
        val f = seeds.find(_("tool_name") == r.getString(1)).get
        m.add(r.getInt(0), expected(f, Gen.catalogColumns))
      }
      (st, m)
    }
    res.check(model.recs.keys.toSeq == (1 to SeedRows),
      s"seed keys are not 1..$SeedRows: ${model.recs.keys.take(5)}…")

    val mut = new Mutations(store, spark, Table)
    val q = new CatalogQueries(store, spark, Table)
    val dash = new CatalogAnalytics(store.load(Table))
    val sched = schedule(seed, ctx.catalogRate, ctx.seconds)
    val nDrops = sched.count(_.kind == "csv") + 1
    val drops = dropFiles(seed, nDrops)
    val dropDir = Files.createDirectories(ctx.work.resolve("drops"))
    val dropPaths = drops.zipWithIndex.map { case ((cols, rows), i) =>
      val p = dropDir.resolve(f"drop-$i%03d.csv")
      Files.write(p, Gen.csv(cols, rows).getBytes("UTF-8"))
      p
    }
    var dropNo = 0
    val zipf = new Gen.Zipf(1000, 1.1)
    var created = 0
    val tableDir = ctx.work.resolve(s"catalog-store-${SetupRepeats - 1}").resolve(Table)
    val commitBytes = mutable.ArrayBuffer.empty[Double]
    val csvS = mutable.ArrayBuffer.empty[Double] // seconds per drop

    // Every tenth write of each kind takes its error path (duplicate name,
    // missing key), so every run commits the same number of versions.
    val writesSeen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    def errorPath(kind: String): Boolean = {
      writesSeen(kind) += 1
      writesSeen(kind) % 10 == 5
    }

    /** Execute one request against the program and check the answer. */
    def serve(req: Req): Unit = {
      val r = new SplittableRandom(req.salt)
      def read(df: => DataFrame): Array[Row] =
        tr.span("operators.CatalogQueries.read")(df.collect())
      def write(span: String)(body: => MutationResult): MutationResult = {
        val before = if (ctx.trace) Main.bytesUnder(tableDir) else 0L
        val out = tr.span(span)(body)
        if (ctx.trace && out.status < 300)
          commitBytes += (Main.bytesUnder(tableDir) - before).toDouble
        out
      }
      req.kind match {
        case "get_key" =>
          val k =
            if (model.lastWritten > 0 && r.nextInt(3) == 0) model.lastWritten
            else 1 + ((zipf.sample(r).toLong * 7919 + seed.abs % 977) % model.maxKey).toInt
          res.op(s"get_key $k") {
            val rows = read(q.getBySNo(k))
            val want = model.recs.get(k).exists(_.display)
            res.check(rows.length == (if (want) 1 else 0),
              s"GET s_no=$k returned ${rows.length} rows, want ${if (want) 1 else 0}")
            rows.foreach(model.checkRow(_, s"GET s_no=$k"))
          }
        case "get_name" =>
          val name =
            if (r.nextInt(5) == 0) s"missing-${r.nextInt(1 << 20)}"
            else model.allNames(r.nextInt(model.allNames.size))
          res.op(s"get_name $name") {
            val rows = read(q.getByToolName(name))
            val want =
              if (model.pending.contains(name)) 1
              else model.nameKey.get(name).count(k => model.recs(k).display)
            res.check(rows.length == want,
              s"GET tool_name=$name returned ${rows.length} rows, want $want")
            rows.foreach(model.checkRow(_, s"GET tool_name=$name"))
          }
        case "search" =>
          val frag = Gen.pick(r, Gen.teams).take(2).toLowerCase
          res.op(s"search $frag") {
            val rows = read(q.searchByTeam(frag))
            val want = model.visible.count(f =>
              f("team_name") != null && f("team_name").toUpperCase.contains(frag.toUpperCase))
            res.check(rows.length == want, s"search '$frag' returned ${rows.length} rows, want $want")
            rows.foreach(model.checkRow(_, s"search '$frag'"))
          }
        case "page" =>
          val after = r.nextInt(model.maxKey + 1)
          res.op(s"page $after") {
            val rows = read(q.page(after, PageSize))
            val want = model.visibleKeys.filter(_ > after).take(PageSize).toSeq
            val got = rows.map(_.getAs[Int]("s_no")).toSeq
            res.check(got == want, s"page after=$after returned keys ${got.take(5)}…, want ${want.take(5)}…")
          }
        case "dashboard" =>
          res.op("dashboard") {
            val (ks, byTeam, byStatus) = tr.span("operators.CatalogAnalytics.dashboard") {
              (dash.keyStats.collect(), dash.toolCountByTeam.collect(),
                dash.recordsByTeamAndStatusFlat.collect())
            }
            val vis = model.visible.toSeq
            val keys = model.visibleKeys.toSeq
            val k = ks.head
            res.check(k.getAs[Long]("cnt") == keys.size &&
              k.getAs[Int]("min_s_no") == keys.min && k.getAs[Int]("max_s_no") == keys.max,
              s"keyStats $k, want (${keys.min}, ${keys.max}, ${keys.size})")
            val wantTeam = vis.groupBy(_("team_name")).map { case (t, xs) => t -> xs.size.toLong }
            val gotTeam = byTeam.map(x => x.getString(0) -> x.getLong(1)).toMap
            res.check(gotTeam == wantTeam, s"toolCountByTeam $gotTeam, want $wantTeam")
            val wantSt = vis.groupBy(f => (f("team_name"), f("active_inactive")))
              .map { case (t, xs) => t -> xs.size.toLong }
            val gotSt = byStatus.map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
            res.check(gotSt == wantSt, s"recordsByTeamAndStatus differs")
          }
        case "create" =>
          val dup = errorPath("create") && model.nameKey.nonEmpty
          val name =
            if (dup) model.allNames.filter(model.nameKey.contains)(r.nextInt(model.nameKey.size))
            else { created += 1; f"api-$seed%x-$created%05d" }
          val f = Gen.catalogFields(r, name, dirty = false)
          res.op(s"create $name") {
            val want = model.maxKey + 1
            write("operators.Mutations.create")(mut.create(f)) match {
              case MutationResult.Created(k) if !dup =>
                res.check(k == want, s"create got key $k, want max+1 = $want")
                model.add(k, expected(f, Gen.catalogColumns))
                model.lastWritten = k
              case MutationResult.BadRequest(_) if dup =>
              case other => res.check(false, s"create '$name' (dup=$dup) returned $other")
            }
          }
        case "update" =>
          val resolved = model.recs.valuesIterator.filter(_.fields != null).map(_.key).toIndexedSeq
          val missing = errorPath("update")
          val k = if (missing) model.maxKey + 1000 else resolved(r.nextInt(resolved.size))
          val patch = Map(
            "description" -> s"updated ${r.nextInt(1 << 16)}",
            "team_name" -> Gen.pick(r, Gen.teams),
            "active_inactive" -> (if (r.nextBoolean()) "Active" else "Inactive"))
          res.op(s"update $k") {
            write("operators.Mutations.update")(mut.update(k, patch)) match {
              case MutationResult.Ok(`k`) if !missing =>
                val rec = model.recs(k)
                rec.fields = rec.fields ++ patch
                model.lastWritten = k
              case MutationResult.NotFound(`k`) if missing =>
              case other => res.check(false, s"update $k (missing=$missing) returned $other")
            }
          }
        case "delete" =>
          val live = model.recs.valuesIterator.filter(x => x.fields != null && x.display)
            .map(_.key).toIndexedSeq
          val missing = errorPath("delete") || live.isEmpty
          val k = if (missing) model.maxKey + 1000 else live(r.nextInt(live.size))
          res.op(s"delete $k") {
            write("operators.Mutations.softDelete")(mut.softDelete(k)) match {
              case MutationResult.Ok(`k`) if !missing =>
                model.recs(k).display = false
                model.lastWritten = k
              case MutationResult.NotFound(`k`) if missing =>
              case other => res.check(false, s"softDelete $k (missing=$missing) returned $other")
            }
          }
        case "csv" =>
          val (cols, rows) = drops(dropNo)
          val path = dropPaths(dropNo).toString
          dropNo += 1
          res.op(s"csv drop $dropNo") {
            val before = if (ctx.trace) Main.bytesUnder(tableDir) else 0L
            val t0 = System.nanoTime()
            val batch = tr.span("sources.Ingest.readCsv")(Ingest.readCsv(spark, path))
            tr.span("operators.Mutations.appendBatch")(mut.appendBatch(batch))
            csvS += (System.nanoTime() - t0) / 1e9
            if (ctx.trace) commitBytes += (Main.bytesUnder(tableDir) - before).toDouble
            model.addPending(rows.map(expected(_, cols)))
          }
      }
    }

    // Warm-up (untimed): every request kind twice and one drop, so JIT and
    // codegen caches are warm before the first timed request.
    val warm = new SplittableRandom(seed ^ 0x5eed)
    (mix.map(_._1) ++ mix.map(_._1) :+ "csv").foreach(k => serve(Req(0, k, warm.nextLong())))
    val warmSpans = tr.finish().size // warm-up spans are not reported
    commitBytes.clear(); csvS.clear()

    // The timed open loop.
    final case class Done(kind: String, latencyMs: Double, waitMs: Double, lateMs: Double)
    val done = mutable.ArrayBuffer.empty[Done]
    val origin = System.nanoTime() + 200000000L
    val hardStop = origin + (ctx.seconds + 60) * 1000000000L
    val failedBefore = res.failed
    sched.foreach { req =>
      val due = origin + (req.due * 1e9).toLong
      var now = System.nanoTime()
      if (now > hardStop) {
        res.attempted += 1; res.failed += 1 // refused: the backlog never drained
      } else {
        var late = 0.0
        var wait = 0.0
        if (now < due) {
          Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
          now = System.nanoTime()
          late = math.max(0, now - due) / 1e6
        } else wait = (now - due) / 1e6
        serve(req)
        done += Done(req.kind, (System.nanoTime() - due) / 1e6, wait, late)
      }
    }
    res.info("catalog_failed_in_loop") = res.failed - failedBefore

    // Final check: the stored table equals the model, row for row.
    val stored = store.load(Table).collect()
    stored.foreach(row => model.resolve(row.getAs[Int]("s_no"), row.getAs[String]("tool_name")))
    res.check(model.pending.isEmpty, s"${model.pending.size} dropped CSV rows never stored")
    val storedKeys = stored.map(_.getAs[Int]("s_no")).sorted.toSeq
    res.check(storedKeys == (1 to model.maxKey), s"stored keys are not dense 1..${model.maxKey}")
    stored.foreach { row =>
      val k = row.getAs[Int]("s_no")
      model.recs.get(k).foreach { rec =>
        res.check(rec.display == row.getAs[Boolean]("is_display"), s"key $k visibility differs")
        if (rec.fields != null) {
          val got = stringFields(row)
          res.check(rec.fields.forall { case (c, v) => got(c) == v }, s"stored key $k differs")
        }
      }
    }

    // Metrics.
    val api = done.filter(_.kind != "csv")
    val reads = api.filter(d => readKinds(d.kind)).map(_.latencyMs)
    val writes = api.filter(d => !readKinds(d.kind)).map(_.latencyMs)
    val all = api.map(_.latencyMs)
    val tail = Stats.tail(all.toSeq)
    val atRest = Main.bytesUnder(ctx.work.resolve(s"catalog-store-${SetupRepeats - 1}"))
    val userBytes = model.recs.valuesIterator.map(x => Option(x.fields).map(f => Gen.userBytes(f.values)).getOrElse(0L)).sum
    res.info ++= Seq(
      "params" -> Map("rate_per_s" -> ctx.catalogRate, "seed_rows" -> SeedRows,
        "drop_every_slots" -> DropEverySlots, "drop_rows" -> DropRows, "page_size" -> PageSize,
        "setup_repeats" -> SetupRepeats, "mix" -> mix.toMap),
      "requests" -> api.size, "reads" -> reads.size, "writes" -> writes.size,
      "csv_drops" -> csvS.size,
      "api_read_p50_ms" -> Stats.median(reads.toSeq),
      "api_write_p50_ms" -> Stats.median(writes.toSeq),
      "tail" -> tail.toString,
      "service_p50_ms" -> done.groupBy(_.kind).map { case (k, xs) =>
        k -> Stats.median(xs.map(d => d.latencyMs - d.waitMs - d.lateMs).toSeq) },
      "gc_s" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1000.0,
      "wait_p50_ms" -> done.groupBy(_.kind).map { case (k, xs) => k -> Stats.median(xs.map(_.waitMs).toSeq) },
      "store_bytes_per_user_byte" -> atRest.toDouble / userBytes)
    if (!ctx.trace) {
      res.metric("read_p50_ms", Stats.median(reads.toSeq), "ms")
      res.metric("tail_ms", tail.value, "ms")
      res.metric("write_p50_ms", Stats.median(writes.toSeq), "ms")
      res.metric("ingest_per_s", csvS.size * DropRows / csvS.sum, "1/s")
      res.metric("bytes_per_user_byte", atRest.toDouble / userBytes, "ratio")
    } else {
      val spans = tr.finish().drop(warmSpans)
      Report.spans(ctx, spans, Seq(
        "operators.Mutations.appendBatch", "operators.Mutations.create",
        "operators.Mutations.update", "operators.Mutations.softDelete",
        "operators.CatalogQueries.read", "operators.CatalogAnalytics.dashboard"),
        Seq("ms", "jobs", "gap_ms", "plan_ms"))
      val csv = spans.filter(_.name == "sources.Ingest.readCsv")
      res.metric("sources.Ingest.readCsv.ms", Stats.median(csv.map(_.wallMs)), "ms")
      res.metric("sources.Ingest.readCsv.rows", DropRows.toDouble, "rows")
      res.metric("loadgen.queue_wait_ms", Stats.mean(api.map(_.waitMs).toSeq), "ms")
      res.metric("loadgen.late_ms", Stats.mean(api.map(_.lateMs).toSeq), "ms")
      res.metric("store.SnapshotStore.versions", store.versions(Table).size.toDouble, "count")
      res.metric("store.SnapshotStore.bytes_written", Stats.median(commitBytes.toSeq), "bytes")
      res.metric("store.SnapshotStore.bytes_at_rest", atRest.toDouble, "bytes")
      res.metric("trace.overhead_ratio", Report.overhead(ctx) {
        q.getBySNo(1 + (seed.abs % SeedRows).toInt).collect()
      }, "ratio")
    }
  }

}
