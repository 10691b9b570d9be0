package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input a workload feeds the program is
  * made here from the run's seed, so the same seed gives byte-identical
  * inputs ([[SelfTest]] checks it) and the program sees only the result. */
object Gen {

  /** An independent stream per (seed, purpose). */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xC2B2AE3D27D4EB4FL + 0x165667B1L))

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  // ---------------------------------------------------------------- catalog

  /** The live 27-column catalog header (graft.schema.Schemas.cspTools). */
  val catalogColumns: IndexedSeq[String] =
    graft.schema.Schemas.cspTools.fieldNames.toIndexedSeq
  /** The 20-column DDL shape: the live header's first 20 columns. */
  val ddlColumns: IndexedSeq[String] = catalogColumns.take(20)

  val teams = IndexedSeq("FCS", "GCSS", "CMS", "CCS", "Tex", "CESS")
  private val scripts = IndexedSeq("Script", "Tool", "Dashboard", "Cradle Job", "AI")
  private val words = IndexedSeq("ticket", "triage", "refund", "seller", "audit",
    "report", "queue", "invoice", "merge", "escalation", "catalog", "listing")
  private val dates = IndexedSeq("23-Dec", "Feb-25", "2013", "-", "2024-03-01")

  /** A catalog record's string fields (everything but s_no / is_display).
    * `dirty` adds the reference data's corners: multi-line quoted text,
    * doubled quotes, commas and the NA / "" null sentinels. */
  def catalogFields(r: SplittableRandom, name: String,
                    dirty: Boolean): Map[String, String] = {
    def w = pick(r, words)
    def sentinel(v: String): String =
      if (!dirty) v else r.nextInt(10) match {
        case 0 => "NA"
        case 1 => ""
        case 2 => "N/A"
        case _ => v
      }
    val desc =
      if (dirty && r.nextInt(3) == 0)
        s"""Cuts $w effort, see the "$w" tab\nsecond line: $w, $w"""
      else s"$w $w tool for $w"
    Map(
      "team_name" -> pick(r, teams),
      "tool_name" -> name,
      "description" -> desc,
      "tool_code_link" -> sentinel(s"https://code.example/$name"),
      "tool_script" -> pick(r, scripts),
      "wiki_link" -> sentinel(s"https://wiki.example/$name"),
      "impact_ticket_reduced_effort_saving_hc" -> f"${r.nextInt(100) / 100.0}%.2f",
      "impact_ticket_reduced_effort_saving_tat" -> s"${r.nextInt(90) + 5}% ${r.nextInt(5) + 2} days to 1 days",
      "created_date" -> pick(r, dates),
      "active_inactive" -> (if (r.nextInt(5) == 0) "Inactive" else "Active"),
      "reason_for_inactive_or_deprecation" -> sentinel(s"replaced by $w"),
      "tool_used_by_csp_external_team" -> pick(r, IndexedSeq("Internal", "internal", "External")),
      "can_be_reused_across_csp_teams" -> pick(r, IndexedSeq("No", "no", "Yes", "yes")),
      "eng_team_request_self" -> pick(r, IndexedSeq("Self", "Eng")),
      "eng_business_team_name" -> sentinel(pick(r, teams)),
      "op_link_from_eng_team" -> sentinel(s"https://op.example/$w"),
      "reason_for_cut" -> sentinel(s"$w backlog"),
      "remarks" -> (if (dirty && r.nextInt(4) == 0) s"line one $w\nline two, \"$w\"" else sentinel(s"$w ok")),
      "login" -> s"user${r.nextInt(40)}",
      "tool_owner" -> s"owner${r.nextInt(25)}",
      "catalog_write_read" -> pick(r, IndexedSeq("N/A", "Read", "Write")),
      "reason_for_catalog_access" -> sentinel(s"$w access"),
      "who_use_this_tool" -> pick(r, IndexedSeq("N/A", "CSP", "Sellers")),
      "reason_for_catalog" -> sentinel(s"$w"),
      "tool_developed_by" -> s"dev${r.nextInt(12)}")
  }

  /** The value the store holds for a generated string: the reference's
    * null sentinels ("NA", blank) become null; "N/A" is a value. */
  def normalized(v: String): String =
    if (v == null || v.trim.isEmpty || v.trim == "NA") null else v

  /** One S3 drop: a CSV file in `columns` order (either header shape),
    * quoted the way the reference's files are. `s_no` carries junk keys:
    * the store assigns its own. */
  def csv(columns: Seq[String], rows: Seq[Map[String, String]]): String = {
    def q(v: String): String =
      if (v.isEmpty || v.exists(c => c == ',' || c == '"' || c == '\n'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    val b = new StringBuilder(columns.mkString(",")).append('\n')
    rows.zipWithIndex.foreach { case (f, i) =>
      b ++= columns.map {
        case "s_no" => (9000 + i).toString
        case "is_display" => "true"
        case c => f.get(c).map(q).getOrElse("")
      }.mkString(",")
      b += '\n'
    }
    b.toString
  }

  /** User bytes of a record: the UTF-8 size of its non-null values. */
  def userBytes(values: Iterable[String]): Long =
    values.iterator.filter(_ != null).map(_.getBytes("UTF-8").length.toLong).sum

  // ------------------------------------------------------------ documents

  /** Zipf vocabulary for the churn corpus: 2,000 pronounceable words. */
  val churnVocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe",
      "shu", "gri", "dal", "fen", "mor", "tis", "bel")
    (0 until 2000).map { i =>
      val a = syl(i % 16); val b = syl((i / 16) % 16); val c = syl((i / 256) % 16)
      if (i < 256) a + b else a + b + c
    }
  }
  private val churnZipf = new Zipf(churnVocab.size, 1.05)

  def zipfText(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    (0 until n).map(_ => churnVocab(churnZipf.sample(r))).mkString(" ")
  }

  /** An exact duplicate under the fingerprint contract: same token
    * sequence, different whitespace. */
  def reformatted(r: SplittableRandom, text: String): String =
    text.split(" ").mkString(if (r.nextBoolean()) "  " else " \t ") + " "

  /** A near duplicate: one token of a long document replaced. */
  def nearDup(r: SplittableRandom, text: String): String = {
    val t = text.split(" ")
    val i = r.nextInt(t.length)
    t(i) = churnVocab(churnZipf.sample(r))
    if (t.mkString(" ") == text) t(i) = t(i) + "x"
    t.mkString(" ")
  }

  /** BM25 query texts: two or three mid-frequency words. */
  def queryText(r: SplittableRandom): String =
    (0 until 2 + r.nextInt(2)).map(_ => churnVocab(20 + r.nextInt(400))).mkString(" ")
}
