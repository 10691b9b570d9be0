package perfbench

import java.security.MessageDigest

/** Generator self-test: for every input a workload generates (CSV drops,
  * request schedules, seed rows, documents, churn batches,
  * takedown ids and query batches) the same seed must give byte-identical
  * output and a different seed a different one. The Spark-side tables of
  * [[SfGen]] are pure column expressions of (seed, row id) and are not
  * re-run here. Prints one line per input and exits non-zero on failure. */
object SelfTest {

  private def digest(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  def inputs(seed: Long): Seq[(String, String)] = {
    val churn = IndexChurn.inputs(seed).take(3).toSeq
    Seq(
      "catalog.csv_drops" -> CatalogApi.dropFiles(seed, 3)
        .map { case (c, rows) => Gen.csv(c, rows) }.mkString("\u0000"),
      "catalog.schedule" -> CatalogApi.schedule(seed, 4.0, 30).mkString("\n"),
      "catalog.seed_rows" -> CatalogApi.seedRows(seed).map(_.toSeq.sorted).mkString("\n"),
      "sf.documents" -> SfGen.documentTexts(seed, 500).mkString("\n"),
      "churn.base_docs" -> IndexChurn.baseDocs(seed).mkString("\n"),
      "churn.batches" -> churn.map(_.docs).mkString("\n"),
      "churn.plants" -> churn.map(_.plants).mkString("\n"),
      "churn.takedown_ids" -> churn.map(_.victims).mkString("\n"),
      "churn.query_batches" -> churn.map(_.queries).mkString("\n"))
  }

  def run(): Unit = {
    val a = inputs(7); val b = inputs(7); val c = inputs(8)
    var ok = true
    a.indices.foreach { i =>
      val (name, x) = a(i)
      val same = digest(x) == digest(b(i)._2)
      val differs = digest(x) != digest(c(i)._2)
      ok &&= same && differs
      println(f"$name%-22s seed 7: ${digest(x)}  again: ${if (same) "identical" else "DIFFERENT"}" +
        s"  seed 8: ${if (differs) "different" else "IDENTICAL"}")
    }
    println(if (ok) "selftest: ok" else "selftest: FAILED")
    if (!ok) sys.exit(1)
  }
}
