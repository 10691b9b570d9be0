package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Dedup, NgramLm, Similarity, TextFunctions}
import graft.plans.{TextExpressions, TopKAggregate, VectorExpressions}

/** Kernel layer of the traced run: rows/s of each native expression in
  * `graft.plans`, called through its public wrapper over generated rows
  * held in memory, so a kernel change shows apart from scheduler noise.
  * The rates move `sf01_batch`'s curation family and `index_churn`'s
  * ingest, and should leave `catalog_api` flat. */
object Kernels {
  val Rows = 20000
  val Dim = 64
  val Reps = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = Gen.rng(ctx.seed, 61)
    val rows = (0 until Rows).map { i =>
      val pii = if (i % 10 == 0) s" mail user$i@example.com or 555-123-${1000 + i % 9000}" else ""
      val v = Array.fill(Dim)(SfGen.gauss(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, Gen.zipfText(r, 30, 60) + pii, v.map(x => (x / norm).toFloat).toSeq,
        r.nextDouble())
    }
    val codebooks = Seq.fill(8)(Seq.fill(16)(Seq.fill(Dim / 8)(SfGen.gauss(r))))
    val query = Seq.fill(Dim)(SfGen.gauss(r).toFloat)
    val base = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("vec", ArrayType(FloatType, containsNull = false)),
      StructField("score", DoubleType))))
    val data = base
      .withColumn("sh64", Dedup.simhash64(col("text")))
      .withColumn("codes", VectorExpressions.pqEncode(col("vec"), codebooks))
      .persist(StorageLevel.MEMORY_ONLY)
    data.count()
    val lut = data.limit(1)
      .select(VectorExpressions.pqLut(typedLit(query), codebooks)).head().getSeq[Double](0)
    val model = NgramLm.train(data, "text").persist(StorageLevel.MEMORY_ONLY)
    model.count()

    def reduce(c: Column): DataFrame =
      data.select(xxhash64(c).bitwiseAND(lit(0xFFFFL)).as("h")).agg(sum(col("h")))
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "WhitespaceTokens" -> (() => reduce(TextFunctions.tokens(col("text")))),
      "MinHashSignature" -> (() => reduce(Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3)))),
      "SimHash" -> (() => reduce(Dedup.simhash64(col("text")))),
      "SimHashComboKeys" -> (() => reduce(VectorExpressions.simhashComboKeys(col("sh64"), 10, 6))),
      "DotProduct" -> (() => reduce(Similarity.dot(col("vec"), typedLit(query)))),
      "PqAdc" -> (() => reduce(VectorExpressions.pqAdc(col("codes"), typedLit(lut), 16))),
      "BoundedTopK" -> (() => data.groupBy(col("id") % 100)
        .agg(TopKAggregate.boundedTopK(col("id"), col("score"), 10).as("t"))
        .agg(sum(size(col("t"))))),
      "NgramRepetition" -> (() => reduce(TextExpressions.ngramRepetition(col("text"), 2))),
      "BigramLogProbSum" -> (() => NgramLm.scoreDocs(data, "id", "text", model)
        .agg(sum(col("lm_score")))),
      "PiiRedact" -> (() => reduce(TextFunctions.piiRedact(col("text")))))
    val rates = kernels.map { case (name, q) =>
      q().collect() // compile and warm
      val ms = (0 until Reps).map { _ =>
        val t0 = System.nanoTime(); q().collect(); (System.nanoTime() - t0) / 1e6
      }
      ctx.res.metric(s"plans.$name.rows_per_s", Rows / (Stats.median(ms) / 1000), "rows/s")
      name -> ms
    }
    ctx.res.info("kernel_ms") = rates.toMap
    data.unpersist()
    model.unpersist()
  }
}
