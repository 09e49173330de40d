package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.functions.F
import graft.engine.llm.{Dedup, Similarity, Tokenizer}
import graft.tools.{ClusteredVectors, ScaleCorpus}

/** The `functions` kernel section of a traced run: rows/s of each custom
  * Catalyst kernel through its public Column function, on fixed cached
  * in-memory input, so a kernel change shows without scan or shuffle
  * noise around it. Each figure is the median of three timed runs after
  * one untimed one. */
object Kernels {

  private def rowsPerS(input: DataFrame, out: Column, rowsPerRun: Long): Double = {
    val q = input.select(xxhash64(out).as("h")).agg(max(col("h")))
    q.collect()
    Main.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      q.collect()
      rowsPerRun / ((System.nanoTime() - t0) / 1e9)
    })
  }

  def run(spark: SparkSession, seed: Long, scale: Double): Seq[Metric] = {
    val n = math.max(1000L, (10000 * scale).toLong)
    val docs = ScaleCorpus.documents(spark, n, seed)
      .select(col("doc_id"), col("text"),
        Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"),
        Dedup.tokens(col("text")).as("tok"))
      .cache()
    docs.count()
    val merges = Tokenizer.trainBpeMergesBudget(docs, "text", 300)
    val vecs = ClusteredVectors.generate(spark, n, dim = 32, k = 16, seed = seed)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .cache()
    val queries = vecs.filter(col("vec_id") < 8)
    val cents = Similarity.ivfCentroids(vecs, 16)
    val books = Similarity.pqTrain(vecs, m = 8, k = 16)
    val codes = Similarity.ivfPqEncode(vecs, cents, books).cache()
    codes.count()
    // one ADC evaluation per (query, code) pair: all cells are probed
    val adc = {
      val probe = Similarity.ivfPqTopK(queries, queries, 10, cents, books,
        nprobe = 16, codes = Some(codes))
      probe.collect()
      Main.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        probe.collect()
        n * 8 / ((System.nanoTime() - t0) / 1e9)
      })
    }
    val out = Seq(
      Metric("functions.minhash.rows_per_s",
        rowsPerS(docs, Dedup.minhashSignature(col("sh"), 32), n), "rows/s"),
      Metric("functions.simhash.rows_per_s",
        rowsPerS(docs, F.simHash64(col("tok")), n), "rows/s"),
      Metric("functions.window_hash.rows_per_s",
        rowsPerS(docs, F.windowHashes(col("text"), 40), n), "rows/s"),
      Metric("functions.bpe_count.rows_per_s",
        rowsPerS(docs, Tokenizer.bpeTokenCount(col("text"), merges), n), "rows/s"),
      Metric("functions.pq_adc.rows_per_s", adc, "rows/s"))
    docs.unpersist(); vecs.unpersist(); codes.unpersist()
    out
  }
}
