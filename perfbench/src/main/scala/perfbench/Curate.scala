package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.llm.{Curation, Dedup, Multimodal, Similarity, TextAnalysis, Tokenizer}
import graft.engine.relational.{Histogram, TableStats}
import graft.engine.sources.{ClusteredStore, SnapshotStore}
import graft.tools.ScaleCorpus

/** `curate`: land a seeded corpus, then one batch curation pass over it.
  *
  * Landing: the corpus arrives as file drops; each drop waits for the
  * Structured Streaming trigger whose `foreachBatch` writes it into a
  * z-clustered store and refreshes a column profile and a histogram. One
  * box read of the landed store follows. This stage carries the
  * streaming, clustered-store and statistics layers.
  *
  * Curation: the call chain of the engine's training-export queries built
  * from module functions — quality and language signals, exact / MinHash /
  * SimHash dedup, boilerplate trimming, a BPE budget trained on a hash
  * sample and applied to the corpus, embedding-based semantic dedup, image
  * near-dups on a slice, and one publish of the result. Per-row kernels
  * and `llm` operators do most of the work.
  *
  * The generator ([[ScaleCorpus.documents]]) makes every tenth document a
  * one-word mutation of its predecessor, so the planted near-dup pairs are
  * known; every 25th document is re-issued verbatim under a fresh id, so
  * exact dedup has work to do. */
final class Curate(spark: SparkSession, seed: Long, scale: Double)
    extends Workload {

  private val nDocs = math.max(100L, (1500 * scale).toLong)
  private val imageSlice = math.max(20L, (150 * scale).toLong)
  private val bpeMerges = 200
  private val embedDim = 64

  private val nDrops = 2

  private var root = ""
  private var docsPath = ""
  private var storeRoot = ""
  private var passes = 0
  private var nRows = 0L
  private var expectedDistinct = 0L
  private var planted = Set.empty[(Long, Long)]
  private var inputBytes = 1L
  private var recall = Double.NaN
  private var firstDigest: Option[BigDecimal] = None
  private var publishedBytes = 0L
  private var tracedPairs = 0L
  private val readRatios = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()

  def setup(dir: String): Unit = {
    root = dir
    docsPath = s"$root/docs"
    storeRoot = s"$root/curated"
    passes = 0
    Trace.call("session", "ScaleCorpus.documents") {
      val docs = ScaleCorpus.documents(spark, nDocs, seed)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      docs.unionByName(docs.filter(col("doc_id") % 25 === 0)
          .withColumn("doc_id", col("doc_id") + nDocs))
        .repartition(nDrops, col("doc_id"))
        .write.parquet(docsPath)
    }
    // expectations computed on the Spark driver from the generated file alone
    val texts = spark.read.parquet(docsPath).select(col("text")).collect()
      .map(_.getString(0))
    nRows = texts.length.toLong
    expectedDistinct = texts.map(_.trim.toLowerCase).distinct.length.toLong
    planted = (1L until nDocs).filter(_ % 10 == 1).map(i => (i - 1, i)).toSet
    inputBytes = Main.dirBytes(docsPath)
    firstDigest = None
  }

  /** One drop's `foreachBatch`: the clustered write and the statistics. */
  private def landBatch(batch: DataFrame, id: Long, land: String): Unit = {
    val docs = batch.localCheckpoint()
    val raw = s"$land/raw"
    if (id == 0) Trace.call("sources.clustered", "ClusteredStore.publishClustered") {
      ClusteredStore.publishClustered(docs, raw, Seq("n_chars"), nFiles = 4,
        tag = Some(s"land$id"))
    } else Trace.call("sources.clustered", "ClusteredStore.appendClustered") {
      ClusteredStore.appendClustered(docs, raw, nFiles = 4, tag = Some(s"land$id"))
    }
    Trace.call("relational.stats", "TableStats.refreshProfile") {
      TableStats.refreshProfile(docs.select(col("source"), col("n_chars")),
        s"$land/profile", Seq("source", "n_chars"), tag = Some(s"p$id"))
    }
    Trace.call("relational.stats", "Histogram.refresh") {
      Histogram.refresh(docs.select(col("n_chars")), s"$land/hist", "n_chars",
        binWidth = 64, tag = Some(s"h$id"))
    }
  }

  /** Stream the corpus drops into a fresh clustered store; return its root. */
  private def landCorpus(): String = {
    passes += 1
    val land = s"$root/land-$passes"
    Files.createDirectories(Paths.get(s"$land/in"))
    val drops = Main.files(docsPath).keys.filter(_.endsWith(".parquet")).toSeq.sorted
    val query = Trace.call("streaming", "DataStreamWriter.start") {
      spark.readStream.schema(spark.read.parquet(docsPath).schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$land/in")
        .writeStream
        .foreachBatch((b: DataFrame, id: Long) => landBatch(b, id, land))
        .option("checkpointLocation", s"$land/checkpoint")
        .start()
    }
    try drops.zipWithIndex.foreach { case (f, i) =>
      Trace.call("streaming", "StreamingQuery.processAllAvailable") {
        Files.copy(Paths.get(f), Paths.get(s"$land/in/drop-$i.parquet"))
        query.processAllAvailable()
      }
    } finally query.stop()
    s"$land/raw"
  }

  def pass(): Long = {
    val raw = landCorpus()
    val docs = SnapshotStore.read(spark, raw).select("doc_id", "text")
    Trace.verify("every landed document is in the store") { docs.count() == nRows }
    val r = new java.util.Random(seed + passes)
    val lo = 250L + r.nextInt(200)
    val box = Seq(("n_chars", lo, lo + 60L))
    val (n, read, total) = Trace.call("sources.clustered", "ClusteredStore.readBox") {
      val (df, read, total) = ClusteredStore.readBox(spark, raw, box)
      (df.count(), read, total)
    }
    readRatios += ((Trace.phase, read, total))
    Trace.verify("box read equals a full-scan filter") {
      n == SnapshotStore.read(spark, raw).filter(col("n_chars").between(lo, lo + 60L)).count()
    }
    val signals = Trace.call("llm.text", "TextAnalysis.qualityScore") {
      TextAnalysis.qualityScore(docs, "text").localCheckpoint()
    }
    val labelled = Trace.call("llm.text", "TextAnalysis.languageId") {
      TextAnalysis.languageId(signals, "text")
        .select(col("doc_id"), col("text"), col("quality"), col("lang_pred"))
        .localCheckpoint()
    }
    val exact = Trace.call("llm.dedup", "Dedup.exactDedup") {
      Dedup.exactDedup(labelled, "text", "doc_id").localCheckpoint()
    }
    Trace.verify("exact dedup keeps one row per distinct text") {
      exact.count() == expectedDistinct
    }
    val pairs = Trace.call("llm.dedup", "Dedup.minHashNearDups") {
      Dedup.minHashNearDups(exact, "text", "doc_id").select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    if (Trace.phase == "traced") tracedPairs += pairs.length
    recall = planted.count(pairs.toSet).toDouble / planted.size
    Trace.call("llm.dedup", "Dedup.simHashNearDups") {
      Dedup.simHashNearDups(exact, "text", "doc_id").count()
    }
    val losers = pairs.map { case (a, b) => math.max(a, b) }.distinct
    val survivors = exact.filter(!col("doc_id").isin(losers.map(Long.box): _*))
    val trimmed = Trace.call("llm.dedup", "Dedup.trimRepeatedSpans") {
      Dedup.trimRepeatedSpans(survivors, "text", "doc_id", minLen = 40)
        .select(col("doc_id"), col("trimmed_text").as("text"), col("quality"),
          col("lang_pred"))
        .localCheckpoint()
    }
    val merges = Trace.call("llm.tokenizer", "Tokenizer.trainBpeMergesBudget") {
      Tokenizer.trainBpeMergesBudget(
        Curation.hashSample(trimmed, col("doc_id"), 0.2), "text", bpeMerges)
    }
    val counted = Trace.call("llm.tokenizer", "Tokenizer.bpeTokenCount") {
      trimmed.select(col("doc_id"),
        Tokenizer.bpeTokenCount(col("text"), merges).as("n_tokens"))
        .localCheckpoint()
    }
    val embedded = Trace.call("llm.text", "TextAnalysis.embedText") {
      TextAnalysis.embedText(trimmed, "doc_id", "text", embedDim)
        .select(col("doc_id").as("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .localCheckpoint()
    }
    val semantic = Trace.call("llm.similarity", "Similarity.semanticDedup") {
      Similarity.semanticDedup(embedded, threshold = 0.95, bits = 8)
        .select(col("vec_id").as("doc_id")).localCheckpoint()
    }
    val media = Trace.call("llm.multimodal", "Multimodal.syntheticImages") {
      Multimodal.syntheticImages(trimmed.filter(col("doc_id") < imageSlice)
        .select(col("doc_id"))).localCheckpoint()
    }
    Trace.call("llm.multimodal", "Multimodal.imageSignatures") {
      Multimodal.imageSignatures(media).count()
    }
    Trace.call("llm.multimodal", "Multimodal.imageNearDups") {
      Multimodal.imageNearDups(media).count()
    }
    val result = trimmed.join(counted, Seq("doc_id"))
      .join(semantic, Seq("doc_id"), "left_semi")
    val v = Trace.call("sources.snapshot", "SnapshotStore.publish") {
      SnapshotStore.publish(result, storeRoot)
    }
    publishedBytes = Main.dirBytes(s"$storeRoot/v$v")
    Trace.verify("every pass publishes the same curated corpus") {
      val d = digest(SnapshotStore.read(spark, storeRoot, v))
      if (firstDigest.isEmpty) firstDigest = Some(d)
      firstDigest.contains(d)
    }
    nRows
  }

  private def digest(df: DataFrame): BigDecimal = BigDecimal(
    df.select(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")
      .as("h")).agg(sum(col("h"))).head().getDecimal(0))

  /** Share of the planted near-dup pairs MinHash found. */
  def quality: Double = recall
  def storedBytesPerInputByte: Double = publishedBytes.toDouble / inputBytes

  def report: Seq[Metric] = Seq(
    Metric("neardup_recall", recall, "ratio")) ++
    Main.latency("tick", "timed", Set("StreamingQuery.processAllAvailable")) ++
    Main.latency("range_read", "timed", Set("ClusteredStore.readBox")) ++ Seq(
    Metric("input_rows", nRows, "rows"),
    Metric("input_mb", inputBytes / 1048576.0, "MB"))

  def layerExtras(phase: String): Seq[Metric] = {
    // the pair-expansion explode inside minHashNearDups emits one row per
    // candidate pair; the banding explode emits a struct named `band`
    val gen = Trace.execsOf(phase, "Dedup.minHashNearDups")
      .flatMap(_.generated).collect { case (n, r) if n != "band" => r }.sum
    val rr = readRatios.filter(_._1 == phase)
    Seq(Metric("llm.dedup.candidates_per_pair",
        gen.toDouble / math.max(1L, tracedPairs), "ratio"),
      Metric("sources.clustered.files_read_ratio",
        rr.map(_._2).sum.toDouble / math.max(1, rr.map(_._3).sum), "ratio"))
  }

  def close(): Unit = ()
}
