package perfbench

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.ml.{Fit, Metrics, Predict, TrainTestSplit}
import graft.engine.relational.Exact
import graft.engine.schema.Schemas.IrisColumns
import graft.engine.sources.SnapshotStore

/** `iris_ml`: the source paper's workflow at scale — split, pipelined
  * random-forest fit with the reference defaults, scoring with metrics, a
  * 2×2-grid 3-fold cross-validation, the boosted one-vs-rest pipeline, and
  * a save/load round trip of the CV-best model with a rescore. MLlib tree
  * training and the CV fan-out dominate; `llm`, `functions` and
  * `streaming` sit idle and `sources` only publishes the scored rows.
  *
  * The input is an N-row headerless CSV with the iris schema: three
  * Gaussian classes whose versicolor/virginica clouds overlap, so F1 < 1
  * and a model change shows in the quality metric. */
final class IrisMl(spark: SparkSession, seed: Long, scale: Double, cpus: Int)
    extends Workload {

  private val nRows = math.max(150L, (3000 * scale).toLong)
  private val means = Seq(
    "setosa" -> Array(5.0, 3.4, 1.5, 0.25),
    "versicolor" -> Array(5.9, 2.8, 4.3, 1.3),
    "virginica" -> Array(6.5, 3.0, 5.3, 1.9))
  private val sds = Array(0.4, 0.35, 0.5, 0.25)

  private var root = ""
  private var inputBytes = 1L
  private var f1 = Double.NaN
  private var storedBytes = 0L

  def setup(dir: String): Unit = {
    root = dir
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val rnd = new java.util.Random(seed)
    val out = new java.io.PrintWriter(s"$root/iris.csv")
    try (0L until nRows).foreach { i =>
      val (species, mu) = means((i % 3).toInt)
      val xs = mu.indices.map(d => f"${mu(d) + sds(d) * rnd.nextGaussian()}%.3f")
      out.println((xs :+ species).mkString(","))
    } finally out.close()
    inputBytes = java.nio.file.Files.size(java.nio.file.Paths.get(s"$root/iris.csv"))
  }

  def pass(): Long = {
    Trace.call("ml", "TrainTestSplit.run") {
      TrainTestSplit.run(spark, s"$root/iris.csv", s"$root/train", s"$root/test",
        seed = seed, overwrite = true)
    }
    val train = spark.read.parquet(s"$root/train")
    val test = spark.read.parquet(s"$root/test")
    val rf = Trace.call("ml", "Fit.pipelined") { Fit.pipelined(train) }
    Trace.call("ml", "Predict.score") {
      val r = Predict.score(rf.transform, test)
      r.metrics.collect()
      val cm = Metrics.confusionMatrix(r.scored, IrisColumns.label,
        IrisColumns.prediction).agg(sum(col("n"))).head().getLong(0)
      Trace.verify("confusion matrix covers every test row") { cm == test.count() }
    }
    val cv = Trace.call("ml", "Fit.crossValidated") {
      Fit.crossValidated(train, numFolds = 3, parallelism = cpus, seed = seed)
    }
    val best = cv.bestModel.asInstanceOf[PipelineModel]
    val scored = Trace.call("ml", "Predict.score") {
      val r = Predict.score(best.transform, test)
      f1 = r.metrics.head().getAs[Double]("weighted_f1")
      r.scored
    }
    Trace.call("ml", "Fit.gbtOneVsRest") { Fit.gbtOneVsRest(train, maxIter = 5) }
    Trace.call("ml", "Predict.saveStage") {
      Predict.saveStage(best, s"$root/model")
    }
    val loaded = Trace.call("ml", "Predict.loadStage") {
      Predict.loadStage(PipelineModel, s"$root/model")
    }
    val cols = (IrisColumns.predictors :+ IrisColumns.target :+
      IrisColumns.predictedTarget).map(col)
    val rescored = Trace.call("ml", "Predict.score") {
      Predict.score(loaded.transform, test).scored.select(cols: _*).localCheckpoint()
    }
    Trace.verify("the reloaded model rescores identically") {
      Exact.sameMultiset(scored.select(cols: _*), rescored)
    }
    val v = Trace.call("sources.snapshot", "SnapshotStore.publish") {
      SnapshotStore.publish(rescored, s"$root/scored")
    }
    storedBytes = Main.dirBytes(s"$root/model") + Main.dirBytes(s"$root/scored/v$v")
    nRows
  }

  /** Weighted F1 of the CV-best model on the test split. */
  def quality: Double = f1
  def storedBytesPerInputByte: Double = storedBytes.toDouble / inputBytes

  def report: Seq[Metric] = Seq(
    Metric("model_f1", f1, "ratio"),
    Metric("input_rows", nRows, "rows"),
    Metric("input_mb", inputBytes / 1048576.0, "MB"))

  def layerExtras(phase: String): Seq[Metric] = Nil
  def close(): Unit = ()
}
