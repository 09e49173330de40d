package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** A seeded workload. `setup` may run several times in one process (the
  * set-up time is reported as a median); everything after it uses the
  * inputs of the last set-up. */
trait Workload {
  /** Generate the seeded inputs under the fresh directory `root` and do
    * the set-up the workload's users pay once (publishing, index
    * training). */
  def setup(root: String): Unit
  /** One timed pass; returns the input rows it processed. */
  def pass(): Long
  /** The workload's quality metric (recall or F1). */
  def quality: Double
  /** Bytes the engine stored per byte of workload input. */
  def storedBytesPerInputByte: Double
  /** End-to-end metrics only this workload has, for the report lines. */
  def report: Seq[Metric]
  /** Per-layer counters only this workload can compute (traced runs). */
  def layerExtras(phase: String): Seq[Metric]
  def close(): Unit
}

object Main {

  /** Set-ups per run: `setup_s` reports their median. */
  val SetupReps = 3

  val Layers: Seq[String] = Seq("session", "ml", "llm.text", "llm.dedup",
    "llm.tokenizer", "llm.similarity", "llm.multimodal", "sources.snapshot",
    "sources.clustered", "streaming", "relational.stats")

  /** Per-layer counters only some workloads can compute; a workload that
    * does not exercise one reports it as 0. */
  val WorkloadLayerMetrics: Seq[(String, String)] = Seq(
    "llm.dedup.candidates_per_pair" -> "ratio",
    "sources.clustered.files_read_ratio" -> "ratio")

  def withDefaults(ms: Seq[Metric]): Seq[Metric] =
    WorkloadLayerMetrics.map { case (n, u) =>
      ms.find(_.name == n).getOrElse(Metric(n, 0.0, u))
    }

  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Int = 10, trace: Boolean = false, work: String = "",
      scale: Double = 1.0)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--scale" :: v :: rest => parse(rest, o.copy(scale = v.toDouble))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None when fewer than 20 samples exist. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 20) None
    else {
      val p = ((1.0 - 10.0 / n) * 100).toInt
      val s = xs.sorted
      Some((p, s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1))))
    }
  }

  /** Latency metrics of the top-level calls named `names` in `phase`:
    * p50 and tail in ms, plus the sample count. */
  def latency(prefix: String, phase: String, names: Set[String]): Seq[Metric] = {
    val ms = Trace.calls(phase).filter(s => names(s.name)).map(_.seconds * 1000)
    if (ms.isEmpty) Nil
    else Seq(Metric(s"${prefix}_p50_ms", median(ms), "ms"),
        Metric(s"${prefix}_samples", ms.size, "count")) ++
      tail(ms).toSeq.flatMap { case (p, v) =>
        Seq(Metric(s"${prefix}_tail_ms", v, "ms"),
          Metric(s"${prefix}_tail_percentile", p, "pct"))
      }
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def loadAvg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").head.toDouble finally src.close()
  }

  /** Fixed CPU-bound probe: one codegen xxhash64 fold per core. Context
    * only; nothing is normalised by it. */
  def cpuProbe(spark: SparkSession): Double = {
    val n = 2L * 1000 * 1000 * spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("max(xxhash64(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** (files, bytes) of every regular file under `dir`, keyed by path. */
  def files(dir: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      } finally s.close()
    }
  }

  def dirBytes(dir: String): Long = files(dir).values.sum

  def json(m: Seq[Metric]): String = m.map { x =>
    val v = if (x.value.isNaN || x.value.isInfinite) "null" else x.value.toString
    s""""${x.name}": {"value": $v, "unit": "${x.unit}"}"""
  }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.work.nonEmpty, "--work <fresh directory> is required")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Trace.call("session", "GraftSession.build") {
      graft.engine.GraftSession.build(cpus.toString)
    }
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // a traced run also traces set-up, where the session layer works
    if (o.trace) Trace.listen(spark, on = true)
    val w: Workload = o.workload match {
      case "curate" => new Curate(spark, o.seed, o.scale)
      case "iris_ml" => new IrisMl(spark, o.seed, o.scale, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      w.setup(s"${o.work}/data-$i")
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 1) graft.engine.sources.SnapshotStore.deleteRecursively(
        java.nio.file.Paths.get(s"${o.work}/data-${i - 1}"))
      s
    }
    val dataRoot = s"${o.work}/data-$SetupReps"
    if (o.trace) Trace.listen(spark, on = false)

    // Passes run until `seconds` have passed, at least one. A pass lasts
    // far longer than the configured seconds, so a run times exactly one
    // pass, in the JVM the set-up left: each run is one batch job, and
    // like a user's job it pays the engine's first-use costs.
    def timed(phase: String, seconds: Double): Seq[(Long, Double)] = {
      Trace.phase = phase
      val out = mutable.ArrayBuffer[(Long, Double)]()
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (out.isEmpty || System.nanoTime() < end) {
        val c0 = Trace.checkNanos
        val t0 = System.nanoTime()
        val rows = w.pass()
        out += ((rows, (System.nanoTime() - t0 - (Trace.checkNanos - c0)) / 1e9))
      }
      out.toSeq
    }
    def rate(ps: Seq[(Long, Double)]) = median(ps.map { case (r, s) => r / s })

    val untraced = timed("timed", o.seconds)
    // a traced run then times one traced pass and one more untraced pass,
    // both on the now-warm JVM: the traced pass gives the per-layer
    // counters, and the two rates the tracing overhead (the untraced pass
    // runs last, so further warm-up can only overstate the overhead)
    var before = Map.empty[String, Long]
    var after = Map.empty[String, Long]
    val (traced, warmUntraced) = if (!o.trace) (Nil, Nil) else {
      Trace.listen(spark, on = true)
      before = files(dataRoot)
      val t = timed("traced", 0)
      after = files(dataRoot)
      Trace.listen(spark, on = false)
      (t, timed("warm", 0))
    }
    val kernels = if (o.trace) Kernels.run(spark, o.seed, o.scale) else Nil
    val probeS = cpuProbe(spark)
    val load = loadAvg()

    val callMs = Trace.calls("timed").map(_.seconds * 1000)
    val e2e = Seq(
      Metric("setup_s", sessionS + median(setups), "s"),
      Metric("rows_per_s", rate(untraced), "rows/s"),
      Metric("stored_bytes_per_input_byte", w.storedBytesPerInputByte, "ratio"),
      Metric("quality", w.quality, "ratio"))
    // reported, but not steady enough from run to run to gate on: the
    // median call is a different call from seed to seed, and the JVM's
    // peak RSS follows GC timing
    val context = Seq(
      Metric("call_p50_ms", median(callMs), "ms"),
      Metric("peak_rss_mb", peakRssMb(), "MB"),
      Metric("session_s", sessionS, "s"),
      Metric("setup_median_s", median(setups), "s"),
      Metric("timed_passes", untraced.size, "count"),
      Metric("calls_timed", callMs.size, "count"),
      Metric("op_fail_ratio",
        Trace.failedCalls.toDouble / math.max(1, Trace.attemptedCalls), "ratio"),
      Metric("nproc", cpus, "count"),
      Metric("loadavg_1m", load, "load"),
      Metric("cpu_probe_s", probeS, "s")) ++
      tail(callMs).toSeq.flatMap(t => Seq(Metric("call_tail_ms", t._2, "ms"),
        Metric("call_tail_percentile", t._1, "pct")))

    val perLayer = if (!o.trace) Nil else {
      // the session layer works during set-up; every other layer is
      // counted over the traced pass
      val lt = Trace.layers("traced") ++ Trace.layers("setup").filter(_._1 == "session")
      val grid = Layers.flatMap { l =>
        val t = lt.getOrElse(l, new Trace.LayerTotals)
        Seq(Metric(s"$l.calls", t.calls, "count"),
          Metric(s"$l.self_s", t.selfS, "s"),
          Metric(s"$l.jobs", t.jobs, "count"),
          Metric(s"$l.tasks", t.tasks, "count"),
          Metric(s"$l.cpu_s", t.cpuS, "s"),
          Metric(s"$l.gap_s", t.gapS, "s"),
          Metric(s"$l.shuffle_mb", t.shuffleMb, "MB"),
          Metric(s"$l.spill_mb", t.spillMb, "MB"),
          Metric(s"$l.failed_tasks", t.failedTasks, "count"))
      }
      val ex = Trace.execsIn("traced")
      val trig = Trace.triggers.toList
      def trigMs(k: String) =
        if (trig.isEmpty) 0.0 else median(trig.map(_.getOrElse(k, 0L).toDouble))
      val fresh = after.filter { case (f, _) => !before.contains(f) }
      val tracedRate = rate(traced)
      grid ++ Seq(
        Metric("driver.analysis_s", ex.map(_.analysisMs).sum / 1000.0, "s"),
        Metric("driver.optimization_s", ex.map(_.optimizationMs).sum / 1000.0, "s"),
        Metric("driver.planning_s", ex.map(_.planningMs).sum / 1000.0, "s"),
        Metric("streaming.add_batch_ms", trigMs("addBatch"), "ms"),
        Metric("streaming.query_planning_ms", trigMs("queryPlanning"), "ms"),
        Metric("streaming.wal_commit_ms", trigMs("walCommit"), "ms"),
        Metric("sources.bytes_written_mb", fresh.values.sum / 1048576.0, "MB"),
        Metric("sources.files_written", fresh.size, "count"),
        Metric("trace.leaked_jobs", Trace.leakedJobs, "count"),
        Metric("trace.rows_per_s_untraced", rate(warmUntraced), "rows/s"),
        Metric("trace.rows_per_s_traced", tracedRate, "rows/s"),
        Metric("trace.overhead_ratio", rate(warmUntraced) / tracedRate - 1.0, "ratio")) ++
        withDefaults(w.layerExtras("traced")) ++ kernels
    }

    val byCall = Trace.calls("timed").groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) => Metric(s"call.$n.p50_ms", median(ss.map(_.seconds * 1000)), "ms")
    }
    val report = e2e ++ w.report ++ context ++ byCall
    report.foreach(m => println(f"${m.name}%-36s ${m.value}%.6g ${m.unit}"))
    perLayer.foreach(m => println(f"${m.name}%-44s ${m.value}%.6g ${m.unit}"))
    println("REPORT " + json(report ++ perLayer))
    val correct = Trace.failedCalls == 0
    println(s"""{"correct": $correct, "attempted": ${Trace.attemptedCalls}, """ +
      s""""failed": ${Trace.failedCalls}, "metrics": ${json(if (o.trace) perLayer else e2e)}}""")
    w.close()
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }
}
