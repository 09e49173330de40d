package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into an engine layer, as the benchmark saw it. Times are
  * `System.nanoTime` for durations and wall-clock ms for matching against
  * listener events, which Spark stamps with `System.currentTimeMillis`. */
final class Span(val id: Int, val parent: Int, val layer: String,
    val name: String, val phase: String, val t0: Long, val ms0: Long) {
  var t1: Long = 0L
  var ms1: Long = 0L
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spans around every call the benchmark makes into a layer's public
  * functions, plus — in a traced run — Spark listeners whose jobs, tasks
  * and SQL executions are attributed to the innermost open span by time
  * window. Attribution by time is exact because the benchmark's calls are
  * serial (the one exception, the streaming thread's `foreachBatch`,
  * runs while the caller is blocked inside its tick span).
  *
  * Untraced runs still record each span's duration (two clock reads): the
  * end-to-end call latencies come from them. */
object Trace {

  @volatile private var traced: Boolean = false
  @volatile var phase: String = "setup"
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var attempted = 0
  private var failed = 0
  private val leaked = mutable.Set[Int]()
  private var sc: SparkContext = _

  def attemptedCalls: Int = synchronized(attempted)
  def failedCalls: Int = synchronized(failed)
  def leakedJobs: Int = synchronized(leaked.size)
  def all: Seq[Span] = synchronized(spans.toList)

  @volatile private var checkNs = 0L
  /** Time spent in correctness checks, which pass times leave out. */
  def checkNanos: Long = checkNs

  /** Run one correctness check. It counts as an attempted operation, and
    * as a failed one unless it holds. */
  def verify(what: String)(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Exception => System.err.println(s"check $what threw: $e"); false
    }
    checkNs += System.nanoTime() - t0
    if (!ok) System.err.println(s"check failed: $what")
    synchronized {
      attempted += 1
      if (!ok) failed += 1
    }
    ok
  }

  def call[T](layer: String, name: String)(body: => T): T = {
    val s = synchronized {
      val sp = new Span(spans.size, stack.headOption.fold(-1)(_.id), layer,
        name, phase, System.nanoTime(), System.currentTimeMillis())
      spans += sp
      stack = sp :: stack
      attempted += 1
      sp
    }
    try body
    catch {
      case e: Throwable =>
        synchronized { failed += 1 }
        throw e
    } finally {
      s.t1 = System.nanoTime()
      s.ms1 = System.currentTimeMillis()
      synchronized { stack = stack.filterNot(_ eq s) }
      // a job still running once its call returned is work that bleeds
      // into whatever the caller measures next
      if (traced && sc != null) synchronized {
        val fresh = sc.statusTracker.getActiveJobIds().filterNot(leaked)
        if (fresh.nonEmpty)
          System.err.println(s"jobs ${fresh.mkString(",")} still active after ${s.name}")
        leaked ++= fresh
      }
    }
  }

  /** Top-level spans of one phase: the calls a user of the engine makes. */
  def calls(phase: String): Seq[Span] =
    all.filter(s => s.phase == phase && s.parent < 0)

  // ---- listeners (traced runs only) ----

  final class JobRec(val start: Long) {
    var end: Long = Long.MaxValue
    var tasks = 0
    var failedTasks = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  final class ExecRec(val start: Long, val analysisMs: Long,
      val optimizationMs: Long, val planningMs: Long,
      val generated: Seq[(String, Long)])

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val execs = mutable.ArrayBuffer[ExecRec]()
  val triggers = mutable.ArrayBuffer[Map[String, Long]]()

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      val j = new JobRec(e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.reason != TaskSuccess) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries)
      .flatMap(planNodes)
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").fold(0L)(_.value)

  private object Executions extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).fold(0L)(_.durationMs)
      val start = if (ph.isEmpty) System.currentTimeMillis() - durationNs / 1000000L
        else ph.values.map(_.startTimeMs).min
      val nodes = planNodes(qe.executedPlan)
      val gen = nodes.collect { case g: GenerateExec =>
        (g.generatorOutput.map(_.name).mkString(","), rows(g)) }
      Trace.synchronized {
        execs += new ExecRec(start, ms("analysis"), ms("optimization"),
          ms("planning"), gen)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        import scala.jdk.CollectionConverters._
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        Trace.synchronized { triggers += d }
      }
  }

  /** Attach (`on`) or detach the listeners; spans record leaked jobs
    * only while attached. */
  def listen(spark: SparkSession, on: Boolean): Unit = {
    sc = spark.sparkContext
    traced = on
    if (on) {
      sc.addSparkListener(Jobs)
      spark.listenerManager.register(Executions)
      spark.streams.addListener(Streams)
    } else {
      drain(spark)
      sc.removeSparkListener(Jobs)
      spark.listenerManager.unregister(Executions)
      spark.streams.removeListener(Streams)
    }
  }

  /** Wait until every posted listener event has been handled. */
  private def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerBridge.drainListenerBus(spark.sparkContext)

  // ---- attribution ----

  /** Innermost of the spans `ss` whose wall window holds time `ms`. */
  private def owner(ss: Seq[Span], ms: Long): Option[Span] =
    ss.filter(s => s.ms0 <= ms && ms <= s.ms1).maxByOption(_.id)

  /** Length of the union of [lo, hi) intervals, clipped to [a, b). */
  private def covered(iv: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var total = 0L
    var cur = a
    iv.map { case (lo, hi) => (math.max(lo, a), math.min(hi, b)) }
      .filter { case (lo, hi) => hi > lo }.sortBy(_._1).foreach { case (lo, hi) =>
        val s = math.max(lo, cur)
        if (hi > s) { total += hi - s; cur = hi }
      }
    total
  }

  final class LayerTotals {
    var calls = 0
    var selfS = 0.0
    var jobs = 0
    var tasks = 0
    var cpuS = 0.0
    var gapS = 0.0
    var shuffleMb = 0.0
    var spillMb = 0.0
    var failedTasks = 0
  }

  /** Per-layer counters over the spans of one phase. */
  def layers(phase: String): Map[String, LayerTotals] = synchronized {
    val ss = spans.filter(_.phase == phase).toList
    val out = mutable.Map[String, LayerTotals]()
    def lt(l: String) = out.getOrElseUpdate(l, new LayerTotals)
    val children = ss.groupBy(_.parent)
    val jobIv = jobs.values.map(j => (j.start, j.end)).toSeq
    ss.foreach { s =>
      val t = lt(s.layer)
      t.calls += 1
      val kids = children.getOrElse(s.id, Nil)
      t.selfS += s.seconds - kids.map(_.seconds).sum
      // self window in ms = span minus its children; gap = the part of it
      // no Spark job covered (driver planning, listing, commits, compute)
      val kidIv = kids.map(k => (k.ms0, k.ms1))
      val inKids = covered(kidIv, s.ms0, s.ms1)
      val busy = covered(kidIv ++ jobIv, s.ms0, s.ms1) - inKids
      t.gapS += math.max(0L, s.ms1 - s.ms0 - inKids - busy) / 1000.0
    }
    jobs.values.foreach { j =>
      owner(ss, j.start).foreach { s =>
        val t = lt(s.layer)
        t.jobs += 1
        t.tasks += j.tasks
        t.failedTasks += j.failedTasks
        t.cpuS += j.cpuNs / 1e9
        t.shuffleMb += j.shuffleBytes / 1048576.0
        t.spillMb += j.spillBytes / 1048576.0
      }
    }
    out.toMap
  }

  /** SQL executions attributed to spans named `name` in `phase`. */
  def execsOf(phase: String, name: String): Seq[ExecRec] = synchronized {
    val ss = spans.filter(_.phase == phase).toList
    execs.toList.filter(e => owner(ss, e.start).exists(_.name == name))
  }

  def execsIn(phase: String): Seq[ExecRec] = synchronized {
    val ss = spans.filter(_.phase == phase).toList
    execs.toList.filter(e => owner(ss, e.start).isDefined)
  }
}
