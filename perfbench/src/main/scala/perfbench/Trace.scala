package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.perfbench.SparkInternals
import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch nanoseconds; `parent` is the span
  * that caused it (-1 for a root) and `op` the operation it belongs to. */
final case class Span(id: Int, parent: Int, op: Int, kind: String, name: String,
                      start: Long, end: Long)

/** Driver-side spans around calls into each layer (op -> build/action),
  * plus Spark jobs, task metrics, planning phases and codegen read from
  * Spark's listener interfaces. Everything is kept in memory; `report`
  * turns it into per-layer totals once the listener bus is drained.
  *
  * Spark jobs are attributed to the innermost driver span that contains
  * their start: the benchmark runs one operation at a time, so time
  * containment is exact up to the listener's millisecond clock.
  */
final class Tracer(spark: SparkSession) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offsetNs

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]
  private var currentOp = -1

  private final class Job(val id: Int, val start: Long, var end: Long = -1L,
                          var stages: Int = 0)
  private val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]

  /** Task metric totals per job id. */
  private final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var maxRunMs = 0L
    var peakMem = 0L; var shufW = 0L; var shufR = 0L; var fetchMs = 0L; var spill = 0L
    var readB = 0L; var records = 0L; var result = 0L
  }
  private val acc = scala.collection.concurrent.TrieMap.empty[Int, Acc]
  /** (start, end, analysis ms, optimizer ms, planning ms) per query execution. */
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new Job(e.jobId, e.time * 1000000L, stages = e.stageIds.size))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), new Acc)
        a.synchronized {
          a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime; a.maxRunMs = math.max(a.maxRunMs, m.executorRunTime)
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.diskBytesSpilled
          a.readB += m.inputMetrics.bytesRead; a.records += m.inputMetrics.recordsRead
          a.result += m.resultSize
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Record the planning phases of `qe`. The listener sees every executed
    * query; a DataFrame a builder returns was analysed when it was built,
    * under its own tracker, so its caller records that one here. */
  def recordPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val t = ph.values
    if (t.nonEmpty)
      phases.add((t.map(_.startTimeMs).min * 1000000L, t.map(_.endTimeMs).max * 1000000L,
        ms("analysis"), ms("optimization"), ms("planning")))
  }

  @volatile private var started = false

  /** Listen to Spark while `body` runs. */
  def listening[T](body: => T): T = {
    started = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try body
    finally {
      SparkInternals.drainListeners(spark)
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(listener)
      started = false
    }
  }

  /** Record the analysis of a DataFrame returned to the benchmark. */
  def built(df: org.apache.spark.sql.DataFrame): Unit =
    if (started) recordPhases(df.queryExecution)

  /** Run `body` inside a span of `kind`; an `op` span starts a new
    * operation id that its children share. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    if (kind == "op") currentOp = id
    val t0 = now()
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, currentOp, kind, name, t0, now())
    }
  }

  /** Fold Spark's jobs into the span tree and sum every layer over
    * `roots` (the traced passes or ETL jobs). */
  def report(roots: Seq[Span], cores: Int): Report = {
    SparkInternals.drainListeners(spark)
    val driver = spans.toVector
    val byId = driver.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    val jobSpans = jobs.values.toVector.filter(j => j.end > 0).flatMap { j =>
      val owner = driver.filter(s => s.start <= j.start && j.start <= s.end)
      if (owner.isEmpty) None
      else {
        val p = owner.maxBy(depth)
        Some(Span(-1 - j.id, p.id, p.op, "job", s"job ${j.id}", j.start, math.min(j.end, p.end)))
      }
    }
    val all = driver ++ jobSpans
    val children = all.groupBy(_.parent)
    def covered(s: Span): Long =
      union(children.getOrElse(s.id, Vector.empty).map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
    // A layer's self time: its spans' time not covered by child spans.
    // Concurrent Spark jobs under one span count once (their union).
    val self = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def under(root: Span)(s: Span): Boolean =
      s.id == root.id || (s.parent >= 0 && byId.get(s.parent).exists(under(root)))
    val inRoots = all.filter(s => roots.exists(r => under(r)(s)))
    for ((kind, ss) <- inRoots.groupBy(_.kind)) kind match {
      case "job" =>
        self("job") = ss.groupBy(_.parent).values.map(g => union(g.map(s => (s.start, s.end)))).sum / 1e9
      case _ =>
        self(kind) = ss.map(s => (s.end - s.start) - covered(s)).sum / 1e9
    }
    val jobIds = jobSpans.filter(s => inRoots.contains(s)).map(s => -1 - s.id).toSet
    val accs = jobIds.toVector.flatMap(acc.get)
    val jobsIn = jobIds.toVector.flatMap(jobs.get)
    val intervals = roots.map(r => (r.start, r.end))
    val inPhase = phases.toArray(Array.empty[(Long, Long, Long, Long, Long)]).toVector
      .filter(p => intervals.exists { case (a, b) => p._1 >= a && p._1 <= b })
    val buildSpans = inRoots.filter(_.kind == "build")
    val buildJobs = jobSpans.count(j => buildSpans.exists(_.id == j.parent))
    // Time inside an operation's actions with no Spark job running: for a
    // query the noop write's planning, codegen and commit; for an ETL
    // pipeline everything it does on the driver between its jobs.
    val idle = self.getOrElse("op", 0.0) + self.getOrElse("action", 0.0)
    val wall = roots.map(r => r.end - r.start).sum / 1e9
    val taskS = accs.map(_.runMs).sum / 1e3
    Report(roots.size, wall, self.toMap, Map(
      "SparkEntry.build_s" -> buildSpans.map(s => s.end - s.start).sum / 1e9,
      "SparkEntry.build_jobs" -> buildJobs.toDouble,
      "catalyst.analysis_s" -> inPhase.map(_._3).sum / 1e3,
      "catalyst.optimizer_s" -> inPhase.map(_._4).sum / 1e3,
      "catalyst.planning_s" -> inPhase.map(_._5).sum / 1e3,
      "sched.jobs" -> jobsIn.size.toDouble,
      "sched.stages" -> jobsIn.map(_.stages).sum.toDouble,
      "sched.tasks" -> accs.map(_.tasks).sum.toDouble,
      "sched.idle_s" -> idle,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> accs.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> accs.map(_.gcMs).sum / 1e3,
      "exec.max_task_s" -> (if (accs.isEmpty) 0.0 else accs.map(_.maxRunMs).max / 1e3),
      "exec.core_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "exec.peak_mem_mb" -> (if (accs.isEmpty) 0.0 else accs.map(_.peakMem).max / 1048576.0),
      "shuffle.write_mb" -> accs.map(_.shufW).sum / 1048576.0,
      "shuffle.read_mb" -> accs.map(_.shufR).sum / 1048576.0,
      "shuffle.fetch_wait_s" -> accs.map(_.fetchMs).sum / 1e3,
      "spill.disk_mb" -> accs.map(_.spill).sum / 1048576.0,
      "scan.read_mb" -> accs.map(_.readB).sum / 1048576.0,
      "scan.records" -> accs.map(_.records).sum.toDouble,
      "driver.result_mb" -> accs.map(_.result).sum / 1048576.0))
  }

  /** Length of the union of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}

/** Totals over `roots` root spans: `wall_s` is their summed duration,
  * `self` the per-layer self time that adds up to it, `layers` the named
  * per-layer metrics. */
final case class Report(roots: Int, wall: Double, self: Map[String, Double],
                        layers: Map[String, Double])
