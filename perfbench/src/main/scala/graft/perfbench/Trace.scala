package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{CommitIO, Snapshots}

/** Store-boundary counters: a [[CommitIO]] decorator installed through
  * the `Snapshots.io` seam. Counts pointer publishes (commits) and
  * stage moves, and splits commit-lock time into waiting and holding. */
final class TimingCommitIO(val inner: CommitIO) extends CommitIO {
  val commits = new AtomicLong
  val stageMoves = new AtomicLong
  val lockWaitNs = new AtomicLong
  val lockHeldNs = new AtomicLong

  def withLock[T](root: String)(body: => T): T = {
    val asked = System.nanoTime()
    inner.withLock(root) {
      val got = System.nanoTime()
      lockWaitNs.addAndGet(got - asked)
      try body finally lockHeldNs.addAndGet(System.nanoTime() - got)
    }
  }

  def moveStage(stage: Path, dst: Path): Unit = {
    stageMoves.incrementAndGet()
    inner.moveStage(stage, dst)
  }

  def publishPointer(root: String, bytes: Array[Byte]): Unit = {
    commits.incrementAndGet()
    inner.publishPointer(root, bytes)
  }

  override def lockArtifacts: Set[String] = inner.lockArtifacts
}

/** Per-stage task totals gathered by [[JobListener]]. */
final class StageTotals {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class Job(group: Option[String], timeMs: Long, stages: Seq[Int])

/** Records every job with its job group and start time, and task
  * metrics per stage. Attribution to spans happens after the pass
  * ([[Tracer.attribute]]), once the listener bus has drained. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.Map.empty[Int, StageTotals]
  @volatile var lastJobEnd: Int = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnd = e.jobId

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageTotals)
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
    s.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }
}

/** Files and bytes written by file-writing commands (the store's
  * parquet writes; noop evaluation writes carry no such node). */
final class WriteListener extends QueryExecutionListener {
  val files = new AtomicLong
  val bytes = new AtomicLong

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.executedPlan.foreach {
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(m => files.addAndGet(m.value))
        w.cmd.metrics.get("numOutputBytes").foreach(m => bytes.addAndGet(m.value))
      case _ =>
    }

  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** In-memory span tree for the traced pass: pass → call → phase.
  * Each phase sets a job group named after its span, so the
  * [[JobListener]] can attribute jobs, stages and tasks to it; jobs
  * started on pool threads carry a stale or missing group and are
  * attributed by start time instead, and counted as such. Counters at
  * the store boundary are sampled when a span opens and closes. */
final class Tracer(spark: SparkSession) {
  final class Span(val id: Int, val parent: Int, val name: String, val kind: String) {
    val startMs: Long = System.currentTimeMillis()
    val startNs: Long = System.nanoTime()
    var endMs: Long = Long.MaxValue
    var durS: Double = 0.0
    val before: Map[String, Long] = sample()
    val counters = mutable.LinkedHashMap.empty[String, Double]
  }

  private val sc = spark.sparkContext
  val jobs = new JobListener
  val writes = new WriteListener
  val io = new TimingCommitIO(Snapshots.io)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def install(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(writes)
    Snapshots.io = io
  }

  def uninstall(): Unit = {
    Snapshots.io = io.inner
    spark.listenerManager.unregister(writes)
    sc.removeSparkListener(jobs)
  }

  private def sample(): Map[String, Long] = Map(
    "manifest_reads" -> Snapshots.manifestReads.get(),
    "commits" -> io.commits.get(),
    "stage_moves" -> io.stageMoves.get(),
    "lock_wait_ns" -> io.lockWaitNs.get(),
    "lock_held_ns" -> io.lockHeldNs.get())

  def span[T](name: String, kind: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, parent, name, kind)
    spans += s
    stack = s :: stack
    val isPhase = kind == "phase"
    if (isPhase) sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      if (isPhase) sc.clearJobGroup()
      s.durS = (System.nanoTime() - s.startNs) / 1e9
      s.endMs = System.currentTimeMillis()
      val after = sample()
      after.foreach { case (k, v) => s.counters(k) = (v - s.before(k)).toDouble }
      stack = stack.tail
    }
  }

  /** Waits until the listener bus has delivered every event of the
    * pass: a marker job's end event arrives after all earlier ones. */
  def drain(): Unit = {
    sc.setJobGroup("perfbench-fence", "fence", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val marker = sc.statusTracker.getJobIdsForGroup("perfbench-fence").max
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (jobs.lastJobEnd < marker && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Attributes jobs to phase spans and returns, per span id, its
    * Spark totals, plus counts of jobs attributed by time and jobs
    * outside every span. A stage that several jobs list (a reused
    * shuffle) counts for the first of them only. */
  def attribute(): (Map[Int, SparkTotals], Long, Long) = jobs.synchronized {
    val phases = spans.filter(_.kind == "phase")
    val byGroup = phases.map(s => s"perfbench-${s.id}" -> s).toMap
    def within(s: Span, t: Long) = t >= s.startMs && t <= s.endMs
    var byTime = 0L
    var orphan = 0L
    val counted = mutable.Set.empty[Int]
    val totals = mutable.Map.empty[Int, SparkTotals]
    jobs.jobs.filterNot(_.group.contains("perfbench-fence")).foreach { j =>
      val owner = j.group.flatMap(byGroup.get).filter(within(_, j.timeMs))
        .orElse {
          val t = phases.filter(within(_, j.timeMs)).lastOption
          if (t.nonEmpty) byTime += 1
          t
        }
      owner match {
        case Some(s) =>
          val acc = totals.getOrElseUpdate(s.id, new SparkTotals)
          acc.jobs += 1
          val own = j.stages.filter(st => jobs.stages.contains(st) && counted.add(st))
          own.foreach(st => acc.add(jobs.stages(st)))
          acc.stages += own.size
        case None => orphan += 1
      }
    }
    (totals.toMap, byTime, orphan)
  }

  def allSpans: Seq[Span] = spans.toSeq
}

/** Spark work attributed to one span. */
final class SparkTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var maxTaskMsSum = 0L
  var medianTaskMsSum = 0L

  def add(s: StageTotals): Unit = {
    tasks += s.tasks
    failedTasks += s.failedTasks
    runMs += s.runMs
    gcMs += s.gcMs
    shuffleRead += s.shuffleRead
    shuffleWrite += s.shuffleWrite
    spill += s.spill
    input += s.input
    if (s.durations.nonEmpty) {
      val d = s.durations.sorted
      maxTaskMsSum += d.last
      medianTaskMsSum += d(d.size / 2)
    }
  }

  def merge(o: SparkTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input
    maxTaskMsSum += o.maxTaskMsSum; medianTaskMsSum += o.medianTaskMsSum
  }
}
