package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Executor-side totals at one instant; differences of two snapshots give
  * the cost of the operation between them.
  */
final case class Totals(cpuNs: Long, outBytes: Long) {
  def -(o: Totals): Totals = Totals(cpuNs - o.cpuNs, outBytes - o.outBytes)
}

final case class TaskRec(jobId: Int, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, schedDelayMs: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long, fetchWaitMs: Long,
    spillBytes: Long, outBytes: Long, recordsRead: Long, failed: Boolean)

final case class JobRec(jobId: Int, start: Long, var end: Long,
    execId: Option[Long], callSite: String, stageIds: Seq[Int])

/** One SparkListener for the whole benchmark. The totals are always kept
  * (they feed `cpu_us_per_row` and `bytes_written_per_row` of the untraced
  * run); per-task, per-job and per-SQL-execution records are kept only
  * while `detailed` is on, i.e. in the traced run.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  @volatile var detailed = false

  private val cpuNs = new AtomicLong
  private val outBytes = new AtomicLong
  /** memory-held size of each stored block (cached or checkpointed data) */
  private val blockMem = new ConcurrentHashMap[String, Long]()
  private val storageNow = new AtomicLong
  private val storagePeak = new AtomicLong
  /** (stage id, peak execution memory) of tasks that used any */
  private val execMem = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()

  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** stages that ran; a job's other stages were skipped (output reused) */
  val submittedStages: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
  /** SQL execution id -> (call site, physical plan) */
  val execs = new ConcurrentHashMap[Long, (String, String)]()

  def snapshot(): Totals = {
    org.apache.spark.BenchBus.drain(sc)
    Totals(cpuNs.get, outBytes.get)
  }

  /** Starts a new window for `peakManagedMb`. */
  def resetMemory(): Unit = {
    snapshot()
    execMem.clear()
    storagePeak.set(storageNow.get)
  }

  /** Peak memory Spark managed for the program since `resetMemory`: the
    * peak of stored blocks plus the largest execution memory (hash tables,
    * sort buffers) one stage can hold at once, i.e. the sum of its
    * `cores` largest task peaks. Unlike the process's RSS it does not
    * follow the JVM's heap sizing, and unlike a sweep over task start and
    * end times it does not depend on how tasks happened to overlap.
    */
  def peakManagedMb(cores: Int): Double = {
    snapshot()
    val exec = execMem.asScala.toSeq.groupBy(_._1).values
      .map(_.map(_._2).sorted(Ordering[Long].reverse).take(cores).sum)
    (storagePeak.get + (0L +: exec.toSeq).max) / 1048576.0
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    val mem = if (b.storageLevel.isValid) b.memSize else 0L
    val before = Option(blockMem.put(b.blockId.name, mem)).getOrElse(0L)
    storagePeak.accumulateAndGet(storageNow.addAndGet(mem - before),
      math.max(_, _))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (detailed) submittedStages.add(e.stageInfo.stageId)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) {
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = e.stageInfos.sortBy(_.stageId).lastOption
      .map(_.details).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, exec, site, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = e.time
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if detailed =>
      execs.put(s.executionId, (s.details, s.physicalPlanDescription))
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val job = stageJob.getOrDefault(e.stageId, -1)
    if (m == null) { // a task that failed before reporting has no metrics
      if (detailed) tasks.add(TaskRec(job, info.launchTime, info.finishTime,
        0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, info.failed))
    } else {
      cpuNs.addAndGet(m.executorCpuTime)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
      if (m.peakExecutionMemory > 0)
        execMem.add((e.stageId, m.peakExecutionMemory))
      if (detailed) tasks.add(TaskRec(job, info.launchTime, info.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        // scheduler delay as the Spark UI derives it
        math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
           else 0L)),
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.inputMetrics.recordsRead, info.failed))
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, runId: Int,
    start: Long, var end: Long)

/** In-memory spans around the benchmark's calls into the library. Each
  * span also becomes the Spark job group of the calling thread. A span's
  * jobs are the jobs that started while it was the innermost open span
  * (one client calls the library, so this is exact for the calls it
  * makes; jobs that library-owned threads submit inside a call are
  * attributed to that call).
  */
final class Spans(sc: SparkContext) {
  @volatile var enabled = false
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var runId = 0

  /** Starts a new operation: later top-level spans share a fresh run id. */
  def nextRun(): Unit = runId += 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1),
        runId, System.currentTimeMillis(), -1L)
      all += s
      stack = s :: stack
      sc.setJobGroup(s"${s.id}:$name", name)
      try body
      finally {
        s.end = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"${p.id}:${p.name}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = all.toSeq

  /** Span duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Long =
    (s.end - s.start) -
      Agg.unionMs(all.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq)

  def toJsonLines: Seq[String] = all.toSeq.map { s =>
    s"""{"span":${Json.str(s.name)},"id":${s.id},"parent":${s.parent},""" +
      s""""run":${s.runId},"start_ms":${s.start},"end_ms":${s.end},""" +
      s""""self_ms":${selfMs(s)}}"""
  }
}

/** Task-level aggregates of a set of jobs. */
final case class Agg(jobs: Int, tasks: Int, taskS: Double, cpuS: Double,
    gcS: Double, schedDelayS: Double, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, fetchWaitS: Double, spillBytes: Long,
    outBytes: Long, recordsRead: Long, failedTasks: Int,
    idleCoreFrac: Double)

object Agg {
  /** Aggregates the tasks of `jobIds`; idle-core share is measured over
    * [from, to] (ms) against `cores` slots.
    */
  def of(rec: Recorder, jobIds: Set[Int], from: Long, to: Long,
      cores: Int): Agg = {
    val ts = rec.tasks.asScala.filter(t => jobIds.contains(t.jobId)).toSeq
    val js = jobIds.toSeq.flatMap(j => Option(rec.jobs.get(j)))
    Agg(js.size, ts.size,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.schedDelayMs).sum / 1e3,
      ts.map(_.shuffleWriteBytes).sum, ts.map(_.shuffleWriteRecords).sum,
      ts.map(_.fetchWaitMs).sum / 1e3, ts.map(_.spillBytes).sum,
      ts.map(_.outBytes).sum, ts.map(_.recordsRead).sum,
      ts.count(_.failed), idleCoreFrac(ts, from, to, cores))
  }

  /** Wall milliseconds covered by at least one of the intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var s = -1L; var e = -1L
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { total += e - s; s = a; e = b } else e = math.max(e, b)
    }
    total + (e - s)
  }

  /** Share of [from, to] during which fewer than `cores` tasks ran. */
  def idleCoreFrac(ts: Seq[TaskRec], from: Long, to: Long,
      cores: Int): Double = {
    if (to <= from) return 0.0
    val ev = ts.flatMap { t =>
      val a = math.max(t.launch, from); val b = math.min(t.finish, to)
      if (b > a) Seq((a, 1), (b, -1)) else Nil
    }.sortBy(e => (e._1, e._2))
    var running = 0; var last = from; var idle = 0L
    ev.foreach { case (t, d) =>
      if (running < cores) idle += t - last
      running += d; last = t
    }
    if (running < cores) idle += to - last
    idle.toDouble / (to - from)
  }
}

/** Which span every recorded job belongs to, and where it came from. */
final class Attribution(rec: Recorder, spans: Spans) {
  private val ss = spans.spans

  /** innermost span open at the job's start */
  val spanOf: Map[Int, Span] = rec.jobs.asScala.values.flatMap { j =>
    ss.filter(s => s.start <= j.start && (s.end < 0 || j.start <= s.end))
      .sortBy(s => (s.start, s.id)).lastOption.map(j.jobId -> _)
  }.toMap

  def jobsIn(pred: Span => Boolean): Set[Int] =
    spanOf.collect { case (j, s) if pred(s) => j }.toSet

  def job(j: Int): JobRec = rec.jobs.get(j)

  /** (call site, physical plan) of a job's SQL execution; a job outside
    * SQL has its stage's call site and no plan.
    */
  def site(j: Int): (String, String) = {
    val jr = rec.jobs.get(j)
    jr.execId.flatMap(e => Option(rec.execs.get(e)))
      .getOrElse((jr.callSite, ""))
  }

  /** Task seconds of all recorded jobs, and of those attributed to a span. */
  def coverage: (Double, Double) = {
    val ts = rec.tasks.asScala.toSeq
    val inSpan = ts.filter(t => spanOf.contains(t.jobId))
    (ts.map(_.runMs).sum / 1e3, inSpan.map(_.runMs).sum / 1e3)
  }
}

object Attribution {
  private val insertNode =
    "(?s)\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand\\n(.*?)(?:\\n\\n|$)".r
  private val fileArg = "file:([^,\\s\\]]+)".r

  /** The directory a SQL execution writes, read off its formatted
    * physical plan.
    */
  def writePath(plan: String): Option[String] =
    insertNode.findFirstMatchIn(plan)
      .flatMap(m => fileArg.findFirstMatchIn(m.group(1))).map(_.group(1))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number; non-finite values become 0. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
