package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec

/** Wall clock in epoch milliseconds with sub-millisecond resolution, in
  * the same time base as Spark listener event times.
  */
object Clock {
  private val baseMs   = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** One timed interval around a layer call. `parent` is -1 for an op's
  * root span; all spans of one op execution share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double)

/** Task, job and block events of the Spark jobs an op ran. */
final class Probe extends SparkListener {
  final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long,
      mailboxRows: Option[Long])

  private val jobStart = mutable.Map[Int, Double]()
  private val jobs     = ArrayBuffer[(Double, Double)]()
  private val tasks    = ArrayBuffer[TaskRec]()
  private var blocks   = 0L
  private var blockBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time.toDouble
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((jobStart.remove(e.jobId).getOrElse(e.time.toDouble), e.time.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val rows = e.taskInfo.accumulables.collectFirst {
        case a if a.name.contains("mailbox rows read") =>
          a.update.map(_.toString.toLong).getOrElse(0L)
      }
      tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, rows)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      blocks += 1
      blockBytes += b.memSize + b.diskSize
    }
  }

  /** Everything recorded since the last take. */
  final case class Events(jobs: Seq[(Double, Double)], tasks: Seq[TaskRec],
      blocks: Long, blockBytes: Long)

  def take(spark: SparkSession): Events = {
    ListenerDrain(spark.sparkContext)
    synchronized {
      val ev = Events(jobs.toList, tasks.toList, blocks, blockBytes)
      jobs.clear(); tasks.clear(); blocks = 0; blockBytes = 0
      ev
    }
  }
}

object PlanNodes extends AdaptiveSparkPlanHelper {
  def all(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
}

/** Spans and counters of one op execution. */
final case class OpTrace(op: Int, name: String, pass: Int, spans: Seq[Span],
    counts: Map[String, Double])

/** Records spans around the layer calls the benchmark makes and, per op,
  * the counters of the Spark jobs it ran. Off (`on == false`) it only
  * runs the calls. Spans stay in memory until the run ends. An untraced
  * run (`traced == false`) registers no listener at all.
  */
final class Tracer(spark: SparkSession, cores: Int, traced: Boolean) {
  var on = false
  private val probe = new Probe
  if (traced) spark.sparkContext.addSparkListener(probe)

  private var nextSpan = 0
  private var opId     = -1
  private var stack    = List.empty[Int]
  private val spans    = ArrayBuffer[Span]()
  private val counts   = mutable.Map[String, Double]().withDefaultValue(0.0)
  val ops              = ArrayBuffer[OpTrace]()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id     = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.nowMs
      try body
      finally {
        spans += Span(id, parent, opId, name, t0, Clock.nowMs)
        stack = stack.tail
      }
    }

  /** Time `body` into the span AND add its seconds to counter `name`. */
  def timed[T](name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    try span(name)(body)
    finally count(name + "_s", (Clock.nowMs - t0) / 1000)
  }

  def count(name: String, v: Double): Unit = if (on) counts(name) += v

  /** Layer whose tasks the current op's scan tasks are: "source" for the
    * .mbx readers, "pst" for the PST parser.
    */
  var scanLayer = "source"

  /** Run one op; when on, wrap it in a root span and close its counters. */
  def op[T](name: String, pass: Int)(body: => T): T =
    if (!on) body
    else {
      opId += 1
      probe.take(spark) // discard events of untraced work
      spans.clear(); counts.clear(); scanLayer = "source"
      try span("op:" + name)(body)
      finally closeOp(name, pass)
    }

  /** Collect a DataFrame, timing optimizer, physical planning and
    * execution separately and reading the executed plan's SQL metrics.
    */
  def collect(df: DataFrame): Array[Row] =
    if (!on) df.collect()
    else {
      val qe = df.queryExecution
      timed("plans.optimize")(qe.optimizedPlan)
      timed("plans.physical")(qe.executedPlan)
      val rows = span("exec")(df.collect())
      PlanNodes.all(qe.executedPlan).foreach {
        case b: BatchScanExec if b.metrics.contains("mailboxRowsRead") =>
          def m(k: String) = b.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          count("source.rows_read", m("mailboxRowsRead"))
          count("source.bytes_read", m("mailboxBytesRead"))
          count("source.files_read", m("mailboxFilesRead"))
          count("source.rows_out", m("numOutputRows"))
        case f: FileSourceScanExec =>
          def m(k: String) = f.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          count("parquet.files_read", m("numFiles"))
          count("parquet.bytes_read", m("filesSize"))
          count("parquet.scan_s", m("scanTime") / 1000)
        case _ =>
      }
      rows
    }

  private def closeOp(name: String, pass: Int): Unit = {
    val ev   = probe.take(spark)
    val root = spans.find(_.parent == -1).get
    val wall = root.end - root.start
    // Spark jobs become child spans of the innermost span covering them
    ev.jobs.foreach { case (a, b) =>
      val host = spans.filter(s => s.start <= a && b <= s.end + 1)
        .sortBy(s => s.end - s.start).headOption.getOrElse(root)
      spans += Span(nextSpan, host.id, opId, "spark.job", a, b)
      nextSpan += 1
    }
    count("exec.jobs", ev.jobs.size)
    count("exec.stages", ev.tasks.map(_.stage).distinct.size)
    count("exec.tasks", ev.tasks.size)
    count("exec.task_cpu_s", ev.tasks.map(_.cpuNs).sum / 1e9)
    count("exec.gc_s", ev.tasks.map(_.gcMs).sum / 1000.0)
    count("exec.driver_gap_s", Stats.uncovered(root.start, root.end, ev.jobs) / 1000)
    counts("exec.max_task_share") = math.max(counts("exec.max_task_share"),
      if (ev.tasks.isEmpty || wall <= 0) 0.0 else ev.tasks.map(_.runMs).max / wall)
    count("exchange.write_bytes", ev.tasks.map(_.shuffleWrite).sum.toDouble)
    count("exchange.read_bytes", ev.tasks.map(_.shuffleRead).sum.toDouble)
    count("exchange.fetch_wait_s", ev.tasks.map(_.fetchWaitMs).sum / 1000.0)
    count("exchange.spill_bytes", ev.tasks.map(_.spill).sum.toDouble)
    count("pin.blocks", ev.blocks.toDouble)
    count("pin.bytes", ev.blockBytes.toDouble)
    val scanTasks = ev.tasks.filter(_.mailboxRows.isDefined)
    count(s"$scanLayer.scan_task_s", scanTasks.map(_.runMs).sum / 1000.0)
    if (scanTasks.nonEmpty) {
      val working = scanTasks.count(_.mailboxRows.exists(_ > 0))
      count("scan_ops", 1)
      count("parallelism_sum", math.min(working, cores).toDouble / cores)
    }
    ops += OpTrace(opId, name, pass, spans.toList, counts.toMap)
  }
}

object Tracer {

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.uncovered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }
}
