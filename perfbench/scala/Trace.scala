package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer, and the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder; the spans are written out when the run ends. */
final class Spans(runId: String) {
  val all = ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()
  private var open = List(-1)
  def now: Double = (System.nanoTime() - t0) / 1e6
  def apply[T](name: String)(body: => T): T = {
    val id = all.size
    val parent = open.head
    all += Span(id, name, parent, runId, now, Double.NaN)
    open = id :: open
    try body finally {
      open = open.tail
      all(id) = all(id).copy(endMs = now)
    }
  }
}

/** Executor-side counters from the listener bus: jobs, stages, tasks,
  * task time, shuffle and spill bytes, and job intervals for the
  * driver-gap computation. */
final class ExecListener extends SparkListener {
  val jobs, stages, tasks, emptyTasks, taskRunMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill = new AtomicLong
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach(s => jobIntervals.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      if (m.inputMetrics.recordsRead == 0 &&
          m.shuffleReadMetrics.recordsRead == 0) emptyTasks.incrementAndGet()
    }
    ()
  }
  def counters: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "empty_tasks" -> emptyTasks.get, "task_busy_ms" -> taskRunMs.get,
    "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get)
}

/** Catalyst phase times and plan size of each action's QueryExecution. */
final class PhaseListener extends QueryExecutionListener {
  @volatile var last: Option[Map[String, Double]] = None
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    var nodes = 0
    qe.optimizedPlan.foreach(_ => nodes += 1)
    last = Some(Map("analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
      "plan_nodes" -> nodes.toDouble))
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Local file system that counts the metadata calls a table commit or a
  * scan makes. Installed as `fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingLocalFileSystem.lists.incrementAndGet(); super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    CountingLocalFileSystem.statuses.incrementAndGet(); super.getFileStatus(p)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFileSystem.renames.incrementAndGet(); super.rename(src, dst)
  }
}
object CountingLocalFileSystem {
  val lists, statuses, renames = new AtomicLong
  def counters: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map("list_ops" -> lists.get, "status_ops" -> statuses.get,
      "renames" -> renames.get,
      "bytes_written" -> stats.map(_.getBytesWritten).sum,
      "bytes_read" -> stats.map(_.getBytesRead).sum)
  }
}

/** Counts Janino compiles and their time from the code generator's own
  * "Code generated in N ms" log line, at INFO, without printing it. */
object CodegenLog {
  val compiles = new AtomicLong
  @volatile var compileMs = 0.0
  private val pat = """Code generated in ([0-9.]+) ms""".r.unanchored
  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case pat(ms) => CodegenLog.synchronized {
            compiles.incrementAndGet(); compileMs += ms.toDouble }
          case _ =>
        }
    }
    app.start()
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

/** All traced counters of one run, snapshotted at op boundaries. */
final class Tracer(spark: SparkSession) {
  val exec = new ExecListener
  val phases = new PhaseListener
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(phases)
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  def snapshot(): Map[String, Double] = {
    drain()
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    import scala.jdk.CollectionConverters._
    exec.counters.map { case (k, v) => s"exec.$k" -> v.toDouble } ++
      CountingLocalFileSystem.counters.map { case (k, v) => s"fs.$k" -> v.toDouble } ++
      Map("codegen.compiles" -> CodegenLog.compiles.get.toDouble,
        "codegen.compile_ms" -> CodegenLog.compileMs,
        "jvm.gc_ms" -> gc.asScala.map(_.getCollectionTime).sum.toDouble)
  }
  def jobIntervals: Seq[(Long, Long)] = {
    drain()
    import scala.jdk.CollectionConverters._
    exec.jobIntervals.asScala.toSeq
  }
}
