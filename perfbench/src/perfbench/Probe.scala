package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch-based nanosecond clock, so spans recorded here line up with the
  * millisecond epoch timestamps Spark's listeners report. */
object Clock {
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def nowNs: Long = epochBaseNs + (System.nanoTime() - nanoBase)
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** Process-level counters read around the measured phase. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean

  def cpuNs: Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU of each live Java thread, by thread id. HotSpot's compiler and GC
    * threads are not Java threads, so JIT compiling and garbage collection,
    * whose share varies from run to run, are not in it. */
  def threadCpu: Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU the Java threads used between two [[threadCpu]] snapshots. A
    * thread started in between counts from zero; one that ended in between
    * counts nothing (Spark's pools retire threads only after they idled). */
  def threadCpuNsBetween(from: Map[Long, Long], to: Map[Long, Long]): Long =
    to.iterator.map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def statusKb(key: String): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  /** Peak resident set size of this process so far, in MB. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0
}

/** Host context recorded with every run. Recorded only: no number of the
  * run is rescaled or dropped because of it. */
object Host {
  private def read(path: String): String =
    try { val s = scala.io.Source.fromFile(path); try s.mkString finally s.close() }
    catch { case _: Exception => "" }

  /** Cumulative steal time of all CPUs, in seconds (`/proc/stat` field 8). */
  def stealS: Double = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
    cpu.map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(f => f(8).toDouble / 100.0).getOrElse(0.0)
  }

  def loadAvg: Seq[Double] =
    read("/proc/loadavg").trim.split("\\s+").take(3).toSeq.flatMap(_.toDoubleOption)

  def memTotalKb: Long =
    read("/proc/meminfo").linesIterator.find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def nproc: Int = Runtime.getRuntime.availableProcessors()
}

/** Aggregated task metrics. */
final class TaskAgg {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Jobs, stages and tasks from the public `SparkListener` API. Jobs are
  * attributed through the job group the benchmark sets around each call
  * into the program. */
final class JobProbe extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val byId = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  val tasksByGroup = mutable.Map.empty[String, TaskAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = Job(e.jobId, g, e.time, -1L)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val agg = tasksByGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new TaskAgg)
    agg.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      agg.cpuNs += m.executorCpuTime
      agg.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      agg.spillBytes += m.diskBytesSpilled
    }
  }

  def total: TaskAgg = synchronized {
    val t = new TaskAgg
    tasksByGroup.values.foreach { a =>
      t.tasks += a.tasks; t.cpuNs += a.cpuNs; t.shuffleReadBytes += a.shuffleReadBytes
      t.shuffleWriteBytes += a.shuffleWriteBytes; t.spillBytes += a.spillBytes
    }
    t
  }
}

/** Catalyst phase times of every executed query, from
  * `QueryExecution.tracker` through the public listener API. */
final class PhaseProbe extends QueryExecutionListener {
  final case class Phases(phases: Map[String, (Long, Long)])

  val seen = mutable.ArrayBuffer.empty[Phases]

  private def add(qe: QueryExecution): Unit = synchronized {
    seen += Phases(qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Exact Janino compile times from `CodeGenerator`'s "Code generated in
  * N ms" log events; the `CodegenMetrics` histogram is a sampled
  * reservoir, so its sums are not usable. Each event is one compile. */
final class CodegenProbe
  extends AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {

  val compiles = mutable.ArrayBuffer.empty[(Long, Double)]
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case Pattern(ms) => synchronized { compiles += ((e.getTimeMillis, ms.toDouble)) }
    case _ =>
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    cfg.addAppender(this)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(this, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  def count: Int = synchronized(compiles.size)
  def totalMs: Double = synchronized(compiles.map(_._2).sum)
}

/** Every probe of a traced run, installed on one session. */
final class Probes(val spark: SparkSession) {
  val jobs = new JobProbe
  val phases = new PhaseProbe
  val codegen = new CodegenProbe
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(phases)
  codegen.install()

  /** Block until the listener bus has delivered every queued event. */
  def settle(): Unit = org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)

  /** Persistent RDDs plus CacheManager entries still registered. */
  def persistedLeft: Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val cached =
      try {
        val cm = spark.sharedState.cacheManager
        val f = cm.getClass.getDeclaredField("cachedData")
        f.setAccessible(true)
        f.get(cm).asInstanceOf[Seq[_]].size
      } catch { case _: Exception => 0 }
    rdds + cached
  }
}
