package tablebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.catalog.{Catalog, CommitConflict, HadoopCatalog}
import graft.spec.{IcebergSchema, PartitionSpec, TableMetadata}

/** One closed span: a timed call into a layer, made from the benchmark's
  * own code. Times are `System.nanoTime` values. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` is a plain call; enabled, it
  * records name, start, end, parent span and op id. A span opened on a
  * thread with no open span of its own (a future inside a library call)
  * takes the innermost open span of the op's thread as parent, so the
  * tree stays nested. Spans are written out once, at the end of the run. */
final class Tracer {
  @volatile private var enabled = false
  @volatile private var currentOp = 0
  @volatile private var opThread: Thread = null
  @volatile private var opThreadTop = 0
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val own = stack.get()
      val mine = Thread.currentThread() eq opThread
      val parent = own.headOption.getOrElse(if (mine) 0 else opThreadTop)
      stack.set(id :: own)
      if (mine) opThreadTop = id
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, currentOp, name, t0, System.nanoTime()))
        stack.set(own)
        if (mine) opThreadTop = own.headOption.getOrElse(0)
      }
    }

  /** Root span of one op; with `traced` false nothing is recorded. */
  def op[T](opId: Int, name: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      currentOp = opId; opThread = Thread.currentThread(); enabled = true
      try span(s"op.$name")(body)
      finally { enabled = false; opThread = null; currentOp = 0 }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Counts and times every catalog load and commit, then delegates to a
  * [[HadoopCatalog]]. Tables loaded through it commit through it, and
  * DSv2 reads reach it through the `catalog-ref` reader option. */
final class CountingCatalog(delegate: HadoopCatalog, tracer: Tracer) extends Catalog {
  val loads = new AtomicLong
  val loadNs = new AtomicLong
  val commits = new AtomicLong
  val commitNs = new AtomicLong
  val conflicts = new AtomicLong

  def io: graft.io.FileIO = delegate.io

  override def createTable(name: String, schema: IcebergSchema,
      spec: PartitionSpec, properties: Map[String, String]): TableMetadata =
    delegate.createTable(name, schema, spec, properties)

  override def loadTable(name: String): (TableMetadata, Int) =
    tracer.span("catalog.load") {
      val t0 = System.nanoTime()
      try delegate.loadTable(name)
      finally { loads.incrementAndGet(); loadNs.addAndGet(System.nanoTime() - t0) }
    }

  override def commitTable(name: String, baseVersion: Int,
      updated: TableMetadata): Int =
    tracer.span("catalog.commit") {
      val t0 = System.nanoTime()
      try delegate.commitTable(name, baseVersion, updated)
      catch { case c: CommitConflict => conflicts.incrementAndGet(); throw c }
      finally { commits.incrementAndGet(); commitNs.addAndGet(System.nanoTime() - t0) }
    }

  override def tableExists(name: String): Boolean = delegate.tableExists(name)
  override def dropTable(name: String): Boolean = delegate.dropTable(name)
  override def listTables(): Seq[String] = delegate.listTables()
  override protected def registerParsed(name: String, md: TableMetadata): Unit =
    throw new UnsupportedOperationException("register is not used by the benchmark")
}

/** Hadoop FileSystem byte counters summed over every `file` scheme
  * instance (the program's NIO local filesystem and Spark's checksummed
  * one). The local filesystem does not count operations, so only bytes
  * are taken. */
object IoStats {
  final case class Io(bytesRead: Long, bytesWritten: Long) {
    def -(o: Io): Io = Io(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  @annotation.nowarn("cat=deprecation")
  def now(): Io = {
    val stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Io(stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum)
  }
}

object Jvm {
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def heapUsedMb(): Double = java.lang.management.ManagementFactory
    .getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Spark jobs and tasks, attributed to ops by time window (not by job
  * group: a library call's future thread drops the group). */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private final case class Job(id: Int, startMs: Long, var endMs: Long)
  private final case class Task(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      durMs: Long, shuffleRead: Long, shuffleWrite: Long, input: Long, output: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val tasks = new ConcurrentLinkedQueue[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, e.taskInfo.duration,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
  }

  /** Drain everything the listener saw and keep what falls in
    * [fromMs, toMs]: jobs by start time, tasks by finish time. */
  def window(fromMs: Long, toMs: Long): Map[String, Double] = {
    org.apache.spark.GraftListenerBridge.flushListenerBus(spark.sparkContext)
    val js = jobs.values.asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
    jobs.values.removeIf(j => j.endMs >= 0 && j.endMs <= toMs)
    val ts = mutable.ArrayBuffer[Task]()
    val it = tasks.iterator()
    while (it.hasNext) { val t = it.next(); if (t.endMs <= toMs) { it.remove(); if (t.endMs >= fromMs) ts += t } }
    // union of job intervals clipped to the op window
    val busyMs = js.map(j => (j.startMs, if (j.endMs < 0) toMs else math.min(j.endMs, toMs)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        val s1 = math.max(s, reach)
        if (e > s1) (acc + (e - s1), e) else (acc, reach)
      }._1
    val wallS = (toMs - fromMs) / 1e3
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.max_task_s" -> (if (ts.isEmpty) 0.0 else ts.map(_.durMs).max / 1e3),
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.input_bytes" -> ts.map(_.input).sum.toDouble,
      "spark.output_bytes" -> ts.map(_.output).sum.toDouble,
      "spark.job_busy_s" -> busyMs / 1e3,
      "spark.driver_gap_s" -> math.max(0.0, wallS - busyMs / 1e3))
  }
}
