package tablebench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.meta.ManifestCache
import graft.table.ScanMetricsSink

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    smoke: Boolean, fixtures: Option[String], workDir: String, spansOut: Option[String],
    corruptExpected: Boolean)

/** One timed op: its kind (scan, write, maintain, curate), latency, whether
  * it ran traced, and the layer counters taken around it. */
final case class Sample(kind: String, name: String, ms: Double, traced: Boolean,
    layer: Map[String, Double])

/** Runs ops as a closed loop from one client thread: each op is timed,
  * its layer counters are taken around it, and its output is checked
  * outside the timed window. A thrown op or a failed check counts as
  * failed; nothing is dropped from the totals. */
final class Harness(val spark: SparkSession, val cfg: Config) {
  val tracer = new Tracer
  val probe = new SparkProbe(spark)
  spark.sparkContext.addSparkListener(probe)

  val samples = mutable.ArrayBuffer[Sample]()
  /** Per-op readings taken only in traced rounds, outside the op. */
  val census = mutable.ArrayBuffer[Map[String, Double]]()
  /** (op id, name, wall ms, Spark job busy ms) of every traced op. */
  val tracedOps = mutable.ArrayBuffer[(Int, String, Double, Double)]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  /** Ops of warmup rounds are checked and counted, but not timed. */
  var warm = true
  /** Whether the current round records spans (traced runs only). */
  var tracedRound = false
  private var opId = 0
  /** Ops up to this id ran in warmup rounds. */
  var lastWarmupOp = 0
  private var catalogs: Seq[CountingCatalog] = Nil

  def tracing: Boolean = cfg.trace && tracedRound
  def endWarmup(): Unit = { warm = false; lastWarmupOp = opId }
  def use(c: CountingCatalog): Unit = catalogs = catalogs.filterNot(_ eq c) :+ c

  /** Throws unless `actual` equals `expected` (offset by one when the run
    * deliberately corrupts its expectations, to prove checks can fail). */
  def expect[T](what: String, actual: T, expected: T): Unit = {
    val exp = (expected, cfg.corruptExpected) match {
      case (v: Long, true) => (v + 1L).asInstanceOf[T]
      case (v, _) => v
    }
    if (actual != exp) throw new AssertionError(s"$what: got $actual, expected $exp")
  }

  private def catalogCounts(): Array[Long] =
    Array(catalogs.map(_.loads.get).sum, catalogs.map(_.loadNs.get).sum,
      catalogs.map(_.commits.get).sum, catalogs.map(_.commitNs.get).sum,
      catalogs.map(_.conflicts.get).sum)

  /** One op. Returns whether it and its check succeeded. */
  def op[T](kind: String, name: String)(body: => T)(check: T => Unit): Boolean = {
    attempted += 1
    opId += 1
    val traced = tracing
    val io0 = IoStats.now()
    val scan0 = ScanMetricsSink.snapshot()
    val cat0 = catalogCounts()
    val gc0 = Jvm.gcMs()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = Try(tracer.op(opId, name, traced)(body))
    val ns = System.nanoTime() - t0
    val w1 = System.currentTimeMillis()
    val gc1 = Jvm.gcMs()
    val io = IoStats.now() - io0
    val scan1 = ScanMetricsSink.snapshot()
    val cat = catalogCounts().zip(cat0).map { case (a, b) => a - b }
    val (cacheEntries, cacheBytes) = ManifestCache.stats
    val layer = probe.window(w0, w1) ++ Map(
      "table.manifests_total" -> (scan1._2 - scan0._2).toDouble,
      "table.manifests_skipped" -> (scan1._3 - scan0._3).toDouble,
      "table.entries_considered" -> (scan1._4 - scan0._4).toDouble,
      "expr.skipped_by_partition" -> (scan1._5 - scan0._5).toDouble,
      "expr.skipped_by_metrics" -> (scan1._6 - scan0._6).toDouble,
      "table.files_planned" -> (scan1._7 - scan0._7).toDouble,
      "catalog.loads" -> cat(0).toDouble, "catalog.load_ms" -> cat(1) / 1e6,
      "catalog.commits" -> cat(2).toDouble, "catalog.commit_ms" -> cat(3) / 1e6,
      "catalog.conflicts" -> cat(4).toDouble,
      "io.bytes_read" -> io.bytesRead.toDouble, "io.bytes_written" -> io.bytesWritten.toDouble,
      "jvm.gc_ms" -> (gc1 - gc0).toDouble, "jvm.heap_used_mb" -> Jvm.heapUsedMb(),
      "meta.cache_entries" -> cacheEntries.toDouble, "meta.cache_bytes" -> cacheBytes.toDouble)
    if (traced) tracedOps += ((opId, name, ns / 1e6, layer("spark.job_busy_s") * 1e3))
    val outcome = res.flatMap(v => Try(check(v)))
    outcome match {
      case Success(_) =>
      case Failure(e) =>
        failed += 1
        val msg = s"$kind op '$name' failed: $e"
        errors += msg
        System.err.println(s"[tablebench] $msg")
        e.printStackTrace(System.err)
    }
    if (!warm) samples += Sample(kind, name, ns / 1e6, traced, layer)
    outcome.isSuccess
  }

  /** Writes the recorded spans, one JSON object per line. */
  def writeSpans(path: String, workload: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      tracer.all.foreach { s =>
        out.println(Json.obj(Seq("workload" -> workload, "id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      tracedOps.foreach { case (id, name, wallMs, busyMs) =>
        out.println(Json.obj(Seq("workload" -> workload, "op_record" -> id, "name" -> name,
          "wall_ms" -> wallMs, "spark_busy_ms" -> busyMs)))
      }
    } finally out.close()
  }
}

/** Minimal JSON writer; numbers are formatted locale-independently. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Median with midpoint interpolation (as Python's statistics.median). */
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val n = s.size
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0)
    }

  /** The q-quantile by nearest rank, reported only when at least ten
    * samples lie beyond it. */
  def tail(xs: Seq[Double], q: Double): Option[Double] = {
    val s = xs.sorted
    val rank = math.ceil(q * s.size).toInt
    if (s.isEmpty || s.size - rank < 10) None else Some(s(rank - 1))
  }

  def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)
}
