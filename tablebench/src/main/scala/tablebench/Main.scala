package tablebench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Layered table-format benchmark: one JVM running Spark `local[N]` with
  * N = available processors, one client thread driving one workload as a
  * closed loop. Prints one report line, `TABLEBENCH_REPORT {...}`, with
  * every end-to-end metric (and, in a traced run, every per-layer metric)
  * by name, unit and sample count.
  *
  * {{{
  * Main --workload scan_mor --seed 1 --seconds 10 --trace 0 --work-dir DIR
  *      [--smoke] [--fixtures DIR] [--spans-out FILE] [--corrupt-expected]
  * }}}
  */
object Main {
  /** Least warmup, in seconds of ops: the JIT needs about this long before
    * op latencies stop falling. */
  val WarmupSeconds = 8.0

  def parse(args: Array[String]): Config = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v }.toMap
    def flag(f: String) = args.contains(f)
    Config(
      workload = kv.getOrElse("--workload", sys.error("--workload is required")),
      seed = kv.getOrElse("--seed", "1").toLong,
      seconds = kv.getOrElse("--seconds", "10").toDouble,
      trace = kv.getOrElse("--trace", "0") == "1",
      smoke = flag("--smoke"),
      fixtures = kv.get("--fixtures"),
      workDir = kv.getOrElse("--work-dir", sys.error("--work-dir is required")),
      spansOut = kv.get("--spans-out"),
      corruptExpected = flag("--corrupt-expected"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    require(Workload.names.contains(cfg.workload), s"unknown workload: ${cfg.workload}")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(cfg.workDir).getAbsoluteFile
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("tablebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, cfg, cores, work)
      finally spark.stop()
    sys.exit(code)
  }

  private val started = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println("[tablebench] %s at %.1f s".formatLocal(java.util.Locale.ROOT, what,
      (System.nanoTime() - started) / 1e9))

  private def run(spark: SparkSession, cfg: Config, cores: Int, work: File): Int = {
    phase("session ready")
    val h = new Harness(spark, cfg)
    val sizes = if (cfg.smoke) Inputs.Smoke else Inputs.Full
    val inputs = Workload.inputs(cfg.workload, spark, cfg.seed, sizes).map { case (name, gen) =>
      name -> Inputs.load(spark, name, cfg.fixtures)(gen())
    }.toMap
    val fingerprints = inputs.map { case (name, df) => name -> Inputs.fingerprint(df, cfg.fixtures, name) }
    phase("inputs ready")
    val w = Workload(cfg.workload, h, inputs)
    w.prepare()
    phase("references ready")

    // set-up, several times; the last build is the one the loop uses
    var setupBytes = 0L
    val setupS = (1 to w.setupReps).map { rep =>
      val wh = new File(work, s"warehouse-$rep")
      deleteTree(new File(work, s"warehouse-${rep - 1}"))
      val io0 = IoStats.now()
      val t0 = System.nanoTime()
      w.setup(wh.toURI.toString.stripSuffix("/"))
      val s = (System.nanoTime() - t0) / 1e9
      setupBytes = (IoStats.now() - io0).bytesWritten
      s
    }
    phase(s"set-up done (${setupS.mkString(", ")} s)")
    val setupDataBytes = w.userDataBytes
    w.userDataBytes = 0L

    // warmup rounds are checked but not timed, then the timed closed loop
    var round = 0
    var firstTimed = 0
    // traced runs trace no warmup round, then alternate blocks of traced
    // and untraced rounds, starting with a traced one
    def next(): Unit = {
      h.tracedRound = cfg.trace && !h.warm && ((round - firstTimed) / w.traceBlock) % 2 == 0
      w.round(round)
      round += 1
    }
    val warm0 = System.nanoTime()
    while ((round < w.warmupRounds || System.nanoTime() - warm0 < WarmupSeconds * 1e9) &&
        h.failed == 0) next()
    h.endWarmup()
    firstTimed = round
    phase("warmup done")
    val loopIo0 = IoStats.now()
    val loop0 = System.nanoTime()
    val deadline = loop0 + (cfg.seconds * 1e9).toLong
    while (h.failed == 0 && (System.nanoTime() < deadline || !w.canStop)) next()
    val loopS = (System.nanoTime() - loop0) / 1e9
    val loopWritten = (IoStats.now() - loopIo0).bytesWritten

    phase("loop done")
    // amplification, outside any timed window
    val tables = w.tables.map(_.refresh())
    val liveBytes = tables.map(_.newScan().planFiles().map(_.file.fileSizeInBytes).sum).sum
    val diskBytes = tables.map(t => Disk.bytesUnder(t.location)).sum
    val (writeAmp, spaceAmp) = w.fixedAmp.getOrElse((
      if (w.writeAmpFromSetup) ratio(setupBytes, setupDataBytes)
      else ratio(loopWritten, w.userDataBytes),
      ratio(diskBytes, liveBytes)))

    System.gc()
    val report = Report.build(h, w, cfg, setupS, loopS, writeAmp, spaceAmp,
      Jvm.heapUsedMb())
    val env = Map(
      "seed" -> cfg.seed, "nproc" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "source_rev" -> sys.env.getOrElse("TABLEBENCH_SOURCE_REV", "unknown"),
      "inputs" -> fingerprints,
      "sizes" -> (if (cfg.fixtures.isDefined) "fixtures" else if (cfg.smoke) "smoke" else "full"),
      "setup_reps" -> w.setupReps, "rounds" -> round, "loop_s" -> loopS,
      "live_data_bytes" -> liveBytes, "disk_bytes" -> diskBytes)
    cfg.spansOut.foreach(p => h.writeSpans(p, cfg.workload))
    println("TABLEBENCH_REPORT " + Json.obj(Seq(
      "workload" -> cfg.workload, "trace" -> cfg.trace, "env" -> env,
      "correct" -> (h.failed == 0), "attempted" -> h.attempted, "failed" -> h.failed,
      "errors" -> h.errors.toSeq) ++ report))
    System.out.flush()
    deleteTree(new File(work, s"warehouse-${w.setupReps}"))
    if (h.failed == 0) 0 else 1
  }

  private def ratio(a: Long, b: Long): Double = if (b <= 0) Double.NaN else a.toDouble / b

  def deleteTree(f: File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    Files.deleteIfExists(Paths.get(f.getPath))
  }
}

/** Turns the harness's samples into named metrics with units. */
object Report {
  private def m(v: Option[Double], unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "n" -> n)

  def build(h: Harness, w: Workload, cfg: Config, setupS: Seq[Double], loopS: Double,
      writeAmp: Double, spaceAmp: Double, heapLiveMb: Double): Seq[(String, Any)] = {
    val untraced = h.samples.filterNot(_.traced).toSeq
    def lat(kind: String, xs: Seq[Sample] = untraced) = xs.filter(_.kind == kind).map(_.ms)
    // p50 per op class, averaged over the classes: a mix of fast and slow
    // classes (V1 and DSv2 reads, v2 and v3 tables, appends and merges)
    // would otherwise put the median in the gap between them
    def p50(kind: String, xs: Seq[Sample] = untraced) = {
      val byClass = xs.filter(_.kind == kind).groupBy(_.name).values.flatMap(c => Stats.median(c.map(_.ms)))
      m(Stats.mean(byClass.toSeq), "ms", lat(kind, xs).size)
    }
    def p95(kind: String) = m(Stats.tail(lat(kind), 0.95), "ms", lat(kind).size)
    val rowsPerS = if (w.rowsCommitted > 0) Some(w.rowsCommitted / loopS) else None
    val e2e = Map[String, Any](
      "setup_s" -> m(Stats.median(setupS), "s", setupS.size),
      "op_p50_ms" -> p50(w.primaryKind),
      "op_p95_ms" -> p95(w.primaryKind),
      "scan_p50_ms" -> p50("scan"), "scan_p95_ms" -> p95("scan"),
      "write_p50_ms" -> p50("write"), "write_p95_ms" -> p95("write"),
      "maintain_p50_ms" -> p50("maintain"),
      "curate_p50_ms" -> p50("curate"),
      "ingest_rows_per_s" -> m(rowsPerS, "1/s", w.rowsCommitted.toInt),
      "write_amp" -> m(Some(writeAmp).filterNot(_.isNaN), "ratio", 1),
      "space_amp" -> m(Some(spaceAmp).filterNot(_.isNaN), "ratio", 1),
      "failed_ops_ratio" -> m(Some(h.failed.toDouble / math.max(1, h.attempted)), "ratio", h.attempted),
      "rss_peak_mb" -> m(Some(Jvm.rssPeakMb()), "MiB", 1),
      "heap_live_mb" -> m(Some(heapLiveMb), "MiB", 1))
    val latencies = "latencies_ms" -> untraced.groupBy(_.kind).map { case (k, xs) =>
      k -> xs.map(x => math.round(x.ms * 10) / 10.0)
    }
    if (!cfg.trace) Seq("end_to_end" -> e2e, latencies)
    else {
      Seq("end_to_end" -> e2e, "per_layer" -> perLayer(h),
        "tracing_overhead" -> Seq("scan", "write", "maintain", "curate").flatMap { k =>
          val on = p50(k, h.samples.filter(_.traced).toSeq)
          val off = p50(k)
          for (a <- on("value").asInstanceOf[Option[Double]]; b <- off("value").asInstanceOf[Option[Double]])
            yield s"${k}_p50_ms" -> Map("traced" -> a, "untraced" -> b, "overhead" -> (a - b),
              "unit" -> "ms", "n_traced" -> on("n"), "n_untraced" -> off("n"))
        }.toMap)
    }
  }

  /** Counters: mean per op over the untraced ops of a traced run (traced
    * ops make extra calls). Span times: median per call over traced ops.
    * Census readings: mean over the traced rounds' readings. */
  private def perLayer(h: Harness): Map[String, Any] = {
    // a run too short for an untraced block takes counters from traced ops
    val untraced = Some(h.samples.filterNot(_.traced).toSeq).filter(_.nonEmpty)
      .getOrElse(h.samples.toSeq)
    val counters = untraced.flatMap(_.layer.keys).distinct.map { k =>
      k -> m(Stats.mean(untraced.map(_.layer.getOrElse(k, 0.0))), unitOf(k), untraced.size)
    }.toMap
    val tracedOps = h.samples.filter(_.traced).size
    val spans = h.tracer.all.filter(s => s.op > h.lastWarmupOp && !s.name.startsWith("op."))
      .groupBy(_.name).map { case (name, ss) =>
        s"${name}_ms" -> m(Stats.median(ss.map(s => (s.endNs - s.startNs) / 1e6)), "ms", ss.size)
      }
    val census = h.census.flatMap(_.keys).distinct.map { k =>
      val xs = h.census.flatMap(_.get(k)).toSeq
      val v = if (k.endsWith("_ms")) Stats.median(xs) else Stats.mean(xs)
      k -> m(v, unitOf(k), xs.size)
    }.toMap
    val planned = untraced.map(_.layer.getOrElse("table.files_planned", 0.0)).sum
    val considered = untraced.map(_.layer.getOrElse("table.entries_considered", 0.0)).sum
    val cand = h.census.flatMap(_.get("pipeline.lsh_candidates")).sum
    val verified = h.census.flatMap(_.get("pipeline.pairs_verified")).sum
    val ratios = Map(
      "table.prune_ratio" -> m(if (considered > 0) Some(planned / considered) else None, "ratio", untraced.size),
      "pipeline.lsh_precision" -> m(if (cand > 0) Some(verified / cand) else None, "ratio", h.census.size))
    // `catalog.load_ms`/`catalog.commit_ms` are per-op totals from the
    // counting catalog; the same-named span medians would shadow them
    counters ++ (spans -- Seq("catalog.load_ms", "catalog.commit_ms")) ++ census ++ ratios ++
      Map("trace.traced_ops" -> m(Some(tracedOps.toDouble), "count", tracedOps))
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes") || k.endsWith(".bytes_read") || k.endsWith(".bytes_written")) "bytes"
    else if (k.endsWith("_mb")) "MiB" else if (k.endsWith("_ratio") || k.endsWith("precision")) "ratio"
    else "count"
}
