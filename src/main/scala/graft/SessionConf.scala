package graft

import org.apache.spark.sql.SparkSession

/** Per-scan Spark conf without mutating the caller's session.
  *
  * Scan paths need parquet reader settings (field-id resolution,
  * ns-timestamp-as-long) that Spark only honors through the session conf
  * at execution time — a bare `spark.conf.set` would leak to every
  * concurrent query in the session. Instead, reads are built against a
  * CLONED session (`cloneSession`: shared SparkContext and state, copied
  * conf — timezone and user settings preserved) carrying the overrides;
  * the relation pins its own session, so execution resolves the right
  * conf while the caller's session never observes it.
  */
object SessionConf {

  /** Read-side settings every graft scan wants:
    *   - field-id projection (pipeline.rs:160-168 "projection must be done
    *     using field ids"), tolerating legacy id-less files;
    *   - ns-annotated parquet timestamps surfaced as long (our
    *     TimestampNsT/TimestamptzNsT mapping — exact integer ns, never a
    *     lossy µs truncation). Only affects ns-typed columns.
    */
  val ScanConf: Seq[(String, String)] = Seq(
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    "spark.sql.parquet.fieldId.read.ignoreMissing" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Hadoop-level entries for every Spark-managed read/write against the
    * warehouse: route `file://` through the fork-free
    * [[graft.io.NioLocalFileSystem]] (RawLocalFileSystem otherwise execs
    * `chmod` per created file when libhadoop is absent — measured as the
    * hottest write-task stack, OPTIMIZATION_r15.md). Passed as data
    * source options (Spark copies them into the per-relation hadoop
    * conf), so the caller's global hadoopConfiguration is untouched. */
  val HadoopIoConf: Seq[(String, String)] =
    graft.io.NioLocalFileSystem.confEntries

  /** [[HadoopIoConf]] plus the v2 file-output-committer: task commit
    * renames outputs directly into the destination in parallel, instead
    * of v1's job-commit merge walking every task directory serially on
    * the driver — the measured 2–3 s driver-side gap after each fanout
    * write at high file counts, and the standard object-store-friendly
    * setting. Safe here: staged commit dirs are invisible until the
    * graft snapshot commits (readers address files via manifests only)
    * and failed jobs' partials are orphan-GC'd, same as v1 aborts. */
  val WriteConf: Seq[(String, String)] = HadoopIoConf :+
    ("mapreduce.fileoutputcommitter.algorithm.version" -> "2")

  /** Write-side session settings (see [[writeSession]]):
    *   - UTC: temporal partition transforms and Hive path rendering of
    *     timestamp values are spec'd in UTC (transform/temporal.rs);
    *   - field-id embedding + µs timestamps: the write-path parquet
    *     contract (previously set by mutating the caller's session);
    *   - size-based AQE coalescing (`parallelismFirst=false`): a fanout
    *     write's exchange is sized by bytes (advisoryPartitionSizeInBytes)
    *     instead of being held at default parallelism — a KB-scale
    *     maintenance fold runs 1 write task, not 32, and every write task
    *     costs a full Hadoop-conf inflation (FileFormatWriter embeds
    *     SerializableConfiguration in each task; measured ~0.7 s per task
    *     — OPTIMIZATION_r15.md). Scale-adaptive by construction: larger
    *     inputs get proportionally more tasks.
    */
  val WriteSessionConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.fieldId.write.enabled" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") ++
    HadoopIoConf

  /** [[WriteSessionConf]] WITHOUT the size-based coalescing override —
    * for PARTITIONED (fanout) writes. There the hash exchange clusters
    * each partition tuple into one task, so task count never changes the
    * file count or sizes; what it does change is how many of the
    * fanout's per-file creates run in parallel. r15 coalesced these to 1
    * task because each write task paid a ~0.7 s Hadoop-conf inflation;
    * with that tax removed (HadoopConfSlim, r16) the serial ~3 ms/file
    * create loop became the fold write's whole cost (measured: a 282-file
    * band fold write = 0.8–1.0 s single-task job), so fanout writes keep
    * Spark's default parallelism-first AQE semantics. Unpartitioned
    * writes keep the size-based override — there task count IS file
    * count. */
  val FanoutWriteSessionConf: Seq[(String, String)] =
    WriteSessionConf.filterNot(_._1 ==
      "spark.sql.adaptive.coalescePartitions.parallelismFirst")

  // one clone per parent session (weak: dropped with the parent); the
  // clone SNAPSHOTS the parent conf at first use and is cached for the
  // parent's lifetime — caller conf changes made AFTER the first graft
  // scan/write (shuffle partitions, AQE advisory size, codegen flags) do
  // not reach later graft operations (ADVICE r15, documented contract:
  // session-level tuning belongs on the session BEFORE its first graft
  // op; per-op tuning belongs in table properties, which always apply)
  private val clones =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())
  private val writeClones =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())
  private val fanoutClones =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** Hadoop conf for reader functions built directly on a scan session
    * clone (the DSv2 reader, delete-file readers): the context conf plus
    * [[ScanConf]], [[HadoopIoConf]] and `extra` (decryption entries). */
  def readConf(scanSpark: SparkSession,
      extra: Map[String, String] = Map.empty): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(scanSpark.sparkContext.hadoopConfiguration)
    (ScanConf ++ HadoopIoConf ++ extra).foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The scan-configured clone of `spark`. */
  def scanSession(spark: SparkSession): SparkSession =
    clones.synchronized {
      Option(clones.get(spark)).getOrElse {
        // context-global: every later newHadoopConf copy (scan-broadcast
        // conf, FileFormatWriter task conf) inherits the stripped
        // provenance — the gzip-per-property serialization tax
        // (graft.io.HadoopConfSlim) disappears for all graft IO
        graft.io.HadoopConfSlim.stripProvenance(
          spark.sparkContext.hadoopConfiguration)
        val c = org.apache.spark.sql.GraftSessionBridge.cloneSession(spark)
        ScanConf.foreach { case (k, v) => c.conf.set(k, v) }
        // hadoop-level IO entries flow to relations via newHadoopConf,
        // which copies session-conf entries into the per-query hadoop
        // conf verbatim — clone-scoped, caller unaffected
        HadoopIoConf.foreach { case (k, v) => c.conf.set(k, v) }
        clones.put(spark, c)
        c
      }
    }

  /** The write-configured clone of `spark` ([[WriteSessionConf]]). */
  def writeSession(spark: SparkSession): SparkSession =
    writeClones.synchronized {
      Option(writeClones.get(spark)).getOrElse {
        graft.io.HadoopConfSlim.stripProvenance(
          spark.sparkContext.hadoopConfiguration)
        val c = org.apache.spark.sql.GraftSessionBridge.cloneSession(spark)
        WriteSessionConf.foreach { case (k, v) => c.conf.set(k, v) }
        writeClones.put(spark, c)
        c
      }
    }

  /** The fanout-write clone ([[FanoutWriteSessionConf]]). */
  def fanoutWriteSession(spark: SparkSession): SparkSession =
    fanoutClones.synchronized {
      Option(fanoutClones.get(spark)).getOrElse {
        graft.io.HadoopConfSlim.stripProvenance(
          spark.sparkContext.hadoopConfiguration)
        val c = org.apache.spark.sql.GraftSessionBridge.cloneSession(spark)
        FanoutWriteSessionConf.foreach { case (k, v) => c.conf.set(k, v) }
        fanoutClones.put(spark, c)
        c
      }
    }

  /** Rebind a DataFrame's (analyzed) plan to `session` so its execution
    * resolves that session's conf — the write path's counterpart of
    * building scans against [[scanSession]]. */
  def bind(session: SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftSessionBridge.ofRows(session,
      df.queryExecution.analyzed)
}
