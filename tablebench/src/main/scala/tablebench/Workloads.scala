package tablebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{CatalogRegistry, HadoopCatalog}
import graft.expr.{And, Or, Predicate}
import graft.io.FileIO
import graft.meta.{ManifestContent, ManifestIO}
import graft.pipeline.Dedup
import graft.spec.{IcebergSchema, PartitionSpec, Transform}
import graft.table.GraftTable

/** A workload: table set-up (timed, repeated), then rounds of ops run by
  * the harness as a closed loop. */
abstract class Workload(val h: Harness, val inputs: Map[String, DataFrame]) {
  val spark: SparkSession = h.spark
  val rng = new scala.util.Random(h.cfg.seed * 31 + 7)

  /** The op kind whose latency is this workload's `op_p50_ms`. */
  def primaryKind: String
  /** Warmup lasts at least this many rounds and `Main.WarmupSeconds`. */
  def warmupRounds: Int = 1
  /** Set-up repetitions; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Rounds per trace block: traced and untraced blocks alternate. */
  def traceBlock: Int = 1

  /** Builds reference results from the raw inputs, before set-up. */
  def prepare(): Unit = ()
  /** Builds the workload's tables under a fresh warehouse directory. */
  def setup(warehouse: String): Unit
  def round(i: Int): Unit
  /** Whether the loop may end after the current round. */
  def canStop: Boolean = true
  /** Tables whose directories count toward `space_amp`. */
  def tables: Seq[GraftTable]
  /** User rows committed by timed ops. */
  var rowsCommitted = 0L
  /** Bytes of data files added by user writes, for `write_amp`. */
  var userDataBytes = 0L
  /** Whether `write_amp` is taken over set-up (no writes in the loop). */
  def writeAmpFromSetup: Boolean
  /** (write_amp, space_amp) taken by the workload itself at a fixed point
    * of its op sequence, when its state keeps growing with the number of
    * rounds a run happens to complete. */
  var fixedAmp: Option[(Double, Double)] = None

  protected var catalog: CountingCatalog = _
  protected var catalogRef: String = _

  protected def openCatalog(warehouse: String): Unit = {
    catalog = new CountingCatalog(new HadoopCatalog(warehouse, FileIO.local()), h.tracer)
    catalogRef = CatalogRegistry.register(catalog)
    h.use(catalog)
  }

  protected def addedBytes(t: GraftTable): Long =
    t.metadata.currentSnapshot.flatMap(_.summary.get("added-files-size")).map(_.toLong).getOrElse(0L)

  /** Op-class suffix naming the read path. */
  protected def path(dsv2: Boolean): String = if (dsv2) "_dsv2" else "_v1"

  /** (count, checksum) of a scan, alternating the V1 reader (`toDF`) and
    * the DSv2 reader (`format("graft")`). In traced rounds the scan is
    * also planned on its own so planning gets a span. */
  protected def scanChecksum(t: GraftTable, p: Predicate, cols: Seq[String],
      viaDsv2: Boolean): (Long, Long) = {
    if (h.tracing) h.tracer.span("table.plan")(t.newScan().withFilter(p).planWithMetrics())
    if (viaDsv2) h.tracer.span("sources.dsv2_scan") {
      val df = spark.read.format("graft").option("catalog-ref", catalogRef)
        .option("table", t.name).load()
      Inputs.checksum(if (p == graft.expr.AlwaysTrue) df else df.filter(Predicate.toColumn(p, t.schema)), cols)
    }
    else h.tracer.span("table.v1_scan") {
      Inputs.checksum(t.newScan().withFilter(p).toDF(spark), cols)
    }
  }

  /** Manifest census of a table's current snapshot through direct
    * ManifestIO reads (traced rounds only, outside the op). */
  protected def census(t0: GraftTable): Unit = if (h.tracing) {
    val t = t0.refresh()
    t.metadata.currentSnapshot.foreach { snap =>
      val l0 = System.nanoTime()
      val manifests = ManifestIO.readManifestList(t.io, snap.manifestList, t.partTypes)
      val listMs = (System.nanoTime() - l0) / 1e6
      var data = 0L
      var deletes = 0L
      val perManifest = manifests.map { m =>
        val spec = t.metadata.specById(m.partitionSpecId).getOrElse(t.spec)
        val m0 = System.nanoTime()
        val live = ManifestIO.readManifest(t.io, m.manifestPath, t.schema, spec, m.keyMetadata)
          .count(_.isAlive)
        if (m.content == ManifestContent.Data) data += live else deletes += live
        (System.nanoTime() - m0) / 1e6
      }
      h.census += Map("meta.manifest_list_read_ms" -> listMs,
        "meta.manifest_read_ms" -> Stats.median(perManifest).getOrElse(0.0),
        "table.manifests_live" -> manifests.size.toDouble,
        "table.data_files_live" -> data.toDouble,
        "table.delete_files_live" -> deletes.toDouble)
    }
  }

  protected def lineitemCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** Raw lineitem reference: (ship day, order key, row hash) per row,
    * computed from the generated input, without the table layer. */
  protected def lineitemRef(): (Array[Int], Array[Long], Array[Long]) = {
    val rows = inputs("lineitem")
      .select(datediff(to_date(col("l_shipdate")), lit("1970-01-01")),
        col("l_orderkey"), Inputs.rowHash(lineitemCols)).collect()
    (rows.map(_.getInt(0)), rows.map(_.getLong(1)), rows.map(_.getLong(2)))
  }

  protected def rangeOr(ranges: Seq[(Long, Long)], column: String): Predicate =
    ranges.map { case (a, b) => And(Predicate.gtEq(column, a), Predicate.lt(column, b)): Predicate }
      .reduce((x, y) => Or(x, y))
}

object Workload {
  def apply(name: String, h: Harness, inputs: Map[String, DataFrame]): Workload = name match {
    case "scan_many_files" => new ScanManyFiles(h, inputs)
    case "scan_mor" => new ScanMor(h, inputs)
    case "ingest_upsert" => new IngestUpsert(h, inputs)
    case "curate_dedup" => new CurateDedup(h, inputs)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val names = Seq("scan_many_files", "scan_mor", "ingest_upsert", "curate_dedup")

  /** Each workload's input tables and their generators. */
  def inputs(workload: String, spark: SparkSession, seed: Long,
      sizes: Inputs.Sizes): Seq[(String, () => DataFrame)] = workload match {
    case "scan_many_files" => Seq("lineitem" ->
      (() => Inputs.lineitem(spark, seed, sizes.manyFilesLineitem, ScanManyFiles.OrderDays)))
    case "scan_mor" => Seq("lineitem" -> (() => Inputs.lineitem(spark, seed, sizes.morLineitem)))
    case "ingest_upsert" => Seq("orders" -> (() => Inputs.orders(spark, seed, sizes.orders)))
    case "curate_dedup" => Seq("documents" -> (() => Inputs.documents(spark, seed, sizes.documents)))
  }
}

/** Many small files: lineitem partitioned by day(l_shipdate), loaded by
  * appends in ship-date order, so the snapshot holds one file per day and
  * one manifest per append. Mostly narrow scans (a few days plus an order
  * key range), some month-wide scans; no deletes. */
final class ScanManyFiles(h: Harness, inputs: Map[String, DataFrame]) extends Workload(h, inputs) {
  def primaryKind = "scan"
  /** One build: a cold build of this many files alone takes several
    * seconds, and repeating it would not fit the run's time budget. */
  override def setupReps = 1
  def writeAmpFromSetup = true
  private val appends = if (h.cfg.smoke) 6 else 12
  private var table: GraftTable = _
  private var days: Array[Int] = _
  private var keys: Array[Long] = _
  private var hashes: Array[Long] = _
  private var byDay: DataFrame = _
  def tables = Seq(table)

  override def prepare(): Unit = {
    val (d, k, hs) = lineitemRef()
    days = d; keys = k; hashes = hs
    byDay = inputs("lineitem")
      .withColumn("_day", datediff(to_date(col("l_shipdate")), lit("1970-01-01")))
  }

  def setup(warehouse: String): Unit = {
    openCatalog(warehouse)
    val raw = inputs("lineitem")
    val schema = IcebergSchema.fromSpark(raw.schema)
    var t = GraftTable.create("lineitem", catalog, schema,
      PartitionSpec.build(schema, Seq("l_shipdate" -> Transform.Day)),
      Map("format-version" -> "2"))
    val (lo, hi) = (days.min, days.max)
    val step = (hi - lo) / appends + 1
    var bytes = 0L
    for (d <- lo to hi by step) {
      t = t.append(byDay.filter(col("_day") >= d && col("_day") < d + step).drop("_day")
        .repartition(spark.sparkContext.defaultParallelism, col("l_shipdate")))
      bytes += addedBytes(t)
    }
    userDataBytes = bytes
    table = t
  }

  def round(i: Int): Unit = for (dsv2 <- Seq(false, true)) {
    val (lo, hi) = (days.min, days.max)
    val wide = rng.nextDouble() < 0.25
    val span = if (wide) 30 else 1 + rng.nextInt(5)
    val d0 = lo + rng.nextInt(math.max(1, hi - lo - span))
    val shipP = And(Predicate.gtEq("l_shipdate", d0 * Inputs.MicrosPerDay),
      Predicate.lt("l_shipdate", (d0 + span).toLong * Inputs.MicrosPerDay))
    // order keys rise with ship date: aim the key range near the days'
    val nOrders = keys.max
    val around = ((d0 - lo - 75).toLong * nOrders / ScanManyFiles.OrderDays).max(1L)
    val k0 = math.max(1L, around + rng.nextInt(6001) - 3000)
    val k1 = k0 + math.max(20L, nOrders / 75)
    val p = if (wide) shipP else And(shipP, And(Predicate.gtEq("l_orderkey", k0), Predicate.lt("l_orderkey", k1)))
    var n = 0L
    var sum = 0L
    var j = 0
    while (j < days.length) {
      val dj = days(j)
      if (dj >= d0 && dj < d0 + span && (wide || (keys(j) >= k0 && keys(j) < k1))) {
        n += 1; sum += hashes(j)
      }
      j += 1
    }
    h.op("scan", (if (wide) "month_scan" else "narrow_scan") + path(dsv2)) {
      scanChecksum(table, p, lineitemCols, dsv2)
    } { case (c, s) => h.expect("row count", c, n); h.expect("checksum", s, sum) }
    census(table)
  }
}

object ScanManyFiles {
  /** Order calendar length: about 650 ship days, so about 650 files. */
  val OrderDays = 500
}

/** Merge-on-read scans: lineitem in a few large files with seed-chosen
  * deletes over about a tenth of the rows — position and equality deletes
  * on a v2 table, deletion vectors on a v3 table. Every op is a full scan
  * of every column reduced to a checksum. */
final class ScanMor(h: Harness, inputs: Map[String, DataFrame]) extends Workload(h, inputs) {
  def primaryKind = "scan"
  override def traceBlock = 2
  def writeAmpFromSetup = true
  private var v2, v3: GraftTable = _
  private var keys: Array[Long] = _
  private var hashes: Array[Long] = _
  private var posRanges, dvRanges: Seq[(Long, Long)] = Nil
  private var eqKeys: Set[Long] = Set.empty
  private var ref2, ref3: (Long, Long) = _
  def tables = Seq(v2, v3)

  override def prepare(): Unit = {
    val (_, k, hs) = lineitemRef()
    keys = k; hashes = hs
    val nOrders = keys.max
    val width = math.max(1L, nOrders / 200)
    def ranges(n: Int) = Seq.fill(n)(1L + (rng.nextDouble() * (nOrders - width)).toLong)
      .map(a => (a, a + width))
    posRanges = ranges(10)
    dvRanges = ranges(20)
    eqKeys = Seq.fill((nOrders / 20).toInt)(1L + (rng.nextDouble() * nOrders).toLong).toSet
    def ref(deleted: Long => Boolean): (Long, Long) = {
      var n = 0L; var s = 0L; var j = 0
      while (j < keys.length) { if (!deleted(keys(j))) { n += 1; s += hashes(j) }; j += 1 }
      (n, s)
    }
    def in(rs: Seq[(Long, Long)])(k: Long) = rs.exists { case (a, b) => k >= a && k < b }
    ref2 = ref(k => in(posRanges)(k) || eqKeys(k))
    ref3 = ref(in(dvRanges))
  }

  def setup(warehouse: String): Unit = {
    openCatalog(warehouse)
    import spark.implicits._
    val raw = inputs("lineitem")
    val schema = IcebergSchema.fromSpark(raw.schema)
    var a = GraftTable.create("lineitem_v2", catalog, schema, properties = Map("format-version" -> "2"))
    a = a.append(raw)
    var bytes = addedBytes(a)
    a = a.deleteWhere(rangeOr(posRanges, "l_orderkey"), spark)
    a = a.equalityDelete(eqKeys.toSeq.sorted.toDF("l_orderkey"), Seq("l_orderkey"))
    var b = GraftTable.create("lineitem_v3", catalog, schema, properties = Map("format-version" -> "3"))
    b = b.append(raw)
    bytes += addedBytes(b)
    b = b.deleteWhereDV(rangeOr(dvRanges, "l_orderkey"), spark)
    userDataBytes = bytes
    v2 = a; v3 = b
  }

  def round(i: Int): Unit = {
    val (t, ref) = if (i % 2 == 0) (v2, ref2) else (v3, ref3)
    for (dsv2 <- Seq(false, true)) {
      h.op("scan", (if (i % 2 == 0) "full_scan_v2" else "full_scan_v3") + path(dsv2)) {
        scanChecksum(t, graft.expr.AlwaysTrue, lineitemCols, dsv2)
      } { case (c, s) => h.expect("row count", c, ref._1); h.expect("checksum", s, ref._2) }
      census(t)
    }
  }
}

/** Upsert ingest: orders keyed on o_orderkey. Each cycle appends new keys,
  * upserts changed rows (equality deletes), deletes a key range (position
  * deletes) and merges a mixed source, reading the table back after each
  * write against an in-memory model. Every cycle ends by rewriting
  * position deletes, compacting and expiring snapshots. */
final class IngestUpsert(h: Harness, inputs: Map[String, DataFrame]) extends Workload(h, inputs) {
  def primaryKind = "write"
  /** Two cycles: the first one runs with a cold JIT. */
  override def warmupRounds = 2
  def writeAmpFromSetup = false
  /** Amplification is taken after this many cycles (warmup included):
    * every commit leaves a metadata file behind, so `space_amp` grows
    * with the cycle count. */
  private val ampCycles = 3
  private var ampIo0: IoStats.Io = _
  private var ampDataBytes = 0L
  private val scale = if (h.cfg.smoke) 10 else 1
  private var table: GraftTable = _
  private val model = mutable.HashMap[Long, Long]()
  private val live = mutable.ArrayBuffer[Long]()
  private var nextKey = 0L
  private var cycles = 0
  def tables = Seq(table)
  override def canStop: Boolean = cycles >= ampCycles

  private val cols = Inputs.OrderCols

  def setup(warehouse: String): Unit = {
    openCatalog(warehouse)
    val raw = inputs("orders")
    var t = GraftTable.create("orders", catalog, IcebergSchema.fromSpark(raw.schema),
      properties = Map("format-version" -> "2"))
    t = t.append(raw)
    table = t
    model.clear(); live.clear()
    raw.select(col("o_orderkey"), Inputs.rowHash(cols)).collect()
      .foreach(r => model(r.getLong(0)) = r.getLong(1))
    live ++= model.keys.toSeq.sorted
    nextKey = live.max + 1
  }

  /** New rows for `keys`, typed as the input table (a fixture file may
    * store timestamps without time zone), and their row hashes. */
  private def frameOf(keys: Seq[Long], salt: Long): (DataFrame, Seq[(Long, Long)]) = {
    import spark.implicits._
    val df = Inputs.ordersFor(keys.toDF("o_orderkey"), h.cfg.seed, salt)
      .select(inputs("orders").schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    (df, df.select(col("o_orderkey"), Inputs.rowHash(cols)).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  private def liveSample(n: Int): Seq[Long] =
    Seq.fill(n)(live(rng.nextInt(live.size))).distinct

  private def put(rows: Seq[(Long, Long)]): Unit = rows.foreach { case (k, v) =>
    if (!model.contains(k)) live += k
    model(k) = v
  }

  private def remove(ks: Iterable[Long]): Unit = {
    val gone = ks.filter(model.contains).toSet
    gone.foreach(model.remove)
    if (gone.nonEmpty) { val kept = live.filterNot(gone); live.clear(); live ++= kept }
  }

  private var readbacks = 0
  private def readBack(after: String): Boolean = {
    readbacks += 1
    val dsv2 = readbacks % 2 == 0
    val ok = h.op("scan", s"readback_after_$after" + path(dsv2)) {
      scanChecksum(table, graft.expr.AlwaysTrue, cols, dsv2)
    } { case (c, s) =>
      h.expect("row count", c, model.size.toLong); h.expect("checksum", s, model.values.sum)
    }
    census(table)
    ok
  }

  /** A user write: timed, then the model follows it and it is read back. */
  private def write(name: String, rows: Long)(body: => GraftTable)(onOk: => Unit): Boolean = {
    var added = 0L
    val ok = h.op("write", name) {
      val t = h.tracer.span(s"table.$name")(body)
      added = addedBytes(t)
      t
    } { t => table = t }
    if (ok) {
      onOk
      if (!h.warm) { rowsCommitted += rows; userDataBytes += added }
      if (cycles < ampCycles) ampDataBytes += added
    }
    ok && readBack(name)
  }

  def round(i: Int): Unit = {
    if (i == 0) ampIo0 = IoStats.now()
    val n = 1000 / scale
    val salt = i.toLong * 10
    val ok = {
      val newKeys = nextKey until nextKey + n
      val (app, appRows) = frameOf(newKeys, salt + 1)
      write("append", n)(table.append(app)) { put(appRows); nextKey += n }
    } && {
      val (ups, upsRows) = frameOf(liveSample(n), salt + 2)
      write("upsert", upsRows.size)(table.upsert(ups, Seq("o_orderkey")))(put(upsRows))
    } && {
      val a = live(rng.nextInt(live.size))
      val p = And(Predicate.gtEq("o_orderkey", a), Predicate.lt("o_orderkey", a + 2 * n / 5))
      write("delete", 0)(table.deleteWhere(p, spark))(remove(a until a + 2 * n / 5))
    } && {
      val keys = liveSample(n / 4) ++ (nextKey until nextKey + n / 4)
      val (src, srcRows) = frameOf(keys, salt + 3)
      write("merge", srcRows.size)(table.mergeInto(src, Seq("o_orderkey"))) {
        put(srcRows); nextKey += n / 4
      }
    }
    cycles += 1
    if (ok) {
      def maintain(name: String)(body: => GraftTable): Boolean =
        h.op("maintain", name)(h.tracer.span(s"table.$name")(body)) { t => table = t }
      maintain("rewrite_pos_deletes")(table.rewritePositionDeletes(spark)) &&
        maintain("compact")(table.rewriteDataFiles(spark)) &&
        maintain("expire")(table.expireSnapshots(System.currentTimeMillis(), retainLast = 1)) &&
        readBack("maintenance")
    }
    if (cycles == ampCycles) {
      val t = table.refresh()
      val live = t.newScan().planFiles().map(_.file.fileSizeInBytes).sum
      fixedAmp = Some(((IoStats.now() - ampIo0).bytesWritten.toDouble / ampDataBytes,
        Disk.bytesUnder(t.location).toDouble / live))
    }
  }
}

/** Curation: documents stored as a table. Each round scans seed-chosen
  * subsets, runs MinHash and SimHash near-duplicate detection over the
  * last of them and appends the keep-set to a fresh table. */
final class CurateDedup(h: Harness, inputs: Map[String, DataFrame]) extends Workload(h, inputs) {
  def primaryKind = "curate"
  /** Four rounds, two per read path: a pass is still a fifth slower on
    * its path's second call than on later ones (the JIT has not caught up). */
  override def warmupRounds = 4
  /** A block holds a round of each read path (rounds alternate them). */
  override def traceBlock = 2
  def writeAmpFromSetup = false
  private val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
  private var table: GraftTable = _
  private var docHash: Map[Long, Long] = Map.empty
  private var jaccardPairs: Set[(Long, Long)] = Set.empty
  private var simhashPairs: Set[(Long, Long)] = Set.empty
  private var maxId = 0L
  private var curated = 0
  def tables = Seq(table)

  /** Exact reference pairs over the whole corpus, outside the table layer:
    * 3-shingle Jaccard >= 0.5 by brute force over an inverted index, and
    * SimHash hamming distance <= 5 over all pairs of signatures. */
  override def prepare(): Unit = {
    val raw = inputs("documents")
    val rows = raw.select(col("doc_id"), col("text"), Inputs.rowHash(cols)).collect()
    docHash = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    maxId = docHash.keys.max
    val sets = rows.flatMap { r =>
      val w = r.getString(1).toLowerCase(java.util.Locale.ROOT).split(" ", -1)
      if (w.length < 3) None
      else Some(r.getLong(0) -> (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet)
    }.toMap
    val index = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    sets.foreach { case (id, s) => s.foreach(g => index.getOrElseUpdate(g, mutable.ArrayBuffer()) += id) }
    val cand = index.valuesIterator.filter(_.size > 1).flatMap { ids =>
      for (a <- ids.iterator; b <- ids.iterator if a < b) yield (a, b)
    }.toSet
    jaccardPairs = cand.filter { case (a, b) =>
      val (sa, sb) = (sets(a), sets(b))
      val inter = sa.count(sb)
      inter.toDouble / (sa.size + sb.size - inter) >= 0.5
    }
    val sigs = Dedup.simhash(raw).select("doc_id", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    simhashPairs = (for {
      i <- sigs.indices.iterator; j <- (i + 1 until sigs.length).iterator
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 5
    } yield (math.min(sigs(i)._1, sigs(j)._1), math.max(sigs(i)._1, sigs(j)._1))).toSet
  }

  def setup(warehouse: String): Unit = {
    openCatalog(warehouse)
    val raw = inputs("documents")
    val t = GraftTable.create("documents", catalog, IcebergSchema.fromSpark(raw.schema),
      properties = Map("format-version" -> "2"))
    table = t.append(raw)
  }

  /** Subset scans per read path and round: a scan is short next to a
    * curation pass, and one per round gives too few for a steady median. */
  private val scansPerRound = 4

  /** A seed-chosen fifth of the doc ids, [a, b). */
  private def subsetOf(): (Long, Long) = {
    val width = (maxId + 1) / 5
    val a = (rng.nextDouble() * (maxId + 1 - width)).toLong
    (a, a + width)
  }

  private def idRange(a: Long, b: Long): Predicate =
    And(Predicate.gtEq("doc_id", a), Predicate.lt("doc_id", b))

  def round(i: Int): Unit = {
    val dsv2 = i % 2 == 1
    // the last subset scanned is the one curated
    val subsets = Seq.fill(scansPerRound)(subsetOf())
    for ((a, b) <- subsets; viaDsv2 <- Seq(false, true)) {
      val subset = docHash.filter { case (k, _) => k >= a && k < b }
      h.op("scan", "subset_scan" + path(viaDsv2))(scanChecksum(table, idRange(a, b), cols, viaDsv2)) { case (c, s) =>
        h.expect("row count", c, subset.size.toLong); h.expect("checksum", s, subset.values.sum)
      }
    }
    census(table)
    val (a, b) = subsets.last
    val p = idRange(a, b)
    val inSubset = (id: Long) => id >= a && id < b
    val subset = docHash.filter { case (k, _) => inSubset(k) }
    val expMh = jaccardPairs.filter { case (x, y) => inSubset(x) && inSubset(y) }
    val expSh = simhashPairs.filter { case (x, y) => inSubset(x) && inSubset(y) }
    val dropped = (expMh ++ expSh).map(_._2)
    curated += 1
    val name = s"curated_$curated"
    h.op("curate", "dedup" + path(dsv2)) {
      val docs =
        if (dsv2) spark.read.format("graft").option("catalog-ref", catalogRef)
          .option("table", table.name).load().filter(Predicate.toColumn(p, table.schema))
        else table.newScan().withFilter(p).toDF(spark)
      def pairs(df: DataFrame) = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mh = h.tracer.span("pipeline.minhash")(pairs(Dedup.minhashNearDups(docs)))
      val sh = h.tracer.span("pipeline.simhash")(pairs(Dedup.simhashNearDups(docs)))
      if (h.tracing) {
        val cand = h.tracer.span("pipeline.lsh_candidates")(
          Dedup.lshCandidates(Dedup.minhashBands(Dedup.shingleSets(docs), 16, 4)).count())
        h.census += Map("pipeline.lsh_candidates" -> cand.toDouble,
          "pipeline.pairs_verified" -> mh.size.toDouble)
      }
      val drop = (mh ++ sh).map(_._2).toSeq
      val keep = docs.filter(!col("doc_id").isin(drop: _*))
      val fresh = h.tracer.span("table.append") {
        GraftTable.create(name, catalog, table.schema, properties = Map("format-version" -> "2"))
          .append(keep)
      }
      (mh, sh, fresh)
    } { case (mh, sh, fresh) =>
      h.expect("minhash pairs", mh, expMh)
      h.expect("simhash pairs", sh, expSh)
      val added = fresh.metadata.currentSnapshot.flatMap(_.summary.get("added-records")).map(_.toLong)
      h.expect("kept rows", added, Some(subset.size.toLong - dropped.size))
      if (!h.warm) { rowsCommitted += added.getOrElse(0L); userDataBytes += addedBytes(fresh) }
    }
    if (catalog.tableExists(name)) catalog.purgeTable(name)
  }
}

object Disk {
  /** Bytes of every regular file under a directory. */
  def bytesUnder(dir: String): Long = {
    val root = new File(new java.net.URI(if (dir.contains(":")) dir else "file://" + dir).getPath)
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(root)
  }
}
