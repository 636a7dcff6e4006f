package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

import graft.expr.{In => PIn, SetPred}
import graft.puffin.Puffin
import graft.spec.{IcebergSchema, PartitionField, PartitionSpec, StatisticsFile, StatsBlobMetadata, Transform}
import graft.table.{AppendWriter, GraftTable}

/** Persisted MEMBERSHIP-FILTER serving: exact batch-vs-corpus dedup
  * (`batch \ corpus` by key) answered WITHOUT a corpus join on the hot
  * path. A per-key-bucket Bloom filter over the corpus table's key column
  * is persisted as a Puffin statistics file registered for the table's
  * snapshot (reference statistics plumbing: spec/statistic_file.rs:27 +
  * puffin/blob.rs blob framing — the same snapshot-addressed sketch slot
  * the reference fills with theta NDV blobs), and every ingest batch
  * prefilters executor-side: a key the filter rejects is DEFINITELY new
  * (no false negatives), so only the few candidate rows (true duplicates
  * + bloom false positives) verify against the corpus through a
  * key-pruned scan. The result is EXACT — false positives are verified
  * away — while the common continuous-ingest row never touches corpus
  * data at all.
  *
  * 100 TB shape: the filter costs ~1.2 bytes/key at 1% fpp — a 10⁹-key
  * corpus rides in ~1.2 GB of blobs shipped once per probe via the task
  * binary, with per-row work one xxhash64 + k bit tests inside
  * whole-stage codegen (Spark's own BloomFilterMightContain, the runtime
  * shuffle-join filter's expression). The per-bucket layout (one blob per
  * bucket(key, N) partition, the SAME murmur3 bucket transform the
  * corpus table partitions by) keeps every piece batch-scoped: a small
  * batch loads only its touched buckets' blobs, maintenance re-hashes
  * only the batch and rewrites only touched blobs (untouched blob bytes
  * carry forward undecoded), and the candidate verification's In
  * predicate projects through the same bucket transform so the scan
  * PLANS only candidate-key bucket files. Past ~10⁹ keys per artifact,
  * shard by table partition or fall back to the shuffle anti-join — the
  * backfill shape, where a full join is the right plan anyway.
  *
  * Artifact invariant (both probe and fold REQUIRE it): the CURRENT
  * snapshot always carries a membership filter covering every row at or
  * before it. Maintenance preserves it by committing the appended rows
  * and the folded filter in ONE catalog swap
  * ([[graft.table.AppendWriter.appendValidatedTransformed]]); a bare
  * append outside [[membershipIndexBatch]] breaks it, and the next
  * probe/fold refuses (rebuild via [[writeMembershipFilter]]).
  */
object Membership {

  /** Puffin blob type for one key-bucket's Bloom filter (engine-private,
    * like graft-kmv-distinct-v1; payload = Spark sketch-library V1 bloom
    * bytes over xxhash64(key) values). */
  val BlobType = "graft-bloom-membership-v1"

  val PropColumn = "graft.bloom.column"
  val PropExpectedPerBucket = "graft.bloom.expectedPerBucket"
  val PropNumBits = "graft.bloom.numBits"
  val PropInserted = "graft.bloom.inserted"

  /** Materialize a keyed corpus-of-record as a Graft table partitioned by
    * bucket(`keyCol`, `nBuckets`) — the layout both halves of the probe
    * exploit: per-bucket filter blobs on the prefilter side, In-predicate
    * manifest pruning on the verification side. Keys must be non-null
    * (dedup keys here are digests; a null key would hash and bucket to
    * engine-dependent sentinels on the SQL side). */
  def persistKeyedCorpus(rows: DataFrame, name: String,
      catalog: graft.catalog.Catalog, keyCol: String,
      nBuckets: Int = 16): GraftTable = {
    requireNonNullKeys(rows, keyCol, "corpus")
    val schema = IcebergSchema.fromSpark(rows.schema)
    val keyId = schema.fields.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(s"no column $keyCol in corpus")).id
    val spec = PartitionSpec(0,
      Seq(PartitionField(keyId, 1000, s"${keyCol}_bucket",
        Transform.Bucket(nBuckets))))
    val t = GraftTable.create(name, catalog, schema, spec,
      properties = Map(PropColumn -> keyCol))
    t.append(rows)
  }

  /** The key-bucket width of the corpus table's spec (mirrors the band
    * index's layout introspection — the artifact, not the caller, is the
    * source of truth for its own layout). */
  private def bucketsOf(t: GraftTable, keyCol: String): Int =
    t.spec.fields.collectFirst {
      case pf if pf.name == s"${keyCol}_bucket" => pf.transform match {
        case Transform.Bucket(n) => n
        case other => throw new IllegalStateException(
          s"${keyCol}_bucket partition field carries $other, expected bucket(n)")
      }
    }.getOrElse(throw new IllegalStateException(
      s"table ${t.metadata.location} has no bucket($keyCol) partition level — " +
        "build the corpus via persistKeyedCorpus"))

  /** One distributed pass: (bucket, bloom-blob) per non-empty key bucket.
    * BloomFilterAggregate is Spark's TypedImperativeAggregate behind the
    * runtime shuffle-join filter — per-task partial filters merge by
    * bitwise OR, so the driver sees one blob per bucket, never key data.
    * All buckets share (expectedItems, numBits) so every blob has the
    * same hash-function count — the compatibility [[BloomFilter
    * .mergeInPlace]] requires at fold time. */
  private def bucketBlooms(keyed: DataFrame, keyCol: String, nBuckets: Int,
      expectedPerBucket: Long, numBits: Long): Array[(Int, Array[Byte])] = {
    val bucket = graft.functions.IcebergBucketExpr
      .column(col(keyCol), nBuckets).as("_kb")
    val agg = GraftBridge.column(
      new BloomFilterAggregate(
        GraftBridge.expression(xxhash64(col(keyCol))),
        Literal(expectedPerBucket), Literal(numBits)).toAggregateExpression())
    keyed.select(bucket, col(keyCol))
      .groupBy(col("_kb")).agg(agg.as("_blob"))
      .collect()
      .map { r =>
        // a null key buckets to a null group — refuse HERE, inside the
        // collect this pass already pays, instead of a dedicated
        // null-scan job on the maintenance hot path
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          nullKeyMessage(keyCol, "filter-build/fold input"))
        (r.getInt(0), r.getAs[Array[Byte]](1))
      }
  }

  /** Build and register the membership filter for `t`'s CURRENT
    * snapshot: one Bloom blob per key bucket, written into a Puffin
    * statistics file and registered in table metadata for the snapshot
    * (set-statistics semantics — an existing entry for the snapshot is
    * replaced, with its NON-membership blobs carried forward so NDV
    * sketches and the membership filter coexist in the snapshot's one
    * statistics slot). Sizing derives from the snapshot's own
    * total-records (2× headroom for folds) unless given; both sizing
    * parameters are recorded as table properties — the fold's merge is
    * only defined at the build's exact (expectedItems, numBits).
    *
    * At-scale note: Spark caps BloomFilterAggregate via
    * spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits}
    * (defaults 4M items / 8 MB bits per bucket) — raise them or widen
    * nBuckets for corpora past ~64M keys per bucket-16 artifact. */
  def writeMembershipFilter(t: GraftTable, spark: SparkSession,
      keyCol: String, fpp: Double = 0.01,
      expectedPerBucket: Option[Long] = None): GraftTable = {
    requireColumn(t, keyCol)
    val nBuckets = bucketsOf(t, keyCol)
    val snapshotId = t.metadata.currentSnapshotId.getOrElse(
      throw new IllegalStateException(
        s"table ${t.metadata.location} has no snapshot to cover"))
    val totalRecords = t.metadata.currentSnapshot
      .flatMap(_.summary.get("total-records")).map(_.toLong).getOrElse(0L)
    val nPerBucket = expectedPerBucket.getOrElse(
      math.max(1024L, 2L * totalRecords / nBuckets))
    val numBits = BloomFilter.optimalNumOfBits(nPerBucket, fpp)
    val blobs = bucketBlooms(t.newScan().select(keyCol).toDF(spark),
      keyCol, nBuckets, nPerBucket, numBits)
    registerFilter(t, snapshotId, keyCol, blobs,
      carryForeign = true,
      properties = Map(
        PropColumn -> keyCol,
        PropExpectedPerBucket -> nPerBucket.toString,
        PropNumBits -> numBits.toString,
        PropInserted -> totalRecords.toString))
  }

  /** Write the blobs as a Puffin stats file for `snapshotId` and register
    * it (plus `properties`) in ONE metadata swap. With `carryForeign`,
    * non-membership blobs of an existing entry for the same snapshot are
    * re-written into the new file byte-for-byte. */
  private def registerFilter(t: GraftTable, snapshotId: Long, keyCol: String,
      blobs: Array[(Int, Array[Byte])], carryForeign: Boolean,
      properties: Map[String, String]): GraftTable = {
    val seq = t.metadata.lastSequenceNumber
    val keyId = t.schema.findField(keyCol).map(_.id).getOrElse(-1)
    val foreign: Seq[Puffin.Blob] =
      if (!carryForeign) Nil
      else t.metadata.statisticsFor(snapshotId).toSeq.flatMap { sf =>
        val (metas, _) = Puffin.readMetadata(t.io, sf.statisticsPath)
        metas.filterNot(_.blobType == BlobType).map { m =>
          Puffin.Blob(m.blobType, m.fields, m.snapshotId, m.sequenceNumber,
            Puffin.readBlob(t.io, sf.statisticsPath, m), m.properties, m.codec)
        }
      }
    val path = s"${t.location}/metadata/bloom-$snapshotId-" +
      s"${java.util.UUID.randomUUID()}.puffin"
    val metas = Puffin.write(t.io, path,
      blobs.sortBy(_._1).map { case (b, bytes) =>
        Puffin.Blob(BlobType, Seq(keyId), snapshotId, seq, bytes,
          Map("column" -> keyCol, "bucket" -> b.toString),
          codec = Some("zstd"))
      }.toSeq ++ foreign,
      Map("created-by" -> "graft"))
    val statsFile = statsEntry(t, snapshotId, path, metas, seq)
    graft.catalog.CommitRetry.run(t.catalog, t.name) { (base, _) =>
      val kept = base.statistics.filterNot(_.snapshotId == snapshotId)
      (base.copy(statistics = kept :+ statsFile,
        properties = base.properties ++ properties,
        lastUpdatedMs = System.currentTimeMillis()),
        (_: Int) => t.refresh())
    }
  }

  private def statsEntry(t: GraftTable, snapshotId: Long, path: String,
      metas: Seq[Puffin.BlobMetadata], seq: Long): StatisticsFile = {
    val fileSize = t.io.size(path)
    StatisticsFile(
      snapshotId = snapshotId,
      statisticsPath = path,
      fileSizeInBytes = fileSize,
      fileFooterSizeInBytes = fileSize - metas.map(m => m.offset + m.length).max,
      blobMetadata = metas.map(m => StatsBlobMetadata(
        m.blobType, snapshotId, seq, m.fields, m.properties)))
  }

  /** NULL keys are refused (mirrors the aggregate artifact's
    * requireNonNullGroups): the filter cannot hash or bucket a null
    * key, and the In-pruned verification would skip it. Dedup keys here
    * are digests; a null key means the digest expression itself is
    * broken. The HOT paths (probe, fold) detect the null ZERO-COST —
    * a null key surfaces as a null bucket group inside collects those
    * passes already pay (the r13 seal priced a dedicated null-scan job
    * at ~0.1–0.15 s per maintenance op, 3 jobs on the w09 composite) —
    * while the one-time corpus build keeps an explicit limit-1 scan. */
  private def nullKeyMessage(keyCol: String, what: String): String =
    s"$what contains NULL $keyCol keys — the membership filter cannot " +
      "hash or bucket a null key (and the corpus scan's In-pruned " +
      "verification would skip it); filter or coalesce the key column " +
      "upstream"

  private def requireNonNullKeys(rows: DataFrame, keyCol: String,
      what: String): Unit =
    require(rows.filter(col(keyCol).isNull).limit(1).count() == 0,
      nullKeyMessage(keyCol, what))

  private def requireColumn(t: GraftTable, keyCol: String): Unit =
    t.metadata.properties.get(PropColumn).foreach { c =>
      require(c == keyCol,
        s"membership corpus ${t.metadata.location} is keyed by $c; " +
          s"caller asked for $keyCol — refusing a filter over the wrong key")
    }

  /** The stats file covering `t`'s CURRENT snapshot: its path, the
    * membership blobs' footer entries, any FOREIGN blobs' entries (NDV
    * sketches etc. sharing the snapshot's one statistics slot — folds
    * must carry them forward), and the recorded filter sizing. */
  private final case class FilterFile(path: String,
      membership: Seq[Puffin.BlobMetadata],
      foreign: Seq[Puffin.BlobMetadata],
      expectedPerBucket: Long, numBits: Long)

  /** The membership blobs covering `t`'s CURRENT snapshot (footer read
    * only — callers pick which buckets' payloads to decode). Refuses
    * when the current snapshot has no filter — the artifact invariant is
    * broken (a bare append moved the table past its filter) and serving
    * definite-new verdicts from a stale filter would be WRONG (a key
    * appended since the filter was built would probe as definitely-new). */
  private def filterMetas(t: GraftTable): FilterFile = {
    val snapshotId = t.metadata.currentSnapshotId.getOrElse(
      throw new IllegalStateException(
        s"table ${t.metadata.location} has no snapshot"))
    val sf = t.metadata.statisticsFor(snapshotId).getOrElse(
      throw new IllegalStateException(
        s"membership corpus ${t.metadata.location} has no statistics file " +
          s"for its current snapshot $snapshotId — the filter does not cover " +
          "the table's rows (did something append outside " +
          "membershipIndexBatch?); rebuild via writeMembershipFilter"))
    val (metas, _) = Puffin.readMetadata(t.io, sf.statisticsPath)
    val mine = metas.filter(_.blobType == BlobType)
    if (mine.isEmpty) throw new IllegalStateException(
      s"statistics file ${sf.statisticsPath} carries no $BlobType blobs — " +
        "rebuild via writeMembershipFilter")
    val n = t.metadata.properties.getOrElse(PropExpectedPerBucket,
      throw new IllegalStateException(
        s"membership corpus ${t.metadata.location} records no " +
          s"$PropExpectedPerBucket — sizing unprovable, fold undefined; " +
          "rebuild via writeMembershipFilter")).toLong
    val m = t.metadata.properties(PropNumBits).toLong
    FilterFile(sf.statisticsPath, mine,
      metas.filterNot(_.blobType == BlobType), n, m)
  }

  /** Read selected buckets' blobs (None = all). The probe passes its
    * TOUCHED bucket set so a small batch pays blob IO proportional to
    * the buckets it can actually hit, not the whole filter — the footer
    * metadata (read once above) is enough to skip the rest. */
  private def readBuckets(t: GraftTable, path: String,
      metas: Seq[Puffin.BlobMetadata],
      wanted: Option[Set[Int]]): Map[Int, Array[Byte]] =
    metas.iterator
      .map(m => m.properties("bucket").toInt -> m)
      .filter { case (b, _) => wanted.forall(_.contains(b)) }
      .map { case (b, m) => b -> Puffin.readBlob(t.io, path, m) }
      .toMap

  /** Total touched-blob bytes above which [[mightContainCol]] ships the
    * blobs as an explicit broadcast VARIABLE instead of binary Literals
    * in the when-chain. Measured (BENCH_PLANCOST.json, local[32],
    * 100k-row batch, 4 buckets): the literal chain runs 0.30 s
    * end-to-end at 4 MB total, 1.22 s at 32 MB, and HARD-FAILS at
    * 256 MB — every task deserializes the taskBinary, so plan bytes
    * multiply by the concurrent task count
    * (32 × 256 MB ≈ the whole 8 g heap; tasks die in deserialization
    * with "unread block data") — while the broadcast variant is flat
    * 0.05–0.09 s at every size (one torrent ship, one deserialize per
    * executor per bucket). Both paths stay inside whole-stage codegen
    * (the broadcast side via [[graft.functions.BloomBlobMightContainExpr]]
    * — r13's scala-UDF row boundary is gone); the literal chain remains
    * preferable below the threshold only because it ships no separate
    * broadcast block and needs no per-executor cache slot.
    * Overridable for tests/ops via -Dgraft.membership.literalBlobBytesMax. */
  private[pipeline] def literalBlobBytesMax: Long =
    sys.props.get("graft.membership.literalBlobBytesMax").map(_.toLong)
      .getOrElse(16L * 1024 * 1024)

  /** Thread-local sink for broadcasts the probe mints (null = inactive —
    * one-shot [[newKeys]] callers must NOT have their broadcast pinned
    * here past the call, so recording only happens under
    * [[collectProbeBroadcasts]]). */
  private val probeBroadcastSink = new ThreadLocal[
    java.util.ArrayList[(org.apache.spark.broadcast.Broadcast[_], String)]]()

  private def recordProbeBroadcast(
      bc: org.apache.spark.broadcast.Broadcast[_], token: String): Unit = {
    val s = probeBroadcastSink.get()
    if (s != null) s.add((bc, token))
  }

  /** Run `body`, then RELEASE every broadcast the probe created inside
    * it — the continuous-ingest loop mints a fresh filter broadcast per
    * trigger, and leaving each to GC + ContextCleaner lets driver and
    * executor broadcast blocks pile up for as long as GC pressure stays
    * low. Safe because callers invoke this only after the probe's
    * verdicts are MATERIALIZED (local-checkpointed), so no surviving
    * plan re-executes the probe; under the persist/none materialize
    * modes a recompute could, so the release degrades to
    * `unpersist` (executor blocks drop, the driver value can
    * re-broadcast on demand). */
  private def collectProbeBroadcasts[T](spark: SparkSession)(body: => T): T = {
    val outer = probeBroadcastSink.get()
    val mine = new java.util.ArrayList[
      (org.apache.spark.broadcast.Broadcast[_], String)]()
    probeBroadcastSink.set(mine)
    try body
    finally {
      probeBroadcastSink.set(outer)
      val hard = spark.conf
        .get("spark.graft.pipeline.materialize", "local-checkpoint") ==
        "local-checkpoint"
      mine.forEach { case (bc, token) =>
        try { if (hard) bc.destroy() else bc.unpersist(false) }
        catch { case _: Throwable => () }
        // the trigger's deserialized filters must not outlive its
        // broadcast in the blob cache (VERDICT r14 item 2)
        BloomBlobCache.invalidateToken(token)
      }
    }
  }

  /** might-contain Column for a key expression against per-bucket blobs:
    * a when-chain over the TOUCHED buckets only (the caller computed them
    * from the batch itself, so every batch row hits exactly one branch);
    * a touched bucket with no blob means the corpus holds no keys there —
    * definitely new. Each branch is Spark's codegen'd
    * BloomFilterMightContain over the same xxhash64 the build aggregated,
    * with the blob riding as a binary literal (shipped once per stage via
    * the broadcast task binary — but deserialized once per TASK, which is
    * why blob totals past [[literalBlobBytesMax]] switch to an explicit
    * broadcast variable probed through the codegen
    * [[graft.functions.BloomBlobMightContainExpr]] + per-executor cache:
    * same verdicts, plan-size-free, measured flat at 256 MB where the
    * literal path dies). Broadcast lifetime: [[ingestBatch]] (the
    * continuous-ingest loop, a fresh broadcast per trigger) destroys each
    * trigger's broadcast as soon as its admissions are materialized —
    * see [[recordProbeBroadcast]]; one-shot [[newKeys]] callers lean on
    * Spark's ContextCleaner once the returned Column's plan is
    * unreachable. */
  private def mightContainCol(touched: Seq[Int], blobs: Map[Int, Array[Byte]],
      keyCol: String, nBuckets: Int): Column = {
    val bucket = graft.functions.IcebergBucketExpr.column(col(keyCol), nBuckets)
    val keyHash = xxhash64(col(keyCol))
    val totalBytes = blobs.valuesIterator.map(_.length.toLong).sum
    if (totalBytes > literalBlobBytesMax) {
      val spark = SparkSession.active
      val bc = spark.sparkContext.broadcast(blobs)
      val token = java.util.UUID.randomUUID().toString
      recordProbeBroadcast(bc, token)
      graft.functions.BloomBlobMightContainExpr.column(bucket, keyHash, bc,
        token)
    } else touched.foldLeft(lit(false)) { (acc, b) =>
      blobs.get(b) match {
        case None => acc // empty corpus bucket: nothing to contain
        case Some(bytes) =>
          val mc = GraftBridge.column(BloomFilterMightContain(
            Literal.create(bytes, BinaryType),
            GraftBridge.expression(keyHash)))
          when(bucket === lit(b), mc).otherwise(acc)
      }
    }
  }

  /** EXACT `batch \ corpus` by key, served from the membership filter:
    * rows the filter rejects are definitely new (no bloom false
    * negatives) and never touch corpus data; the remaining candidates
    * (true duplicates + false positives) verify through ONE anti-join
    * whose corpus side is the In-pruned scan — candidate keys project
    * through the bucket transform, so the verification PLANS only the
    * candidate keys' bucket files. Output = the batch rows whose key is
    * not in the corpus, batch schema unchanged (duplicate keys WITHIN the
    * batch are the caller's concern — this operator answers membership).
    *
    * O(batch) at any corpus size on the serving path: the batch hashes
    * once, touched-bucket discovery is a ≤nBuckets-row collect, candidate
    * keys are a bounded collect ([[Serving.MaxProbeKeys]] — past it the
    * verification degrades to the full-scan anti-join, the backfill shape
    * where that IS the right plan). */
  def newKeys(t: GraftTable, spark: SparkSession, batch: DataFrame,
      keyCol: String): DataFrame = {
    requireColumn(t, keyCol)
    val nBuckets = bucketsOf(t, keyCol)
    val ff = filterMetas(t)
    // the batch feeds three consumers (touched-bucket collect, both
    // prefilter branches) — materialize once, batch-bounded
    val b = Curation.materialize(batch)
    val bucket = graft.functions.IcebergBucketExpr.column(col(keyCol), nBuckets)
    // ≤ nBuckets+1 rows by construction; a null key surfaces as a null
    // bucket row — refused here, zero extra jobs on the probe path
    val touched = b.select(bucket.as("_kb")).distinct()
      .collect().map { r =>
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          nullKeyMessage(keyCol, "probe batch"))
        r.getInt(0)
      }.toSeq
    // touched buckets FIRST, then blob IO for exactly those buckets —
    // a small batch reads O(touched) filter bytes, not the whole artifact
    val blobs = readBuckets(t, ff.path, ff.membership, Some(touched.toSet))
    val might = mightContainCol(touched, blobs, keyCol, nBuckets)
    val definiteNew = b.filter(!might)
    val candidates = Curation.materialize(b.filter(might))
    val keys = candidates.select(col(keyCol)).distinct()
      .take(Serving.MaxProbeKeys + 1)
    val corpusKeys =
      (if (keys.length <= Serving.MaxProbeKeys)
        t.newScan().withFilter(
          SetPred(PIn, keyCol, keys.map(_.get(0)).toSet[Any]))
      else t.newScan())
        .select(keyCol).toDF(spark)
    val falsePositives = candidates.join(corpusKeys, Seq(keyCol), "left_anti")
    // by NAME: the USING-column join moves the key column first in its
    // output, so a positional union would misalign the batch's schema
    definiteNew.unionByName(falsePositives)
  }

  /** Re-attach the filter after COMPACTION: `Maintenance.rewriteDataFiles`
    * creates a `replace` snapshot — same rows, new files — which has no
    * statistics entry, so the next probe/fold would refuse (the artifact
    * invariant reads "current snapshot covered"). A replace snapshot
    * preserves the key multiset BY DEFINITION, so the parent chain's
    * latest membership filter is still exactly correct — re-register it
    * for the current snapshot. Refused for any other lineage (an append/
    * delete between the filter and now means the filter genuinely does
    * not cover the data; rebuild instead). Walks ancestors because a
    * maintenance pass may stack several replace snapshots (compaction +
    * manifest rewrite) before the operator re-attaches. */
  def reattachAfterRewrite(t: GraftTable): GraftTable = {
    val cur0 = t.metadata.currentSnapshotId.getOrElse(
      throw new IllegalStateException(
        s"table ${t.metadata.location} has no snapshot"))
    if (t.metadata.statisticsFor(cur0).isDefined) return t // already covered
    // The walk and the commit see ONE metadata version: the discovery
    // re-runs inside the CAS loop against the freshly-loaded base, so a
    // racing expireSnapshots (which drops ancestor snapshots, their
    // statistics entries, and the stats FILES) either lands before this
    // attempt's load — the walk then refuses on the post-expiry base —
    // or after it, which fails this attempt's CAS and re-derives. A
    // stale handle can never commit a pointer to a just-deleted path;
    // the existence check below closes the delete-files-before-commit
    // ordering too (refusal, not a dangling entry).
    graft.catalog.CommitRetry.run(t.catalog, t.name) { (base, _) =>
      val cur = base.currentSnapshotId.getOrElse(
        throw new IllegalStateException(
          s"table ${t.metadata.location} has no snapshot"))
      if (base.statisticsFor(cur).isDefined)
        (base, (_: Int) => t.refresh()) // raced re-attach: idempotent
      else {
        val byId = base.snapshots.map(s => s.snapshotId -> s).toMap
        var walk = byId.get(cur)
        var covered: Option[graft.spec.StatisticsFile] = None
        while (covered.isEmpty && walk.isDefined) {
          val s = walk.get
          require(s.operation == "replace",
            s"snapshot ${s.snapshotId} is '${s.operation}', not a data-" +
              "preserving replace — the filter does not cover the current " +
              "rows; rebuild via writeMembershipFilter")
          walk = s.parentSnapshotId.flatMap(byId.get)
          covered = walk.flatMap(p => base.statisticsFor(p.snapshotId))
        }
        val sf = covered.getOrElse(throw new IllegalStateException(
          s"no ancestor of snapshot $cur carries a membership filter — " +
            "rebuild via writeMembershipFilter"))
        if (!t.io.exists(sf.statisticsPath))
          throw new IllegalStateException(
            s"ancestor snapshot ${sf.snapshotId}'s statistics file " +
              s"${sf.statisticsPath} is registered in metadata but missing " +
              "on storage — a snapshot expiry deleted it under this " +
              "re-attach; rebuild via writeMembershipFilter")
        // MOVE the entry rather than copying it: snapshot expiry deletes
        // the statisticsPath of every dropped entry, so a second
        // registration sharing the ancestor's path would be left dangling
        // when the ancestor expires — with the ancestor's registration
        // removed here, the file lives exactly as long as the (one)
        // entry referencing it
        val kept = base.statistics.filterNot(s =>
          s.snapshotId == cur || (s.snapshotId == sf.snapshotId &&
            s.statisticsPath == sf.statisticsPath))
        (base.copy(statistics = kept :+ sf.copy(snapshotId = cur),
          lastUpdatedMs = System.currentTimeMillis()),
          (_: Int) => t.refresh())
      }
    }
  }

  /** One ingest-admission round: probe `batch` against the filter
    * ([[newKeys]]), ADMIT the first row per key within the batch (min
    * `orderCol` — newKeys answers membership against the corpus, not
    * intra-batch uniqueness), hand the admissions to `emit`, fold them
    * atomically, and return (admitted, grown table). The per-trigger
    * unit of [[graft.streaming.StreamingMembership.dedupIngest]].
    *
    * Concurrency: probe, admission, AND fold re-derive together on a
    * [[graft.table.StaleBaseSnapshot]] miss — the admitted set is part
    * of the read-modify-write (it was derived from the snapshot the
    * commit validates), so two ingesters racing the same key serialize:
    * the second's re-probe sees the first's fold and drops the key.
    * Folding a stale admitted set would double-ingest it.
    *
    * Delivery: `emit` runs BEFORE the fold commits, so it is
    * at-least-once — a re-derivation (or a foreachBatch trigger replay
    * that crashed between emit and fold) re-emits, and an abort after
    * emit can deliver rows the table never ingested; idempotent sinks
    * key on the rows themselves. The TABLE is exactly-once either way: a
    * replay after the fold probes everything as duplicate and does not
    * move the table. */
  def ingestBatch(t: GraftTable, batch: DataFrame, keyCol: String,
      orderCol: String,
      emit: DataFrame => Unit = _ => ()): (DataFrame, GraftTable) = {
    requireColumn(t, keyCol)
    val nBuckets = bucketsOf(t, keyCol)
    var admitted: DataFrame = null
    val grown = Serving.retryDerivation(t, "ingestBatch") { current =>
      // the probe's broadcast (over-threshold filters) is released as
      // soon as the admissions are materialized — a continuous trigger
      // loop must not accumulate a broadcast block per trigger
      val adm = collectProbeBroadcasts(batch.sparkSession) {
        val fresh = newKeys(current, batch.sparkSession, batch, keyCol)
        Curation.materialize(fresh
          .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(keyCol)).orderBy(col(orderCol))))
          .filter(col("_rn") === 1).drop("_rn"))
      }
      admitted = adm
      emit(adm)
      val n = adm.count()
      if (n == 0) current else foldAttempt(current, adm, keyCol, nBuckets, n)
    }
    (admitted, grown)
  }

  /** Membership MAINTENANCE: append `newRows` to the corpus AND fold
    * their keys into the filter in ONE atomic catalog swap — the
    * artifact invariant (current snapshot always covered) can never be
    * observed broken, and a crash between the puffin write and the
    * commit leaves only an unregistered orphan file. Work is O(batch)
    * CPU (only the batch hashes; only touched buckets' blobs decode and
    * merge — bloom merge is bitwise OR, so fold ≡ rebuild bit-for-bit at
    * the same sizing) plus O(filter bytes) IO for the new stats file
    * (untouched blob bytes carry forward undecoded).
    *
    * Concurrency (SERIALIZABLE, same discipline as the band/inverted
    * index maintenance): the fold reads blobs at a snapshot and the
    * commit validates the table still sits there
    * ([[graft.table.AppendWriter.appendValidatedTransformed]] throws
    * [[graft.table.StaleBaseSnapshot]]); a miss deletes this attempt's
    * puffin, refreshes, and re-derives — two racing folds serialize
    * instead of the second overwriting the first's bits out of the
    * statistics slot. The caller's CONTRACT is "append exactly these
    * rows": re-derivation re-merges bits but never re-decides the rows —
    * an admission that must react to concurrent folds belongs in
    * [[ingestBatch]], whose probe re-derives too.
    *
    * Saturation: `graft.bloom.inserted` tracks the total keys folded;
    * fpp degrades (never correctness — verification stays exact) as it
    * crosses the recorded expectedPerBucket × nBuckets. Rebuild at 2×. */
  def membershipIndexBatch(t: GraftTable, newRows: DataFrame,
      keyCol: String): GraftTable = {
    requireColumn(t, keyCol)
    val nBuckets = bucketsOf(t, keyCol)
    // null keys are refused inside foldAttempt's bucketBlooms collect
    // (zero extra jobs on the maintenance path)
    val batch = Curation.materialize(newRows)
    val batchRows = batch.count()
    if (batchRows == 0) return t
    Serving.retryDerivation(t, "membershipIndexBatch") { current =>
      foldAttempt(current, batch, keyCol, nBuckets, batchRows)
    }
  }

  /** ONE fold derivation + validated commit against `current` — throws
    * [[graft.table.StaleBaseSnapshot]] for the caller's retry loop to
    * re-derive (and, in [[ingestBatch]]'s case, re-probe). */
  private def foldAttempt(current: GraftTable, batch: DataFrame,
      keyCol: String, nBuckets: Int, batchRows: Long): GraftTable = {
    locally {
      val readSnapshot = current.metadata.currentSnapshotId
      val ff = filterMetas(current)
      val batchBlooms = bucketBlooms(batch.select(keyCol), keyCol, nBuckets,
        ff.expectedPerBucket, ff.numBits)
      // only the batch's TOUCHED buckets decode and merge (bloom merge is
      // bitwise OR, so fold ≡ rebuild bit-for-bit at the same sizing);
      // untouched membership blobs and FOREIGN blobs (NDV sketches etc.
      // coexisting in the snapshot's one statistics slot) carry forward
      // byte-for-byte in their stored (compressed) form — the fold's CPU
      // is O(batch + touched blobs), its IO O(filter bytes)
      val touched = batchBlooms.map(_._1).toSet
      val existing = readBuckets(current, ff.path, ff.membership,
        Some(touched))
      val merged = batchBlooms.map { case (b, bytes) =>
        existing.get(b) match {
          case None => (b, bytes)
          case Some(old) =>
            val f = BloomFilter.readFrom(old)
            f.mergeInPlace(BloomFilter.readFrom(bytes))
            val out = new java.io.ByteArrayOutputStream()
            f.writeTo(out)
            (b, out.toByteArray)
        }
      }.sortBy(_._1)
      val untouched = ff.membership
        .filterNot(m => touched(m.properties("bucket").toInt))
        .sortBy(_.properties("bucket").toInt)
        .map(m => (m, Puffin.readBlobStored(current.io, ff.path, m)))
      val foreignRaw = ff.foreign
        .map(m => (m, Puffin.readBlobStored(current.io, ff.path, m)))
      val inserted = current.metadata.properties
        .get(PropInserted).map(_.toLong).getOrElse(0L) + batchRows
      var puffinPath: String = null
      try AppendWriter.appendValidatedTransformed(current, batch,
        readSnapshot) { snapshotId =>
        val seq = current.metadata.lastSequenceNumber + 1
        val keyId = current.schema.findField(keyCol).map(_.id).getOrElse(-1)
        val path = s"${current.location}/metadata/bloom-$snapshotId-" +
          s"${java.util.UUID.randomUUID()}.puffin"
        puffinPath = path
        val metas = Puffin.write(current.io, path,
          merged.map { case (b, bytes) =>
            Puffin.Blob(BlobType, Seq(keyId), snapshotId, seq, bytes,
              Map("column" -> keyCol, "bucket" -> b.toString),
              codec = Some("zstd"))
          }.toSeq ++
            untouched.map { case (m, raw) =>
              Puffin.Blob(BlobType, Seq(keyId), snapshotId, seq,
                Array.emptyByteArray, m.properties, m.codec,
                storedData = Some(raw))
            } ++
            foreignRaw.map { case (m, raw) =>
              Puffin.Blob(m.blobType, m.fields, m.snapshotId,
                m.sequenceNumber, Array.emptyByteArray, m.properties,
                m.codec, storedData = Some(raw))
            },
          Map("created-by" -> "graft"))
        val statsFile = statsEntry(current, snapshotId, path, metas, seq)
        md => md.copy(
          statistics = md.statistics.filterNot(_.snapshotId == snapshotId)
            :+ statsFile,
          properties = md.properties + (PropInserted -> inserted.toString))
      } catch {
        case e: graft.table.StaleBaseSnapshot =>
          // this attempt's filter file can never be registered — reclaim
          // it before the re-derivation writes a fresh one
          if (puffinPath != null)
            try current.io.delete(puffinPath) catch { case _: Throwable => () }
          throw e
      }
    }
  }
}

/** Per-executor cache of deserialized Bloom filters for the broadcast
  * probe path, keyed (cache token, bucket): the probe would otherwise
  * deserialize megabytes per ROW. The token is a fresh UUID minted with
  * each broadcast (never a broadcast id: ids restart from 0 with each
  * new SparkContext, so in a JVM that restarts its session a stale
  * entry could be served for a NEW filter's broadcast — a key present
  * in the real filter probing as definitely-new would break the
  * no-false-new safety contract).
  *
  * Bounded by accumulated FILTER BYTES, not entry count (VERDICT r14
  * item 2: each entry is one bucket's deserialized filter, and exactly
  * on the big-corpus path this cache exists for — per-bucket blobs of
  * tens of MB past the 16 MB broadcast switch — a 64-ENTRY bound could
  * pin multiple GB per executor). Eviction is LRU from the eldest until
  * the total fits [[maxBytes]] (default 512 MB, sized to a fraction of
  * a typical multi-GB executor heap; override with
  * -Dgraft.membership.blobCacheBytesMax); the just-probed entry is
  * never evicted even if it alone exceeds the cap — it is in active use
  * and re-deserializing it per row is the failure mode the cache
  * prevents. A secondary [[MaxEntries]] guard bounds the map when blobs
  * are tiny. A destroyed broadcast's entries (the ingest loop mints a
  * fresh token per trigger) are dropped eagerly via [[invalidateToken]]
  * when [[Membership.collectProbeBroadcasts]] releases the broadcast —
  * in the same JVM (local mode, the tested deployment) that is
  * immediate; a remote executor's copies fall to the byte-bounded LRU. */
private[graft] object BloomBlobCache {
  private val MaxEntries = 1024
  private def maxBytes: Long =
    sys.props.get("graft.membership.blobCacheBytesMax").map(_.toLong)
      .getOrElse(512L << 20)
  private final case class Entry(filter: Option[BloomFilter], bytes: Long)
  private var totalBytes = 0L
  private val cache =
    new java.util.LinkedHashMap[(String, Int), Entry](256, 0.75f, true)

  def get(token: String, bucket: Int,
      load: () => Array[Byte]): Option[BloomFilter] = cache.synchronized {
    val k = (token, bucket)
    val hit = cache.get(k)
    if (hit != null) hit.filter
    else {
      val raw = load()
      val v = Option(raw).map(b => BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(b)))
      val e = Entry(v, if (raw == null) 0L else raw.length.toLong)
      cache.put(k, e)
      totalBytes += e.bytes
      // access-ordered map: iteration starts at the least recently
      // used; skip the entry just inserted (always the newest)
      val it = cache.entrySet().iterator()
      while ((totalBytes > maxBytes || cache.size() > MaxEntries) &&
          cache.size() > 1 && it.hasNext) {
        val eld = it.next()
        if (eld.getKey != k) { totalBytes -= eld.getValue.bytes; it.remove() }
      }
      v
    }
  }

  /** Drop every entry of a released trigger's token (this JVM's copies;
    * see class doc for the remote-executor story). */
  def invalidateToken(token: String): Unit = cache.synchronized {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == token) { totalBytes -= e.getValue.bytes; it.remove() }
    }
  }

  /** Test hooks: current accumulated filter bytes / live tokens / reset. */
  private[graft] def cachedBytes: Long = cache.synchronized(totalBytes)
  private[graft] def cachedTokens: Set[String] = cache.synchronized {
    val b = Set.newBuilder[String]
    cache.keySet().forEach(k => b += k._1)
    b.result()
  }
  private[graft] def clearAll(): Unit = cache.synchronized {
    cache.clear(); totalBytes = 0L
  }

  /** Static entry point for [[graft.functions.BloomBlobMightContainExpr]]
    * generated code (and its interpreted eval): one cached-deserialize
    * per (token, bucket) per executor, then k bit tests per row. A
    * touched bucket absent from the map holds no corpus keys —
    * definitely new. */
  def mightContain(token: String, bc: org.apache.spark.broadcast.Broadcast[Map[Int, Array[Byte]]],
      bucket: Int, hash: Long): Boolean =
    get(token, bucket, () => bc.value.get(bucket).orNull)
      .exists(_.mightContainLong(hash))
}
