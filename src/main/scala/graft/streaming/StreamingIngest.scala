package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.core.{Blacklist, Concurrent}
import graft.operators.GraphiteOps

/**
 * Structured Streaming ingest job: spool dir -> points / points_reverse /
 * index / tagged tables, one micro-batch per spool-visible chunk set.
 *
 * Architecture mirrors the reference end-to-end (SURVEY §3.1) with Spark
 * constructs replacing its hand-built stages:
 *   spool chunks            = writer/writer.go chunk files
 *   micro-batch trigger     = 1 s chunk rotation cadence
 *   foreachBatch fan-out    = symlink fan-out to N uploaders
 *   ExistsCache per table   = cross-chunk exists-cache (uploader/cmap.go)
 *   clearExistsCache()      = SIGUSR1 cache clear (carbon-clickhouse.go:146)
 *   checkpoint dir          = done-marker / LinkAll crash recovery
 *
 * Table layout: every micro-batch writes into its own
 * `batch=b<batchId>` subdirectory (a partition column under the table
 * root), so a batch REPLAYED after a partial failure overwrites exactly
 * its own output — the four per-table appends become idempotent without
 * a transactional format. Readers see the batch dirs as one partitioned
 * table.
 *
 * Exists-cache scale design: each expansion table (index, tagged, each
 * enabled legacy table) has one driver-resident [[ExistsCache]], the
 * reference's CMap (uploader/cmap.go:10-141). A batch collects its own
 * distinct expansion rows to the driver (at most one row per expansion
 * key of the batch: that is the driver-side bound), keeps the rows whose
 * key no live bucket holds, and writes only those. Keys enter the cache
 * only after every write of the batch succeeded (uploader/cached.go:
 * 108-110). Buckets are `udate` (receive-time) days; a bucket older than
 * `today - cacheTtlDays` expires whole, so memory is the live keys within
 * the TTL per table, and a series silent for longer than the TTL is
 * re-emitted with a newer version, absorbed by the last-write-wins read
 * views (uploader/cmap.go:97-141). Replay rule: a batch re-run under the
 * same id ignores the entries it wrote itself, so it rewrites its own
 * `batch=b<id>` dir in full. Restart: the first batch of a new instance
 * seeds the caches once from the tables, reading only partitions with
 * `udate >= today - cacheTtlDays`, so a restart re-emits nothing.
 */
final class StreamingIngest(
    spark: SparkSession,
    spoolDir: String,
    tablesDir: String,
    checkpointDir: String,
    blacklist: Option[Blacklist] = None,
    disableDailyIndex: Boolean = false,
    utcDate: Boolean = true,
    maxFilesPerTrigger: Option[Int] = None,
    cacheTtlDays: Int = 1,
    ignoredTaggedMetrics: Set[String] = Set.empty,
    legacyTables: Set[String] = Set.empty, // of: tree, series, series-reverse
    hashCacheKeys: Boolean = false,
    cleanSpool: Boolean = true,
    compactEveryBatches: Option[Int] = None, // online fold cadence; None = off
    treeDate: Option[java.sql.Date] = None // tree-row date; None = day 42
) {
  require(legacyTables.subsetOf(StreamingIngest.LegacyTypes),
    s"unknown legacy table types: ${legacyTables -- StreamingIngest.LegacyTypes}")

  private val spoolSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("value", DoubleType),
    StructField("time", LongType),
    StructField("version", LongType)))

  private def pointsPath = s"$tablesDir/points"
  private def pointsReversePath = s"$tablesDir/points_reverse"
  private def indexPath = s"$tablesDir/index"
  private def taggedPath = s"$tablesDir/tagged"
  private def legacyPath(typ: String) = s"$tablesDir/${typ.replace('-', '_')}"

  /** SIGUSR1 equivalent: the next micro-batch starts from empty
    * exists-caches and re-emits every series it sees (duplicates are
    * harmless under the LWW read views — same contract as the
    * reference's cache clear). The maps are emptied on the stream
    * thread, so a clear never races a batch's lookups. */
  private val cacheClearRequested = new java.util.concurrent.atomic.AtomicBoolean(false)
  def clearExistsCache(): Unit = cacheClearRequested.set(true)

  /** The streaming source: completed spool chunks as a CSV stream.
    * cleanSource=delete removes consumed chunks (the reference's
    * uploaders delete handled chunks, writer/cleanup.go) — without it
    * the spool grows forever and the auto-interval backpressure signal
    * (SpoolWriter.unhandledChunks) never drains. */
  private def source(): DataFrame = {
    val r = spark.readStream
      .schema(spoolSchema)
      .option("sep", "\t")
      .option("pathGlobFilter", "*.{tsv,tsv.gz,tsv.lz4}") // never read in-flight .tmp chunks; .gz/.lz4 decompress by extension
    if (cleanSpool) r.option("cleanSource", "delete")
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.csv(spoolDir)
  }

  private def udateCol = date_from_unix_date((col("version") / 86400L).cast("int"))

  /** Write one batch's slice of a table into its own batch=b<id> dir;
    * mode=overwrite makes a replayed batch idempotent. */
  private def writeBatch(df: DataFrame, tableRoot: String, batchId: Long,
                         partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val sorted = if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*) else df
    sorted.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(s"$tableRoot/batch=b$batchId")
  }

  private def ttlCutoff: java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.now(java.time.ZoneOffset.UTC).minusDays(cacheTtlDays.toLong))

  /** The restart seed of an exists-cache: the key columns, `udate` and
    * `batch` dir of rows uploaded within the TTL window. The literal
    * udate filter prunes table partitions at plan time — this scan must
    * NOT grow with total index history. */
  private[streaming] def existingKeysWithinTtl(path: String, keys: StructType): DataFrame =
    Tables.read(spark, path, StructType(keys.fields ++ Tables.columns("udate", "batch")))
      .filter(col("udate") >= lit(ttlCutoff))

  /** One expansion table: its root, its key columns and its exists-cache. */
  private final class Expansion(val root: String, val keys: StructType) {
    val name: String = new org.apache.hadoop.fs.Path(root).getName
    val cache = new ExistsCache
    def keyCols: Seq[String] = keys.fieldNames.toSeq
  }

  private val indexExp = new Expansion(indexPath, Tables.columns("date", "level", "path"))
  private val taggedExp = new Expansion(taggedPath, Tables.columns("date", "tag1", "path"))
  private val legacyExps = legacyTables.toSeq.sorted.map(typ =>
    typ -> new Expansion(legacyPath(typ), Tables.columns("date", "level", "path")))
  private def expansions: Seq[Expansion] = indexExp +: taggedExp +: legacyExps.map(_._2)
  private var cachesSeeded = false

  /** Each exists-cache's counters for the last committed batch, by table
    * (`index`, `tagged`, `tree`, `series`, `series_reverse`). */
  def existsCacheStats: Seq[(String, ExistsCache.Stats)] = expansions.map(e => e.name -> e.cache.stats)

  /**
   * Exists-cache key of an expansion row: the composite key, or with
   * `hashCacheKeys` (the reference's `hash = "city64"` option,
   * uploader/hash.go:9-25) its 8-byte xxhash64 — less memory per entry
   * at the same accepted risk: a hash collision suppresses a genuinely
   * new series row.
   */
  private def cacheKey(e: Expansion): Column = {
    val composite = concat_ws("\u0000", e.keyCols.map(col): _*)
    if (hashCacheKeys) xxhash64(composite) else composite
  }

  /** Restart: fill one cache from the keys its table holds within the
    * TTL. Entries keep the id of the `batch=b<id>` dir they were read
    * from, so the replay rule also holds for the first batch after a
    * restart; compacted dirs hold only older, committed batches. */
  private def seed(e: Expansion): Unit = {
    e.cache.clear()
    existingKeysWithinTtl(e.root, e.keys)
      .select(cacheKey(e), unix_date(col("udate")), col("batch"))
      .collect()
      .foreach { r =>
        val dir = r.getString(2)
        val writer = if (dir.startsWith("b")) dir.drop(1).toLong else -1L
        e.cache.add(r.getInt(1), r.get(0), writer)
      }
  }

  /** What one expansion write leaves for the commit step. */
  private final class Written(val e: Expansion, val keys: Seq[(Int, Any)], val checked: Long)

  /**
   * Writes the rows of `rows` (one per expansion key) that the table's
   * exists-cache does not hold into this batch's dir, clustered by key.
   * With nothing new, the batch's own dir is removed instead, so a
   * replay never leaves a stale partial output and no write job runs.
   */
  private def writeNew(rows: DataFrame, e: Expansion, batchId: Long): Written = {
    val n = rows.schema.length
    val collected = rows.select(col("*"), cacheKey(e), unix_date(col("udate"))).collect()
    val fresh = collected.filterNot(r => e.cache.contains(r.get(n), batchId))
    if (fresh.isEmpty) {
      val dir = new org.apache.hadoop.fs.Path(s"${e.root}/batch=b$batchId")
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    } else {
      val out = fresh.toSeq.map(r => Row.fromSeq(r.toSeq.take(n)))
      // one task: a batch's new keys make one file per udate
      writeBatch(spark.createDataFrame(out.asJava, rows.schema).coalesce(1), e.root, batchId,
        Seq("udate"), sortCols = "udate" +: e.keyCols)
    }
    new Written(e, fresh.toSeq.map(r => (r.getInt(n + 1), r.get(n))), collected.length.toLong)
  }

  /**
   * One micro-batch: fan the canonical points out to all tables.
   *
   * The first driver action per batch is one stats aggregate over the
   * cached batch (materializing the cache in the process); it gates
   * empty batches and lets the tagged/legacy writes be skipped when
   * the batch carries no rows for them. The per-table writes then run
   * CONCURRENTLY, one [[Concurrent.all]] chain each — the reference
   * uploads tables from parallel per-uploader threads
   * (uploader/base.go:65-214), and the jobs are independent appends
   * over the shared cached batch; each expansion table collects its
   * rows and checks them against its exists-cache (see [[writeNew]]).
   * A failure in any write (or a stop that interrupts the stream
   * thread) cancels the sibling writes, settles them all, fails the
   * batch and commits nothing to the caches; the replay overwrites the
   * same batch dirs.
   */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val pts = GraphiteOps.withDate(batch, utcDate).cache()
    try {
      val stats = pts.agg(
        count(lit(1)).as("n"),
        sum(when(GraphiteOps.isTagged(col("path")), 1L).otherwise(0L)).as("tagged")).first()
      val n = stats.getLong(0)
      if (n == 0) return
      val nTagged = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      val nPlain = n - nTagged

      // cache maintenance runs here, on the stream thread, before any
      // lookup: a requested clear wins over the one-time restart seed
      if (cacheClearRequested.getAndSet(false)) { expansions.foreach(_.cache.clear()); cachesSeeded = true }
      else if (!cachesSeeded) { expansions.foreach(seed); cachesSeeded = true }
      val cutoffDay = ttlCutoff.toLocalDate.toEpochDay.toInt
      expansions.foreach(_.cache.expire(cutoffDay))

      val pointWrites: Seq[() => Option[Written]] = Seq(false, true).map(reverse => () => {
        writeBatch(GraphiteOps.points(pts, blacklist, reverse = reverse, zeroTimestamp = true)
            .withColumn("month", date_format(col("date"), "yyyyMM")),
          if (reverse) pointsReversePath else pointsPath, batchId, Seq("month"), sortCols = Seq("path", "time"))
        None
      })

      val tree = treeDate.getOrElse(graft.core.Dates.daysToDate(graft.core.Dates.DefaultTreeDate))
      def expand(e: Expansion)(rows: => DataFrame): () => Option[Written] =
        () => Some(writeNew(rows.withColumn("udate", udateCol), e, batchId))
      val plain = if (nPlain == 0) Nil else
        expand(indexExp)(GraphiteOps.indexExpandVersioned(pts, tree, disableDailyIndex)) +:
          // legacy graphite-web table types (uploader/uploader.go:47-64),
          // same exists-cache + per-batch-dir machinery as the modern index
          legacyExps.map { case (typ, e) => expand(e)(typ match {
            case "tree"           => GraphiteOps.treeExpandVersioned(pts, tree)
            case "series"         => GraphiteOps.seriesExpandVersioned(pts, reverse = false)
            case "series-reverse" => GraphiteOps.seriesExpandVersioned(pts, reverse = true)
          }) }
      val tagged = if (nTagged == 0) Nil else
        Seq(expand(taggedExp)(GraphiteOps.taggedExpandVersioned(pts, ignoredTaggedMetrics)))

      // every write settles before a failure surfaces: rethrowing while a
      // sibling job is still writing would let the batch retry overwrite
      // a dir a zombie task is concurrently appending to
      val written = Concurrent.all(spark.sparkContext)(pointWrites ++ plain ++ tagged)
        .flatten.map(w => w.e -> w).toMap

      // only now, with every table written, do the batch's keys enter
      // the exists-caches (uploader/cached.go:108-110)
      expansions.foreach(e => written.get(e) match {
        case Some(w) => e.cache.commit(w.keys, w.checked, batchId)
        case None    => e.cache.commit(Nil, 0L, batchId)
      })

      // Online compaction (ClickHouse background-merge analogue): every
      // N batches, fold the batch dirs STRICTLY OLDER than this batch —
      // they are checkpoint-committed and immutable (this stream is the
      // only writer and writes only b<batchId>), so no quiesce is
      // needed. Runs on the stream thread, between batches, so no table
      // write races a dir rename. Keeps dir count —
      // and with it per-batch file-listing cost — bounded under
      // continuous 1 s ingest.
      if (compactEveryBatches.exists(n => n > 0 && batchId > 0 && batchId % n == 0))
        try TableCompactor.onlineCompact(spark, tablesDir, fence = batchId, legacyTables)
        catch {
          // a failed fold must not kill ingest (the reference's merges
          // fail independently of writes): every fold is crash-safe at
          // any interruption point — new-dir-first for LWW tables,
          // trash-first for points — so log and retry next cycle
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"online compaction failed at batch $batchId (will retry next cycle)", e)
        }
    } finally pts.unpersist()
  }

  /** Start the continuous job (1 s trigger = reference chunk cadence). */
  def start(triggerMs: Long = 1000): StreamingQuery =
    source().writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()

  /**
   * Live pre-aggregation stream: watermarked event-time windows over
   * the same spool, appending FINALIZED buckets (path, bucket start,
   * avg/sum/min/max/count) to a `points_<precision>s` table — the
   * Structured Streaming-native half of the rollup story (the batch
   * rollup views recompute; this materializes closed windows once).
   * Late points beyond the watermark are dropped from the live table
   * only — the raw points table still has them (§2.8: late data is
   * accepted on the append-only path).
   *
   * Runs as its own query with its own checkpoint so it can lag or
   * restart independently of the table fan-out, like a separate
   * uploader in the reference.
   */
  def startLiveRollup(precisionSec: Int, watermarkDelaySec: Int,
                      triggerMs: Long = 1000,
                      availableNow: Boolean = false): StreamingQuery = {
    // two independent consumers of one spool dir cannot compose with
    // chunk deletion: whichever deletes first starves the other
    require(!cleanSpool,
      "startLiveRollup shares the spool with the table fan-out: construct StreamingIngest with cleanSpool = false")
    val out = s"$tablesDir/points_${precisionSec}s"
    val q = source()
      .withColumn("ets", timestamp_seconds(col("time")))
      .withWatermark("ets", s"$watermarkDelaySec seconds")
      .groupBy(window(col("ets"), s"$precisionSec seconds"), col("path"))
      .agg(
        avg(col("value")).as("avg_value"),
        sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("points"))
      .select(
        col("path"),
        col("window.start").cast("long").as("bucket"),
        col("avg_value"), col("sum_value"), col("min_value"), col("max_value"), col("points"))
      .writeStream
      .outputMode("append") // only watermark-finalized windows are written
      .option("checkpointLocation", s"$checkpointDir-live$precisionSec")
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(triggerMs))
      .format("parquet")
      .option("path", out)
    q.start()
  }

  /** Read view of a live-rollup table. */
  def liveRollupTable(precisionSec: Int): DataFrame =
    Tables.read(spark, s"$tablesDir/points_${precisionSec}s", Tables.LiveRollup)

  /** Drain everything currently in the spool, then stop (for tests/backfill). */
  def runAvailableNow(): Unit = {
    val q = source().writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()
    q.awaitTermination()
  }

  // ---- read-side views (the ClickHouse table semantics) ----

  def pointsTable(): DataFrame = Tables.rawPoints(spark, pointsPath)
  def pointsReverseTable(): DataFrame = Tables.rawPoints(spark, pointsReversePath)

  /** Rollup-weighted points view: raw rows read with weight 1,
    * physically rolled rows (TableCompactor.rollupPoints) carry their
    * persisted `points` sample count — GraphiteOps.rollup() over this
    * view computes the TRUE mean for a bucket mixing rolled and late
    * raw rows instead of an average of averages. Raw files lack the
    * column and read it through the declared schema as null, i.e. 1. */
  def pointsTableWeighted(): DataFrame = Tables.pointsWeighted(spark, pointsPath)
  def indexTable(): DataFrame = Tables.read(spark, indexPath, Tables.Index)
  def taggedTable(): DataFrame = Tables.read(spark, taggedPath, Tables.Tagged)

  /** ReplacingMergeTree(Version)-equivalent read view of the index. */
  def indexLatest(): DataFrame =
    GraphiteOps.lwwLatest(indexTable(), Seq("date", "level", "path"), "version", Nil)

  /** ReplacingMergeTree(Version)-equivalent read view of the tagged table. */
  def taggedLatest(): DataFrame =
    GraphiteOps.lwwLatest(taggedTable(), Seq("date", "tag1", "path"), "version", Seq("tags"))

  /** Legacy table read view ("tree", "series", "series-reverse"). */
  def legacyTable(typ: String): DataFrame = Tables.read(spark, legacyPath(typ), Tables.Index)
}

object StreamingIngest {
  private val LegacyTypes = Set("tree", "series", "series-reverse")
}
