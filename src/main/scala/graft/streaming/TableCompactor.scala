package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.GraphiteOps

/**
 * Compaction for the streaming tables: per-batch micro-dirs
 * (`batch=b<id>`, one per 1 s trigger) accumulate forever otherwise,
 * degrading the read views and the restart seed of the exists-caches
 * with tiny-file and file-listing overhead. ClickHouse does this as
 * background merges; here it is a two-tier fold over the plain-parquet
 * layout:
 *
 *  - **Online tier** ([[onlineCompact]], called from inside the
 *    streaming job every N batches): folds the `batch=b<id>` dirs with
 *    `id < fence` into one `batch=c<stamp>` dir. The fence is the
 *    CURRENT batch id — every older dir is checkpoint-committed and
 *    immutable (the stream writes only its own `b<batchId>` dir), so
 *    this needs NO quiesce. Cost is proportional to the N new batches,
 *    never to table history.
 *  - **Size-tiered c-fold** (same call): when `tier` or more c-dirs
 *    exist, the `tier` smallest are folded into one. Dir sizes grow
 *    geometrically, so a row is rewritten O(log history) times total —
 *    the classic size-tiered-LSM bound; the table never gets rewritten
 *    wholesale on the hot path.
 *  - **Maintenance tier** ([[compactAll]]): full fold of every batch
 *    dir into one, for offline housekeeping (or tests).
 *
 * Crash-safety contract (plain FS, no transactions — the production
 * path for this would be a transactional table format):
 *  - LWW tables (index/tagged/legacy): the compacted dir is renamed IN
 *    before the source dirs are removed. A crash in between leaves
 *    duplicate rows, which the LWW read views absorb — never wrong
 *    reads.
 *  - points: duplicates are semantically meaningful (rollup counts
 *    them), so the source dirs are moved to a hidden `.trash-*` dir
 *    before the compacted dir is renamed in. A crash in between leaves
 *    the data recoverable in `.trash-*` (operator restores by renaming
 *    back); readers see a gap until then, never double-counts.
 */
object TableCompactor {

  /** Monotonic stamp so two folds in the same millisecond (the online
    * b-fold followed by a c-fold) never collide on a dir name. */
  private val stampSeq = new AtomicLong()
  private def nextStamp(): String = s"${System.currentTimeMillis()}-${stampSeq.incrementAndGet()}"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def batchDirs(spark: SparkSession, root: String): Seq[Path] = {
    val f = fs(spark, root)
    if (!f.exists(new Path(root))) Nil
    else f.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath)
  }

  /** Streamed dirs `batch=b<id>` with id strictly below the fence —
    * checkpoint-committed, immutable, safe to fold online. */
  private def bDirsBelow(spark: SparkSession, root: String, fence: Long): Seq[Path] =
    batchDirs(spark, root).filter { p =>
      val n = p.getName.stripPrefix("batch=")
      n.startsWith("b") && n.drop(1).toLongOption.exists(_ < fence)
    }

  private def cDirs(spark: SparkSession, root: String): Seq[Path] =
    batchDirs(spark, root).filter(_.getName.stripPrefix("batch=").startsWith("c"))

  /**
   * A dir is "empty" only when an explicit recursive file listing finds
   * no non-hidden, non-zero data file — a batch that wrote no rows
   * leaves just a _SUCCESS marker. Deciding emptiness by catching
   * AnalysisException from the read (the old scheme) would
   * let a transient FS/path error masquerade as "all empty" and delete
   * committed dirs; read errors must propagate instead.
   */
  private def hasDataFiles(f: org.apache.hadoop.fs.FileSystem, dir: Path): Boolean = {
    val it = f.listFiles(dir, true)
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (s.isFile && s.getLen > 0 && !n.startsWith(".") && !n.startsWith("_")) return true
    }
    false
  }

  /** Fold `dirs` of an LWW-shaped table (max-version row per key) into
    * one new c-dir. Reads exactly the listed snapshot — a batch dir
    * committed after the caller listed `dirs` must NOT be folded in (it
    * would then be both compacted AND left in place). Returns the
    * number of dirs folded. */
  private def foldLwwDirs(spark: SparkSession, tableRoot: String, dirs: Seq[Path],
                          keys: Seq[String], payloadCols: Seq[String]): Int = {
    if (dirs.length <= 1) return 0
    val f = fs(spark, tableRoot)
    val (dataDirs, emptyDirs) = dirs.partition(hasDataFiles(f, _))
    if (dataDirs.isEmpty) { // verified empty by listing — safe to drop
      emptyDirs.foreach(d => f.delete(d, true))
      return emptyDirs.length
    }
    if (dataDirs.length == 1) { // nothing to fold; still reap empties
      emptyDirs.foreach(d => f.delete(d, true))
      return emptyDirs.length
    }
    val df = Tables.read(spark, tableRoot, Tables.columns(keys ++ payloadCols :+ "version": _*),
      dataDirs.map(_.toString))
    val compacted = GraphiteOps.lwwLatest(df, keys, "version", payloadCols)
      .withColumn("udate", date_from_unix_date((col("version") / 86400L).cast("int")))
    val stamp = nextStamp()
    val tmp = new Path(tableRoot, s".compact-$stamp")
    compacted.write.mode("overwrite").partitionBy("udate").parquet(tmp.toString)
    // new dir visible first, then sources removed: a crash in between
    // leaves duplicates that the LWW read views absorb
    require(f.rename(tmp, new Path(tableRoot, s"batch=c$stamp")), s"rename failed for $tmp")
    dirs.foreach(d => f.delete(d, true))
    dirs.length
  }

  /** Fold `dirs` of a points-shaped table (no dedup — duplicate points
    * are data), re-clustered by (path, time) within monthly partitions.
    * Returns the number of dirs folded. */
  private def foldPointsDirs(spark: SparkSession, tableRoot: String, dirs: Seq[Path]): Int = {
    if (dirs.length <= 1) return 0
    val f = fs(spark, tableRoot)
    val (dataDirs, emptyDirs) = dirs.partition(hasDataFiles(f, _))
    if (dataDirs.length <= 1) { // nothing to fold; reap verified-empty dirs only
      emptyDirs.foreach(d => f.delete(d, true))
      return emptyDirs.length
    }
    // raw columns only: rolled batch=r* dirs are never folded here
    val df = Tables.rawPoints(spark, tableRoot, dataDirs.map(_.toString))
    val stamp = nextStamp()
    val tmp = new Path(tableRoot, s".compact-$stamp")
    df.withColumn("month", date_format(col("date"), "yyyyMM"))
      .repartition(col("month"))
      .sortWithinPartitions(col("path"), col("time"))
      .write.mode("overwrite").partitionBy("month").parquet(tmp.toString)

    // sources out of sight first (recoverable in .trash), THEN the
    // compacted dir in — readers can never double-count points
    val trash = new Path(tableRoot, s".trash-$stamp")
    f.mkdirs(trash)
    dataDirs.foreach(d => require(f.rename(d, new Path(trash, d.getName)), s"trash move failed for $d"))
    require(f.rename(tmp, new Path(tableRoot, s"batch=c$stamp")), s"rename failed for $tmp")
    f.delete(trash, true)
    emptyDirs.foreach(d => f.delete(d, true))
    dirs.length
  }

  /** Fold `dirs` of a plain append table (no dedup, no inner
    * partitioning — e.g. a [[DocStream]] corpus) into one c-dir,
    * clustered by `sortCols`. Rows are unique by construction upstream,
    * so the points crash contract applies: sources to .trash first,
    * compacted dir in second — readers never see a row twice. */
  private def foldAppendDirs(spark: SparkSession, tableRoot: String, dirs: Seq[Path],
                             sortCols: Seq[String]): Int = {
    if (dirs.length <= 1) return 0
    val f = fs(spark, tableRoot)
    val (dataDirs, emptyDirs) = dirs.partition(hasDataFiles(f, _))
    if (dataDirs.length <= 1) {
      emptyDirs.foreach(d => f.delete(d, true))
      return emptyDirs.length
    }
    val df = spark.read.option("basePath", tableRoot).parquet(dataDirs.map(_.toString): _*)
    val stamp = nextStamp()
    val tmp = new Path(tableRoot, s".compact-$stamp")
    df.drop("batch")
      .repartition(1)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(tmp.toString)
    val trash = new Path(tableRoot, s".trash-$stamp")
    f.mkdirs(trash)
    dataDirs.foreach(d => require(f.rename(d, new Path(trash, d.getName)), s"trash move failed for $d"))
    require(f.rename(tmp, new Path(tableRoot, s"batch=c$stamp")), s"rename failed for $tmp")
    f.delete(trash, true)
    emptyDirs.foreach(d => f.delete(d, true))
    dirs.length
  }

  /** Online (quiesce-free) compaction of a plain append table — the
    * [[onlineCompact]] scheme for a [[DocStream]]-shaped corpus:
    * committed `batch=b<id>` dirs below the fence fold into a c-dir,
    * c-dirs size-tier-fold at `tier`. */
  def onlineCompactAppend(spark: SparkSession, tableRoot: String, fence: Long,
                          sortCols: Seq[String], tier: Int = 8): Int =
    foldAppendDirs(spark, tableRoot, bDirsBelow(spark, tableRoot, fence), sortCols) +
      foldTier(spark, tableRoot, tier, foldAppendDirs(spark, tableRoot, _, sortCols))

  /** Size-tiered fold of accumulated c-dirs: when `tier` or more exist,
    * fold the `tier` smallest into one. Geometric dir growth bounds a
    * row's lifetime rewrites at O(log history). */
  private def foldTier(spark: SparkSession, tableRoot: String, tier: Int,
                       fold: Seq[Path] => Int): Int = {
    val cs = cDirs(spark, tableRoot)
    if (cs.length < tier) 0
    else {
      val f = fs(spark, tableRoot)
      fold(cs.sortBy(p => f.getContentSummary(p).getLength).take(tier))
    }
  }

  /**
   * LWW-compact an index/tagged-shaped table: fold every batch dir into
   * one, keeping the max-version row per key. Returns the number of
   * batch dirs folded (0 = nothing to do).
   */
  def compactLww(spark: SparkSession, tableRoot: String,
                 keys: Seq[String], payloadCols: Seq[String]): Int =
    foldLwwDirs(spark, tableRoot, batchDirs(spark, tableRoot), keys, payloadCols)

  /**
   * Fold a points-shaped table's batch dirs into one, re-clustered by
   * (path, time) within monthly partitions. No dedup — duplicate points
   * are data. Returns the number of batch dirs folded.
   */
  def compactPoints(spark: SparkSession, tableRoot: String): Int =
    // batch=r* dirs are already-rolled output: re-folding them would
    // drop their persisted `points` weights (5-column select) and they
    // are already one dir per rollup pass — leave them alone
    foldPointsDirs(spark, tableRoot,
      batchDirs(spark, tableRoot).filterNot(_.getName.startsWith("batch=r")))

  /**
   * Online (quiesce-free) compaction, called from INSIDE the streaming
   * job (see [[StreamingIngest.processBatch]]): every `batch=b<id>` dir
   * with `id < fence` is committed and immutable, so folding it races
   * with nothing — the stream only ever writes `b<fence>`, and this
   * runs on the stream's own thread, after the batch's writes, so no
   * write of the next batch overlaps a rename. c-dirs are
   * size-tiered-folded when `tier` of them accumulate.
   *
   * Returns dirs folded per table (b-fold + c-fold combined).
   */
  def onlineCompact(spark: SparkSession, tablesDir: String, fence: Long,
                    legacyTables: Set[String] = Set.empty, tier: Int = 8): Map[String, Int] = {
    def points(table: String): Int = {
      val root = s"$tablesDir/$table"
      foldPointsDirs(spark, root, bDirsBelow(spark, root, fence)) +
        foldTier(spark, root, tier, foldPointsDirs(spark, root, _))
    }
    def lww(table: String, keys: Seq[String], payload: Seq[String]): Int = {
      val root = s"$tablesDir/$table"
      foldLwwDirs(spark, root, bDirsBelow(spark, root, fence), keys, payload) +
        foldTier(spark, root, tier, foldLwwDirs(spark, root, _, keys, payload))
    }
    val idxKeys = Seq("date", "level", "path")
    Map(
      "points" -> points("points"),
      "points_reverse" -> points("points_reverse"),
      "index" -> lww("index", idxKeys, Nil),
      "tagged" -> lww("tagged", Seq("date", "tag1", "path"), Seq("tags"))) ++
      legacyTables.map(t => t -> lww(t.replace('-', '_'), idxKeys, Nil))
  }

  /**
   * Physical rollup of aged points — what GraphiteMergeTree does during
   * background merges (tests/clickhouse/rollup/rollup.xml): every month
   * partition wholly older than `olderThanSec` is rewritten with the
   * rollup aggregation applied (pattern -> fn, age -> precision), so
   * storage shrinks to one row per (path, precision bucket). The rolled
   * rows PERSIST their sample count in a `points` column, and rollup()
   * weights avg re-aggregation by it — so a read bucket mixing a rolled
   * row (weight k) with late raw rows (weight 1) yields the true mean,
   * not an average-of-averages. sum/min/max are idempotent and need no
   * weights. (This is strictly better than the reference: once
   * ClickHouse's GraphiteMergeTree merges an avg bucket, the count is
   * gone and late rows skew the re-merge.)
   *
   * Uses the points-compaction crash contract: sources move to a
   * hidden .trash dir before the rewritten partition renames in.
   * Returns the number of month partitions rolled up.
   */
  def rollupPoints(spark: SparkSession, tableRoot: String,
                   config: graft.core.Rollup.Config, nowSec: Long,
                   olderThanSec: Long): Int = {
    val f = fs(spark, tableRoot)
    if (!f.exists(new Path(tableRoot))) return 0
    val cutoffMonth = {
      val d = java.time.LocalDate.ofEpochDay((nowSec - olderThanSec) / 86400)
      d.getYear * 100 + d.getMonthValue
    }
    // month partitions live under every batch dir; batch=r* dirs are
    // already-rolled output and must not be re-rolled (late-arriving
    // aged batches simply produce an additional r-dir for the month,
    // which the rollup read view re-aggregates)
    val months = batchDirs(spark, tableRoot)
      .filterNot(_.getName.startsWith("batch=r"))
      .flatMap(b => f.listStatus(b).toSeq.filter(_.isDirectory).map(_.getPath))
      .filter(_.getName.startsWith("month="))
      .groupBy(_.getName.stripPrefix("month=").toInt)
      .filter { case (m, _) => m < cutoffMonth }
    if (months.isEmpty) return 0

    val stamp = System.currentTimeMillis()
    for ((month, dirs) <- months) {
      val rows = Tables.read(spark, tableRoot, Tables.columns("path", "time", "value"), dirs.map(_.toString))
      val rolled = GraphiteOps.rollup(rows, config, nowSec)
        .select(
          col("path"), col("value"), col("time"),
          date_from_unix_date((col("time") / 86400L).cast("int")).as("date"),
          lit(0L).as("timestamp"), col("points"))
        .repartition(1)
        .sortWithinPartitions(col("path"), col("time"))
      val tmp = new Path(tableRoot, s".rollup-$stamp-$month")
      rolled.write.mode("overwrite").parquet(tmp.toString)
      val trash = new Path(tableRoot, s".trash-rollup-$stamp-$month")
      f.mkdirs(trash)
      dirs.zipWithIndex.foreach { case (d, i) =>
        require(f.rename(d, new Path(trash, s"$i-${d.getName}")), s"trash move failed for $d")
      }
      val dest = new Path(tableRoot, s"batch=r$stamp-$month/month=$month")
      f.mkdirs(dest.getParent)
      require(f.rename(tmp, dest), s"rename failed for $tmp")
      f.delete(trash, true)
    }
    months.size
  }

  /** Compact all four tables of a [[StreamingIngest]] layout. */
  def compactAll(spark: SparkSession, tablesDir: String): Map[String, Int] = Map(
    "points" -> compactPoints(spark, s"$tablesDir/points"),
    "points_reverse" -> compactPoints(spark, s"$tablesDir/points_reverse"),
    "index" -> compactLww(spark, s"$tablesDir/index", Seq("date", "level", "path"), Nil),
    "tagged" -> compactLww(spark, s"$tablesDir/tagged", Seq("date", "tag1", "path"), Seq("tags")))
}
