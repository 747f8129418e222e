package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Rollup
import graft.streaming.Tables

/**
 * User-facing query layer over a StreamingIngest table layout — the
 * queries graphite-web issues against the ClickHouse tables
 * (find/expand on the index, tag browsing on the tagged table, range
 * reads on points with last-write-wins and rollup), expressed so every
 * predicate reaches the parquet scans:
 *
 *  - monthly partition pruning from time-range predicates;
 *  - glob lookups route to whichever of points/points_reverse (or the
 *    daily/reverse index rows) gives the LONGER literal prefix — the
 *    reference's reverse-table design (README:157): `*.cpu.load` is a
 *    suffix scan forward but a prefix scan reversed;
 *  - LWW/rollup views aggregate with single-shuffle max_by / partial
 *    aggs, never window sorts;
 *  - every table reads through its declared schema ([[Tables]]), so no
 *    call pays a footer-inference job, and a table not written yet reads
 *    as empty; the small answers (find, tag browsing, seriesByTag) are
 *    deduplicated on the driver, one Spark job per call.
 */
final class GraphiteTables(spark: SparkSession, tablesDir: String) {

  def points(): DataFrame = Tables.rawPoints(spark, s"$tablesDir/points")
  def pointsReverse(): DataFrame = Tables.rawPoints(spark, s"$tablesDir/points_reverse")
  def index(): DataFrame = Tables.read(spark, s"$tablesDir/index", Tables.Index)
  def tagged(): DataFrame = Tables.read(spark, s"$tablesDir/tagged", Tables.Tagged)

  /** The distinct rows of a small answer as a local relation: each scan
    * task drops its own duplicates and the driver merges what they
    * return. One job, with the scan's parallelism, instead of a shuffle
    * (two jobs under AQE); the caller's collect() runs none. */
  private def distinctOnDriver(df: DataFrame): DataFrame = {
    val rows = df.mapPartitions(_.distinct)(Encoders.row(df.schema)).collect().distinct
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Dot-segment-wise glob reversal: `*.cpu.load` -> `load.cpu.*`. */
  private[operators] def reverseGlob(glob: String): String =
    glob.split("\\.", -1).reverse.mkString(".")

  private def literalHead(glob: String): String =
    glob.takeWhile(c => "*?{[".indexOf(c.toInt) < 0)

  /** True when the reversed orientation gives a longer literal prefix
    * (deeper pruning) than the forward one. */
  private[operators] def preferReverse(glob: String): Boolean =
    literalHead(reverseGlob(glob)).length > literalHead(glob).length

  /**
   * graphite-web find: paths matching the glob in the daily index
   * within [fromDate, untilDate]. Routes through the reverse index
   * rows (level offset 10000) when the glob's tail is more literal
   * than its head; always returns forward paths.
   */
  def find(glob: String, fromDate: java.sql.Date, untilDate: java.sql.Date): DataFrame = {
    val idx = index().filter(col("date").between(fromDate, untilDate))
    val paths =
      if (!preferReverse(glob))
        GraphiteOps.findGlob(idx.filter(col("level") < 10000), glob).select("path")
      else
        GraphiteOps.findGlob(
            idx.filter(col("level") >= 10000 && col("level") < 20000), reverseGlob(glob))
          .select(GraphiteOps.pathReverse(col("path")).as("path"))
    distinctOnDriver(paths)
  }

  /**
   * Tree-based find (the date-less legacy lookup graphite-web uses when
   * the daily index is disabled): glob over the tree rows of the merged
   * index (level offset 20000), returning each match with its
   * branch/leaf flag — branches are the dot-terminated ancestor prefix
   * rows, leaves are full metric paths. The glob matches the node name
   * WITHOUT the trailing dot, so `web.*` finds both the `web.host1.`
   * branch and a `web.total` leaf.
   */
  def findTree(glob: String): DataFrame = {
    val tree = index()
      .filter(col("level") >= 20000 && col("level") < 30000)
      .select(col("path"),
        (!col("path").endsWith(".")).as("is_leaf"),
        regexp_replace(col("path"), "\\.$", "").as("node"))
    distinctOnDriver(
      GraphiteOps.findGlob(tree.withColumnRenamed("path", "_p").withColumnRenamed("node", "path"), glob)
        .select(col("path"), col("is_leaf")))
  }

  private def rangeOver(fwd: => DataFrame, rev: => DataFrame, glob: String,
                        fromSec: Long, untilSec: Long): DataFrame = {
    val window = (df: DataFrame) =>
      df.filter(col("time") >= fromSec && col("time") < untilSec)
    if (!preferReverse(glob))
      window(GraphiteOps.findGlob(fwd, glob))
    else
      window(GraphiteOps.findGlob(rev, reverseGlob(glob)))
        .withColumn("path", GraphiteOps.pathReverse(col("path")))
  }

  /**
   * Range read: raw points for paths matching the glob in
   * [fromSec, untilSec); routed to the better-pruning table. Output
   * rows always carry forward paths.
   */
  def seriesRange(glob: String, fromSec: Long, untilSec: Long): DataFrame =
    rangeOver(points(), pointsReverse(), glob, fromSec, untilSec)

  /**
   * Rolled-up range read (what a render query consumes): rollup rules
   * applied over the raw range, one row per (path, precision bucket).
   * Reads the WEIGHTED view so a bucket mixing physically rolled rows
   * with late raw rows averages by sample count, not by row.
   */
  def seriesRangeRollup(glob: String, fromSec: Long, untilSec: Long,
                        config: Rollup.Config, nowSec: Long): DataFrame =
    GraphiteOps.rollup(
      rangeOver(Tables.pointsWeighted(spark, s"$tablesDir/points"),
          Tables.pointsWeighted(spark, s"$tablesDir/points_reverse"), glob, fromSec, untilSec)
        .select("path", "time", "value", "points"),
      config, nowSec)

  /** Distinct tag keys (graphite-web /tags). */
  def tagKeys(): DataFrame =
    distinctOnDriver(tagged().select(substring_index(col("tag1"), "=", 1).as("key")))

  /** Distinct values of one tag key (graphite-web /tags/<key>). */
  def tagValues(key: String): DataFrame =
    distinctOnDriver(tagged()
      .filter(col("tag1").startsWith(key + "="))
      .select(expr(s"substring(tag1, ${key.length + 2})").as("value")))

  /** Tag-key autocomplete (graphite-web /tags/autoComplete/tags?tagPrefix=):
    * the prefix applies to tag1 itself, so the clustered column prunes. */
  def tagKeys(tagPrefix: String): DataFrame =
    distinctOnDriver(tagged()
      .filter(col("tag1").startsWith(tagPrefix))
      .select(substring_index(col("tag1"), "=", 1).as("key"))
      .filter(col("key").startsWith(tagPrefix))) // prefix must not span the '='

  /** Tag-value autocomplete (/tags/autoComplete/values?valuePrefix=):
    * `key=valuePrefix` is a prefix of the clustered tag1 column. */
  def tagValues(key: String, valuePrefix: String): DataFrame =
    distinctOnDriver(tagged()
      .filter(col("tag1").startsWith(s"$key=$valuePrefix"))
      .select(expr(s"substring(tag1, ${key.length + 2})").as("value")))

  /** Series carrying tag key=value (seriesByTag('key=value')). */
  def seriesByTag(key: String, value: String): DataFrame =
    distinctOnDriver(GraphiteOps.findByTag(tagged(), key, value).select("path"))

  /** Series carrying ALL the given tags (seriesByTag('k1=v1','k2=v2')). */
  def seriesByTags(matchers: Seq[(String, String)]): DataFrame =
    distinctOnDriver(GraphiteOps.findByTags(tagged(), matchers).select("path"))

  /** Full matcher grammar: seriesByTag('env=prod','zone!=u3','dc=~ea.*'). */
  def seriesByTagSpecs(specs: Seq[String]): DataFrame =
    distinctOnDriver(GraphiteOps.findByTagSpecs(tagged(), specs).select("path"))
}
