package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The declared schema of every table [[StreamingIngest]] writes, one
 * copy each, and the one reader every view, fold and restart seed of
 * those tables goes through. The reference fixes its table schemas up
 * front (README.md:34-62); here the writer's schema is trusted the same
 * way, as a Structured Streaming file source trusts its declared
 * schema: no read of a table we wrote pays a parquet footer-inference
 * job, and columns a file lacks read as null.
 *
 * Layout: `<table>/batch=<dir>/<month|udate>=<value>/part-*.parquet`.
 * `batch` names the micro-batch (`b<id>`), fold (`c<stamp>`) or rollup
 * (`r<stamp>-<month>`) dir; points tables partition by `month`, the
 * expansion tables by `udate`, the receive day.
 */
object Tables {

  /** points and points_reverse. Raw rows carry the first five columns;
    * rows rewritten by [[TableCompactor.rollupPoints]] also persist
    * `points`, their sample count, which raw files read as null. */
  val Points: StructType = StructType(Seq(
    StructField("path", StringType), StructField("value", DoubleType),
    StructField("time", LongType), StructField("date", DateType),
    StructField("timestamp", LongType), StructField("points", LongType)))

  /** The columns of a raw (not rolled-up) points row. */
  private val RawPoints: StructType = StructType(Points.filterNot(_.name == "points"))

  /** The daily/reverse/tree index; the legacy tables (tree, series,
    * series-reverse) share its columns. */
  val Index: StructType = StructType(Seq(
    StructField("date", DateType), StructField("level", LongType),
    StructField("path", StringType), StructField("version", LongType)))

  val Tagged: StructType = StructType(Seq(
    StructField("date", DateType), StructField("tag1", StringType),
    StructField("path", StringType), StructField("tags", ArrayType(StringType)),
    StructField("version", LongType)))

  /** A `points_<precision>s` table of [[StreamingIngest.startLiveRollup]]. */
  val LiveRollup: StructType = StructType(Seq(
    StructField("path", StringType), StructField("bucket", LongType),
    StructField("avg_value", DoubleType), StructField("sum_value", DoubleType),
    StructField("min_value", DoubleType), StructField("max_value", DoubleType),
    StructField("points", LongType)))

  private val byName: Map[String, StructField] =
    (Seq(StructField("batch", StringType), StructField("udate", DateType)) ++ Points ++ Index ++ Tagged)
      .map(f => f.name -> f).toMap

  /** The declared fields of `names`, partition columns included: a
    * column name has one type across all tables. */
  def columns(names: String*): StructType =
    StructType(names.map(n => byName.getOrElse(n, throw new IllegalArgumentException(s"undeclared column: $n"))))

  /**
   * Reads `schema`'s columns of the table at `root`, or of `dirs` under
   * it, with the directory partition columns resolved against `root`.
   * A table not written yet (a layout that never saw a tagged series
   * has no `tagged` dir) reads as an empty local relation.
   */
  def read(spark: SparkSession, root: String, schema: StructType, dirs: Seq[String] = Nil): DataFrame = {
    val p = new Path(root)
    if (dirs.isEmpty && !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      val reader = spark.read.schema(schema)
      (if (dirs.isEmpty) reader.parquet(root) else reader.option("basePath", root).parquet(dirs: _*))
        .select(schema.fieldNames.toSeq.map(col): _*)
    }
  }

  /** The raw points view of a points table (or of `dirs` under it). */
  def rawPoints(spark: SparkSession, root: String, dirs: Seq[String] = Nil): DataFrame =
    read(spark, root, RawPoints, dirs)

  /** The rollup-weighted points view: raw rows weigh 1, rolled rows
    * their persisted sample count, so a rollup over it averages a
    * bucket mixing both by sample count. */
  def pointsWeighted(spark: SparkSession, root: String): DataFrame =
    read(spark, root, Points).withColumn("points", coalesce(col("points"), lit(1L)))
}
