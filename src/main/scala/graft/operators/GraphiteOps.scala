package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/**
 * Spark-native graphite operators: the query/data-processing surface of
 * the reference engine (SURVEY.md §2), expressed as DataFrame transforms.
 *
 * Everything here stays in built-in (codegen'd, pushdown-friendly)
 * expressions except where byte-exact reference semantics genuinely need
 * the pure-Scala kernel (tag normalization / unescaping), which run as
 * UDFs over already-minimized inputs.
 *
 * Scale notes (100 TB design intent):
 *  - expansions are explode+distinct over the *distinct series* set, not
 *    the raw point stream — dedup first, expand after;
 *  - points tables are written partitioned by month(date) and sorted by
 *    (path, time) inside partitions so Parquet row-group min/max stats
 *    serve the reference's `ORDER BY (Path, Time)` range scans;
 *  - last-write-wins reads use max_by (single shuffle, partial agg), not
 *    a window (which would sort whole partitions).
 */
object GraphiteOps {

  /** Parse result carrier so the UDF's struct has named fields. */
  final case class ParsedPoint(path: String, value: Double, time: Long)

  // ---------- column kernels (pure built-ins, codegen-friendly) ----------

  /** Segment-wise path reversal: `a.b.c` -> `c.b.a` (reader.go:71-102). */
  def pathReverse(path: Column): Column =
    array_join(reverse(split(path, "\\.", -1)), ".")

  /** Number of dot-separated segments (uploader/utils.go:13-21). */
  def pathLevel(path: Column): Column = size(split(path, "\\.", -1)).cast("long")

  /**
   * Dot-terminated ancestor prefixes with levels, as array<struct<level,prefix>>:
   * `a.b.c` -> [(1,"a."),(2,"a.b.")] (index.go:56-81 tree walk).
   */
  def treePrefixes(path: Column): Column = {
    val parts = split(path, "\\.", -1)
    val walked = transform(
      sequence(lit(1), size(parts) - 1),
      i => struct(
        i.cast("long").as("level"),
        concat(array_join(slice(parts, lit(1), i), "."), lit(".")).as("prefix")
      )
    )
    // Guard the single-segment case: sequence(1, 0) generates a DESCENDING
    // [1, 0], which would fabricate phantom prefix rows ("solo." and ".")
    // where the reference (uploader/index.go `for l--; l > 0`) emits none.
    // slice(walked, 1, 0) is an empty array of the same struct type.
    when(size(parts) > 1, walked).otherwise(slice(walked, 1, 0))
  }

  /** Collapse consecutive dots (receiver/plain.go:22-51). */
  def removeDoubleDot(path: Column): Column = regexp_replace(path, "\\.{2,}", ".")

  /** True when the canonical name is tagged (`name?k=v&...`). */
  def isTagged(path: Column): Column = path.contains("?")

  // ---------- UDF kernels (reference-exact string semantics) ----------

  /** Normalize a raw metric name to canonical tagged form; null on parse error. */
  def normalizeUdf(config: GraphiteTags.TagConfig): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (raw: String) =>
      if (raw == null) null
      else GraphiteTags.normalize(config, raw).toOption.orNull
    }

  /** Graphite percent-unescape (lenient; `+` -> space). */
  val unescapeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => if (s == null) null else Escape.unescape(s) }

  /**
   * Parse one line of plaintext protocol into struct(path,value,time);
   * null for dropped/bad lines (receiver/plain.go:53-96 semantics).
   */
  def parsePlainUdf(now: Long, config: GraphiteTags.TagConfig): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (line: String) =>
      if (line == null) None
      else PlainProtocol.parseLine(line, now, config) match {
        case Right(p) => Some(ParsedPoint(p.name, p.value, p.timestamp))
        case Left(_)  => None
      }
    }

  // ---------- ingest pipeline ----------

  /**
   * Plaintext lines -> canonical points DataFrame
   * (path, value, time, date, version). The whole reference receive path:
   * parse, double-dot removal, tag normalize, NaN/error drop.
   */
  def parseLines(lines: DataFrame, lineCol: String, now: Long,
                 config: GraphiteTags.TagConfig = GraphiteTags.Disabled,
                 utcDate: Boolean = true): DataFrame = {
    val parsed = lines
      .withColumn("_p", parsePlainUdf(now, config)(col(lineCol)))
      .filter(col("_p").isNotNull)
      .select(
        col("_p.path").as("path"),
        col("_p.value").as("value"),
        col("_p.time").as("time"))
    withDate(parsed, utcDate).withColumn("version", lit(now))
  }

  /** Attach the derived `date` column (data.utc-date semantics, §1.5). */
  def withDate(points: DataFrame, utcDate: Boolean = true): DataFrame =
    if (utcDate)
      points.withColumn("date", date_from_unix_date((col("time") / 86400L).cast("int")))
    else {
      val toDays = udf { (t: Long) => Dates.localTimestampToDays(t, java.time.ZoneId.systemDefault()) }
      points.withColumn("date", date_from_unix_date(toDays(col("time"))))
    }

  /**
   * Receiver drop-filters: drop-future/drop-past windows, name length cap,
   * NaN rejection (receiver/base.go:68-86).
   */
  def dropFilters(points: DataFrame, now: Long,
                  dropFutureSec: Option[Long] = None,
                  dropPastSec: Option[Long] = None,
                  maxNameLen: Option[Int] = None): DataFrame = {
    var df = points.filter(!isnan(col("value")))
    for (f <- dropFutureSec) df = df.filter(col("time") <= now + f)
    for (p <- dropPastSec) df = df.filter(col("time") >= now - p)
    for (l <- maxNameLen) df = df.filter(length(col("path")) <= l)
    df
  }

  /**
   * Points-table projection with optional blacklist and zero-timestamp
   * (uploader/points.go). Tagged series bypass the blacklist.
   */
  def points(df: DataFrame, blacklist: Option[Blacklist] = None,
             reverse: Boolean = false, zeroTimestamp: Boolean = true): DataFrame = {
    val filtered = blacklist match {
      case Some(bl) if !bl.isEmpty =>
        val blUdf = udf { (p: String) => bl.contains(p, reverse) }
        // blacklist applies pre-reversal names in forward orientation, but the
        // reverse uploader matches reversed names against the R2L trie —
        // semantics preserved by passing `reverse` through to the trie.
        if (reverse) df.filter(isTagged(col("path")) || !blUdf(pathReverse(col("path"))))
        else df.filter(isTagged(col("path")) || !blUdf(col("path")))
      case _ => df
    }
    val named = if (reverse) {
      // tagged series are never reversed (reader.go:125-127 applies to plain only)
      filtered.withColumn("path",
        when(isTagged(col("path")), col("path")).otherwise(pathReverse(col("path"))))
    } else filtered
    val ts = if (zeroTimestamp) lit(0L) else col("version")
    named.select(col("path"), col("value"), col("time"), col("date"), ts.as("timestamp"))
  }

  // ---------- index / tagged expansions (§2.5) ----------

  /**
   * Index-table expansion. Input: points (path, date [, time]); output:
   * distinct (date, level, path) rows — tree rows at `treeDate` with level
   * offsets 20000/30000, daily rows at the point's date with offsets
   * 0/10000 (uploader/index.go:34-104). Tagged series are skipped.
   *
   * Dedups the series set FIRST (one shuffle over distinct (date,path)),
   * then explodes — at 100 TB the distinct series set is orders of
   * magnitude smaller than the point stream.
   */
  def indexExpand(pts: DataFrame, treeDate: java.sql.Date = Dates.daysToDate(Dates.DefaultTreeDate),
                  disableDailyIndex: Boolean = false): DataFrame =
    indexExpandVersioned(pts.withColumn("version", lit(0L)), treeDate, disableDailyIndex)
      .drop("version")

  /**
   * [[indexExpand]] carrying a per-row `version`: each emitted index row
   * holds the max receive-time version among the series that produced it
   * (the reference stamps rows with the uploader's clock,
   * uploader/index.go:48 — per-series receive time is the same signal
   * without a driver-side clock read). Dedup happens in the same
   * aggregations that compute the max, so the plan still shuffles the
   * distinct series set, never the raw point stream.
   */
  def indexExpandVersioned(pts: DataFrame,
                           treeDate: java.sql.Date = Dates.daysToDate(Dates.DefaultTreeDate),
                           disableDailyIndex: Boolean = false): DataFrame = {
    val series = pts
      .filter(!isTagged(col("path")))
      .groupBy(col("date"), col("path"))
      .agg(max(col("version")).as("version"))

    // every index row of a series comes from one explode of one array,
    // so the series shuffle is read once (a union of per-kind selects
    // reads it once per kind, in stages of their own)
    val level = pathLevel(col("path"))
    val revPath = pathReverse(col("path"))
    val tree = lit(treeDate)
    def row(date: Column, lvl: Column, path: Column) =
      struct(date.as("date"), lvl.as("level"), path.as("path"))
    val direct = Seq(row(tree, level + 20000L, col("path")), row(tree, level + 30000L, revPath)) ++
      (if (disableDailyIndex) Nil
       else Seq(row(col("date"), level, col("path")), row(col("date"), level + 10000L, revPath)))
    val prefixes = transform(treePrefixes(col("path")), p => row(tree, p("level") + 20000L, p("prefix")))
    series
      .select(explode(concat(array(direct: _*), prefixes)).as("r"), col("version"))
      .groupBy(col("r.date").as("date"), col("r.level").as("level"), col("r.path").as("path"))
      .agg(max(col("version")).as("version"))
  }

  /**
   * Legacy `tree`-table expansion (uploader/tree.go:31-118): per new
   * plain path, one row at its level plus one row per unseen ancestor
   * prefix — all at a FIXED tree date, with UNOFFSET levels (the
   * 20000/30000 offsets exist only in the merged modern index). Tagged
   * series are skipped.
   */
  def treeExpand(pts: DataFrame,
                 treeDate: java.sql.Date = Dates.daysToDate(Dates.DefaultTreeDate)): DataFrame =
    treeExpandVersioned(pts.withColumn("version", lit(0L)), treeDate).drop("version")

  /** [[treeExpand]] carrying per-row max receive-time `version`. */
  def treeExpandVersioned(pts: DataFrame,
                          treeDate: java.sql.Date = Dates.daysToDate(Dates.DefaultTreeDate)): DataFrame = {
    // tree cache keys are names WITHOUT a day component (tree.go:82-107)
    val series = pts
      .filter(!isTagged(col("path")))
      .groupBy(col("path"))
      .agg(max(col("version")).as("version"))
    val direct = series.select(
      lit(treeDate).as("date"),
      pathLevel(col("path")).as("level"),
      col("path"),
      col("version"))
    val prefixes = series
      .select(explode(treePrefixes(col("path"))).as("p"), col("version"))
      .select(lit(treeDate).as("date"), col("p.level").as("level"),
        col("p.prefix").as("path"), col("version"))
    direct.union(prefixes)
      .groupBy("date", "level", "path").agg(max("version").as("version"))
  }

  /**
   * Legacy `series` / `series-reverse` passthrough (uploader/series.go:
   * 28-87): one (date, level, path) row per new (day, plain path); the
   * reverse variant stores the segment-reversed path (level counted on
   * the unreversed name — identical by construction). No prefix rows.
   */
  def seriesExpand(pts: DataFrame, reverse: Boolean = false): DataFrame =
    seriesExpandVersioned(pts.withColumn("version", lit(0L)), reverse).drop("version")

  /** [[seriesExpand]] carrying per-row max receive-time `version`. */
  def seriesExpandVersioned(pts: DataFrame, reverse: Boolean = false): DataFrame = {
    val named = pts
      .filter(!isTagged(col("path")))
      .groupBy(col("date"), col("path"))
      .agg(max(col("version")).as("version"))
    named.select(
      col("date"),
      pathLevel(col("path")).as("level"),
      (if (reverse) pathReverse(col("path")) else col("path")).as("path"),
      col("version"))
  }

  /**
   * Tagged-table expansion: one row per Tag1 in {__name__=name} ∪ tags,
   * carrying the full unescaped tag list (uploader/tagged.go:121-182).
   * `ignoredMetrics` (or "*") suppresses the per-tag rows, leaving only
   * the __name__ row (README.md:172-183).
   */
  def taggedExpand(pts: DataFrame, ignoredMetrics: Set[String] = Set.empty): DataFrame =
    taggedExpandVersioned(pts.withColumn("version", lit(0L)), ignoredMetrics)
      .drop("version")

  /** [[taggedExpand]] carrying per-row max receive-time `version` (see
    * [[indexExpandVersioned]] for the rationale). */
  def taggedExpandVersioned(pts: DataFrame, ignoredMetrics: Set[String] = Set.empty): DataFrame = {
    val series = pts
      .filter(isTagged(col("path")))
      .groupBy(col("date"), col("path"))
      .agg(max(col("version")).as("version"))

    val parseUdf = udf { (path: String) =>
      GraphiteTags.parseTagged(path) match {
        case Right((name, nameTag, tags)) =>
          val all = nameTag +: tags
          val ignored = ignoredMetrics.contains(name) || ignoredMetrics.contains("*")
          val tag1s = if (ignored) Seq(nameTag) else all
          Some((tag1s, all))
        case Left(_) => None
      }
    }

    series
      .withColumn("_t", parseUdf(col("path")))
      .filter(col("_t").isNotNull)
      .select(col("date"), explode(col("_t._1")).as("tag1"), col("path"),
        col("_t._2").as("tags"), col("version"))
      // tags is functionally determined by path, so any value per group works;
      // the groupBy doubles as the per-chunk dedup.
      .groupBy("date", "tag1", "path")
      .agg(first(col("tags")).as("tags"), max("version").as("version"))
  }

  // ---------- query-side semantics (§2.4: ReplacingMergeTree / rollup) ----------

  /**
   * Last-write-wins read view over a ReplacingMergeTree-shaped table:
   * keep the row with max version per key set. Single-shuffle max_by.
   */
  def lwwLatest(df: DataFrame, keys: Seq[String], versionCol: String, valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.map(c => max_by(col(c), col(versionCol)).as(c)) :+ max(col(versionCol)).as(versionCol)
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * GraphiteMergeTree rollup view: first-matching regex picks the agg fn,
   * the row's age picks the precision bucket (rollup.xml semantics).
   * Implemented as a single pass: bucket time, then conditional aggregate.
   */
  def rollup(points: DataFrame, config: Rollup.Config, nowSec: Long): DataFrame = {
    // rule index per path — small rule list evaluated as a CASE chain
    def fnFor(rules: Seq[Rollup.Rule]): Column = {
      val base: Column = lit(config.default.fn.name)
      rules.foldRight(base) { (r, acc) =>
        when(col("path").rlike(r.pattern.regex), lit(r.fn.name)).otherwise(acc)
      }
    }
    // precision per row: age = now - time; walk retention of the matched rule.
    // The shipped config is single-retention, so precompute per-rule CASE.
    val precCase: Column = {
      val base: Column = {
        val r = config.default
        r.retention.foldLeft(lit(r.retention.head.precision): Column) { (acc, ret) =>
          when(lit(nowSec) - col("time") >= ret.age, lit(ret.precision)).otherwise(acc)
        }
      }
      config.rules.foldRight(base) { (r, acc) =>
        val inner = r.retention.foldLeft(lit(r.retention.head.precision): Column) { (a, ret) =>
          when(lit(nowSec) - col("time") >= ret.age, lit(ret.precision)).otherwise(a)
        }
        when(col("path").rlike(r.pattern.regex), inner).otherwise(acc)
      }
    }

    val fn = fnFor(config.rules)
    // Weight-aware re-aggregation: a `points` column carries per-row
    // sample counts (physically rolled rows, TableCompactor.rollupPoints);
    // absent or null means a raw sample with weight 1. avg over a bucket
    // mixing rolled and late raw rows is then the TRUE mean — an average
    // of averages weighted by their counts, not by 1. sum/min/max are
    // idempotent under re-aggregation and need no weighting. With all
    // weights 1, sum(v*1)/sum(1) is bit-identical to avg(v).
    val weighted =
      if (points.columns.contains("points"))
        points.withColumn("_w", coalesce(col("points").cast("long"), lit(1L)))
      else points.withColumn("_w", lit(1L))
    val bucketed = weighted
      .withColumn("_fn", fn)
      .withColumn("_prec", precCase)
      .withColumn("bucket", (col("time") - (col("time") % col("_prec"))))

    bucketed
      .groupBy(col("path"), col("bucket"), col("_fn"))
      .agg(
        (sum(col("value") * col("_w")) / sum(col("_w"))).as("_avg"),
        sum(col("value")).as("_sum"),
        min(col("value")).as("_min"),
        max(col("value")).as("_max"),
        sum(col("_w")).as("points"))
      .select(
        col("path"),
        col("bucket").as("time"),
        when(col("_fn") === "sum", col("_sum"))
          .when(col("_fn") === "min", col("_min"))
          .when(col("_fn") === "max", col("_max"))
          .otherwise(col("_avg")).as("value"),
        col("points"))
  }

  // ---------- find / lookup API (the ClickHouse index queries) ----------

  /** Prefix lookup over the daily index: `test.*` -> paths under test. */
  def findPrefix(index: DataFrame, prefix: String): DataFrame =
    index.filter(col("path").startsWith(prefix))

  /**
   * Suffix lookup routed to the REVERSE index: `*.sum` becomes a prefix
   * scan on reversed paths (README:157 reverse-table design) — prefix
   * predicates prune Parquet row groups; suffix predicates cannot.
   */
  def findSuffix(reverseIndex: DataFrame, suffix: String): DataFrame = {
    val revPrefix = GraphitePath.reverse(suffix.stripPrefix("."))
    reverseIndex
      .filter(col("path").startsWith(revPrefix + "."))
      .withColumn("path", pathReverse(col("path")))
  }

  /** Tag lookup over the tagged index: series where tag1 = `k=v`. */
  def findByTag(tagged: DataFrame, key: String, value: String): DataFrame =
    tagged.filter(col("tag1") === s"$key=$value")

  /**
   * Multi-matcher tag lookup — graphite's `seriesByTag('k1=v1','k2=v2')`
   * AND semantics. The FIRST matcher routes through the `tag1` index
   * entry (an equality on the tagged table's leading cluster key, so
   * row groups prune); the remaining matchers filter each row's full
   * Tags array. One scan, no join — the same execution shape
   * graphite-clickhouse uses (most selective tag picks the index entry,
   * the rest post-filter).
   */
  def findByTags(tagged: DataFrame, matchers: Seq[(String, String)]): DataFrame = {
    require(matchers.nonEmpty, "at least one tag matcher")
    val (k0, v0) = matchers.head
    matchers.tail.foldLeft(tagged.filter(col("tag1") === s"$k0=$v0")) {
      case (df, (k, v)) => df.filter(array_contains(col("tags"), s"$k=$v"))
    }
  }

  /**
   * Full graphite seriesByTag matcher grammar: specs like `env=prod`,
   * `zone!=u3`, `dc=~east.*`, `host!=~web\d+` (`=~` anchors at the
   * START of the value, graphite semantics; `!=` also matches series
   * LACKING the tag, like graphite). Routing: the first `=` spec rides
   * the tag1 cluster key; else the first `=~` rides tag1 as an anchored
   * regex; at least one positive matcher is required (same rule
   * graphite enforces) so a scan always has an index entry to route
   * through. Remaining specs filter the row's Tags array in the same
   * scan.
   */
  def findByTagSpecs(tagged: DataFrame, specs: Seq[String]): DataFrame = {
    // parse "k<op>v" with the longest op winning: !=~ before != ; =~ before =
    val parsed: Seq[(String, String, String)] = specs.map { s =>
      val ops = Seq("!=~", "=~", "!=", "=")
      val hit = ops.flatMap { op =>
        val i = s.indexOf(op)
        if (i > 0) Some((i, op)) else None
      }.sortBy { case (i, op) => (i, -op.length) }.headOption
      hit match {
        case Some((i, op)) => (s.substring(0, i), op, s.substring(i + op.length))
        case None => throw new IllegalArgumentException(s"bad tag spec: $s")
      }
    }
    def valueRegex(k: String, v: String) = s"^${java.util.regex.Pattern.quote(k)}=(?:$v)"
    def pred(k: String, op: String, v: String): Column = op match {
      case "="   => array_contains(col("tags"), s"$k=$v")
      case "!="  => !array_contains(col("tags"), s"$k=$v")
      case "=~"  => exists(col("tags"), t => t.rlike(valueRegex(k, v)))
      case "!=~" => !exists(col("tags"), t => t.rlike(valueRegex(k, v)))
    }
    val eqRoute = parsed.find(_._2 == "=")
    val reRoute = parsed.find(_._2 == "=~")
    require(eqRoute.isDefined || reRoute.isDefined,
      "seriesByTag needs at least one positive matcher (= or =~)")
    val (routed, rest) = eqRoute match {
      case Some(m @ (k, _, v)) =>
        (tagged.filter(col("tag1") === s"$k=$v"), parsed.filterNot(_ == m))
      case None =>
        val m @ (k, _, v) = reRoute.get
        (tagged.filter(col("tag1").rlike(valueRegex(k, v))), parsed.filterNot(_ == m))
    }
    rest.foldLeft(routed) { case (df, (k, op, v)) => df.filter(pred(k, op, v)) }
  }

  /**
   * Graphite glob -> anchored Java regex: `*` = one segment wildcard
   * (`[^.]*`), `?` = one char, `{a,b}` = alternation, `[...]` passes
   * through as a char class — the same pattern language the blacklist
   * trie accepts (uploader/filter.go) and graphite-web uses for find.
   *
   * Context-sensitive like graphite-web's translation: `,` means
   * alternation only INSIDE `{}` (a bare comma is a literal); `*`/`?`
   * and the other glob metas pass through verbatim inside a `[...]`
   * class; unbalanced `{`/`}` or an unclosed `[` is rejected rather
   * than emitting an uncompilable regex that throws at query time.
   */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var braces = 0  // `{}` nesting depth
    var inClass = false // inside `[...]`
    var i = 0
    while (i < glob.length) {
      val c = glob.charAt(i)
      if (inClass) {
        if (c == ']') inClass = false
        // regex metas a glob class should treat literally
        if (c == '\\' || c == '[') sb.append('\\')
        sb.append(c)
      } else c match {
        case '*' => sb.append("[^.]*")
        case '?' => sb.append("[^.]")
        case '{' => braces += 1; sb.append("(?:")
        case '}' =>
          require(braces > 0, s"unbalanced '}' in glob: $glob")
          braces -= 1; sb.append(')')
        case ',' => if (braces > 0) sb.append('|') else sb.append(',')
        case '[' => inClass = true; sb.append('[')
        case ']' => sb.append("\\]")
        case c2 if "\\.^$+()|".indexOf(c2.toInt) >= 0 => sb.append('\\').append(c2)
        case c2  => sb.append(c2)
      }
      i += 1
    }
    require(braces == 0, s"unbalanced '{' in glob: $glob")
    require(!inClass, s"unclosed '[' in glob: $glob")
    sb.append('$').toString
  }

  /**
   * Glob lookup over the index (graphite-web find): the longest literal
   * prefix before the first wildcard becomes a `startsWith` predicate —
   * prunable against the (path-sorted) parquet layout — and the full
   * glob matches as an anchored regex on the survivors.
   */
  def findGlob(index: DataFrame, glob: String): DataFrame = {
    val litPrefix = glob.takeWhile(c => "*?{[".indexOf(c.toInt) < 0)
    val base = if (litPrefix.nonEmpty) index.filter(col("path").startsWith(litPrefix)) else index
    base.filter(col("path").rlike(globToRegex(glob)))
  }

  // ---------- storage layout (§2.4 table semantics) ----------

  /**
   * Write a points-shaped table the way the reference's DDL demands:
   * monthly partitions (toYYYYMM) + (path, time) clustering inside files
   * so Catalyst prunes partitions and Parquet skips row groups.
   */
  def writePointsTable(df: DataFrame, path: String): Unit =
    df.withColumn("month", date_format(col("date"), "yyyyMM"))
      .repartition(col("month"))
      .sortWithinPartitions(col("path"), col("time"))
      .write.mode("overwrite")
      .partitionBy("month")
      .parquet(path)
}
