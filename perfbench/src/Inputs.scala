package perfbench

/**
 * Seeded workload inputs and the answers the benchmark expects for them.
 *
 * Everything here is computed from the generated names and points alone:
 * none of the program's parsing, glob, date or rollup code is used, so a
 * fault in the program cannot hide itself in its own oracle.
 */
object Inputs {

  final case class Point(seq: Int, wire: String, path: String, value: Double, time: Long)

  /** One generated series: `wire` is what a client sends, `path` the
    * canonical name the tables must hold. */
  final case class Series(wire: String, path: String, tags: Seq[(String, String)]) {
    def tagged: Boolean = tags.nonEmpty
    def name: String = wire.takeWhile(_ != ';')
  }

  sealed trait Read { def kind: String }
  final case class Find(glob: String, fromDay: Int, untilDay: Int, reverse: Boolean) extends Read {
    def kind = "find"
  }
  final case class Render(glob: String, fromSec: Long, untilSec: Long) extends Read { def kind = "render" }
  final case class ByTag(key: String, value: String) extends Read { def kind = "tags" }
  final case class TagValues(key: String) extends Read { def kind = "tags" }

  /** One StoreSync call: the round it belongs to, the points it carries
    * and the client connection that sends it. */
  final case class Call(round: Int, conn: Int, points: IndexedSeq[Point])

  /** `calls` is the backfill's StoreSync plan (empty for live, whose
    * generator sends `points` in order). */
  final case class Input(series: Seq[Series], points: IndexedSeq[Point], reads: Seq[Read], rounds: Int,
                         calls: Seq[Call] = Nil)

  val Day = 86400L
  /** Backfill history: five days across the January/February boundary. */
  val BackfillBase = java.time.LocalDate.of(2026, 1, 29).toEpochDay * Day
  val BackfillSpan = 5 * Day
  /** Live points carry a one-minute cadence from this fixed instant, so
    * the tables a live run leaves do not depend on the wall clock. */
  val LiveBase = java.time.LocalDate.of(2026, 2, 1).toEpochDay * Day
  /** The program's default tree-row date (1970-02-12). */
  val TreeDay = 42
  /** Render bucket: one hour, average; `.stuff0.` series take the max. */
  val RenderPrecision = 3600L
  def renderIsMax(path: String): Boolean = path.contains(".stuff0.")

  // Workload shapes (README "Inputs"). From the reference load generator
  // (receiver/grpc_sender/loadtest.go:70-101, as graft.tools.IngestLoadTest):
  // the metric names, one StoreSync call per (host, plugin) carrying one
  // point for each of its `Values` metrics, and worker `h % Connections`
  // sending host h's calls on its own connection. Chosen, with no source:
  // the host count, the tagged and churn series, the connection count
  // (IngestLoadTest's 8, capped at the box's 4 vCPUs) and the
  // live rate. The live rate is a constant of the benchmark: a rate
  // derived at run time would move with the machine. It sits below what
  // the stream drains on 2 cores, so live freshness does not grow with
  // the length of the run.
  val Hosts = 24; val Plugins = 8; val Values = 10
  val PointsPerCall = Values
  val Connections = 4
  val TaggedSeries = 480
  val ChurnPerRound = 96
  val LiveHosts = 8; val LiveTagged = 120
  val LiveRate = 2000 // points/s

  private def plain(h: Int, p: Int, v: Int) =
    s"loadtest.host$h.plugin$p.stuff$v.value"

  private def taggedSeries(i: Int): Series = {
    val tags = Seq("dc" -> s"dc${i % 3}", "env" -> (if (i % 4 == 0) "dev" else "prod"),
      "host" -> s"host${i % 40}")
    val name = s"tagged.metric${i / 40}"
    Series(s"$name;" + tags.map { case (k, v) => s"$k=$v" }.mkString(";"),
      s"$name?" + tags.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("&"), tags)
  }

  private def plainSeries(hosts: Int): Seq[Series] =
    for (h <- 0 until hosts; p <- 0 until Plugins; v <- 0 until Values)
      yield { val n = plain(h, p, v); Series(n, n, Nil) }

  /** A value that sums exactly in any order: a multiple of 1/4 below 2^15. */
  private def value(rnd: scala.util.Random): Double = rnd.nextInt(100000) / 4.0

  /** History replay: `rounds` rounds, each one point for every base series
    * plus one for each of that round's new (churn) series, at a seeded
    * offset inside the round's slice of the five-day span. A round is sent
    * as the reference loadtest sends one: a call per (host, plugin) with
    * its `Values` metrics on connection `host % Connections`, then the
    * tagged and churn series in calls of the same size, dealt round-robin. */
  def backfill(seed: Long, rounds: Int): Input = {
    val rnd = new scala.util.Random(seed)
    val tagged = (0 until TaggedSeries).map(taggedSeries)
    val step = BackfillSpan / rounds
    val calls = Vector.newBuilder[Call]
    val all = Seq.newBuilder[Series] ++= plainSeries(Hosts) ++= tagged
    var seq = 0
    for (r <- 0 until rounds) {
      def call(conn: Int, ss: Seq[Series]) = Call(r, conn, ss.toIndexedSeq.map { s =>
        seq += 1
        Point(seq - 1, s.wire, s.path, value(rnd), BackfillBase + r * step + rnd.nextLong(step))
      })
      val churn = (0 until ChurnPerRound).map { i =>
        val n = s"churn.round$r.plugin${i % Plugins}.stuff${i / Plugins}.value"; Series(n, n, Nil)
      }
      all ++= churn
      for (h <- 0 until Hosts; p <- 0 until Plugins)
        calls += call(h % Connections, (0 until Values).map { v => val n = plain(h, p, v); Series(n, n, Nil) })
      for ((ss, i) <- (tagged.grouped(PointsPerCall) ++ churn.grouped(PointsPerCall)).zipWithIndex)
        calls += call(i % Connections, ss)
    }
    val cs = calls.result()
    val reads = readPlan(rnd, Hosts, BackfillBase, BackfillSpan)
    Input(all.result(), cs.flatMap(_.points), reads, rounds, cs)
  }

  /** Live feed: `rounds` rounds over a fixed series set, one point per
    * series per round at a one-minute cadence. */
  def live(seed: Long, rounds: Int): Input = {
    val rnd = new scala.util.Random(seed)
    val series = plainSeries(LiveHosts) ++ (0 until LiveTagged).map(taggedSeries)
    val pts = IndexedSeq.newBuilder[Point]
    var seq = 0
    for (r <- 0 until rounds; s <- rnd.shuffle(series)) {
      pts += Point(seq, s.wire, s.path, value(rnd), LiveBase + r * 60L + rnd.nextInt(60))
      seq += 1
    }
    val reads = readPlan(rnd, LiveHosts, LiveBase, rounds * 60L)
    Input(series, pts.result(), reads, rounds)
  }

  /** Read rounds of a fixed shape: a forward- and a reverse-routed find,
    * two renders and two tag calls per round. Eight rounds give every
    * kind's p50 sixteen samples. */
  val ReadRounds = 8

  private def readPlan(rnd: scala.util.Random, hosts: Int, base: Long, span: Long): Seq[Read] = {
    val firstDay = (base / Day).toInt
    val lastDay = ((base + span - 1) / Day).toInt
    (0 until ReadRounds).flatMap { _ =>
      val h = rnd.nextInt(hosts); val p = rnd.nextInt(Plugins); val v = rnd.nextInt(Values)
      val d0 = firstDay + rnd.nextInt(lastDay - firstDay + 1)
      val d1 = math.min(lastDay, d0 + 1)
      def render(host: Int) = {
        val from = base + rnd.nextLong(math.max(1L, span - Day))
        Render(s"loadtest.host$host.plugin${rnd.nextInt(Plugins)}.*.value", from, from + math.min(Day, span))
      }
      Seq(
        Find(s"loadtest.host$h.plugin{$p,${(p + 1) % Plugins}}.*.value", d0, d1, reverse = false),
        Find(s"*.host$h.plugin$p.stuff$v.value", d0, d1, reverse = true),
        render(h), render(rnd.nextInt(hosts)),
        ByTag("host", s"host${rnd.nextInt(40)}"),
        TagValues(Seq("dc", "env", "host")(rnd.nextInt(3))))
    }
  }

  // ---------------- expected answers ----------------

  /** Graphite glob -> anchored regex, written apart from the program's:
    * `*` and `?` stay inside one dot segment, `{a,b}` alternates. */
  def globRegex(glob: String): java.util.regex.Pattern = {
    val sb = new StringBuilder("^")
    var inBrace = false
    glob.foreach {
      case '*' => sb ++= "[^.]*"
      case '?' => sb ++= "[^.]"
      case '{' => inBrace = true; sb ++= "(?:"
      case '}' => inBrace = false; sb += ')'
      case ',' if inBrace => sb += '|'
      case c => sb ++= java.util.regex.Pattern.quote(c.toString)
    }
    java.util.regex.Pattern.compile(sb.append('$').toString)
  }

  def reversePath(p: String): String = p.split("\\.", -1).reverse.mkString(".")
  def day(t: Long): Int = Math.floorDiv(t, Day).toInt

  final case class PathAgg(count: Long, sum: Double, distinctTimes: Long)

  /** Per-path point count and value sum, keyed by the name the forward
    * (or, with `reverse`, the reverse) points table stores. */
  def pointsAgg(pts: Seq[Point], reverse: Boolean): Map[String, PathAgg] =
    pts.groupBy(p => if (reverse && !p.path.contains('?')) reversePath(p.path) else p.path)
      .map { case (k, ps) => k -> PathAgg(ps.size.toLong, ps.map(_.value).sum, ps.map(_.time).distinct.size.toLong) }

  /** (day, level, path) keys of the index: daily direct and reversed rows
    * per (day, series), tree rows and ancestor prefixes at the tree date. */
  def indexKeys(pts: Seq[Point]): Set[(Int, Long, String)] = {
    val plainDays = pts.filter(!_.path.contains('?')).map(p => (day(p.time), p.path)).distinct
    val daily = plainDays.flatMap { case (d, path) =>
      val lvl = path.count(_ == '.') + 1L
      Seq((d, lvl, path), (d, lvl + 10000, reversePath(path)))
    }
    val tree = plainDays.map(_._2).distinct.flatMap { path =>
      val parts = path.split("\\.", -1)
      val lvl = parts.length.toLong
      Seq((TreeDay, lvl + 20000, path), (TreeDay, lvl + 30000, reversePath(path))) ++
        (1 until parts.length).map(i => (TreeDay, i + 20000L, parts.take(i).mkString(".") + "."))
    }
    (daily ++ tree).toSet
  }

  /** (day, tag1, path) keys of the tagged table: `__name__=<name>` and
    * every `key=value` for each (day, tagged series). */
  def taggedKeys(series: Seq[Series], pts: Seq[Point]): Set[(Int, String, String)] = {
    val byPath = series.filter(_.tagged).map(s => s.path -> s).toMap
    pts.filter(_.path.contains('?')).map(p => (day(p.time), p.path)).distinct.flatMap { case (d, path) =>
      val s = byPath(path)
      (s"__name__=${s.name}" +: s.tags.map { case (k, v) => s"$k=$v" }).map(t => (d, t, path))
    }.toSet
  }

  /** Expected answer of one read, as a sorted list of rendered rows. */
  def answer(read: Read, series: Seq[Series], pts: Seq[Point]): Seq[String] = read match {
    case Find(glob, d0, d1, _) =>
      val re = globRegex(glob)
      pts.filter(p => !p.path.contains('?') && day(p.time) >= d0 && day(p.time) <= d1 &&
        re.matcher(p.path).matches()).map(_.path).distinct.sorted
    case Render(glob, from, until) =>
      val re = globRegex(glob)
      pts.filter(p => !p.path.contains('?') && p.time >= from && p.time < until && re.matcher(p.path).matches())
        .groupBy(p => (p.path, p.time - p.time % RenderPrecision)).toSeq
        .map { case ((path, bucket), ps) =>
          val v = if (renderIsMax(path)) ps.map(_.value).max else ps.map(_.value).sum / ps.size
          renderRow(path, bucket, v, ps.size.toLong)
        }.sorted
    case ByTag(k, v) =>
      val present = pts.map(_.path).toSet
      series.filter(s => s.tags.contains(k -> v) && present(s.path)).map(_.path).distinct.sorted
    case TagValues(k) =>
      val present = pts.map(_.path).toSet
      series.filter(s => present(s.path)).flatMap(_.tags.collect { case (`k`, v) => v }).distinct.sorted
  }

  /** Render rows compare at 1e-6 precision: the program averages in a
    * different order than this oracle. */
  def renderRow(path: String, bucket: Long, value: Double, points: Long): String =
    f"$path|$bucket|$value%.6f|$points"
}
